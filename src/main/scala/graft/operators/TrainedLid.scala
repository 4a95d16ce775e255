package graft.operators

import graft.core.PerRow
import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained language identification — the model-backed path the reference
  * gets from fastText's lid.176.bin (reference: src/llm_data_pipeline/
  * quality/model.py:267-340), re-expressed as an artifact this
  * zero-egress build can TRAIN ITSELF from a labeled corpus: multinomial
  * Naive Bayes over hashed character n-grams (the same feature family
  * fastText's LID uses).
  *
  *  - '''Train''' (distributed, one shuffle): explode each labeled doc's
  *    distinct n-gram hashes through the codegen'd
  *    [[graft.functions.CharShingleHashes]] projection, bucket them
  *    (`pmod(hash, buckets)`), count per (lang, bucket). Counts are
  *    exact aggregates, so the model is bit-identical under any
  *    partitioning / core count. Laplace-smoothed log-likelihoods and
  *    log-priors are assembled driver-side (langs × buckets doubles —
  *    KBs to MBs, independent of corpus size).
  *  - '''Artifact''': one parquet row per language (lang, prior,
  *    weights[buckets]) — the deployment seam: ship a differently
  *    trained artifact and `loadModel` picks it up with no code change.
  *  - '''Predict''' (zero shuffle): gram hashing stays a codegen'd
  *    column expression; scoring is a tight loop over the broadcast
  *    weight matrix in a Scala UDF, appended once per row through
  *    [[graft.core.PerRow]] (R4/P7). Ties break to the
  *    alphabetically-first language; score sums run in the doc's gram
  *    order, so predictions are partitioning-invariant too.
  */
object TrainedLid {

  /** Wordlists for the deterministic 8-language labeled fixture (shared
    * by the d20 gate query and the bench accuracy report). The corpus's
    * own `lang` column is random metadata over English-ish synthetic
    * text — no learnable signal — so labeled text is SYNTHESIZED from
    * doc_id instead (same approach as d19's dup-line fixture). */
  val FixtureWordLists: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "haben", "dies", "von"),
    "en" -> Seq("the", "and", "of", "is", "that", "with", "for", "have", "this", "from"),
    "es" -> Seq("el", "los", "las", "es", "una", "que", "para", "tener", "este", "cada"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "avoir", "ce", "chaque"),
    "it" -> Seq("il", "della", "che", "per", "con", "sono", "come", "anche", "alla", "questo"),
    "nl" -> Seq("het", "een", "van", "niet", "zijn", "voor", "ook", "maar", "naar", "deze"),
    "pt" -> Seq("como", "mais", "dos", "ele", "isso", "muito", "sem", "pela", "seus", "onde"),
    "sv" -> Seq("och", "att", "som", "detta", "vilket", "inte", "har", "den", "efter", "mellan"))

  /** 48-language wordlists for the committed wide-coverage artifact —
    * the [[FixtureWordLists]] Latin-script eight plus forty more
    * spanning the script families a crawl corpus actually contains:
    * CJK (zh/ja/ko), Cyrillic (ru/uk/bg), Greek, Arabic-script (ar/fa),
    * Hebrew, Indic (hi/bn/ta/te), Thai, Georgian, Armenian, and wider
    * Latin (tr/pl/cs/ro/hu/fi/da/no/vi/id/sw/et/lt/lv/tl). Each list is
    * ten high-frequency function/content words of that language (public
    * common-vocabulary knowledge, same construction as the eight-lang
    * fixture). Near-form relatives are kept deliberately — Scandinavian
    * (da "efter"/"mellem" vs sv "efter"/"mellan", no "etter"/"mellom"),
    * Finnic (fi "aika"/"työ" vs et "aeg"/"töö"), Baltic (lt/lv) — the
    * committed model should have a REAL confusion surface among close
    * relatives, like the cognate gate (d25), not a toy-separable one. */
  val WideFixtureWordLists: Seq[(String, Seq[String])] = FixtureWordLists ++ Seq(
    "ar" -> Seq("في", "من", "على", "هذا", "التي", "كان", "أن", "مع", "عن", "الوقت"),
    "cs" -> Seq("jsem", "být", "člověk", "práce", "čas", "škola", "město", "dnes", "protože", "děkuji"),
    "da" -> Seq("og", "at", "som", "det", "ikke", "har", "den", "efter", "mellem", "være"),
    "el" -> Seq("και", "το", "να", "είναι", "αυτό", "χρόνος", "άνθρωπος", "εργασία", "επειδή", "ευχαριστώ"),
    "fi" -> Seq("ja", "on", "ei", "että", "mutta", "aika", "ihminen", "työ", "koulu", "kiitos"),
    "he" -> Seq("של", "את", "על", "זה", "לא", "עם", "היה", "אני", "הוא", "זמן"),
    "hu" -> Seq("és", "hogy", "nem", "van", "de", "idő", "ember", "munka", "iskola", "köszönöm"),
    "ja" -> Seq("の", "です", "ます", "こと", "これ", "ありがとう", "日本", "時間", "仕事", "学校"),
    "ko" -> Seq("그리고", "하지만", "사람", "시간", "한국", "학교", "감사합니다", "우리", "때문에", "오늘"),
    "no" -> Seq("og", "ikke", "være", "etter", "mellom", "arbeid", "tid", "menneske", "skole", "takk"),
    "pl" -> Seq("jest", "nie", "się", "człowiek", "praca", "czas", "szkoła", "dzisiaj", "ponieważ", "dziękuję"),
    "ro" -> Seq("și", "este", "nu", "pentru", "timp", "om", "muncă", "școală", "astăzi", "mulțumesc"),
    "ru" -> Seq("и", "в", "не", "что", "это", "как", "время", "работа", "человек", "потому"),
    "tr" -> Seq("ve", "bir", "bu", "için", "zaman", "insan", "çalışma", "okul", "bugün", "teşekkür"),
    "uk" -> Seq("і", "що", "це", "як", "час", "робота", "людина", "тому", "але", "дуже"),
    "zh" -> Seq("的", "是", "不", "我们", "这个", "因为", "所以", "中国", "时间", "工作"),
    "bg" -> Seq("това", "като", "съм", "ще", "защото", "училище", "държава", "книга", "днес", "благодаря"),
    "bn" -> Seq("এবং", "আছে", "না", "সময়", "মানুষ", "কাজ", "বিদ্যালয়", "আজ", "কারণ", "ধন্যবাদ"),
    "et" -> Seq("ja", "ei", "aeg", "inimene", "töö", "kool", "täna", "sest", "aitäh", "mina"),
    "fa" -> Seq("از", "که", "را", "این", "با", "برای", "زمان", "کار", "مدرسه", "متشکرم"),
    "hi" -> Seq("और", "है", "नहीं", "समय", "आदमी", "काम", "स्कूल", "आज", "क्योंकि", "धन्यवाद"),
    "hy" -> Seq("և", "է", "ոչ", "ժամանակ", "մարդ", "աշխատանք", "դպրոց", "այսօր", "որովհետև", "շնորհակալություն"),
    "id" -> Seq("dan", "tidak", "orang", "waktu", "kerja", "sekolah", "hari", "karena", "terima", "kasih"),
    "ka" -> Seq("და", "არის", "არა", "დრო", "ადამიანი", "სამუშაო", "სკოლა", "დღეს", "იმიტომ", "მადლობა"),
    "lt" -> Seq("ir", "yra", "ne", "laikas", "žmogus", "darbas", "mokykla", "šiandien", "nes", "ačiū"),
    "lv" -> Seq("un", "nav", "bet", "laiks", "cilvēks", "darbs", "skola", "šodien", "jo", "paldies"),
    "sw" -> Seq("na", "si", "watu", "wakati", "kazi", "shule", "leo", "kwa", "sababu", "asante"),
    "ta" -> Seq("மற்றும்", "இல்லை", "நேரம்", "மனிதன்", "வேலை", "பள்ளி", "இன்று", "ஏனெனில்", "நன்றி", "நான்"),
    "te" -> Seq("మరియు", "లేదు", "సమయం", "మనిషి", "పని", "పాఠశాల", "ఈరోజు", "ఎందుకంటే", "ధన్యవాదాలు", "నేను"),
    "th" -> Seq("และ", "ไม่", "เวลา", "คน", "งาน", "โรงเรียน", "วันนี้", "เพราะ", "ขอบคุณ", "ฉัน"),
    "tl" -> Seq("ang", "hindi", "oras", "tao", "trabaho", "paaralan", "ngayon", "dahil", "salamat", "ako"),
    "vi" -> Seq("và", "không", "người", "được", "của", "cũng", "trường", "bởi", "hôm", "cảm"),
    // round-7 widen to 48: more deliberate near-form surfaces —
    // sk/cs share "čas"/"škola", sl/hr share "je"/"ne"/"hvala",
    // sr/ru share "и"/"не" (and sr is hr's Cyrillic mirror), mr/ur
    // share scripts with hi/ar+fa while their word lists stay
    // disjoint, ms is id's closest relative (lists kept literally
    // disjoint so the synth fixture stays decidable), ca sits next
    // to es/fr
    "ca" -> Seq("i", "és", "no", "temps", "persona", "treball", "escola", "avui", "perquè", "gràcies"),
    "hr" -> Seq("i", "je", "ne", "čovjek", "vrijeme", "rad", "škola", "danas", "jer", "hvala"),
    "mr" -> Seq("आणि", "आहे", "नाही", "वेळ", "माणूस", "पुस्तक", "शाळा", "उद्या", "कारण", "आभार"),
    "ms" -> Seq("kerana", "masa", "boleh", "sahaja", "sudah", "macam", "pula", "awak", "saya", "mereka"),
    "sk" -> Seq("som", "nie", "človek", "práca", "čas", "škola", "mesto", "dnes", "pretože", "ďakujem"),
    "sl" -> Seq("in", "je", "ne", "čas", "človek", "delo", "šola", "danes", "ker", "hvala"),
    "sr" -> Seq("и", "је", "не", "човек", "време", "рад", "школа", "данас", "јер", "хвала"),
    "ur" -> Seq("اور", "ہے", "نہیں", "وقت", "آدمی", "کام", "اسکول", "آج", "کیونکہ", "شکریہ"))

  /** Repo location of the committed wide-coverage LID artifact (written
    * by [[trainWideArtifact]] / `graft.tools.TrainLidArtifact`). */
  val DefaultArtifactDir = "fixtures/models/lid48"

  /** The committed artifact's path when present under the current
    * working directory (the sbt/driver convention) — QualityStep's
    * default model route, mirroring the reference's bundled lid.176.bin
    * (reference: src/llm_data_pipeline/quality/model.py:267-340). */
  def defaultArtifactPath: Option[String] = {
    val f = new java.io.File(DefaultArtifactDir)
    if (f.isDirectory) Some(f.getAbsolutePath) else None
  }

  /** Train the wide artifact on a deterministic synthesized corpus —
    * `docsPerLang` docs per language drawn from
    * [[WideFixtureWordLists]] via the [[synthFixture]] hash draw, so
    * the artifact is reproducible bit-for-bit from the repo alone (no
    * external corpus at zero egress). 2^12 hash buckets: 48 langs ×
    * 4096 doubles ≈ 1.5 MB raw, and distinct scripts separate at far
    * coarser resolution than that. */
  def trainWideArtifact(spark: SparkSession, path: String,
                        docsPerLang: Int = 200): LidModel = {
    import spark.implicits._
    val n = WideFixtureWordLists.length * docsPerLang
    val ids = (0L until n.toLong).toDF("doc_id")
    val synth = synthFixture(ids, wordLists = WideFixtureWordLists, salt = "wide")
    val m = train(synth, "lang", "text", buckets = 1 << 12)
    writeModel(spark, path, m)
    m
  }

  /** Stopword-FREE per-language content vocabulary for the hard
    * evaluation fixture: none of these words is in any
    * `TextAnalysis.LangStopwords` list, so the stopword heuristic scores
    * zero evidence ("und") on every doc while the char-3gram model still
    * has orthographic signal. This is the fixture that separates the
    * two labelers — on [[FixtureWordLists]] both are trivially perfect. */
  val HardFixtureWordLists: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("geschwindigkeit", "wissenschaft", "krankenhaus", "bibliothek",
      "zeitung", "flughafen", "schmetterling", "grundgesetz", "eigenschaft",
      "verantwortung"),
    "en" -> Seq("knowledge", "butterfly", "hospital", "library", "newspaper",
      "airport", "constitution", "property", "responsibility", "science"),
    "es" -> Seq("conocimiento", "mariposa", "hospital", "periodico",
      "aeropuerto", "constitucion", "propiedad", "responsabilidad",
      "ciencia", "velocidad"),
    "fr" -> Seq("connaissance", "papillon", "bibliotheque", "journal",
      "aeroport", "constitution", "propriete", "responsabilite",
      "science", "vitesse"),
    "it" -> Seq("conoscenza", "farfalla", "biblioteca", "giornale",
      "aeroporto", "costituzione", "proprieta", "responsabilita",
      "scienza", "velocita"),
    "nl" -> Seq("kennis", "vlinder", "ziekenhuis", "bibliotheek", "krant",
      "vliegveld", "grondwet", "eigenschap", "verantwoordelijkheid",
      "wetenschap"),
    "pt" -> Seq("conhecimento", "borboleta", "biblioteca", "jornal",
      "aeroporto", "constituicao", "propriedade", "responsabilidade",
      "ciencia", "velocidade"),
    "sv" -> Seq("kunskap", "fjaril", "sjukhus", "bibliotek", "tidning",
      "flygplats", "grundlag", "egenskap", "ansvar", "vetenskap"))

  /** (doc_id) → (doc_id, lang, text): each doc's language is
    * doc_id % |wordLists| and its text draws 30 words from that
    * language's wordlist via xxhash64(doc_id, salt, position). Pure
    * Column expressions — exact and partitioning-invariant, so gate
    * oracles over the fixture can pin constants. */
  def synthFixture(ids: DataFrame, idCol: String = "doc_id",
                   wordLists: Seq[(String, Seq[String])] = FixtureWordLists,
                   salt: String = "w", wordsPerDoc: Int = 30): DataFrame = {
    val langArr = array(wordLists.map(w => lit(w._1)): _*)
    val langTrue = element_at(langArr,
      (pmod(col(idCol), lit(wordLists.length)) + 1).cast("int"))
    def textFor(words: Seq[String]) = concat_ws(" ",
      transform(sequence(lit(1), lit(wordsPerDoc)), i => element_at(
        array(words.map(lit): _*),
        (pmod(xxhash64(concat(col(idCol).cast("string"), lit(salt), i.cast("string"))),
          lit(words.length)) + 1).cast("int"))))
    val synthText = wordLists.foldRight(lit(""): org.apache.spark.sql.Column) {
      case ((lang, ws), els) => when(langTrue === lang, textFor(ws)).otherwise(els)
    }
    ids.select(col(idCol), langTrue.as("lang"), synthText.as("text"))
  }

  /** Cognate stress fixture: three Romance languages whose 10-word
    * vocabularies share 7 identical "cognate" words — only 3 words per
    * language are distinctive. Drawn at 8 words/doc, ~0.7^8 ≈ 5.8% of
    * docs contain NO distinctive word at all, so the trained model's
    * confusion matrix has a real off-diagonal: those all-shared docs
    * are decided by the (deterministic, exact-count) training weight
    * asymmetries, not by evidence. The d25 gate pins that structure —
    * a measured, reproducible error surface rather than a trivially
    * perfect diagonal. */
  val CognateFixtureWordLists: Seq[(String, Seq[String])] = {
    val shared = Seq("hospital", "animal", "central", "general", "idea",
      "natural", "regional")
    Seq(
      "es" -> (shared ++ Seq("ciudad", "trabajo", "izquierda")),
      "it" -> (shared ++ Seq("citta", "lavoro", "sinistra")),
      "pt" -> (shared ++ Seq("cidade", "trabalho", "esquerda")))
  }

  /** Danish wordlist for the unseen-language holdout: NOT in
    * [[FixtureWordLists]], so a model trained on the 8 fixture languages
    * has never seen the label. Danish shares "som"/"har"/"den"/"efter"
    * and near-forms ("mellem"/"mellan", "at"/"att") with Swedish, so the
    * expected nearest-trained-language behavior is `da -> sv`. */
  val HoldoutWordList: (String, Seq[String]) =
    "da" -> Seq("og", "at", "som", "det", "ikke", "har", "den", "efter",
      "mellem", "være")

  /** (doc_id) → (doc_id, lang="da", text): holdout docs synthesized the
    * same way as [[synthFixture]] but from the unseen-language wordlist
    * and a distinct hash salt (so holdout texts are not positionally
    * correlated with any training doc). */
  def synthHoldout(ids: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val (lang, words) = HoldoutWordList
    val text = concat_ws(" ",
      transform(sequence(lit(1), lit(30)), i => element_at(
        array(words.map(lit): _*),
        (pmod(xxhash64(concat(col(idCol).cast("string"), lit("h"), i.cast("string"))),
          lit(words.length)) + 1).cast("int"))))
    ids.select(col(idCol), lit(lang).as("lang"), text.as("text"))
  }

  /** langs sorted ascending; weights(li)(bucket) = smoothed log P(b|l). */
  case class LidModel(langs: Array[String], priors: Array[Double],
                      weights: Array[Array[Double]], buckets: Int,
                      ngram: Int) extends Serializable

  def train(df: DataFrame, langCol: String, textCol: String,
            buckets: Int = 1 << 14, ngram: Int = 3,
            alpha: Double = 0.5): LidModel = {
    val grams = df.select(col(langCol).as("lang"),
        explode(HashFunctions.charShingleHashes(
          TextFunctions.normalizeForDedup(col(textCol)), ngram)).as("g"))
      .select(col("lang"), pmod(col("g"), lit(buckets.toLong)).cast("int").as("b"))
    val counts = grams.groupBy("lang", "b").agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val docCounts = df.groupBy(col(langCol).as("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val langs = docCounts.keys.toArray.sorted
    val idx = langs.zipWithIndex.toMap
    val totals = new Array[Double](langs.length)
    counts.foreach { case (l, _, c) => totals(idx(l)) += c.toDouble }
    val nDocs = docCounts.values.sum.toDouble
    val priors = langs.map(l => math.log(docCounts(l) / nDocs))
    val weights = langs.map { l =>
      val denom = math.log(totals(idx(l)) + alpha * buckets)
      Array.fill(buckets)(math.log(alpha) - denom) // unseen-bucket smoothing
    }
    counts.foreach { case (l, b, c) =>
      weights(idx(l))(b) = math.log(c + alpha) -
        math.log(totals(idx(l)) + alpha * buckets)
    }
    LidModel(langs, priors, weights, buckets, ngram)
  }

  /** Persist the model as one parquet row per language. */
  def writeModel(spark: SparkSession, path: String, m: LidModel): Unit = {
    import spark.implicits._
    m.langs.indices.map(i => (m.langs(i), m.priors(i), m.weights(i).toSeq,
        m.buckets, m.ngram))
      .toDF("lang", "prior", "weights", "buckets", "ngram")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadModel(spark: SparkSession, path: String): LidModel = {
    val rows = spark.read.parquet(path)
      .select("lang", "prior", "weights", "buckets", "ngram")
      .collect().sortBy(_.getString(0))
    LidModel(rows.map(_.getString(0)), rows.map(_.getDouble(1)),
      rows.map(_.getSeq[Double](2).toArray),
      rows.head.getInt(3), rows.head.getInt(4))
  }

  /** The argmax language of each row's text, as a column: a Scala UDF
    * over the broadcast weight matrix, fed by the codegen'd gram hashes.
    * NULL text yields a NULL label (mirroring the heuristic labeler's
    * null propagation, so a downstream lang filter drops the row either
    * way instead of the model path crashing the job). */
  def label(text: Column, model: LidModel): Column = {
    val bc = SparkSession.active.sparkContext.broadcast(model)
    val argmax = udf { (grams: Array[Long]) =>
      if (grams == null) null
      else {
        val m = bc.value
        val b = m.buckets
        var bestIdx = 0
        var bestScore = Double.NegativeInfinity
        var li = 0
        while (li < m.langs.length) {
          var s = m.priors(li)
          val w = m.weights(li)
          var gi = 0
          while (gi < grams.length) {
            s += w((((grams(gi) % b) + b) % b).toInt) // same pmod as training
            gi += 1
          }
          if (s > bestScore) { bestScore = s; bestIdx = li } // first max wins
          li += 1
        }
        m.langs(bestIdx)
      }
    }
    argmax(HashFunctions.charShingleHashes(TextFunctions.normalizeForDedup(text), model.ngram))
  }

  /** `df` plus `outCol`, the [[label]] of `textCol`, appended through
    * [[PerRow.append]]. */
  def predict(df: DataFrame, textCol: String, model: LidModel,
              outCol: String = "lang_pred_model"): DataFrame =
    PerRow.append(df, Seq(outCol), struct(label(col(textCol), model)))
}

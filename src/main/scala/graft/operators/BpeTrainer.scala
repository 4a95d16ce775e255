package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Byte-pair-encoding tokenizer: distributed corpus statistics + the
  * standard in-memory merge loop.
  *
  * This is the real BPE training structure (as in SentencePiece/GPT-2
  * BPE, both public): the corpus-sized work — word frequency counting —
  * is a distributed groupBy; the merge loop then runs over the *word
  * frequency table* (≤ a few hundred thousand rows), which is how
  * production trainers work too — no per-merge corpus rescan. Replaces
  * the reference's native SentencePiece training
  * (reference: src/llm_data_pipeline/tokenizer/train.py:90-264) with a
  * self-contained JVM implementation honoring the same id convention
  * (unk=0, bos=1, eos=2, pad=3; reference: tokenizer/train.py:111-134).
  */
object BpeTrainer {

  val UnkId = 0; val BosId = 1; val EosId = 2; val PadId = 3
  /** Byte-fallback tokens <0x00>..<0xFF> occupy ids 4..259 (SentencePiece
    * byte_fallback convention, reference: tokenizer/train.py:111-134):
    * any character outside the trained alphabet encodes as its UTF-8
    * bytes, so NO input ever maps to unk. */
  val ByteIdBase = 4
  val FirstSymbolId: Int = ByteIdBase + 256
  private val EndOfWord = "</w>"

  /** Split into per-code-point strings (NOT UTF-16 chars: a surrogate
    * pair like an emoji must stay one symbol or byte fallback would
    * UTF-8-encode lone surrogates as replacement chars). */
  private def codePointSymbols(word: String): Vector[String] =
    word.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp)))

  case class BpeModel(merges: Seq[(String, String)], vocab: Map[String, Int])
      extends Serializable {
    @transient private lazy val mergeRank: Map[(String, String), Int] =
      merges.zipWithIndex.toMap
    @transient private lazy val idToSymbol: Map[Int, String] =
      vocab.map(_.swap)

    /** Greedy standard BPE encode of one word: start from characters
      * (+ end-of-word marker), repeatedly apply the lowest-rank merge.
      * Symbols absent from the vocab fall back to their UTF-8 bytes —
      * never unk. */
    def encodeWord(word: String): Seq[Int] = {
      if (word.isEmpty) return Seq.empty
      var parts: Vector[String] = codePointSymbols(word) :+ EndOfWord
      var done = false
      while (!done && parts.length > 1) {
        var bestRank = Int.MaxValue
        var bestIdx = -1
        var i = 0
        while (i < parts.length - 1) {
          mergeRank.get((parts(i), parts(i + 1))).foreach { r =>
            if (r < bestRank) { bestRank = r; bestIdx = i }
          }
          i += 1
        }
        if (bestIdx < 0) done = true
        else parts = (parts.take(bestIdx) :+ (parts(bestIdx) + parts(bestIdx + 1))) ++
          parts.drop(bestIdx + 2)
      }
      parts.flatMap { p =>
        vocab.get(p) match {
          case Some(id) => Seq(id)
          case None => p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            .toSeq.map(b => ByteIdBase + (b & 0xff))
        }
      }
    }

    /** Inverse of [[encodeText]]: symbols concatenate, byte-fallback runs
      * UTF-8-decode, end-of-word markers become spaces. Lossless for any
      * input (the roundtrip gate asserts decode(encode(t)) == t). */
    def decode(ids: Seq[Int]): String = {
      val sb = new StringBuilder
      val bytes = new scala.collection.mutable.ArrayBuffer[Byte]()
      def flushBytes(): Unit = if (bytes.nonEmpty) {
        sb.append(new String(bytes.toArray, java.nio.charset.StandardCharsets.UTF_8))
        bytes.clear()
      }
      ids.foreach { id =>
        if (id >= ByteIdBase && id < FirstSymbolId) bytes += (id - ByteIdBase).toByte
        else {
          flushBytes()
          val sym = idToSymbol.getOrElse(id, "")
          if (sym.endsWith(EndOfWord))
            sb.append(sym.dropRight(EndOfWord.length)).append(' ')
          else if (sym == "<unk>" || sym == "<bos>" || sym == "<eos>" || sym == "<pad>") ()
          else sb.append(sym)
        }
      }
      flushBytes()
      sb.toString.stripSuffix(" ")
    }

    @transient private lazy val wordCache =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Int]]()

    /** Memoized per-word encode — real tokenizers cache word→ids since
      * natural corpora repeat words heavily (Zipf). Unboxed ids: the
      * cache-hit path is the hot loop of every tokenize job, so it must
      * not re-box a Seq per occurrence. Callers never mutate the array. */
    private def encodeWordIds(word: String): Array[Int] = {
      val hit = wordCache.get(word)
      if (hit != null) hit
      else {
        val ids = encodeWord(word).toArray
        if (wordCache.size < 1000000) wordCache.put(word, ids)
        ids
      }
    }

    /** Identical output to
      * `text.split("\\s+").iterator.filter(_.nonEmpty).flatMap(encodeWord).toArray`
      * (pinned in BpeTrainerSpec): splitWsRuns is the same token stream
      * without the per-call regex, and the two-pass arraycopy fill is
      * the same concatenation without boxing. */
    def encodeText(text: String): Array[Int] = {
      val words = TextFunctions.splitWsRuns(text)
      val parts = new Array[Array[Int]](words.length)
      var total = 0
      var i = 0
      while (i < words.length) {
        val p = encodeWordIds(words(i)); parts(i) = p; total += p.length; i += 1
      }
      val out = new Array[Int](total)
      var o = 0
      i = 0
      while (i < words.length) {
        val p = parts(i); System.arraycopy(p, 0, out, o, p.length); o += p.length; i += 1
      }
      out
    }
  }

  /** Apply one merge to a symbol sequence, greedy left-to-right. */
  private def applyMerge(syms: Array[String], a: String, b: String): Array[String] = {
    val merged = a + b
    val out = mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
        out += merged; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** The merge loop over a word-frequency table (pure, driver-side —
    * the table is small by construction).
    *
    * Incremental, like production trainers: pair counts live in a
    * TreeSet-backed argmax and only the words CONTAINING the merged pair
    * are recounted per iteration (occurrence index), so a merge costs
    * O(affected words × their length × log P) instead of a full corpus
    * rescan — the difference between minutes and hours at the
    * reference's 32k-vocab scale. Argmax semantics are identical to the
    * naive loop: max count, ties by lexicographic pair (the equivalence
    * is property-tested against a naive reference implementation). */
  def train(wordFreqs: Seq[(String, Long)], vocabSize: Int,
            characterCoverage: Double = 1.0): BpeModel = {
    // specials (4) + byte tokens (256) are fixed overhead; at least one
    // symbol slot must remain or every text would be pure byte fallback
    require(vocabSize > FirstSymbolId,
      s"vocabSize=$vocabSize must exceed ${FirstSymbolId} " +
      "(4 special + 256 byte-fallback ids are fixed overhead)")
    require(characterCoverage > 0.0 && characterCoverage <= 1.0,
      s"characterCoverage=$characterCoverage must be in (0, 1]")
    // words as symbol sequences with the end-of-word marker
    val words: Array[Array[String]] =
      wordFreqs.map(wf => (codePointSymbols(wf._1) :+ EndOfWord).toArray).toArray
    val wfreq: Array[Long] = wordFreqs.map(_._2).toArray
    val allBase = mutable.LinkedHashSet[String](EndOfWord)
    wordFreqs.foreach(wf => codePointSymbols(wf._1).foreach(allBase += _))
    // Alphabet cut — SentencePiece's character_coverage knob (reference:
    // src/llm_data_pipeline/tokenizer/train.py:111-134 passes 0.9995):
    // keep the minimal most-frequent-first prefix of characters whose
    // occurrence mass reaches `characterCoverage`; the tail rides byte
    // fallback. Independently, the alphabet never exceeds the symbol
    // budget (so symbol ids provably stay < vocabSize — the id-bound
    // invariant the export path relies on); whichever bound is tighter
    // wins. coverage=1.0 with a fitting alphabet keeps every char.
    val symbolBudget = vocabSize - FirstSymbolId
    val baseSymbols: mutable.LinkedHashSet[String] =
      if (allBase.size <= symbolBudget && characterCoverage >= 1.0) allBase
      else {
        val charFreq = mutable.HashMap[String, Long]().withDefaultValue(0L)
        wordFreqs.foreach { case (w, f) =>
          codePointSymbols(w).foreach(s => charFreq(s) += f)
        }
        val sorted = allBase.toSeq.filterNot(_ == EndOfWord)
          .sortBy(s => (-charFreq(s), s))
        val total = sorted.iterator.map(charFreq).sum
        val target = math.ceil(characterCoverage * total).toLong
        var cum = 0L
        var k = 0
        while (k < sorted.size && cum < target) { cum += charFreq(sorted(k)); k += 1 }
        val kept = sorted.take(math.min(k, symbolBudget - 1))
        mutable.LinkedHashSet(EndOfWord) ++ kept
      }

    // only kept-alphabet symbols (and their merge products) may form
    // merge candidates: without this, a coverage-cut char would sneak
    // back into the vocab through a merged pair (e.g. cut 'z' + '</w>'
    // -> learned 'z</w>'), defeating the alphabet cut. Membership is
    // decided once per symbol (base chars at the cut, merge products at
    // creation) and never changes, so add/remove bookkeeping stays
    // symmetric. No cut -> every symbol mergeable -> prior behavior.
    val mergeable = mutable.HashSet[String]() ++ baseSymbols
    val counts = mutable.HashMap[(String, String), Long]()
    val occ = mutable.HashMap[(String, String), mutable.HashSet[Int]]()
    val bestFirst: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long.reverse, Ordering.String, Ordering.String)
        .on((t: (Long, String, String)) => (t._1, t._2, t._3))
    val ranked = mutable.TreeSet.empty[(Long, String, String)](bestFirst)

    def bump(p: (String, String), delta: Long): Unit = {
      val old = counts.getOrElse(p, 0L)
      val nw = old + delta
      if (old != 0L) ranked.remove((old, p._1, p._2))
      if (nw != 0L) { counts(p) = nw; ranked.add((nw, p._1, p._2)) }
      else counts.remove(p)
    }
    def removeWord(wi: Int): Unit = {
      val syms = words(wi); val f = wfreq(wi)
      var i = 0
      while (i < syms.length - 1) {
        if (mergeable(syms(i)) && mergeable(syms(i + 1))) {
          val p = (syms(i), syms(i + 1))
          bump(p, -f)
          occ.get(p).foreach { s => s -= wi; if (s.isEmpty && !counts.contains(p)) occ.remove(p) }
        }
        i += 1
      }
    }
    def addWord(wi: Int): Unit = {
      val syms = words(wi); val f = wfreq(wi)
      var i = 0
      while (i < syms.length - 1) {
        if (mergeable(syms(i)) && mergeable(syms(i + 1))) {
          val p = (syms(i), syms(i + 1))
          bump(p, f)
          occ.getOrElseUpdate(p, mutable.HashSet.empty[Int]) += wi
        }
        i += 1
      }
    }
    words.indices.foreach(addWord)

    val merges = mutable.ArrayBuffer[(String, String)]()
    // vocabSize budget = specials (4) + byte-fallback tokens (256) +
    // base symbols + merges — the SentencePiece convention where byte
    // tokens count inside vocab_size, so max emitted id < vocabSize
    val maxMerges = math.max(0, vocabSize - 4 - 256 - baseSymbols.size)
    var iter = 0
    var exhausted = false
    while (iter < maxMerges && !exhausted) {
      if (ranked.isEmpty) exhausted = true
      else {
        val (_, a, b) = ranked.head
        merges += ((a, b))
        mergeable += a + b
        val affected = occ.getOrElse((a, b), mutable.HashSet.empty[Int]).toArray.sorted
        affected.foreach { wi =>
          removeWord(wi)
          words(wi) = applyMerge(words(wi), a, b)
          addWord(wi)
        }
        // the merged pair must be gone from the index now (its count fell
        // to zero when every occurrence was rewritten)
      }
      iter += 1
    }

    val symbols = (baseSymbols.toSeq ++ merges.map(m => m._1 + m._2)).distinct
    val byteTokens = (0 until 256).map(b => f"<0x$b%02X>" -> (ByteIdBase + b))
    val vocab = Map("<unk>" -> UnkId, "<bos>" -> BosId, "<eos>" -> EosId, "<pad>" -> PadId) ++
      byteTokens ++
      symbols.zipWithIndex.map { case (s, i) => s -> (i + FirstSymbolId) }
    assert(vocab.valuesIterator.max < vocabSize,
      s"BPE id-bound invariant violated: max id ${vocab.valuesIterator.max} >= $vocabSize")
    BpeModel(merges.toSeq, vocab)
  }

  /** The normalization every text crosses before training or encoding:
    * Unicode NFKC (the reference's nmt_nfkc rule — full-width forms,
    * ligatures compose) then whitespace-flatten + lowercase. */
  def normalizeForTokenize(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    TextFunctions.normalizeForDedup(graft.functions.HashFunctions.normalizeNfkc(c))

  /** Distributed word counting → driver merge loop. `maxWords` bounds
    * the frequency table (the long tail below it cannot affect early
    * merges materially — standard trainer practice).
    *
    * `inputSentenceSize` is SentencePiece's input_sentence_size knob
    * (the reference passes 5M + shuffle, tokenizer/train.py:111-134):
    * train on a bounded corpus sample instead of every row. The sample
    * is the `n` rows with the smallest hashed text — deterministic
    * (same corpus → same model at any partitioning, the
    * fitKmeansOnSample convention) and a TakeOrdered, never a full
    * sort. None (default) trains on the whole corpus.
    *
    * `characterCoverage` maps to the alphabet cut in [[train]]. */
  def trainFromCorpus(df: DataFrame, textCol: String, vocabSize: Int,
                      maxWords: Int = 100000,
                      inputSentenceSize: Option[Int] = None,
                      characterCoverage: Double = 1.0): BpeModel = {
    val rows = inputSentenceSize match {
      case Some(n) =>
        require(n > 0, "need inputSentenceSize > 0")
        df.select(col(textCol))
          .orderBy(xxhash64(col(textCol)), col(textCol)).limit(n)
      case None => df.select(col(textCol))
    }
    val freqs = rows
      .select(explode(split(normalizeForTokenize(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(desc("f"), asc("w"))
      .limit(maxWords)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    train(freqs, vocabSize, characterCoverage)
  }

  /** Distributed encoding with the broadcast model — the executor-
    * singleton pattern (tokens column added as `ids`). */
  def tokenize(df: DataFrame, textCol: String, model: BpeModel): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    val withNorm = df.withColumn("__norm", normalizeForTokenize(col(textCol)))
    val enc = org.apache.spark.sql.Encoders.row(
      org.apache.spark.sql.types.StructType(withNorm.schema.fields.filterNot(_.name == "__norm") :+
        org.apache.spark.sql.types.StructField("ids",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType, false))))
    withNorm.mapPartitions { rows =>
      val m = bc.value
      rows.map { r =>
        val normIdx = r.fieldIndex("__norm")
        val vals = (0 until r.length).filter(_ != normIdx).map(r.get)
        org.apache.spark.sql.Row.fromSeq(vals :+ m.encodeText(r.getString(normIdx)).toSeq)
      }
    }(enc)
  }

  /** Persist a trained model as a parquet artifact — the deployment
    * seam the reference's `tokenizer.model` file plays (reference:
    * src/llm_data_pipeline/tokenizer/train.py:111-134): train once,
    * ship the artifact, and any job tokenizes identically. Merge ORDER
    * is the model (rank = priority), so it's stored explicitly —
    * parquet row order is not a contract. */
  def writeModel(spark: org.apache.spark.sql.SparkSession, path: String,
                 m: BpeModel): Unit = {
    import spark.implicits._
    val merges = m.merges.zipWithIndex
      .map { case ((a, b), r) => ("merge", r, a, b, -1) }
    val vocab = m.vocab.toSeq.map { case (sym, id) => ("vocab", -1, sym, "", id) }
    (merges ++ vocab).toDF("kind", "rank", "a", "b", "id")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): BpeModel = {
    val rows = spark.read.parquet(path)
      .select("kind", "rank", "a", "b", "id").collect()
    val merges = rows.filter(_.getString(0) == "merge")
      .sortBy(_.getInt(1)).map(r => (r.getString(2), r.getString(3))).toSeq
    val vocab = rows.filter(_.getString(0) == "vocab")
      .map(r => r.getString(2) -> r.getInt(4)).toMap
    BpeModel(merges, vocab)
  }
}

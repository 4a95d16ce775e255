package graft.operators

import graft.core.PerRow
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators: language identification, quality scoring,
  * token statistics, fingerprinting. All pure Column expressions —
  * deterministic, codegen'd, and SQL-expressible (oracle-checkable).
  *
  * The language-ID heuristic stands in for the reference's fastText
  * lid.176.bin scorer (reference: src/llm_data_pipeline/quality/
  * model.py:267-340) — a model file this zero-egress build cannot ship.
  * Interface parity is kept: a `(label, score)` pair per document with a
  * keep-threshold filter (reference: src/llm_data_pipeline/quality/
  * run.py:25-44), so a real model can be swapped in as a per-row column
  * (see [[TrainedLid.label]]) without touching callers.
  */
object TextAnalysis {

  /** Per-language stopword evidence for the table-driven LID scorer.
    * ASCII-only terms by design: both Spark (Java regex) and the SQL
    * oracle (RE2) treat `\b` with ASCII word chars, so an accented final
    * letter would silently kill the boundary match in BOTH engines.
    * zh is handled by the CJK-ratio gate, not this table. */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "that", "with", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans"),
    "es" -> Seq("el", "los", "las", "es", "una", "que", "para"),
    "it" -> Seq("il", "della", "che", "per", "con", "sono", "di"),
    "pt" -> Seq("como", "mais", "dos", "ele", "isso", "muito", "sem"),
    "nl" -> Seq("het", "een", "van", "niet", "zijn", "voor", "ook"),
    "sv" -> Seq("och", "att", "som", "detta", "vilket", "inte", "har"))

  /** Persist a scorer table as a parquet artifact (lang, terms) — the
    * deployment seam for a trained replacement: ship a different artifact,
    * `loadScorerTable` it, and every LID call site picks it up without a
    * code change (the reference's swappable lid.176.bin plays this role,
    * reference: src/llm_data_pipeline/quality/model.py:267-340). */
  def writeScorerTable(spark: org.apache.spark.sql.SparkSession, path: String,
                       table: Seq[(String, Seq[String])] = LangStopwords): Unit = {
    import spark.implicits._
    // priority carries the argmax tie-break order explicitly — row order
    // inside a parquet file is not a contract
    table.zipWithIndex.map { case ((l, ts), i) => (l, ts, i) }
      .toDF("lang", "terms", "priority")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Load a scorer table artifact; tiny by construction (one row per
    * language), collected once on the driver and folded into the codegen'd
    * scorer expression — the broadcast is the expression itself. */
  def loadScorerTable(spark: org.apache.spark.sql.SparkSession,
                      path: String): Seq[(String, Seq[String])] =
    spark.read.parquet(path).select("lang", "terms", "priority").collect()
      .sortBy(_.getInt(2))
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toSeq

  /** Heuristic language-ID label: CJK-ratio gate for zh, else the
    * stopword-evidence argmax with deterministic tie-break (table order),
    * "und" when no evidence. NULL text yields NULL (null-safe unary
    * expression), NOT "und" — an intentional change from the old
    * when-chain Column formulation, whose null conditions fell through
    * to the "und" literal. Downstream language filters drop the row
    * either way, and TrainedLid.predict mirrors the same null
    * propagation, so the two labelers stay interchangeable. */
  def langIdLabel(text: Column,
                  table: Seq[(String, Seq[String])] = LangStopwords): Column =
    // gate + tokenize + argmax all inside ONE expression pass: the
    // previous when-chain over element_at(hits, i) put most references
    // in conditional positions, which defeats codegen subexpression
    // elimination — every branch re-ran the tokenizing pass
    graft.functions.HashFunctions.langIdLabelExpr(text, table, 0.05)

  /** LID score in [0,1]: normalized stopword-evidence margin,
    * `best / greatest(total, 1)` over the per-language hit counts of
    * `lower(text)`, rounded 6dp (total = 0 implies best = 0); NULL text
    * gives NULL. The counting and the margin are one codegen'd kernel
    * ([[graft.functions.StopwordMargin]]): QualityStep appends the score
    * through a generator ([[graft.core.PerRow]]), and a lambda fold here
    * would be interpreted, keep that generator out of whole-stage codegen
    * and split the step into two stages. */
  def langIdScore(text: Column,
                  table: Seq[(String, Seq[String])] = LangStopwords): Column =
    round(graft.functions.HashFunctions.stopwordMargin(lower(text), table.map(_._2)), 6)

  /** BM25 relevance of each document for a bag of query `terms`
    * (Robertson/Spärck Jones; the Lucene-default formulation:
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    * w(t,d) = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))).
    *
    * Two scans, zero shuffles of the corpus: scan 1 reduces to ONE
    * stats row (N, avgdl, per-term document frequencies — exact
    * integer counts, so the doubles are order-independent under any
    * partial-agg schedule); the row is broadcast back via crossJoin and
    * scan 2 scores each doc with a fixed expression tree. At 100 TB
    * that is a metadata-sized broadcast, never a join on the corpus.
    * Output: input columns + `bm25` rounded to 6dp (round BEFORE any
    * ordering so ranking ties are decided on the comparable value). */
  def bm25(df: DataFrame, textCol: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75,
           outCol: String = "bm25"): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    // withColumn/select resolve case-insensitively under the default
    // session, so compare case-insensitively
    require(!df.columns.exists(_.equalsIgnoreCase(outCol)),
      s"output column '$outCol' already exists; pass outCol=")
    val p = PerRow.freshPrefix(df, "__bm25")
    val inCols = df.columns.map(col).toSeq
    // stage 1: tokenize ONCE per row into a projected column; the
    // per-term counts then re-read the array value instead of
    // re-running the split per term (interpreted-HOF lesson, d15/d04)
    val toksDf = df.withColumn(s"${p}_toks",
      split(lower(trim(col(textCol))), "\\s+"))
    val toks = col(s"${p}_toks")
    // NULL text propagates: split(NULL) -> NULL array -> size/filter
    // NULL -> NULL dl/tf -> NULL score, while avg/df aggregates skip the
    // row (exactly the DuckDB oracle's len(NULL)/avg semantics)
    val withTf = toksDf.select(
      inCols ++
        Seq(size(toks).cast("double").as(s"${p}_dl")) ++
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(toks, w => w === lit(t))).cast("double").as(s"${p}_tf_$i")
        }: _*)
    val stats = withTf.agg(
      count(lit(1)).cast("double").as(s"${p}_n"),
      (avg(col(s"${p}_dl")).as(s"${p}_avgdl") +:
        terms.indices.map(i =>
          sum(when(col(s"${p}_tf_$i") > 0, 1.0).otherwise(0.0)).as(s"${p}_df_$i"))): _*)
    val score = terms.indices.map { i =>
      val tf = col(s"${p}_tf_$i"); val dfT = col(s"${p}_df_$i")
      val idf = log(lit(1.0) +
        (col(s"${p}_n") - dfT + lit(0.5)) / (dfT + lit(0.5)))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col(s"${p}_dl") / col(s"${p}_avgdl")))
    }.reduce(_ + _)
    withTf.crossJoin(broadcast(stats))
      .select(inCols :+ round(score, 6).as(outCol): _*)
  }

  /** Split documents into overlapping token-window CHUNKS — the
    * context-window preparation step of an embedding/RAG pipeline
    * (text-level counterpart of the Packer's id-level packing). One
    * output row per chunk: (input columns, chunk_id, chunk_text,
    * chunk_tokens). Pure per-row expressions + one explode; chunk
    * count = 1 for docs of <= `chunkTokens` tokens, else
    * ceil((n - chunkTokens)/stride) + 1 with stride = chunkTokens −
    * overlap (the final chunk may be shorter — slice truncates).
    * Integer arithmetic only, so an external SQL engine reproduces the
    * chunking bit-for-bit. */
  def chunk(df: DataFrame, textCol: String,
            chunkTokens: Int = 20, overlap: Int = 5): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got $overlap/$chunkTokens")
    val stride = chunkTokens - overlap
    val p = PerRow.freshPrefix(df, "__chunk")
    // filter empties: trim strips only spaces, so tab/newline-led text
    // would otherwise yield a phantom first token (the TrainedNer
    // lesson); empty text then tokenizes to [] -> one empty chunk
    val staged = df.withColumn(s"${p}_t",
      filter(split(trim(col(textCol)), "\\s+"), t => length(t) > 0))
    val toks = col(s"${p}_t")
    val nChunks = when(size(toks) <= chunkTokens, lit(1))
      .otherwise(((size(toks) - chunkTokens + (stride - 1)) / stride).cast("int") + 1)
    val chunks = transform(sequence(lit(0), nChunks - 1), k =>
      struct(k.as("chunk_id"),
        slice(toks, k * stride + 1, lit(chunkTokens)).as("ctoks")))
    // explode_outer + coalesce: a NULL-text doc stays in the output as
    // one empty chunk instead of vanishing (lineDedup's convention)
    staged.select(df.columns.map(col) :+ explode_outer(chunks).as(s"${p}_c"): _*)
      .select(df.columns.map(col) ++ Seq(
        coalesce(col(s"${p}_c.chunk_id"), lit(0)).as("chunk_id"),
        coalesce(array_join(col(s"${p}_c.ctoks"), " "), lit("")).as("chunk_text"),
        coalesce(size(col(s"${p}_c.ctoks")).cast("long"), lit(0L)).as("chunk_tokens")): _*)
  }

  /** Multi-phrase keyword/topic tagger — the domain-labeling stage a
    * curation pipeline runs to route documents (code/medical/legal/...)
    * before mixing: every (tag, phrase) whose phrase occurs in the doc
    * as a WORD SEQUENCE (normalized: lowercase, whitespace-flattened —
    * substring-of-a-word can never fire) contributes its tag; output is
    * the sorted distinct tag list joined with ','. ZERO shuffle and no
    * state: the phrase table ships as literals inside the projection
    * (grouped by phrase length, one shingle array per distinct n,
    * let-bound so the per-phrase membership tests never re-shingle), so
    * it runs unchanged on a stream and costs one corpus scan at any
    * size. The right vehicle for taxonomy-sized phrase lists (KBs);
    * corpus-sized dictionaries belong to a broadcast join on
    * word-shingle hashes instead. */
  def tagKeywords(df: DataFrame, textCol: String,
                  phrases: Seq[(String, String)],
                  outCol: String = "tags"): DataFrame = {
    require(phrases.nonEmpty, "tagKeywords needs at least one (tag, phrase)")
    // Locale.ROOT: the doc side folds through Spark's locale-independent
    // lower(), so the phrase side must not consult the JVM default
    // locale (tr_TR dotted/dotless-i would silently kill matches — the
    // c4BadwordKeep trap)
    val norm = phrases.map { case (t, p) =>
      (t, p.trim.toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty).mkString(" "))
    }
    norm.foreach { case (t, p) =>
      require(p.nonEmpty, s"tag '$t' has an empty phrase") }
    // an n-token phrase occurs as a word shingle of the normalized text
    // iff " phrase " is a substring of " normalized-text " (tokens are
    // single-space separated after normalizeForDedup, so padded
    // substring containment == word-boundary sequence match — exactly
    // the padded-LIKE formulation the oracle states). The old shape
    // materialized the FULL n-gram string array per width per doc
    // (O(tokens · widths) string allocations) only to array_contains
    // against each phrase; one padded contains() per phrase does the
    // same match with zero per-doc array builds. A shorter-than-n-token
    // doc cannot contain an n-token padded phrase either way, so the
    // wordShingles whole-text fallback branch needs no special case.
    val pairsLit = typedLit(norm)
    // let-bind the padded text as a lambda variable so normalization
    // runs once per doc, not once per phrase (the spanFingerprints
    // lesson)
    val padded = concat(lit(" "), TextFunctions.normalizeForDedup(col(textCol)), lit(" "))
    val matched = element_at(transform(array(padded),
      p => transform(
        filter(pairsLit, pr =>
          p.contains(concat(lit(" "), pr.getField("_2"), lit(" ")))),
        pr => pr.getField("_1"))), 1)
    df.withColumn(outCol,
      coalesce(array_join(array_sort(array_distinct(matched)), ","), lit("")))
  }

  /** Out-of-vocabulary token marker for the bigram LM — a control char
    * no whitespace-split token can contain after normalization of real
    * text, so it cannot collide with a vocabulary word. */
  val UnkToken: String = "\u0001"

  /** Bigram language model: top-V vocabulary with unigram counts, the
    * aggregated `<unk>` mass, and bigram counts over unk-mapped token
    * pairs (key = "w1 w2"). Bounded by construction: `vocab.size <= V`
    * and `bigrams.size <= (V+1)^2` — a model artifact, never
    * corpus-sized, so it ships to executors whole. */
  final case class BigramLmModel(vocab: Map[String, Long], unkCount: Long,
                                 bigrams: Map[String, Long]) {
    def vocabSize: Int = vocab.size
  }

  private def toksExpr(textCol: Column): Column =
    split(lower(trim(textCol)), "\\s+")

  /** Train a [[BigramLmModel]] on a corpus — the CCNet-style quality
    * scorer's model-build pass (Wenzek et al. 2020 score documents with
    * an n-gram LM; the reference's quality step uses a pretrained
    * classifier instead, reference: src/llm_data_pipeline/quality/
    * model.py:267-340 — same interface, self-trained here).
    *
    * `vocabSize` is the scale lever: the unigram pass is a classic
    * word-count (map-side combine collapses each partition to its
    * distinct words before the shuffle), top-V is a TakeOrdered (never
    * a full sort), and the bigram pass counts over ALREADY unk-mapped
    * tokens, so its shuffle key space is collapsed to <= (V+1)^2
    * regardless of corpus size.
    *
    * `maxBigrams` bounds the DRIVER side of the bigram table: (V+1)^2
    * is 10^9 entries at V=32k — a driver OOM at real vocab sizes even
    * though the shuffle is fine. When the corpus exhibits more distinct
    * bigrams than `maxBigrams`, the top-M by (count DESC, bigram ASC)
    * are kept via the same TakeOrdered move as the vocab cut (never a
    * full sort); dropped tail bigrams score as unseen under add-one
    * smoothing — the standard count-pruning n-gram LM trade (e.g.
    * KenLM's pruning), deterministic for a fixed corpus. The default
    * keeps every bigram (pre-cap behavior) — callers with a real vocab
    * must set it. */
  def trainBigramLm(df: DataFrame, textCol: String,
                    vocabSize: Int,
                    maxBigrams: Int = Int.MaxValue): BigramLmModel = {
    require(maxBigrams > 0, "need maxBigrams > 0")
    // cached between the two count passes: the bigram pass re-reads
    // token ARRAYS instead of re-scanning and re-splitting the source
    // (MEMORY_AND_DISK — spills rather than recomputes at corpus
    // scale; CCNet-style deployments train the LM on a sample anyway)
    val toks = df.select(toksExpr(col(textCol)).as("toks"))
      .where(col("toks").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (vocab, total) =
      try {
        val v = uni.orderBy(desc("c"), asc("w")).limit(vocabSize)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        (v, uni.agg(coalesce(sum(col("c")), lit(0L))).head.getLong(0))
      } finally uni.unpersist()
    val bigrams =
      try {
        val counts = toks
          .select(graft.functions.LookupFunctions
            .unkMapTokens(col("toks"), vocab.keys, UnkToken).as("tu"))
          .where(size(col("tu")) >= 2) // guard BEFORE sequence: seq(1,0) descends
          .select(explode(transform(sequence(lit(1), size(col("tu")) - 1), i =>
            concat(element_at(col("tu"), i), lit(" "),
              element_at(col("tu"), i + 1)))).as("bg"))
          .groupBy("bg").agg(count(lit(1)).as("c"))
        val capped =
          if (maxBigrams == Int.MaxValue) counts
          else counts.orderBy(desc("c"), asc("bg")).limit(maxBigrams)
        capped.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      } finally toks.unpersist()
    BigramLmModel(vocab, total - vocab.values.sum, bigrams)
  }

  /** Score documents with a trained [[BigramLmModel]]: appends
    * `n_bigrams`, `avg_logp`, and `ppl` (perplexity, `exp(-avg_logp)`).
    * Add-one smoothing over the unk-mapped pair: `p(w2|w1) =
    * (C(w1 w2) + 1) / (C(w1) + V + 1)`.
    *
    * The model travels as map LITERALS inside one per-row projection —
    * scoring is a zero-shuffle map pass, the CCNet deployment shape.
    * The per-doc log-prob sum is a strict left fold in POSITION order
    * on both engines (Spark `aggregate` HOF / SQL `list_reduce` over
    * the position-indexed list), so partial-agg reordering can never
    * touch it — float determinism by construction, not by tolerance.
    * Docs with fewer than two tokens have no bigrams: n_bigrams 0 and
    * null score. Note: `element_at` on a map literal is a linear scan,
    * fine at model V's (64..1k); for a 100k-word vocab, ship the model
    * as a broadcast UDF through [[graft.core.PerRow]] (TokenizeStep)
    * instead. */
  def bigramPerplexity(df: DataFrame, textCol: String,
                       model: BigramLmModel): DataFrame = {
    val p = PerRow.freshPrefix(df, "__lm")
    val vp1 = model.vocabSize.toDouble + 1.0
    val tk = col(s"${p}_tk")
    // Per-feature log-probs precomputed at the driver with
    // StrictMath.log (the function Spark's `log` applies — bit-equal
    // doubles): observed bigrams carry their full term; the per-word
    // default map covers unseen pairs (numerator 1); the unk default
    // covers unseen pairs starting at <unk>. The whole per-doc fold
    // runs in ONE hashed-lookup expression (BigramLogSum: O(1) table
    // gets, same position-order accumulation — bit-identical to the
    // HOF chain it replaced; see LookupFunctions).
    def uc(w: String): Double =
      (if (w == UnkToken) model.unkCount else model.vocab(w)).toDouble
    val biLogMap = model.bigrams.map { case (bg, c) =>
      bg -> StrictMath.log((c.toDouble + 1.0) / (uc(bg.substring(0, bg.indexOf(' '))) + vp1))
    }
    val defLogMap = model.vocab.map { case (w, c) =>
      w -> StrictMath.log(1.0 / (c.toDouble + vp1))
    }
    val unkDefLog = StrictMath.log(1.0 / (model.unkCount.toDouble + vp1))
    val staged = df
      .withColumn(s"${p}_tk", toksExpr(col(textCol)))
      .withColumn(s"${p}_ls", when(size(tk) >= 2,
        graft.functions.LookupFunctions.bigramLogSum(tk, model.vocab.keys,
          biLogMap, defLogMap, unkDefLog, UnkToken)))
    val avg = col(s"${p}_ls") / (size(tk) - 1).cast("double")
    staged
      .withColumn("n_bigrams", (size(tk) - 1).cast("long"))
      .withColumn("avg_logp", round(avg, 6))
      .withColumn("ppl", round(exp(-avg), 4))
      .drop(s"${p}_tk", s"${p}_ls")
  }

  /** Trigram stupid-backoff LM: top-V vocabulary with unigram counts,
    * the aggregated `<unk>` mass, the corpus token total, and bigram +
    * trigram counts over unk-mapped token streams (keys "w1 w2" /
    * "w1 w2 w3"). Bounded by construction like [[BigramLmModel]]:
    * every table is capped by the vocab collapse (and by `maxNgrams`
    * when set), never corpus-sized, so it ships to executors whole. */
  final case class BackoffLmModel(vocab: Map[String, Long], unkCount: Long,
                                  total: Long, bigrams: Map[String, Long],
                                  trigrams: Map[String, Long]) {
    def vocabSize: Int = vocab.size
  }

  /** Train a [[BackoffLmModel]] — the count passes behind stupid
    * backoff (Brants et al. 2007, "Large Language Models in Machine
    * Translation": a backoff scheme designed precisely so distributed
    * count tables need NO normalization pass, the 100 TB-friendly LM).
    *
    * Scale shape mirrors [[trainBigramLm]]: ONE shuffle per order
    * (unigram, bigram, trigram), each over unk-mapped tokens so the
    * key space is vocab-collapsed, with map-side partial aggregation;
    * the vocab cut and the `maxNgrams` caps are TakeOrdered
    * (count DESC, gram ASC — deterministic), never full sorts.
    * `maxNgrams` bounds the DRIVER tables per order — the same
    * KenLM-style count-pruning trade `trainBigramLm` documents; a
    * pruned gram backs off one level at score time. */
  def trainBackoffLm(df: DataFrame, textCol: String, vocabSize: Int,
                     maxNgrams: Int = Int.MaxValue): BackoffLmModel = {
    require(maxNgrams > 0, "need maxNgrams > 0")
    val toks = df.select(toksExpr(col(textCol)).as("toks"))
      .where(col("toks").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (vocab, total) =
      try {
        val v = uni.orderBy(desc("c"), asc("w")).limit(vocabSize)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        (v, uni.agg(coalesce(sum(col("c")), lit(0L))).head.getLong(0))
      } finally uni.unpersist()
    def gramCounts(order: Int): Map[String, Long] = {
      val counts = toks
        .select(graft.functions.LookupFunctions
          .unkMapTokens(col("toks"), vocab.keys, UnkToken).as("tu"))
        .where(size(col("tu")) >= order) // guard BEFORE sequence: it descends
        .select(explode(transform(sequence(lit(1), size(col("tu")) - (order - 1)),
          i => concat_ws(" ", (0 until order).map(o =>
            element_at(col("tu"), i + o)): _*))).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c"))
      val capped =
        if (maxNgrams == Int.MaxValue) counts
        else counts.orderBy(desc("c"), asc("g")).limit(maxNgrams)
      capped.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    try {
      val bigrams = gramCounts(2)
      val trigrams = gramCounts(3)
      BackoffLmModel(vocab, total - vocab.values.sum, total, bigrams, trigrams)
    } finally toks.unpersist()
  }

  /** Score documents with a trained [[BackoffLmModel]] under stupid
    * backoff: per position (from the third token), with unk-mapped
    * context `w1 w2` and word `w3`,
    * `S = C(w1w2w3)/C(w1w2)` when the trigram was seen, else
    * `0.4 · C(w2w3)/C(w2)` when the bigram was seen, else
    * `0.16 · (C(w3)+1)/(N+V+1)` — the unigram floor add-one smoothed
    * so no score is ever zero. Appends `n_trigrams`, `avg_logp`, and
    * `ppl`. Docs with fewer than three tokens score null.
    *
    * Deployment shape matches [[bigramPerplexity]]: the per-level log
    * terms are precomputed at the driver with StrictMath.log (bit-equal
    * to the SQL replay), the model travels as hashed tables inside ONE
    * codegen'd expression, and the per-doc fold is strict left-to-right
    * position order — zero shuffle, float-deterministic by
    * construction. A trigram whose prefix bigram was pruned by
    * `maxNgrams` is dropped to the backoff path at table-build time
    * (its conditional is uncomputable without `C(w1w2)`) — determinstic
    * on both engines for a fixed corpus. */
  def backoffPerplexity(df: DataFrame, textCol: String,
                        model: BackoffLmModel): DataFrame = {
    val p = PerRow.freshPrefix(df, "__blm")
    val tk = col(s"${p}_tk")
    def uc(w: String): Double =
      (if (w == UnkToken) model.unkCount else model.vocab(w)).toDouble
    val triLogMap = model.trigrams.flatMap { case (tg, c) =>
      val prefix = tg.substring(0, tg.lastIndexOf(' '))
      model.bigrams.get(prefix).map(c12 =>
        tg -> StrictMath.log(c.toDouble / c12.toDouble))
    }
    val biLogMap = model.bigrams.map { case (bg, c) =>
      bg -> StrictMath.log(0.4 * (c.toDouble / uc(bg.substring(0, bg.indexOf(' ')))))
    }
    val nv1 = model.total.toDouble + model.vocabSize.toDouble + 1.0
    val uniLogMap =
      (model.vocab.keys.toSeq :+ UnkToken).map { w =>
        w -> StrictMath.log(0.16 * ((uc(w) + 1.0) / nv1))
      }.toMap
    val staged = df
      .withColumn(s"${p}_tk", toksExpr(col(textCol)))
      .withColumn(s"${p}_ls", when(size(tk) >= 3,
        graft.functions.LookupFunctions.trigramBackoffLogSum(tk,
          model.vocab.keys, triLogMap, biLogMap, uniLogMap, UnkToken)))
    val avg = col(s"${p}_ls") / (size(tk) - 2).cast("double")
    staged
      .withColumn("n_trigrams", greatest(size(tk) - 2, lit(0)).cast("long"))
      .withColumn("avg_logp", round(avg, 6))
      .withColumn("ppl", round(exp(-avg), 4))
      .drop(s"${p}_tk", s"${p}_ls")
  }

  /** DSIR-style importance weights for target-domain data selection
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): score every document by how much more
    * likely its features are under a target-domain LM than under the
    * raw-corpus LM — `log w(x) = Σ_f log p_t(f) − log p_r(f)` — with
    * bag-of-feature unigram + bigram models over a SHARED top-V
    * vocabulary (the paper hashes n-grams into one shared bucket
    * space; a shared vocab plays that role portably across engines).
    * Add-one smoothing over the feature space: V+1 unigram categories
    * (vocab + unk), (V+1)² bigram categories.
    *
    * Scale shape: ONE shuffle each for the unigram and the bigram
    * count pass — the target-LM counts ride the same aggregation as
    * the raw counts via a count-if flag, so the second LM is free; both
    * models are bounded by V (≤ V + (V+1)² entries) regardless of
    * corpus size and travel as map literals; scoring is a zero-shuffle
    * map pass whose per-doc log sum folds in POSITION order on both
    * engines (Spark `aggregate` HOF / DuckDB `list_reduce` — the d34
    * cross-engine pattern). Selecting the `nSelect` highest-weight docs
    * needs no unpartitioned window: the threshold (weight, id) pair is
    * two TakeOrdereds and a 1-row collect — a bounded, model-sized
    * driver value, never corpus-sized.
    *
    * `targetPred` must select a SUBSET of `df` (the paper's target
    * sample lives inside the raw pool here), so every target feature is
    * present in the raw maps. Output: idCol, `n_feats` (unigram +
    * bigram positions), `dsir_logw` (rounded 6dp — the rounded value is
    * what the threshold compares, so selection is reproducible
    * cross-engine), `selected`. */
  /** Bounded DSIR model artifact: per-feature PRECOMPUTED log-ratio
    * tables (vocab membership = `uniLog` keySet; `unkLog`/`biDef`
    * cover out-of-vocab words and unseen bigrams). At most
    * V + (V+1)² entries — model-sized by construction, so it ships
    * whole into a batch projection or a structured stream. */
  final case class DsirModel(uniLog: Map[String, Double], unkLog: Double,
                             biLog: Map[String, Double], biDef: Double)

  /** Train the raw + target DSIR LMs (see [[dsirResample]] for the
    * full construction discussion). ONE shuffle each for the unigram
    * and bigram count passes — the target counts ride the raw
    * aggregations as a count-if; the tokenized corpus is cached
    * between the two passes. Log-ratios are precomputed here with
    * StrictMath.log (the exact function Spark's `log` expression
    * applies), so scoring later emits bit-identical doubles. */
  def trainDsirModel(df: DataFrame, textCol: String, targetPred: Column,
                     vocabSize: Int): DsirModel = {
    val toksAll = df.select(targetPred.as("is_t"),
      toksExpr(col(textCol)).as("toks"))
      .where(col("toks").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = toksAll.select(col("is_t"), explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cr"),
        count(when(col("is_t"), lit(1))).as("ct"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (vocabRows, nR, nT) =
      try {
        val rows = uni.orderBy(desc("cr"), asc("w")).limit(vocabSize).collect()
        val tot = uni.agg(coalesce(sum(col("cr")), lit(0L)),
          coalesce(sum(col("ct")), lit(0L))).head
        (rows, tot.getLong(0), tot.getLong(1))
      } finally uni.unpersist()
    val vocabR = vocabRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocabT = vocabRows.map(r => r.getString(0) -> r.getLong(2)).toMap
    val (unkR, unkT) = (nR - vocabR.values.sum, nT - vocabT.values.sum)
    val biRows =
      try toksAll
        .select(col("is_t"), graft.functions.LookupFunctions
          .unkMapTokens(col("toks"), vocabR.keys, UnkToken).as("tu"))
        .where(size(col("tu")) >= 2) // guard BEFORE sequence: seq(1,0) descends
        .select(col("is_t"),
          explode(transform(sequence(lit(1), size(col("tu")) - 1), i =>
            concat(element_at(col("tu"), i), lit(" "),
              element_at(col("tu"), i + 1)))).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("cr"),
          count(when(col("is_t"), lit(1))).as("ct"))
        .collect()
      finally toksAll.unpersist()
    val biR = biRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val biT = biRows.map(r => r.getString(0) -> r.getLong(2)).toMap
    val (nRb, nTb) = (biR.values.sum, biT.values.sum)
    // denominators: integer-exact sums first, +1.0 last — the same
    // evaluation order the SQL oracle uses, so the doubles agree.
    // Smoothing categories come from the ACTUAL vocab size (the corpus
    // can have fewer distinct words than `vocabSize` — same convention
    // as BigramLmModel.vocabSize = vocab.size).
    val vA = vocabR.size
    val bCat = (vA + 1).toLong * (vA + 1)
    def ratio(ctc: Long, crc: Long, dt: Double, dr: Double): Double =
      StrictMath.log((ctc + 1.0) / dt) - StrictMath.log((crc + 1.0) / dr)
    val (dUrD, dUtD) = (nR + vA + 1.0, nT + vA + 1.0)
    val (dBrD, dBtD) = ((nRb + bCat).toDouble, (nTb + bCat).toDouble)
    DsirModel(
      uniLog = vocabR.map { case (w, c) => w -> ratio(vocabT(w), c, dUtD, dUrD) },
      unkLog = ratio(unkT, unkR, dUtD, dUrD),
      biLog = biR.map { case (bg, c) => bg -> ratio(biT(bg), c, dBtD, dBrD) },
      biDef = ratio(0L, 0L, dBtD, dBrD))
  }

  /** Persist a [[DsirModel]] as a parquet artifact (the TrainedLid /
    * BpeTrainer deployment seam): the production shape of st08 trains
    * the model in a batch job, ships the artifact, and the streaming
    * scorer loads it — never retrains in-stream. */
  def writeDsirModel(spark: org.apache.spark.sql.SparkSession, path: String,
                     m: DsirModel): Unit = {
    import spark.implicits._
    val rows = m.uniLog.toSeq.map { case (w, v) => ("uni", w, v) } ++
      m.biLog.toSeq.map { case (bg, v) => ("bi", bg, v) } ++
      Seq(("unk", "", m.unkLog), ("bidef", "", m.biDef))
    rows.toDF("kind", "feature", "logw")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadDsirModel(spark: org.apache.spark.sql.SparkSession,
                    path: String): DsirModel = {
    val rows = spark.read.parquet(path).select("kind", "feature", "logw")
      .collect()
    def of(k: String) = rows.filter(_.getString(0) == k)
      .map(r => r.getString(1) -> r.getDouble(2)).toMap
    DsirModel(of("uni"), of("unk")(""), of("bi"), of("bidef")(""))
  }

  /** Score with a trained [[DsirModel]]: appends `n_feats` and
    * `dsir_logw` (6dp). A pure zero-shuffle, stateless projection —
    * ONE literal-map scan per feature position — so the SAME call
    * works on a static frame or a structured stream (st08 runs it on
    * the document stream unchanged, the st06 design/apply split). */
  def dsirScore(df: DataFrame, textCol: String, model: DsirModel): DataFrame = {
    val p = PerRow.freshPrefix(df, "__dsir")
    val tk = col(s"${p}_tk")
    // hashed-lookup single-pass folds (LookupFunctions): same
    // position-order accumulation over the same precomputed doubles as
    // the HOF chains they replaced — bit-identical scores. lbi's
    // `coalesce(.., 0.0)` mirrors the old `when(..).otherwise(0.0)`:
    // a null token array scored lbi = 0.0 (and luni null, so the total
    // stays null — null text still scores null).
    val luni = graft.functions.LookupFunctions.unigramLogSum(
      tk, model.uniLog, UnkToken, model.unkLog)
    val lbi = coalesce(graft.functions.LookupFunctions.bigramLogSum(
      tk, model.uniLog.keys, model.biLog, Map.empty, model.biDef, UnkToken),
      lit(0.0))
    df.withColumn(s"${p}_tk", toksExpr(col(textCol)))
      .withColumn("n_feats",
        (size(tk) + greatest(size(tk) - 1, lit(0))).cast("long"))
      .withColumn("dsir_logw", round(luni + lbi, 6))
      .drop(s"${p}_tk")
  }

  def dsirResample(df: DataFrame, textCol: String, targetPred: Column,
                   vocabSize: Int, nSelect: Int,
                   idCol: String = "doc_id"): DataFrame = {
    val model = trainDsirModel(df, textCol, targetPred, vocabSize)
    // persisted across the threshold collect so scoring runs once for
    // it; released immediately after — the returned frame recomputes
    // the (cheap, precomputed-map) projection rather than pinning a
    // cache nothing ever unpersists.
    val scored = dsirScore(df, textCol, model)
      .select(col(idCol), col("n_feats"), col("dsir_logw"))
    val cached = scored.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thr =
      try cached.where(col("dsir_logw").isNotNull) // null text scores null — never a threshold
        .orderBy(desc("dsir_logw"), asc(idCol)).limit(nSelect)
        .orderBy(asc("dsir_logw"), desc(idCol)).limit(1).collect()
      finally cached.unpersist()
    val selected = if (thr.isEmpty) lit(true) else {
      val tw = thr(0).getDouble(thr(0).fieldIndex("dsir_logw"))
      val td = thr(0).get(thr(0).fieldIndex(idCol)) // id type stays generic
      (col("dsir_logw") > tw) ||
        (col("dsir_logw") === tw && col(idCol) <= lit(td))
    }
    scored.withColumn("selected",
      when(col("dsir_logw").isNull, lit(false)).otherwise(selected))
  }
}

package graft.operators

import graft.core.PerRow
import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types.BinaryType

/** Benchmark decontamination + repetition-quality signals — two
  * standard training-data hygiene operators a pre-training pipeline
  * needs beyond the reference's own step list (the reference dedups the
  * corpus against itself, dedup/minhash.py, but never against an eval
  * suite; repetition filtering follows the Gopher rules of
  * Rae et al. 2021, "Scaling Language Models", §A.1.1).
  *
  * Scale design (100 TB corpus, KB..GB eval suite):
  *  - the eval n-gram set reduces to one DISTINCT projection of the
  *    (small) eval side and is BROADCAST — the corpus is never
  *    shuffled for the matching;
  *  - corpus-side n-grams are a codegen'd per-row projection
  *    (explode → broadcast-hash-join); only MATCHED (id, gram) pairs —
  *    contamination is rare by construction — reach the aggregation
  *    shuffle, and the report-back join is left to AQE (the match-count
  *    side is bounded by contaminated docs, small in practice but
  *    corpus-sized in the adversarial ubiquitous-gram case, so it must
  *    not be force-broadcast);
  *  - repetition signals are pure per-row Column expressions with zero
  *    shuffle and no UDF.
  */
object Decontamination {

  /** Distinct word n-gram HASHES of the eval/benchmark docs (shingles
    * travel as xxhash64-mixed longs — overlap counts are preserved
    * modulo 64-bit collisions, the x06 convention, and the broadcast /
    * shuffle payload is 8 bytes per gram instead of the string). Small
    * by nature (eval suites are KBs..MBs); callers broadcast the
    * result. */
  def evalGrams(evalDocs: DataFrame, textCol: String, n: Int): DataFrame =
    evalDocs.select(explode(TextFunctions.wordShingleHashes(col(textCol), n)).as("gram"))
      .distinct()

  /** Per-document overlap report against an eval set: every corpus row
    * with `n_overlap` = number of DISTINCT word n-grams it shares with
    * the eval docs and a `contaminated` flag. Both joins keep the small
    * side broadcast, so the corpus streams through without a shuffle;
    * the groupBy aggregates only the matched pairs. */
  def overlapReport(corpus: DataFrame, evalDocs: DataFrame,
                    idCol: String, textCol: String, n: Int): DataFrame = {
    val grams = broadcast(evalGrams(evalDocs, textCol, n))
    val corpusGrams = corpus.select(col(idCol),
      explode(array_distinct(TextFunctions.wordShingleHashes(col(textCol), n))).as("gram"))
    val counts = corpusGrams.join(grams, "gram")
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
    // counts is bounded by CONTAMINATED docs — typically tiny, but an
    // eval doc holding a ubiquitous n-gram makes it corpus-sized, so
    // the join strategy stays with AQE (no forced broadcast; it
    // broadcasts the small side at runtime when it IS small)
    corpus.select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
  }

  /** Bloom sketch of a long-hash column: Spark's native
    * [[BloomFilterAggregate]] (the runtime-row-level-filter machinery,
    * exposed here as a first-class operator) — partial sketches are
    * built map-side and OR-merged, so exactly one `numBits`-sized
    * object ever leaves the executors regardless of input size.
    * Returns null iff `grams` is empty. */
  def gramBloom(grams: DataFrame, gramCol: String,
                expectedItems: Long, numBits: Long): Array[Byte] =
    grams.select(ExpressionUtils.column(
        new BloomFilterAggregate(
          ExpressionUtils.expression(col(gramCol)),
          Literal(expectedItems), Literal(numBits)).toAggregateExpression()))
      .head.getAs[Array[Byte]](0)

  /** `might_contain(bloom, hash)` as a Column — Spark's native
    * [[BloomFilterMightContain]] over a literal sketch (codegen'd; no
    * UDF). False negatives are impossible; false-positive rate follows
    * from numBits/items. */
  def mightContainHash(bloom: Array[Byte], hash: Column): Column =
    ExpressionUtils.column(BloomFilterMightContain(
      Literal(bloom, BinaryType), ExpressionUtils.expression(hash)))

  /** [[overlapReport]] via a Bloom prefilter — identical output, built
    * for the regime where the eval side is too big to broadcast as an
    * exact hash relation (decontaminating against a full held-out
    * corpus, not a KB-sized benchmark). Three stages:
    *
    *  1. the eval grams reduce to ONE bounded bloom sketch
    *     (~`numBits/8` bytes however many grams go in — vs ~16-32
    *     bytes/key for a broadcast HashedRelation, an order of
    *     magnitude more eval grams per MB shipped);
    *  2. corpus grams are prefiltered MAP-SIDE by `might_contain` —
    *     zero shuffle, zero join; everything that cannot match dies at
    *     the scan;
    *  3. the tiny survivor stream (true overlaps + the fpp fraction)
    *     is exact-verified against the true gram set — a join whose
    *     left side is no longer the corpus, and whose strategy is left
    *     to AQE.
    *
    * Bloom false positives are removed by stage 3 and false negatives
    * don't exist, so the report is bit-identical to [[overlapReport]];
    * only the shuffle/broadcast geometry differs. */
  def bloomOverlapReport(corpus: DataFrame, evalDocs: DataFrame,
                         idCol: String, textCol: String, n: Int,
                         expectedItems: Long = 1000000L,
                         numBits: Long = 8000000L): DataFrame = {
    val evalG = evalGrams(evalDocs, textCol, n)
    val bloom = gramBloom(evalG, "gram", expectedItems, numBits)
    val corpusGrams = corpus.select(col(idCol),
      explode(array_distinct(
        TextFunctions.wordShingleHashes(col(textCol), n))).as("gram"))
    val counts =
      if (bloom == null) { // empty eval set: nothing can overlap
        corpusGrams.limit(0).groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
      } else {
        corpusGrams.where(mightContainHash(bloom, col("gram")))
          .join(evalG, "gram") // exact verify; strategy is AQE's call
          .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
      }
    corpus.select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
  }

  /** [[overlapReport]] as a STATELESS per-row flag — the streaming
    * deployment shape (and the join-free batch shape when the eval
    * suite is benchmark-sized): the distinct eval-gram hashes travel
    * as one sorted literal array, `n_overlap` is an in-row
    * `array_intersect` size, and no join, shuffle, or state exists
    * anywhere — micro-batch boundaries cannot move a per-row flag.
    *
    * With `bloom` set (built once via [[gramBloom]] over the same
    * grams), a might_contain `exists` guard runs FIRST: a clean row
    * costs k hash probes and only bloom survivors (true overlaps +
    * the fpp fraction) pay the set intersection. False positives are
    * killed by the exact intersect and false negatives don't exist,
    * so output is identical with or without the sketch.
    *
    * Regime note: the literal array is the right vehicle up to
    * benchmark-suite sizes (KBs..MBs of grams). Decontaminating
    * against a corpus-sized eval side belongs to
    * [[bloomOverlapReport]]'s verify-join geometry instead. */
  def overlapFlag(df: DataFrame, idCol: String, textCol: String, n: Int,
                  evalGramHashes: Array[Long],
                  bloom: Option[Array[Byte]] = None): DataFrame = {
    val grams = array_distinct(
      TextFunctions.wordShingleHashes(col(textCol), n))
    val exact = size(array_intersect(grams,
      lit(evalGramHashes.sorted))).cast("long")
    val flagExpr = bloom.filter(_ != null) match {
      case Some(b) =>
        when(exists(grams, g => mightContainHash(b, g)), exact)
          .otherwise(lit(0L))
      case None => exact
    }
    // null text -> null gram array -> null flag; surface it as clean
    // (overlapReport's left-join + coalesce semantics, kept total here)
    df.select(col(idCol), coalesce(flagExpr, lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** Drop contaminated rows: broadcast anti-join of the corpus against
    * the (small) contaminated-id set — the production-shaped output of
    * decontamination. `minOverlap` sets how many shared n-grams convict. */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame,
                    idCol: String, textCol: String, n: Int,
                    minOverlap: Long = 1L): DataFrame = {
    val bad = overlapReport(corpus, evalDocs, idCol, textCol, n)
      .filter(col("n_overlap") >= minOverlap).select(idCol)
    corpus.join(bad, Seq(idCol), "left_anti") // AQE broadcasts when small
  }

  /** SEMANTIC decontamination — the embedding-space member of this
    * file's hygiene family: drop every corpus row whose embedding has
    * cosine >= `tau` to ANY eval-suite embedding. The n-gram paths
    * above catch verbatim and near-verbatim leaks; an eval item that
    * was paraphrased into the corpus shares no 13-gram but still sits
    * next to its source in embedding space, which is how the
    * open-data pipelines audit test-set leakage semantically.
    *
    * Scale shape: the eval side is benchmark-sized (KBs..MBs of
    * vectors) and is force-BROADCAST; the anti-join's cosine
    * predicate lowers to a BroadcastNestedLoopJoin(anti), so the
    * corpus is scanned exactly once and never shuffled — per-row cost
    * is |eval| codegen'd dot products with early-out on the first
    * match, the same per-row shape as the brute-force ANN scan
    * (`Similarity.bruteForceTopK`) that e01 gates. For eval suites
    * too large to broadcast, pre-reduce them with
    * [[graft.operators.Similarity.kmeansFit]] cells or an LSH prefilter
    * before calling this — tau against cell centroids bounds the
    * corpus-side work the same way IVF bounds the probe. */
  def semanticDecontaminate(corpus: DataFrame, evalVecs: DataFrame,
                            vecCol: String, tau: Double): DataFrame = {
    val ev = broadcast(evalVecs.select(col(vecCol).as("__ev_vec")))
    corpus.join(ev,
      graft.operators.Similarity.cosine(col(vecCol), col("__ev_vec")) >= tau,
      "left_anti")
  }

  /** FUZZY decontamination report — the near-verbatim member of this
    * file's hygiene family, the standard "fuzzy decon" stage of the
    * open-data pipelines (Dolma, RedPajama-v2): flag every corpus row
    * whose whole-document char-ngram Jaccard against ANY eval doc is
    * >= `threshold`. [[overlapReport]] catches a single leaked n-gram;
    * this catches an eval item that was lightly edited into the corpus
    * (near-duplicate leakage) without convicting docs that merely share
    * a common phrase. Candidates come from MinHash-LSH banding and the
    * verdict is EXACT char-ngram Jaccard, so the output equals the
    * brute-force corpus x eval Jaccard graph whenever the banding has
    * full recall at `threshold` (the x01-pinned property) — which is
    * what lets an external SQL engine oracle it.
    *
    * Scale shape (100 TB corpus, benchmark-sized eval side):
    *  - the eval [[graft.operators.Dedup.bandIndex]] is small (32 band
    *    rows per eval doc); the corpus band rows equi-join it on
    *    (band_id, band_hash) — AQE broadcasts the eval side, so the
    *    corpus is never shuffled for candidate generation;
    *  - only COLLIDING corpus docs are re-shingled for the verify
    *    (semi-join prune, the [[graft.operators.Dedup.incrementalMinhash]]
    *    geometry), and only verified matches reach the per-doc
    *    aggregation;
    *  - the report-back join is left to AQE, [[overlapReport]]'s
    *    convention: match counts are bounded by contaminated docs.
    *
    * Output: (idCol, n_matches = eval docs with Jaccard >= threshold,
    * max_jaccard rounded 6dp — 0.0 when clean, contaminated). Only
    * >= threshold pairs are reported: LSH guarantees recall above the
    * threshold, nothing below it. */
  def fuzzyOverlapReport(corpus: DataFrame, evalDocs: DataFrame,
                         idCol: String, textCol: String,
                         threshold: Double = 0.8,
                         cfg: Dedup.MinHashConfig = Dedup.MinHashConfig())
      : DataFrame = {
    val evalBands = Dedup.bandIndex(evalDocs, idCol, textCol, cfg)
      .select(col("id").as("__ev_id"), col("band_id"), col("band_hash"))
    val corpusBands = Dedup.bandIndex(corpus, idCol, textCol, cfg)
    // referenced by three downstream joins (two semi-prunes + verify);
    // candidate pairs are eval-bounded, so this is small by nature.
    // LAZY localCheckpoint, not persist: blocks are reference-counted
    // and freed by the ContextCleaner once the returned plan is GC'd —
    // a persist here has no unpersist seam in a lazy return, so
    // repeated audit invocations in a long session would accumulate
    // CacheManager entries until LRU pressure (the KCore/CC convention).
    val collide = corpusBands.join(evalBands, Seq("band_id", "band_hash"))
      .select(col("id").as("__c_id"), col("__ev_id")).distinct()
      .localCheckpoint(false)
    val gC = Dedup.charGrams(corpus, idCol, textCol, cfg.ngram)
      .join(collide.select(col("__c_id").as("id")).distinct(), Seq("id"), "left_semi")
    val verified = Dedup.exactJaccardPairs(
      collide.select(col("__c_id").as("src"), col("__ev_id").as("dst")),
      gC, Dedup.charGrams(evalDocs, idCol, textCol, cfg.ngram), threshold)
    val per = verified.groupBy(col("src").as("__c_id"))
      .agg(count(lit(1)).as("n_matches"),
        round(max(col("jaccard")), 6).as("max_jaccard"))
    corpus.select(col(idCol))
      .join(per, col(idCol) === col("__c_id"), "left")
      .select(col(idCol),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("contaminated"))
  }

  /** Regime bound for the brute-force corpus x eval geometry (the q50
    * SQL form / [[fuzzyDecontaminateStream]]'s per-row loop): a
    * BroadcastNestedLoopJoin pays |corpus| x |eval| gram-set
    * intersections, which is only sane while the eval side is
    * benchmark-suite sized. 100k eval docs x ~1 KB gram sets ≈ a
    * 100 MB broadcast and 100k set-ops per corpus row — past that the
    * LSH band-index geometry ([[fuzzyOverlapReport]]) is strictly
    * better (one corpus scan + an eval-bounded collide join). */
  val MaxBruteForceEvalRows: Long = 100000L

  /** Regime bound on the PRODUCT |corpus| x |eval|: the brute-force
    * form pays one gram-set intersection per pair, so its work is the
    * product, not either side alone. An eval side that scales with the
    * corpus (a %-split of it, the r9-measured q50 regime hole: 11.5 s
    * -> ~1271 s at 10x data while the eval-only guard stayed blind)
    * keeps each side under its own bound while the product goes
    * quadratic in SF. 2M pairs x ~1 us/set-op ≈ seconds — past that
    * the band index is strictly better. */
  val MaxBruteForcePairs: Long = 2000000L

  /** Executable regime guard for a brute-force fuzzy-decon plan: probe
    * BOTH sides with BOUNDED counts (limit N+1 — never a full count of
    * an unbounded side); while the eval side is benchmark-suite sized
    * AND the |corpus| x |eval| pair product is under [[MaxBruteForcePairs]]
    * return `bruteForce` (the BroadcastNestedLoopJoin form), otherwise
    * REWRITE to the band-index geometry, which shares the same output
    * contract — (idCol, n_matches, max_jaccard, contaminated) — and
    * the same oracle, so callers cannot observe the switch except in
    * the plan. The corpus probe's limit is derived from the eval probe
    * (pairs bound / eval rows), so both probes stop early under limit
    * pushdown and neither ever scans an unbounded side to completion. */
  def fuzzyReportGated(corpus: DataFrame, evalDocs: DataFrame,
                       idCol: String, textCol: String,
                       threshold: Double = 0.8,
                       cfg: Dedup.MinHashConfig = Dedup.MinHashConfig(),
                       maxEvalRows: Long = MaxBruteForceEvalRows,
                       maxPairs: Long = MaxBruteForcePairs)
                      (bruteForce: => DataFrame): DataFrame = {
    def boundedCount(df: DataFrame, bound: Long): Long =
      df.select(col(idCol))
        .limit(math.min(bound + 1, Int.MaxValue.toLong).toInt).count()
    val evalProbe = boundedCount(evalDocs, maxEvalRows)
    val withinRegime = evalProbe <= maxEvalRows && evalProbe >= 0 && {
      val corpusBound = maxPairs / math.max(evalProbe, 1L)
      val corpusProbe = boundedCount(corpus, corpusBound)
      corpusProbe * math.max(evalProbe, 1L) <= maxPairs
    }
    if (!withinRegime)
      fuzzyOverlapReport(corpus, evalDocs, idCol, textCol, threshold, cfg)
        .orderBy(idCol)
    else bruteForce
  }

  /** Drop-shaped face of [[fuzzyOverlapReport]]: the corpus minus every
    * row with a verified near-duplicate in the eval suite (broadcast
    * anti-join against the small convicted-id set). */
  def fuzzyDecontaminate(corpus: DataFrame, evalDocs: DataFrame,
                         idCol: String, textCol: String,
                         threshold: Double = 0.8,
                         cfg: Dedup.MinHashConfig = Dedup.MinHashConfig())
      : DataFrame = {
    val bad = fuzzyOverlapReport(corpus, evalDocs, idCol, textCol, threshold, cfg)
      .where(col("contaminated")).select(idCol)
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /** STATELESS whole-document fuzzy decontamination — the streaming
    * deployment shape of [[fuzzyOverlapReport]] (and the join-geometry
    * twin of [[semanticDecontaminate]], with exact char-ngram Jaccard
    * in place of cosine): drop every row whose Jaccard against ANY
    * eval doc is >= `threshold`. The eval side ships as a BROADCAST
    * relation of pre-shingled gram sets, the predicate lowers to a
    * BroadcastNestedLoopJoin(anti) with early-out on the first match,
    * and no shuffle or state exists anywhere — so it runs unchanged on
    * a stream (stream-static left_anti; micro-batch boundaries cannot
    * move a per-row verdict). Per-row cost is |eval| set
    * intersections — the right vehicle for benchmark-sized eval
    * suites; corpus-sized eval sides belong to [[fuzzyOverlapReport]]'s
    * LSH-candidate geometry. */
  def fuzzyDecontaminateStateless(corpus: DataFrame, evalDocs: DataFrame,
                                  idCol: String, textCol: String,
                                  threshold: Double = 0.8,
                                  ngram: Int = 5): DataFrame = {
    // DISTINCT gram sets up front: intersect/union are set-semantics
    // anyway, and the ratio guard below is only sound on distinct
    // cardinalities (a duplicate-heavy array would inflate size() and
    // wrongly skip a true match)
    val ev = broadcast(evalDocs.select(
      array_distinct(HashFunctions.charShingleHashes(
        TextFunctions.normalizeForDedup(col(textCol)), ngram)).as("__ev_g")))
    val withG = corpus.withColumn("__g",
      array_distinct(HashFunctions.charShingleHashes(
        TextFunctions.normalizeForDedup(col(textCol)), ngram)))
    // size-ratio guard first: J >= t implies t·|B| <= |A| <= |B|/t, and
    // the cheap cardinality compare short-circuits the expensive set
    // intersection for almost every (row, eval) pair — result-identical
    // by the implication, ~an order of magnitude less work per row
    val ratioOk =
      size(col("__g")).cast("double") >= lit(threshold) * size(col("__ev_g")) &&
      size(col("__ev_g")).cast("double") >= lit(threshold) * size(col("__g"))
    withG.join(ev,
        ratioOk &&
          size(array_intersect(col("__g"), col("__ev_g"))).cast("double")
            / size(array_union(col("__g"), col("__ev_g"))) >= threshold,
        "left_anti")
      .drop("__g")
  }

  /** SPAN-level (surgical) decontamination: excise every `window`-token
    * run of corpus text that appears verbatim anywhere in the eval
    * suite, keeping the rest of the document — the middle ground
    * between [[overlapReport]]-then-drop (loses a whole doc for one
    * leaked sentence) and doing nothing. This is [[Dedup.spanTrim]]'s
    * stride-1 ExactSubstr machinery pointed across corpora: eval
    * windows are the contraband set, matching corpus windows merge into
    * maximal spans (gaps-and-islands) and are cut at token level. No
    * first-occurrence survivor exists here — unlike self-dedup, EVERY
    * match is excised, including eval docs leaked verbatim into the
    * corpus (they trim to empty).
    *
    * Scale shape: the eval fingerprint set is benchmark-sized and the
    * corpus window rows meet it in a left-semi join (AQE broadcasts the
    * eval side — the corpus's ~1 row/token stream is never shuffled for
    * matching); span merge state is bounded per doc by its own match
    * count, the [[Dedup.spanExcise]] contract.
    *
    * Output: (idCol, n_tokens, n_removed, text_trimmed) — spanTrim's
    * schema, so downstream re-tokenization composes identically. */
  def spanDecontaminate(corpus: DataFrame, evalDocs: DataFrame,
                        idCol: String, textCol: String,
                        window: Int = 8): DataFrame = {
    val evalFps = Dedup.spanWindowRows(evalDocs, idCol, textCol, window)
      .select(col("__fp")).distinct()
    val hits = Dedup.spanWindowRows(corpus, idCol, textCol, window)
      .join(evalFps, Seq("__fp"), "left_semi")
      .select(col(idCol), col("__pos"))
    Dedup.spanExcise(corpus, idCol, textCol, window, hits)
  }

  /** [[spanDecontaminate]] as a STATELESS per-row projection — the
    * streaming deployment shape ([[overlapFlag]]'s discipline applied
    * to the span family): the eval suite's window fingerprints travel
    * as one LITERAL array inside the plan, each arriving doc's stride-1
    * windows are matched in-row, and the covered tokens are cut by a
    * higher-order-function filter — no join, no shuffle, no state, so
    * micro-batch boundaries cannot move an excision (span coverage is a
    * per-document fact; nothing crosses rows).
    *
    * Gaps-and-islands is unnecessary in-row: a token is cut iff SOME
    * matching window covers it (`exists` over match positions), which
    * is exactly the union of the merged spans. Per-row cost is
    * O(windows x log-ish membership + tokens x matches); the literal
    * vehicle is right up to benchmark-suite sizes (KBs..MBs of
    * fingerprints) — corpus-sized eval sides belong to
    * [[spanDecontaminate]]'s semi-join geometry.
    *
    * `evalFps` = collected DISTINCT fingerprints of the eval windows
    * (16-byte binary md5, [[Dedup.spanFingerprints]]' convention —
    * build with [[evalSpanFingerprints]]). Output schema is
    * [[spanDecontaminate]]'s: (idCol, n_tokens, n_removed,
    * text_trimmed). */
  def spanDecontaminateStateless(corpus: DataFrame, idCol: String,
                                 textCol: String, window: Int,
                                 evalFps: Array[Array[Byte]]): DataFrame = {
    require(window > 0, "window must be positive")
    val evLit = typedLit(evalFps.toSeq)
    val tk = Dedup.spanTokens(col(textCol))
    // two levels of let-binding (the spanFingerprints trick): lambda
    // BODIES re-evaluate outer sub-expressions per element, lambda
    // VARIABLES evaluate once — the doc tokenizes ONCE into the outer
    // struct, fingerprints derive from the BOUND token array (not a
    // second tokenize), the fingerprint array is bound before the
    // position filter walks it, and the match-position list is bound
    // before the per-token coverage test walks THAT. sequence() counts
    // DOWN when stop < start, so an empty fingerprint array
    // short-circuits to an empty match list.
    val result = element_at(transform(array(tk), tk1 => {
      val mp = {
        val f = Dedup.windowFpsOfTokens(tk1, window)
        // f references only the BOUND tk1, but is itself re-evaluated
        // per lambda-body use, so bind it before the position filter
        element_at(transform(array(f), fArr =>
          when(size(fArr) > 0,
            filter(sequence(lit(0), size(fArr) - 1),
              i => array_contains(evLit, element_at(fArr, i + 1))))
            .otherwise(array().cast("array<int>"))), 1)
      }
      element_at(transform(array(struct(tk1.as("tk2"), mp.as("mp"))),
        r2 => {
          val t2 = r2.getField("tk2")
          val m2 = r2.getField("mp")
          val kept = filter(t2, (_, i) =>
            !exists(m2, p => p <= i && i <= p + window - 1))
          struct(size(t2).cast("long").as("n_tokens"),
            (size(t2) - size(kept)).cast("long").as("n_removed"),
            array_join(kept, " ").as("text_trimmed"))
        }), 1)
    }), 1)
    corpus.select(col(idCol),
      result.getField("n_tokens").as("n_tokens"),
      result.getField("n_removed").as("n_removed"),
      result.getField("text_trimmed").as("text_trimmed"))
  }

  /** Provenance report for [[spanDecontaminate]] — the audit trail a
    * release review needs BEFORE excising: which corpus docs are hit,
    * how much of each, and by WHICH eval items. One inner join of the
    * corpus's ~1 row/token window stream against the benchmark-sized
    * eval window rows (AQE broadcasts the eval side), then one per-doc
    * aggregation with bounded state (two distinct-counts + a min).
    *
    * Output, one row per HIT corpus doc: (idCol,
    * n_hit_windows = distinct corpus window positions matched,
    * n_eval_sources = distinct eval docs implicated,
    * first_eval_id = smallest implicated eval id — the deterministic
    * exemplar to quote in the audit). */
  def spanDecontaminationProvenance(corpus: DataFrame, evalDocs: DataFrame,
                                    idCol: String, textCol: String,
                                    window: Int = 8): DataFrame = {
    val evw = Dedup.spanWindowRows(evalDocs, idCol, textCol, window)
      .select(col("__fp"), col(idCol).as("__eval_id"))
    val cw = Dedup.spanWindowRows(corpus, idCol, textCol, window)
    cw.join(evw, Seq("__fp"))
      .groupBy(idCol)
      .agg(countDistinct(col("__pos")).as("n_hit_windows"),
        countDistinct(col("__eval_id")).as("n_eval_sources"),
        min(col("__eval_id")).as("first_eval_id"))
  }

  /** The DISTINCT 16-byte window fingerprints of an eval suite,
    * collected for [[spanDecontaminateStateless]]'s literal vehicle —
    * bounded by the eval suite's token count (benchmark-sized by
    * nature). */
  def evalSpanFingerprints(evalDocs: DataFrame, idCol: String,
                           textCol: String, window: Int): Array[Array[Byte]] =
    Dedup.spanWindowRows(evalDocs, idCol, textCol, window)
      .select(col("__fp")).distinct()
      .collect().map(_.getAs[Array[Byte]](0))

  /** The full Gopher document-quality gate (Rae et al. 2021 §A.1.1),
    * composing the published rule set into per-row signal columns and
    * one ordered short-circuit judge — the same judge shape as the
    * reference's clean rules (reference: src/llm_data_pipeline/clean/
    * rules.py:84-113), extended to the Gopher signals. Zero shuffle,
    * no UDF; every signal is an integer-count ratio, so an external
    * SQL engine reproduces all of them exactly.
    *
    * Signals + default thresholds (first failing rule names the
    * reason): word count in [minWords, maxWords]; mean word length in
    * [3, 10]; '#'/ellipsis symbol-to-word ratio <= 0.1; bullet-led
    * lines <= 0.9; ellipsis-ended lines <= 0.3; words containing an
    * alphabetic char >= 0.8; >= 2 distinct Gopher stopwords; and the
    * [[repetitionSignals]] duplicate/top n-gram fractions <= 0.2
    * (adapted: the paper grades n = 2..4 / 5..10 individually, this
    * gate carries its two representative signals). `minWords` default
    * 50 per the paper. */
  def gopherGate(df: DataFrame, textCol: String,
                 minWords: Long = 50L, maxWords: Long = 100000L,
                 maxDupFrac: Double = 0.2, maxTopFrac: Double = 0.2,
                 minStopHits: Int = 2): DataFrame = {
    val p = PerRow.freshPrefix(df, "__gq")
    val t = col(textCol)
    val staged = repetitionSignals(df, textCol)
      .withColumn(s"${p}_toks",
        filter(split(trim(t), "\\s+"), w => length(w) > 0))
      .withColumn(s"${p}_lines", split(t, "\n"))
    val toks = col(s"${p}_toks"); val lines = col(s"${p}_lines")
    val nW = size(toks).cast("long")
    val nWSafe = greatest(nW, lit(1L)).cast("double")
    val nLSafe = greatest(size(lines), lit(1)).cast("double")
    // occurrences via non-overlapping literal replace — identical
    // left-to-right scan in both engines
    def occurrences(src: Column, lit_ : String): Column =
      ((length(src) - length(regexp_replace(src,
        java.util.regex.Pattern.quote(lit_), ""))) / lit_.length).cast("long")
    val symbolCount = occurrences(t, "#") + occurrences(t, "...") + occurrences(t, "…")
    val alphaWords = size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("long")
    val bulletLines = size(filter(lines,
      l => l.rlike("^\\s*[-*•]"))).cast("long")
    val ellipsisLines = size(filter(lines,
      l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("long")
    val stopHits = GopherStopwords.map(w =>
      when(lower(t).rlike(s"\\b$w\\b"), 1).otherwise(0)).reduce(_ + _)
    val sigd = staged
      .withColumn("n_words", nW)
      .withColumn("mean_word_len", round(
        aggregate(toks, lit(0L), (a, w) => a + length(w)).cast("double") / nWSafe, 4))
      .withColumn("symbol_ratio", round(symbolCount.cast("double") / nWSafe, 6))
      .withColumn("frac_alpha_words", round(alphaWords.cast("double") / nWSafe, 6))
      .withColumn("frac_bullet_lines", round(bulletLines.cast("double") / nLSafe, 6))
      .withColumn("frac_ellipsis_lines", round(ellipsisLines.cast("double") / nLSafe, 6))
      .withColumn("stop_hits", stopHits.cast("long"))
    // NULL text propagates a NULL verdict — a null condition in a
    // when-chain reads as false and would otherwise fall through to "ok"
    val reason = when(t.isNull, lit(null).cast("string"))
      .when(col("n_words") < minWords, "too_few_words")
      .when(col("n_words") > maxWords, "too_many_words")
      .when(col("mean_word_len") < 3.0 || col("mean_word_len") > 10.0, "bad_mean_word_len")
      .when(col("symbol_ratio") > 0.1, "too_many_symbols")
      .when(col("frac_bullet_lines") > 0.9, "too_many_bullets")
      .when(col("frac_ellipsis_lines") > 0.3, "too_many_ellipsis")
      .when(col("frac_alpha_words") < 0.8, "low_alpha_ratio")
      .when(col("stop_hits") < minStopHits, "few_stopwords")
      .when(col("dup_3gram_frac") > maxDupFrac, "dup_ngrams")
      .when(col("top_2gram_frac") > maxTopFrac, "top_ngram_heavy")
      .otherwise("ok")
    sigd
      .withColumn("gopher_reason", reason)
      .withColumn("gopher_keep", reason === "ok")
      .drop(s"${p}_toks", s"${p}_lines")
  }

  /** The Gopher stopword-presence list (Rae et al. 2021 §A.1.1). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style repetition signals as per-row columns (zero shuffle):
    *  - `dup_${n}gram_frac`: fraction of the doc's word n-grams that are
    *    repeats of an earlier occurrence (1 − distinct/total);
    *  - `top_${n}gram_frac`: fraction of the doc's word n-grams taken by
    *    the single most frequent one.
    * Both mirror Rae et al. 2021 §A.1.1 ("duplicate n-gram fraction",
    * "top n-gram fraction"). Shingles travel as 64-bit hashes
    * ([[TextFunctions.wordShingleHashes]]) — multiplicity and distinct
    * counts are what the signals need, and hashing skips the dominant
    * interpreted-HOF cost of building n-gram STRINGS per row (measured
    * ~2.4× on the d24 gate); the SQL oracle counts true shingle strings,
    * equal modulo 64-bit in-doc collisions (the x06 convention). The
    * hash arrays are projected ONCE and both signals read the projected
    * value. Docs shorter than n words shingle to the single whole-text
    * gram, so they score dup=0, top=1 — same CASE the oracle takes. */
  def repetitionSignals(df: DataFrame, textCol: String,
                        dupN: Int = 3, topN: Int = 2): DataFrame = {
    val p = PerRow.freshPrefix(df, "__rep")
    val staged = df
      .withColumn(s"${p}_nrm", TextFunctions.normalizeForDedup(col(textCol)))
      .withColumn(s"${p}_th",
        TextFunctions.tokenHashesFromNormalized(col(s"${p}_nrm")))
      .withColumn(s"${p}_d", TextFunctions.wordShingleHashesFrom(
        col(s"${p}_th"), col(s"${p}_nrm"), dupN))
      .withColumn(s"${p}_t", TextFunctions.wordShingleHashesFrom(
        col(s"${p}_th"), col(s"${p}_nrm"), topN))
    val dGrams = col(s"${p}_d"); val tGrams = col(s"${p}_t")
    staged
      .withColumn(s"dup_${dupN}gram_frac", round(
        lit(1.0) - size(array_distinct(dGrams)).cast("double")
          / size(dGrams).cast("double"), 6))
      .withColumn(s"top_${topN}gram_frac", round(
        graft.functions.HashFunctions.maxMultiplicity(tGrams).cast("double")
          / size(tGrams).cast("double"), 6))
      .drop(s"${p}_nrm", s"${p}_th", s"${p}_d", s"${p}_t")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data mixture control.
  *
  * Unlike `df.sample`/`sampleBy` (Bernoulli per-row randomness: only
  * approximate fractions, and resample-unstable across runs), these are
  * exact and reproducible: rows are ranked inside each stratum by a
  * content hash and the top ceil(frac*n) are kept. At scale this is one
  * window shuffle on the stratum key — the same cost as any grouped
  * ranking — and the selection is stable under re-partitioning,
  * re-runs, and engine changes (md5 is bit-defined), which is what a
  * reproducible data mixture needs.
  */
object Sampling {

  /** `df` plus `__rn`: each row's 1-based rank in its stratum by
    * ascending md5 of `hashCol` (a stable id column) — the one
    * stratum-rank window every sampler here keeps a prefix of. */
  private def withStratumRank(df: DataFrame, strataCol: String,
                              hashCol: String): DataFrame =
    df.withColumn("__rn", row_number().over(
      Window.partitionBy(col(strataCol)).orderBy(md5(col(hashCol).cast("string")))))

  /** Exact stratified sample: keep ceil(frac * n) rows per stratum,
    * selected by ascending md5 of `hashCol` — [[mixture]] with no
    * per-stratum fractions. */
  def stratifiedExact(df: DataFrame, strataCol: String, frac: Double,
                      hashCol: String): DataFrame = {
    require(frac > 0 && frac <= 1)
    mixture(df, strataCol, Map.empty, frac, hashCol)
  }

  /** Per-stratum cap (take at most `maxRows` per stratum, same stable
    * hash order) — the "downsample overrepresented sources" operation. */
  def capPerStratum(df: DataFrame, strataCol: String, maxRows: Int,
                    hashCol: String): DataFrame =
    withStratumRank(df, strataCol, hashCol)
      .where(col("__rn") <= maxRows)
      .drop("__rn")

  /** Temperature-weighted mixture under a TOKEN budget — the standard
    * pre-training recipe (sample source s with probability ∝ tokens(s)^T,
    * T<1 flattening the natural distribution so small high-quality
    * sources are not drowned; e.g. multilingual sampling in public LM
    * papers). Selection is a pure hash-threshold map — NO per-source
    * window, NO row_number — so unlike the window-based samplers above
    * it has no low-cardinality-partition skew at 100 TB: per-source
    * token totals reduce to one bounded aggregate (#sources rows,
    * collected — source cardinality is small by construction), the
    * keep-probability p_s = min(1, budget·w_s / tokens_s) becomes an
    * 8-hex-digit md5 cutoff per source, and every row decides locally.
    *
    * The sampled token count per source is p_s·tokens_s in expectation
    * (hash-Bernoulli, not exact-prefix) but fully DETERMINISTIC and
    * engine-reproducible: md5 is bit-defined, and the cutoff arithmetic
    * uses sqrt (IEEE correctly-rounded, hence bit-identical across
    * engines) when T=0.5 plus a fixed left-to-right reduction over
    * source-sorted totals — an external SQL engine reproduces the kept
    * set bit-for-bit. Sources with zero tokens keep everything (their
    * rows cost no budget). */
  /** Per-source budget accounting shared by [[temperatureMixture]] and
    * [[mixtureReport]]: (source, n_docs, tokens, keep_prob, cutoff). */
  private case class SourceBudget(source: String, nDocs: Long, tokens: Long,
                                  p: Double, cut: String)

  /** One aggregate over the corpus: per-source budgets for the non-null
    * sources, plus the (n_docs, tokens) of the NULL-source slice (which
    * carries no budget accounting — it passes the sampler through). */
  private def budgetCutoffsAndNull(df: DataFrame, sourceCol: String,
                                   tokensCol: Column, tokenBudget: Double,
                                   temperature: Double
                                  ): (Seq[SourceBudget], (Long, Long)) = {
    require(tokenBudget > 0 && temperature > 0)
    def powT(x: Double) =
      if (temperature == 0.5) math.sqrt(x) else math.pow(x, temperature)
    // totals cast to long (a double tokensCol truncates rather than
    // throwing); ONE aggregate including the NULL-source group, split
    // driver-side
    val rows = df.groupBy(col(sourceCol))
      // coalesce: a source whose every row has NULL tokens sums to NULL,
      // which would NPE the driver-side getLong
      .agg(coalesce(sum(tokensCol.cast("long")), lit(0L)).as("__t"),
        count(lit(1)).as("__n"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
    val nullSlice = rows.collectFirst { case (None, t, n) => (n, t) }.getOrElse((0L, 0L))
    val totals = rows.collect { case (Some(s), t, n) => (s, t, n) }.sortBy(_._1)
    val z = totals.foldLeft(0.0)((acc, st) => acc + powT(st._2.toDouble))
    totals.map { case (src, t, n) =>
      val p = if (t == 0L) 1.0
        else math.min(1.0, tokenBudget * powT(t.toDouble) / z / t.toDouble)
      // md5 hex is [0-9a-f]: 'z' sorts above every digest, so "zzzzzzzz"
      // is the keep-everything cutoff (p >= 1). The floor is clamped to
      // 0xFFFFFFFF: p just below 1.0 can round p*2^32 UP to exactly
      // 2^32, whose hex is 9 chars and would lexicographically KEEP
      // only '0'-prefixed digests (~6%) for a keep-nearly-all source.
      val cut = if (p >= 1.0) "zzzzzzzz"
        else f"${math.min(math.floor(p * 4294967296.0).toLong, 0xFFFFFFFFL)}%08x"
      SourceBudget(src, n, t, p, cut)
    }.toSeq -> nullSlice
  }

  private def budgetCutoffs(df: DataFrame, sourceCol: String,
                            tokensCol: Column, tokenBudget: Double,
                            temperature: Double): Seq[SourceBudget] =
    budgetCutoffsAndNull(df, sourceCol, tokensCol, tokenBudget, temperature)._1

  private def applyCutoffs(df: DataFrame, sourceCol: String, hashCol: String,
                           cuts: Seq[SourceBudget]): DataFrame = {
    if (cuts.isEmpty) return df // no non-null sources: nothing to budget
    val cutCol = element_at(
      map(cuts.flatMap(b => Seq(lit(b.source), lit(b.cut))): _*), col(sourceCol))
    // NULL-source rows pass through unbudgeted (they can't be map keys)
    df.where(col(sourceCol).isNull || cutCol === "zzzzzzzz"
      || substring(md5(col(hashCol).cast("string")), 1, 8) < cutCol)
  }

  def temperatureMixture(df: DataFrame, sourceCol: String, tokensCol: Column,
                         hashCol: String, tokenBudget: Double,
                         temperature: Double = 0.5): DataFrame =
    applyCutoffs(df, sourceCol, hashCol,
      budgetCutoffs(df, sourceCol, tokensCol, tokenBudget, temperature))

  /** Design/apply split: cutoffs computed from the (batch) `design`
    * corpus, keep-filter applied to `apply` — which may be a STREAMING
    * DataFrame, since the filter is a stateless per-row map against
    * broadcast literals (mixture design is a batch decision; applying
    * it to arriving data is a map). Same kept set as
    * [[temperatureMixture]] when design eq apply. */
  def temperatureMixtureFrom(design: DataFrame, apply: DataFrame,
                             sourceCol: String, tokensCol: Column,
                             hashCol: String, tokenBudget: Double,
                             temperature: Double = 0.5): DataFrame =
    applyCutoffs(apply, sourceCol, hashCol,
      budgetCutoffs(design, sourceCol, tokensCol, tokenBudget, temperature))

  /** The mixture design sheet: one row per source with its natural
    * share, the temperature-flattened keep probability, and the
    * realized (deterministic) kept counts — what a data-mixture owner
    * reviews before committing a budget. Same arithmetic as
    * [[temperatureMixture]], so the report IS the sampler's contract:
    * (source, n_docs, tokens, keep_prob, kept_docs, kept_tokens). */
  def mixtureReport(df: DataFrame, sourceCol: String, tokensCol: Column,
                    hashCol: String, tokenBudget: Double,
                    temperature: Double = 0.5): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // ONE corpus aggregate yields both the per-source cutoffs (shared
    // with the keep-filter below) and the NULL-source slice — the sheet
    // reports that unbudgeted passthrough slice as an explicit NULL row
    // (p = 1) so it reconciles with the sampler's output
    val (cuts, (nullDocs, nullToks)) =
      budgetCutoffsAndNull(df, sourceCol, tokensCol, tokenBudget, temperature)
    val nullRows = if (nullDocs == 0L) Nil
      else Seq((null: String, nullDocs, nullToks, 1.0))
    // HALF_UP like Spark's/DuckDB's round(), not rint's half-even
    val base = (cuts.map(b => (b.source, b.nDocs, b.tokens,
        BigDecimal(b.p).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      ++ nullRows)
      .toDF(sourceCol, "n_docs", "tokens", "keep_prob")
    val kept = applyCutoffs(df, sourceCol, hashCol, cuts)
      .where(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("__kd"),
        coalesce(sum(tokensCol.cast("long")), lit(0L)).as("__kt"))
    base.join(kept, Seq(sourceCol), "left")
      .select(col(sourceCol), col("n_docs"), col("tokens"), col("keep_prob"),
        // the NULL-source slice is kept in full by construction (an
        // equi-join can't match NULL keys, so fill it from its totals)
        coalesce(col("__kd"),
          when(col(sourceCol).isNull, col("n_docs")).otherwise(lit(0L)))
          .as("kept_docs"),
        coalesce(col("__kt"),
          when(col(sourceCol).isNull, col("tokens")).otherwise(lit(0L)))
          .as("kept_tokens"))
  }

  /** Multi-epoch mixture schedule: temperature-0.5 weights over
    * per-source token counts turned into EPOCH counts under a token
    * budget — unlike [[temperatureMixture]]'s keep probability (capped
    * at 1), a small high-quality source may be planned for >1 epoch
    * (repetition, the standard pre-training move), capped at
    * `maxEpochs`. The per-source totals are a bounded aggregate; the
    * weight normalizer folds in source-sorted order with IEEE-exact
    * sqrt, so an external SQL engine reproduces every figure
    * bit-for-bit. NULL-source rows are excluded from the plan (they
    * carry no budget identity). */
  def epochPlan(df: DataFrame, sourceCol: String, tokensCol: Column,
                tokenBudget: Double, maxEpochs: Double = 4.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(tokenBudget > 0 && maxEpochs > 0)
    val rows = df.where(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("__n"),
        coalesce(sum(tokensCol.cast("long")), lit(0L)).as("__t"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val z = rows.foldLeft(0.0)((a, r) => a + math.sqrt(r._3.toDouble))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.toSeq.map { case (src, n, t) =>
      val w = if (z == 0.0) 0.0 else math.sqrt(t.toDouble) / z
      val ep = if (t == 0L) 0.0 else math.min(maxEpochs, tokenBudget * w / t.toDouble)
      (src, n, t, r6(w), r6(ep), math.floor(t.toDouble * ep).toLong)
    }.toDF(sourceCol, "n_docs", "tokens", "weight", "epochs", "planned_tokens")
  }

  /** Soft quality-weighted sampling: keep each row with probability
    * equal to `scoreCol` (a score in [0,1] — e.g. the d39 quality
    * score), decided by a deterministic per-row coin instead of RNG.
    *
    * The coin is a Knuth multiplicative hash of the integer id —
    * `(id * 2654435761) mod 2^32 / 2^32` — pure integer arithmetic, so
    * any engine reproduces the kept set exactly (md5-prefix coins need
    * hex→int parsing, which SQL engines lack; see d37). Zero shuffle,
    * zero state: the decision is a per-row projection, streamable and
    * partition-invariant. Products stay < 2^63 for ids < ~3.5e9; bigger
    * id spaces should pre-fold the id (e.g. `id % 2^31`).
    *
    * Returns the input plus `coin` and `kept` (callers filter on
    * `kept` or keep the columns for reporting). */
  def softSampleByScore(df: DataFrame, idCol: String, scoreCol: Column): DataFrame =
    df.withColumn("coin",
        (col(idCol).cast("long") * lit(2654435761L)) % lit(4294967296L)
          / lit(4294967296.0))
      .withColumn("kept", col("coin") < scoreCol)

  /** Global greedy budget selection — the token-budget corpus cut:
    * walk rows in (priority DESC, tiebreak ASC) order and keep each row
    * while the running `cost` total (over ALL rows seen so far in that
    * order, kept or not — i.e. the global prefix sum) stays <= budget.
    * Equivalent to SQL `sum(cost) OVER (ORDER BY priority DESC, tie)
    * <= budget`, which is what the d60 oracle replays.
    *
    * A naive `Window.orderBy` with no partition key is a SINGLE-TASK
    * sort of the whole corpus — the exact scale-killer the q30/q31
    * rework removed. The global running sum instead comes from
    * [[Ranking.withRunningSum]] with no group columns (one range
    * shuffle + per-partition offsets — see its doc for the shape);
    * this operator is just that prefix sum plus the budget cut.
    *
    * `cost` is cast to long (token counts) so the prefix sums are
    * exact and order-independent; a NULL cost adds nothing, and rows
    * before the first non-NULL cost have a NULL total and are dropped,
    * as in SQL. Priority ties MUST be broken by a unique `tie` column
    * or the cut is not well-defined. */
  def budgetSelect(df: DataFrame, priorityCol: String, costCol: String,
                   tieCol: String, budget: Long, numParts: Int = 0): DataFrame =
    Ranking.withRunningSum(df, Nil, Seq(col(priorityCol).desc, col(tieCol).asc),
        Seq(col(costCol) -> "__run"), numParts)
      .where(col("__run") <= budget)
      .drop("__run")

  /** Weighted mixture: per-stratum fractions (e.g. lang → weight),
    * missing strata default to `defaultFrac`. */
  def mixture(df: DataFrame, strataCol: String, fractions: Map[String, Double],
              defaultFrac: Double, hashCol: String): DataFrame = {
    val fracCol = fractions.foldLeft(lit(defaultFrac)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    withStratumRank(df, strataCol, hashCol)
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(strataCol))))
      .where(col("__rn") <= ceil(fracCol * col("__n")))
      .drop("__rn", "__n")
  }
}

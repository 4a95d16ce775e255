package graft.operators

import graft.core.SmallInput
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed per-group ranking without per-group window sorts.
  *
  * `Window.partitionBy(g).orderBy(...)` puts every row of a group into ONE
  * task — fatal when the group cardinality is tiny (3–5 groups over a
  * 100 TB table = 3–5 tasks each sorting a third of the data). This
  * operator computes the same 1-based row number (and, more generally, a
  * running sum) with:
  *
  *   1. a range repartition on (group ++ sort) — the only shuffle; rows of
  *      a group span many partitions but stay globally ordered across them;
  *   2. a per-(partition, group) aggregate — `partitions × groups` rows
  *      collected to the driver (KBs), turned into start offsets;
  *   3. a per-partition streaming pass adding offset + local running count.
  *
  * The repartitioned input is pinned with `localCheckpoint` because passes
  * 2 and 3 must observe the identical partitioning (range sampling is not
  * replay-stable under recomputation).
  *
  * ==Contract==
  *  - '''Eager''': unlike normal DataFrame transforms, calling these
  *    methods runs Spark jobs immediately (the checkpoint and the offset
  *    collect) — even if the result is only ever `.explain()`ed.
  *  - '''Group cardinality must be modest''': the driver holds one offset
  *    entry per (partition, group). The collect is bounded by
  *    `MaxOffsetEntries` and fails fast with a clear error beyond it;
  *    for high-cardinality groups use `Window.partitionBy` instead (its
  *    per-group sorts are fine when groups are small).
  */
object Ranking {

  /** Upper bound on (partition × group) offset entries collected to the
    * driver — ~1M entries is low tens of MB. Beyond this a plain window
    * is the right tool, so fail fast rather than risk driver OOM. */
  val MaxOffsetEntries: Int = 1 << 20

  /** Global 1-based row number of each row within its group under
    * `sortCols` — equivalent to
    * `row_number().over(Window.partitionBy(groupCols).orderBy(sortCols))`
    * but scale-safe for low-cardinality groups. Output rows additionally
    * carry `outCol: Long`. */
  def withRowNumber(df: DataFrame, groupCols: Seq[String], sortCols: Seq[Column],
                    outCol: String, numPartitions: Int = 0): DataFrame =
    withRunningSum(df, groupCols, sortCols, lit(1L), outCol, numPartitions)

  /** Running sum of `valueCol` (cast to long) within each group in
    * `sortCols` order, ties included up to and including the current row.
    * With `valueCol = lit(1L)` this is `row_number`. */
  def withRunningSum(df: DataFrame, groupCols: Seq[String], sortCols: Seq[Column],
                     valueCol: Column, outCol: String,
                     numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val orderExprs = groupCols.map(col) ++ sortCols
    val staged = df.withColumn("__rank_v", valueCol.cast(LongType))
    val sorted = staged
      .repartitionByRange(parts, orderExprs: _*)
      .sortWithinPartitions(orderExprs: _*)
      .localCheckpoint(true)

    // pass 1: per-(partition, group) totals; tiny by construction for
    // low-cardinality groups. The bounded collect caps the transfer, so a
    // mis-used high-cardinality key errors instead of OOMing the driver.
    val perPartRows = SmallInput.collectAtMost(sorted
      .groupBy(spark_partition_id().as("__pid"), struct(groupCols.map(col): _*).as("__g"))
      .agg(sum(col("__rank_v")).as("__s")), MaxOffsetEntries)
    require(perPartRows.isDefined,
      s"Ranking.withRunningSum: more than $MaxOffsetEntries (partition × group) " +
      s"offset entries for groupCols=${groupCols.mkString(",")} — group cardinality " +
      "is too high for the driver-offset construction; use a plain " +
      "Window.partitionBy (per-group sorts are safe when groups are small)")
    val perPart = perPartRows.get
      .map(r => (r.getInt(0), r.getStruct(1).toSeq, r.getLong(2)))

    // start offset of (pid, group) = that group's total in earlier partitions
    val offsets: Map[(Int, Seq[Any]), Long] = perPart
      .groupBy(_._2)
      .iterator
      .flatMap { case (g, rows) =>
        var acc = 0L
        rows.sortBy(_._1).map { case (pid, _, s) =>
          val entry = ((pid, g), acc); acc += s; entry
        }
      }
      .toMap
    val bc = spark.sparkContext.broadcast(offsets)

    val gIdx = groupCols.map(sorted.schema.fieldIndex)
    val vIdx = sorted.schema.fieldIndex("__rank_v")
    val outSchema = sorted.schema.add(outCol, LongType, nullable = false)
    val out = sorted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      val off = bc.value
      var curKey: Seq[Any] = null
      var acc = 0L
      it.map { r =>
        val k = gIdx.map(r.get)
        if (curKey == null || k != curKey) {
          curKey = k
          acc = off.getOrElse((pid, k), 0L)
        }
        acc += r.getLong(vIdx)
        Row.fromSeq(r.toSeq :+ acc)
      }
    }(Encoders.row(outSchema))
    out.drop("__rank_v")
  }

  /** Exact type-1 discrete quantiles (value at rank `ceil(p*n)`) per
    * group, built from a distinct-value count table + distributed running
    * sum — no window, no per-group single-task sort. Returns one row per
    * group with one column per requested (p, name). */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     ps: Seq[(Double, String)]): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val totals = df.groupBy(groupCol).agg(count(lit(1)).as("__n"))
    val cum = withRunningSum(counts, Seq(groupCol), Seq(col("__v")), col("__c"), "__cum")
      .join(broadcast(totals), groupCol)
    // rank target r = ceil(p*n); the ranked element is the smallest
    // distinct value whose cumulative count reaches r. ONE aggregate
    // computes every requested percentile — min(when(...)) over the
    // same pass is value-identical to the old per-p filter+min chain
    // (min ignores the nulls the when() emits) and replaces p shuffled
    // aggregates + (p-1) joins with a single map-side-partial aggregate
    // (guide §2.4: fewer shuffles outright).
    val aggs = ps.map { case (p, name) =>
      min(when(col("__cum") >= ceil(lit(p) * col("__n")), col("__v"))).as(name)
    }
    cum.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
  }

  /** DPO/RLHF preference-pair construction (Rafailov et al. 2023 train
    * on (prompt, chosen, rejected) triples): per `groupCol` (the
    * prompt), chosen = the row with the lexicographically greatest
    * `(score, id)` struct, rejected = the least; groups with fewer
    * than two candidates or a score margin below `minMargin` are
    * dropped (margin filtering is the standard pair-quality gate —
    * near-tied pairs teach the reward model nothing).
    *
    * Scale shape: ONE shuffle — a groupBy whose max/min structs
    * partial-aggregate map-side, so each partition contributes at most
    * one candidate pair per prompt regardless of responses-per-prompt;
    * no window, no per-group sort, no driver collect. Ties on score
    * break deterministically by id (chosen toward the larger id,
    * rejected toward the smaller), so the output is
    * partitioning-invariant. */
  def preferencePairs(df: DataFrame, groupCol: String, scoreCol: Column,
                      idCol: String, minMargin: Double): DataFrame = {
    val g = df.groupBy(col(groupCol)).agg(
      max(struct(scoreCol.as("s"), col(idCol).as("i"))).as("__ch"),
      min(struct(scoreCol.as("s"), col(idCol).as("i"))).as("__rj"),
      count(lit(1)).as("__n"))
    g.where(col("__n") >= 2 &&
        (col("__ch.s") - col("__rj.s")) >= minMargin)
      .select(col(groupCol),
        col("__ch.i").as("chosen_id"), col("__rj.i").as("rejected_id"),
        round(col("__ch.s"), 6).as("chosen_score"),
        round(col("__rj.s"), 6).as("rejected_score"),
        round(col("__ch.s") - col("__rj.s"), 6).as("margin"))
  }
}

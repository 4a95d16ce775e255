package graft.operators

import graft.core.SmallInput
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** The one distributed running sum: grouped and global prefixes over an
  * ordered input, without a window sort in one task.
  *
  * `Window.partitionBy(g).orderBy(...)` puts every row of a group into ONE
  * task — fatal when the group cardinality is tiny (3–5 groups over a
  * 100 TB table = 3–5 tasks each sorting a third of the data) — and a
  * bare `Window.orderBy` sorts the whole input in one task. This operator
  * computes the same 1-based row number (and, more generally, running
  * sums) with:
  *
  *   1. a range repartition on (group ++ sort) — the only shuffle; rows of
  *      a group span many partitions but stay globally ordered across them;
  *   2. per-(partition, group) totals, streamed out of each sorted
  *      partition with no exchange — `partitions × groups` rows collected
  *      to the driver (KBs), turned into start offsets;
  *   3. a per-partition streaming pass adding offset + local running sum.
  *
  * The repartitioned input is pinned with `localCheckpoint` because passes
  * 2 and 3 must observe the identical partitioning (range sampling is not
  * replay-stable under recomputation); nothing enters the session's cache.
  *
  * ==Contract==
  *  - '''Eager''': unlike normal DataFrame transforms, calling these
  *    methods runs Spark jobs immediately (the checkpoint and the offset
  *    collect) — even if the result is only ever `.explain()`ed.
  *  - '''Group cardinality must be modest''': the driver holds one offset
  *    entry per (partition, group). The collect is bounded by
  *    `MaxOffsetEntries` and fails fast with a clear error beyond it;
  *    for high-cardinality groups use `Window.partitionBy` instead (its
  *    per-group sorts are fine when groups are small). No group columns
  *    is the global prefix, one entry per partition.
  *  - '''NULLs''': a NULL value adds nothing, and a sum stays NULL until
  *    the first non-NULL value of its group in sort order — SQL's
  *    `sum(v) OVER (PARTITION BY g ORDER BY s ROWS UNBOUNDED PRECEDING)`,
  *    at any partition count.
  */
object Ranking {

  /** Upper bound on (partition × group) offset entries collected to the
    * driver — ~1M entries is low tens of MB. Beyond this a plain window
    * is the right tool, so fail fast rather than risk driver OOM. */
  val MaxOffsetEntries: Int = 1 << 20

  /** Global 1-based row number of each row within its group under
    * `sortCols` — equivalent to
    * `row_number().over(Window.partitionBy(groupCols).orderBy(sortCols))`
    * but scale-safe for low-cardinality groups; no `groupCols` numbers
    * the whole input. Output rows additionally carry `outCol: Long`. */
  def withRowNumber(df: DataFrame, groupCols: Seq[String], sortCols: Seq[Column],
                    outCol: String, numPartitions: Int = 0): DataFrame =
    withRunningSum(df, groupCols, sortCols, Seq(lit(1L) -> outCol), numPartitions)

  /** For each `(value, out)` of `sums`, `out` is the running sum of
    * `value` (cast to long) within each group in `sortCols` order, up to
    * and including the current row; every sum comes from the same pass.
    * With `value = lit(1L)` this is `row_number`; no `groupCols` is the
    * global prefix. `sortCols` must break ties for a well-defined prefix. */
  def withRunningSum(df: DataFrame, groupCols: Seq[String], sortCols: Seq[Column],
                     sums: Seq[(Column, String)], numPartitions: Int = 0): DataFrame = {
    require(sums.nonEmpty, "Ranking.withRunningSum: no (value, out) sum given")
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val orderExprs = groupCols.map(col) ++ sortCols
    val vNames = sums.indices.map(i => s"__rank_v$i")
    val staged = sums.zip(vNames).foldLeft(df) { case (acc, ((v, _), n)) =>
      acc.withColumn(n, v.cast(LongType))
    }
    val sorted = staged
      .repartitionByRange(parts, orderExprs: _*)
      .sortWithinPartitions(orderExprs: _*)
      .localCheckpoint(true)

    // pass 1: per-(partition, group) totals. A group's rows are contiguous
    // in each sorted partition, so a partition streams out one row per
    // group it holds. The bounded collect caps the transfer, so a
    // mis-used high-cardinality key errors instead of OOMing the driver.
    val keyed = sorted.select((groupCols ++ vNames).map(col): _*)
    val gPos = groupCols.indices
    val vPos = vNames.indices.map(_ + groupCols.size)
    val totalsSchema = StructType(StructField("__pid", IntegerType) +:
      (keyed.schema.fields.take(groupCols.size) ++ vNames.map(StructField(_, LongType))))
    val totals = keyed.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      val rows = it.buffered
      Iterator.continually(rows).takeWhile(_.hasNext).map { _ =>
        val k = gPos.map(rows.head.get)
        val acc = new Array[java.lang.Long](vPos.size)
        while (rows.hasNext && gPos.map(rows.head.get) == k) addInto(acc, rows.next(), vPos)
        Row.fromSeq((pid +: k) ++ acc)
      }
    }(Encoders.row(totalsSchema))
    val perPartRows = SmallInput.collectAtMost(totals, MaxOffsetEntries)
    require(perPartRows.isDefined,
      s"Ranking.withRunningSum: more than $MaxOffsetEntries (partition × group) " +
      s"offset entries for groupCols=${groupCols.mkString(",")} — group cardinality " +
      "is too high for the driver-offset construction; use a plain " +
      "Window.partitionBy (per-group sorts are safe when groups are small)")

    // start offsets of (pid, group) = that group's totals in earlier
    // partitions, NULL while none of them held a value
    val offsets: Map[(Int, Seq[Any]), Array[java.lang.Long]] = perPartRows.get
      .map(r => (r.getInt(0), gPos.map(i => r.get(i + 1)), r))
      .groupBy(_._2)
      .iterator
      .flatMap { case (g, rows) =>
        val acc = new Array[java.lang.Long](vPos.size)
        rows.sortBy(_._1).map { case (pid, _, r) =>
          val entry = ((pid, g), acc.clone())
          addInto(acc, r, vPos.map(_ + 1))
          entry
        }
      }
      .toMap
    val bc = spark.sparkContext.broadcast(offsets)

    // pass 2: offset + running sums, streamed over each pinned partition
    val gIdx = groupCols.map(sorted.schema.fieldIndex)
    val vIdx = vNames.map(sorted.schema.fieldIndex)
    val outSchema = sums.zip(vIdx).foldLeft(sorted.schema) { case (sch, ((_, out), i)) =>
      sch.add(out, LongType, nullable = sorted.schema(i).nullable)
    }
    val out = sorted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      val off = bc.value
      var curKey: Seq[Any] = null
      var acc: Array[java.lang.Long] = null
      it.map { r =>
        val k = gIdx.map(r.get)
        if (curKey == null || k != curKey) {
          curKey = k
          acc = off.get((pid, k)).fold(new Array[java.lang.Long](vIdx.size))(_.clone())
        }
        addInto(acc, r, vIdx)
        Row.fromSeq(r.toSeq ++ acc)
      }
    }(Encoders.row(outSchema))
    out.drop(vNames: _*)
  }

  /** Adds the long at `r(idx(i))` into `acc(i)` for each i: a NULL adds
    * nothing, and `acc(i)` stays NULL until its first value. */
  private def addInto(acc: Array[java.lang.Long], r: Row, idx: Seq[Int]): Unit = {
    var i = 0
    while (i < acc.length) {
      if (!r.isNullAt(idx(i))) {
        val v = r.getLong(idx(i))
        acc(i) = if (acc(i) == null) v else acc(i).longValue + v
      }
      i += 1
    }
  }

  /** Exact type-1 discrete quantiles (value at rank `ceil(p*n)`) per
    * group, built from a distinct-value count table + distributed running
    * sum — no window, no per-group single-task sort. Returns one row per
    * group (one row in all with no `groupCols`) with one column per
    * requested (p, name). */
  def exactQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     ps: Seq[(Double, String)]): DataFrame = {
    val g = groupCols.map(col)
    val counts = df.groupBy(g :+ col(valueCol).as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val totals = df.groupBy(g: _*).agg(count(lit(1)).as("__n"))
    val cum = withRunningSum(counts, groupCols, Seq(col("__v")), Seq(col("__c") -> "__cum"))
      .join(broadcast(totals), groupCols)
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
    cum.groupBy(g: _*).agg(aggs.head, aggs.tail: _*)
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

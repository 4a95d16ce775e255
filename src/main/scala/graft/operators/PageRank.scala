package graft.operators

import graft.core.SmallInput
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Weighted PageRank over an edge table, in exact integer arithmetic.
  *
  * Why integers: float PageRank sums per-target contributions, and
  * float addition is not associative — the same graph can hash to
  * different low-order bits at different parallelism. Ranks here are
  * micro-units (1.0 == 1,000,000) and every step is integer multiply /
  * integer floor-divide / integer sum, all of which are exact and
  * order-independent — so the result is bit-identical at any partition
  * count AND replayable in ANSI SQL (the g01 gate unrolls the same
  * iterations as CTEs; `div` here == `//` in DuckDB on non-negatives).
  *
  * Update rule per iteration (damping 0.85 in fixed-point):
  *   contrib(e) = (rank(src) * w(e)) div out_w(src)
  *   rank'(v)   = 150000 + (85 * Σ contrib(in-edges of v)) div 100
  * Dangling mass is dropped (the standard simplification) and isolated
  * targets receive the base term only.
  *
  * Scale shape: the edge table is shuffled ONCE to attach per-source
  * out-weights, then persisted; each iteration is one join of edges
  * against the node-sized rank table (AQE broadcasts it when small —
  * host graphs are ~1e8 rows at CommonCrawl scale, still far below the
  * edge count) plus one aggregation keyed on dst. Rank lineage is
  * truncated every iteration with an eager localCheckpoint (the CC
  * loop's convention — ConnectedComponents.scala — made eager because
  * no other per-round action exists here) so plans stay flat over many
  * iterations. A graph of at most [[SmallInput.SmallGraphEdges]]
  * cleaned edges skips the loop and folds on the driver instead (the
  * [[SmallInput]] switch); every step of the update rule is exact integer
  * arithmetic, so the two paths are bit-identical — UrlPageRankSpec pins
  * it. The reference has no graph stage; this backs host-level quality
  * weighting (harmonic-centrality-style corpus curation).
  */
object PageRank {

  /** Driver replay of the exact integer update rule over the collected
    * EDGE ROWS (multi-edges preserved: `(rank*w) div out_w` truncates
    * PER EDGE, so parallel edges must contribute separately exactly as
    * the distributed join does). Integer sums are order-independent,
    * so grouping order cannot move a bit. */
  private def runDriver(edges: Array[(String, String, Long)], iterations: Int,
                        baseMicro: Long, dampPct: Long,
                        spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val outW = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iterations) {
      val inSum = edges.groupBy(_._2).map { case (d, es) =>
        // all operands non-negative, so Long./ (truncation toward zero)
        // == SQL `div` == DuckDB floor `//`
        d -> es.map(e => rank(e._1) * e._3 / outW(e._1)).sum
      }
      rank = nodes.map(n =>
        n -> (baseMicro + dampPct * inSum.getOrElse(n, 0L) / 100L)).toMap
    }
    nodes.map(n => (n, rank(n))).toSeq.toDF("node", "rank_micro")
  }

  /** @param edges (src: string, dst: string, w: long) — self-loops and
    *              non-positive weights are dropped defensively.
    * @return (node: string, rank_micro: long) */
  def run(edges: DataFrame, iterations: Int = 5,
          baseMicro: Long = 150000L, dampPct: Long = 85L,
          smallGraphEdges: Long = SmallInput.SmallGraphEdges): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = edges.select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"), col("w").cast("long").as("w"))
      .where(col("src") =!= col("dst") && col("w") > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val small = SmallInput.collectAtMost(e, smallGraphEdges)
    if (small.isDefined) {
      val collected = small.get.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val out = runDriver(collected, iterations, baseMicro, dampPct, edges.sparkSession)
      e.unpersist()
      return out
    }
    val outW = e.groupBy("src").agg(sum("w").as("out_w"))
    val withOut = e.join(outW, "src")
      .select("src", "dst", "w", "out_w")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    var ranks = nodes.withColumn("rank_micro", lit(1000000L))
    for (_ <- 1 to iterations) {
      // `div` is SQL integral division (truncating); all operands here
      // are non-negative, so it coincides with DuckDB's floor `//`.
      val contrib = withOut
        .join(ranks, withOut("src") === ranks("node"))
        .selectExpr("dst", "(rank_micro * w) div out_w AS c")
      val inSum = contrib.groupBy("dst").agg(sum("c").as("in_c"))
      ranks = nodes.join(inSum, nodes("node") === inSum("dst"), "left")
        .select(col("node"), coalesce(col("in_c"), lit(0L)).as("in_c"))
        .selectExpr("node",
          s"$baseMicro + ($dampPct * in_c) div 100 AS rank_micro")
        // EAGER: unlike the CC loop there is no per-round action here,
        // so an eager checkpoint both truncates lineage and keeps the
        // persisted edge table alive while it is still useful.
        .localCheckpoint(true)
    }
    val out = ranks
    e.unpersist()
    withOut.unpersist()
    nodes.unpersist()
    out
  }
}

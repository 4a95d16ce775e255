package graft.operators

import graft.core.SmallInput
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** HITS (hubs & authorities, Kleinberg '99) over an edge table, in
  * exact max-normalized integer arithmetic.
  *
  * Same exactness rationale as [[PageRank]]: float HITS sums
  * contributions in shuffle order, so low-order bits vary with
  * parallelism. Here scores are micro-units (1.0 == 1,000,000) and each
  * half-iteration is integer multiply / integer sum followed by an
  * exact max-normalization `(v * 1e6) div max` — order-independent,
  * bit-identical at any partition count, and replayable in ANSI SQL
  * (the g03 gate unrolls the same iterations as CTEs with a scalar
  * max subquery; `div` == DuckDB `//` on non-negatives).
  *
  * Classic HITS normalizes by the L2 norm; max-normalization is the
  * standard integer-friendly substitute and preserves the ranking
  * (both are positive scalings). Without SOME normalization the
  * scores grow as (principal eigenvalue)^k — graph-size-dependent and
  * overflow-prone at corpus scale, so the normalized form is also the
  * one that survives 100 TB.
  *
  * Update rule per iteration (weights w respected on both passes):
  *   auth~(v) = Σ_{(u,v,w)} hub(u)  * w ; auth(v) = (auth~ * 1e6) div max(auth~)
  *   hub~(u)  = Σ_{(u,v,w)} auth(v) * w ; hub(u)  = (hub~  * 1e6) div max(hub~)
  *
  * Scale shape: edges are cleaned and persisted once; each
  * half-iteration is one join of the edge table against the node-sized
  * score table (AQE broadcasts it — node tables are orders of magnitude
  * smaller than edge tables for web graphs) plus one keyed aggregation
  * and one scalar max (a tiny all-to-one agg on the NODE table, not the
  * edge table). Score lineage is truncated per iteration with an eager
  * localCheckpoint, the PageRank/CC convention. A graph of at most
  * [[SmallInput.SmallGraphEdges]] cleaned edges skips the loop and folds
  * on the driver instead (the [[SmallInput]] switch); the integer
  * max-normalized update rule is order-independent, so the two paths
  * are bit-identical. The reference has no graph stage; this backs
  * hub/authority-style host curation next to g01's PageRank.
  */
object Hits {

  /** Driver replay of the exact integer update rule — same micro-unit
    * multiply / sum / `(v * 1e6) div max` per half-iteration, summed
    * over a sorted edge list (integer sums are order-independent
    * anyway; the sort just makes that visible). */
  private def runDriver(edges: Array[(String, String, Long)],
                        iterations: Int, spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    var hub = nodes.map(_ -> 1000000L).toMap
    var auth = Map.empty[String, Long]
    def normalize(raw: Map[String, Long]): Map[String, Long] = {
      val full = nodes.map(n => n -> raw.getOrElse(n, 0L)).toMap
      val mx = full.values.max
      if (mx <= 0L) full else full.map { case (n, v) => n -> (v * 1000000L) / mx }
    }
    for (_ <- 1 to iterations) {
      val authRaw = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => hub(e._1) * e._3).sum }
      auth = normalize(authRaw)
      val hubRaw = edges.groupBy(_._1).map { case (s, es) =>
        s -> es.map(e => auth(e._2) * e._3).sum }
      hub = normalize(hubRaw)
    }
    nodes.map(n => (n, auth.getOrElse(n, 0L), hub.getOrElse(n, 0L))).toSeq
      .toDF("node", "auth_micro", "hub_micro")
  }

  /** @param edges (src: string, dst: string, w: long) — self-loops and
    *              non-positive weights dropped defensively.
    * @return (node: string, auth_micro: long, hub_micro: long) */
  def run(edges: DataFrame, iterations: Int = 2,
          smallGraphEdges: Long = SmallInput.SmallGraphEdges): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = edges.select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"), col("w").cast("long").as("w"))
      .where(col("src") =!= col("dst") && col("w") > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val small = SmallInput.collectAtMost(e, smallGraphEdges)
    if (small.isDefined) {
      val collected = small.get.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val out = runDriver(collected, iterations, edges.sparkSession)
      e.unpersist()
      return out
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // (score * 1e6) div max — max of a non-empty non-negative column;
    // a graph with edges always has a positive max (hub starts at 1e6).
    def maxNormalize(scores: DataFrame, c: String): DataFrame = {
      val mx = scores.agg(max(col(c)).as("__mx"))
      scores.crossJoin(broadcast(mx))
        // `div` (integral division), NOT `/` — Column./ on longs
        // widens to double and would reintroduce float jitter
        .selectExpr("node", s"($c * 1000000) div __mx AS $c")
    }

    var hub = nodes.withColumn("hub_micro", lit(1000000L))
    var auth = nodes.withColumn("auth_micro", lit(0L))
    for (_ <- 1 to iterations) {
      val authRaw = e.join(hub, e("src") === hub("node"))
        .select(e("dst").as("node"), (col("hub_micro") * col("w")).as("c"))
        .groupBy("node").agg(sum("c").as("auth_micro"))
      auth = maxNormalize(
        nodes.join(authRaw, Seq("node"), "left")
          .select(col("node"), coalesce(col("auth_micro"), lit(0L)).as("auth_micro")),
        "auth_micro").localCheckpoint(true)
      val hubRaw = e.join(auth, e("dst") === auth("node"))
        .select(e("src").as("node"), (col("auth_micro") * col("w")).as("c"))
        .groupBy("node").agg(sum("c").as("hub_micro"))
      hub = maxNormalize(
        nodes.join(hubRaw, Seq("node"), "left")
          .select(col("node"), coalesce(col("hub_micro"), lit(0L)).as("hub_micro")),
        "hub_micro").localCheckpoint(true)
    }
    val out = auth.join(hub, "node")
      .select("node", "auth_micro", "hub_micro")
    e.unpersist(); nodes.unpersist()
    out
  }
}

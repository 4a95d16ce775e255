package graft.core

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** The small-input switch: the one place that decides whether an input
  * is small enough to fold on the driver.
  *
  * The graph operators (ConnectedComponents, Hits, PageRank) fold a
  * graph of at most [[SmallGraphEdges]] edges on the driver and run
  * their distributed loop above it. Each probes with [[collectAtMost]],
  * whose one bounded collect both picks the side and, on the driver
  * side, hands over the rows to fold — the input runs once, and a large
  * input is never collected past the bound. A fold's output is a local
  * relation ([[isLocal]]), so what follows can stay on the driver too:
  * `Dedup.loserMap` picks each folded component's winner there and
  * hands back a local loser list. `Dedup.lshLosers` (the LSH tail of the
  * clustering step and `minhashLsh`) folds its buckets there while they
  * stay small: at most `SmallGraphEdges` bucket-member rows, as many
  * distinct pairs, and in verified mode 8 x `SmallGraphEdges` signature
  * values. Measured in a test JVM, those bounds hold 33 MB (200k
  * (band_id, band_hash, sha1 id) rows), 14 MB (200k pairs of shared
  * sha1 ids) and 50 MB (12,500 signatures of k = 128).
  * `Ranking.withRunningSum`, the one distributed running sum (grouped or
  * global), bounds its per-(partition, group) offset collect with the
  * same probe and its own limit, `MaxOffsetEntries`, and fails past it
  * instead of switching. The reference folds every
  * graph on the driver (reference: src/llm_data_pipeline/dedup/
  * dedup.py:103-121); here that is strictly a bounded fallback.
  */
object SmallInput {

  /** Edge-count bound for the driver fold of the graph operators: 200k
    * edges is a few MB collected — model-sized, not corpus-sized. Below
    * it, an iterative distributed loop would spend seconds of pure job
    * scheduling (per-round checkpoints and shuffles) on a graph the
    * driver resolves in milliseconds; above it, the distributed loop
    * runs. Each driver fold gives the output of its distributed loop
    * (`ConnectedComponents.runOnStrings`: the same grouping, labelled by
    * the string minimum), so the bound moves time, not results. */
  val SmallGraphEdges: Long = 200000L

  /** The rows of `ds` when there are at most `bound` of them, else None.
    * One `limit(bound + 1).collect()`: the driver never holds more than
    * `bound + 1` rows. `bound` is clamped to `Int.MaxValue - 1`, the most
    * rows one collect can return. */
  def collectAtMost[T](ds: Dataset[T], bound: Long): Option[Array[T]] = {
    val n = math.min(bound, Int.MaxValue - 1L)
    val rows = ds.limit((n + 1L).toInt).collect()
    if (rows.length <= n) Some(rows) else None
  }

  /** Whether `df` is already on the driver: its optimized plan is a local
    * relation, such as a driver fold's output, which collects without a
    * job and broadcasts by its true size. */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
}

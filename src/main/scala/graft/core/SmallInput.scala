package graft.core

import org.apache.spark.sql.Dataset

/** The small-input switch: the one place that decides whether an input
  * is small enough to fold on the driver.
  *
  * The graph operators (ConnectedComponents, Hits, PageRank) fold a
  * graph of at most [[SmallGraphEdges]] edges on the driver and run
  * their distributed loop above it. Each probes with [[collectAtMost]],
  * whose one bounded collect both picks the side and, on the driver
  * side, hands over the rows to fold — the input runs once, and a large
  * input is never collected past the bound. `Ranking.withRunningSum`
  * bounds its offset collect with the same probe and its own limit, and
  * fails past it instead of switching. The reference folds every
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
}

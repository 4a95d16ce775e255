package graft.operators

import graft.core.SmallInput
import graft.core.SmallInput.SmallGraphEdges
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over an edge list.
  *
  * Replaces the reference's driver-side union-find
  * (reference: src/llm_data_pipeline/dedup/dedup.py:103-121), which
  * materializes every edge on one machine — a non-starter at 100 TB.
  * Here labels converge by alternating large-star / small-star rounds
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14): O(log n) rounds, each a pair of ordinary shuffles, with
  * `localCheckpoint` to truncate lineage between rounds.
  *
  * Input : edges DataFrame with two Long columns `src`, `dst`.
  * Output: DataFrame(`id` Long, `component` Long) — component is the
  *         minimum vertex id in the component, for every vertex that
  *         appears in at least one edge.
  */
object ConnectedComponents {

  /** One large-star round: every node points its larger neighbors at the
    * minimum of its neighborhood (including itself).
    *
    * Implemented as min-aggregate + join rather than collect_set so the
    * per-group state is one long even when a component hub has millions
    * of neighbors — the same bounded-memory discipline as the LSH
    * bucket-star construction. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min(least(col("dst"), col("src"))).as("m"))
    sym.join(mins, "src")
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .where(col("src") =!= col("dst"))
      // no distinct here: smallStar's aggregation absorbs duplicates
  }

  /** One small-star round: every node connects its not-larger neighbors
    * (and itself) to the minimum among them. Bounded group state for the
    * same reason as largeStar. */
  private def smallStar(edges: DataFrame): DataFrame = {
    // orient so src >= dst
    val oriented = edges.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val mins = oriented.groupBy("src").agg(min(col("dst")).as("m"))
    val viaNbrs = oriented.join(mins, "src")
      .where(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
    val self = mins.where(col("src") =!= col("m"))
      .select(col("src"), col("m").as("dst"))
    viaNbrs.union(self).distinct()
  }

  /** Deterministic convergence fingerprint of an edge set. */
  private def signature(edges: DataFrame): (Long, Long) = {
    val row = edges.agg(
      count(lit(1)).as("n"),
      coalesce(sum(hash(col("src"), col("dst")).cast("long")), lit(0L)).as("h")
    ).head()
    (row.getLong(0), row.getLong(1))
  }

  /** String-keyed variant (e.g. sha1 doc_ids). At most `smallGraphEdges`
    * pairs fold on the driver: the id-mapping machinery — distinct ids +
    * eager checkpoint + four joins — costs more scheduling than the whole
    * graph costs to fold there, and the probe's one bounded collect feeds
    * the fold, so the pair lineage runs once. Union-by-min over the
    * STRING order makes that labeling deterministic (the mapped path's
    * labels are monotonic-id-arbitrary; callers only group on them).
    *
    * Above the bound, ids map to dense longs via a checkpointed mapping
    * table, the star loop runs, and the labels map back. Two
    * broadcast-friendly joins — no driver materialization, and no
    * hash-collision risk at 10^9+ vertices (unlike hashing ids to 64
    * bits directly). */
  def runOnStrings(pairs: DataFrame,
                   smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    import org.apache.spark.sql.functions.monotonically_increasing_id
    val spark = pairs.sparkSession
    import spark.implicits._
    val small = SmallInput.collectAtMost(
      pairs.select(col("src").cast("string"), col("dst").cast("string")).as[(String, String)],
      smallGraphEdges)
    if (small.isDefined) return unionFind(small.get).toDF("id", "component")
    // localCheckpoint (not persist+count): monotonically_increasing_id is
    // nondeterministic under recomputation, and this mapping feeds TWO
    // joins below — if an executor-loss/cache-eviction recompute reassigned
    // ids between them, components would silently diverge. Checkpointing
    // materializes the assignment so recompute replays stored blocks.
    val ids = pairs.select(col("src").as("sid"))
      .union(pairs.select(col("dst").as("sid"))).distinct()
      .withColumn("nid", monotonically_increasing_id())
      .localCheckpoint(true)
    val p2 = pairs
      .join(ids.select(col("sid").as("src"), col("nid").as("nsrc")), "src")
      .join(ids.select(col("sid").as("dst"), col("nid").as("ndst")), "dst")
      .select(col("nsrc").as("src"), col("ndst").as("dst"))
    starLoop(cleanEdges(p2), maxIterations = 20)
      .join(ids.select(col("nid").as("id"), col("sid").as("id_str")), "id")
      .join(ids.select(col("nid").as("component"), col("sid").as("component_str")), "component")
      .select(col("id_str").as("id"), col("component_str").as("component"))
  }

  /** Driver union-find with path compression; union-by-min keeps every
    * root the minimum id of its component, so the output labeling is
    * IDENTICAL to the distributed loop's (id -> component-min, one row
    * per node that appears in any edge). */
  private def unionFind[T](edges: Iterable[(T, T)])(implicit ord: Ordering[T]): Seq[(T, T)] = {
    val parent = scala.collection.mutable.HashMap[T, T]()
    def find(x: T): T = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toSeq.map(k => (k, find(k)))
  }

  /** Long `src`/`dst` edges without self-loops or duplicates, persisted
    * (the star loop unpersists it). */
  private def cleanEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** At most `smallGraphEdges` distinct non-self-loop edges fold on the
    * driver (the [[SmallInput]] switch); above it the star loop runs. */
  def run(edges: DataFrame, maxIterations: Int = 20,
          smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val cur = cleanEdges(edges)
    SmallInput.collectAtMost(cur.as[(Long, Long)], smallGraphEdges) match {
      case Some(es) => cur.unpersist(); unionFind(es).toDF("id", "component")
      case None => starLoop(cur, maxIterations)
    }
  }

  /** The distributed alternating-star loop over persisted clean edges
    * (see [[cleanEdges]]); unpersists them as the rounds replace them. */
  private def starLoop(edges: DataFrame, maxIterations: Int): DataFrame = {
    var cur = edges
    var sig = signature(cur) // (edge count, hash)
    var converged = false
    var it = 0
    while (!converged && it < maxIterations) {
      // LAZY checkpoint: the signature action right below materializes
      // it, truncating lineage exactly like an eager checkpoint without
      // spending a separate job per round on materialization. (Measured
      // neutral at sf0.1 — the rounds are shuffle-bound, not job-count
      // bound — but one fewer scheduled job per round is free.)
      val next = smallStar(largeStar(cur)).localCheckpoint(false)
      val nextSig = signature(next)
      cur.unpersist()
      cur = next
      converged = nextSig == sig
      sig = nextSig
      it += 1
    }
    if (!converged)
      System.err.println(
        s"[graft] WARN ConnectedComponents: not converged after $maxIterations rounds; " +
          "taking min label per node (components may be under-merged)")
    // After convergence every edge is (node -> component-min). Nodes that
    // ARE the minimum appear only on the dst side; add their self-mapping.
    // min() guard guarantees exactly one row per id even if the loop was
    // cut off before convergence (a node pointing at two minima would
    // otherwise duplicate rows through downstream joins).
    val assign = cur.groupBy(col("src").as("id")).agg(min(col("dst")).as("component"))
    val roots = cur.select(col("dst").as("id")).distinct()
      .join(assign.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    assign.union(roots)
  }
}

package graft

import graft.operators.ConnectedComponents
import org.apache.spark.sql.functions._

import scala.util.Random

/** Property test: alternating-star connected components must agree with a
  * driver-side union-find (the reference's algorithm,
  * reference: src/llm_data_pipeline/dedup/dedup.py:103-121) on random
  * graphs of varying density, including chains (worst-case diameter). */
class ConnectedComponentsSpec extends SparkSpec {

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min member per component
    val members = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = members.groupBy(find)
    byRoot.flatMap { case (_, ms) => val m = ms.min; ms.map(_ -> m) }.toMap
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    val want = unionFind(0, edges)
    // default path (small graphs take the bounded driver fallback)
    val got = ConnectedComponents.run(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"edges=$edges")
    // distributed alternating-star path, forced (fallback disabled) —
    // both labelings must be identical
    val gotDist = ConnectedComponents.run(df, smallGraphEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist == want, s"distributed path, edges=$edges")
    // at the exact bound (the cleaned edge count) the graph still folds
    // on the driver; one below, the star loop runs — same labeling
    val cleaned = edges.filter(e => e._1 != e._2).distinct.size.toLong
    for ((bound, folds) <- Seq(cleaned -> true, (cleaned - 1) -> false)) {
      val out = ConnectedComponents.run(df, smallGraphEdges = bound)
      assert(foldedOnDriver(out) == folds, s"bound=$bound, edges=$edges")
      assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want,
        s"bound=$bound, edges=$edges")
    }
  }

  test("two disjoint pairs") { check(Seq((1L, 2L), (3L, 4L))) }

  test("chain merges to single component") {
    check((1L to 20L).sliding(2).map(s => (s(0), s(1))).toSeq)
  }

  test("reverse-ordered chain") {
    check((1L to 15L).sliding(2).map(s => (s(1), s(0))).toSeq)
  }

  test("star and self-loops and duplicates") {
    check(Seq((5L, 1L), (5L, 2L), (5L, 3L), (1L, 1L), (2L, 5L), (5L, 2L)))
  }

  test("empty edge set yields empty labeling") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(ConnectedComponents.run(empty).count() == 0)
    val emptyStr = Seq.empty[(String, String)].toDF("src", "dst")
    assert(ConnectedComponents.runOnStrings(emptyStr).count() == 0)
  }

  test("runOnStrings id assignment is recompute-stable (checkpointed mapping)") {
    import spark.implicits._
    // sha1-ish string keys in two components; the nid mapping feeds two
    // separate joins — if recomputation could reassign ids between them
    // (the old persist+count pinning), components would silently diverge.
    val pairs = Seq(
      ("aaa", "bbb"), ("bbb", "ccc"), ("xxx", "yyy"), ("yyy", "zzz"), ("ccc", "aaa"))
      .toDF("src", "dst")
    def run() = ConnectedComponents.runOnStrings(pairs, smallGraphEdges = 0L).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val first = run()
    // representative is the min *dense id* (assignment-order dependent),
    // so assert the grouping, not the representative identity
    val groups = first.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(groups == Set(Set("aaa", "bbb", "ccc"), Set("xxx", "yyy", "zzz")))
    first.foreach { case (id, comp) => assert(first(comp) == comp, s"$id -> $comp not a root") }
    // second full evaluation (fresh checkpoint) must agree exactly
    assert(run() == first)
  }

  test("runOnStrings driver fast path groups like the mapped distributed path") {
    import spark.implicits._
    val pairs = Seq(
      ("aaa", "bbb"), ("bbb", "ccc"), ("xxx", "yyy"), ("yyy", "zzz"),
      ("ccc", "aaa"), ("solo1", "solo2")).toDF("src", "dst")
    def groupsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1))
        .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    // default: driver union-find (graph under SmallGraphEdges). The
    // label is now the lexicographic min; the grouping must equal the
    // mapped path's, which the recompute-stability test above pins.
    val fast = ConnectedComponents.runOnStrings(pairs)
    assert(groupsOf(fast) ==
      Set(Set("aaa", "bbb", "ccc"), Set("xxx", "yyy", "zzz"), Set("solo1", "solo2")))
    // driver path labels by string-min root
    val m = fast.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("bbb") == "aaa" && m("zzz") == "xxx" && m("solo2") == "solo1")
  }

  test("runOnStrings regime switch: smallGraphEdges edges fold on the driver, one more does not") {
    import spark.implicits._
    val k = 5
    val hits = spark.sparkContext.longAccumulator("pairRows")
    // a filter, so that no action (a count included) can prune it away
    val tick = udf { (_: Long) => hits.add(1); true }.asNondeterministic()
    // a chain of `edges` edges over string ids; every row it yields ticks `hits`
    def chain(edges: Int) = spark.range(0, edges, 1, 1).filter(tick(col("id")))
      .select(format_string("n%02d", col("id")).as("src"),
        format_string("n%02d", col("id") + 1).as("dst"))
    def members(edges: Int) = (0 to edges).map(i => f"n$i%02d").toSet
    def groupsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String)].collect().groupBy(_._2).values.map(_.map(_._1).toSet).toSet

    val atBound = ConnectedComponents.runOnStrings(chain(k), smallGraphEdges = k)
    // driver fold: a local result, and the pair lineage ran exactly once
    assert(foldedOnDriver(atBound))
    assert(hits.value == k)
    assert(groupsOf(atBound) == Set(members(k)))

    val over = ConnectedComponents.runOnStrings(chain(k + 1), smallGraphEdges = k)
    assert(!foldedOnDriver(over))
    assert(groupsOf(over) == Set(members(k + 1)))
  }

  test("random graphs match union-find") {
    val rnd = new Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + trial * 10
      val m = n / 2 + rnd.nextInt(n)
      val edges = (1 to m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      check(edges)
    }
  }
}

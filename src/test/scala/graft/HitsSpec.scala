package graft

import graft.operators.Hits

class HitsSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference of the exact integer update rule. */
  private def reference(edges: Seq[(String, String, Long)], iters: Int)
      : Map[String, (Long, Long)] = {
    val e = edges.filter { case (s, d, w) => s != d && w > 0 }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    var hub = nodes.map(_ -> 1000000L).toMap
    var auth = nodes.map(_ -> 0L).toMap
    def normalize(m: Map[String, Long]): Map[String, Long] = {
      val mx = m.values.max
      m.map { case (k, v) => k -> v * 1000000L / mx }
    }
    for (_ <- 1 to iters) {
      auth = normalize(nodes.map { n =>
        n -> e.collect { case (s, d, w) if d == n => hub(s) * w }.sum
      }.toMap)
      hub = normalize(nodes.map { n =>
        n -> e.collect { case (s, d, w) if s == n => auth(d) * w }.sum
      }.toMap)
    }
    nodes.map(n => n -> ((auth(n), hub(n)))).toMap
  }

  private val graph = Seq(
    ("a", "b", 1L), ("a", "c", 2L), ("b", "c", 1L), ("d", "c", 5L),
    ("c", "a", 1L), ("e", "a", 3L), ("e", "b", 1L),
    ("a", "a", 9L), // self-loop: dropped
    ("b", "d", 0L)) // non-positive weight: dropped

  test("hits matches the exact integer reference update") {
    val got = Hits.run(graph.toDF("src", "dst", "w"), iterations = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == reference(graph, 2))
  }

  test("hits is partition-invariant and deterministic across runs") {
    val df = graph.toDF("src", "dst", "w")
    val r1 = Hits.run(df.repartition(1), iterations = 2)
      .orderBy("node").collect().toSeq
    val r7 = Hits.run(df.repartition(7), iterations = 2)
      .orderBy("node").collect().toSeq
    assert(r1 == r7)
  }

  test("hits: driver fast path and distributed loop are bit-identical") {
    // smallGraphEdges = 0 forces the distributed alternating loop; the
    // default takes the driver fold on this model-sized graph — the
    // driver fold must not move a single micro-unit. At the exact bound
    // (the cleaned edge count) the graph still folds; one below, it does not.
    val df = graph.toDF("src", "dst", "w")
    val cleaned = graph.count { case (s, d, w) => s != d && w > 0 }.toLong
    def run(bound: Long) = Hits.run(df, iterations = 2, smallGraphEdges = bound)
    val fast = Hits.run(df, iterations = 2)
      .orderBy("node").collect().toSeq
    val dist = run(0L).orderBy("node").collect().toSeq
    assert(fast == dist)
    val atBound = run(cleaned)
    assert(foldedOnDriver(atBound))
    assert(atBound.orderBy("node").collect().toSeq == dist)
    val below = run(cleaned - 1)
    assert(!foldedOnDriver(below))
    assert(below.orderBy("node").collect().toSeq == dist)
  }

  test("hits: authority mass follows in-links, hub mass follows out-links") {
    val got = Hits.run(graph.toDF("src", "dst", "w"), iterations = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // c has the dominant weighted in-degree -> top authority (1e6 after
    // max-normalization); d points only at c with weight 5 -> top hub.
    assert(got("c")._1 == 1000000L)
    assert(got.values.map(_._1).max == 1000000L)
    assert(got("d")._2 == 1000000L)
    // e points at a and b (weaker authorities) -> positive but smaller hub
    assert(got("e")._2 > 0 && got("e")._2 < got("d")._2)
  }
}

package graft

import graft.functions.UrlFunctions
import graft.operators.PageRank
import org.apache.spark.sql.functions._

class UrlPageRankSpec extends SparkSpec {
  import spark.implicits._

  private def parts(url: String): (String, String, String, String, String) = {
    val df = Seq(url).toDF("u").select(
      UrlFunctions.scheme(col("u")).as("s"),
      UrlFunctions.host(col("u")).as("h"),
      UrlFunctions.path(col("u")).as("p"),
      UrlFunctions.query(col("u")).as("q"))
      .withColumn("rd", UrlFunctions.registeredDomain(col("h")))
    val r = df.collect()(0)
    (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4))
  }

  test("url decomposition covers scheme/host/port/path/query/fragment") {
    assert(parts("https://cdn.news.bbc.co.uk:8080/a/b/c?x=1&y=2#frag") ==
      (("https", "cdn.news.bbc.co.uk", "/a/b/c", "x=1&y=2", "bbc.co.uk")))
    assert(parts("http://www.example.com/") ==
      (("http", "www.example.com", "/", "", "example.com")))
    // no scheme => no authority recognized
    assert(parts("example.com/a") == (("", "", "", "", "")))
    // bare suffix-less host
    assert(parts("https://localhost/x") == (("https", "localhost", "/x", "", "")))
  }

  test("pathDepth and paramCount") {
    val r = Seq(("/a/b/c", "x=1&y=2&z=3"), ("/", ""), ("", "solo=1"))
      .toDF("p", "q")
      .select(UrlFunctions.pathDepth(col("p")).as("d"),
        UrlFunctions.paramCount(col("q")).as("n"))
      .as[(Int, Int)].collect().toSeq
    assert(r == Seq((3, 3), (0, 0), (0, 1)))
  }

  /** Scala reference: the same integer fixed-point update, computed
    * single-threaded over in-memory maps. */
  private def refRank(edges: Seq[(String, String, Long)], iters: Int): Map[String, Long] = {
    val e = edges.filter { case (s, d, w) => s != d && w > 0 }
    val outW = e.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _, w) => rank(s) * w / outW(s) }.sum
      }
      rank = nodes.map(n => n -> (150000L + 85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    rank
  }

  test("PageRank matches single-threaded integer reference and is partition-invariant") {
    val edges = (1L to 300L).map(i => (s"h${i % 13}", s"h${(i * 5) % 17}", i % 4 + 1))
    val df = edges.toDF("src", "dst", "w")
    val expected = refRank(edges, 3)
    val got = PageRank.run(df, iterations = 3)
      .as[(String, Long)].collect().toMap
    assert(got == expected)
    val got7 = PageRank.run(df.repartition(7), iterations = 3)
      .as[(String, Long)].collect().toMap
    assert(got7 == expected)
  }

  test("blocked levenshtein near-dup keeps first occurrence, drops near matches in-block") {
    // mirror of the d57 gate pipeline on hand data: b is 2 edits from a
    // (same block), c shares the block but is far, d is near a but in
    // ANOTHER block (different source) so blocking must NOT pair it
    val df = Seq(
      (1L, "s1", "alpha beta gamma delta"),
      (2L, "s1", "alpha beta gamma delt!"),
      (3L, "s1", "zzzz yyyy xxxx wwww qq"),
      (4L, "s2", "alpha beta gamma delta")
    ).toDF("doc_id", "source", "text")
    val pref = substring(regexp_replace(lower(trim(col("text"))), "\\s+", " "), 1, 40)
    val base = df.select(col("doc_id"), col("source"), pref.as("p"))
      .withColumn("blk", floor(length(col("p")) / 8))
    val a = base.select(col("source"), col("blk"), col("doc_id").as("src"), col("p").as("pa"))
    val b = base.select(col("source"), col("blk"), col("doc_id").as("dst"), col("p").as("pb"))
    val dup = a.join(b, Seq("source", "blk"))
      .where(col("dst") < col("src") && levenshtein(col("pa"), col("pb")) <= 5)
      .select(col("src").as("doc_id")).distinct()
    val kept = base.join(dup, Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("PageRank: driver fast path and distributed loop are bit-identical") {
    // smallGraphEdges = 0 forces the distributed iterative loop; the
    // default takes the driver fold on this model-sized graph — the
    // driver fold must not move a single micro-unit. Multi-edges
    // included: (rank*w) div out_w truncates PER EDGE ROW, so parallel
    // edges are the case a naive weight-merge would get wrong.
    val edges = (1L to 300L).map(i => (s"h${i % 13}", s"h${(i * 5) % 17}", i % 4 + 1)) ++
      Seq(("h1", "h2", 3L), ("h1", "h2", 3L)) // parallel edges
    // At the exact bound (the cleaned edge count) the graph still folds;
    // one below, it does not.
    val df = edges.toDF("src", "dst", "w")
    val cleaned = edges.count { case (s, d, w) => s != d && w > 0 }.toLong
    def run(bound: Long) = PageRank.run(df, iterations = 3, smallGraphEdges = bound)
    val fast = PageRank.run(df, iterations = 3)
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

  test("PageRank drops self-loops and isolated targets get base rank only") {
    val df = Seq(("a", "a", 5L), ("a", "b", 1L)).toDF("src", "dst", "w")
    val got = PageRank.run(df, iterations = 1).as[(String, Long)].collect().toMap
    // self-loop gone: a has out_w 1 edge to b; b gets 150000 + 85*1000000/100
    assert(got == Map("a" -> 150000L, "b" -> 1000000L))
  }
}

package graft

import graft.operators.{ConnectedComponents, Dedup}
import graft.operators.Dedup.MinHashConfig
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._
import scala.util.Random

/** The LSH near-dup tail gives the same losers in every regime: at or
  * below the small-input bound `Dedup.lshLosers` (in star mode its bucket
  * fold) and `Dedup.loserMap` over `Dedup.lshPairs` fold on the driver
  * and return a local loser relation; one below the pair count the
  * distributed components and `Dedup.pickLosers` run. */
class LoserFoldSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("doc_id", StringType),
    StructField("signature", ArrayType(LongType)), StructField("length", LongType)))

  /** `clusters` near-dup groups of 1 to `maxSize` members (each differs from
    * its group's base signature in up to `maxEdits` of 128 positions),
    * lengths from a small range so that ties are common, plus
    * `nullSigs` documents without a signature. */
  private def corpus(seed: Int, clusters: Int, maxEdits: Int, nullSigs: Int = 0,
                     maxSize: Int = 5): DataFrame = {
    val rnd = new Random(seed)
    val docs = (0 until clusters).flatMap { c =>
      val base = Array.fill(128)(rnd.nextLong())
      (0 until 1 + rnd.nextInt(maxSize)).map { m =>
        val sig = base.clone()
        (0 until rnd.nextInt(maxEdits + 1)).foreach(_ => sig(rnd.nextInt(128)) = rnd.nextLong())
        Row(s"d${c * 7 + m}", sig.toSeq, (1 + rnd.nextInt(3)).toLong)
      }
    } ++ (0 until nullSigs).map(i => Row(s"n$i", null, 5L))
    spark.createDataFrame(docs.asJava, schema)
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Both regimes' losers, after checking that they agree (the loser map
    * and the kept rows). */
  private def bothRegimes(df: DataFrame, cfg: MinHashConfig,
                          rank: Option[Column] = Some(col("length")),
                          idCol: String = "doc_id"): Set[Seq[Any]] = {
    val pairs = Dedup.lshPairs(df.select(col(idCol).as("id"), col("signature")), cfg)
      .localCheckpoint()
    val n = pairs.count()
    val tail = Dedup.lshLosers(df, idCol, cfg, rank)
    val fold = Dedup.loserMap(df, idCol, pairs, rank)
    val comp =
      if (df.schema(idCol).dataType == StringType) ConnectedComponents.runOnStrings(pairs, n - 1)
      else ConnectedComponents.run(pairs, smallGraphEdges = n - 1)
    val dist = Dedup.pickLosers(df, idCol, rank, comp)
    assert(foldedOnDriver(tail) && foldedOnDriver(fold))
    assert(n == 0 || !foldedOnDriver(comp))
    val losers = rows(dist)
    assert(rows(tail) == losers && rows(fold) == losers)
    def kept(l: DataFrame) =
      rows(df.join(l.select(col("dropped_id").as(idCol)), Seq(idCol), "left_anti"))
    assert(kept(tail) == kept(dist) && kept(fold) == kept(dist))
    losers
  }

  test("verified mode: both regimes drop the same losers on seeded corpora") {
    Seq(1, 2, 3).foreach { seed =>
      val losers = bothRegimes(corpus(seed, clusters = 30, maxEdits = 40),
        MinHashConfig(jaccardThreshold = 0.8))
      assert(losers.nonEmpty, s"seed $seed")
    }
  }

  test("chain mode (threshold 0): both regimes drop the same losers") {
    val losers = bothRegimes(corpus(4, clusters = 30, maxEdits = 60), MinHashConfig())
    assert(losers.nonEmpty)
  }

  test("zero pairs: both regimes drop nothing") {
    val distinct = corpus(5, clusters = 20, maxEdits = 0, maxSize = 1)
    assert(bothRegimes(distinct, MinHashConfig()).isEmpty)
    assert(bothRegimes(distinct, MinHashConfig(jaccardThreshold = 0.8)).isEmpty)
  }

  test("a NULL signature never verifies, and pairs only in chain mode") {
    val df = corpus(6, clusters = 10, maxEdits = 20, nullSigs = 3)
    def nullLosers(l: Set[Seq[Any]]) = l.filter(_.head.toString.startsWith("n"))
    assert(nullLosers(bothRegimes(df, MinHashConfig(jaccardThreshold = 0.5))).isEmpty)
    // NULL signatures share every band hash, so chain mode joins them
    assert(nullLosers(bothRegimes(df, MinHashConfig())).size == 2)
  }

  test("a bucket above maxBucket pairs nothing in verified mode, all in chain mode") {
    val same = Seq.fill(5)(Array.fill(128)(7L).toSeq)
    val df = spark.createDataFrame(same.zipWithIndex.map { case (s, i) =>
      Row(s"d$i", s, 1L) }.asJava, schema)
    assert(bothRegimes(df, MinHashConfig(maxBucket = 3, jaccardThreshold = 0.8)).isEmpty)
    var chain = Set.empty[Seq[Any]]
    val plans = executedPlans { chain = bothRegimes(df, MinHashConfig(maxBucket = 3)) }
    assert(chain.size == 4)
    // chain mode streams the oversized bucket: no member array is built
    assert(plans.nonEmpty)
    plans.foreach(p => assert(!p.toString.contains("collect_list"), p))
  }

  test("length ties go to the larger doc_id in UTF-8 order") {
    val sig = Array.fill(128)(11L).toSeq
    // U+1F600 is above U+E000 in UTF-8 bytes (F0.. > EE..), below it in
    // UTF-16 units (a D83D surrogate): Spark's order crowns the emoji
    val (bmp, astral) = ("d\uE000", "d\uD83D\uDE00")
    val df = spark.createDataFrame(Seq(Row("d10", sig, 4L), Row("d9", sig, 4L),
      Row("d100", sig, 4L), Row("d8", sig, 3L), Row(astral, sig, 4L), Row(bmp, sig, 4L))
      .asJava, schema)
    val want = Seq("d10", "d9", "d100", "d8", bmp).map(Seq(_, astral)).toSet
    assert(bothRegimes(df, MinHashConfig(jaccardThreshold = 0.8)) == want)
    assert(bothRegimes(df, MinHashConfig()) == want)
  }

  test("without a rank the smallest integral id wins, as minhashLsh picks") {
    val df = corpus(7, clusters = 20, maxEdits = 30)
      .select(col("doc_id").substr(2, 9).cast("long").as("id"), col("signature"))
    val losers = bothRegimes(df, MinHashConfig(jaccardThreshold = 0.8), None, "id")
    assert(losers.nonEmpty && losers.forall(l => l(1).asInstanceOf[Long] < l(0).asInstanceOf[Long]))
  }
}

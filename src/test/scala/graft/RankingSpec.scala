package graft

import graft.operators.Ranking
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

class RankingSpec extends SparkSpec {
  import spark.implicits._

  private def randomDf(n: Int, seed: Int) = {
    val rnd = new Random(seed)
    (1 to n).map { i =>
      (i.toLong, s"g${rnd.nextInt(3)}", rnd.nextInt(40).toDouble, rnd.nextInt(100).toLong)
    }.toDF("id", "grp", "v", "w")
  }

  test("withRowNumber matches window row_number on random data (with ties in v)") {
    val df = randomDf(500, 1)
    val win = Window.partitionBy("grp").orderBy(col("v"), col("id"))
    val expected = df.withColumn("rn", row_number().over(win).cast("long"))
      .select("id", "rn").as[(Long, Long)].collect().toMap
    val got = Ranking.withRowNumber(df, Seq("grp"), Seq(col("v"), col("id")), "rn",
        numPartitions = 7)
      .select("id", "rn").as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("withRunningSum matches window running sum") {
    val df = randomDf(300, 2)
    val win = Window.partitionBy("grp").orderBy(col("v"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df.withColumn("rs", sum("w").over(win))
      .select("id", "rs").as[(Long, Long)].collect().toMap
    val got = Ranking.withRunningSum(df, Seq("grp"), Seq(col("v"), col("id")),
        Seq(col("w") -> "rs"), numPartitions = 5)
      .select("id", "rs").as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("withRowNumber handles a single group spanning all partitions") {
    val df = (1L to 200L).map(i => (i, "only", (200 - i).toDouble)).toDF("id", "grp", "v")
    val got = Ranking.withRowNumber(df, Seq("grp"), Seq(col("v")), "rn", numPartitions = 8)
      .select("id", "rn").as[(Long, Long)].collect().toMap
    // v descends as id ascends, so rank order is reversed ids
    (1L to 200L).foreach(i => assert(got(i) == 200L - i + 1))
  }

  test("withRunningSum: global two sums match the driver-side sum, any partitioning") {
    // non-trivial order (desc key, asc tiebreak) + two value columns
    val rows = (1L to 300L).map(i => (i, i % 13, i % 5 + 1, i % 3))
    val ref = {
      var a = 0L; var b = 0L
      rows.sortBy { case (id, k, _, _) => (-k, id) }.map { case (id, _, v1, v2) =>
        a += v1; b += v2; (id, a, b)
      }.sortBy(_._1)
    }
    for (parts <- Seq(1, 4, 17)) {
      val got = Ranking.withRunningSum(rows.toDF("id", "k", "v1", "v2").repartition(parts),
          Nil, Seq(col("k").desc, col("id").asc),
          Seq(col("v1") -> "r1", col("v2") -> "r2"), numPartitions = 5)
        .select("id", "r1", "r2").as[(Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
      assert(got == ref, s"input partitions=$parts")
    }
  }

  test("withRunningSum: global single row and empty input") {
    val one = Ranking.withRunningSum(Seq((1L, 7L)).toDF("id", "v"), Nil,
      Seq(col("id").asc), Seq(col("v") -> "r"))
    assert(one.select("r").as[Long].collect().toSeq == Seq(7L))
    val empty = Ranking.withRunningSum(Seq.empty[(Long, Long)].toDF("id", "v"), Nil,
      Seq(col("id").asc), Seq(col("v") -> "r"))
    assert(empty.count() == 0)
  }

  test("withRunningSum: NULLs that open a range partition match the window sum, with and without groups") {
    // a leading NULL run, an all-NULL stretch wider than a partition, and
    // NULLs on two of every three rows, so range partitions open on NULLs
    val df = (1L to 120L).map { i =>
      val v = if (i <= 20 || (i >= 40 && i <= 80) || i % 3 != 0) None else Some(i % 5)
      (i, if (i % 2 == 0) "a" else "b", v)
    }.toDF("id", "g", "v")
    for (groups <- Seq(Nil, Seq("g"))) {
      val win = Window.partitionBy(groups.map(col): _*).orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expected = df.withColumn("rs", sum("v").over(win))
        .select("id", "rs").as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
      assert(expected.head._2.isEmpty && expected.last._2.nonEmpty)
      for (parts <- Seq(1, 2, 3, 5, 8, 13)) {
        val got = Ranking.withRunningSum(df, groups, Seq(col("id")),
            Seq(col("v") -> "rs"), numPartitions = parts)
          .select("id", "rs").as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
        assert(got == expected, s"groups=$groups partitions=$parts")
      }
    }
  }

  test("withRunningSum: a global running sum caches nothing and plans one Exchange, a range one") {
    spark.catalog.clearCache()
    val df = (1L to 200L).map(i => (i, i % 7)).toDF("id", "v")
    var n = 0L
    val plans = executedPlans {
      n = Ranking.withRunningSum(df, Nil, Seq(col("id")), Seq(col("v") -> "r"),
        numPartitions = 4).collect().length
    }
    assert(n == 200)
    assert(spark.sharedState.cacheManager.isEmpty)
    object Plans extends AdaptiveSparkPlanHelper
    val exchanges = plans.flatMap(p => Plans.collect(p) { case e: Exchange => e })
    assert(exchanges.size == 1, plans.mkString("\n"))
    assert(exchanges.head.outputPartitioning.isInstanceOf[RangePartitioning])
  }

  test("exactQuantiles matches brute-force sorted extraction") {
    val df = randomDf(400, 3)
    val got = Ranking.exactQuantiles(df, Seq("grp"), "v", Seq(0.5 -> "p50", 0.9 -> "p90"))
      .select("grp", "p50", "p90").as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val byGroup = df.select("grp", "v").as[(String, Double)].collect()
      .groupBy(_._1).map { case (g, rows) => g -> rows.map(_._2).sorted }
    byGroup.foreach { case (g, vs) =>
      val p50 = vs(math.ceil(0.5 * vs.length).toInt - 1)
      val p90 = vs(math.ceil(0.9 * vs.length).toInt - 1)
      assert(got(g) == ((p50, p90)), s"group $g")
    }
  }

  test("exactQuantiles on empty group column domain returns no rows") {
    val df = Seq.empty[(Long, String, Double)].toDF("id", "grp", "v")
    assert(Ranking.exactQuantiles(df, Seq("grp"), "v", Seq(0.5 -> "p50")).count() == 0)
  }

  test("preferencePairs: argmax/argmin per prompt, margin gate, tie policy") {
    val df = Seq(
      // prompt 1: clear spread -> (id 12 chosen, id 10 rejected)
      (1L, 10L, 0.2), (1L, 11L, 0.5), (1L, 12L, 0.9),
      // prompt 2: margin 0.04 < 0.05 -> dropped
      (2L, 20L, 0.50), (2L, 21L, 0.54),
      // prompt 3: singleton -> dropped
      (3L, 30L, 0.9),
      // prompt 4: all tied, margin 0 -> dropped at minMargin 0.05,
      // kept at 0.0 with chosen = larger id, rejected = smaller id
      (4L, 40L, 0.7), (4L, 41L, 0.7), (4L, 42L, 0.7)
    ).toDF("prompt_id", "doc_id", "score")
    val got = Ranking.preferencePairs(df, "prompt_id", col("score"),
        "doc_id", minMargin = 0.05)
      .select("prompt_id", "chosen_id", "rejected_id", "margin")
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(got == Seq((1L, 12L, 10L, 0.7)))
    val ties = Ranking.preferencePairs(df, "prompt_id", col("score"),
        "doc_id", minMargin = 0.0)
      .select("prompt_id", "chosen_id", "rejected_id")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(ties == Seq((1L, 12L, 10L), (2L, 21L, 20L), (4L, 42L, 40L)))
    // partitioning invariance: one shuffle with partial agg, same rows
    val wide = Ranking.preferencePairs(df.repartition(17), "prompt_id",
        col("score"), "doc_id", minMargin = 0.0)
      .select("prompt_id", "chosen_id", "rejected_id")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(wide == ties)
  }
}

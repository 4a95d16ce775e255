package graft

import graft.operators.Sampling
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def df = (1L to 100L).map(i => (i, if (i <= 80) "en" else "de")).toDF("id", "lang")

  test("stratified exact sample keeps ceil(frac*n) per stratum, reproducibly") {
    val s1 = Sampling.stratifiedExact(df, "lang", 0.25, "id")
    val counts = s1.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("en" -> 20L, "de" -> 5L))
    val s2 = Sampling.stratifiedExact(df.repartition(7), "lang", 0.25, "id")
    assert(s1.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      s2.select("id").collect().map(_.getLong(0)).sorted.toSeq) // partition-invariant
  }

  test("cap per stratum bounds group sizes") {
    val capped = Sampling.capPerStratum(df, "lang", 10, "id")
    assert(capped.groupBy("lang").count().collect().forall(_.getLong(1) <= 10))
    assert(capped.count() == 20)
  }

  test("budgetSelect keeps the exact greedy prefix and is partition-invariant") {
    // priority = id % 10, cost = id % 7 + 1, tie = id: the driver-side
    // reference walks (priority desc, id asc) keeping while the global
    // running cost stays <= budget — exactly the declared semantics.
    val rows = (1L to 200L).map(i => (i, i % 10, i % 7 + 1))
    val base = rows.toDF("id", "pr", "cost")
    val budget = 300L
    var run = 0L
    val expected = rows.sortBy { case (id, pr, _) => (-pr, id) }
      .flatMap { case (id, _, c) => run += c; if (run <= budget) Some(id) else None }
      .sorted
    for (parts <- Seq(1, 3, 13)) {
      val got = Sampling.budgetSelect(base.repartition(parts), "pr", "cost", "id",
          budget, numParts = 4)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == expected.toSeq, s"input partitions=$parts")
    }
  }

  test("budgetSelect: over-budget first row yields empty; huge budget keeps all") {
    val base = Seq((1L, 5L, 100L), (2L, 4L, 1L)).toDF("id", "pr", "cost")
    assert(Sampling.budgetSelect(base, "pr", "cost", "id", 50L).count() == 0)
    assert(Sampling.budgetSelect(base, "pr", "cost", "id", 1000L).count() == 2)
  }

  test("weighted mixture applies per-stratum fractions") {
    val mixed = Sampling.mixture(df, "lang", Map("en" -> 0.1), defaultFrac = 0.5, "id")
    val counts = mixed.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("en" -> 8L, "de" -> 10L))
  }

  test("epoch plan: weights normalize, caps bind, planned tokens follow the unrounded epochs") {
    import org.apache.spark.sql.functions._
    val corpus = Seq(
      ("big", 100L), ("big", 100L), ("big", 100L), ("big", 100L), // 400 tokens
      ("small", 4L)                                               // 4 tokens
    ).toDF("source", "n_tok")
    val plan = Sampling.epochPlan(corpus, "source", col("n_tok"),
      tokenBudget = 100.0, maxEpochs = 4.0)
      .orderBy("source").collect()
    val byName = plan.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5))).toMap
    val z = math.sqrt(400.0) + math.sqrt(4.0)
    // big: raw = 100 * (20/22) / 400 ≈ 0.227 < 4 (subsampled)
    assert(math.abs(byName("big")._4 - 100.0 * (math.sqrt(400.0) / z) / 400.0) < 1e-6)
    // small: raw = 100 * (2/22) / 4 ≈ 2.27 — repetition, under the cap
    assert(byName("small")._4 > 1.0 && byName("small")._4 < 4.0)
    // cap binds when the budget is huge
    val capped = Sampling.epochPlan(corpus, "source", col("n_tok"),
      tokenBudget = 1e9, maxEpochs = 4.0).collect()
    assert(capped.forall(_.getDouble(4) == 4.0))
    // planned tokens = floor(tokens * unrounded epochs)
    assert(byName("small")._5 ==
      math.floor(4.0 * (100.0 * (math.sqrt(4.0) / z) / 4.0)).toLong)
    // null sources are excluded from the plan
    val withNull = corpus.unionByName(
      Seq((null.asInstanceOf[String], 7L)).toDF("source", "n_tok"))
    assert(Sampling.epochPlan(withNull, "source", col("n_tok"), 100.0)
      .count() == 2)
  }

  test("soft sample: Knuth coin matches the integer formula and is partition-invariant") {
    import org.apache.spark.sql.functions._
    val scored = df.withColumn("s", (col("id") % 10).cast("double") / 10.0)
    val out = Sampling.softSampleByScore(scored, "id", col("s"))
      .select("id", "coin", "kept").collect()
    out.foreach { r =>
      val id = r.getLong(0)
      val expected = ((id * 2654435761L) % 4294967296L).toDouble / 4294967296.0
      assert(r.getDouble(1) == expected)
      assert(r.getBoolean(2) == (expected < (id % 10).toDouble / 10.0))
    }
    // score 0 keeps nothing, score 1 keeps everything
    val all = Sampling.softSampleByScore(scored, "id", lit(1.0))
      .where(col("kept")).count()
    val none = Sampling.softSampleByScore(scored, "id", lit(0.0))
      .where(col("kept")).count()
    assert(all == df.count() && none == 0)
    // repartitioning cannot change the kept set
    val a = Sampling.softSampleByScore(scored, "id", col("s"))
      .where(col("kept")).select("id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Sampling.softSampleByScore(scored.repartition(7), "id", col("s"))
      .where(col("kept")).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
  }
}

package graft

import graft.core.PerRow
import graft.core.Pipeline.PipelineConfig
import graft.functions.LangIdLabel
import graft.gates.DedupGates
import graft.operators.{FastTextBin, Multimodal, PipelineSteps, Tokenizer, TrainedLid}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, Expression, ScalaUDF}
import org.apache.spark.sql.execution.{DeserializeToObjectExec, MapElementsExec, MapPartitionsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import java.nio.file.Files

class PerRowSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val n = 1000

  /** How often the counting function of `query` runs while `action`
    * executes the DataFrame `query` builds around it. */
  private def evaluations(query: Column => DataFrame)(action: DataFrame => Unit): Long = {
    val acc = spark.sparkContext.longAccumulator
    // nullable, so a join infers `isnotnull` on a key derived from it
    val f = udf { (id: Long) =>
      acc.add(1); if (id % 7 == 0) null else java.lang.Long.valueOf(id % 10)
    }
    action(query(f(col("id"))))
    acc.value
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  test("a function appended through the seam runs once per row under a filter and a join") {
    val seam = (f: Column) => PerRow.append(spark.range(n).toDF("id"), Seq("k"), struct(f))
    assert(evaluations(seam)(df => noop(df.filter(col("k") < 1))) == n)
    val joined = (f: Column) => {
      val side = seam(f).withColumn("key", col("k") * 2)
      side.join(side.select(col("key"), col("id").as("id2")), "key")
    }
    assert(evaluations(joined)(noop) == 2 * n)
    // the projected form of the same function runs again for the rows
    // that survive the filter (Catalyst substitutes it into the Filter)
    val projected = (f: Column) => spark.range(n).toDF("id").withColumn("k", f)
    assert(evaluations(projected)(df => noop(df.filter(col("k") < 1))) > n)
  }

  test("append replaces a same-named column in place, case-insensitively, and keeps the rest") {
    val df = Seq((1L, "a", 2.0)).toDF("id", "Lang", "w")
    val out = PerRow.append(df, Seq("lang", "score"), struct(upper(col("Lang")), col("w") + 1))
    assert(out.columns.toSeq == Seq("id", "lang", "w", "score"))
    assert(out.head() == Row(1L, "A", 2.0, 3.0))
  }

  test("freshPrefix avoids every column prefix, case-insensitively") {
    val df = Seq((1, 2)).toDF("__P_x", "__p__y")
    assert(PerRow.freshPrefix(df, "__p") == "__p___")
    assert(PerRow.freshPrefix(df, "__q") == "__q")
  }

  private def nodes(plan: SparkPlan): Seq[SparkPlan] = collect(plan) { case p => p }

  private def exprCount(plans: Seq[SparkPlan])(pf: PartialFunction[Expression, Unit]): Int =
    plans.flatMap(nodes).flatMap(_.expressions).map(_.collect(pf).size).sum

  /** A word-level fastText `.bin`: German function words vote de,
    * English ones en. Returns its path. */
  private def ftFixture(): String = {
    def v(fs: Float*): Array[Float] = fs.toArray
    val path = Files.createTempDirectory("perrow_ft").resolve("lid.bin").toString
    FastTextBin.write(path, dim = 4, bucket = 8, minn = 0, maxn = 0, wordNgrams = 1,
      wordRows = Seq(FastTextBin.Eos -> v(0, 0, 0, 0),
        "der" -> v(1, 0, 0, 0), "und" -> v(1, 0, 0, 0), "ist" -> v(1, 0, 0, 0),
        "the" -> v(0, 1, 0, 0), "and" -> v(0, 1, 0, 0), "is" -> v(0, 1, 0, 0)),
      labelRows = Seq("__label__de" -> v(4, 0, 0, 0), "__label__en" -> v(0, 4, 0, 0)))
    path
  }

  private val texts = Seq(("de", "der hund und katze ist"), ("en", "the cat and dog is"),
    ("de", "und der ist"), ("en", "is the and"), ("en", null))

  test("the model and decoder maps run as columns: no MapPartitions or DeserializeToObject") {
    val docs = texts.toDF("lang", "text")
    val lid = TrainedLid.train(docs.na.drop(), "lang", "text")
    val assets = Multimodal.synthesizeAssets(spark.range(12).toDF("id"), "id").localCheckpoint()
    val outputs = Seq(
      "Tokenizer.encode" -> Tokenizer.encode(docs, "text", Tokenizer.WordModel(Map("der" -> 4))),
      "TrainedLid.predict" -> TrainedLid.predict(docs, "text", lid),
      "FastTextBin.predictDf" -> FastTextBin.predictDf(docs, "text", FastTextBin.read(ftFixture())),
      "Multimodal.extractFeatures" -> Multimodal.extractFeatures(assets),
      "Multimodal.imagePhashes" -> Multimodal.imagePhashes(assets),
      "Multimodal.resizeImages" -> Multimodal.resizeImages(assets, 4),
      "Multimodal.audioQuality" -> Multimodal.audioQuality(assets.filter(col("kind") === "audio")),
      "Multimodal.sceneCuts" ->
        Multimodal.sceneCuts(assets.filter(col("kind") === "video"), threshold = 30.0))
    outputs.foreach { case (name, df) =>
      assert(df.collect().nonEmpty, name)
      val maps = nodes(df.queryExecution.executedPlan).collect {
        case p: MapPartitionsExec => p.nodeName
        case p: MapElementsExec => p.nodeName
        case p: DeserializeToObjectExec => p.nodeName
      }
      assert(maps.isEmpty, s"$name: $maps")
    }
  }

  test("QualityStep evaluates its labeler once per document on every branch") {
    val outBase = Files.createTempDirectory("perrow_quality").toString
    texts.toDF("lang", "text").select("text")
      .write.mode("overwrite").parquet(s"$outBase/cleaned_parquet")
    val lidPath = s"$outBase/lid_model"
    TrainedLid.writeModel(spark, lidPath,
      TrainedLid.train(texts.toDF("lang", "text").na.drop(), "lang", "text"))
    val binPath = ftFixture()
    def run(lidModelPath: Option[String]): (Seq[SparkPlan], Long) = {
      val cfg = PipelineConfig(dataDir = ".", outputBase = outBase, langs = Seq("de"),
        langThreshold = 0.0, lidModelPath = lidModelPath, defaultLidArtifact = false)
      val plans = executedPlans(PipelineSteps.QualityStep().run(spark, cfg))
      (plans, spark.read.parquet(s"$outBase/quality_parquet").count())
    }
    val (heuristic, kept) = run(None)
    assert(kept == 2)
    assert(exprCount(heuristic) { case _: LangIdLabel => } == 1)
    Seq(lidPath, binPath).foreach { p =>
      val (plans, keptModel) = run(Some(p))
      assert(keptModel == 2, p)
      assert(exprCount(plans) { case _: ScalaUDF => } == 1, p)
    }
  }

  test("x01's exact-Jaccard check computes each pair's intersection once") {
    val dir = Files.createTempDirectory("perrow_x01").toString
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    Seq((1L, base), (2L, base + " tail"), (3L, base + " other tail"),
      (4L, (1 to 40).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val x01 = DedupGates.all.find(_.name == "x01_minhash_dedup").get
    var pairs = 0L
    val plans = executedPlans { pairs = x01.build(spark, dir).collect().length.toLong }
    assert(pairs == 3)
    assert(exprCount(plans) { case _: ArrayIntersect => } == 1)
  }
}

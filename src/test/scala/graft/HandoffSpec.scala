package graft

import graft.core.Handoff
import org.apache.spark.sql.functions.lit

import java.nio.file.Files

/** The step-directory handoff: writes count their own rows, and a
  * directory written through the handoff reads back without a Spark job
  * while it holds exactly the written files. */
class HandoffSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("handoff").resolve("out").toString

  test("a directory written through the handoff reads back with no Spark job") {
    import spark.implicits._
    val dir = freshDir()
    // `id` is non-nullable in the written frame; parquet reads it nullable
    val df = (1 to 50).map(i => (i, s"doc $i")).toDF("id", "text").repartition(3)
    assert(Handoff.write(df, dir) == 50)
    val (r, jobs) = jobsDuring(Handoff.read(spark, dir))
    assert(jobs == 0)
    assert(r.rows.contains(50L))
    val inferred = spark.read.parquet(dir)
    assert(r.df.schema == inferred.schema)
    assert(r.df.orderBy("id").collect().toSeq == inferred.orderBy("id").collect().toSeq)
    // control: the inference read this replaces does start a job
    assert(jobsDuring(spark.read.parquet(dir))._2 > 0)
  }

  test("a directory overwritten outside the handoff is read with its new schema") {
    import spark.implicits._
    val dir = freshDir()
    Handoff.write(Seq((1, "a"), (2, "b")).toDF("id", "text"), dir)
    Seq(("x", 2.5, true)).toDF("key", "score", "flag")
      .write.mode("overwrite").parquet(dir)
    val r = Handoff.read(spark, dir)
    assert(r.rows.isEmpty)
    assert(r.df.schema.fieldNames.toSeq == Seq("key", "score", "flag"))
    assert(r.df.collect().map(_.toSeq).toSeq == Seq(Seq("x", 2.5, true)))
  }

  test("an empty write counts zero rows, and is read back as recorded") {
    import spark.implicits._
    val dir = freshDir()
    assert(Handoff.write(Seq((1, "a")).toDF("id", "text").filter(lit(false)), dir) == 0)
    val r = Handoff.read(spark, dir)
    assert(r.rows.contains(0L))
    assert(r.df.schema == spark.read.parquet(dir).schema)
    assert(r.df.count() == 0)
  }
}

package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

import java.util.concurrent.ConcurrentHashMap

/** The step-directory handoff: one writer and one reader for every
  * parquet directory a pipeline step hands to the next.
  *
  *  - `write` counts rows on the write itself (`Dataset.observe`), so a
  *    step never re-reads its output to count it, and records the written
  *    schema, row count and part files for the directory.
  *  - `read` reuses the recorded schema, which skips Spark's
  *    schema-inference job, but only while the directory still holds
  *    exactly the part files that were written. In every other case — a
  *    `--resume-from` in a new JVM, a directory rewritten by anything
  *    else — it falls back to plain `spark.read.parquet` inference.
  */
object Handoff {

  /** A step directory as read, with the row count recorded when it was
    * written through `write` (None after an inference fallback). */
  case class Read(df: DataFrame, rows: Option[Long])

  private case class Written(schema: StructType, rows: Long, files: Map[String, Long])

  // keyed by qualified directory; an entry is only trusted while the
  // directory's part files (name -> length) are unchanged
  private val written = new ConcurrentHashMap[String, Written]()

  /** Overwrite `dir` with `df` as parquet; returns the rows written. */
  def write(df: DataFrame, dir: String, options: Map[String, String] = Map.empty): Long = {
    val spark = df.sparkSession
    val obs = Observation("handoff")
    df.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").options(options).parquet(dir)
    val rows = obs.get("rows").asInstanceOf[Long]
    written.put(qualified(spark, dir), Written(df.schema, rows, partFiles(spark, dir)))
    rows
  }

  def read(spark: SparkSession, dir: String): Read = intact(spark, dir) match {
    case Some(w) => Read(spark.read.schema(w.schema).parquet(dir), Some(w.rows))
    case None => Read(spark.read.parquet(dir), None)
  }

  /** The part files (name -> length) the last `write` recorded for `dir`,
    * while the directory still holds exactly them: the check `read`
    * makes. None with no record (a new JVM) or after a rewrite by
    * anything else. */
  def writtenFiles(spark: SparkSession, dir: String): Option[Map[String, Long]] =
    intact(spark, dir).map(_.files)

  private def intact(spark: SparkSession, dir: String): Option[Written] =
    Option(written.get(qualified(spark, dir))).filter(_.files == partFiles(spark, dir))

  private def qualified(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** Data files of `dir` by name -> length; hidden (`_`/`.`) files are
    * skipped as Spark's own listing skips them. Empty if `dir` is gone. */
  private def partFiles(spark: SparkSession, dir: String): Map[String, Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).iterator
      .map(s => s.getPath.getName -> s.getLen)
      .filterNot { case (n, _) => n.startsWith("_") || n.startsWith(".") }
      .toMap
  }
}

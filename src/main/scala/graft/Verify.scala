package graft
import graft.core.{Json, Session}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev-only —
    // the driver always runs the full set)
    val Array(sfDir, outDir) = args.take(2)
    val selected = SparkEntry.select(args.lift(2))
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // ALWAYS the full oracle map, even under a dev query filter: a
    // focused re-run into an existing outDir must not truncate the
    // oracle file a later full compare reads (a one-entry overwrite
    // once silently reduced an sf1 compare to a single row)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    // scale twins (tools/scale_twins.py contract): same shape, only
    // the quadratic-oracle rows; consumed by check_oracle.py --scale
    Files.writeString(Paths.get(s"$outDir/oracle_sql_scale.json"),
      oracleJson(SparkEntry.oracleSqlScale))
    spark.stop()
  }

  /** The oracle files' one JSON rendering: a flat `{"name": "sql", ...}`
    * object in the map's iteration order, strings quoted by [[Json.quote]]. */
  def oracleJson(oracle: Map[String, String]): String =
    oracle.map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
}

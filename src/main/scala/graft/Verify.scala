package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev-only —
    // the driver always runs the full set)
    val Array(sfDir, outDir) = args.take(2)
    val selected = SparkEntry.select(args.lift(2))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // scale probe (dev-only, same lever as Bench): oracle results must
    // be bit-identical at any shuffle width
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
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
    * object in the map's iteration order. Strings escape backslash,
    * quote, and ALL control chars (<0x20) — a tab or CR in an oracle
    * string would otherwise make the compare's json.load fail and
    * silently zero the whole correctness check. */
  def oracleJson(oracle: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    oracle.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}

package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder: Verify, Bench, PipelineMain, the tools
  * and the test session start from it and add only what is their own
  * (an app name, a master address, Bench's streaming levers). UTC keeps
  * date and timestamp functions off the JVM's zone; `nanosAsLong` reads
  * `events.parquet`'s int64 nanosecond timestamps as LongType nanos. AQE
  * stays at Spark's default, on. */
object Session {

  /** Local worker threads: `SPARK_GRAFT_CPUS`, default 4. */
  val Cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** Shuffle width: `SPARK_GRAFT_SHUFFLE`, default [[Cpus]]. A width
    * 8-32x the core count emulates the task counts a cluster would
    * schedule; results must not move with it (every gate is
    * partition-invariant by construction), only scheduler overhead. */
  val ShufflePartitions: Int = sys.env.get("SPARK_GRAFT_SHUFFLE").fold(Cpus)(_.toInt)

  def builder(cpus: Int = Cpus, shufflePartitions: Int = ShufflePartitions): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}

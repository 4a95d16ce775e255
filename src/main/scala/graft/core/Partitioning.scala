package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Parallelism guards for compute-heavy per-row operators.
  *
  * A small parquet file arrives as one input split, so an expensive
  * map (MinHash, SimHash, shingling) would run on one core no matter
  * how many the cluster has. At 100 TB inputs already carry thousands
  * of splits and the guard is a no-op; it only kicks in when the scan
  * under-supplies partitions relative to the cluster.
  */
object Partitioning {

  /** Repartition iff the source under-supplies splits. For file scans
    * the decision comes from the (cached) file listing + sizes using
    * Spark's own bin-packing model (maxPartitionBytes + per-file open
    * cost) — NOT `files.length`, because Spark packs many small files
    * into few partitions; and never `df.rdd`, which would force a second
    * full physical planning per call for the common case. Non-file
    * DataFrames (memory relations, post-shuffle lineages) fall back to
    * the rdd-partition check — rare in practice and the only way to see
    * their parallelism. */
  def ensureParallelism(df: DataFrame, minFactor: Int = 1): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism * minFactor
    val files = df.inputFiles
    if (files.isEmpty)
      return if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    // at >= target * maxPartitionBytes of open-cost alone, the scan is
    // provably wide enough — skip the per-file stat calls
    val sqlConf = spark.sessionState.conf
    val maxSplit = math.max(1L, sqlConf.filesMaxPartitionBytes)
    val openCost = sqlConf.filesOpenCostInBytes
    if (files.length.toLong * openCost >= target.toLong * maxSplit) return df
    val conf = spark.sessionState.newHadoopConf()
    val totalBytes = files.iterator.map { f =>
      val p = new Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    // Mirror FilePartition.maxSplitBytes: the effective split size shrinks
    // to bytesPerCore for small-to-mid inputs, so a single 1 GB file on 32
    // cores ALREADY scans as ~32 partitions — without this term the guard
    // would shuffle it for nothing.
    val padded = totalBytes + files.length.toLong * openCost
    val minPartitionNum = spark.sessionState.conf.filesMinPartitionNum
      .getOrElse(spark.sparkContext.defaultParallelism)
    val bytesPerCore = padded / math.max(1, minPartitionNum)
    val splitBytes = math.min(maxSplit, math.max(openCost, bytesPerCore))
    val approxSplits = (padded + math.max(1L, splitBytes) - 1) / math.max(1L, splitBytes)
    if (approxSplits < target) df.repartition(target) else df
  }
}

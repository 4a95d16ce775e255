package graft.tools

import graft.core.Session
import org.apache.spark.sql.functions._
import graft.functions.{HashFunctions, TextFunctions}

/** Diagnose simhash-banding recall against an exact pair set (parquet
  * of (u, v, j) produced by the brute-force twin tooling): Hamming
  * histogram of the ground-truth pairs, coverage at the configured
  * radius, and band-bucket occupancy vs the maxBucket cap — separates
  * "pair is outside the Hamming radius" (algorithmic, needs a bigger
  * radius/blocks) from "pair was dropped by the hot-bucket cap"
  * (operational, needs a bigger cap). Usage:
  *   runMain graft.tools.SimhashDiag <sfDir> <exactPairsParquet> [ngram]
  */
object SimhashDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val pairsPath = args(1)
    val ngram = if (args.length > 2) args(2).toInt else 2
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sigs = docs.select(col("doc_id").as("id"),
      HashFunctions.simhash64(
        TextFunctions.normalizeForDedup(col("text")), ngram).as("sig"))
      .cache()
    val pairs = spark.read.parquet(pairsPath)
    val withH = pairs
      .join(sigs.select(col("id").as("u"), col("sig").as("s1")), "u")
      .join(sigs.select(col("id").as("v"), col("sig").as("s2")), "v")
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .cache()
    println("[diag] hamming histogram of exact pairs:")
    withH.groupBy("hamming").count().orderBy("hamming").collect()
      .foreach(r => println(s"[diag]   h=${r.get(0)} n=${r.get(1)}"))
    val n = withH.count()
    Seq(4, 6, 8, 10, 12, 14).foreach { h =>
      val c = withH.where(col("hamming") <= h).count()
      println(f"[diag] coverage at maxHamming=$h%2d: $c/$n (${100.0 * c / n}%.2f%%)")
    }
    // bucket occupancy at the x02 configuration (maxHamming=8, blocks=10)
    val banded = graft.operators.Dedup.simhashBandRows(sigs, maxHamming = 8, blocks = 10)
    val occ = banded.groupBy("band_id", "band_hash").count()
    println("[diag] band bucket occupancy (maxHamming=8, blocks=10):")
    occ.agg(max("count").as("max"), expr("percentile_approx(count, 0.999)").as("p999"),
        sum(when(col("count") > 1000, col("count"))).as("rows_in_gt1000_buckets"),
        count(when(col("count") > 1000, 1)).as("n_buckets_gt1000"))
      .collect().foreach(r => println(s"[diag]   $r"))
    spark.stop()
  }
}

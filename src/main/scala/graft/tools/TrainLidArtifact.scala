package graft.tools

import graft.operators.TrainedLid
import graft.core.Session

/** Builds the committed wide-coverage LID artifact
  * (`fixtures/models/lid48`) — run once, commit the parquet; the
  * artifact is bit-reproducible from the repo alone (deterministic
  * synthesized corpus + exact-count training, see
  * [[graft.operators.TrainedLid.trainWideArtifact]]). Mirrors the
  * reference shipping a pretrained lid.176.bin alongside the code
  * (reference: src/llm_data_pipeline/quality/model.py:267-340). */
object TrainLidArtifact {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(TrainedLid.DefaultArtifactDir)
    val spark = Session.builder(8, 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val m = TrainedLid.trainWideArtifact(spark, out)
    println(s"[lid] wrote ${m.langs.length}-language model " +
      s"(${m.buckets} buckets, ${m.ngram}-gram) to $out")
    spark.stop()
  }
}

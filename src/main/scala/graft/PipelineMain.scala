package graft

import graft.core.{Pipeline, Session}
import graft.operators.PipelineSteps

/** CLI entry for the nine-step pipeline — the reference's
  * `pipeline.py main()` surface (reference: src/llm_data_pipeline/
  * pipeline.py:32-196): step selection, resume-from, record limit,
  * output base; stats land in `<output-base>/pipeline_stats.json`.
  *
  * Usage:
  *   runMain graft.PipelineMain --data-dir DIR --output-base DIR
  *     [--steps ingest,clean,...] [--resume-from STEP] [--limit N]
  *     [--langs en,zh] [--seq-len 4096] [--vocab-size 32000]
  *     [--tokenizer word|bpe|unigram] [--character-coverage F]
  *     [--input-sentence-size N] [--unigram-soft-em true|false]
  *     [--export-dtype uint16|int32]
  *
  * NOTE the tokenizer-training defaults deliberately diverge from the
  * reference train CLI's: this build defaults to the IDENTITY knobs
  * (--character-coverage 1.0, no sentence sampling) so fixture-trained
  * artifacts are bit-reproducible, while the reference defaults to
  * 0.9995 coverage and a 5,000,000-sentence sample (train.py:341-346).
  * For reference-parity behavior pass
  * `--character-coverage 0.9995 --input-sentence-size 5000000`.
  */
object PipelineMain {

  /** CLI → config (factored for spec coverage). Tokenizer-training
    * flags mirror the reference train CLI (model type,
    * character_coverage, input_sentence_size — train.py:341-346).
    * Also returns the raw key→value map so orchestration-only flags
    * (--steps, --resume-from) share THIS pairing logic — main() must
    * not re-derive it. */
  private[graft] def parseConfig(args: Array[String])
      : (Pipeline.PipelineConfig, Set[String], Map[String, String]) = {
    val flags = args.filter(_ == "--enable-ner").toSet
    val kvArgs = args.filterNot(_ == "--enable-ner")
    val opts = kvArgs.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val cfg = Pipeline.PipelineConfig(
      dataDir = opts.getOrElse("--data-dir", "."),
      outputBase = opts.getOrElse("--output-base", "outputs/run"),
      limit = opts.get("--limit").map(_.toInt),
      langs = opts.get("--langs").map(_.split(",").toSeq).getOrElse(Seq("en", "zh")),
      seqLen = opts.get("--seq-len").map(_.toInt).getOrElse(4096),
      vocabSize = opts.get("--vocab-size").map(_.toInt).getOrElse(32000),
      tokenizer = opts.getOrElse("--tokenizer", "word"),
      characterCoverage =
        opts.get("--character-coverage").map(_.toDouble).getOrElse(1.0),
      inputSentenceSize = opts.get("--input-sentence-size").map(_.toInt),
      unigramSoftEm = opts.get("--unigram-soft-em").exists(_.toBoolean),
      exportDtype = opts.getOrElse("--export-dtype", "uint16"))
    (cfg, flags, opts)
  }

  def main(args: Array[String]): Unit = {
    val (cfg, flags, opts) = parseConfig(args)
    val builder = Session.builder().appName("graft-pipeline")
    sys.env.get("SPARK_MASTER").foreach(builder.master) // a deployment address
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val all = PipelineSteps.all.map {
      case _: PipelineSteps.PiiStep => PipelineSteps.PiiStep(enableNer = flags("--enable-ner"))
      case other => other
    }
    val selected = opts.get("--steps") match {
      case Some(names) => val set = names.split(",").toSet; all.filter(s => set(s.name))
      case None        => all
    }
    val stats = Pipeline.run(spark, cfg, selected, opts.get("--resume-from"))
    stats.foreach(s => println(
      s"[pipeline] ${s.step}: in=${s.inputRows} out=${s.outputRows} ${f"${s.elapsedSec}%.2f"}s ${s.extra}"))
    spark.stop()
  }
}

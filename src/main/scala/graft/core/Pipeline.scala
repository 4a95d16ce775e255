package graft.core

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable.ArrayBuffer

/** Pipeline orchestration: step registry, directory-handoff contract,
  * resume-from, and per-step stats checkpointing — the reference's
  * orchestrator surface (reference: src/llm_data_pipeline/
  * pipeline.py:32-196, core.py:240-292,359-528) on one engine.
  *
  * Differences by design:
  *  - each step's output is materialized ONCE: the write counts its own
  *    rows, and the next step reads it back with the written schema
  *    (see [[Handoff]]) — the reference double-executes every step's
  *    plan (count then write, reference: core.py:452-453);
  *  - steps are `DataFrame -> DataFrame` on a shared SparkSession — no
  *    second execution engine for tokenize/export (the reference swaps
  *    to HF-datasets multiprocessing there, reference: tokenizer/
  *    run.py:543-549).
  */
object Pipeline {

  case class PipelineConfig(
      dataDir: String,                    // raw input (WET files) for ingest
      outputBase: String,
      limit: Option[Int] = None,          // per-step record cap (debug)
      langs: Seq[String] = Seq("en", "zh"),
      langThreshold: Double = 0.3,
      keepPiiStats: Boolean = false,
      seqLen: Int = 4096,
      vocabSize: Int = 32000,
      tokenizer: String = "word",       // "word" | "bpe" | "unigram"
      // SentencePiece training knobs (reference train.py:111-134 uses
      // character_coverage=0.9995, input_sentence_size=5_000_000);
      // engine defaults are the identity so fixture-trained artifacts
      // stay reproducible — set the reference values to match it
      characterCoverage: Double = 1.0,
      inputSentenceSize: Option[Int] = None,
      // Kudo's real forward-backward E-step for the unigram trainer;
      // default false = Viterbi hard-EM (the bit-reproducible path
      // the oracle gates and committed fixtures pin)
      unigramSoftEm: Boolean = false,
      exportDtype: String = "uint16",
      // optional trained-LID artifact (operators.TrainedLid.writeModel);
      // when set, QualityStep scores with the model instead of the
      // stopword heuristic — the reference's swappable lid.176.bin seam
      lidModelPath: Option[String] = None,
      // when lidModelPath is unset, QualityStep defaults to the
      // committed 48-language artifact (fixtures/models/lid48) if it
      // resolves — the reference's bundled-model default; set false to
      // force the stopword heuristic (e.g. for corpora whose vocabulary
      // is out-of-domain for the committed fixture model)
      defaultLidArtifact: Boolean = true)

  case class StepStats(step: String, inputRows: Long, outputRows: Long,
                       elapsedSec: Double = 0, extra: Map[String, String] = Map.empty)

  /** Directory-name conventions (reference: core.py:279-286). */
  def stepDir(base: String, step: String): String = step match {
    case "clean"      => s"$base/cleaned_parquet"
    case "clustering" => s"$base/deduped_parquet"
    case "tokenize"   => s"$base/token_packing_parquet"
    case other        => s"$base/${other}_parquet"
  }

  /** Which directory each step reads (previous step's output). */
  val stepInput: Map[String, String] = Map(
    "clean" -> "ingest", "quality" -> "clean", "pii" -> "quality",
    "minhash" -> "pii", "clustering" -> "minhash",
    "train_tokenizer" -> "clustering", "tokenize" -> "clustering",
    "export" -> "tokenize")

  trait Step {
    def name: String
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats
  }

  val stepOrder: Seq[String] = Seq("ingest", "clean", "quality", "pii",
    "minhash", "clustering", "train_tokenizer", "tokenize", "export")

  private def statsJson(all: Seq[StepStats]): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    all.map { st =>
      val extra = st.extra.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")
      s"""{"step": ${q(st.step)}, "input_rows": ${st.inputRows}, "output_rows": ${st.outputRows}, "elapsed_sec": ${st.elapsedSec}${if (extra.nonEmpty) ", " + extra else ""}}"""
    }.mkString("[\n", ",\n", "\n]")
  }

  /** Run a sub-sequence of steps (all by default, or resume-from), with
    * stats persisted to `pipeline_stats.json` after every step
    * (reference: pipeline.py:144-186). */
  def run(spark: SparkSession, cfg: PipelineConfig, steps: Seq[Step],
          resumeFrom: Option[String] = None): Seq[StepStats] = {
    val ordered = steps.sortBy(s => stepOrder.indexOf(s.name))
    val selected = resumeFrom match {
      case Some(from) => ordered.dropWhile(_.name != from)
      case None       => ordered
    }
    Files.createDirectories(Paths.get(cfg.outputBase))
    val acc = new ArrayBuffer[StepStats]()
    selected.foreach { step =>
      val t0 = System.nanoTime()
      val st0 = step.run(spark, cfg)
      val st = st0.copy(elapsedSec = (System.nanoTime() - t0) / 1e9)
      acc += st
      Files.write(Paths.get(s"${cfg.outputBase}/pipeline_stats.json"),
        statsJson(acc.toSeq).getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
        StandardOpenOption.WRITE)
    }
    acc.toSeq
  }
}

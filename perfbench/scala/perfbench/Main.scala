package perfbench

import graft.core.Pipeline
import graft.core.Pipeline.{PipelineConfig, Step, StepStats, stepDir}
import graft.operators.{BpeTrainer, ConnectedComponents, Dedup, Packer}
import graft.operators.PipelineSteps._
import graft.functions.TextFunctions
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark driver: one SparkSession and one closed-loop client that runs
  * whole nine-step pipeline passes back to back. It only calls the
  * engine's public API and times those calls from outside. It writes one
  * JSON result file; `perfbench/run.py` checks the outputs against the
  * generator's manifest and derives the metrics.
  *
  * Untraced (`--trace 0`): a cold pass, then warm passes until `--seconds`
  * are used. Traced (`--trace 1`): warm passes alternate untraced and
  * traced, so the run measures its own tracing overhead; traced passes
  * record a span per step plus Spark listener counters per span; then an
  * operator probe re-runs the dedup stages and the packer one call at a
  * time, each materialized, to split their time. */
object Main {

  /** One timed call. `drainNs` is the listener-bus drain after the call,
    * which belongs to tracing, not to the parent's self time. */
  final class Span(val id: Int, val parent: Int, val name: String, val pass: Int,
                   val startNs: Long) {
    var endNs = 0L
    var drainNs = 0L
    var gcMs = 0L
    val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Counts Spark work per span: jobs, tasks, shuffle and spill bytes and
    * executor CPU from the scheduler, shuffle Exchanges from the executed
    * plans. `current` is the innermost open span. */
  final class Collector(sc: org.apache.spark.SparkContext)
      extends SparkListener with QueryExecutionListener {
    @volatile var current: Span = _

    private def add(k: String, v: Double): Unit = {
      val s = current
      if (s != null) s.c.synchronized { s.c(k) += v }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spill_bytes", m.diskBytesSpilled.toDouble)
        add("cpu_ns", m.executorCpuTime.toDouble)
      }
    }

    private def exchanges(p: SparkPlan): Int = {
      val own = p match {
        case _: ShuffleExchangeLike => 1
        case _ => 0
      }
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => Nil
      }
      own + (p.children ++ inner ++ p.subqueries).map(exchanges).sum
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      add("exchanges", exchanges(qe.executedPlan))

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    def drain(): Unit = PerfbenchBus.drain(sc)
  }

  final class Tracer(col: Collector) {
    val spans = ArrayBuffer[Span]()

    def apply[T](name: String, pass: Int)(body: => T): T = {
      val outer = col.current
      col.drain()
      val s = new Span(spans.size, if (outer == null) -1 else outer.id, name, pass, System.nanoTime())
      spans += s
      col.current = s
      val gc0 = gcMillis()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.gcMs = gcMillis() - gc0
        col.drain()
        s.drainNs = System.nanoTime() - s.endNs
        col.current = outer
      }
    }
  }

  /** Delegates to an engine step; records completion (so a throwing step
    * is known) and, in a traced pass, a span around the call. */
  final case class Call(inner: Step, pass: Int, tracer: Option[Tracer],
                        done: ArrayBuffer[StepStats]) extends Step {
    val name: String = inner.name
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      val t0 = System.nanoTime()
      val st = tracer match {
        case Some(t) => t(name, pass)(inner.run(spark, cfg))
        case None => inner.run(spark, cfg)
      }
      done += st.copy(elapsedSec = (System.nanoTime() - t0) / 1e9)
      st
    }
  }

  final case class Pass(id: Int, kind: String, traced: Boolean, wallS: Double,
                        steps: Seq[StepStats], sha256: String, error: String)

  private def sha256(path: String): String = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return ""
    val md = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 20)
      var r = in.read(buf)
      while (r >= 0) { md.update(buf, 0, r); r = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"$b%02x").mkString
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val cpus = a("cpus").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    // a traced run needs at least an untraced, a traced and an untraced
    // warm pass: comparing the traced one with the mean of its neighbours
    // cancels the warm-up drift that is still left after the cold pass
    val minWarm = if (traced) 3 else 1

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("tmp"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val readyEpochMs = System.currentTimeMillis()

    val mh = Dedup.MinHashConfig(jaccardThreshold = a("threshold").toDouble)
    val cfg = PipelineConfig(
      dataDir = a("data"), outputBase = a("out"),
      langs = Seq("en"), seqLen = a("seqlen").toInt, vocabSize = a("vocab").toInt,
      tokenizer = a("tokenizer"),
      // the generated vocabulary is synthetic: label with the stopword
      // heuristic, which the generator plants evidence for
      defaultLidArtifact = false)
    val steps: Seq[Step] = Seq(IngestStep(), CleanStep(), QualityStep(), PiiStep(),
      MinhashStep(mh), ClusteringStep(mh), TrainTokenizerStep(), TokenizeStep(), ExportStep())

    val collector = new Collector(spark.sparkContext)
    val tracer = new Tracer(collector)
    val passes = ArrayBuffer[Pass]()

    def runPass(kind: String, withTrace: Boolean): Pass = {
      val id = passes.size
      val done = ArrayBuffer[StepStats]()
      val tr = if (withTrace) Some(tracer) else None
      if (withTrace) {
        spark.sparkContext.addSparkListener(collector)
        spark.listenerManager.register(collector)
      }
      val t0 = System.nanoTime()
      val err =
        try {
          tr match {
            case Some(t) => t("pass", id)(Pipeline.run(spark, cfg, steps.map(Call(_, id, tr, done))))
            case None => Pipeline.run(spark, cfg, steps.map(Call(_, id, tr, done)))
          }
          null
        } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
      val wall = (System.nanoTime() - t0) / 1e9
      if (withTrace) {
        collector.drain()
        spark.sparkContext.removeSparkListener(collector)
        spark.listenerManager.unregister(collector)
      }
      val p = Pass(id, kind, withTrace, wall, done.toSeq,
        sha256(s"${cfg.outputBase}/export_tokens.bin"), err)
      passes += p
      System.err.println(f"[perfbench] pass $id%d $kind%s traced=$withTrace%s ${wall}%.2f s: " +
        p.steps.map(s => f"${s.step}%s=${s.elapsedSec}%.2f").mkString(" ") +
        (if (err == null) "" else s" ERROR $err"))
      p
    }

    val cold = runPass("cold", withTrace = false)
    val warmStart = System.nanoTime()
    def warmWalls = passes.filter(_.kind == "warm").map(_.wallS)
    var failed = cold.error != null
    while (!failed && {
      val w = warmWalls
      val elapsed = (System.nanoTime() - warmStart) / 1e9
      w.size < minWarm || elapsed + w.sorted.apply(w.size / 2) <= seconds
    }) {
      // traced runs alternate untraced/traced passes, starting untraced
      val p = runPass("warm", withTrace = traced && warmWalls.size % 2 == 1)
      failed = p.error != null
    }

    val probe = mutable.LinkedHashMap[String, Double]()
    if (traced && !failed) runProbe(spark, cfg, mh, tracer, passes.size, probe)

    val rssKb = peakRssKb()
    val sb = new StringBuilder
    sb ++= s"""{"ready_epoch_ms": $readyEpochMs, "cpus": $cpus, "peak_rss_kb": $rssKb,\n"""
    sb ++= "\"passes\": [\n" + passes.map { p =>
      val st = p.steps.map { s =>
        s"""{"name": ${q(s.step)}, "out": ${s.outputRows}, "s": ${num(s.elapsedSec)}}"""
      }.mkString("[", ", ", "]")
      s"""{"id": ${p.id}, "kind": ${q(p.kind)}, "traced": ${p.traced}, "wall_s": ${num(p.wallS)}, """ +
        s""""sha256": ${q(p.sha256)}, "error": ${if (p.error == null) "null" else q(p.error)}, "steps": $st}"""
    }.mkString(",\n") + "],\n"
    sb ++= "\"probe\": {" + probe.map { case (k, v) => s"${q(k)}: ${num(v)}" }.mkString(", ") + "},\n"
    sb ++= "\"spans\": [\n" + tracer.spans.map { s =>
      val c = s.c.map { case (k, v) => s"${q(k)}: ${num(v)}" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${q(s.name)}, "pass": ${s.pass}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "drain_ns": ${s.drainNs}, """ +
        s""""gc_ms": ${s.gcMs}, "counters": {$c}}"""
    }.mkString(",\n") + "]}\n"
    Files.write(Paths.get(a("result")), sb.toString.getBytes("UTF-8"))
    spark.stop()
  }

  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** Re-run the clustering stages and the packer one public call at a
    * time on the last pass's handoff data, materializing after each, so
    * each stage gets its own span. */
  private def runProbe(spark: SparkSession, cfg: PipelineConfig, mh: Dedup.MinHashConfig,
                       t: Tracer, pass: Int, out: mutable.Map[String, Double]): Unit = {
    import spark.implicits._
    val in = spark.read.parquet(stepDir(cfg.outputBase, "minhash")).persist(StorageLevel.MEMORY_AND_DISK)
    val inRows = in.count()
    val sigs = in.select(col("doc_id").as("id"), col("signature"))
    val cached = ArrayBuffer[DataFrame](in)
    t("probe.dedup", pass) {
      val (band, _) = t("dedup.band", pass)(materialize(Dedup.bandRows(sigs, mh)))
      val (cand, nCand) = t("dedup.candidates", pass)(
        materialize(Dedup.candidatePairs(band, mh, chainOnly = mh.jaccardThreshold <= 0.0)))
      val (ver, nVer) = t("dedup.verify", pass)(
        materialize(Dedup.verifyPairs(cand, sigs, mh.jaccardThreshold)))
      val (comp, _) = t("dedup.cc", pass)(materialize(ConnectedComponents.runOnStrings(ver)))
      val kept = t("dedup.pick", pass) {
        // ClusteringStep's canonical pick: per component the max
        // (length, doc_id) survives, the rest are anti-joined out
        val withComp = in.join(comp, in("doc_id") === comp("id"), "left")
          .withColumn("component", coalesce(col("component"), col("doc_id")))
        val best = withComp.groupBy("component")
          .agg(max(struct(col("length"), col("doc_id"))).as("__best"))
          .select(col("__best.doc_id").as("__keep_id")).distinct()
        withComp.join(best, withComp("doc_id") === best("__keep_id"), "left_semi").count()
      }
      cached ++= Seq(band, cand, ver, comp)
      out("candidate_pairs") = nCand.toDouble
      out("verified_pairs") = nVer.toDouble
      out("removed") = (inRows - kept).toDouble
    }

    val docs = spark.read.parquet(stepDir(cfg.outputBase, "clustering")).select("doc_id", "text")
    val eos = 2
    t("probe.pack", pass) {
      // TokenizeStep's tokenization, materialized, so packExact is timed alone
      val ids =
        if (cfg.tokenizer == "bpe") {
          val merges = spark.read.parquet(s"${cfg.outputBase}/bpe_merges_parquet")
            .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
          val vocab = spark.read.parquet(s"${cfg.outputBase}/bpe_vocab_parquet")
            .select("word", "id").as[(String, Int)].collect().toMap
          BpeTrainer.tokenize(docs, "text", BpeTrainer.BpeModel(merges, vocab))
            .select(col("doc_id"), concat(col("ids"), array(lit(eos))).as("ids"))
        } else {
          val vocab = spark.read.parquet(s"${cfg.outputBase}/vocab_parquet")
            .select("word", "id").as[(String, Int)].collect().toMap
          val bc = spark.sparkContext.broadcast(vocab)
          docs.select(col("doc_id"), split(TextFunctions.normalizeForDedup(col("text")), " ").as("w"))
            .as[(String, Seq[String])]
            .map { case (id, ws) => (id, ws.filter(_.nonEmpty).map(w => bc.value.getOrElse(w, 0)) :+ eos) }
            .toDF("doc_id", "ids")
        }
      val (toks, _) = t("pack.input", pass)(materialize(ids.withColumn("ord", xxhash64(col("doc_id")))))
      cached += toks
      val chunks = t("pack", pass) {
        val packed = Packer.packExact(toks, "ord", "ids", cfg.seqLen, eosId = eos)
        packed.count()
      }
      out("tokens_in") = toks.agg(sum(size(col("ids")))).head().getLong(0).toDouble
      out("tokens_out") = (chunks * cfg.seqLen).toDouble
    }
    cached.foreach(_.unpersist())
  }
}

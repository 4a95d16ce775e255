package graft

import graft.core.Pipeline
import graft.operators.PipelineSteps
import graft.sources.WetSource
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.col

import java.io.{ByteArrayOutputStream, FileOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream
import scala.jdk.CollectionConverters._

/** Golden end-to-end: synthetic WET fixture → all nine steps → packed
  * binary, asserting schema/row contracts per stage (SURVEY §5 plan). */
class PipelineSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def wetRecord(url: String, date: String, rid: String, text: String): String = {
    val payload = text.getBytes(StandardCharsets.UTF_8)
    s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $url\r\n" +
      s"WARC-Date: $date\r\nWARC-Record-ID: <urn:uuid:$rid>\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n" + text + "\r\n\r\n"
  }

  private def writeWetGz(path: Path, records: Seq[String]): Unit = {
    val os = new GZIPOutputStream(new FileOutputStream(path.toFile))
    records.foreach(r => os.write(r.getBytes(StandardCharsets.UTF_8)))
    os.close()
  }

  private def mkText(seedWord: String): String =
    // no shared template across seeds: texts from different seeds must
    // NOT be LSH-near-duplicates of each other
    (1 to 60).map(i => s"$seedWord$i ${seedWord}q$i ${seedWord}z$i the").mkString(" ")

  test("wet parser roundtrip honors type filter, min chars, truncation, doc ids") {
    val dir = Files.createTempDirectory("wet")
    val recs = Seq(
      wetRecord("http://a.example/1", "2025-01-01T00:00:00Z", "r1", mkText("alpha")),
      wetRecord("http://a.example/2", "2025-01-01T00:00:01Z", "r2", "too short"),
      // non-conversion record must be skipped
      wetRecord("http://a.example/3", "2025-01-01T00:00:02Z", "r3", mkText("beta"))
        .replace("WARC-Type: conversion", "WARC-Type: request"),
      wetRecord("http://a.example/4", "2025-01-01T00:00:03Z", "r4", "x" * 1000))
    writeWetGz(dir.resolve("f1.wet.gz"), recs)
    val cfg = WetSource.WetConfig(minChars = 100, maxChars = 500)
    val docs = WetSource.readDir(spark, dir.toString, cfg).collect()
    assert(docs.length == 2)
    val byUrl = docs.map(r => r.getString(1) -> r).toMap
    assert(byUrl.contains("http://a.example/1"))
    assert(byUrl("http://a.example/4").getString(4).length == 500) // truncated
    assert(docs.map(_.getString(0)).distinct.length == 2)          // unique sha1 ids
    assert(docs.forall(_.getString(0).length == 40))
  }

  test("wet DataSource V2: spark.read.format(\"wet\") reads a directory") {
    val dir = Files.createTempDirectory("wetv2")
    writeWetGz(dir.resolve("a.wet.gz"), Seq(
      wetRecord("http://v2/1", "2025-01-01T00:00:00Z", "v1", mkText("alpha")),
      wetRecord("http://v2/2", "2025-01-01T00:00:01Z", "v2", mkText("beta"))))
    writeWetGz(dir.resolve("b.wet.gz"), Seq(
      wetRecord("http://v2/3", "2025-01-01T00:00:02Z", "v3", mkText("gamma"))))
    val df = spark.read.format("wet").option("minChars", "100").load(dir.toString)
    assert(df.schema.fieldNames.toSeq ==
      Seq("doc_id", "url", "warc_date", "source_path", "text"))
    assert(df.count() == 3)
    // partition-per-file parallelism
    assert(df.rdd.getNumPartitions == 2)
    // usable as a plain table: project + filter compose
    assert(df.filter(col("url") === "http://v2/2").select("text").head()
      .getString(0).startsWith("beta1"))
    // maxFiles option caps the listing
    assert(spark.read.format("wet").option("minChars", "100")
      .option("maxFiles", "1").load(dir.toString).count() == 2)
  }

  test("truncated wet record is dropped, valid earlier records survive") {
    val dir = Files.createTempDirectory("wet_trunc")
    val good = wetRecord("http://t/1", "2025-01-01T00:00:00Z", "g1", mkText("good"))
    val bad = wetRecord("http://t/2", "2025-01-01T00:00:01Z", "g2", mkText("bad"))
    val full = (good + bad).getBytes(StandardCharsets.UTF_8)
    // cut the stream 100 bytes into the second record's payload
    val cut = full.take(good.getBytes(StandardCharsets.UTF_8).length + 200)
    val os = new GZIPOutputStream(new FileOutputStream(dir.resolve("t.wet.gz").toFile))
    os.write(cut); os.close()
    val docs = WetSource.readDir(spark, dir.toString, WetSource.WetConfig(minChars = 100)).collect()
    assert(docs.length == 1)
    assert(docs.head.getString(1) == "http://t/1")
    assert(!docs.head.getString(4).contains("\u0000"))
  }

  test("full nine-step pipeline on fixture produces packed binary") {
    val dataDir = Files.createTempDirectory("wetdata")
    val outBase = Files.createTempDirectory("pipeout").toString
    // 2 files; include an exact duplicate pair and a near-duplicate pair
    val t1 = mkText("alpha"); val t2 = mkText("omega")
    writeWetGz(dataDir.resolve("a.wet.gz"), Seq(
      wetRecord("http://x/1", "2025-01-01T00:00:00Z", "r1", t1),
      wetRecord("http://x/2", "2025-01-01T00:00:01Z", "r2", t2),
      wetRecord("http://x/3", "2025-01-01T00:00:02Z", "r3", t1)))          // exact dup
    writeWetGz(dataDir.resolve("b.wet.gz"), Seq(
      wetRecord("http://x/4", "2025-01-01T00:00:03Z", "r4", t2 + " extra tail words"), // near dup
      wetRecord("http://x/5", "2025-01-01T00:00:04Z", "r5", mkText("gamma")),
      wetRecord("http://x/6", "2025-01-01T00:00:05Z", "r6", "1 2 3 4 5 6 7 8 9 0 " * 20))) // low lang signal

    val cfg = Pipeline.PipelineConfig(
      dataDir = dataDir.toString, outputBase = outBase,
      langs = Seq("en", "und"), langThreshold = 0.0,
      // the WET fixture's synthetic vocabulary is out-of-domain for the
      // committed 40-lang artifact; the heuristic is the right labeler
      defaultLidArtifact = false,
      seqLen = 64, vocabSize = 500, exportDtype = "uint16")
    val stats = Pipeline.run(spark, cfg, PipelineSteps.all)
    val byStep = stats.map(s => s.step -> s).toMap

    assert(byStep("ingest").outputRows == 6)
    assert(byStep("clean").outputRows == 5)       // digit doc dropped (low_language_signal)
    assert(byStep("clustering").outputRows == 3)  // dup + near-dup removed
    assert(byStep("export").outputRows > 0)

    // every reported row count is what a fresh read of its directory holds
    def rowsIn(dir: String) = spark.read.parquet(dir).count()
    Seq("ingest", "clean", "quality", "pii", "minhash", "clustering", "tokenize").foreach { s =>
      assert(byStep(s).outputRows == rowsIn(Pipeline.stepDir(outBase, s)), s)
    }
    assert(byStep("train_tokenizer").outputRows == rowsIn(s"$outBase/vocab_parquet"))
    assert(byStep("clean").extra("dropped").toLong == rowsIn(s"$outBase/dropped_parquet"))
    // every step reports as its input rows what its input step wrote
    Pipeline.stepInput.foreach { case (s, from) =>
      assert(byStep(s).inputRows == byStep(from).outputRows, s)
    }
    // every step reports its codegen compiles; clustering its regime
    stats.foreach(st => assert(st.extra("codegen_compiles").toLong >= 0, st.step))
    assert(byStep("clustering").extra("regime") == "driver")
    // train_tokenizer times its writes; tokenize got the model it kept
    assert(byStep("train_tokenizer").extra("write_s").toDouble > 0)
    assert(byStep("tokenize").extra("model") == "memory")
    assert(byStep("tokenize").extra("load_s").toDouble >= 0)

    // schema contracts per stage
    val cleaned = spark.read.parquet(s"$outBase/cleaned_parquet")
    assert(Seq("doc_id", "url", "warc_date", "source_path", "text", "kept", "drop_reason",
      "m_non_ws", "m_alpha_cjk", "m_punct", "m_dup_line").forall(cleaned.columns.contains))
    val dropped = spark.read.parquet(s"$outBase/dropped_parquet")
    assert(dropped.count() == 1)
    val minhash = spark.read.parquet(s"$outBase/minhash_parquet")
    assert(minhash.columns.contains("signature") && minhash.columns.contains("length"))
    assert(minhash.selectExpr("size(signature)").head().getInt(0) == 128)
    val packed = spark.read.parquet(s"$outBase/token_packing_parquet")
    assert(packed.selectExpr("size(input_ids)").collect().forall(_.getInt(0) == 64))

    // binary length == chunks * seqLen * 2 bytes
    val nChunks = packed.count()
    assert(byStep("export").outputRows == nChunks * 64)
    val bin = Files.size(Path.of(s"$outBase/export_tokens.bin"))
    assert(bin == nChunks * 64 * 2, s"bin=$bin chunks=$nChunks")
    // and the bytes decode back to exactly the packed ids (little-endian u16)
    val allIds = packed.orderBy("part_id", "chunk_in_part")
      .collect().flatMap(_.getSeq[Int](2))
    val bytes = Files.readAllBytes(Path.of(s"$outBase/export_tokens.bin"))
    val decoded = bytes.grouped(2).map(b => ((b(0) & 0xff) | ((b(1) & 0xff) << 8))).toArray
    assert(decoded.toSeq == allIds.toSeq)
    // executor-side shards + manifest: concat of shards in partition order
    // must equal the final file byte-for-byte
    val shardDir = Path.of(s"$outBase/export_tokens.shards")
    val shardFiles = Files.list(shardDir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".bin")).sortBy(_.getFileName.toString)
    assert(shardFiles.nonEmpty)
    val shardConcat = shardFiles.flatMap(p => Files.readAllBytes(p).toSeq)
    assert(shardConcat == bytes.toSeq, "shard concat != export file")
    val manifest = Files.readString(shardDir.resolve("manifest.json"))
    assert(manifest.contains("\"tokens\":") && manifest.startsWith("["))

    // manifest reader: the concat file is optional — a consumer gets
    // identical bytes (and arbitrary token ranges) from the shards alone
    val hconf = spark.sparkContext.hadoopConfiguration
    val shardsUri = shardDir.toString
    val entries = graft.sources.ExportReader.readManifest(hconf, shardsUri)
    assert(entries.map(_.name) == shardFiles.map(_.getFileName.toString))
    assert(entries.map(_.tokens).sum == allIds.length.toLong)
    assert(graft.sources.ExportReader.totalTokens(hconf, shardsUri) == allIds.length.toLong)
    val streamed = {
      val is = graft.sources.ExportReader.open(hconf, shardsUri)
      try Iterator.continually(is.read()).takeWhile(_ >= 0).map(_.toByte).toSeq
      finally is.close()
    }
    assert(streamed == bytes.toSeq, "manifest-ordered shard stream != concat file")
    // a mid-stream slice crossing a shard boundary decodes the same ids
    val bnd = entries.find(e => e.tokenOffset >= 3 && e.tokens > 0)
      .map(_.tokenOffset.toInt).getOrElse(3)
    val slice = graft.sources.ExportReader.tokenSlice(
      hconf, shardsUri, "uint16", bnd - 3, 7)
    assert(slice.toSeq == allIds.slice(bnd - 3, bnd + 4).toSeq)
    assert(graft.sources.ExportReader.tokenSlice(hconf, shardsUri, "uint16",
      0, allIds.length).toSeq == allIds.toSeq)
    intercept[IllegalArgumentException] {
      graft.sources.ExportReader.tokenSlice(hconf, shardsUri, "uint16",
        allIds.length.toLong - 1, 2)
    }

    // stats json checkpoint exists and is valid-ish
    val js = Files.readString(Path.of(s"$outBase/pipeline_stats.json"))
    assert(js.contains("\"step\": \"export\""))
    assert(js.contains("\"regime\": \"driver\"") && js.contains("\"codegen_compiles\": "))

    // resume-from: re-run just export reusing prior outputs
    val stats2 = Pipeline.run(spark, cfg, PipelineSteps.all, Some("export"))
    assert(stats2.map(_.step) == Seq("export"))

    // int32 export path: same token stream, 4 bytes per id
    val cfg32 = cfg.copy(exportDtype = "int32")
    Pipeline.run(spark, cfg32, PipelineSteps.all, Some("export"))
    val bin32 = Files.readAllBytes(Path.of(s"$outBase/export_tokens.bin"))
    assert(bin32.length == allIds.length * 4)
    val decoded32 = bin32.grouped(4).map(b =>
      (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 24)).toSeq
    assert(decoded32 == allIds.toSeq)
    // manifest reader over the rewritten int32 shards
    assert(graft.sources.ExportReader.tokenSlice(hconf, shardsUri, "int32",
      0, allIds.length).toSeq == allIds.toSeq)

    // unigram tokenizer path: resume from train_tokenizer with the
    // unigram-LM model — ids stay under the vocab budget, packing and
    // export flow end-to-end
    val cfgUni = cfg.copy(tokenizer = "unigram")
    Pipeline.run(spark, cfgUni, PipelineSteps.all,
      Some("train_tokenizer"))
    val packedU = spark.read.parquet(s"$outBase/token_packing_parquet")
    assert(packedU.count() > 0)
    assert(packedU.selectExpr("size(input_ids)").collect().forall(_.getInt(0) == 64))
    val idsU = packedU.orderBy("part_id", "chunk_in_part")
      .collect().flatMap(_.getSeq[Int](2))
    assert(idsU.forall(id => id >= 0 && id < 500))
    assert(idsU.exists(_ >= graft.operators.Tokenizer.FirstLearnedId),
      "at least one learned piece id in the stream")

    // bpe: train_tokenizer reports its distributed count and its driver
    // trainer apart
    val tt = Pipeline.run(spark, cfg.copy(tokenizer = "bpe"),
      Seq(PipelineSteps.TrainTokenizerStep())).head
    assert(tt.extra("count_s").toDouble > 0 && tt.extra("train_s").toDouble > 0, tt.extra)
  }

  test("pipeline_stats.json escapes control chars in a step's extra") {
    val st = Pipeline.StepStats("export", 1, 2, 0.5, Map("path" -> "out\tbase\n\"x\""))
    val js = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Pipeline.statsJson(Seq(st)))
    assert(js.get(0).get("path").asText === "out\tbase\n\"x\"")
    assert(js.get(0).get("output_rows").asLong === 2)
  }

  test("export warns on a token id that does not fit uint16, and wraps it") {
    import spark.implicits._
    val outBase = Files.createTempDirectory("exportwarn").toString
    val cfg = Pipeline.PipelineConfig(dataDir = ".", outputBase = outBase)
    // export one packed chunk of `ids`; returns what the step printed to stderr
    def runExport(ids: Seq[Int]): String = {
      Seq((0, 0L, ids)).toDF("part_id", "chunk_in_part", "input_ids")
        .write.mode("overwrite").parquet(Pipeline.stepDir(outBase, "tokenize"))
      val err = new ByteArrayOutputStream()
      val saved = System.err
      System.setErr(new PrintStream(err, true, "UTF-8"))
      try PipelineSteps.ExportStep().run(spark, cfg)
      finally System.setErr(saved)
      err.toString("UTF-8")
    }
    assert(runExport(Seq(7, 70000, 65534)).contains(
      "[graft] WARNING: token id 70000 >= 65535 exported as uint16 (wraps)"))
    val bytes = Files.readAllBytes(Path.of(s"$outBase/export_tokens.bin"))
    val decoded = bytes.grouped(2).map(b => (b(0) & 0xff) | ((b(1) & 0xff) << 8)).toSeq
    assert(decoded == Seq(7, 70000 - 65536, 65534))
    assert(!runExport(Seq(7, 65534)).contains("WARNING: token id"))
  }

  test("CLI flags parse into the pipeline config, tokenizer knobs included") {
    val (cfg, flags, opts) = PipelineMain.parseConfig(Array(
      "--data-dir", "/in", "--output-base", "/out", "--limit", "100",
      "--tokenizer", "unigram", "--character-coverage", "0.9995",
      "--input-sentence-size", "5000000", "--export-dtype", "int32",
      "--enable-ner", "--steps", "ingest,clean", "--resume-from", "clean"))
    assert(cfg.dataDir == "/in" && cfg.outputBase == "/out")
    assert(cfg.limit.contains(100) && cfg.tokenizer == "unigram")
    assert(cfg.characterCoverage == 0.9995)
    assert(cfg.inputSentenceSize.contains(5000000))
    assert(cfg.exportDtype == "int32" && flags("--enable-ner"))
    // orchestration flags ride the SAME pairing (the standalone flag
    // is filtered before sliding, so it can sit anywhere between pairs)
    assert(opts("--steps") == "ingest,clean" && opts("--resume-from") == "clean")
    // defaults are the identity knobs
    val (d, _, _) = PipelineMain.parseConfig(Array.empty)
    assert(d.tokenizer == "word" && d.characterCoverage == 1.0 &&
      d.inputSentenceSize.isEmpty && d.exportDtype == "uint16")
  }

  test("pii step with NER enabled redacts gated capitalized names") {
    import spark.implicits._
    val outBase = Files.createTempDirectory("piiout").toString
    Seq(
      ("d1", "Contact John Smith at the office"),
      ("d2", "no names in this plain lowercase text"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$outBase/quality_parquet")
    val cfg = Pipeline.PipelineConfig(dataDir = ".", outputBase = outBase)
    PipelineSteps.PiiStep(enableNer = true).run(spark, cfg)
    val out = spark.read.parquet(s"$outBase/pii_parquet").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("d1").contains("<NAME>") && !out("d1").contains("John"))
    assert(out("d2") == "no names in this plain lowercase text")
  }

  test("clustering below the bound writes with no exchange over its input") {
    import spark.implicits._
    val outBase = Files.createTempDirectory("clusterplan").toString
    val t1 = mkText("alpha"); val t2 = mkText("omega")
    Seq(("a1", t1), ("a2", t1 + " tail"), ("a3", t1), ("o1", t2), ("o2", t2 + " end"),
      ("g1", mkText("gamma")))
      .toDF("doc_id", "text").write.parquet(s"$outBase/pii_parquet")
    val cfg = Pipeline.PipelineConfig(dataDir = ".", outputBase = outBase)
    PipelineSteps.MinhashStep().run(spark, cfg)
    var st: Pipeline.StepStats = null
    val plans = executedPlans { st = PipelineSteps.ClusteringStep().run(spark, cfg) }
    assert(st.extra("regime") == "driver" && st.outputRows == 3)
    val kept = spark.read.parquet(Pipeline.stepDir(outBase, "clustering"))
      .select("doc_id").as[String].collect().toSet
    // per cluster the longest text survives
    assert(kept == Set("a2", "o2", "g1"))
    val write = plans.filter(p => collect(p) { case w: DataWritingCommandExec => w }.nonEmpty)
    assert(write.size == 1)
    assert(collect(write.head) { case e: ShuffleExchangeLike => e }.isEmpty, write.head)
    assert(collect(write.head) { case j: BroadcastHashJoinExec => j }.size == 1, write.head)
    // chain mode (the default) builds no member array of a bucket
    plans.foreach(p => assert(!p.toString.contains("collect_list"), p))
  }
}

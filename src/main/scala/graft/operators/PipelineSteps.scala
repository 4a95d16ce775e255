package graft.operators

import graft.core.{Handoff, PerRow, SmallInput}
import graft.core.Pipeline._
import graft.functions.{HashFunctions, PiiFunctions, TextFunctions}
import graft.sources.WetSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.RowBridge
import org.apache.spark.storage.StorageLevel

import org.apache.hadoop.fs.{Path => HPath}

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

/** Hadoop `Configuration` is not Java-serializable; this wrapper ships it
  * to executors via its own writable form so shard tasks resolve the SAME
  * filesystem (S3A credentials, defaultFS, ...) as the driver. */
private[operators] class SerializableHadoopConf(
    @transient var conf: org.apache.hadoop.conf.Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new org.apache.hadoop.conf.Configuration(false)
    conf.readFields(in)
  }
}

/** The nine reference pipeline steps (reference: src/llm_data_pipeline/
  * pipeline.py:85-95 — ingest → clean → quality → pii → minhash →
  * clustering → train_tokenizer → tokenize → export) as Spark steps over
  * the directory-handoff contract. Every step is restartable in
  * isolation because its input is the previous step's parquet dir. */
object PipelineSteps {

  /** The previous step's output, capped at `cfg.limit` rows. */
  private def readStep(spark: SparkSession, cfg: PipelineConfig, step: String): Handoff.Read = {
    val r = Handoff.read(spark, stepDir(cfg.outputBase, stepInput(step)))
    cfg.limit.fold(r)(n => Handoff.Read(r.df.limit(n), r.rows.map(math.min(_, n.toLong))))
  }

  private def writeStep(df: DataFrame, cfg: PipelineConfig, step: String): Long =
    Handoff.write(df, stepDir(cfg.outputBase, step))

  /** `body`'s result and its wall time in seconds. */
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** ingest: WET files → documents parquet (S1-S3). */
  case class IngestStep(maxFiles: Int = Int.MaxValue,
                        wetCfg: WetSource.WetConfig = WetSource.WetConfig()) extends Step {
    val name = "ingest"
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      val files = WetSource.discover(cfg.dataDir, maxFiles = maxFiles)
      val docs0 = WetSource.read(spark, files, wetCfg)
      val docs = cfg.limit.map(docs0.limit).getOrElse(docs0)
      val out = writeStep(docs, cfg, name)
      StepStats(name, files.size, out, 0, Map("files" -> files.size.toString))
    }
  }

  /** clean: normalize + metrics + judge; kept/dropped dual outputs
    * (reference: src/llm_data_pipeline/clean/run.py:105-117). The lineage
    * is persisted before the kept/dropped fork so the scan+judge runs
    * once, not three times like the reference; the input row count is
    * kept + dropped, both counted on their writes. */
  case class CleanStep(thresholds: TextFunctions.CleanThresholds = TextFunctions.CleanThresholds())
      extends Step {
    val name = "clean"
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      val in = readStep(spark, cfg, name).df
      val t = TextFunctions.normalizeNewlines(col("text"))
      val judged = in
        .withColumn("text", t)
        .withColumn("m_non_ws", TextFunctions.nonWsRatio(col("text")))
        .withColumn("m_alpha_cjk", TextFunctions.alphaCjkRatio(col("text")))
        .withColumn("m_punct", TextFunctions.punctRatio(col("text")))
        .withColumn("m_dup_line", TextFunctions.dupLineRatio(col("text")))
        .withColumn("drop_reason", TextFunctions.judgeMetrics(length(col("text")),
          col("m_non_ws"), col("m_alpha_cjk"), col("m_punct"), col("m_dup_line"), thresholds))
        .withColumn("kept", col("drop_reason") === "ok")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val kept = writeStep(judged.filter(col("kept")), cfg, name)
      val dropped = Handoff.write(judged.filter(!col("kept")), s"${cfg.outputBase}/dropped_parquet")
      judged.unpersist()
      StepStats(name, kept + dropped, kept, 0, Map("dropped" -> dropped.toString))
    }
  }

  /** quality: language-ID + keep filter. One labeler (the stopword
    * heuristic, a TrainedLid artifact or a fastText `.bin`, see
    * [[TextAnalysis]]) gives each document one `(lang, lang_score)`
    * struct, appended once through [[PerRow.append]] and then filtered,
    * so the labeler runs once per document. */
  case class QualityStep() extends Step {
    val name = "quality"
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      val r = readStep(spark, cfg, name)
      val in = r.df
      // model seam (reference lid.176.bin swap, quality/model.py:267-340):
      // an artifact path routes labeling through the trained NB scorer —
      // DEFAULTING to the committed 48-language artifact when present
      // (fixtures/models/lid48), like the reference defaults to its
      // bundled lid.176.bin; the table-driven stopword heuristic is the
      // no-artifact fallback. Labels get the reference's __label__
      // prefix unless they carry it already (fastText's do)
      val text = col("text")
      val labels = cfg.lidModelPath.orElse(
          if (cfg.defaultLidArtifact) TrainedLid.defaultArtifactPath else None) match {
        case Some(p) if p.endsWith(".bin") =>
          // a real fastText artifact (the reference's lid.176.bin
          // itself): the model's own confidence IS the lang_score — the
          // reference thresholds fastText's prob (quality/model.py
          // LanguageFilter.keep: `score >= self.threshold`), not a
          // side-channel heuristic
          FastTextBin.predict(text, FastTextBin.read(p))
        case Some(p) =>
          struct(TrainedLid.label(text, TrainedLid.loadModel(spark, p)),
            TextAnalysis.langIdScore(text))
        case None =>
          struct(TextAnalysis.langIdLabel(text), TextAnalysis.langIdScore(text))
      }
      val lang = col("lang")
      val scored = PerRow.append(in, Seq("lang", "lang_score"), labels)
        .withColumn("lang", when(lang.startsWith("__label__"), lang)
          .otherwise(concat(lit("__label__"), lang)))
        .withColumn("quality_keep",
          substring(lang, 10, 10).isin(cfg.langs: _*)
            && col("lang_score") >= cfg.langThreshold)
      val out = writeStep(scored.filter(col("quality_keep")), cfg, name)
      StepStats(name, r.rows.getOrElse(-1), out)
    }
  }

  /** pii: structured regex redaction, pure expressions (P9/F13); the
    * optional NER pass (reference M3, default off like the reference's
    * --enable-ner, reference: pipeline.py:61) is a heuristic
    * capitalized-name redactor applied single-pass behind the same
    * `needsNer` gating - no split/union double-scan (J3). */
  case class PiiStep(enableNer: Boolean = false) extends Step {
    val name = "pii"
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      val r = readStep(spark, cfg, name)
      val flagged0 = r.df
        .withColumn("pii_has_email", PiiFunctions.hasEmail(col("text")))
        .withColumn("pii_has_ip4", PiiFunctions.hasIpv4(col("text")))
        .withColumn("pii_has_ssn", PiiFunctions.hasSsn(col("text")))
        .withColumn("pii_has_phone", PiiFunctions.hasPhone(col("text")))
        .withColumn("text", PiiFunctions.redact(col("text")))
      val flagged =
        if (!enableNer) flagged0
        else flagged0.withColumn("text",
          when(PiiFunctions.needsNer(col("text")), PiiFunctions.redactNames(col("text")))
            .otherwise(col("text")))
      val result =
        if (cfg.keepPiiStats) flagged
        else flagged.drop("pii_has_email", "pii_has_ip4", "pii_has_ssn", "pii_has_phone")
      val out = writeStep(result, cfg, name)
      StepStats(name, r.rows.getOrElse(-1), out)
    }
  }

  /** minhash: signature + length columns (reference: src/llm_data_pipeline/
    * dedup/run_minhash.py:48-49). */
  case class MinhashStep(mh: Dedup.MinHashConfig = Dedup.MinHashConfig()) extends Step {
    val name = "minhash"
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      val r = readStep(spark, cfg, name)
      val out = writeStep(r.df
        .withColumn("signature",
          HashFunctions.minhash(TextFunctions.normalizeForDedup(col("text")),
            mh.k, mh.ngram, mh.seed))
        .withColumn("length", length(col("text")).cast("long")), cfg, name)
      StepStats(name, r.rows.getOrElse(-1), out)
    }
  }

  /** clustering: [[Dedup.lshLosers]], the LSH pairs → [[Dedup.loserMap]]
    * tail, ranked by `length`: per component the max (length, doc_id)
    * survives — the reference's pick order minus the absent ts
    * (reference: dedup/dedup.py:123-130) — and the losers are anti-joined
    * out. Only component members are grouped; singletons pass straight
    * through the anti-join. Below the [[graft.core.SmallInput]] bound the
    * pairs, the components and the pick are built on the driver, as the
    * reference folds every graph there (dedup/dedup.py:74-130): one
    * shuffle plus bounded collects, and the losers come back as a local
    * relation, so the anti-join broadcasts them with no exchange over the
    * input. Above it the distributed pair build, star loop and pick run.
    *
    * The input is not cached: each read (the band rows, the members'
    * lengths, the write) takes its own columns from parquet, and past the
    * bound `lshLosers` caches the signatures for the pair build. A
    * `cfg.limit` input is cached whole, so that every read sees the same
    * rows. `extra` reports the `regime`: `driver` when the loser map came
    * back as a local relation, else `distributed`. */
  case class ClusteringStep(mh: Dedup.MinHashConfig = Dedup.MinHashConfig()) extends Step {
    val name = "clustering"
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      val r = readStep(spark, cfg, name)
      val in = if (cfg.limit.isEmpty) r.df else r.df.persist(StorageLevel.MEMORY_AND_DISK)
      // counted only when the input was not written through the handoff
      val inRows = r.rows.getOrElse(in.count())
      val losers = Dedup.lshLosers(in, "doc_id", mh, Some(col("length")))
      val kept = in.join(losers.select(col("dropped_id").as("doc_id")), Seq("doc_id"), "left_anti")
      val out = writeStep(kept, cfg, name)
      in.unpersist()
      StepStats(name, inRows, out, 0, Map("removed" -> (inRows - out).toString,
        "regime" -> (if (SmallInput.isLocal(losers)) "driver" else "distributed")))
    }
  }

  /** train_tokenizer: train the [[Tokenizer]] model `cfg.tokenizer`
    * names. The word vocab (`vocab_parquet`: (word, freq, id), the
    * reference's special ids unk=0, bos=1, eos=2, pad=3 then words by
    * frequency, reference: tokenizer/train.py:111-134) is always
    * written: a model-free stand-in for SentencePiece training whose
    * data-side contract (corpus in, vocab artifact out) is identical.
    * `bpe` adds [[BpeTrainer]]'s merge artifact and `unigram`
    * [[UnigramTrainer]]'s piece table. Every model is saved through
    * [[Tokenizer.saveModel]], which keeps the last one in driver memory
    * for [[TokenizeStep]]. All three count corpus words through
    * [[Tokenizer.corpusWordCounts]]; `extra` reports that distributed
    * layer (`count_s`) apart from the driver trainer (`train_s`; `word`
    * trains nothing) and the step's writes (`write_s`). */
  case class TrainTokenizerStep(corpusShards: Int = 8, maxCorpusChars: Int = 100000) extends Step {
    val name = "train_tokenizer"
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      val r = readStep(spark, cfg, name)
      val in = r.df
      // S7 sharded text sink: one doc per line, newlines flattened,
      // repartitioned for parallel shard writes (reference:
      // src/llm_data_pipeline/tokenizer/train.py:25-87) - the corpus a
      // native SentencePiece trainer would consume.
      val (_, corpusS) = timed(
        in.select(substring(regexp_replace(col("text"), "\\n", " "), 1, maxCorpusChars).as("value"))
          .na.drop()
          .repartition(corpusShards)
          .write.mode("overwrite").text(s"${cfg.outputBase}/train_corpus_txt"))
      // id assignment happens driver-side after the distributed top-k:
      // the vocab artifact is <= vocabSize rows by construction, and this
      // avoids an unpartitioned (single-task) ranking window entirely
      val (words, wordCountS) = timed(Tokenizer.corpusWordCounts(in, "text",
        TextFunctions.normalizeForDedup, cfg.vocabSize - Tokenizer.Specials.length))
      val wordModel = Tokenizer.WordModel(words)
      val (_, vocabS) = timed(Tokenizer.saveModel(spark, cfg.outputBase, wordModel))
      // the step's layers, timed apart: the distributed corpus counts
      // (count_s), the driver trainer (train_s) and the writes (write_s)
      val (trainerWords, trainerCountS) = timed(cfg.tokenizer match {
        case "bpe" | "unigram" => Tokenizer.corpusWordCounts(in, "text",
          Tokenizer.normalizeForTokenize, Tokenizer.TrainerWords, cfg.inputSentenceSize)
        case _ => Nil
      })
      val (model, trainS) = timed(cfg.tokenizer match {
        case "bpe" => Some(BpeTrainer.train(trainerWords, cfg.vocabSize, cfg.characterCoverage))
        case "unigram" => Some(UnigramTrainer.train(trainerWords, cfg.vocabSize,
          characterCoverage = cfg.characterCoverage, softEm = cfg.unigramSoftEm))
        case _ => None
      })
      val (_, modelS) = timed(model.foreach(Tokenizer.saveModel(spark, cfg.outputBase, _)))
      StepStats(name, r.rows.getOrElse(-1), wordModel.table.size, 0, Map(
        "count_s" -> (wordCountS + trainerCountS).toString,
        "train_s" -> trainS.toString,
        "write_s" -> (corpusS + vocabS + modelS).toString))
    }
  }

  /** tokenize + pack: load the [[Tokenizer]] model `cfg.tokenizer` names
    * ([[Tokenizer.loadModel]]: the model train_tokenizer kept in driver
    * memory when its artifact is unchanged, else read from the
    * artifact), encode every doc with it ([[Tokenizer.encode]]: the model
    * broadcast once, a per-row UDF appended through [[PerRow.append]],
    * the ActorPool equivalent, SURVEY §2.11), append eos, then the
    * constant-length [[Packer]]. `extra` reports where the model came
    * from (`model`: `memory` or `disk`) and the load time (`load_s`). */
  case class TokenizeStep(numPartitions: Int = 0) extends Step {
    val name = "tokenize"
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      val r = readStep(spark, cfg, name)
      val (loaded, loadS) = timed(Tokenizer.loadModel(spark, cfg.outputBase, cfg.tokenizer))
      val eos = Tokenizer.EosId
      val tokenized = Tokenizer.encode(r.df.select("doc_id", "text"), "text", loaded.model)
        .select(col("doc_id"), concat(col("ids"), array(lit(eos))).as("ids"))
      val toks = tokenized
        .withColumn("ord", xxhash64(col("doc_id"))) // stable pseudo-order
      val packed = Packer.packExact(toks, "ord", "ids", cfg.seqLen, eosId = eos,
        numPartitions = numPartitions)
      // S9 sink parity: zstd-compressed shards of bounded record count
      // (reference: src/llm_data_pipeline/tokenizer/run.py:220-261,540)
      val out = Handoff.write(packed, stepDir(cfg.outputBase, name),
        Map("compression" -> "zstd", "maxRecordsPerFile" -> "2048"))
      StepStats(name, r.rows.getOrElse(-1), out, 0, Map("seq_len" -> cfg.seqLen.toString,
        "model" -> (if (loaded.fromMemory) "memory" else "disk"), "load_s" -> loadS.toString))
    }
  }

  /** export: packed parquet → one flat little-endian binary of token ids
    * (reference: src/llm_data_pipeline/export/run.py:36-163).
    *
    * Executor-parallel: chunks are range-partitioned on the global
    * (part_id, chunk_in_part) order, each task streams its partition to
    * one shard file, and the driver concatenates shards in partition
    * order — byte-identical to a single driver-side stream but the
    * encoding work (the actual CPU) runs on executors, and the driver
    * touches only finished bytes. A manifest records the shard layout so
    * a consumer can also read the shards directly without the concat.
    * All shard/concat I/O goes through the Hadoop FileSystem API, so
    * `cfg.outputBase` may be any shared filesystem (HDFS, S3A, NFS,
    * file:) — multi-node deployments work transparently rather than
    * depending on executor-local disks.
    *
    * uint16 bounds: the reference WARNS and wraps (numpy astype;
    * reference: export/run.py:125-127) — mirrored here, `toShort` wraps
    * identically mod 65536. Each shard task reports its max id with its
    * counts, so the check costs no pass of its own.
    *
    * The shard tasks read the sorted chunks' catalyst rows
    * (`queryExecution.toRdd`) inside one SQL execution
    * ([[RowBridge.withRows]]) and copy each chunk's ids straight out of
    * its `UnsafeArrayData`: no object deserializer, no boxed ids. */
  case class ExportStep() extends Step {
    val name = "export"
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      val r = readStep(spark, cfg, name)
      val outPath = new HPath(s"${cfg.outputBase}/export_tokens.bin")
      val shardDir = new HPath(s"${cfg.outputBase}/export_tokens.shards")
      val hconf = spark.sparkContext.hadoopConfiguration
      val dfs = shardDir.getFileSystem(hconf)
      dfs.mkdirs(shardDir)
      dfs.listStatus(shardDir).foreach { st =>
        val nm = st.getPath.getName
        if (nm.endsWith(".bin") || nm.endsWith(".tmp")) dfs.delete(st.getPath, false)
      }
      val shardPath = dfs.makeQualified(shardDir).toString
      val bcConf = spark.sparkContext.broadcast(new SerializableHadoopConf(hconf))
      val uint16 = cfg.exportDtype == "uint16"
      val parts = spark.sessionState.conf.numShufflePartitions
      val flat = r.df.select(col("part_id"), col("chunk_in_part"), col("input_ids"))
        .repartitionByRange(parts, col("part_id"), col("chunk_in_part"))
        .sortWithinPartitions("part_id", "chunk_in_part")
        .select(col("input_ids"))
      val shardStats = RowBridge.withRows(flat, "export") { _.mapPartitionsWithIndex { (pid, it) =>
        val tc = org.apache.spark.TaskContext.get()
        val fs = new HPath(shardPath).getFileSystem(bcConf.value.conf)
        // write to an attempt-private temp file, then rename into place:
        // a retried or speculative attempt can never interleave bytes
        // into the final shard, and a complete attempt's file wins
        val tmp = new HPath(shardPath,
          f"part-$pid%05d.attempt-${tc.taskAttemptId()}%d.tmp")
        val os = new BufferedOutputStream(fs.create(tmp, true), 1 << 20)
        var n = 0L
        var maxId = Int.MinValue
        it.foreach { r =>
          val ids = r.getArray(0)
          val len = ids.numElements()
          val bb = ByteBuffer.allocate(len * (if (uint16) 2 else 4))
            .order(ByteOrder.LITTLE_ENDIAN)
          var k = 0
          while (k < len) {
            val i = ids.getInt(k)
            if (i > maxId) maxId = i
            if (uint16) bb.putShort(i.toShort) else bb.putInt(i)
            k += 1
          }
          os.write(bb.array())
          n += len
        }
        os.close()
        val f = new HPath(shardPath, f"part-$pid%05d.bin")
        // commit via rename WITHOUT pre-delete: HDFS rename fails when the
        // destination exists, which here means another (speculative or
        // retried) attempt already committed identical bytes — keep the
        // winner and discard our tmp. A delete-then-rename would open a
        // window where a killed attempt leaves NO shard at all.
        if (!fs.rename(tmp, f)) {
          fs.delete(tmp, false)
          if (!fs.exists(f))
            throw new java.io.IOException(s"shard commit failed: $f")
        }
        Iterator((pid, n, fs.getFileStatus(f).getLen, maxId))
      }.collect() }.sortBy(_._1)
      val topId = shardStats.map(_._4).maxOption.getOrElse(Int.MinValue)
      if (uint16 && topId >= 65535)
        System.err.println(s"[graft] WARNING: token id $topId >= 65535 exported as uint16 (wraps)")
      // ordered concat + manifest; shards stay for direct sharded reads
      val os = new BufferedOutputStream(dfs.create(outPath, true), 1 << 20)
      shardStats.foreach { case (pid, _, _, _) =>
        val is = dfs.open(new HPath(shardDir, f"part-$pid%05d.bin"))
        try {
          val buf = new Array[Byte](1 << 20)
          var r = is.read(buf)
          while (r >= 0) { if (r > 0) os.write(buf, 0, r); r = is.read(buf) }
        } finally is.close()
      }
      os.close()
      val manifest = shardStats.map { case (pid, n, bytes, _) =>
        f"""{"shard":"part-$pid%05d.bin","tokens":$n%d,"bytes":$bytes%d}"""
      }.mkString("[", ",", "]")
      val mos = dfs.create(new HPath(shardDir, "manifest.json"), true)
      try mos.write(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally mos.close()
      val n = shardStats.map(_._2).sum
      StepStats(name, r.rows.getOrElse(-1), n, 0, Map("dtype" -> cfg.exportDtype, "path" -> outPath.toString,
        "shards" -> shardStats.length.toString))
    }
  }

  def all: Seq[Step] = Seq(
    IngestStep(), CleanStep(), QualityStep(), PiiStep(), MinhashStep(),
    ClusteringStep(), TrainTokenizerStep(), TokenizeStep(), ExportStep())
}

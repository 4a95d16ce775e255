package graft.operators

import graft.core.Handoff
import graft.core.Pipeline._
import graft.functions.{HashFunctions, PiiFunctions, TextFunctions}
import graft.sources.WetSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
        .withColumn("drop_reason", TextFunctions.judgeReason(col("text"), thresholds))
        .withColumn("kept", col("drop_reason") === "ok")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val kept = writeStep(judged.filter(col("kept")), cfg, name)
      val dropped = Handoff.write(judged.filter(!col("kept")), s"${cfg.outputBase}/dropped_parquet")
      judged.unpersist()
      StepStats(name, kept + dropped, kept, 0, Map("dropped" -> dropped.toString))
    }
  }

  /** quality: heuristic language-ID (the pluggable stand-in for the
    * fastText scorer, see [[TextAnalysis]]) + keep filter. */
  case class QualityStep() extends Step {
    val name = "quality"
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      val in = readStep(spark, cfg, name).df
      // model seam (reference lid.176.bin swap, quality/model.py:267-340):
      // an artifact path routes labeling through the trained NB scorer —
      // DEFAULTING to the committed 48-language artifact when present
      // (fixtures/models/lid48), like the reference defaults to its
      // bundled lid.176.bin; the table-driven stopword heuristic is the
      // no-artifact fallback
      val labeled = cfg.lidModelPath.orElse(
          if (cfg.defaultLidArtifact) TrainedLid.defaultArtifactPath else None) match {
        case Some(p) if p.endsWith(".bin") =>
          // a real fastText artifact (the reference's lid.176.bin
          // itself): load the public .bin format and predict through
          // the same seam — labels already carry the __label__ prefix
          val m = FastTextBin.read(p)
          // the model's own confidence IS the lang_score here — the
          // reference thresholds fastText's prob (quality/model.py
          // LanguageFilter.keep: `score >= self.threshold`), not a
          // side-channel heuristic
          FastTextBin.predictDf(in, "text", m,
              outCol = "__lid", probCol = "__lidp")
            .withColumn("lang", when(col("__lid").startsWith("__label__"),
              col("__lid")).otherwise(concat(lit("__label__"), col("__lid"))))
            .withColumn("lang_score", coalesce(col("__lidp"), lit(0.0)))
            .drop("__lid", "__lidp")
        case Some(p) =>
          val m = TrainedLid.loadModel(spark, p)
          TrainedLid.predict(in, "text", m, outCol = "__lid").
            withColumn("lang", concat(lit("__label__"), col("__lid"))).drop("__lid")
        case None =>
          in.withColumn("lang",
            concat(lit("__label__"), TextAnalysis.langIdLabel(col("text"))))
      }
      val scored = (if (labeled.columns.contains("lang_score")) labeled
                    else labeled.withColumn("lang_score",
                      TextAnalysis.langIdScore(col("text"))))
        .withColumn("quality_keep",
          substring(col("lang"), 10, 10).isin(cfg.langs: _*)
            && col("lang_score") >= cfg.langThreshold)
      val out = writeStep(scored.filter(col("quality_keep")), cfg, name)
      StepStats(name, -1, out)
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
      val in = readStep(spark, cfg, name).df
      val flagged0 = in
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
      StepStats(name, -1, out)
    }
  }

  /** minhash: signature + length columns (reference: src/llm_data_pipeline/
    * dedup/run_minhash.py:48-49). */
  case class MinhashStep(mh: Dedup.MinHashConfig = Dedup.MinHashConfig()) extends Step {
    val name = "minhash"
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      val in = readStep(spark, cfg, name).df
      val out = writeStep(in
        .withColumn("signature",
          HashFunctions.minhash(TextFunctions.normalizeForDedup(col("text")),
            mh.k, mh.ngram, mh.seed))
        .withColumn("length", length(col("text")).cast("long")), cfg, name)
      StepStats(name, -1, out)
    }
  }

  /** clustering: LSH buckets → pairs → connected components → canonical
    * per component by max (length, doc_id) — the reference's pick order
    * minus the absent ts (reference: dedup/dedup.py:123-130) — then
    * anti-join the losers out. Banding, verify, pick and anti-join run
    * distributed; connected components fold on the driver up to
    * [[graft.core.SmallInput.SmallGraphEdges]] pairs (the one
    * small-input switch, [[graft.core.SmallInput]]) and run the
    * distributed star loop above it (the reference folds every graph on
    * the driver: dedup/dedup.py:157-197 take_all + union-find). */
  case class ClusteringStep(mh: Dedup.MinHashConfig = Dedup.MinHashConfig()) extends Step {
    val name = "clustering"
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      val r = readStep(spark, cfg, name)
      // lazy: the first action below fills the cache
      val in = r.df.persist(StorageLevel.MEMORY_AND_DISK)
      // counted only when the input was not written through the handoff
      val inRows = r.rows.getOrElse(in.count())
      val sigs = in.select(col("doc_id").as("id"), col("signature"))
      // band-collision-only by default (the reference's mode, star
      // edges); a positive jaccardThreshold adds the signature-estimate
      // verify — needed on templated corpora where every doc collides
      // in SOME band (the minhashLsh convention)
      val pairs = Dedup.verifyPairs(
        Dedup.candidatePairs(Dedup.bandRows(sigs, mh), mh,
          chainOnly = mh.jaccardThreshold <= 0.0),
        sigs, mh.jaccardThreshold)
      // canonical pick: per component keep max (length, doc_id) — via
      // struct-max aggregation + join, not a window: a window would sort
      // an entire mega-component inside one partition, while the
      // aggregate carries one (length, doc_id) pair per group
      val comp = ConnectedComponents.runOnStrings(pairs)
      val withComp = in.join(comp, in("doc_id") === comp("id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
      // doc_id is unique by construction (sha1 over source/url/date/
      // record id, and exact dupes die in dedup) so one keep-id selects
      // exactly one row; distinct() guards the semi-join if that
      // invariant is ever violated upstream
      val best = withComp.groupBy("component")
        .agg(max(struct(col("length"), col("doc_id"))).as("__best"))
        .select(col("__best.doc_id").as("__keep_id")).distinct()
      val kept = withComp
        .join(best, withComp("doc_id") === best("__keep_id"), "left_semi")
        .drop("id", "component")
      val out = writeStep(kept, cfg, name)
      in.unpersist()
      StepStats(name, inRows, out, 0, Map("removed" -> (inRows - out).toString))
    }
  }

  /** train_tokenizer: frequency-ranked word vocab with the reference's
    * special-id convention (unk=0, bos=1, eos=2, pad=3,
    * reference: tokenizer/train.py:111-134). A model-free stand-in for
    * SentencePiece training: the data-side contract (corpus in, vocab
    * artifact out) is identical, and the vocab build is one
    * shuffle-and-top-k over the corpus. */
  case class TrainTokenizerStep(corpusShards: Int = 8, maxCorpusChars: Int = 100000) extends Step {
    val name = "train_tokenizer"
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      val in = readStep(spark, cfg, name).df
      // S7 sharded text sink: one doc per line, newlines flattened,
      // repartitioned for parallel shard writes (reference:
      // src/llm_data_pipeline/tokenizer/train.py:25-87) - the corpus a
      // native SentencePiece trainer would consume.
      in.select(substring(regexp_replace(col("text"), "\\n", " "), 1, maxCorpusChars).as("value"))
        .na.drop()
        .repartition(corpusShards)
        .write.mode("overwrite").text(s"${cfg.outputBase}/train_corpus_txt")
      // id assignment happens driver-side after the distributed top-k:
      // the vocab artifact is <= vocabSize rows by construction, and this
      // avoids an unpartitioned (single-task) ranking window entirely
      val ranked = in.select(explode(split(TextFunctions.normalizeForDedup(col("text")), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("word"))
        .limit(cfg.vocabSize - 4)
        .collect()
      val words = spark.createDataFrame(
        ranked.zipWithIndex.toSeq.map { case (r, i) => (r.getString(0), r.getLong(1), i + 4) })
        .toDF("word", "freq", "id")
      val specials = spark.createDataFrame(Seq(
        ("<unk>", 0L, 0), ("<bos>", 0L, 1), ("<eos>", 0L, 2), ("<pad>", 0L, 3)))
        .toDF("word", "freq", "id")
      val vocab = specials.unionByName(words.select(col("word"), col("freq"), col("id")))
      val n = Handoff.write(vocab, s"${cfg.outputBase}/vocab_parquet")
      if (cfg.tokenizer == "bpe") {
        // real BPE training: distributed word counts + in-memory merges;
        // persist the merge table as the model artifact
        import spark.implicits._
        val model = BpeTrainer.trainFromCorpus(in, "text", cfg.vocabSize,
          inputSentenceSize = cfg.inputSentenceSize,
          characterCoverage = cfg.characterCoverage)
        Handoff.write(model.merges.zipWithIndex.map { case ((a, b), r) => (r, a, b) }
          .toDF("rank", "left", "right").coalesce(1), s"${cfg.outputBase}/bpe_merges_parquet")
        Handoff.write(model.vocab.toSeq.map { case (w, i) => (w, 0L, i) }
          .toDF("word", "freq", "id").coalesce(1), s"${cfg.outputBase}/bpe_vocab_parquet")
      }
      if (cfg.tokenizer == "unigram") {
        // unigram-LM training (SentencePiece's default model type):
        // probabilities are the model, persisted explicitly
        val model = UnigramTrainer.trainFromCorpus(in, "text", cfg.vocabSize,
          inputSentenceSize = cfg.inputSentenceSize,
          characterCoverage = cfg.characterCoverage,
          softEm = cfg.unigramSoftEm)
        UnigramTrainer.writeModel(spark, s"${cfg.outputBase}/unigram_model_parquet", model)
      }
      StepStats(name, -1, n)
    }
  }

  /** tokenize + pack: broadcast-vocab word lookup (OOV → unk) then the
    * constant-length [[Packer]]. The vocab broadcast is the executor-
    * singleton model pattern (ActorPool equivalent, SURVEY §2.11). */
  case class TokenizeStep(numPartitions: Int = 0) extends Step {
    val name = "tokenize"
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      import spark.implicits._
      val in = readStep(spark, cfg, name).df
      val eos = 2
      val tokenized =
        if (cfg.tokenizer == "bpe") {
          val merges = Handoff.read(spark, s"${cfg.outputBase}/bpe_merges_parquet").df
            .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
          val bvocab = Handoff.read(spark, s"${cfg.outputBase}/bpe_vocab_parquet").df
            .select("word", "id").as[(String, Int)].collect().toMap
          BpeTrainer.tokenize(in.select("doc_id", "text"), "text",
              BpeTrainer.BpeModel(merges, bvocab))
            .select(col("doc_id"), concat(col("ids"), array(lit(eos))).as("ids"))
        } else if (cfg.tokenizer == "unigram") {
          val model = UnigramTrainer.loadModel(spark,
            s"${cfg.outputBase}/unigram_model_parquet")
          UnigramTrainer.tokenize(in.select("doc_id", "text"), "text", model)
            .select(col("doc_id"), concat(col("ids"), array(lit(eos))).as("ids"))
        } else {
          val vocab = Handoff.read(spark, s"${cfg.outputBase}/vocab_parquet").df
            .select("word", "id").as[(String, Int)].collect().toMap
          val bc = spark.sparkContext.broadcast(vocab)
          in.select(col("doc_id"), TextFunctions.normalizeForDedup(col("text")).as("norm"))
            .select(col("doc_id"), split(col("norm"), " ").as("words"))
            .as[(String, Seq[String])]
            .map { case (id, ws) =>
              val v = bc.value
              (id, ws.iterator.filter(_.nonEmpty).map(w => v.getOrElse(w, 0)).toArray :+ eos)
            }
            .toDF("doc_id", "ids")
        }
      val toks = tokenized
        .withColumn("ord", xxhash64(col("doc_id"))) // stable pseudo-order
      val packed = Packer.packExact(toks, "ord", "ids", cfg.seqLen, eosId = eos,
        numPartitions = numPartitions)
      // S9 sink parity: zstd-compressed shards of bounded record count
      // (reference: src/llm_data_pipeline/tokenizer/run.py:220-261,540)
      val out = Handoff.write(packed, stepDir(cfg.outputBase, name),
        Map("compression" -> "zstd", "maxRecordsPerFile" -> "2048"))
      StepStats(name, -1, out, 0, Map("seq_len" -> cfg.seqLen.toString))
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
    * counts, so the check costs no pass of its own. */
  case class ExportStep() extends Step {
    val name = "export"
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      import spark.implicits._
      val in = readStep(spark, cfg, name).df
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
      val flat = in.select(col("part_id"), col("chunk_in_part"), col("input_ids"))
        .repartitionByRange(parts, col("part_id"), col("chunk_in_part"))
        .sortWithinPartitions("part_id", "chunk_in_part")
        .select(col("input_ids"))
      val shardStats = flat.mapPartitions { it =>
        val tc = org.apache.spark.TaskContext.get()
        val pid = tc.partitionId()
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
          val ids = r.getSeq[Int](0)
          val bb = ByteBuffer.allocate(ids.length * (if (uint16) 2 else 4))
            .order(ByteOrder.LITTLE_ENDIAN)
          ids.foreach { i =>
            if (i > maxId) maxId = i
            if (uint16) bb.putShort(i.toShort) else bb.putInt(i)
          }
          os.write(bb.array())
          n += ids.length
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
      }.collect().sortBy(_._1)
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
      StepStats(name, -1, n, 0, Map("dtype" -> cfg.exportDtype, "path" -> outPath.toString,
        "shards" -> shardStats.length.toString))
    }
  }

  def all(dataDir: String): Seq[Step] = Seq(
    IngestStep(), CleanStep(), QualityStep(), PiiStep(), MinhashStep(),
    ClusteringStep(), TrainTokenizerStep(), TokenizeStep(), ExportStep())
}

package graft
package gates

import graft.core.Tables
import graft.functions.{TextFunctions, UrlFunctions}
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures._

/** Streaming gates (st01-st32): the Structured Streaming twins of the
  * batch gates — ingest, windowed aggregates, sessions, online dedup
  * with TTL state, decon and tagging stream forms, funnels, outer joins —
  * each run to completion and checked against a batch oracle. */
object StreamingGates {
  /** File-stream sources need a directory: stage the single-file events
    * table once per sf dir (st01/st02/st03 share it). */
  private def stageTableDir(d: String, table: String): String = {
    val suffix = if (table == "events") "" else s"_$table"
    val stage = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_stream${suffix}_${math.abs(d.hashCode)}")
    java.nio.file.Files.createDirectories(stage)
    java.nio.file.Files.copy(java.nio.file.Paths.get(d, s"$table.parquet"),
      stage.resolve(s"$table.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    stage.toString
  }

  private def stageEventsDir(d: String): String = stageTableDir(d, "events")

  /** Staged events directory as a normalized stream: the file read uses
    * the RAW parquet schema (an explicit nanos-long schema would clash
    * with a timestamp-typed vintage), then the same ts normalization as
    * the batch reader runs on the stream. */
  private def evStream(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(graft.streaming.Streaming.parquetStream(
      s, stageEventsDir(d), Tables.events(s, d).schema))

  /** st04's judge-distribution mirror — shared verbatim by st14, the
    * same projection landed through the checkpointed parquet sink. */
  private def streamQualityOracleSql: String =
    """SELECT drop_reason, count(*) AS n FROM (
           SELECT CASE WHEN length(text) < 100 THEN 'too_short'
                  WHEN length(text) > 450 THEN 'too_long'
                  WHEN CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text) < 0.82 THEN 'too_sparse'
                  WHEN CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text) < 0.8 THEN 'low_language_signal'
                  WHEN CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text) > 0.05 THEN 'too_much_punct'
                  ELSE 'ok' END AS drop_reason
           FROM documents)
         GROUP BY drop_reason ORDER BY drop_reason"""

  val all: Seq[Gate] = Seq(
    Gate("st01_stream_hourly", (s, d) => {
      s.catalog.dropTempView("st01_tbl")
      val stream = evStream(s, d)
        .withColumn("hr", date_trunc("hour", timestamp_micros(expr("ts div 1000"))).cast("timestamp_ntz"))
        .groupBy("hr", "event_type").agg(count(lit(1)).as("n"))
      graft.streaming.Streaming.runToMemory(stream, "st01_tbl",
        org.apache.spark.sql.streaming.OutputMode.Complete())
      s.table("st01_tbl").orderBy("hr", "event_type")
    },
      """SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n
         FROM events GROUP BY hr, event_type ORDER BY hr, event_type"""),

    Gate("st02_stream_dedup", (s, d) => {
      // streaming exact dedup (watermark-bounded state) gated against the
      // batch DISTINCT: dedup on (user_id, event_type) across
      // micro-batches, then count survivors per event_type. WHICH row of
      // a dup group survives depends on arrival order, so only the KEY
      // SET (deterministic) reaches the oracle compare.
      s.catalog.dropTempView("st02_tbl")
      val stream = evStream(s, d)
        .withColumn("tstamp", timestamp_micros(expr("ts div 1000")))
        // drop null user_ids BEFORE keying: concat(null, ...) is NULL, so
        // all null-user rows would collapse into ONE surviving row per
        // key while the batch oracle's count(DISTINCT user_id) excludes
        // NULLs entirely — mirror DISTINCT's null exclusion. A null
        // event_type stays a GROUP (SQL GROUP BY keeps the NULL group),
        // so it is coalesced into a sentinel inside the key rather than
        // nulling the whole key. (Divergence note: a group whose users
        // are ALL null appears as (event_type, 0) in the oracle but not
        // here — absent from any fixture, accepted.)
        .where(col("user_id").isNotNull)
        .withColumn("dedup_key",
          concat(col("user_id").cast("string"), lit("|"),
            coalesce(col("event_type"), lit("\u0000"))))
      val dd = graft.streaming.Streaming.dedupStream(stream, "dedup_key", "tstamp",
          watermark = "10 days") // fixture spans days; state bound still holds
        .select("event_type", "dedup_key")
      graft.streaming.Streaming.runToMemory(dd, "st02_tbl",
        org.apache.spark.sql.streaming.OutputMode.Append())
      s.table("st02_tbl").groupBy("event_type").agg(count(lit(1)).as("n_distinct_users"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct_users
         FROM events GROUP BY event_type ORDER BY event_type"""),

    Gate("st03_stream_interval_join", (s, d) => {
      // watermarked stream-stream interval join gated against the batch
      // range join: purchases matched to the same user's clicks in the
      // preceding 30 minutes. The matched SET is deterministic (unlike
      // row arrival order), so the pair count is the oracle surface.
      s.catalog.dropTempView("st03_tbl")
      val stream = evStream(s, d)
        .withColumn("tstamp", timestamp_micros(expr("ts div 1000")))
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tstamp").as("p_ts"))
      val clicks = stream.filter(col("event_type") === "click")
        .select(col("user_id"), col("tstamp").as("c_ts"))
      val joined = graft.streaming.Streaming.intervalJoin(
        purchases, clicks, "user_id", "p_ts", "c_ts",
        lookback = "30 minutes", watermark = "30 days")
      graft.streaming.Streaming.runToMemory(joined, "st03_tbl",
        org.apache.spark.sql.streaming.OutputMode.Append())
      s.table("st03_tbl").agg(count(lit(1)).as("n_pairs"))
    },
      // microsecond-precision comparison on both sides (Spark: ts div 1000;
      // DuckDB: epoch_us of the nanosecond timestamp — same truncation)
      """SELECT CAST(count(*) AS BIGINT) AS n_pairs
         FROM (SELECT user_id, epoch_us(ts) AS pus FROM events
               WHERE event_type = 'purchase') p
         JOIN (SELECT user_id, epoch_us(ts) AS cus FROM events
               WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND c.cus <= p.pus AND c.cus >= p.pus - 1800000000"""),

    Gate("st04_stream_quality", (s, d) => {
      // streaming text-quality triage: the clean/judge path is pure
      // Column expressions — stateless, so the SAME operator runs
      // unchanged under Structured Streaming (file-stream the documents
      // table, Complete-mode grouped counts). Gated against the batch
      // distribution: micro-batch boundaries cannot move exact counts.
      val batchSchema = docs(s, d).schema
      s.catalog.dropTempView("st04_tbl")
      val stream = graft.streaming.Streaming
        .parquetStream(s, stageTableDir(d, "documents"), batchSchema)
        .select(TextFunctions.judgeReason(col("text"), judgeT).as("drop_reason"))
        .groupBy("drop_reason").agg(count(lit(1)).as("n"))
      graft.streaming.Streaming.runToMemory(stream, "st04_tbl",
        org.apache.spark.sql.streaming.OutputMode.Complete())
      s.table("st04_tbl").orderBy("drop_reason")
    },
      // same judge CASE as d03, grouped — the streaming result must land
      // on the batch distribution exactly
      // st14 lands the same judge projection through the checkpointed
      // parquet file sink before aggregating — one oracle string gates
      // both the memory-sink and file-sink paths.
      streamQualityOracleSql),

    Gate("st05_stream_incremental_dedup", (s, d) => {
      // streaming twin of x07 (continuous-ingest near-dedup): new docs
      // arrive as a file stream, their bands inner-join the STATIC
      // hot-free corpus band index (stream-static joins are
      // stateless), candidate pairs drain to a memory sink, and the
      // batch exact-verify tail acquits band-only collisions. Every
      // per-doc decision depends only on the static index — never on
      // arrival order — so the kept set is deterministic and shares
      // x07's brute-force NOT-EXISTS oracle verbatim.
      val all = docs(s, d)
      val corpus = all.filter(col("doc_id") < 400)
      val newBatch = all.filter(col("doc_id") >= 400)
      val stage = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_stream_newdocs_${math.abs(d.hashCode)}").toString
      newBatch.coalesce(1).write.mode("overwrite").parquet(stage)
      val cfg = Dedup.MinHashConfig()
      val idxBands = Dedup.bandIndex(corpus, "doc_id", "text", cfg)
      val hot = idxBands.groupBy("band_id", "band_hash")
        .agg(count(lit(1)).as("__bn")).where(col("__bn") > cfg.maxBucket)
        .select("band_id", "band_hash")
      val idxOk = idxBands.join(hot, Seq("band_id", "band_hash"), "left_anti")
        .select(col("band_id"), col("band_hash"), col("id").as("__idx_id"))
      s.catalog.dropTempView("st05_tbl")
      val stream = graft.streaming.Streaming.parquetStream(s, stage, all.schema)
      val sBands = Dedup.bandRows(stream.select(col("doc_id").as("id"),
        graft.functions.HashFunctions.minhash(
          TextFunctions.normalizeForDedup(col("text")),
          cfg.k, cfg.ngram, cfg.seed).as("signature")), cfg)
      val cand = sBands.join(idxOk, Seq("band_id", "band_hash"))
        .select(col("id").as("__new_id"), col("__idx_id"))
      graft.streaming.Streaming.runToMemory(cand, "st05_tbl",
        org.apache.spark.sql.streaming.OutputMode.Append())
      Dedup.verifyCandidatesExact(newBatch, "doc_id", "text", corpus,
          s.table("st05_tbl"), threshold = 0.8, ngram = cfg.ngram)
        .select("doc_id").orderBy("doc_id")
    },
      // identical semantics to x07 (the streaming path only moves the
      // candidate generation into a stream-static join) — ONE oracle
      // string bound to both keys so the twins cannot desynchronize
      incrementalDedupOracle,
      scaleTwin = Some(incrementalDedupScale)),

    Gate("st06_stream_mixture", (s, d) => {
      // the design/apply split under streaming: cutoffs are computed
      // ONCE from the static corpus (mixture design is a batch
      // decision), and the keep-filter — a stateless per-row map
      // against broadcast literals — runs on the document stream
      // unchanged. Kept set identical to d27's batch run, so the
      // oracle is shared verbatim.
      val design = docs(s, d).select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).as("n_tok"))
      s.catalog.dropTempView("st06_tbl")
      val stream = graft.streaming.Streaming
        .parquetStream(s, stageTableDir(d, "documents"), docs(s, d).schema)
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).as("n_tok"))
      val kept = Sampling.temperatureMixtureFrom(design, stream,
        "source", col("n_tok"), "doc_id", tokenBudget = 10000.0)
      graft.streaming.Streaming.runToMemory(
        kept.select("doc_id", "source"), "st06_tbl",
        org.apache.spark.sql.streaming.OutputMode.Append())
      s.table("st06_tbl").orderBy("doc_id")
    },
      // the streaming path applies the identical batch-designed cutoffs,
      // so the kept set — and the oracle — are d27's verbatim
      temperatureMixtureOracle),

    Gate("st07_stream_online_dedup", (s, d) => {
      // stream-vs-ITSELF near-dedup with cross-batch keyed state: docs
      // arrive in 4 deterministic micro-batches (batch = doc_id % 4),
      // each LSH band bucket remembers its members in
      // flatMapGroupsWithState state, and every arrival emits collision
      // evidence against everything that arrived BEFORE it — across
      // batches — never against later arrivals. The batch exact-verify
      // tail acquits band-only collisions, so kept = docs with no
      // verified earlier near-dup. Arrival order IS the (batch, doc_id)
      // lexicographic order by construction, which makes
      // first-arrival-wins checkable in plain SQL.
      //
      // Harness geometry (the r9 verdict's de-driver ask): the feed is
      // a FILE-source stream — each batch is written (distributed) as
      // one parquet file with a forced ascending mtime, and
      // maxFilesPerTrigger=1 makes FileStreamSource consume them as
      // four deterministic micro-batches in mtime order — and the sink
      // is a parquet sink, so neither the corpus nor the evidence ever
      // materializes on the driver (the old MemoryStream + memory-sink
      // harness OOM'd an 8 GiB driver at 50k docs; the operator itself
      // was always distributed).
      val all = docs(s, d)
      val evTbl = graft.streaming.Streaming.withShufflePartitions(s, graft.streaming.Streaming.DrainParts) {
        graft.streaming.Streaming.runFileFedBatches(
          s, all.select(col("doc_id").as("id"),
            pmod(col("doc_id"), lit(4)).cast("int").as("batch"), col("text")),
          nBatches = 4, name = "st07")(
          stream => graft.streaming.Streaming.onlineCollisionEvidence(stream).toDF())
      }
      Dedup.verifyCandidatesExact(all, "doc_id", "text", all,
          evTbl, threshold = 0.8, ngram = Dedup.MinHashConfig().ngram)
        .select("doc_id").orderBy("doc_id")
    },
      // First-arrival-wins online dedup: kept = docs with no exact
      // ground-truth near-dup (char-5gram Jaccard >= 0.8, x07's gram
      // construction) that arrived strictly earlier in (batch, doc_id)
      // order. Assumes the band index catches every >= 0.8 pair on the
      // fixture (the x01/x07 oracles already pin this recall property);
      // band-only collisions are acquitted by the exact-verify tail.
      """WITH n AS (SELECT doc_id, doc_id % 4 AS b,
             lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s
           FROM documents),
         g AS (SELECT doc_id, b, list_distinct(CASE WHEN length(s) < 5 THEN [s]
               ELSE list_transform(range(1, length(s)-3), i -> s[i:i+4]) END) AS gs
           FROM n)
         SELECT a.doc_id FROM g a WHERE NOT EXISTS (
           SELECT 1 FROM g e WHERE (e.b < a.b OR (e.b = a.b AND e.doc_id < a.doc_id))
             AND len(list_intersect(a.gs, e.gs)) * 1.0
               / len(list_distinct(list_concat(a.gs, e.gs))) >= 0.8)
         ORDER BY a.doc_id""",
      scaleTwin = Some(
        """WITH late AS (SELECT CASE
             WHEN (v % 4 > u % 4) OR (v % 4 = u % 4 AND v > u) THEN v ELSE u
             END AS doc_id
           FROM tw_char5_pairs)
         SELECT d.doc_id FROM documents d
         WHERE d.doc_id NOT IN (SELECT doc_id FROM late)
         ORDER BY doc_id""")),

    Gate("st08_stream_dsir", (s, d) => {
      // DSIR model deployment on a stream (the st06 design/apply
      // split): the raw+target LMs are trained ONCE on the static
      // corpus — a batch decision — and the scoring pass, a stateless
      // zero-shuffle projection, runs on the document stream
      // unchanged. Per-doc weights must land on the batch values
      // exactly, so the oracle is d36's SQL minus the selection tail.
      val model = TextAnalysis.trainDsirModel(
        docs(s, d), "text", col("lang") === "fr", vocabSize = 64)
      s.catalog.dropTempView("st08_tbl")
      val stream = graft.streaming.Streaming
        .parquetStream(s, stageTableDir(d, "documents"), docs(s, d).schema)
        .select("doc_id", "text")
      graft.streaming.Streaming.runToMemory(
        TextAnalysis.dsirScore(stream, "text", model)
          .select("doc_id", "n_feats", "dsir_logw"),
        "st08_tbl", org.apache.spark.sql.streaming.OutputMode.Append())
      s.table("st08_tbl").orderBy("doc_id")
    },
      // The stream scores must land on the batch weights exactly: same
      // CTE chain, no selection tail.
      s"""WITH $dsirScoredCtes
         SELECT doc_id, n_feats, dsir_logw FROM scored ORDER BY doc_id"""),

    Gate("st09_stream_funnel", (s, d) => {
      // ev09's funnel as CROSS-BATCH keyed state: per-user set-once
      // (fv, fc, fp) updated over 4 deterministic event-time-ordered
      // MemoryStream batches (global ts sort → per-user time order →
      // greedy first-match == the batch min definition). State is
      // three optional longs per user — bounded by users, not stream
      // length. Final counts must land on ev09's exact numbers: the
      // oracle string is SHARED.
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val mem = MemoryStream[(Long, String, Long, Int)]
      val funnel = graft.streaming.Streaming.streamingFunnel(
        mem.toDF().toDF("user_id", "event_type", "t", "batch"),
        windowUs = 21600000000L)
      s.catalog.dropTempView("st09_tbl")
      graft.streaming.Streaming.withShufflePartitions(s, graft.streaming.Streaming.DrainParts) {
        val q = funnel.toDF().writeStream.format("memory")
          .queryName("st09_tbl").outputMode("append").start()
        try {
          val rows = ev(s, d).where(col("user_id").isNotNull)
            .select(col("user_id"), col("event_type"), expr("ts div 1000"))
            .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
            .sortBy(r => (r._3, r._1, r._2)) // global event-time order
          val n = rows.length
          (0 until 4).foreach { b => // fixture harness: ts-quartile batches
            val chunk = rows.slice(b * n / 4, (b + 1) * n / 4)
              .map { case (u, e, t) => (u, e, t, b) }
            mem.addData(chunk.toIndexedSeq)
            q.processAllAvailable()
          }
        } finally q.stop()
      }
      s.table("st09_tbl")
        .groupBy("user_id")
        .agg(max("fv").as("fv"), max("fc").as("fc"), max("fp").as("fp"))
        .agg(count(lit(1)).as("n_users"),
          count(col("fv")).as("n_view"),
          count(col("fc")).as("n_view_click"),
          count(col("fp")).as("n_full_funnel"))
    },
      funnelOracleSql),

    Gate("st10_stream_merge", (s, d) => {
      // streaming twin of d44: the same change log folds into keyed
      // state across two deterministic micro-batches (batch 0 = the
      // base load, batch 1 = the re-crawl/takedown/insert batch); the
      // last emission per key is the compacted snapshot, which must
      // equal the batch MERGE bit-for-bit — both paths share ONE
      // oracle string (the x07/st05 convention). The final per-key
      // argmax window partitions on doc_id (cardinality = corpus, the
      // safe direction).
      import s.implicits._
      import graft.streaming.Streaming.UpsertEvent
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val base = docs(s, d).select("doc_id", "text")
      val mem = MemoryStream[UpsertEvent]
      val emits = graft.streaming.Streaming.upsertCompaction(mem.toDS())
      s.catalog.dropTempView("st10_tbl")
      graft.streaming.Streaming.withShufflePartitions(s, graft.streaming.Streaming.DrainParts) {
        val q = emits.toDF().writeStream.format("memory")
          .queryName("st10_tbl").outputMode("append").start()
        try {
          // fixture harness: 500 base rows at gate SF
          val baseRows = base.collect().map(r =>
            UpsertEvent(r.getLong(0), 0, "U", Option(r.getString(1))))
          mem.addData(baseRows.sortBy(_.id).toIndexedSeq)
          q.processAllAvailable()
          val ch = baseRows.flatMap { e =>
            val del = if (e.id % 13 == 0)
              Some(UpsertEvent(e.id, 1, "D", None)) else None
            val upd = if (e.id % 7 == 0 && e.id % 13 != 0)
              Some(UpsertEvent(e.id, 1, "U", e.text.map(_ + " v2"))) else None
            val ins = if (e.id % 17 == 0)
              Some(UpsertEvent(e.id + 100000, 1, "U", e.text.map("new " + _)))
            else None
            del ++ upd ++ ins
          }
          mem.addData(ch.sortBy(_.id).toIndexedSeq)
          q.processAllAvailable()
        } finally q.stop()
      }
      val w = Window.partitionBy("id").orderBy(col("batch").desc)
      s.table("st10_tbl")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1 && col("alive"))
        .select(col("id").as("doc_id"), col("action"), md5(col("text")).as("fp"))
        .orderBy("doc_id")
    },
      mergeUpsertOracleSql),

    Gate("st11_stream_late_data", (s, d) => {
      // watermark lateness semantics as a gate: events arrive in two
      // deterministic micro-batches — batch 0 = even event_id, batch 1
      // = odd — under a 1-hour watermark on event time. After batch 0
      // the watermark stands at max(even event time) - 1h (millisecond
      // resolution — Spark tracks event-time stats in ms), so odd rows
      // whose hourly window closed at or before it are DROPPED by the
      // aggregation while odd rows in still-open windows merge. The
      // oracle reproduces the surviving set exactly (hour-aligned
      // window ends vs a non-aligned watermark: boundary ties are
      // measure-zero in the fixture). Update-mode memory sink: a key's
      // final count is its max update (counts only grow).
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val e = ev(s, d).select(col("event_id"),
        expr("ts div 1000").as("us"), col("event_type"))
      val mem = MemoryStream[(Long, Long, String)]
      val stream = mem.toDF().toDF("event_id", "us", "event_type")
        .withColumn("tstamp", timestamp_micros(col("us")))
        .withWatermark("tstamp", "1 hour")
        .groupBy(window(col("tstamp"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("timestamp_ntz").as("hr"),
          col("event_type"), col("n"))
      s.catalog.dropTempView("st11_tbl")
      graft.streaming.Streaming.withShufflePartitions(s, graft.streaming.Streaming.DrainParts) {
        val q = stream.writeStream.format("memory").queryName("st11_tbl")
          .outputMode("update").start()
        try {
          val rows = e.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
          Seq(0L, 1L).foreach { b => // fixture harness: bounded event table
            mem.addData(rows.filter(_._1 % 2 == b).sortBy(r => (r._2, r._1)).toIndexedSeq)
            q.processAllAvailable()
          }
        } finally q.stop()
      }
      s.table("st11_tbl").groupBy("hr", "event_type")
        .agg(max(col("n")).cast("long").as("n"))
        .orderBy("hr", "event_type")
    },
      // Watermark mirror: wm = ms-resolution max even-batch event time
      // minus 1h; an odd row survives iff its hourly window end is still
      // open (> wm) when batch 1 runs.
      """WITH e AS (SELECT event_id, epoch_us(ts) AS us, ts, event_type
           FROM events),
         wm AS (SELECT ((max(us) // 1000) - 3600000) * 1000 AS w
           FROM e WHERE event_id % 2 = 0),
         kept AS (
           SELECT ts, event_type FROM e WHERE event_id % 2 = 0
           UNION ALL
           SELECT e.ts, e.event_type FROM e, wm
           WHERE e.event_id % 2 = 1
             AND (e.us // 3600000000 + 1) * 3600000000 > wm.w)
         SELECT date_trunc('hour', ts) AS hr, event_type,
           CAST(count(*) AS BIGINT) AS n
         FROM kept GROUP BY hr, event_type ORDER BY hr, event_type"""),

    Gate("st12_stream_soft_sample", (s, d) => {
      // streaming twin of d39 (the st06 convention): the soft sampler
      // is a stateless projection, so the SAME operator applies to a
      // document stream row-by-row — no state, no watermark, a
      // keep/drop decision at ingest time. Shares d39's oracle string
      // verbatim.
      val batchSchema = docs(s, d).schema
      s.catalog.dropTempView("st12_tbl")
      val q0 = graft.streaming.Streaming
        .parquetStream(s, stageTableDir(d, "documents"), batchSchema)
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality_score"))
      val stream = Sampling.softSampleByScore(q0, "doc_id", col("quality_score"))
        .select(col("doc_id"), col("quality_score"),
          round(col("coin"), 6).as("coin"), col("kept"))
      graft.streaming.Streaming.runToMemory(stream, "st12_tbl",
        org.apache.spark.sql.streaming.OutputMode.Append())
      s.table("st12_tbl").orderBy("doc_id")
    },
      // st12 is d39's stateless projection applied to the document
      // stream — one oracle string gates both (the d27/st06 convention).
      softSampleOracleSql),

    Gate("st13_stream_sessions", (s, d) => {
      // streaming twin of ev07's session windows: the same 30-minute
      // session_window aggregation under Structured Streaming, with
      // the events arriving in two CHRONOLOGICAL micro-batches so
      // sessions spanning the boundary must merge through keyed state
      // (safe under the 1h watermark: a session still open at the
      // cut ends within 30min of it, so nothing finalizes early).
      // Append mode emits a session only once the watermark passes
      // its close, so a far-future flush sentinel (negative user_id,
      // filtered from the result) advances the watermark past every
      // genuine session. Shares ev07's oracle string verbatim.
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val e = ev(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), expr("ts div 1000").as("us"), col("event_id"))
      val mem = MemoryStream[(Long, Long, Long)]
      val stream = mem.toDF().toDF("user_id", "us", "event_id")
        .withColumn("tsm", timestamp_micros(col("us")))
        .withWatermark("tsm", "1 hour")
        .groupBy(col("user_id"), session_window(col("tsm"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          col("sw.start").cast("timestamp_ntz").as("session_start"), col("n"))
      s.catalog.dropTempView("st13_tbl")
      graft.streaming.Streaming.withShufflePartitions(s, graft.streaming.Streaming.DrainParts) {
        val q = stream.writeStream.format("memory").queryName("st13_tbl")
          .outputMode("append").start()
        try {
          val rows = e.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          val maxUs = rows.map(_._2).max
          val cut = (rows.map(_._2).min + maxUs) / 2
          // fixture harness: bounded event table, split chronologically
          mem.addData(rows.filter(_._2 <= cut).sortBy(r => (r._2, r._3)).toIndexedSeq)
          q.processAllAvailable()
          mem.addData(rows.filter(_._2 > cut).sortBy(r => (r._2, r._3)).toIndexedSeq)
          q.processAllAvailable()
          // two flush batches: the first advances the watermark past
          // every real session close, the second emits under it
          mem.addData(Seq((-1L, maxUs + 86400000000L, -1L)))
          q.processAllAvailable()
          mem.addData(Seq((-1L, maxUs + 2 * 86400000000L, -2L)))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table("st13_tbl").where(col("user_id") >= 0)
        .orderBy("user_id", "session_start")
    },
      sessionWindowsOracleSql),

    Gate("st14_stream_parquet_sink", (s, d) => {
      // the exactly-once FILE sink (S5's streaming twin): stream the
      // documents table through the d03 judge projection into a
      // checkpointed parquet sink (commit-log manifest = restart
      // exactly-once), then read the LANDED files back and aggregate.
      // Shares st04's oracle verbatim — micro-batch boundaries and the
      // sink hop cannot move exact counts.
      val batchSchema = docs(s, d).schema
      val tmp = java.nio.file.Files.createTempDirectory("graft_st14_").toString
      val stream = graft.streaming.Streaming
        .parquetStream(s, stageTableDir(d, "documents"), batchSchema)
        .select(col("doc_id"),
          TextFunctions.judgeReason(col("text"), judgeT).as("drop_reason"))
      graft.streaming.Streaming.runToParquet(stream, s"$tmp/out", s"$tmp/ckpt")
      s.read.parquet(s"$tmp/out")
        .groupBy("drop_reason").agg(count(lit(1)).as("n"))
        .orderBy("drop_reason")
    },
      streamQualityOracleSql),

    Gate("st15_stream_topk", (s, d) => {
      // Streaming heavy hitters: Complete-mode count per event_type over
      // the staged event stream (state is k rows — one per distinct key
      // — not the stream), then top-5 extraction off the sink table.
      // Gates against the batch h01 SQL: stream-vs-batch count equality
      // IS the heavy-hitter guarantee when k >= distinct keys. For
      // key cardinalities that outgrow agg state, the batch-side
      // Misra-Gries sketch (HeavyHitters.scala) is the fallback — its
      // summaries merge associatively, so the same sketch runs inside
      // flatMapGroupsWithState unchanged.
      s.catalog.dropTempView("st15_tbl")
      val stream = evStream(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      graft.streaming.Streaming.runToMemory(stream, "st15_tbl",
        org.apache.spark.sql.streaming.OutputMode.Complete())
      s.table("st15_tbl").orderBy(desc("n"), asc("event_type")).limit(5)
    },
      // The streaming twin gates on the same batch truth as h01.
      """SELECT event_type, count(*) AS n FROM events
         GROUP BY event_type ORDER BY n DESC, event_type LIMIT 5"""),

    Gate("st16_stream_blocklist", (s, d) => {
      // d56 on the document stream: policy tables apply to streams as
      // a stream-static BROADCAST anti-join — the list refreshes per
      // micro-batch from storage in production, and the stateless
      // projection + join shape means no state store at all. Shares
      // d56's oracle string: stream and batch must agree exactly.
      import s.implicits._
      val blocklist = Seq("bbc.co.uk", "example.com.au").toDF("blocked_domain")
      s.catalog.dropTempView("st16_tbl")
      val stream = graft.streaming.Streaming
        .parquetStream(s, stageTableDir(d, "documents"), docs(s, d).schema)
        .select(col("doc_id"), urlSynth.as("url"))
        .withColumn("reg_domain",
          UrlFunctions.registeredDomain(UrlFunctions.host(col("url"))))
        .join(broadcast(blocklist),
          col("reg_domain") === col("blocked_domain"), "left_anti")
        .select("doc_id", "reg_domain")
      graft.streaming.Streaming.runToMemory(stream, "st16_tbl",
        org.apache.spark.sql.streaming.OutputMode.Append())
      s.table("st16_tbl").orderBy("doc_id")
    },
      // Stream-static twin: same filter, same truth.
      s"""WITH $urlSynthSql,
         $hostRegDomainSql
         SELECT doc_id, reg_domain FROM h
         WHERE reg_domain NOT IN ('bbc.co.uk', 'example.com.au')
         ORDER BY doc_id"""),

    Gate("st17_stream_sliding", (s, d) => {
      // SLIDING event-time windows under streaming (1h window, 30min
      // slide): every event lands in exactly TWO windows — its 30-min
      // truncation and the one before — and the oracle replays that
      // duplication explicitly as a UNION ALL of the two shifted
      // window starts. Complete-mode count state is bounded by
      // (windows in the fixture span × event types).
      s.catalog.dropTempView("st17_tbl")
      val stream = evStream(s, d)
        .withColumn("tstamp", timestamp_micros(expr("ts div 1000")))
        .groupBy(window(col("tstamp"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("timestamp_ntz").as("win_start"),
          col("event_type"), col("n"))
      graft.streaming.Streaming.runToMemory(stream, "st17_tbl",
        org.apache.spark.sql.streaming.OutputMode.Complete())
      s.table("st17_tbl").orderBy("win_start", "event_type")
    },
      // Each event lands in exactly two sliding windows: its 30-min
      // truncation and the one before — replayed as an explicit
      // UNION ALL of the shifted starts.
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
         w AS (SELECT us - us % 1800000000 AS w0, event_type FROM e
           UNION ALL
           SELECT (us - us % 1800000000) - 1800000000 AS w0, event_type FROM e)
         SELECT make_timestamp(w0) AS win_start, event_type, count(*) AS n
         FROM w GROUP BY w0, event_type ORDER BY win_start, event_type"""),

    Gate("st18_stream_chained_agg", (s, d) => {
      // CHAINED stateful aggregations in ONE streaming query (the
      // multi-stateful-operator support added in modern Spark):
      // hourly counts roll up into daily counts without leaving the
      // stream — `window(col("window"), "1 day")` re-windows the
      // hourly agg's own window struct. Append mode end to end, so
      // a daily row only emits once its window closes under the
      // watermark; events arrive in two chronological micro-batches
      // and a far-future sentinel (st13's flush convention, filtered
      // out of the result) closes every genuine day.
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val mem = MemoryStream[Long] // event-time micros
      val daily = mem.toDF().toDF("us")
        .withColumn("tstamp", timestamp_micros(col("us")))
        .withWatermark("tstamp", "1 hour")
        .groupBy(window(col("tstamp"), "1 hour")).agg(count(lit(1)).as("n_h"))
        .groupBy(window(col("window"), "1 day")).agg(sum("n_h").as("n"))
        .select(col("window.start").cast("timestamp_ntz").as("day_start"),
          col("n"))
      s.catalog.dropTempView("st18_tbl")
      graft.streaming.Streaming.withShufflePartitions(s, graft.streaming.Streaming.DrainParts) {
        val q = daily.writeStream.format("memory").queryName("st18_tbl")
          .outputMode("append").start()
        try {
          val us = ev(s, d).select(expr("ts div 1000").as("us"))
            .orderBy("us").as[Long].collect()
          val mid = us.length / 2
          mem.addData(us.take(mid).toIndexedSeq)
          q.processAllAvailable()
          // second half + sentinel 40 days past max: watermark ends at
          // sentinel - 1h, far beyond every genuine day boundary
          mem.addData((us.drop(mid) :+ (us.last + 40L * 86400000000L)).toIndexedSeq)
          q.processAllAvailable()
        } finally q.stop()
      }
      // the sentinel's own day never closes (watermark = sentinel - 1h
      // sits inside it), so it self-filters from the append output
      s.table("st18_tbl").orderBy("day_start")
    },
      // Hourly-then-daily chain == plain daily counts.
      """SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 86400000000) AS day_start,
           count(*) AS n
         FROM events GROUP BY 1 ORDER BY day_start"""),

    Gate("st19_stream_outer_join", (s, d) => {
      // LEFT OUTER stream-stream interval join: purchases with no click
      // in the preceding 30 minutes still emit — null-padded — once the
      // watermark proves no click can arrive. Events feed in two
      // chronological micro-batches; a far-future sentinel pair (user
      // -1, filtered from the result) advances BOTH watermarks so every
      // genuine unmatched purchase flushes. Gate = matched-pair count +
      // unmatched count vs the batch LEFT JOIN truth.
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val mem = MemoryStream[(Long, String, Long)] // (user_id, event_type, us)
      val src = mem.toDF().toDF("user_id", "event_type", "us")
        .withColumn("tstamp", timestamp_micros(col("us")))
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tstamp").as("p_ts"))
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id"), col("tstamp").as("c_ts"))
      val joined = graft.streaming.Streaming.intervalJoinOuter(
        purchases, clicks, "user_id", "p_ts", "c_ts",
        lookback = "30 minutes", watermark = "1 hour")
      s.catalog.dropTempView("st19_tbl")
      graft.streaming.Streaming.withShufflePartitions(s, graft.streaming.Streaming.DrainParts) {
        val q = joined.writeStream.format("memory").queryName("st19_tbl")
          .outputMode("append").start()
        try {
          val rows = ev(s, d)
            .where(col("user_id").isNotNull
              && col("event_type").isin("purchase", "click"))
            .select(col("user_id"), col("event_type"), expr("ts div 1000"))
            .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
            .sortBy(_._3)
          val mid = rows.length / 2
          val far = rows.last._3 + 40L * 86400000000L
          mem.addData(rows.take(mid).toIndexedSeq)
          q.processAllAvailable()
          mem.addData((rows.drop(mid) ++ Seq((-1L, "purchase", far),
            (-1L, "click", far))).toIndexedSeq)
          q.processAllAvailable()
          // watermark computed at batch END applies at the NEXT batch:
          // a third trigger batch flushes the evicted unmatched rows
          mem.addData(Seq((-1L, "purchase", far + 3600000000L)))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table("st19_tbl").where(col("user_id") >= 0)
        .agg(count(col("c_ts")).as("n_pairs"),
          count(when(col("c_ts").isNull, lit(1))).as("n_unmatched"))
    },
      // Batch LEFT JOIN truth for the outer interval join.
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
           FROM events WHERE user_id IS NOT NULL),
         p AS (SELECT user_id, us FROM e WHERE event_type = 'purchase'),
         c AS (SELECT user_id, us FROM e WHERE event_type = 'click'),
         j AS (SELECT p.user_id, p.us, c.us AS cus
           FROM p LEFT JOIN c ON p.user_id = c.user_id
             AND c.us <= p.us AND c.us >= p.us - 1800000000)
         SELECT CAST(count(cus) AS BIGINT) AS n_pairs,
           CAST(count(CASE WHEN cus IS NULL THEN 1 END) AS BIGINT) AS n_unmatched
         FROM j"""),

    Gate("st20_stream_range_search", (s, d) => {
      // e11's radius search as a STREAM: each arriving embedding
      // matches against the broadcast query set with cosine >= tau —
      // a stream-static non-equi broadcast join, fully STATELESS (no
      // watermark, no state store; the vector-index enrichment shape
      // for embedding streams). Shares e11's oracle: the stream must
      // land on the batch truth exactly.
      s.catalog.dropTempView("st20_tbl")
      val q = emb(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val stream = graft.streaming.Streaming.parquetStream(
        s, stageTableDir(d, "embeddings"), Tables.embeddings(s, d).schema)
      val joined = stream.join(broadcast(q),
          col("vec_id") =!= col("query_id")
            && Similarity.cosine(col("qe"), col("embedding")) >= 0.3)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(Similarity.cosine(col("qe"), col("embedding")), 6).as("cos_sim"))
      graft.streaming.Streaming.runToMemory(joined, "st20_tbl",
        org.apache.spark.sql.streaming.OutputMode.Append())
      s.table("st20_tbl").orderBy("query_id", "neighbor_id")
    },
      // Stream-static twin: same query set, same truth.
      rangeSearchOracleSql),

    Gate("st21_stream_anomaly", (s, d) => {
      // ev15's volume-anomaly monitor under Structured Streaming: the
      // (event_type x day) counts accumulate as Complete-mode
      // aggregate state — bounded by the key space (types x days), not
      // the stream — then the integer z-test finishes off the sink
      // exactly as the batch query does. Same algebraized compare,
      // same oracle string verbatim (st12=d39 twin convention). The
      // streaming plan owns only the bounded-state part; the per-type
      // moments are a batch join over the k-row sink table.
      s.catalog.dropTempView("st21_tbl")
      val stream = evStream(s, d)
        .select(col("event_type"), expr("(ts div 1000) div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n_events"))
      graft.streaming.Streaming.runToMemory(stream, "st21_tbl",
        org.apache.spark.sql.streaming.OutputMode.Complete())
      // the memory sink's MemoryPlan can't be re-instanced for a
      // self-join (conflicting-attribute analysis error), so the
      // bounded sink table (types x days rows — already driver-held
      // state by Complete-mode definition) is rebuilt as a local
      // relation before the aggregate-join-back.
      val sunk = s.table("st21_tbl")
      val daily = s.createDataFrame(sunk.collectAsList(), sunk.schema)
      val stats = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("n_events").as("s"),
          sum(col("n_events") * col("n_events")).as("ss"))
      daily.join(broadcast(stats), "event_type")
        .withColumn("dev", col("n_days") * col("n_events") - col("s"))
        .withColumn("is_anomaly",
          col("dev") * col("dev") > lit(4L) * (col("n_days") * col("ss") - col("s") * col("s")))
        .select("event_type", "day", "n_events", "is_anomaly")
        .orderBy("event_type", "day")
    },
      // Streaming twin: the daily counts accumulate as Complete-mode
      // aggregate state; the z-test finishes off the sink — same
      // semantics, same oracle string (st12=d39 convention).
      dailyAnomalyOracle),

    Gate("st22_stream_phash_dedup", (s, d) => {
      // streaming multimodal ingest dedup — st05's stream-static shape
      // on the image path: NEW image assets arrive as a file stream,
      // their aHash bands inner-join the STATIC corpus phash band
      // index (stateless stream-static join; linear, so no bucket cap
      // is needed and pigeonhole recall stays exact), candidates
      // drain to a memory sink, and the exact Hamming verify runs off
      // the sink. Kept = new images with NO corpus image within
      // Hamming<=2. Per-image decisions depend only on the static
      // index — never arrival order — so the brute-force NOT-EXISTS
      // oracle applies.
      val maxHamming = 2
      val assets = Multimodal.synthesizeAssets(docs(s, d).select("doc_id"), "doc_id")
      val corpusSigs = Multimodal.imagePhashes(assets.filter(col("asset_id") < 400))
      val idx = Multimodal.phashBandRows(corpusSigs, maxHamming)
        .select(col("band_id"), col("band_hash"), col("id").as("__idx_id"))
      val stage = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_stream_newassets_${math.abs(d.hashCode)}").toString
      assets.filter(col("asset_id") >= 400)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      s.catalog.dropTempView("st22_tbl")
      val stream = graft.streaming.Streaming.parquetStream(
        s, stage, Multimodal.assetSchema)
      val sBands = Multimodal.phashBandRows(
        Multimodal.imagePhashes(stream), maxHamming)
      val cand = sBands.join(idx, Seq("band_id", "band_hash"))
        .select(col("id").as("__new_id"), col("__idx_id"))
      graft.streaming.Streaming.runToMemory(cand, "st22_tbl",
        org.apache.spark.sql.streaming.OutputMode.Append())
      val newSigs = Multimodal.imagePhashes(assets.filter(col("asset_id") >= 400))
      val dropped = Dedup.hammingPairs(
          s.table("st22_tbl").select(col("__new_id").as("src"), col("__idx_id").as("dst")),
          newSigs, corpusSigs, maxHamming)
        .select(col("src").as("id")).distinct()
      newSigs.join(dropped, Seq("id"), "left_anti")
        .select(col("id").as("asset_id"), col("sig").as("phash"))
        .orderBy("asset_id")
    },
      // The streaming path's decisions depend only on the static index,
      // so the brute-force NOT-EXISTS over the rebuilt hashes is the
      // exact truth (x07/st05 convention).
      s"""WITH $phashCtesSql
         SELECT n.id AS asset_id, n.sig AS phash
         FROM h n WHERE n.id >= 400
           AND NOT EXISTS (SELECT 1 FROM h i WHERE i.id < 400
             AND bit_count(xor(i.sig, n.sig)) <= 2)
         ORDER BY asset_id"""),

    Gate("st23_stream_dlq", (s, d) => {
      // streaming malformed-record quarantine — w07 under Structured
      // Streaming with a dead-letter channel: one JSONL text stream,
      // TWO running sinks. Clean rows (from_json parses, doc_id
      // lands) flow to the main sink; corrupt lines route to the DLQ
      // sink with the id recovered by regex from the raw line — the
      // at-scale contract that a bad record must never kill the
      // ingest job NOR vanish silently. Per-line decisions → the
      // batch oracle applies verbatim.
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_dlq_${math.abs(d.hashCode)}")
      val good = to_json(struct(col("doc_id"),
        substring(col("text"), 1, 20).as("v")))
      val line = when(col("doc_id") % 7 === 0,
        concat(lit("{\"doc_id\":"), col("doc_id").cast("string"), lit(",\"v\":BROKEN")))
        .otherwise(good)
      docs(s, d).select(line.as("value")).write.mode("overwrite").text(tmp.toString)
      s.catalog.dropTempView("st23_main")
      s.catalog.dropTempView("st23_dlq")
      val parsed = s.readStream.text(tmp.toString)
        .select(col("value"),
          from_json(col("value"),
            org.apache.spark.sql.types.StructType.fromDDL("doc_id LONG, v STRING")).as("j"))
      val clean = parsed.where(col("j.doc_id").isNotNull)
        .select(col("j.doc_id").as("doc_id"), col("j.v").as("v"))
      val dlq = parsed.where(col("j.doc_id").isNull)
        .select(regexp_extract(col("value"), "\"doc_id\":([0-9]+)", 1)
          .cast("long").as("doc_id"), col("value").as("raw"))
      graft.streaming.Streaming.runToMemory(clean, "st23_main",
        org.apache.spark.sql.streaming.OutputMode.Append())
      graft.streaming.Streaming.runToMemory(dlq, "st23_dlq",
        org.apache.spark.sql.streaming.OutputMode.Append())
      s.table("st23_main")
        .select(col("doc_id"), col("v"), lit(false).as("quarantined"))
        .unionByName(s.table("st23_dlq")
          .select(col("doc_id"), lit(null).cast("string").as("v"),
            lit(true).as("quarantined")))
        .orderBy("doc_id")
    },
      // Streaming twin: per-line decisions, so the same batch truth
      // gates the two-sink DLQ route (st12=d39 convention).
      corruptJsonlOracle),

    Gate("st24_foreachbatch_sink", (s, d) => {
      // the foreachBatch contract — Structured Streaming's
      // arbitrary-sink API, the production answer to exactly-once
      // into stores the built-in sinks don't speak: each micro-batch
      // lands under its own batch_id directory with mode=overwrite,
      // so a REPLAYED batch overwrites itself instead of duplicating
      // (the checkpoint promises at-least-once; idempotence is the
      // sink's job). The reassembled store must equal the batch truth
      // regardless of how the stream was micro-batched — per-source
      // counts AND content fingerprints gate completeness and
      // no-duplication at once.
      val stage = stageTableDir(d, "documents")
      val out = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_febatch_${math.abs(d.hashCode)}")
      if (java.nio.file.Files.exists(out)) { // stale batch dirs from a
        // previous run would read back as phantom batches
        java.nio.file.Files.walk(out)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.delete(p))
      }
      val stream = graft.streaming.Streaming.parquetStream(
          s, stage, Tables.documents(s, d).schema)
        .select("doc_id", "source", "text")
      graft.streaming.Streaming.runForeachBatch(stream, (b, id) =>
        b.write.mode("overwrite").parquet(s"$out/batch_id=$id"))
      s.read.option("basePath", out.toString).parquet(s"$out/batch_id=*")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          md5(array_join(array_sort(
            collect_list(md5(col("text").cast("binary")))), "").cast("binary"))
            .as("content_fp"))
        .orderBy("source")
    },
      // Completeness + no-duplication in one shot: counts AND sorted
      // content fingerprints per source, straight off the raw table.
      """SELECT source, count(*) AS n_docs,
           md5(string_agg(md5(text), '' ORDER BY md5(text))) AS content_fp
         FROM documents GROUP BY source ORDER BY source"""),

    Gate("st25_stream_funnel_ooo", (s, d) => {
      // st09's funnel under ADVERSARIAL arrival: ~20% of events are
      // hash-displaced one micro-batch LATE and each batch's rows are
      // fed in hash-scrambled order — a click can arrive before its
      // view. streamingFunnelUnordered buffers per user under an
      // event-time lateness bound (half the feed's time range, safely
      // covering the one-batch displacement) and finalizes in
      // event-time order, so the LAST emission per user must equal the
      // batch truth: the oracle string is SHARED with ev09/st09.
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val mem = MemoryStream[(Long, String, Long, Int)]
      s.catalog.dropTempView("st25_tbl")
      val rows = ev(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"), expr("ts div 1000"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(r => (r._3, r._1, r._2))
      val n = rows.length
      val range = rows.last._3 - rows.head._3
      val fun2 = graft.streaming.Streaming.streamingFunnelUnordered(
        mem.toDF().toDF("user_id", "event_type", "t", "batch"),
        windowUs = 21600000000L, latenessUs = math.max(range / 2, 1L))
      graft.streaming.Streaming.withShufflePartitions(s, graft.streaming.Streaming.DrainParts) {
        val q = fun2.toDF().writeStream.format("memory")
          .queryName("st25_tbl").outputMode("append").start()
        try {
          val assigned = rows.zipWithIndex.map { case ((u, e, t), i) =>
            val b0 = math.min(3, i * 4 / n)
            val h = scala.util.hashing.MurmurHash3.productHash((u, e, t))
            val b = math.min(3, b0 + (if (((h % 5) + 5) % 5 == 0) 1 else 0))
            (u, e, t, b, h)
          }
          (0 until 4).foreach { b =>
            val chunk = assigned.filter(_._4 == b)
              .sortBy(_._5) // hash-scrambled processing order
              .map { case (u, e, t, bb, _) => (u, e, t, bb) }
            mem.addData(chunk.toIndexedSeq)
            q.processAllAvailable()
          }
        } finally q.stop()
      }
      val w = Window.partitionBy("user_id").orderBy(desc("batch"))
      s.table("st25_tbl")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .agg(count(lit(1)).as("n_users"),
          count(col("fv")).as("n_view"),
          count(col("fc")).as("n_view_click"),
          count(col("fp")).as("n_full_funnel"))
    },
      funnelOracleSql),

    Gate("st26_stream_span_filter", (s, d) => {
      // streaming twin of x15 with first-ARRIVAL-wins canonical: docs
      // arrive in 4 deterministic micro-batches (batch = doc_id % 4);
      // every stride-1 8-token fingerprint consults a cross-batch
      // keyed state of already-seen fingerprints, so an occurrence is
      // excised iff an occurrence of the same window arrived STRICTLY
      // EARLIER in (batch, doc_id, pos) order — a previous batch, an
      // earlier doc of the same batch, or an earlier position of the
      // same doc. The per-doc island merge + cut runs as the batch
      // spanExcise over the emitted evidence (st07's convention: the
      // rollup tail is a bounded batch step).
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val all = docs(s, d).select("doc_id", "text")
      val mem = MemoryStream[(Long, Int, String)]
      val evidence = graft.streaming.Streaming.onlineSpanDupEvidence(
        mem.toDF().toDF("id", "batch", "text"), window = 8)
      s.catalog.dropTempView("st26_tbl")
      graft.streaming.Streaming.withShufflePartitions(s, graft.streaming.Streaming.DrainParts) {
        val q = evidence.toDF().writeStream.format("memory")
          .queryName("st26_tbl").outputMode("append").start()
        try {
          val rows = all
            .select(col("doc_id"), pmod(col("doc_id"), lit(4)).cast("int"), col("text"))
            .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
          (0 until 4).foreach { b => // fixture harness: 500 rows at gate SF
            mem.addData(rows.filter(_._2 == b).sortBy(_._1).toIndexedSeq)
            q.processAllAvailable()
          }
        } finally q.stop()
      }
      Dedup.spanExcise(all, "doc_id", "text", window = 8,
          dupOcc = s.table("st26_tbl")
            .select(col("id").as("doc_id"), col("pos").as("__pos")))
        .orderBy("doc_id")
    },
      // x15's construction with the canonical occurrence re-ranked in
      // ARRIVAL order (batch = doc_id % 4, then doc_id, then pos) — the
      // streaming path's first-arrival-wins rule. Everything after the
      // dup marking (island merge, excision, reassembly) is shared with
      // x15 verbatim.
      """WITH b AS (SELECT doc_id,
             string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS tk
           FROM documents),
         base AS (SELECT doc_id, tk, len(tk) AS n FROM b),
         wins AS (SELECT doc_id, unnest(range(0, greatest(n - 7, 0))) AS pos, tk
           FROM base),
         winf AS (SELECT doc_id, pos,
             md5(array_to_string(tk[pos+1:pos+8], ' ')) AS fp FROM wins),
         marked AS (SELECT doc_id, pos,
             row_number() OVER (PARTITION BY fp
               ORDER BY doc_id % 4, doc_id, pos) AS rn
           FROM winf),
         dup AS (SELECT doc_id, pos, pos + 7 AS e FROM marked WHERE rn > 1),
         isl AS (SELECT doc_id, pos, e,
             CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               -2) + 1 THEN 1 ELSE 0 END AS brk FROM dup),
         gid AS (SELECT doc_id, pos, e,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM isl),
         spans AS (SELECT doc_id, g, min(pos) AS s, max(e) AS e
           FROM gid GROUP BY doc_id, g),
         rem AS (SELECT doc_id, sum(e - s + 1) AS removed
           FROM spans GROUP BY doc_id),
         tokrows AS (SELECT doc_id, unnest(range(0, n)) AS ti, tk FROM base),
         tok2 AS (SELECT doc_id, ti, tk[ti+1] AS tok FROM tokrows),
         keptt AS (SELECT t.doc_id, t.ti, t.tok FROM tok2 t
           LEFT JOIN spans s ON t.doc_id = s.doc_id AND t.ti BETWEEN s.s AND s.e
           WHERE s.doc_id IS NULL),
         re AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY ti) AS trimmed
           FROM keptt GROUP BY doc_id)
         SELECT base.doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(coalesce(rem.removed, 0) AS BIGINT) AS n_removed,
           coalesce(re.trimmed, '') AS text_trimmed
         FROM base LEFT JOIN rem USING (doc_id) LEFT JOIN re USING (doc_id)
         ORDER BY base.doc_id"""),

    Gate("st27_stream_span_ttl", (s, d) => {
      // st26 with a BINDING retention bound — the event-time TTL of
      // Streaming.onlineSpanDupEvidence exercised as gate evidence
      // (the d74 convention: the scale knob must bind on the fixture,
      // not just exist in code). Batches carry event times 400 s apart
      // and retention is 100 s, so fingerprint state survives exactly
      // one batch gap: the cleanup micro-batch after batch b runs at
      // watermark ts(b)-100s, which passes a key's timeout ts(t)+100s
      // iff b-t > 0.5 — any key NOT refreshed in batch t+1 is evicted
      // before batch t+2's data arrives. An occurrence is therefore
      // excised iff its previous occurrence (in (batch, doc, pos)
      // arrival order — dup or not, every arrival refreshes the
      // timeout) is at most ONE batch older; an aged-out span is
      // first-seen AGAIN, the documented retention trade. The oracle
      // replays exactly that rule with a lag(batch) window in place of
      // st26's unconditional rn>1 marking.
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val all = docs(s, d).select("doc_id", "text")
      val mem = MemoryStream[(Long, Int, String, java.sql.Timestamp)]
      val evidence = graft.streaming.Streaming.onlineSpanDupEvidence(
        mem.toDF().toDF("id", "batch", "text", "ts"), window = 8,
        retention = Some("100 seconds"))
      s.catalog.dropTempView("st27_tbl")
      // drains at DrainParts like every other st row since r12 (the
      // old tuned 4-vs-8 split collapsed once the global default became
      // 4; a further halving to 2 measured WORSE in the r12 full run —
      // 5.36 s vs 4.85 — the TTL variant's extra watermark batches are
      // not state-commit-bound below width 4)
      graft.streaming.Streaming.withShufflePartitions(s, graft.streaming.Streaming.DrainParts) {
        val q = evidence.toDF().writeStream.format("memory")
          .queryName("st27_tbl").outputMode("append").start()
        try {
          val base = 1700000000000L // fixed epoch: determinism, not wall time
          val rows = all
            .select(col("doc_id"), pmod(col("doc_id"), lit(4)).cast("int"), col("text"))
            .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
          (0 until 4).foreach { b => // fixture harness: 500 rows at gate SF
            mem.addData(rows.filter(_._2 == b).sortBy(_._1)
              .map(t => (t._1, t._2, t._3,
                new java.sql.Timestamp(base + b * 400000L))).toIndexedSeq)
            q.processAllAvailable()
            // observability: the TTL'd state working set per batch —
            // without retention this grows with every batch; with it
            // the count stays ~the last batch's fingerprints
            System.err.println(s"[graft] st27 state rows after batch $b: " +
              graft.streaming.Streaming.stateRowsTotal(q))
          }
        } finally q.stop()
      }
      // the bound must BIND: strictly fewer dup occurrences than the
      // no-TTL first-arrival rule would mark — i.e. at least one span
      // aged out and was treated as first-seen again
      val ttlDups = s.table("st27_tbl").count()
      val noTtlDups = Dedup.spanWindowRows(all, "doc_id", "text", 8)
        .groupBy("__fp").agg(count(lit(1)).as("__c")).where(col("__c") >= 2)
        .agg(sum(col("__c") - 1)).head().getLong(0)
      require(ttlDups > 0 && ttlDups < noTtlDups,
        s"retention did not bind on the fixture: ttl=$ttlDups no-ttl=$noTtlDups")
      Dedup.spanExcise(all, "doc_id", "text", window = 8,
          dupOcc = s.table("st27_tbl")
            .select(col("id").as("doc_id"), col("pos").as("__pos")))
        .orderBy("doc_id")
    },
      // st26's construction with the retention rule spliced into the dup
      // marking: an occurrence is excised iff its PREVIOUS occurrence in
      // arrival order (batch = doc_id % 4, doc_id, pos) is at most one
      // batch older — the exact eviction boundary of the 400 s batch
      // spacing vs 100 s retention (see the gate comment). Everything
      // after the marking (island merge, excision, reassembly) is st26's
      // text verbatim.
      """WITH b AS (SELECT doc_id,
             string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS tk
           FROM documents),
         base AS (SELECT doc_id, tk, len(tk) AS n FROM b),
         wins AS (SELECT doc_id, unnest(range(0, greatest(n - 7, 0))) AS pos, tk
           FROM base),
         winf AS (SELECT doc_id, pos,
             md5(array_to_string(tk[pos+1:pos+8], ' ')) AS fp FROM wins),
         lagb AS (SELECT doc_id, pos,
             CAST(doc_id % 4 AS INTEGER) AS bt,
             lag(CAST(doc_id % 4 AS INTEGER)) OVER (PARTITION BY fp
               ORDER BY doc_id % 4, doc_id, pos) AS pbt
           FROM winf),
         dup AS (SELECT doc_id, pos, pos + 7 AS e FROM lagb
           WHERE pbt IS NOT NULL AND bt - pbt <= 1),
         isl AS (SELECT doc_id, pos, e,
             CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               -2) + 1 THEN 1 ELSE 0 END AS brk FROM dup),
         gid AS (SELECT doc_id, pos, e,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM isl),
         spans AS (SELECT doc_id, g, min(pos) AS s, max(e) AS e
           FROM gid GROUP BY doc_id, g),
         rem AS (SELECT doc_id, sum(e - s + 1) AS removed
           FROM spans GROUP BY doc_id),
         tokrows AS (SELECT doc_id, unnest(range(0, n)) AS ti, tk FROM base),
         tok2 AS (SELECT doc_id, ti, tk[ti+1] AS tok FROM tokrows),
         keptt AS (SELECT t.doc_id, t.ti, t.tok FROM tok2 t
           LEFT JOIN spans s ON t.doc_id = s.doc_id AND t.ti BETWEEN s.s AND s.e
           WHERE s.doc_id IS NULL),
         re AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY ti) AS trimmed
           FROM keptt GROUP BY doc_id)
         SELECT base.doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(coalesce(rem.removed, 0) AS BIGINT) AS n_removed,
           coalesce(re.trimmed, '') AS text_trimmed
         FROM base LEFT JOIN rem USING (doc_id) LEFT JOIN re USING (doc_id)
         ORDER BY base.doc_id"""),

    Gate("st28_stream_decontaminate", (s, d) => {
      // decontamination deployed on the ingest stream (the st06
      // design/apply split): the eval-gram set — benchmark-sized by
      // nature — is computed ONCE from the static eval suite, reduced
      // to a sorted literal array + a bloom sketch; the stream is
      // flagged by the STATELESS two-stage overlapFlag (might_contain
      // exists-guard first, exact array_intersect only on bloom
      // survivors). No join, no state — micro-batch boundaries cannot
      // move a per-row flag, and the bloom must be invisible in the
      // output (exact verify kills false positives) or this row
      // hash-fails against d23-shaped SQL on the % 101 = 1 split.
      val all = docs(s, d)
      // fixed-size eval suite (the d79/st30 convention): vacuous at
      // the sf0.01 gate, pins the eval-gram state at any step-up
      val evalDocs = all.filter(col("doc_id") % 101 === 1 && col("doc_id") < 500)
      val evalG = Decontamination.evalGrams(evalDocs, "text", n = 5)
      val hashes = evalG.collect().map(_.getLong(0))
      val bloom = Decontamination.gramBloom(evalG, "gram",
        expectedItems = 10000L, numBits = 80000L)
      s.catalog.dropTempView("st28_tbl")
      val stream = graft.streaming.Streaming
        .parquetStream(s, stageTableDir(d, "documents"), all.schema)
      val flagged = Decontamination.overlapFlag(stream, "doc_id", "text",
        n = 5, hashes, Some(bloom))
      graft.streaming.Streaming.runToMemory(flagged, "st28_tbl",
        org.apache.spark.sql.streaming.OutputMode.Append())
      s.table("st28_tbl").orderBy("doc_id")
    },
      // d23's plain SQL on the % 101 = 1 eval split — the stream's flag
      // is stateless, so the batch overlap report IS the truth; the
      // bloom prefilter and the literal-array intersect are execution
      // details the output must not show.
      """WITH w AS (SELECT doc_id,
             string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) < 5
             THEN [array_to_string(ws, ' ')]
             ELSE list_transform(range(1, len(ws) - 3),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])
           END) AS grams FROM w),
         e AS (SELECT DISTINCT gram FROM
           (SELECT unnest(grams) AS gram FROM g
             WHERE doc_id % 101 = 1 AND doc_id < 500)),
         c AS (SELECT doc_id, count(*) AS n_overlap FROM
             (SELECT doc_id, unnest(grams) AS gram FROM g) x
           JOIN e USING (gram) GROUP BY doc_id)
         SELECT g.doc_id, coalesce(c.n_overlap, 0) AS n_overlap,
           coalesce(c.n_overlap, 0) > 0 AS contaminated
         FROM g LEFT JOIN c USING (doc_id) ORDER BY g.doc_id"""),

    Gate("st29_stream_preference_pairs", (s, d) => {
      // k12 on the response stream: per-prompt chosen/rejected as a
      // STREAMING aggregation — max/min structs and a count are
      // arrival-order-insensitive and merge associatively, so the
      // state store holds exactly two structs + a long per prompt and
      // the complete-mode result equals the batch run no matter how
      // micro-batches slice the responses. The margin/min-size gate
      // is applied on the drained table (a filter can't run above a
      // complete-mode agg inside the stream); oracle shared with k12
      // verbatim.
      val all = docs(s, d)
      s.catalog.dropTempView("st29_tbl")
      val stream = graft.streaming.Streaming
        .parquetStream(s, stageTableDir(d, "documents"), all.schema)
        .select((col("doc_id") % 97).as("prompt_id"), col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("q"))
        .groupBy("prompt_id").agg(
          max(struct(col("q").as("s"), col("doc_id").as("i"))).as("ch"),
          min(struct(col("q").as("s"), col("doc_id").as("i"))).as("rj"),
          count(lit(1)).as("n"))
      graft.streaming.Streaming.runToMemory(stream, "st29_tbl",
        org.apache.spark.sql.streaming.OutputMode.Complete())
      s.table("st29_tbl")
        .where(col("n") >= 2 && (col("ch.s") - col("rj.s")) >= 0.05)
        .select(col("prompt_id"),
          col("ch.i").as("chosen_id"), col("rj.i").as("rejected_id"),
          round(col("ch.s"), 6).as("chosen_score"),
          round(col("rj.s"), 6).as("rejected_score"),
          round(col("ch.s") - col("rj.s"), 6).as("margin"))
        .orderBy("prompt_id")
    },
      preferencePairsOracleSql),

    Gate("st30_stream_fuzzy_decon", (s, d) => {
      // d79's decision deployed on the ingest stream, st28's stateless
      // discipline: the eval side (same fixed % 101 = 7 / id < 500
      // split) ships as a
      // BROADCAST relation of pre-shingled gram sets and each arriving
      // doc is anti-joined on the exact char-5gram Jaccard >= 0.8
      // predicate — a stream-static BroadcastNestedLoopJoin(anti) with
      // early-out, no shuffle, no state store, so micro-batch
      // boundaries cannot move a verdict. Brute-force vs eval is the
      // right stream shape for benchmark-sized suites (|eval| set
      // intersections per row); the LSH-candidate geometry stays the
      // batch path (d79). Oracle = kept ids under the same brute-force
      // graph d79's report pins.
      val all = docs(s, d)
      val evalDocs = all.filter(col("doc_id") % 101 === 7 && col("doc_id") < 500)
        .select("doc_id", "text").localCheckpoint(true)
      s.catalog.dropTempView("st30_tbl")
      val stream = graft.streaming.Streaming
        .parquetStream(s, stageTableDir(d, "documents"), all.schema)
      val kept = Decontamination.fuzzyDecontaminateStateless(
        stream, evalDocs, "doc_id", "text", threshold = 0.8, ngram = 5)
        .select("doc_id", "source")
      graft.streaming.Streaming.runToMemory(kept, "st30_tbl",
        org.apache.spark.sql.streaming.OutputMode.Append())
      s.table("st30_tbl").orderBy("doc_id")
    },
      // d79's brute-force graph, kept-rows shape: docs with NO eval
      // Jaccard >= 0.8 — one truth for the batch report and the
      // streaming anti-join.
      """WITH n AS (SELECT doc_id, source,
             lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s
           FROM documents),
         g AS (SELECT doc_id, source, list_distinct(CASE WHEN length(s) < 5 THEN [s]
               ELSE list_transform(range(1, length(s)-3), i -> s[i:i+4]) END) AS gs FROM n),
         e AS (SELECT gs AS egs FROM g WHERE doc_id % 101 = 7 AND doc_id < 500)
         SELECT doc_id, source FROM g c
         WHERE NOT EXISTS (SELECT 1 FROM e
           WHERE len(list_intersect(c.gs, e.egs)) * 1.0
             / len(list_distinct(list_concat(c.gs, e.egs))) >= 0.8)
         ORDER BY doc_id""",
      scaleTwin = Some(
        """WITH hit AS (SELECT u AS doc_id FROM tw_char5_pairs
               WHERE v % 101 = 7 AND v < 500
             UNION SELECT v FROM tw_char5_pairs WHERE u % 101 = 7 AND u < 500)
         SELECT d.doc_id, d.source FROM documents d
         WHERE NOT (d.doc_id % 101 = 7 AND d.doc_id < 500)
           AND d.doc_id NOT IN (SELECT doc_id FROM hit)
         ORDER BY doc_id""")),

    Gate("st31_stream_span_decon", (s, d) => {
      // d80's surgical excision deployed on the ingest stream: the
      // eval passages' window fingerprints (bounded by the suite's
      // token count) collect ONCE into a literal array, and each
      // arriving doc is trimmed by a pure per-row projection —
      // in-row window match + coverage-test token filter, no join,
      // no shuffle, no state (span coverage is a per-document fact;
      // st28's stateless discipline applied to the span family).
      // Oracle shared verbatim with d80: the two geometries must
      // produce the same table or the twin desynchronized.
      val all = docs(s, d)
      val toks = split(regexp_replace(trim(col("text")), "\\s+", " "), " ")
      val evalDocs = all.filter(col("doc_id") % 53 === 0 && col("doc_id") < 500)
        .select(col("doc_id"), array_join(slice(toks, 5, 12), " ").as("text"))
      val evalFps = Decontamination.evalSpanFingerprints(
        evalDocs, "doc_id", "text", window = 8)
      s.catalog.dropTempView("st31_tbl")
      val stream = graft.streaming.Streaming
        .parquetStream(s, stageTableDir(d, "documents"), all.schema)
      val trimmed = Decontamination.spanDecontaminateStateless(
        stream, "doc_id", "text", window = 8, evalFps)
      graft.streaming.Streaming.runToMemory(trimmed, "st31_tbl",
        org.apache.spark.sql.streaming.OutputMode.Append())
      s.table("st31_tbl").orderBy("doc_id")
    },
      spanDeconOracleSql),

    Gate("st32_stream_keyword_tagging", (s, d) => {
      // d82 deployed on the ingest stream — the claim "zero shuffle,
      // no state, streaming-ready by construction" exercised as gate
      // evidence rather than documentation: the SAME tagKeywords
      // projection runs inside a micro-batch query (no join, no state
      // store, Append mode) and must reproduce d82's table exactly
      // (one oracle string bound to both keys).
      val all = docs(s, d)
      s.catalog.dropTempView("st32_tbl")
      val stream = graft.streaming.Streaming
        .parquetStream(s, stageTableDir(d, "documents"), all.schema)
      val tagged = TextAnalysis.tagKeywords(
          stream.select("doc_id", "text"), "text",
          Seq(("engine", "spark"), ("ml", "vector"),
            ("ui", "window table"), ("etl", "batch window"),
            ("sql3", "agg row scan")))
        .select("doc_id", "tags")
      graft.streaming.Streaming.runToMemory(tagged, "st32_tbl",
        org.apache.spark.sql.streaming.OutputMode.Append())
      s.table("st32_tbl").orderBy("doc_id")
    },
      keywordTagOracleSql)
  )
}

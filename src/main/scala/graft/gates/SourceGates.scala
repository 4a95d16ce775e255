package graft
package gates

import graft.functions.TextFunctions
import graft.operators._
import org.apache.spark.sql.functions._
import Fixtures._

/** Source and sink gates (w01-w12): WET/WARC readers, JSONL
  * quarantine, mojibake repair, compaction, export readers. */
object SourceGates {
  /** Every repairable char once — appended to each doc by w03 so the
    * whole mojibake table is under the hash. */
  private val MojibakeSuffix: String =
    " café naïve “x‘y’ – — … 5° è ê á à ä ö ü ñ ç í ó ú"

  private def sqlQuote(s: String) = "'" + s.replace("'", "''") + "'"

  val all: Seq[Gate] = Seq(
    Gate("w01_wet_roundtrip", (s, d) => {
      import java.nio.charset.StandardCharsets
      import java.util.zip.GZIPOutputStream
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_wet_${math.abs(d.hashCode)}")
      java.nio.file.Files.createDirectories(tmp)
      val wetPath = tmp.resolve("docs.wet.gz")
      val rows = docs(s, d).select("doc_id", "text").orderBy("doc_id").collect()
      val os = new GZIPOutputStream(new java.io.FileOutputStream(wetPath.toFile))
      rows.foreach { r =>
        val text = r.getString(1)
        val payload = text.getBytes(StandardCharsets.UTF_8)
        val rec = s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: http://d/${r.getLong(0)}\r\n" +
          s"WARC-Date: 2025-01-01T00:00:00Z\r\nWARC-Record-ID: <urn:uuid:${r.getLong(0)}>\r\n" +
          s"Content-Length: ${payload.length}\r\n\r\n$text\r\n\r\n"
        os.write(rec.getBytes(StandardCharsets.UTF_8))
      }
      os.close()
      graft.sources.WetSource.read(s, Seq(wetPath.toString),
          graft.sources.WetSource.WetConfig(minChars = 100))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(length(col("text"))).cast("long").as("sum_chars"))
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS sum_chars
         FROM documents WHERE length(text) >= 100"""),

    Gate("w02_html_extract", (s, d) => {
      // raw-HTML ingest extraction (the stage WET files arrive with
      // already done): docs wrapped in synthetic markup — script/style
      // subtrees, comments, block structure, escaped entities — must
      // come back as clean text. One zero-shuffle regexp chain; the
      // oracle replays the identical chain, so extraction is checked
      // byte-for-byte.
      docs(s, d).select(col("doc_id"), concat(
          lit("<html><head><script>var x = 1;</script><style>p { }</style></head><body><h1>"),
          col("source"), lit("</h1><!-- hidden --><p>"),
          substring(col("text"), 1, 80),
          lit(" &amp; more</p><ul><li>a</li><li>b</li></ul></body></html>")).as("html"))
        .select(col("doc_id"),
          TextFunctions.htmlToText(col("html")).as("extracted"))
        .orderBy("doc_id")
    },
      // Mirrors TextFunctions.htmlToText stage by stage (comments,
      // script/style, block closers -> newline, tag strip, entity
      // decode with &amp; last, whitespace collapse). Replacements use
      // chr(10) — a backslash-n in a replacement string is not portable.
      """WITH s AS (SELECT doc_id,
             '<html><head><script>var x = 1;</script><style>p { }</style></head><body><h1>'
               || source || '</h1><!-- hidden --><p>' || substr(text, 1, 80)
               || ' &amp; more</p><ul><li>a</li><li>b</li></ul></body></html>' AS html
           FROM documents),
         x1 AS (SELECT doc_id, regexp_replace(html, '(?s)<!--.*?-->', '', 'g') AS t FROM s),
         x2 AS (SELECT doc_id, regexp_replace(t,
             '(?is)<(script|style)\b[^>]*>.*?</(script|style)\s*>', '', 'g') AS t FROM x1),
         x3 AS (SELECT doc_id, regexp_replace(t,
             '(?i)<(br\s*/?|/p|/div|/h[1-6]|/li|/tr|/table|/blockquote)\s*>', chr(10), 'g') AS t FROM x2),
         x4 AS (SELECT doc_id, regexp_replace(t, '(?s)<[^>]*>', '', 'g') AS t FROM x3),
         x5 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(t,
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
             '&nbsp;', ' '), '&amp;', '&') AS t FROM x4),
         x6 AS (SELECT doc_id, regexp_replace(regexp_replace(t,
             '[ \t\x0B\f\r]+', ' ', 'g'), ' ?\n ?', chr(10), 'g') AS t FROM x5),
         x7 AS (SELECT doc_id, regexp_replace(regexp_replace(t,
             '^\s+', ''), '\s+$', '') AS t FROM x6)
         SELECT doc_id, regexp_replace(t, '\n{3,}', chr(10) || chr(10), 'g') AS extracted
         FROM x7 ORDER BY doc_id"""),

    Gate("w03_mojibake_repair", (s, d) =>
      // UTF-8-as-cp1252 double-encoding repair (ftfy's core case):
      // every repairable char is appended to each doc, the damage
      // direction garbles them, and the repair chain must restore the
      // exact clean string. The oracle replays BOTH directions from
      // the same generated table, so corrupted, repaired, and the
      // roundtrip flag are all compared byte-for-byte.
      docs(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(MojibakeSuffix)).as("clean"))
        .withColumn("corrupted", TextFunctions.corruptMojibake(col("clean")))
        .select(col("doc_id"), col("corrupted"),
          TextFunctions.fixMojibake(col("corrupted")).as("repaired"),
          col("clean"))
        .select(col("doc_id"), col("corrupted"), col("repaired"),
          (col("corrupted") =!= col("repaired")).as("was_mojibake"),
          (col("repaired") === col("clean")).as("roundtrip_ok"))
        .orderBy("doc_id"),
      // The w03 oracle is GENERATED from the same table the operator
      // folds, in the same order — a hand-transcribed copy would drift.
      {
        def chain(base: String, pairs: Seq[(String, String)]) =
          pairs.foldLeft(base) { case (acc, (from, to)) =>
            s"replace($acc, ${sqlQuote(from)}, ${sqlQuote(to)})"
          }
        val corrupt = chain("clean",
          TextFunctions.MojibakeTable.map { case (m, c) => (c, m) })
        val repair = chain("corrupted", TextFunctions.MojibakeTable)
        s"""WITH c1 AS (SELECT doc_id, text || ${sqlQuote(MojibakeSuffix)} AS clean FROM documents),
       c2 AS (SELECT doc_id, clean, $corrupt AS corrupted FROM c1),
       c3 AS (SELECT doc_id, clean, corrupted, $repair AS repaired FROM c2)
       SELECT doc_id, corrupted, repaired,
         corrupted != repaired AS was_mojibake,
         repaired = clean AS roundtrip_ok
       FROM c3 ORDER BY doc_id"""
      }),

    Gate("w04_jsonl_roundtrip", (s, d) => {
      // JSONL sink + source roundtrip — the HF-datasets interchange
      // format the parquet path doesn't cover. The multi-line synth
      // docs (embedded newlines; CJK in the zh rows) are written one
      // JSON object per line by the DISTRIBUTED writer (executor-side,
      // one shard per partition — no driver funnel) and read back with
      // an EXPLICIT schema (at 100 TB you pin the schema; inference is
      // a second full scan). The oracle is the identity projection:
      // the escape/unescape trip must be byte-invisible.
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_jsonl_${math.abs(d.hashCode)}")
      docs(s, d).select(col("doc_id"), col("lang"), multiLineSynth.as("text"))
        .write.mode("overwrite").json(tmp.toString)
      s.read.schema("doc_id LONG, lang STRING, text STRING")
        .json(tmp.toString)
        .orderBy("doc_id")
    },
      // The roundtrip must be invisible: the oracle is the synth
      // projection itself, straight off the parquet table.
      s"""WITH $multiLineSynthSql
         SELECT d.doc_id, d.lang, synth.t AS text
         FROM documents d JOIN synth USING (doc_id) ORDER BY d.doc_id"""),

    Gate("w05_csv_roundtrip", (s, d) => {
      // CSV sink + source roundtrip, the third interchange format next
      // to parquet and JSONL. The synth text carries every character
      // CSV has to escape — embedded newlines (multi-line synth), a
      // comma, RFC 4180 doubled quotes — plus CJK in the zh rows.
      // Distributed writer (one shard per partition, no driver funnel);
      // read back with an EXPLICIT schema, multiLine, and the standard
      // quote-doubling escape. The oracle is the identity projection:
      // the quote/unquote trip must be byte-invisible.
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_csv_${math.abs(d.hashCode)}")
      docs(s, d).select(col("doc_id"), col("lang"),
          concat(multiLineSynth, lit(",\"quoted\" tail")).as("text"))
        .write.mode("overwrite")
        .option("quote", "\"").option("escape", "\"").option("header", "true")
        .csv(tmp.toString)
      s.read.schema("doc_id LONG, lang STRING, text STRING")
        .option("multiLine", "true")
        .option("quote", "\"").option("escape", "\"").option("header", "true")
        .csv(tmp.toString)
        .orderBy("doc_id")
    },
      // Same identity shape as w04 with the CSV-hostile tail appended.
      s"""WITH $multiLineSynthSql
         SELECT d.doc_id, d.lang, synth.t || ',"quoted" tail' AS text
         FROM documents d JOIN synth USING (doc_id) ORDER BY d.doc_id"""),

    Gate("w06_orc_roundtrip", (s, d) => {
      // ORC sink + source roundtrip (zstd) — the fourth interchange
      // format (parquet/JSONL/CSV/ORC). Same identity contract as w04:
      // the columnar encode/decode trip must be byte-invisible on the
      // multi-line synth (embedded newlines, CJK). Distributed writer;
      // explicit schema on read (no inference scan).
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_orc_${math.abs(d.hashCode)}")
      docs(s, d).select(col("doc_id"), col("lang"), multiLineSynth.as("text"))
        .write.mode("overwrite").option("compression", "zstd").orc(tmp.toString)
      s.read.schema("doc_id LONG, lang STRING, text STRING")
        .orc(tmp.toString)
        .orderBy("doc_id")
    },
      // ORC identity: same contract (and SQL) as the JSONL roundtrip.
      s"""WITH $multiLineSynthSql
         SELECT d.doc_id, d.lang, synth.t AS text
         FROM documents d JOIN synth USING (doc_id) ORDER BY d.doc_id"""),

    Gate("w07_corrupt_jsonl", (s, d) => {
      // Malformed-record quarantine — the ingest concern PERMISSIVE
      // mode exists for: at 100 TB a bad line must land in a corrupt-
      // record channel, never kill the job. Every doc_id % 7 == 0 line
      // is written truncated (unparseable JSON); the PERMISSIVE read
      // routes it to _corrupt_record (doc_id/v null), and the gate
      // RECOVERS the id from the quarantined raw line by regex — so
      // parse, quarantine, and recovery are all oracle-checked.
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_cjson_${math.abs(d.hashCode)}")
      val good = to_json(struct(col("doc_id"),
        substring(col("text"), 1, 20).as("v")))
      val line = when(col("doc_id") % 7 === 0,
        concat(lit("{\"doc_id\":"), col("doc_id").cast("string"), lit(",\"v\":BROKEN")))
        .otherwise(good)
      docs(s, d).select(line.as("value")).write.mode("overwrite").text(tmp.toString)
      s.read
        .schema("doc_id LONG, v STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(tmp.toString)
        .select(
          coalesce(col("doc_id"),
            regexp_extract(col("_corrupt_record"), "\"doc_id\":([0-9]+)", 1)
              .cast("long")).as("doc_id"),
          col("v"),
          col("_corrupt_record").isNotNull.as("quarantined"))
        .orderBy("doc_id")
    },
      // Replays the corruption rule: doc_id % 7 == 0 lines are broken,
      // so they surface quarantined with a null payload and a recovered
      // id; everything else parses to the 20-char payload.
      corruptJsonlOracle),

    Gate("w08_schema_evolution", (s, d) => {
      // Schema-evolution read: two parquet vintages of the same table
      // (old shards lack the text column) unified by mergeSchema —
      // the decade-of-shards reality of any long-lived corpus store.
      // Gate: the merged frame is the full table with nulls exactly
      // where the old vintage is missing the column.
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_evo_${math.abs(d.hashCode)}")
      docs(s, d).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$tmp/a")
      docs(s, d).filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), substring(col("text"), 1, 30).as("t"))
        .write.mode("overwrite").parquet(s"$tmp/b")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/a", s"$tmp/b")
        .orderBy("doc_id")
    },
      // The merged frame is the whole table; nulls exactly where the
      // old vintage (even ids) lacks the evolved column.
      """SELECT doc_id, lang,
           CASE WHEN doc_id % 2 = 1 THEN substr(text, 1, 30) ELSE NULL END AS t
         FROM documents ORDER BY doc_id"""),

    Gate("w09_compaction_exec", (s, d) => {
      // d51's plan EXECUTED: the corpus lands fragmented (64-shard
      // over-parallel write), then compacts per-source — hash
      // repartition on the layout key + partitionBy, so each source's
      // rows land in exactly one task = the planned file count at this
      // byte scale. The gate reads the compacted layout back and
      // derives the REAL file count from `_metadata.file_path`
      // (executor-side, no driver FS walk); `files_match` only turns
      // true if the physical layout hit the plan, and the oracle pins
      // it to TRUE (b02's embedded-assertion convention).
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_compact_${math.abs(d.hashCode)}")
      val frag = s"$tmp/frag"; val out = s"$tmp/compact"
      docs(s, d).select("doc_id", "source", "text")
        .repartition(64).write.mode("overwrite").parquet(frag)
      s.read.parquet(frag)
        .repartition(col("source"))
        .write.mode("overwrite").partitionBy("source").parquet(out)
      val target = 1048576.0
      val planned = docs(s, d).groupBy("source")
        .agg(sum(octet_length(col("text"))).cast("long").as("bytes"))
        .select(col("source"), greatest(lit(1L),
          ceil(col("bytes").cast("double") / target).cast("long")).as("n_files"))
      s.read.parquet(out)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("_metadata.file_path")).as("n_files_actual"))
        .join(planned, "source")
        .select(col("source"), col("n_docs"), col("n_files"),
          (col("n_files_actual") === col("n_files")).as("files_match"))
        .orderBy("source")
    },
      // Planned counts replayed from the same byte formula; files_match
      // pinned TRUE — the row only hashes equal if the physical layout
      // landed on the plan.
      """SELECT source, count(*) AS n_docs,
           greatest(CAST(1 AS BIGINT),
             CAST(ceil(CAST(sum(strlen(text)) AS DOUBLE) / 1048576.0) AS BIGINT)) AS n_files,
           TRUE AS files_match
         FROM documents GROUP BY source ORDER BY source"""),

    Gate("w10_try_cast", (s, d) => {
      // error-tolerant numeric ingest: dirty numeric strings (clean
      // ints, garbage-suffixed ints, whitespace-padded decimals) go
      // through try_cast — NULL, never a job-killing exception (the
      // ANSI-mode answer to dirty CSV columns). Both engines trim
      // before parsing and reject non-integral strings for BIGINT, so
      // every cell replays exactly.
      val raw = when(col("doc_id") % 3 === 0,
          ((col("doc_id") * 17) % 1000).cast("string"))
        .when(col("doc_id") % 3 === 1,
          concat((col("doc_id") % 100).cast("string"), lit("x")))
        .otherwise(concat(lit(" "), (col("doc_id") % 50).cast("string"), lit(".5 ")))
      // (divergence note, excluded from the gate: a DECIMAL string to
      // BIGINT is where engines disagree — DuckDB's TRY_CAST rounds
      // '1.5'->2, Spark's ANSI try_cast rejects it to NULL. The BIGINT
      // column is therefore gated on the integral branches only.)
      docs(s, d).select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"), col("raw"),
          when(col("doc_id") % 3 =!= 2, expr("try_cast(raw AS BIGINT)")).as("as_long"),
          expr("try_cast(raw AS DOUBLE)").as("as_double"))
        .withColumn("unparseable", col("as_double").isNull)
        .orderBy("doc_id")
    },
      // Same dirty synth; TRY_CAST semantics must agree cell-by-cell.
      """WITH s AS (SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN CAST((doc_id * 17) % 1000 AS VARCHAR)
                  WHEN doc_id % 3 = 1 THEN CAST(doc_id % 100 AS VARCHAR) || 'x'
                  ELSE ' ' || CAST(doc_id % 50 AS VARCHAR) || '.5 ' END AS raw
           FROM documents)
         SELECT doc_id, raw,
           CASE WHEN doc_id % 3 = 2 THEN NULL
                ELSE TRY_CAST(raw AS BIGINT) END AS as_long,
           TRY_CAST(raw AS DOUBLE) AS as_double,
           TRY_CAST(raw AS DOUBLE) IS NULL AS unparseable
         FROM s ORDER BY doc_id"""),

    Gate("w11_dynamic_overwrite", (s, d) => {
      // dynamic partition overwrite — the lakehouse revise-one-
      // partition contract: the full corpus lands partitioned by
      // source, then ONE source's rows are rewritten (n_chars bumped
      // by 1e6) with partitionOverwriteMode=dynamic. Only the touched
      // partition may be replaced; every other partition must survive
      // byte-for-byte. The oracle recomputes the expected post-revision
      // state from the raw table, so a static-mode regression (which
      // would wipe the untouched partitions) hash-fails immediately.
      val dir = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_dynover_${math.abs(d.hashCode)}").toString
      val all = docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      all.write.mode("overwrite").partitionBy("source").parquet(dir)
      val minSrc = all.agg(min(col("source"))).head.getString(0)
      all.where(col("source") === minSrc)
        .withColumn("n_chars", col("n_chars") + lit(1000000L))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("source").parquet(dir)
      s.read.parquet(dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    },
      """SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars + CASE WHEN source = (SELECT min(source) FROM documents)
             THEN 1000000 ELSE 0 END) AS BIGINT) AS sum_chars
         FROM documents GROUP BY source ORDER BY source"""),

    Gate("w12_manifest_swap", (s, d) => {
      // atomic publish-by-manifest — the snapshot-pointer pattern
      // every table format builds on (Iceberg/Delta): snapshot v1
      // lands, revised v2 lands BESIDE it (files immutable,
      // directories never rewritten), and the one-line manifest
      // rewrite is the only mutation a reader ever observes — v1 or
      // v2 in full, never a mix. The gate writes both versions, swaps
      // the pointer, reads THROUGH the manifest, and the oracle
      // recomputes v2's expected per-source state from the raw table.
      val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_manifest_${math.abs(d.hashCode)}")
      java.nio.file.Files.createDirectories(root)
      val all = docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      all.write.mode("overwrite").parquet(s"$root/v1")
      val minSrc = all.agg(min(col("source"))).head.getString(0)
      all.withColumn("n_chars",
          when(col("source") === minSrc, col("n_chars") + lit(500000L))
            .otherwise(col("n_chars")))
        .write.mode("overwrite").parquet(s"$root/v2")
      val manifest = root.resolve("MANIFEST")
      java.nio.file.Files.write(manifest, "v1".getBytes("UTF-8"))
      java.nio.file.Files.write(manifest, "v2".getBytes("UTF-8")) // the swap
      val current = new String(java.nio.file.Files.readAllBytes(manifest), "UTF-8")
      s.read.parquet(s"$root/$current")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    },
      """SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars + CASE WHEN source = (SELECT min(source) FROM documents)
             THEN 500000 ELSE 0 END) AS BIGINT) AS sum_chars
         FROM documents GROUP BY source ORDER BY source""")
  )
}

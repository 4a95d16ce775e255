package graft
package gates

import graft.functions.{TextFunctions, UrlFunctions}
import graft.operators._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures._

/** Document gates, curation (part of d01-d85): sampling and
  * mixtures, DSIR, train/eval splits, corpus and source cards, domain
  * caps and blocklists, MERGE maintenance, snapshots, compaction and
  * epoch planning, k-anonymity. */
object DocCurationGates {
  val all: Seq[Gate] = Seq(
    Gate("d18_stratified_sample", (s, d) =>
      Sampling.stratifiedExact(docs(s, d), "lang", 0.2, "doc_id")
        .select("lang", "doc_id").orderBy("lang", "doc_id"),
      """SELECT lang, doc_id FROM (
           SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
           FROM documents)
         WHERE rn <= CEIL(0.2 * n) ORDER BY lang, doc_id"""),

    Gate("d27_temperature_mixture", (s, d) => {
      // token-budgeted temperature mixture (T=0.5): the kept set is a
      // pure per-row hash-threshold decision against per-source cutoffs
      // derived from exact token totals — deterministic, window-free
      // (no low-cardinality partition sort anywhere), and reproduced
      // bit-for-bit by the oracle (sqrt + fixed-order reduction).
      val withTok = docs(s, d).select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).as("n_tok"))
      Sampling.temperatureMixture(withTok, "source", col("n_tok"),
          "doc_id", tokenBudget = 10000.0)
        .select("doc_id", "source").orderBy("doc_id")
    },
      // Mirrors Sampling.temperatureMixture bit-for-bit (see
      // temperatureMixtureOracle); st06 shares the same string.
      temperatureMixtureOracle),

    Gate("d29_mixture_report", (s, d) => {
      // the mixture design sheet for d27's budget: per-source natural
      // size, flattened keep probability, realized kept counts — all
      // deterministic, so the oracle recomputes the whole sheet.
      val withTok = docs(s, d).select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).as("n_tok"))
      Sampling.mixtureReport(withTok, "source", col("n_tok"),
          "doc_id", tokenBudget = 10000.0)
        .orderBy("source")
    },
      // Mirrors Sampling.mixtureReport: same CTEs as d27 plus the
      // realized kept aggregates; keep_prob = least(1, budget*sqrt/z/tt)
      // rounded 6dp (HALF_UP on both sides). Pinned fixture assumption:
      // documents.source is never NULL (driver-generated) — the
      // operator's explicit NULL-slice row has no SQL mirror here and
      // would mismatch if the fixture ever gained NULL sources.
      """WITH tok AS (SELECT doc_id, source,
             CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
           FROM documents),
         t AS (SELECT source, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS tokens,
             CAST(sum(n_tok) AS DOUBLE) AS tt FROM tok GROUP BY source),
         z AS (SELECT list_sum(list(sqrt(tt) ORDER BY source)) AS z FROM t),
         c AS (SELECT source, n_docs, tokens,
             CASE WHEN tt = 0.0 THEN 1.0
               ELSE least(1.0, 10000.0 * sqrt(tt) / z / tt) END AS p,
             CASE WHEN tt = 0.0
               OR 10000.0 * sqrt(tt) / z / tt >= 1.0 THEN 'zzzzzzzz'
             ELSE printf('%08x', least(CAST(floor(10000.0 * sqrt(tt) / z / tt * 4294967296.0) AS BIGINT), 4294967295))
             END AS cut
           FROM t, z),
         k AS (SELECT source, count(*) AS kept_docs,
             CAST(sum(n_tok) AS BIGINT) AS kept_tokens
           FROM tok JOIN c USING (source)
           WHERE cut = 'zzzzzzzz'
             OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < cut
           GROUP BY source)
         SELECT c.source, c.n_docs, c.tokens, round(c.p, 6) AS keep_prob,
           coalesce(k.kept_docs, 0) AS kept_docs,
           coalesce(k.kept_tokens, 0) AS kept_tokens
         FROM c LEFT JOIN k USING (source) ORDER BY c.source"""),

    Gate("d32_expectations", (s, d) =>
      // the ingest-gate constraint report (Deequ/dbt-test shape): five
      // row-level checks + a uniqueness check, ALL inside one
      // aggregate pass. The synthetic corpus passes most and violates
      // lang_in_set (the fixture carries more languages than the
      // allowed list) — a report with both outcomes.
      Expectations.report(docs(s, d),
          Seq(Expectations.notNull("text"),
            Expectations.notNull("source"),
            Expectations.between("n_chars", 0, 400),
            Expectations.isIn("lang", Seq("en", "de", "fr", "zh")),
            Expectations.Check("n_chars_matches_text",
              col("n_chars") === length(col("text")))),
          uniqueCols = Seq("doc_id"))
        .orderBy("check"),
      // Mirrors Expectations.report check-for-check (violation = predicate
      // false OR NULL; uniqueness = count - count distinct).
      """WITH n AS (SELECT count(*) AS n_rows FROM documents),
         v AS (
           SELECT 'text_not_null' AS chk,
             count(*) FILTER (WHERE text IS NULL) AS nv FROM documents
           UNION ALL SELECT 'source_not_null',
             count(*) FILTER (WHERE source IS NULL) FROM documents
           UNION ALL SELECT 'n_chars_between',
             count(*) FILTER (WHERE NOT coalesce(n_chars >= 0 AND n_chars <= 400, FALSE)) FROM documents
           UNION ALL SELECT 'lang_in_set',
             count(*) FILTER (WHERE NOT coalesce(lang IN ('en','de','fr','zh'), FALSE)) FROM documents
           UNION ALL SELECT 'n_chars_matches_text',
             count(*) FILTER (WHERE NOT coalesce(n_chars = length(text), FALSE)) FROM documents
           UNION ALL SELECT 'doc_id_unique',
             count(*) - count(DISTINCT doc_id) FROM documents)
         SELECT v.chk AS "check", n.n_rows, v.nv AS n_violations,
           round(CAST(v.nv AS DOUBLE) / greatest(n.n_rows, 1), 6) AS violation_frac,
           v.nv = 0 AS passed
         FROM v, n ORDER BY v.chk"""),

    Gate("d36_dsir", (s, d) =>
      // DSIR importance resampling (Xie et al. 2023) toward a French
      // target domain: raw and target unigram+bigram LMs share one
      // top-64 vocabulary and ride the SAME two count shuffles (the
      // target counts are a count-if on the raw pass); scoring is a
      // zero-shuffle position-order fold, and the top-100 selection
      // threshold is a bounded 1-row collect — no unpartitioned
      // window anywhere. The lang mix (en/fr/es/de/zh) makes the
      // log-ratio genuinely separate: French-vocab grams dominate
      // the selected set.
      TextAnalysis.dsirResample(docs(s, d), "text",
          col("lang") === "fr", vocabSize = 64, nSelect = 100)
        .orderBy("doc_id"),
      // Mirrors TextAnalysis.dsirResample feature-for-feature: shared
      // top-64 vocab (count DESC, word ASC), chr(1) as <unk>, add-one
      // smoothed unigram (V+1 categories) and bigram ((V+1)^2) models
      // for raw vs target (lang='fr'), per-doc log-ratio as position-
      // order list_reduce folds (uni fold + bigram fold, bigram term
      // 0.0 when < 2 tokens — the exact double the Spark aggregate HOF
      // produces), and the top-100 threshold via the rounded weight
      // with doc_id tiebreak.
      s"""WITH $dsirScoredCtes,
         top AS (SELECT dsir_logw, doc_id FROM scored
           ORDER BY dsir_logw DESC, doc_id LIMIT 100),
         thr AS (SELECT dsir_logw AS tw, doc_id AS td FROM top
           ORDER BY dsir_logw ASC, doc_id DESC LIMIT 1)
         SELECT s.doc_id, s.n_feats, s.dsir_logw,
           (s.dsir_logw > t.tw OR (s.dsir_logw = t.tw AND s.doc_id <= t.td))
             AS selected
         FROM scored s, thr t ORDER BY s.doc_id"""),

    Gate("d37_split_assign", (s, d) => {
      // deterministic, content-stable train/val/test assignment: the
      // split is a pure function of md5(doc id) — any engine, run, or
      // partitioning reproduces it, the leakage-proof way to cut a
      // training corpus. Hex buckets 205/25/26 of 256 ≈ 80/10/10
      // (hex strings sort numerically, so two chars are enough).
      // Zero shuffle for the assignment itself; the gate aggregates
      // the per-(split, lang) accounting a mixture design would read.
      val h2 = splitBucket
      docs(s, d)
        .select(col("lang"),
          when(h2 < "cd", "train").when(h2 < "e6", "val")
            .otherwise("test").as("split"),
          TextFunctions.tokenCount(col("text")).as("n_tok"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("n_tokens"))
        .orderBy("split", "lang")
    },
      // Same md5-prefix bucketing; hex sorts numerically so the CASE
      // thresholds are plain string compares on both engines.
      """WITH a AS (SELECT doc_id, lang,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
             len(string_split_regex(trim(text), '\s+')) AS n_tok
           FROM documents),
         b AS (SELECT lang, CASE WHEN bucket < 'cd' THEN 'train'
             WHEN bucket < 'e6' THEN 'val' ELSE 'test' END AS split,
             n_tok FROM a)
         SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
         FROM b GROUP BY split, lang ORDER BY split, lang"""),

    Gate("d39_soft_quality_sample", (s, d) => {
      // soft quality-weighted sampling (the DCLM/CCNet move: don't
      // hard-cut on a quality threshold, keep each doc with
      // probability = its quality score): the per-doc "coin" is a
      // Knuth multiplicative hash of the id — pure 64-bit integer
      // arithmetic, so any engine/run/partitioning flips the same
      // coin, and m/2^32 is a dyadic-exact double. Zero shuffle;
      // deterministic where rand() would be unreproducible. Routed
      // through `Sampling.softSampleByScore` — the same stateless
      // operator st12 applies to the document STREAM.
      val q = docs(s, d).select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality_score"))
      Sampling.softSampleByScore(q, "doc_id", col("quality_score"))
        .select(col("doc_id"), col("quality_score"),
          round(col("coin"), 6).as("coin"), col("kept"))
        .orderBy("doc_id")
    },
      // Same Knuth coin (integer-exact), same d06 score expression; the
      // kept compare runs on the UNrounded coin on both sides.
      // Knuth coin in BIGINT arithmetic (doc_id * 2654435761 stays
      // < 2^63); the keep compare runs on the UNROUNDED coin and the
      // 6dp-rounded quality score both engines share.
      softSampleOracleSql),

    Gate("d40_corpus_card", (s, d) => {
      // the "dataset card" reduction — the one row a data release
      // ships with (scale, composition, dedup and quality rates) —
      // computed in a single aggregation pass. mean_quality sums the
      // 6dp scores as exact integers (q * 1e6) so the partial-agg
      // order can never flip the rounded mean.
      val q6 = round(TextFunctions.qualityScore(col("text")) * 1000000.0)
        .cast("long")
      docs(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"),
          length(col("text")).cast("long").as("n_chars"),
          TextFunctions.fingerprintMd5(col("text")).as("fp"),
          (TextFunctions.judgeReason(col("text"), judgeT) === "ok").as("ok"),
          q6.as("q6"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_tok")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          (count(lit(1)) - countDistinct(col("fp"))).as("exact_dup_docs"),
          round(sum(col("q6")).cast("double") / lit(1000000.0) /
            count(lit(1)).cast("double"), 6).as("mean_quality"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("judge_ok_docs"))
    },
      // One aggregation over the d06 score (as exact q*1e6 integers),
      // the d03 judge CASE, and the d07 fingerprint.
      """WITH b AS (SELECT doc_id, lang, source,
             len(string_split_regex(trim(text), '\s+')) AS n_tok,
             length(text) AS n_chars,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
             (CASE WHEN length(text) < 100 THEN 'too_short'
                  WHEN length(text) > 450 THEN 'too_long'
                  WHEN CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text) < 0.82 THEN 'too_sparse'
                  WHEN CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text) < 0.8 THEN 'low_language_signal'
                  WHEN CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text) > 0.05 THEN 'too_much_punct'
                  ELSE 'ok' END) = 'ok' AS ok,
             CAST(round(round(greatest(0.0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
               + (CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 0.35
               + (CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text)) * 0.25
               + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 2.0, 1.0)) * 0.15), 6)
               * 1000000.0) AS BIGINT) AS q6
           FROM documents)
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS exact_dup_docs,
           round(CAST(sum(q6) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE), 6) AS mean_quality,
           CAST(count(*) FILTER (WHERE ok) AS BIGINT) AS judge_ok_docs
         FROM b"""),

    Gate("d41_source_card", (s, d) => {
      // d40 per source — the curator's triage view (which feed is
      // short, low-quality, or judge-failing). Same exact-integer
      // mean trick, one groupBy on the bounded source key.
      val q6 = round(TextFunctions.qualityScore(col("text")) * 1000000.0)
        .cast("long")
      docs(s, d)
        .select(col("source"), col("lang"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"),
          (TextFunctions.judgeReason(col("text"), judgeT) === "ok").as("ok"),
          q6.as("q6"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_tok")).as("total_tokens"),
          round(sum(col("q6")).cast("double") / lit(1000000.0) /
            count(lit(1)).cast("double"), 6).as("mean_quality"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("judge_ok_docs"))
        .orderBy("source")
    },
      // d40's expressions grouped by source.
      """WITH b AS (SELECT source, lang,
             len(string_split_regex(trim(text), '\s+')) AS n_tok,
             (CASE WHEN length(text) < 100 THEN 'too_short'
                  WHEN length(text) > 450 THEN 'too_long'
                  WHEN CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text) < 0.82 THEN 'too_sparse'
                  WHEN CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text) < 0.8 THEN 'low_language_signal'
                  WHEN CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text) > 0.05 THEN 'too_much_punct'
                  ELSE 'ok' END) = 'ok' AS ok,
             CAST(round(round(greatest(0.0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
               + (CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 0.35
               + (CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text)) * 0.25
               + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 2.0, 1.0)) * 0.15), 6)
               * 1000000.0) AS BIGINT) AS q6
           FROM documents)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           round(CAST(sum(q6) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE), 6) AS mean_quality,
           CAST(count(*) FILTER (WHERE ok) AS BIGINT) AS judge_ok_docs
         FROM b GROUP BY source ORDER BY source"""),

    Gate("d43_domain_cap", (s, d) => {
      // RefinedWeb-style per-domain curation: within each source, rank
      // docs by quality (doc_id tiebreak = total order), keep at most
      // 10 docs AND at most a 700-token running budget. row_number
      // plans as two-phase WindowGroupLimit (map-side top-k before the
      // shuffle); the running sum rides the SAME window sort. Domain
      // cardinality grows WITH the data while each group stays
      // cap-sized — the safe direction for a window (unlike the
      // cardinality-3 partitions q30 replaced).
      val w = Window.partitionBy("source").orderBy(col("qs").desc, col("doc_id"))
      val wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, d)
        .select(col("doc_id"), col("source"),
          TextFunctions.qualityScore(col("text")).as("qs"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
        .withColumn("rk", row_number().over(w))
        .withColumn("cum_tok", sum("n_tok").over(wsum))
        .where(col("rk") <= 10 && col("cum_tok") <= 700)
        .select(col("doc_id"), col("source"), col("qs").as("quality_score"),
          col("rk"), col("cum_tok"))
        .orderBy("source", "rk")
    },
      // Same quality-score formula as d39's oracle; the window order
      // (qs DESC, doc_id) is a total order, so rank and running sum are
      // engine-independent.
      """WITH q AS (SELECT doc_id, source,
             round(greatest(0.0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
               + (CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 0.35
               + (CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text)) * 0.25
               + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 2.0, 1.0)) * 0.15), 6) AS qs,
             CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
           FROM documents),
         r AS (SELECT doc_id, source, qs, n_tok,
             row_number() OVER (PARTITION BY source ORDER BY qs DESC, doc_id) AS rk,
             sum(n_tok) OVER (PARTITION BY source ORDER BY qs DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tok
           FROM q)
         SELECT doc_id, source, qs AS quality_score, CAST(rk AS INTEGER) AS rk,
           CAST(cum_tok AS BIGINT) AS cum_tok
         FROM r WHERE rk <= 10 AND cum_tok <= 700 ORDER BY source, rk"""),

    Gate("d44_merge_upsert", (s, d) => {
      // incremental snapshot maintenance (the Delta-MERGE shape on
      // plain parquet): the change batch re-crawls every 7th doc
      // (upsert, ' v2' suffix), takes down every 13th (delete), and
      // adds one new doc per 17th (insert under doc_id+100000). One
      // full-outer sort-merge join applies all three; the gate hashes
      // the md5 of every surviving row's final text, so wrong
      // precedence anywhere (a doc both re-crawled and taken down must
      // die — the batch excludes deleted keys from upserts) hash-fails.
      val base = docs(s, d).select("doc_id", "text")
      val dels = base.where(col("doc_id") % 13 === 0)
        .select(col("doc_id"), lit(null).cast("string").as("text"),
          lit("D").as("op"))
      val upds = base.where(col("doc_id") % 7 === 0 && col("doc_id") % 13 =!= 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
          lit("U").as("op"))
      val ins = base.where(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("new "), col("text")).as("text"), lit("U").as("op"))
      val changes = dels.unionByName(upds).unionByName(ins)
      MergeUpsert.applyChanges(base, changes, "doc_id", Seq("text"))
        .select(col("doc_id"), col("action"), md5(col("text")).as("fp"))
        .orderBy("doc_id")
    },
      // MERGE mirror: same change batch, one FULL JOIN, same precedence
      // (deletes excluded from upserts by construction). st10 is the
      // streaming compaction of the same change log — one oracle string
      // gates both paths (the x07/st05 convention).
      mergeUpsertOracleSql),

    Gate("d46_train_order", (s, d) => {
      // deterministic global training-order shuffle + shard layout (the
      // write plan for the sharded sinks): order key = md5(doc_id), the
      // content-stable coin d37 uses; shard = first hex char (16-way);
      // within-shard position = the scale-safe range-partition +
      // driver-offset rank (Ranking.withRowNumber grouped by shard),
      // NOT a per-shard single-task window. Any engine/run/partitioning
      // reproduces the exact (shard, pos) layout — reshuffling training
      // data must not depend on cluster shape.
      val h = md5(col("doc_id").cast("string").cast("binary"))
      val keyed = docs(s, d)
        .select(col("doc_id"), substring(h, 1, 1).as("shard"), h.as("hk"))
      Ranking.withRowNumber(keyed, Seq("shard"),
          Seq(col("hk"), col("doc_id")), "pos")
        .select(col("shard"), col("pos"), col("doc_id"))
        .orderBy("shard", "pos")
    },
      // Same md5 order key as d37's split coin; shard = first hex char,
      // position = rank within shard under (md5, doc_id) total order.
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hk
           FROM documents)
         SELECT substr(hk, 1, 1) AS shard,
           CAST(row_number() OVER (PARTITION BY substr(hk, 1, 1)
             ORDER BY hk, doc_id) AS BIGINT) AS pos,
           doc_id
         FROM h ORDER BY shard, pos"""),

    Gate("d49_snapshot_diff", (s, d) => {
      // CDC between corpus versions — the INVERSE of d44's MERGE: the
      // producer ships full snapshots, diff recovers the minimal I/U/D
      // change log (one full-outer sort-merge join, zero windows).
      // next = deterministic edit of base: every 5th doc re-crawled
      // (' v2'), every 11th taken down, one insert per 19th. The
      // round-trip law applyChanges(base, diff(base, next)) == next is
      // spec-enforced; the gate hashes every change row's final text.
      val base = docs(s, d).select("doc_id", "text")
      val next = base.where(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(base.where(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(lit("new "), col("text")).as("text")))
      MergeUpsert.diff(base, next, "doc_id", Seq("text"))
        .select(col("doc_id"), col("change"), md5(col("text")).as("fp"))
        .orderBy("doc_id")
    },
      // Snapshot-diff mirror: the same deterministic next snapshot, one
      // FULL JOIN, IS DISTINCT FROM as the null-safe payload compare.
      """WITH nxt AS (
           SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 11 != 0
           UNION ALL
           SELECT doc_id + 200000 AS doc_id, 'new ' || text AS text
           FROM documents WHERE doc_id % 19 = 0),
         d AS (
           SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'I'
                  WHEN n.doc_id IS NULL THEN 'D'
                  WHEN o.text IS DISTINCT FROM n.text THEN 'U' END AS change,
             n.text AS text
           FROM documents o FULL JOIN nxt n ON o.doc_id = n.doc_id)
         SELECT doc_id, change, md5(text) AS fp FROM d
         WHERE change IS NOT NULL ORDER BY doc_id"""),

    Gate("d51_compaction_plan", (s, d) => {
      // small-file compaction planner: per-source corpus bytes (UTF-8
      // text bytes as the size proxy) → file count at a 1 MiB target,
      // projected mean file size, and the maxRecordsPerFile a writer
      // would set. One bounded aggregate (source cardinality), zero
      // windows — the sheet a layout owner reads before compacting.
      val target = 1048576.0
      docs(s, d).groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(octet_length(col("text"))).cast("long").as("bytes"))
        .withColumn("n_files",
          greatest(lit(1L), ceil(col("bytes").cast("double") / target).cast("long")))
        .select(col("source"), col("n_docs"), col("bytes"), col("n_files"),
          round(col("bytes").cast("double") / col("n_files"), 2)
            .as("avg_file_bytes"),
          ceil(col("n_docs").cast("double") / col("n_files")).cast("long")
            .as("max_records_per_file"))
        .orderBy("source")
    },
      // strlen = UTF-8 bytes (Spark octet_length); every ratio divides
      // integer-exact doubles.
      """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(strlen(text)) AS BIGINT) AS bytes
           FROM documents GROUP BY source),
         f AS (SELECT *, greatest(CAST(1 AS BIGINT),
             CAST(ceil(CAST(bytes AS DOUBLE) / 1048576.0) AS BIGINT)) AS n_files
           FROM s)
         SELECT source, n_docs, bytes, n_files,
           round(CAST(bytes AS DOUBLE) / n_files, 2) AS avg_file_bytes,
           CAST(ceil(CAST(n_docs AS DOUBLE) / n_files) AS BIGINT)
             AS max_records_per_file
         FROM f ORDER BY source"""),

    Gate("d52_split_leak_check", (s, d) => {
      // split-integrity audit: after d37's content-stable cut, does
      // any val/test document share a content fingerprint with a
      // train document? Fingerprint = md5 of the 32-char opening
      // passage — the planted near-dup clusters share openings (full-
      // text md5 never collides in the fixture), so this catches the
      // near-dup leakage an eval owner actually fears. One
      // fingerprint equi-join between two bounded aggregates; output
      // = per leaked fingerprint and split, the (min train, min leak)
      // witness pair.
      val split = when(splitBucket < "cd", "train")
        .when(splitBucket < "e6", "val").otherwise("test")
      val fp = docs(s, d).select(col("doc_id"), split.as("split"),
        md5(substring(col("text"), 1, 32)).as("fp"))
      val train = fp.where(col("split") === "train")
        .groupBy("fp").agg(min("doc_id").as("train_doc_id"))
      val leak = fp.where(col("split") =!= "train")
        .groupBy(col("fp"), col("split"))
        .agg(min("doc_id").as("leak_doc_id"),
          count(lit(1)).cast("long").as("n_leaked"))
      leak.join(train, "fp")
        .select(col("fp"), col("split"), col("train_doc_id"),
          col("leak_doc_id"), col("n_leaked"))
        .orderBy("fp", "split")
    },
      // d37's split rule on both sides of a fingerprint equi-join; the
      // witness pair is (min train id, min leaked id) per (fp, split).
      """WITH f AS (SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split,
             md5(substr(text, 1, 32)) AS fp
           FROM documents),
         tr AS (SELECT fp, min(doc_id) AS train_doc_id FROM f
           WHERE split = 'train' GROUP BY fp),
         lk AS (SELECT fp, split, min(doc_id) AS leak_doc_id,
             CAST(count(*) AS BIGINT) AS n_leaked
           FROM f WHERE split != 'train' GROUP BY fp, split)
         SELECT lk.fp, lk.split, tr.train_doc_id, lk.leak_doc_id, lk.n_leaked
         FROM lk JOIN tr USING (fp) ORDER BY lk.fp, lk.split"""),

    Gate("d53_epoch_plan", (s, d) =>
      // multi-epoch training schedule: temperature-0.5 source weights
      // under a 100k-token budget, expressed as EPOCHS per source —
      // small high-quality sources repeat (>1 epoch, capped at 4),
      // big ones subsample (<1). d27 decides which rows survive ONE
      // pass; this is the design sheet for how many passes each
      // source gets. Bounded aggregate + driver fold in source order
      // (IEEE-exact sqrt — the d29 convention).
      Sampling.epochPlan(docs(s, d), "source",
          TextFunctions.tokenCount(col("text")), tokenBudget = 100000.0)
        .orderBy("source"),
      // Driver fold in source order with IEEE-exact sqrt (list_reduce ≡
      // the Scala foldLeft); floor runs on the UNROUNDED epoch product.
      """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS tokens
           FROM documents WHERE source IS NOT NULL GROUP BY source),
         z AS (SELECT list_reduce(list(sqrt(CAST(tokens AS DOUBLE)) ORDER BY source),
             (a, b) -> a + b) AS z FROM s)
         SELECT source, n_docs, tokens,
           round(sqrt(CAST(tokens AS DOUBLE)) / z, 6) AS weight,
           round(least(4.0, 100000.0 * (sqrt(CAST(tokens AS DOUBLE)) / z) / tokens), 6)
             AS epochs,
           CAST(floor(tokens * least(4.0,
             100000.0 * (sqrt(CAST(tokens AS DOUBLE)) / z) / tokens)) AS BIGINT)
             AS planned_tokens
         FROM s, z ORDER BY source"""),

    Gate("d55_url_domains", (s, d) => {
      // URL decomposition + eTLD+1 over synthetic URLs (the corpus
      // carries none — p02's synthesis convention): hosts cycle
      // through a plain domain, a two-level public suffix, a ccTLD
      // second level, a numbered CDN subdomain, and a suffixless
      // localhost; ports, query strings, and fragments appear on
      // deterministic doc_id strata so every extractor branch fires.
      // Pure regexp Column chain — zero shuffle, codegen'd — and the
      // oracle replays every regex verbatim in DuckDB.
      docs(s, d).select(col("doc_id"), urlSynth.as("url"))
        .select(col("doc_id"), col("url"),
          UrlFunctions.scheme(col("url")).as("scheme"),
          UrlFunctions.host(col("url")).as("host"),
          UrlFunctions.path(col("url")).as("path"),
          UrlFunctions.query(col("url")).as("qs"))
        .withColumn("reg_domain", UrlFunctions.registeredDomain(col("host")))
        .withColumn("path_depth", UrlFunctions.pathDepth(col("path")).cast("long"))
        .withColumn("n_params", UrlFunctions.paramCount(col("qs")).cast("long"))
        .orderBy("doc_id")
    },
      // Replays UrlFunctions regex-by-regex (scheme/host/path/query
      // extraction, two-level-suffix eTLD+1, path-segment count, the
      // length-difference param count) on the same synthesized URLs.
      s"""WITH $urlSynthSql,
         x AS (SELECT doc_id, url,
             regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
             regexp_replace(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1), ':[0-9]+$$', '') AS host,
             regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
             regexp_extract(url, '\\?([^#]*)', 1) AS qs
           FROM u)
         SELECT doc_id, url, scheme, host, path, qs,
           COALESCE(NULLIF(regexp_extract(host,
               '([^.]+\\.(?:co\\.uk|org\\.uk|ac\\.uk|com\\.au|co\\.jp|com\\.br|co\\.in))$$', 1), ''),
             regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)) AS reg_domain,
           CAST(len(list_filter(string_split(path, '/'), s -> s <> '')) AS BIGINT) AS path_depth,
           CAST(CASE WHEN qs = '' THEN 0
             ELSE length(qs) - length(replace(qs, '&', '')) + 1 END AS BIGINT) AS n_params
         FROM x ORDER BY doc_id"""),

    Gate("d56_domain_blocklist", (s, d) => {
      // Registered-domain blocklist filtering — the CommonCrawl-style
      // curation stage d55's parser exists for. The blocklist arrives
      // as a TABLE (the production shape: policy lists live in
      // storage, not code) and is applied as a BROADCAST left_anti
      // join on eTLD+1 — list-sized build side, zero shuffle of the
      // corpus at any scale. bbc.co.uk exercises the two-level-suffix
      // branch: blocking it must drop cdn/news subdomain hosts too.
      import s.implicits._
      val blocklist = Seq("bbc.co.uk", "example.com.au").toDF("blocked_domain")
      docs(s, d).select(col("doc_id"), urlSynth.as("url"))
        .withColumn("reg_domain",
          UrlFunctions.registeredDomain(UrlFunctions.host(col("url"))))
        .join(broadcast(blocklist),
          col("reg_domain") === col("blocked_domain"), "left_anti")
        .select("doc_id", "reg_domain")
        .orderBy("doc_id")
    },
      // Shared URL synth + host/eTLD+1 CTEs, then the NOT-IN filter the
      // broadcast anti-join implements.
      s"""WITH $urlSynthSql,
         $hostRegDomainSql
         SELECT doc_id, reg_domain FROM h
         WHERE reg_domain NOT IN ('bbc.co.uk', 'example.com.au')
         ORDER BY doc_id"""),

    Gate("d58_k_anonymity", (s, d) => {
      // k-anonymity suppression for released aggregates: per
      // (lang, source) counts, cells below k=5 are SUPPRESSED (count
      // nulled, flag set) rather than published — the standard
      // release-safety rule. One bounded-key aggregate; suppression is
      // a zero-shuffle projection on the cell frame.
      docs(s, d).groupBy("lang", "source")
        .agg(count(lit(1)).as("n_raw"))
        .select(col("lang"), col("source"),
          when(col("n_raw") >= 5, col("n_raw")).as("n_published"),
          (col("n_raw") < 5).as("suppressed"))
        .orderBy("lang", "source")
    },
      """SELECT lang, source,
           CASE WHEN count(*) >= 5 THEN count(*) ELSE NULL END AS n_published,
           count(*) < 5 AS suppressed
         FROM documents GROUP BY lang, source
         ORDER BY lang, source"""),

    Gate("d60_token_budget", (s, d) => {
      // token-budget corpus cut: greedily keep the highest-quality
      // docs (quality-milli desc, doc_id tiebreak) until the global
      // running token total exceeds the budget — the final selection
      // step a token-budgeted training run makes. budgetSelect
      // (Sampling.scala) keeps the global prefix sum DISTRIBUTED through
      // Ranking.withRunningSum: one range shuffle + per-partition
      // offsets, never a single-task whole-corpus window. Integer
      // cost/priority so the cut replays exactly in SQL.
      val scored = docs(s, d).select(col("doc_id"),
        floor(TextFunctions.qualityScore(col("text")) * 1000).cast("long")
          .as("quality_milli"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      Sampling.budgetSelect(scored, "quality_milli", "n_tokens", "doc_id",
          budget = 12000L)
        .select("doc_id", "quality_milli", "n_tokens")
        .orderBy("doc_id")
    },
      // The global greedy cut replayed as the single-ORDER-BY running
      // sum budgetSelect distributes.
      """WITH t AS (SELECT doc_id,
             CAST(floor(round(greatest(0.0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
               + (CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 0.35
               + (CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text)) * 0.25
               + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 2.0, 1.0)) * 0.15), 6) * 1000) AS BIGINT) AS quality_milli,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
           FROM documents),
         r AS (SELECT doc_id, quality_milli, n_tokens,
             sum(n_tokens) OVER (ORDER BY quality_milli DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
           FROM t)
         SELECT doc_id, quality_milli, n_tokens FROM r
         WHERE run <= 12000 ORDER BY doc_id""")
  )
}

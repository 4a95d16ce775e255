package graft
package gates

import graft.core.Tables
import graft.functions.{TextFunctions, UrlFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What more than one gate family reads: the table accessors, the
  * staging dirs, the synthetic-column builders with their SQL twins, and
  * the oracle strings a batch gate shares with its streaming twin. */
private[gates] object Fixtures {

  def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  def ev(s: SparkSession, d: String) = normalizeEventTs(Tables.events(s, d))

  /** The engine contract for events.ts is int64 NANOseconds (every
    * downstream site does `ts div 1000` → µs). Testdata vintages differ:
    * some write int64 nanos (surfaced as LONG via the nanosAsLong flag),
    * some write µs/ns TIMESTAMP columns. Normalize at the read boundary —
    * pure column arithmetic, batch and stream alike. The NTZ branch
    * measures from the epoch with timestampdiff, which is timezone-free
    * (a session-TZ cast would shift wall-clock values off DuckDB's
    * epoch_us, which also treats naive timestamps as epoch-anchored). */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case org.apache.spark.sql.types.TimestampNTZType => df.withColumn("ts",
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"))
      case _ => df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
    }

  def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** Run independent driver-side actions concurrently (guide §2.6:
    * actions are only sequential because driver code calls them
    * sequentially; Spark's FIFO scheduler back-fills one job's task
    * tail with the next job's tasks). Used by the multi-setting gates
    * (parameter sweeps, paired independent counts) whose results are
    * deterministic per setting and therefore order-independent. A
    * bounded pool: 2-4 jobs in flight fills the tail without starving
    * any one job of executor slots. */
  def inParallel[T](thunks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(4, thunks.size)))
    implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(
        thunks.map(t => scala.concurrent.Future(t())).toList),
      scala.concurrent.duration.Duration.Inf).toSeq
    finally pool.shutdown()
  }

  /** md5(doc id) hex-prefix bucket — the d37/x08 SHARED split rule
    * (one definition: changing the boundary in one gate cannot
    * desynchronize the other). Hex sorts numerically, so the 80/10/10
    * cut is a two-char string compare against 'cd'/'e6'. */
  def splitBucket: Column =
    substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)

  // Judge thresholds tuned so every reason except punct/dup actually
  // fires on the synthetic docs table (48..553 chars, no newlines).
  val judgeT = TextFunctions.CleanThresholds(
    minChars = 100, maxChars = 450, minNonWs = 0.82, minAlphaCjk = 0.8,
    maxPunct = 0.05, maxDupLine = 0.3)

  /** Shared multi-line synth for d19/d26 (the corpus has no newlines):
    * even doc_ids repeat 8-char slices of their own text (dup lines
    * fire), odd doc_ids get six distinct slices. One definition, two
    * gates — the Spark Column and the SQL CTE prefix below must stay
    * in lockstep. */
  def multiLineSynth: Column = {
    def sl(i: Int) = substring(col("text"), 1 + (i - 1) * 8, 8)
    when(col("doc_id") % 2 === 0,
        concat_ws("\n", sl(1), sl(2), sl(1), sl(2), sl(1), sl(3)))
      .otherwise(concat_ws("\n", sl(1), sl(2), sl(3), sl(4), sl(5), sl(6)))
  }

  /** SQL mirror of [[multiLineSynth]] as a CTE prefix: defines `s` and
    * `synth(doc_id, t)`. */
  val multiLineSynthSql: String =
    """s AS (SELECT doc_id,
             substr(text, 1, 8) AS a, substr(text, 9, 8) AS b,
             substr(text, 17, 8) AS c, substr(text, 25, 8) AS d,
             substr(text, 33, 8) AS e, substr(text, 41, 8) AS f
           FROM documents),
         synth AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
             THEN a || chr(10) || b || chr(10) || a || chr(10) || b || chr(10) || a || chr(10) || c
             ELSE a || chr(10) || b || chr(10) || c || chr(10) || d || chr(10) || e || chr(10) || f
           END AS t FROM s)"""

  /** Shared m06/st22 oracle prefix: rebuild every image's 63-bit
    * aHash from the synthesis formulas — defines `ids`, `g`, and
    * `h(id, sig)`. */
  val phashCtesSql: String =
    """ids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 3 = 0),
       g AS (SELECT id, list_transform(range(0, 64), i ->
           ((i*4 + id) % 256) + ((i*2 + id*3) % 256) + ((i + id*7) % 256)) AS gray
         FROM ids),
       h AS (SELECT id, CAST(list_sum(list_transform(range(0, 63), i ->
           CASE WHEN gray[i+1] * 64 > list_sum(gray)
                THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sig
         FROM g)"""

  /** Shared w07/st23 oracle: quarantine routing is a per-line
    * decision, so batch PERMISSIVE parse and the streaming DLQ route
    * gate on the same truth. */
  val corruptJsonlOracle: String =
    """SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN NULL ELSE substr(text, 1, 20) END AS v,
         doc_id % 7 = 0 AS quarantined
       FROM documents ORDER BY doc_id"""

  /** Shared ev15/st21 oracle: the integer-algebraized daily z-test —
    * batch and Complete-mode-streaming paths gate on identical
    * semantics, so one string serves both keys. */
  val dailyAnomalyOracle: String =
    """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           count(*) AS n_events
         FROM events GROUP BY event_type, day),
       st AS (SELECT event_type, count(*) AS n_days,
           CAST(sum(n_events) AS BIGINT) AS s,
           CAST(sum(n_events * n_events) AS BIGINT) AS ss
         FROM daily GROUP BY event_type)
       SELECT d.event_type, d.day, d.n_events,
         (st.n_days * d.n_events - st.s) * (st.n_days * d.n_events - st.s)
           > 4 * (st.n_days * st.ss - st.s * st.s) AS is_anomaly
       FROM daily d JOIN st ON d.event_type = st.event_type
       ORDER BY d.event_type, d.day"""

  /** Shared x07/st05 oracle: kept new-batch docs (>= 400) = those with
    * NO indexed doc (< 400) at exact char-5gram Jaccard >= 0.8, by
    * brute force — the batch and streaming incremental paths gate on
    * the SAME semantics, so one string serves both keys. */
  val incrementalDedupOracle: String =
    """WITH n AS (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s
         FROM documents),
       g AS (SELECT doc_id, list_distinct(CASE WHEN length(s) < 5 THEN [s]
             ELSE list_transform(range(1, length(s)-3), i -> s[i:i+4]) END) AS gs FROM n)
       SELECT a.doc_id FROM g a WHERE a.doc_id >= 400 AND NOT EXISTS (
         SELECT 1 FROM g b WHERE b.doc_id < 400
           AND len(list_intersect(a.gs, b.gs)) * 1.0
             / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.8)
       ORDER BY a.doc_id"""

  /** Shared d27/st06 oracle — mirrors Sampling.temperatureMixture
    * bit-for-bit: sqrt is IEEE correctly-rounded (identical across
    * engines), the normalizer sums sqrt(totals) in source-sorted order
    * exactly like the operator's driver-side fold, and the md5-prefix
    * cutoff compare is pure string ordering. One string, two keys:
    * the streaming path applies the same batch-designed cutoffs. */
  val temperatureMixtureOracle: String =
    """WITH tok AS (SELECT doc_id, source,
           CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
         FROM documents),
       t AS (SELECT source, CAST(sum(n_tok) AS DOUBLE) AS tt FROM tok GROUP BY source),
       z AS (SELECT list_sum(list(sqrt(tt) ORDER BY source)) AS z FROM t),
       c AS (SELECT source, CASE WHEN tt = 0.0
             OR 10000.0 * sqrt(tt) / z / tt >= 1.0 THEN 'zzzzzzzz'
           ELSE printf('%08x', least(CAST(floor(10000.0 * sqrt(tt) / z / tt * 4294967296.0) AS BIGINT), 4294967295))
           END AS cut
         FROM t, z)
       SELECT doc_id, source FROM tok JOIN c USING (source)
       WHERE cut = 'zzzzzzzz'
         OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < cut
       ORDER BY doc_id"""

  /** Shared d55/d56 URL synthesis (the corpus ships no URLs). One
    * definition, two gates — this Column and the SQL CTE below must
    * stay in lockstep (the multiLineSynth convention). */
  def urlSynth: Column = {
    val dm = col("doc_id") % 5
    val host0 = when(dm === 0, lit("example.com"))
      .when(dm === 1, lit("news.bbc.co.uk"))
      .when(dm === 2, lit("shop.example.com.au"))
      .when(dm === 3, concat(lit("cdn"), (col("doc_id") % 7).cast("string"),
        lit(".assets.example.org")))
      .otherwise(lit("localhost"))
    concat(lit("https://"), host0,
      when(col("doc_id") % 3 === 0, lit(":8080")).otherwise(lit("")),
      lit("/"), col("source"), lit("/p"), (col("doc_id") % 11).cast("string"),
      when(col("doc_id") % 2 === 0,
        concat(lit("?q="), col("source"), lit("&n="),
          (col("doc_id") % 4).cast("string"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit("#frag")).otherwise(lit("")))
  }

  /** SQL mirror of [[urlSynth]] as a CTE: defines `u(doc_id, url)`. */
  val urlSynthSql: String =
    """u AS (SELECT doc_id,
             'https://' ||
             CASE doc_id % 5 WHEN 0 THEN 'example.com' WHEN 1 THEN 'news.bbc.co.uk'
               WHEN 2 THEN 'shop.example.com.au'
               WHEN 3 THEN 'cdn' || CAST(doc_id % 7 AS VARCHAR) || '.assets.example.org'
               ELSE 'localhost' END ||
             CASE WHEN doc_id % 3 = 0 THEN ':8080' ELSE '' END ||
             '/' || source || '/p' || CAST(doc_id % 11 AS VARCHAR) ||
             CASE WHEN doc_id % 2 = 0 THEN '?q=' || source || '&n=' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END ||
             CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END AS url
           FROM documents)"""

  /** SQL host + registered-domain extraction over the `u` CTE —
    * replays UrlFunctions.host/registeredDomain regex-for-regex;
    * defines `h(doc_id, url, host, reg_domain)`. */
  val hostRegDomainSql: String =
    """h AS (SELECT doc_id, url, host,
             COALESCE(NULLIF(regexp_extract(host,
                 '([^.]+\.(?:co\.uk|org\.uk|ac\.uk|com\.au|co\.jp|com\.br|co\.in))$', 1), ''),
               regexp_extract(host, '([^.]+\.[^.]+)$', 1)) AS reg_domain
           FROM (SELECT doc_id, url,
               regexp_replace(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1), ':[0-9]+$', '') AS host
             FROM u))"""

  /** Shared e11/st20 truth: all (query, neighbor) pairs with cosine
    * >= 0.3 over the double-cast embeddings (e10's construction). */
  val rangeSearchOracleSql: String =
    """WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, emb AS qe FROM v WHERE vec_id < 10),
         s AS (SELECT q.query_id, v.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(q.qe, v.emb), z -> z[1]*z[2]))
               / (sqrt(list_sum(list_transform(q.qe, x -> x*x)))
                  * sqrt(list_sum(list_transform(v.emb, x -> x*x)))) AS sim
           FROM q CROSS JOIN v WHERE v.vec_id != q.query_id)
         SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim
         FROM s WHERE sim >= 0.3 ORDER BY query_id, neighbor_id"""

  /** Shared x03/d59 oracle prefix: the exact word-3gram Jaccard graph
    * and its transitive closure; defines `comp(doc_id, mn)` = min
    * reachable OTHER node per connected doc. */
  val ngramGraphCtesSql: String =
    """n AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
               ELSE list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS gs
           FROM n),
         e AS (SELECT a.doc_id AS u, b.doc_id AS v FROM g a JOIN g b ON a.doc_id < b.doc_id
               AND len(a.gs) >= 0.8 * len(b.gs) AND len(b.gs) >= 0.8 * len(a.gs)
               WHERE len(list_intersect(a.gs, b.gs)) * 1.0
                 / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.8),
         ed AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
         reach AS (SELECT u, v FROM ed
                   UNION SELECT r.u, ed.v FROM reach r JOIN ed ON r.v = ed.u WHERE ed.v != r.u),
         comp AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u)"""

  /** ev07's gaps-and-islands sessionization mirror — shared verbatim
    * by st13, the streaming session_window twin. */
  def sessionWindowsOracleSql: String =
    """WITH g AS (SELECT user_id, ts,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sx AS (SELECT user_id, ts, sum(brk) OVER (
             PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g)
         SELECT user_id, min(ts) AS session_start, count(*) AS n
         FROM sx GROUP BY user_id, sid ORDER BY user_id, session_start"""

  /** d39's soft-sampler mirror — shared verbatim by st12, the
    * streaming application of the same stateless projection. */
  def softSampleOracleSql: String =
    """WITH q AS (SELECT doc_id,
             round(greatest(0.0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
               + (CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 0.35
               + (CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text)) * 0.25
               + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 2.0, 1.0)) * 0.15), 6) AS quality_score,
             CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE)
               / 4294967296.0 AS coin
           FROM documents)
         SELECT doc_id, quality_score, round(coin, 6) AS coin,
           coin < quality_score AS kept
         FROM q ORDER BY doc_id"""

  /** d82/st32's shared truth: tag-phrase word-sequence matching as
    * padded LIKE over the dedup normalization. */
  val keywordTagOracleSql: String =
    """WITH n AS (SELECT doc_id,
             ' ' || lower(regexp_replace(trim(text), '\s+', ' ', 'g')) || ' ' AS s
           FROM documents),
         p(tag, ph) AS (VALUES ('engine', 'spark'), ('ml', 'vector'),
           ('ui', 'window table'), ('etl', 'batch window'),
           ('sql3', 'agg row scan')),
         m AS (SELECT doc_id, tag FROM n JOIN p ON n.s LIKE '% ' || p.ph || ' %'),
         a AS (SELECT doc_id, array_to_string(list_sort(list_distinct(list(tag))), ',')
             AS tags FROM m GROUP BY doc_id)
         SELECT n.doc_id, coalesce(a.tags, '') AS tags
         FROM n LEFT JOIN a USING (doc_id) ORDER BY n.doc_id"""

  /** d79/q50's shared truth: the brute-force corpus x eval whole-doc
    * char-5gram Jaccard report at threshold 0.8 on the fixed
    * % 101 = 7 / id < 500
    * split. */
  val fuzzyDeconOracleSql: String =
    """WITH n AS (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN length(s) < 5 THEN [s]
               ELSE list_transform(range(1, length(s)-3), i -> s[i:i+4]) END) AS gs FROM n),
         e AS (SELECT doc_id AS ev_id, gs AS egs FROM g
               WHERE doc_id % 101 = 7 AND doc_id < 500),
         v AS (SELECT c.doc_id, len(list_intersect(c.gs, e.egs)) * 1.0
                 / len(list_distinct(list_concat(c.gs, e.egs))) AS j
               FROM g c JOIN e ON len(c.gs) >= 0.8 * len(e.egs)
                 AND len(e.egs) >= 0.8 * len(c.gs)),
         m AS (SELECT doc_id, count(*) AS n_matches, round(max(j), 6) AS max_jaccard
               FROM v WHERE j >= 0.8 GROUP BY doc_id)
         SELECT g.doc_id, coalesce(m.n_matches, 0) AS n_matches,
           coalesce(m.max_jaccard, 0.0) AS max_jaccard,
           coalesce(m.n_matches, 0) > 0 AS contaminated
         FROM g LEFT JOIN m USING (doc_id) ORDER BY g.doc_id"""

  /** d80/st31's shared truth: span-level decontamination against the
    * extracted-passage eval suite (tokens 5..16 of every 53rd doc),
    * stated on raw window STRINGS — x15's construction with membership
    * marking and no first-occurrence survivor. */
  val spanDeconOracleSql: String =
    """WITH b AS (SELECT doc_id,
             string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS tk
           FROM documents),
         base AS (SELECT doc_id, tk, len(tk) AS n FROM b),
         wins AS (SELECT doc_id, unnest(range(0, greatest(n - 7, 0))) AS pos, tk
           FROM base),
         winw AS (SELECT doc_id, pos,
             array_to_string(tk[pos+1:pos+8], ' ') AS w FROM wins),
         evd AS (SELECT tk[5:16] AS etk FROM b
           WHERE doc_id % 53 = 0 AND doc_id < 500),
         evw AS (SELECT unnest(range(0, greatest(len(etk) - 7, 0))) AS pos, etk
           FROM evd),
         ev AS (SELECT DISTINCT array_to_string(etk[pos+1:pos+8], ' ') AS w
           FROM evw),
         dup AS (SELECT doc_id, pos, pos + 7 AS e FROM winw JOIN ev USING (w)),
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
         ORDER BY base.doc_id"""

  /** x15/q49 shared oracle: Dedup.spanTrim's full construction in
    * DuckDB — stride-1 8-token md5 windows, min-(doc,pos) survivor,
    * gaps-and-islands merge, anti-join excision, ordered reassembly.
    * The Column-API operator (x15) and the graft_span_fingerprints SQL
    * frontend (q49) must both land on this exact output. */
  val spanTrimOracleSql: String =
    """WITH b AS (SELECT doc_id,
             string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS tk
           FROM documents),
         base AS (SELECT doc_id, tk, len(tk) AS n FROM b),
         wins AS (SELECT doc_id, unnest(range(0, greatest(n - 7, 0))) AS pos, tk
           FROM base),
         winf AS (SELECT doc_id, pos,
             md5(array_to_string(tk[pos+1:pos+8], ' ')) AS fp FROM wins),
         marked AS (SELECT doc_id, pos,
             count(*) OVER (PARTITION BY fp) AS c,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
           FROM winf),
         dup AS (SELECT doc_id, pos, pos + 7 AS e FROM marked
           WHERE c >= 2 AND rn > 1),
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
         ORDER BY base.doc_id"""

  /** d44/st10 shared oracle: batch FULL-JOIN MERGE and streaming
    * keyed-state compaction must produce the SAME snapshot (doc_id,
    * action, text-md5), so one string serves both keys. */
  def mergeUpsertOracleSql: String =
    """WITH base AS (SELECT doc_id, text FROM documents),
       ch AS (
         SELECT doc_id, CAST(NULL AS VARCHAR) AS ntext, 'D' AS op
           FROM base WHERE doc_id % 13 = 0
         UNION ALL
         SELECT doc_id, text || ' v2', 'U'
           FROM base WHERE doc_id % 7 = 0 AND doc_id % 13 != 0
         UNION ALL
         SELECT doc_id + 100000, 'new ' || text, 'U'
           FROM base WHERE doc_id % 17 = 0),
       m AS (SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
           b.text AS btext, c.ntext, c.op, b.doc_id IS NOT NULL AS in_base
         FROM base b FULL JOIN ch c ON b.doc_id = c.doc_id)
       SELECT doc_id,
         CASE WHEN op = 'U' AND in_base THEN 'update'
              WHEN op = 'U' THEN 'insert' ELSE 'keep' END AS action,
         md5(coalesce(ntext, btext)) AS fp
       FROM m WHERE op IS NULL OR op != 'D' ORDER BY doc_id"""

  /** k12/st29 shared oracle: the batch struct argmax/argmin and the
    * streaming complete-mode aggregation must land on the SAME pairs
    * (max/min structs are arrival-order-insensitive), so one string
    * serves both keys. The windows replay the (score, id)
    * lexicographic tie policy: chosen rn=1 by (q DESC, id DESC),
    * rejected rn=1 by (q ASC, id ASC). */
  val preferencePairsOracleSql: String =
    """WITH s AS (SELECT doc_id % 97 AS prompt_id, doc_id,
           round(greatest(0.0,
             least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
             + (CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 0.35
             + (CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text)) * 0.25
             + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 2.0, 1.0)) * 0.15), 6) AS q
           FROM documents),
         ch AS (SELECT prompt_id, doc_id AS chosen_id, q AS cq FROM
           (SELECT *, row_number() OVER (PARTITION BY prompt_id
              ORDER BY q DESC, doc_id DESC) AS rn FROM s) WHERE rn = 1),
         rj AS (SELECT prompt_id, doc_id AS rejected_id, q AS rq, n FROM
           (SELECT *, row_number() OVER (PARTITION BY prompt_id
              ORDER BY q ASC, doc_id ASC) AS rn,
              count(*) OVER (PARTITION BY prompt_id) AS n FROM s) WHERE rn = 1)
         SELECT prompt_id, chosen_id, rejected_id,
           round(cq, 6) AS chosen_score, round(rq, 6) AS rejected_score,
           round(cq - rq, 6) AS margin
         FROM ch JOIN rj USING (prompt_id)
         WHERE n >= 2 AND cq - rq >= 0.05 ORDER BY prompt_id"""

  /** ev09/st09 shared oracle (the x07/st05 convention): batch
    * window-chain and streaming keyed-state funnel must land on the
    * SAME counts, so one string serves both keys. */
  val funnelOracleSql: String = """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events
           WHERE user_id IS NOT NULL),
         v AS (SELECT user_id, min(t) AS fv FROM e
           WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.t) AS fc FROM e JOIN v USING (user_id)
           WHERE e.event_type = 'click' AND e.t > v.fv
             AND e.t - v.fv <= 21600000000 GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.t) AS fp FROM e JOIN c USING (user_id)
           WHERE e.event_type = 'purchase' AND e.t > c.fc
             AND e.t - c.fc <= 21600000000 GROUP BY e.user_id)
         SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM e) AS n_users,
           (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_view_click,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_full_funnel"""

  /** d36/st08 shared oracle: the DSIR scoring CTE chain (both the
    * batch gate and the streaming deployment must produce these exact
    * per-doc weights; d36 adds the selection tail on top). */
  val dsirScoredCtes: String = """t AS (SELECT doc_id, lang = 'fr' AS is_t,
             string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         uni AS (SELECT w, count(*) AS cr, count(*) FILTER (WHERE is_t) AS ct
           FROM (SELECT is_t, unnest(toks) AS w FROM t) GROUP BY w),
         vocab AS (SELECT w, cr, ct FROM uni ORDER BY cr DESC, w LIMIT 64),
         stats AS (SELECT
           (SELECT sum(cr) FROM uni) AS nr, (SELECT sum(ct) FROM uni) AS nt,
           (SELECT sum(cr) FROM vocab) AS vr, (SELECT sum(ct) FROM vocab) AS vt,
           (SELECT count(*) FROM vocab) AS v),
         vm AS (SELECT
             map_from_entries(list({'k': w, 'v': cr} ORDER BY w)) AS mr,
             map_from_entries(list({'k': w, 'v': ct} ORDER BY w)) AS mt
           FROM vocab),
         tm AS (SELECT doc_id, is_t,
             list_transform(toks, x -> CASE WHEN len(map_extract(mr, x)) > 0
               THEN x ELSE chr(1) END) AS tu
           FROM t, vm),
         big AS (SELECT bg, count(*) AS cr, count(*) FILTER (WHERE is_t) AS ct FROM
             (SELECT is_t, unnest(list_transform(range(1, len(tu)),
                i -> tu[i] || ' ' || tu[i+1])) AS bg FROM tm)
           GROUP BY bg),
         bstats AS (SELECT coalesce(sum(cr), 0) AS nrb,
             coalesce(sum(ct), 0) AS ntb FROM big),
         bm AS (SELECT
             map_from_entries(list({'k': bg, 'v': cr} ORDER BY bg)) AS bmr,
             map_from_entries(list({'k': bg, 'v': ct} ORDER BY bg)) AS bmt
           FROM big),
         scored AS (SELECT doc_id,
             CAST(len(tu) + greatest(len(tu) - 1, 0) AS BIGINT) AS n_feats,
             round(
               list_reduce(list_transform(tu, x ->
                 ln(((CASE WHEN x = chr(1) THEN nt - vt
                      ELSE map_extract(mt, x)[1] END) + 1.0) / (nt + v + 1.0))
               - ln(((CASE WHEN x = chr(1) THEN nr - vr
                      ELSE map_extract(mr, x)[1] END) + 1.0) / (nr + v + 1.0))),
                 (a, b) -> a + b)
               + CASE WHEN len(tu) >= 2 THEN
                   list_reduce(list_transform(range(1, len(tu)), i ->
                     ln((coalesce(map_extract(bmt, tu[i] || ' ' || tu[i+1])[1], 0) + 1.0)
                        / (ntb + (v + 1) * (v + 1) + 0.0))
                   - ln((coalesce(map_extract(bmr, tu[i] || ' ' || tu[i+1])[1], 0) + 1.0)
                        / (nrb + (v + 1) * (v + 1) + 0.0))),
                     (a, b) -> a + b)
                 ELSE 0.0 END, 6) AS dsir_logw
           FROM tm, vm, bm, stats, bstats)"""

  /** d79/q50 scale twin: the fuzzy-decon match counts read off
    * `tw_char5_pairs`, with the eval side's self-pairs added back. */
  val fuzzyDeconScale =
      """WITH pe AS (
           SELECT p.u AS doc_id, p.j FROM tw_char5_pairs p
             WHERE p.v % 101 = 7 AND p.v < 500
               AND p.su >= 0.8 * p.sv AND p.sv >= 0.8 * p.su
           UNION ALL
           SELECT p.v AS doc_id, p.j FROM tw_char5_pairs p
             WHERE p.u % 101 = 7 AND p.u < 500
               AND p.su >= 0.8 * p.sv AND p.sv >= 0.8 * p.su
           UNION ALL
           SELECT doc_id, 1.0 AS j FROM documents
             WHERE doc_id % 101 = 7 AND doc_id < 500),
         m AS (SELECT doc_id, count(*) AS n_matches, round(max(j), 6) AS max_jaccard
               FROM pe GROUP BY doc_id)
         SELECT d.doc_id, coalesce(m.n_matches, 0) AS n_matches,
           coalesce(m.max_jaccard, 0.0) AS max_jaccard,
           coalesce(m.n_matches, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN m USING (doc_id) ORDER BY d.doc_id"""

  /** x07/st05 scale twin: kept new-batch docs off `tw_char5_pairs`. */
  val incrementalDedupScale =
      """WITH hit AS (SELECT u AS doc_id FROM tw_char5_pairs WHERE u >= 400 AND v < 400
           UNION SELECT v FROM tw_char5_pairs WHERE v >= 400 AND u < 400)
         SELECT d.doc_id FROM documents d
         WHERE d.doc_id >= 400 AND d.doc_id NOT IN (SELECT doc_id FROM hit)
         ORDER BY doc_id"""
}

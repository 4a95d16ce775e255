package graft

import graft.core.Tables
import graft.functions.{HashFunctions, PiiFunctions, TextFunctions, UrlFunctions}
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — the declared operator surface (SURVEY.md §2) with a
  * DuckDB oracle per SQL-expressible query.
  *
  * Conventions that keep the oracle hash-compare honest:
  *  - every query ends in a deterministic total ORDER BY;
  *  - aggregates over non-integer doubles are `round`ed (2dp money, 4dp
  *    averages, 6dp ratios) so partial-aggregation order can't leak into
  *    the hash;
  *  - column names are identical on both sides.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)
  private def supp(s: SparkSession, d: String) = Tables.supplier(s, d)
  private def part(s: SparkSession, d: String) = Tables.part(s, d)
  private def nat(s: SparkSession, d: String) = Tables.nation(s, d)
  private def reg(s: SparkSession, d: String) = Tables.region(s, d)
  private def ev(s: SparkSession, d: String) = normalizeEventTs(Tables.events(s, d))

  /** The engine contract for events.ts is int64 NANOseconds (every
    * downstream site does `ts div 1000` → µs). Testdata vintages differ:
    * some write int64 nanos (surfaced as LONG via the nanosAsLong flag),
    * some write µs/ns TIMESTAMP columns. Normalize at the read boundary —
    * pure column arithmetic, batch and stream alike. The NTZ branch
    * measures from the epoch with timestampdiff, which is timezone-free
    * (a session-TZ cast would shift wall-clock values off DuckDB's
    * epoch_us, which also treats naive timestamps as epoch-anchored). */
  private def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case org.apache.spark.sql.types.TimestampNTZType => df.withColumn("ts",
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"))
      case _ => df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
    }
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

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

  /** md5(doc id) hex-prefix bucket — the d37/x08 SHARED split rule
    * (one definition: changing the boundary in one gate cannot
    * desynchronize the other). Hex sorts numerically, so the 80/10/10
    * cut is a two-char string compare against 'cd'/'e6'. */
  /** Run independent driver-side actions concurrently (guide §2.6:
    * actions are only sequential because driver code calls them
    * sequentially; Spark's FIFO scheduler back-fills one job's task
    * tail with the next job's tasks). Used by the multi-setting gates
    * (parameter sweeps, paired independent counts) whose results are
    * deterministic per setting and therefore order-independent. A
    * bounded pool: 2-4 jobs in flight fills the tail without starving
    * any one job of executor slots. */
  private def inParallel[T](thunks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(4, thunks.size)))
    implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(
        thunks.map(t => scala.concurrent.Future(t())).toList),
      scala.concurrent.duration.Duration.Inf).toSeq
    finally pool.shutdown()
  }

  private def splitBucket: Column =
    substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)

  // Judge thresholds tuned so every reason except punct/dup actually
  // fires on the synthetic docs table (48..553 chars, no newlines).
  private val judgeT = TextFunctions.CleanThresholds(
    minChars = 100, maxChars = 450, minNonWs = 0.82, minAlphaCjk = 0.8,
    maxPunct = 0.05, maxDupLine = 0.3)

  /** Shared multi-line synth for d19/d26 (the corpus has no newlines):
    * even doc_ids repeat 8-char slices of their own text (dup lines
    * fire), odd doc_ids get six distinct slices. One definition, two
    * gates — the Spark Column and the SQL CTE prefix below must stay
    * in lockstep. */
  private def multiLineSynth: Column = {
    def sl(i: Int) = substring(col("text"), 1 + (i - 1) * 8, 8)
    when(col("doc_id") % 2 === 0,
        concat_ws("\n", sl(1), sl(2), sl(1), sl(2), sl(1), sl(3)))
      .otherwise(concat_ws("\n", sl(1), sl(2), sl(3), sl(4), sl(5), sl(6)))
  }

  /** SQL mirror of [[multiLineSynth]] as a CTE prefix: defines `s` and
    * `synth(doc_id, t)`. */
  private val multiLineSynthSql: String =
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
  private val phashCtesSql: String =
    """ids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 3 = 0),
       g AS (SELECT id, list_transform(range(0, 64), i ->
           ((i*4 + id) % 256) + ((i*2 + id*3) % 256) + ((i + id*7) % 256)) AS gray
         FROM ids),
       h AS (SELECT id, CAST(list_sum(list_transform(range(0, 63), i ->
           CASE WHEN gray[i+1] * 64 > list_sum(gray)
                THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sig
         FROM g)"""

  /** e12's oracle, generated: the five greedy MMR argmax rounds
    * unrolled as CTEs. Every cosine is the x04-style index-order
    * double fold; each round's winner is an argmax with the vec_id
    * tiebreak, scored 0.7·rel − 0.3·max-sim-to-selected with the SAME
    * literals the Spark greedy uses. */
  private val mmrOracleSql: String = {
    def cosd(a: String, b: String) =
      s"(list_sum(list_transform(list_zip($a, $b), z -> z[1]*z[2]))" +
        s" / (sqrt(list_sum(list_transform($a, x -> x*x)))" +
        s" * sqrt(list_sum(list_transform($b, x -> x*x)))))"
    val rounds = (2 to 5).map { t =>
      val sel = (1 until t).map(i => s"SELECT query_id, vec_id FROM p$i")
        .mkString(" UNION ALL ")
      s"""sel${t - 1} AS ($sel),
         p$t AS (SELECT query_id, vec_id, rel, score FROM (
             SELECT c.query_id, c.vec_id, c.rel,
               0.7 * c.rel - 0.3 * max(s.s) AS score
             FROM ce c
             JOIN sim s ON s.query_id = c.query_id AND s.ai = c.vec_id
             JOIN sel${t - 1} z ON z.query_id = s.query_id AND z.vec_id = s.bi
             WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} y
               WHERE y.query_id = c.query_id AND y.vec_id = c.vec_id)
             GROUP BY c.query_id, c.vec_id, c.rel)
           QUALIFY row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, vec_id) = 1)"""
    }.mkString(",\n")
    val union = (1 to 5)
      .map(i => s"SELECT query_id, $i AS rk, vec_id, score FROM p$i")
      .mkString(" UNION ALL ")
    s"""WITH v AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       q AS (SELECT vec_id AS query_id, emb AS qv FROM v WHERE vec_id < 8),
       rel0 AS (SELECT query_id, vec_id, ${cosd("qv", "emb")} AS rel
         FROM q, v WHERE vec_id <> query_id),
       cand AS (SELECT query_id, vec_id, rel FROM rel0
         QUALIFY row_number() OVER (PARTITION BY query_id
           ORDER BY rel DESC, vec_id) <= 10),
       ce AS (SELECT c.query_id, c.vec_id, c.rel, v.emb
         FROM cand c JOIN v USING (vec_id)),
       sim AS (SELECT a.query_id, a.vec_id AS ai, b.vec_id AS bi,
           ${cosd("a.emb", "b.emb")} AS s
         FROM ce a JOIN ce b
           ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
       p1 AS (SELECT query_id, vec_id, rel, 0.7 * rel AS score FROM ce
         QUALIFY row_number() OVER (PARTITION BY query_id
           ORDER BY score DESC, vec_id) = 1),
       $rounds
       SELECT query_id, CAST(rk AS INTEGER) AS mmr_rank,
         vec_id AS neighbor_id, round(score, 6) AS mmr_score
       FROM ($union)
       ORDER BY query_id, mmr_rank"""
  }

  /** Shared w07/st23 oracle: quarantine routing is a per-line
    * decision, so batch PERMISSIVE parse and the streaming DLQ route
    * gate on the same truth. */
  private val corruptJsonlOracle: String =
    """SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN NULL ELSE substr(text, 1, 20) END AS v,
         doc_id % 7 = 0 AS quarantined
       FROM documents ORDER BY doc_id"""

  /** Shared ev15/st21 oracle: the integer-algebraized daily z-test —
    * batch and Complete-mode-streaming paths gate on identical
    * semantics, so one string serves both keys. */
  private val dailyAnomalyOracle: String =
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
  private val incrementalDedupOracle: String =
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
  private val temperatureMixtureOracle: String =
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
  private def urlSynth: Column = {
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

  /** Shared d65/d66 sentence synth (the corpus has no punctuation):
    * 2/3/4 sentences per doc on doc_id strata, built from slices of
    * the doc's own text. Spark Column and SQL CTE in lockstep. */
  private def sentenceSynth: Column = {
    def sl(i: Int) = substring(col("text"), 1 + (i - 1) * 12, 12)
    when(col("doc_id") % 3 === 0, concat(sl(1), lit(". "), sl(2), lit(".")))
      .when(col("doc_id") % 3 === 1,
        concat(sl(1), lit(". "), sl(2), lit("! "), sl(3), lit(".")))
      .otherwise(concat(sl(1), lit(". "), sl(2), lit("! "), sl(3),
        lit("? "), sl(4), lit(".")))
  }

  /** SQL mirror of [[sentenceSynth]]: defines `sy(doc_id, t)`. */
  private val sentenceSynthSql: String =
    """sy AS (SELECT doc_id, CASE CAST(doc_id % 3 AS INTEGER)
         WHEN 0 THEN substr(text,1,12) || '. ' || substr(text,13,12) || '.'
         WHEN 1 THEN substr(text,1,12) || '. ' || substr(text,13,12) || '! '
           || substr(text,25,12) || '.'
         ELSE substr(text,1,12) || '. ' || substr(text,13,12) || '! '
           || substr(text,25,12) || '? ' || substr(text,37,12) || '.'
       END AS t FROM documents)"""

  /** SQL mirror of [[urlSynth]] as a CTE: defines `u(doc_id, url)`. */
  private val urlSynthSql: String =
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
  private val hostRegDomainSql: String =
    """h AS (SELECT doc_id, url, host,
             COALESCE(NULLIF(regexp_extract(host,
                 '([^.]+\.(?:co\.uk|org\.uk|ac\.uk|com\.au|co\.jp|com\.br|co\.in))$', 1), ''),
               regexp_extract(host, '([^.]+\.[^.]+)$', 1)) AS reg_domain
           FROM (SELECT doc_id, url,
               regexp_replace(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1), ':[0-9]+$', '') AS host
             FROM u))"""

  /** Shared g01/g02 oracle prefix: the deterministic host graph and
    * three PageRank iterations unrolled as CTE pairs (contrib sum,
    * then rank refresh) — exact integer arithmetic end to end, so the
    * comparison is equality, not tolerance. `//` (floor) == Spark
    * `div` (truncate) because every operand is non-negative. Defines
    * `r3(node, rank_micro)`. */
  /** Shared e11/st20 truth: all (query, neighbor) pairs with cosine
    * >= 0.3 over the double-cast embeddings (e10's construction). */
  private val rangeSearchOracleSql: String =
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

  private val pageRankCtesSql: String =
    """eraw AS (SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) AS src,
             'h' || CAST((doc_id * 7) % 41 AS VARCHAR) AS dst,
             doc_id % 5 + 1 AS w FROM documents),
         e1 AS (SELECT src, dst, w FROM eraw WHERE src <> dst AND w > 0),
         ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM e1 GROUP BY src),
         e AS (SELECT e1.src, e1.dst, e1.w, ow.out_w FROM e1 JOIN ow USING (src)),
         nodes AS (SELECT src AS node FROM e1 UNION SELECT dst FROM e1),
         r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes),
         s1 AS (SELECT e.dst, CAST(SUM((r.rank_micro * e.w) // e.out_w) AS BIGINT) AS in_c
           FROM e JOIN r0 r ON e.src = r.node GROUP BY e.dst),
         r1 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(s.in_c, 0)) // 100 AS BIGINT) AS rank_micro
           FROM nodes n LEFT JOIN s1 s ON n.node = s.dst),
         s2 AS (SELECT e.dst, CAST(SUM((r.rank_micro * e.w) // e.out_w) AS BIGINT) AS in_c
           FROM e JOIN r1 r ON e.src = r.node GROUP BY e.dst),
         r2 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(s.in_c, 0)) // 100 AS BIGINT) AS rank_micro
           FROM nodes n LEFT JOIN s2 s ON n.node = s.dst),
         s3 AS (SELECT e.dst, CAST(SUM((r.rank_micro * e.w) // e.out_w) AS BIGINT) AS in_c
           FROM e JOIN r2 r ON e.src = r.node GROUP BY e.dst),
         r3 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(s.in_c, 0)) // 100 AS BIGINT) AS rank_micro
           FROM nodes n LEFT JOIN s3 s ON n.node = s.dst)"""

  /** Shared x01/x17 truth: the brute-force exact char-5-shingle
    * Jaccard pair set at threshold 0.8 with the lossless length
    * prefilter — x01's LSH banding and x17's exact bitmap scan gate
    * against this one string. */
  private val exactCharJaccardOracleSql: String =
    """WITH n AS (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN length(s) < 5 THEN [s]
               ELSE list_transform(range(1, length(s)-3), i -> s[i:i+4]) END) AS gs FROM n)
         SELECT a.doc_id AS src, b.doc_id AS dst,
           round(len(list_intersect(a.gs, b.gs)) * 1.0
             / len(list_distinct(list_concat(a.gs, b.gs))), 6) AS jaccard
         FROM g a JOIN g b ON a.doc_id < b.doc_id
           AND len(a.gs) >= 0.8 * len(b.gs) AND len(b.gs) >= 0.8 * len(a.gs)
         WHERE len(list_intersect(a.gs, b.gs)) * 1.0
             / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.8
         ORDER BY src, dst"""

  /** Shared x03/d59 oracle prefix: the exact word-3gram Jaccard graph
    * and its transitive closure; defines `comp(doc_id, mn)` = min
    * reachable OTHER node per connected doc. */
  private val ngramGraphCtesSql: String =
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

  /** Synthetic PII text, reproducible in SQL, so redaction is executed
    * for real on a corpus that ships none. */
  private def piiSynth(d: Column, src: Column, text: Column): Column =
    concat(lit("reach me at "), src, lit("@example.com ip 10.0.0."),
      (d % 250).cast("string"), lit(" ssn 123-45-6789 call +1 555 123 4567 "),
      substring(text, 1, 40))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- relational: scans, aggs, joins, windows ----------------
    "q01_pricing_summary" -> ((s, d) =>
      li(s, d).groupBy("l_returnflag", "l_linestatus").agg(
          sum("l_quantity").as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q02_filter_project" -> ((s, d) =>
      li(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz")
          && col("l_discount") > 0.05 && col("l_quantity") < 10)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")),

    "q03_segment_revenue" -> ((s, d) => {
      val c = cust(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = ord(s, d).filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
      val l = li(s, d).filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(desc("revenue"), asc("o_orderkey"))
        .limit(10)
    }),

    "q04_order_priority" -> ((s, d) => {
      val returned = li(s, d).filter(col("l_returnflag") === "R").select("l_orderkey")
      val o = ord(s, d)
      o.join(returned, o("o_orderkey") === returned("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    "q05_region_revenue" -> ((s, d) => {
      // Revenue summed in exact integer CENTS (per-row round, BIGINT
      // sum, /100.0 at the edge — the q29/q38/q39 convention): the r13
      // SF1_COMPARE caught round(sum(double), 2) one cent off at the
      // materialized 10x step-up (463797812.93 vs .94 — partial-agg
      // reordering lands the accumulated error on a rounding boundary
      // once the nation groups are large enough). cents/100.0 is the
      // same IEEE double in both engines at every SF. Oracle SQL
      // redefined in lockstep; verified exact at sf0.001/sf0.01/10x.
      val l = li(s, d); val o = ord(s, d); val c = cust(s, d)
      val sp = supp(s, d); val n = nat(s, d); val r = reg(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(sp), l("l_suppkey") === sp("s_suppkey") && c("c_nationkey") === sp("s_nationkey"))
        .join(broadcast(n), sp("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .withColumn("rev_cents",
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("long"))
        .groupBy("n_name")
        .agg((sum(col("rev_cents")) / 100.0).as("revenue"))
        .orderBy(desc("revenue"), asc("n_name"))
    }),

    "q06_forecast_revenue" -> ((s, d) =>
      li(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz")
          && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))),

    "q07_nation_volume" -> ((s, d) => {
      val l = li(s, d); val sp = supp(s, d); val n = nat(s, d)
      l.join(broadcast(sp), l("l_suppkey") === sp("s_suppkey"))
        .join(broadcast(n), sp("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"), year(col("l_shipdate")).as("l_year"))
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_lines"))
        .orderBy("n_name", "l_year")
    }),

    "q10_returned_revenue" -> ((s, d) => {
      val l = li(s, d).filter(col("l_returnflag") === "R")
      val o = ord(s, d); val c = cust(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
    }),

    "q13_order_count_distribution" -> ((s, d) => {
      val c = cust(s, d); val o = ord(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey").agg(count("o_orderkey").as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    "q14_promo_share" -> ((s, d) => {
      val l = li(s, d).filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz")
        && col("l_shipdate") < lit("1997-07-01").cast("timestamp_ntz"))
      val p = part(s, d)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .agg(round(
          sum(when(col("p_type") === "PROMO", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .otherwise(lit(0.0))) * 100.0
            / sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("promo_share"))
    }),

    "q18_large_orders" -> ((s, d) => {
      val bigOrders = li(s, d).groupBy("l_orderkey")
        .agg(sum("l_quantity").as("sum_qty"))
        .filter(col("sum_qty") > 150)
      val o = ord(s, d); val c = cust(s, d)
      o.join(bigOrders, o("o_orderkey") === bigOrders("l_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"), col("sum_qty"))
        .orderBy("o_orderkey")
    }),

    "q19_bracket_revenue" -> ((s, d) => {
      val l = li(s, d); val p = part(s, d)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("l_quantity").between(1, 11) && col("p_size").between(1, 5))
            || (col("p_brand") === "Brand#13" && col("l_quantity").between(10, 20) && col("p_size").between(1, 10))
            || (col("p_brand") === "Brand#25" && col("l_quantity").between(20, 30) && col("p_size").between(1, 15)))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    "q20_topk_orders" -> ((s, d) =>
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(15)),

    "q21_price_buckets" -> ((s, d) =>
      ord(s, d)
        .withColumn("bucket",
          when(col("o_totalprice") < 50000, "lt_50k")
            .when(col("o_totalprice") < 150000, "50k_150k")
            .otherwise("ge_150k"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("o_totalprice").as("min_price"),
          max("o_totalprice").as("max_price"))
        .orderBy("bucket")),

    "q22_customers_without_orders" -> ((s, d) => {
      val c = cust(s, d); val o = ord(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    "q23_supplier_semijoin" -> ((s, d) => {
      val heavy = li(s, d).filter(col("l_quantity") >= 49).select("l_suppkey")
      val sp = supp(s, d)
      sp.join(heavy, sp("s_suppkey") === heavy("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name").orderBy("s_suppkey")
    }),

    "q24_union_distinct" -> ((s, d) => {
      val o = ord(s, d)
      val a = o.filter(col("o_totalprice") > 300000).select("o_orderkey")
      val b = o.filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      a.union(b).distinct().orderBy("o_orderkey")
    }),

    "q25_rollup_region" -> ((s, d) => {
      cust(s, d).createOrReplaceTempView("customer")
      nat(s, d).createOrReplaceTempView("nation")
      reg(s, d).createOrReplaceTempView("region")
      s.sql("""SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
               FROM customer JOIN nation ON c_nationkey = n_nationkey
               JOIN region ON n_regionkey = r_regionkey
               GROUP BY ROLLUP (r_name, n_name)
               ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""")
    }),

    "q26_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      ord(s, d).withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("rnk").cast("int").as("rnk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rnk")
    }),

    // ---------------- events: time-series / sessionization / json ----------------
    "ev01_hourly_rollup" -> ((s, d) =>
      ev(s, d)
        .withColumn("hr", date_trunc("hour", timestamp_micros(expr("ts div 1000"))).cast("timestamp_ntz"))
        .groupBy("hr", "event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .orderBy("hr", "event_type")),

    "q34_banded_range_join" -> ((s, d) => {
      // the banded range-join pattern: purchases matched to the same
      // user's clicks in the preceding 30 minutes. Naive shape is an
      // equi-join on user_id with the range as a post-filter — per-user
      // nested loops that melt under heavy users. Banding makes the
      // range an EQUI key: clicks replicate to their 30-min bucket and
      // the next (exactly 2 copies), purchases probe their own bucket,
      // so every qualifying pair matches exactly once and the join is
      // a plain hash join on (user, bucket). st03 runs the same
      // semantics as a stream-stream join.
      val W = 1800000000L // 30 min in µs
      val e = ev(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("t"))
      val p = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("t").as("pt"),
          floor(col("t") / W).as("bk"))
      val c = e.where(col("event_type") === "click")
        .select(col("user_id"), col("t").as("ct"),
          floor(col("t") / W).as("bk0"))
      val cDup = c.select(col("user_id"), col("ct"), col("bk0").as("bk"))
        .unionAll(c.select(col("user_id"), col("ct"),
          (col("bk0") + 1).as("bk")))
      p.join(cDup, Seq("user_id", "bk"))
        .where(col("ct") < col("pt") && col("pt") - col("ct") <= W)
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("pt") - col("ct")).cast("long").as("sum_gap_us"))
    }),

    "ev10_approx_users" -> ((s, d) =>
      // sketch-based distinct counts next to the exact ones: at 100 TB
      // approx_count_distinct (HLL++, rsd 2%) is the one-pass answer —
      // register-max merges are order- and partition-invariant, so the
      // estimate is deterministic and PINNABLE (d20 convention; DuckDB's
      // own approx sketch differs by construction).
      ev(s, d).where(col("user_id").isNotNull)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .orderBy("event_type")),

    "ev09_funnel" -> ((s, d) => {
      // ordered conversion funnel with a 6-hour window per stage
      // (view → click within 6h → purchase within 6h of that click),
      // strict event-time ordering per user in MICROSECONDS (the ev02
      // cross-engine ts convention). Three user-partitioned window
      // passes — high-cardinality partitions, each a shuffle-once
      // analytic — then one bounded reduction. The window is what
      // makes the funnel discriminate: without it every fixture user
      // eventually converts.
      val hours6 = 21600000000L // µs
      val w = Window.partitionBy("user_id")
      ev(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("t"))
        .withColumn("fv",
          min(when(col("event_type") === "view", col("t"))).over(w))
        .withColumn("fc",
          min(when(col("event_type") === "click" && col("t") > col("fv")
            && col("t") - col("fv") <= hours6, col("t"))).over(w))
        .withColumn("fp",
          min(when(col("event_type") === "purchase" && col("t") > col("fc")
            && col("t") - col("fc") <= hours6, col("t"))).over(w))
        .groupBy("user_id")
        .agg(max("fv").as("fv"), max("fc").as("fc"), max("fp").as("fp"))
        .agg(count(lit(1)).as("n_users"),
          count(col("fv")).as("n_view"),
          count(col("fc")).as("n_view_click"),
          count(col("fp")).as("n_full_funnel"))
    }),

    "ev02_sessionize" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      ev(s, d)
        .withColumn("us", expr("ts div 1000"))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_us").isNull
            || col("us") - col("prev_us") > 1800000000L, 1).otherwise(0))
        .groupBy("user_id").agg(sum("new_session").cast("long").as("n_sessions"))
        .orderBy("user_id")
    }),

    "ev03_json_extract" -> ((s, d) =>
      ev(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").cast("long").as("sum_k"))
        .orderBy("event_type")),

    "ev04_running_sum" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, d).select(col("user_id"), col("event_id"),
          round(sum("value").over(w), 4).as("running_value"))
        .orderBy("user_id", "event_id")
    }),

    "ev05_gaps" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      ev(s, d)
        .withColumn("us", expr("ts div 1000"))
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
        .filter(col("gap_us").isNotNull)
        .select("user_id", "event_id", "gap_us")
        .orderBy("user_id", "event_id")
    }),

    "ev06_distinct_users" -> ((s, d) =>
      ev(s, d).groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")),

    "ev07_session_windows" -> ((s, d) =>
      ev(s, d)
        .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
        .groupBy(col("user_id"), session_window(col("tsm"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("sw.start").cast("timestamp_ntz").as("session_start"), col("n"))
        .orderBy("user_id", "session_start")),

    "ev08_range_window" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("us"))
        .rangeBetween(-3600000000L, 0L)
      ev(s, d).withColumn("us", expr("ts div 1000"))
        .select(col("user_id"), col("event_id"),
          round(sum("value").over(w), 4).as("hour_sum"))
        .orderBy("user_id", "event_id")
    }),

    "q31_rank_stats" -> ((s, d) => {
      // percent_rank/ntile/cume_dist over a cardinality-5 partition key
      // would single-task-sort 1/5 of the table each; instead compute the
      // global per-group row number distributively (Ranking operator) and
      // derive all three analytically. The (totalprice, orderkey) order
      // key is unique, so rank == row_number and cume_dist == rn/n.
      val base = ord(s, d).select("o_orderkey", "o_orderpriority", "o_totalprice")
      val rn = Ranking.withRowNumber(base, Seq("o_orderpriority"),
        Seq(col("o_totalprice"), col("o_orderkey")), "rn")
      val totals = base.groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      rn.join(broadcast(totals), "o_orderpriority")
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(when(col("n") > 1, (col("rn") - 1).cast("double") / (col("n") - 1))
            .otherwise(0.0), 6).as("pr"),
          // ntile(4): first (n%4) tiles get (n div 4 + 1) rows, rest (n div 4)
          expr("""CAST(CASE WHEN rn <= (n div 4 + 1) * (n % 4)
                       THEN (rn - 1) div (n div 4 + 1) + 1
                       ELSE (n % 4) + (rn - 1 - (n div 4 + 1) * (n % 4)) div (n div 4) + 1
                  END AS INT)""").as("quartile"),
          round(col("rn").cast("double") / col("n"), 6).as("cd"))
        .orderBy("o_orderkey")
    }),

    "q32_pivot_status_priority" -> ((s, d) =>
      ord(s, d).groupBy("o_orderstatus")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("o_orderstatus"),
          col("`1-URGENT`").as("urgent"), col("`2-HIGH`").as("high"),
          col("`3-MEDIUM`").as("medium"), col("`4-NOT SPECIFIED`").as("notspec"),
          col("`5-LOW`").as("low"))
        .orderBy("o_orderstatus")),

    "q37_unpivot" -> ((s, d) =>
      // pivot's inverse closes the reshape pair: q32's wide frame
      // melts back to (status, priority, n) with Spark's native
      // unpivot (one narrow map pass — no shuffle beyond q32's own
      // agg). Zero-count cells produced by the fill are melted too,
      // so the oracle is the dense status x priority cross join with
      // observed counts (0 where absent) — NOT the sparse group-by.
      ord(s, d).groupBy("o_orderstatus")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .unpivot(Array(col("o_orderstatus")),
          Array(col("`1-URGENT`"), col("`2-HIGH`"), col("`3-MEDIUM`"),
            col("`4-NOT SPECIFIED`"), col("`5-LOW`")),
          "o_orderpriority", "n")
        .orderBy("o_orderstatus", "o_orderpriority")),

    "q38_market_share" -> ((s, d) => {
      // TPC-H Q8 shape: per order-year, the ASIA-supplier share of
      // total revenue. One wide fact join where every dimension side
      // (supplier/nation/region) is broadcast — the fact table shuffles
      // once for the year group-by and never for the dims. Revenue is
      // summed in exact integer CENTS (per-row round, then long sum —
      // the q29/q39 convention): round(sum,2) of a double sum flipped
      // the last cent at the 10x step-up under partial-agg reordering.
      // cents/100.0 is the same IEEE double in both engines, so the
      // share division replays bit-exactly in DuckDB.
      val l = li(s, d); val o = ord(s, d)
      val sp = supp(s, d); val n = nat(s, d); val r = reg(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(sp), l("l_suppkey") === sp("s_suppkey"))
        .join(broadcast(n), sp("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .withColumn("rev_cents",
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("long"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          (sum(when(col("r_name") === "ASIA", col("rev_cents"))
            .otherwise(lit(0L))) / 100.0).as("asia_rev"),
          (sum(col("rev_cents")) / 100.0).as("total_rev"))
        .withColumn("mkt_share", round(col("asia_rev") / col("total_rev"), 6))
        .orderBy("o_year")
    }),

    "q39_product_profit" -> ((s, d) => {
      // TPC-H Q9 shape: profit by supplier nation x order year. No
      // partsupp table in this corpus, so supply cost is proxied by
      // p_retailprice (documented deviation — the join/agg shape is the
      // point). part+supplier+nation broadcast; lineitem shuffles only
      // for the final two-key group-by. Profit is summed in exact
      // integer CENTS (each term rounded per-row first): the
      // revenue-minus-cost cancellation makes a double sum land on
      // rounding boundaries (observed: engines split on ...58.585), so
      // the repo's round(sum,2) convention is not enough here.
      val l = li(s, d); val o = ord(s, d); val p = part(s, d)
      val sp = supp(s, d); val n = nat(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(broadcast(sp), l("l_suppkey") === sp("s_suppkey"))
        .join(broadcast(n), sp("s_nationkey") === n("n_nationkey"))
        .where(col("p_name").contains("a"))
        .withColumn("profit_cents",
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long")
            - round(col("p_retailprice") * col("l_quantity") * 100).cast("long"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum("profit_cents").as("profit_cents"))
        .orderBy(asc("nation"), desc("o_year"))
    }),

    "q40_late_shipments" -> ((s, d) => {
      // TPC-H Q12 shape: ship-lag buckets x priority-class CASE-sums.
      // No l_shipmode column, so the bucket is derived from the
      // order-to-ship lag — same conditional-aggregation pattern.
      val l = li(s, d); val o = ord(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .withColumn("ship_bucket",
          when(datediff(col("l_shipdate"), col("o_orderdate")) > 60, "late")
            .when(datediff(col("l_shipdate"), col("o_orderdate")) > 30, "slow")
            .otherwise("prompt"))
        .groupBy("ship_bucket")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("ship_bucket")
    }),

    "q41_top_supplier" -> ((s, d) => {
      // TPC-H Q15 shape: revenue-per-supplier view, then the
      // supplier(s) achieving the global max. The max is a one-row
      // aggregate broadcast back onto the view — no global sort, no
      // single-task window; ties all surface (hence the deterministic
      // orderBy), exactly like the reference query's HAVING = MAX form.
      val l = li(s, d); val sp = supp(s, d)
      val rev = l.where(col("l_shipdate") >= lit("1997-01-01")
          && col("l_shipdate") < lit("1998-01-01"))
        .groupBy(col("l_suppkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("total_rev"))
      val mx = rev.agg(max(col("total_rev")).as("max_rev"))
      rev.join(broadcast(mx), rev("total_rev") === mx("max_rev"))
        .join(broadcast(sp), rev("l_suppkey") === sp("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev"))
        .orderBy("s_suppkey")
    }),

    "q42_part_supplier_counts" -> ((s, d) => {
      // TPC-H Q16 shape: distinct-supplier counts per part attribute,
      // excluding a NOT-IN supplier set. The exclusion list (negative
      // account balance) is tiny → broadcast left_anti; the
      // count(DISTINCT) shuffles on (brand, type) once.
      val l = li(s, d); val p = part(s, d); val sp = supp(s, d)
      val excluded = sp.where(col("s_acctbal") < 0).select(col("s_suppkey").as("x_suppkey"))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .where(col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        .join(broadcast(excluded), l("l_suppkey") === col("x_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"))
    }),

    "q43_order_ship_reconcile" -> ((s, d) => {
      // FULL OUTER join — the one join type the surface didn't yet
      // exercise: daily order counts reconciled against daily shipment
      // counts, days present on either side only surfacing with a zero
      // on the other (the ops-reconciliation report shape). Both
      // sides pre-aggregate BEFORE the join (day-keyed, bounded), so
      // the outer join runs on two small frames, not the facts.
      val o = ord(s, d).groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"))
      val l = li(s, d).groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(count(lit(1)).as("n_ships"))
      o.join(l, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_ships"), lit(0L)).as("n_ships"))
        .orderBy("day")
    }),

    "q44_idle_customers" -> ((s, d) => {
      // TPC-H Q22 shape: positive-balance-above-average customers with
      // NO orders, grouped by market segment. The global average is a
      // one-row aggregate broadcast back (scalar-subquery form); the
      // "no orders" test is a left_anti against the order keys — the
      // anti-join's build side is the grouped key set, and the
      // customer side never shuffles for the comparison.
      val c = cust(s, d); val o = ord(s, d)
      val avgBal = c.where(col("c_acctbal") > 0)
        .agg(avg(col("c_acctbal")).as("avg_bal"))
      c.crossJoin(broadcast(avgBal))
        .where(col("c_acctbal") > col("avg_bal"))
        .join(o.select(col("o_custkey").as("c_custkey")).distinct(),
          Seq("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal")), 2).as("total_bal"))
        .orderBy("c_mktsegment")
    }),

    // ---------------- documents: text analysis ----------------
    "d01_token_stats" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.tokenCountBpeIsh(col("text")).as("n_bpeish"),
          round(TextFunctions.meanTokenLen(col("text")), 6).as("mean_tok_len"))
        .orderBy("doc_id")),

    "d02_char_ratios" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          round(TextFunctions.nonWsRatio(col("text")), 6).as("non_ws"),
          round(TextFunctions.alphaCjkRatio(col("text")), 6).as("alpha_cjk"),
          round(TextFunctions.punctRatio(col("text")), 6).as("punct"),
          round(TextFunctions.digitRatio(col("text")), 6).as("digit"))
        .orderBy("doc_id")),

    "d03_clean_judge" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          TextFunctions.judgeReason(col("text"), judgeT).as("drop_reason"))
        .withColumn("kept", col("drop_reason") === "ok")
        .orderBy("doc_id")),

    "d04_lang_id" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), TextAnalysis.langIdLabel(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    "d05_lang_confusion" -> ((s, d) =>
      docs(s, d).select(col("lang"), TextAnalysis.langIdLabel(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")),

    "d06_quality_scores" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality_score"))
        .orderBy("doc_id")),

    "d07_exact_dedup" -> ((s, d) =>
      Dedup.exact(docs(s, d), "doc_id", "text").select("doc_id").orderBy("doc_id")),

    "d08_word_freq" -> ((s, d) =>
      docs(s, d)
        .select(explode(split(TextFunctions.normalizeForDedup(col("text")), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("word")).limit(40)),

    "d09_source_stats" -> ((s, d) =>
      docs(s, d).groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          round(avg(TextFunctions.tokenCount(col("text"))), 4).as("avg_tokens"))
        .orderBy("source")),

    "d10_fingerprints" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), TextFunctions.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")),

    "d13_jaccard_neighbors" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"),
        array_distinct(split(TextFunctions.normalizeForDedup(col("text")), " ")).as("ws"))
      val a = t.select(col("doc_id").as("src"), col("ws").as("w1"))
      val b = t.select((col("doc_id") - 1).as("src"), col("doc_id").as("dst"), col("ws").as("w2"))
      a.join(b, "src")
        .select(col("src"), col("dst"),
          round(size(array_intersect(col("w1"), col("w2"))).cast("double")
            / size(array_union(col("w1"), col("w2"))), 6).as("jaccard"))
        .orderBy("src")
    }),

    "d15_char_entropy" -> ((s, d) => {
      // Per-row entropy with zero shuffle, one pass per doc: a custom
      // codegen-bridged Expression counts code points in a single scan.
      // (The previous array_sort construction allocated one String per
      // char and compared them O(n log n) times per doc — 2.6 s at
      // sf0.1; the interpreted HOF lambdas re-evaluated shared columns.)
      // Empty docs are dropped, mirroring the oracle's explode+group
      // shape (an empty doc produces no char rows there).
      docs(s, d).where(length(col("text")) > 0)
        .select(col("doc_id"),
          round(graft.functions.HashFunctions.charEntropy(col("text")), 6).as("entropy"))
        .orderBy("doc_id")
    }),

    "d19_dup_lines" -> ((s, d) => {
      // The synthetic corpus has no newlines, so the dup-line judge branch
      // (F6) can only be exercised on synthesized multi-line docs: even
      // doc_ids get a 6-line text with lines repeating (ratio 5/6 > 0.3 ->
      // dup_lines), odd doc_ids get 6 distinct lines (-> ok). Thresholds
      // neutralize every earlier branch so this query isolates F6/F7's
      // dup path; the oracle recomputes the same trim/drop-blank/count
      // semantics in SQL.
      val synth = multiLineSynth
      val thr = TextFunctions.CleanThresholds(minChars = 10, maxChars = 100000,
        minNonWs = 0.0, minAlphaCjk = 0.0, maxPunct = 1.0, maxDupLine = 0.3)
      docs(s, d).select(col("doc_id"),
          TextFunctions.judgeReason(synth, thr).as("drop_reason"))
        .orderBy("doc_id")
    }),

    "d16_bigram_freq" -> ((s, d) =>
      docs(s, d)
        .filter(size(split(TextFunctions.normalizeForDedup(col("text")), " ")) >= 2)
        .select(explode(TextFunctions.wordShingles(col("text"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("bigram")).limit(30)),

    "d18_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedExact(docs(s, d), "lang", 0.2, "doc_id")
        .select("lang", "doc_id").orderBy("lang", "doc_id")),

    // ---------------- dedup operators (LSH paths, exact-verified so the
    // DuckDB oracle can recompute them by brute force — a hash match here
    // asserts the banding had FULL RECALL at the threshold) ----------------
    "x01_minhash_dedup" -> ((s, d) =>
      Dedup.minhashVerifiedPairs(docs(s, d), "doc_id", "text", threshold = 0.8)
        .select(col("src"), col("dst"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("src", "dst")),

    "x17_exact_dense_jaccard" -> ((s, d) =>
      // the EXACT tier on the same truth as x01 (one oracle string,
      // two strategies): recall 1.0 by construction — no banding, no
      // radius — for the dense-small-universe regime where O(n^2)
      // bitmap popcount is affordable. Round-10 motivation: the exact
      // scale twin showed x02's Hamming radius caps simhash recall at
      // 94.9% on 10x data; this operator is what a pipeline runs when
      // a bounded slice (eval suite, per-bucket verify, short-text
      // table) must be EXACT rather than radius-approximate.
      Dedup.exactJaccardPairsDense(docs(s, d), "doc_id", "text",
          threshold = 0.8, ngram = 5)
        .select(col("src"), col("dst"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("src", "dst")),

    "x09_source_dup_matrix" -> ((s, d) => {
      // which sources leak into each other — the curation report that
      // catches mirrored feeds: x01's verified near-dup pairs joined
      // back to both sides' sources (two id-keyed joins of a
      // pair-sized frame against a two-column projection), counted
      // per unordered source pair.
      val t = docs(s, d)
      val pairs = Dedup.minhashVerifiedPairs(t, "doc_id", "text", threshold = 0.8)
        .select("src", "dst")
      pairs
        .join(t.select(col("doc_id").as("src"), col("source").as("sa0")), "src")
        .join(t.select(col("doc_id").as("dst"), col("source").as("sb0")), "dst")
        .select(least(col("sa0"), col("sb0")).as("sa"),
          greatest(col("sa0"), col("sb0")).as("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("n_pairs"))
        .orderBy("sa", "sb")
    }),

    "x02_simhash_dedup" -> ((s, d) => {
      // maxHamming=8: the measured Hamming ceiling of the exact-Jaccard
      // >=0.8 pairs on this corpus (smaller budgets miss real near-dups,
      // which the brute-force oracle would expose). blocks=10: Manku
      // block-combination banding — 45 tables of ~13-bit keys instead of
      // 9 tables of 7-bit keys, ~11x fewer random bucket collisions at
      // the same guaranteed recall.
      //
      // recall_at_radius (r10 verdict's disclosure ask): the radius
      // trade must be visible DATA, not documentation. The engine
      // MEASURES its own recall on the fixed id<500 sample — found
      // pairs within the sample over the exact dense-tier pair count
      // (same char-4-gram space as the verify stage) — and carries it
      // on every row. The sample is the gate corpus at every SF, so the
      // honest value is 1.0 (its Hamming tail is inside the radius by
      // the ceiling measurement); a scale-only regression that drops a
      // sample pair (hot-bucket cap, banding bug) shows up as a VALUE
      // diff against the oracle's self-ratio instead of hiding inside
      // the classified global undershoot.
      val t = docs(s, d)
      // the banded-verify pipeline and the exact dense tier are
      // independent job chains over the same corpus — overlap them
      // (guide §2.6; both deterministic, so order cannot matter)
      val Seq(foundA, exactNA) = inParallel(Seq[() => Any](
        () => Dedup.simhashVerifiedPairs(t, "doc_id", "text",
            threshold = 0.8, maxHamming = 8, blocks = 10)
          .localCheckpoint(true),
        () => Dedup.exactJaccardPairsDense(
          t.filter(col("doc_id") < 500), "doc_id", "text",
          threshold = 0.8, ngram = 4).count()))
      val found = foundA.asInstanceOf[DataFrame]
      val exactN = exactNA.asInstanceOf[Long]
      val foundN = found.where(col("src") < 500 && col("dst") < 500).count()
      val recall = if (exactN == 0L) 1.0 else foundN.toDouble / exactN
      found
        .select(col("src"), col("dst"), round(col("jaccard"), 6).as("jaccard"),
          round(lit(recall), 4).as("recall_at_radius"))
        .orderBy("src", "dst")
    }),

    "d20_trained_lid" -> ((s, d) => {
      // model-backed LID (M1): train the Naive-Bayes char-3gram model and
      // predict with it, over the synthesized 8-language fixture
      // (TrainedLid.synthFixture — the corpus's own `lang` column has no
      // learnable signal) PLUS a Danish holdout the model never trains
      // on: unseen-language inputs must land on the nearest trained
      // neighbor (sv — shared/near-form function words), not crash or
      // scatter. Exact count aggregates + fixed gram order make the
      // confusion matrix a partitioning-invariant constant at a given
      // SF — pinned oracle (expected: all-diagonal + da->sv).
      val ids = docs(s, d).select("doc_id")
      val synth = TrainedLid.synthFixture(ids)
      val model = TrainedLid.train(synth, "lang", "text")
      TrainedLid.predict(synth.unionByName(TrainedLid.synthHoldout(ids)), "text", model)
        .groupBy(col("lang"), col("lang_pred_model"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred_model")
    }),

    "d84_fasttext_lid" -> ((s, d) => {
      // the REAL fastText .bin seam (reference quality/model.py:267-340
      // loads lid.176.bin and predicts (label, prob) per text): build a
      // tiny supervised .bin fixture in the PUBLIC file format —
      // Scandinavian da/no/sv wordlists, whose shared function words
      // ("og", "efter", "som", "ikke") give a genuine confusion
      // surface; each word's embedding is its language-membership
      // vector, each label's output row selects its language — then
      // score the synthesized labeled fixture THROUGH the loader
      // (FastTextBin.read -> predictDf, the same code path
      // QualityStep's lidModelPath takes for *.bin). Per-row float
      // math in fixed order + exact count aggregates = a
      // partitioning-invariant confusion matrix, pinned at sf0.01
      // (d20 convention).
      // ONE ordered structure drives both the embedding dims and the
      // label rows — a second independently-ordered list here once
      // rotated every prediction by one language
      val lists = TrainedLid.WideFixtureWordLists
        .filter(w => Set("da", "no", "sv")(w._1)).sortBy(_._1)
      val langs = lists.map(_._1)
      val words = lists.flatMap(_._2).distinct.sorted
      val dim = 8
      def emb(w: String): Array[Float] = {
        val v = new Array[Float](dim)
        lists.zipWithIndex.foreach { case ((_, ws), li) =>
          if (ws.contains(w)) v(li) = 1.0f }
        v
      }
      val labelRows = langs.zipWithIndex.map { case (l, li) =>
        val v = new Array[Float](dim); v(li) = 2.0f
        (s"__label__$l", v)
      }
      val dir = java.nio.file.Files.createTempDirectory("ftbin")
      val path = dir.resolve("lid_fixture.bin").toString
      FastTextBin.write(path, dim = dim, bucket = 64, minn = 0, maxn = 0,
        wordNgrams = 1,
        wordRows = (FastTextBin.Eos -> new Array[Float](dim)) +:
          words.map(w => w -> emb(w)),
        labelRows = labelRows)
      val m = FastTextBin.read(path)
      // FOUR words per doc: short texts let the shared-function-word
      // draws genuinely flip minority docs (wordsPerDoc=30 saturates
      // every doc to its own language and the matrix degenerates to a
      // diagonal), and the 2.0 logit scale keeps softmax probs off 1.0
      // so the n_confident >= 0.5 cut separates clear from marginal
      val fx = TrainedLid.synthFixture(docs(s, d).select("doc_id"),
        wordLists = lists, salt = "ft", wordsPerDoc = 4)
      FastTextBin.predictDf(fx, "text", m)
        .groupBy(col("lang"), col("lang_pred_ft").as("pred"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("lang_prob_ft") >= 0.5, 1L).otherwise(0L)).as("n_confident"))
        .orderBy("lang", "pred")
    }),

    "d85_fasttext_ftz" -> ((s, d) => {
      // the QUANTIZED fastText seam (.ftz — the compressed form the
      // public lid model is also distributed in): d84's exact fixture
      // written through writeQuantized (product-quantized input AND
      // output matrices; the exact-PQ writer's centroid tables are the
      // distinct sub-vectors, so decode is bit-identical to the dense
      // twin) and scored through the same loader seam. The pinned
      // confusion matrix is therefore d84's — byte-different file
      // format, identical predictions — which makes any quant-path
      // decode defect a visible gate diff.
      val lists = TrainedLid.WideFixtureWordLists
        .filter(w => Set("da", "no", "sv")(w._1)).sortBy(_._1)
      val words = lists.flatMap(_._2).distinct.sorted
      val dim = 8
      def emb(w: String): Array[Float] = {
        val v = new Array[Float](dim)
        lists.zipWithIndex.foreach { case ((_, ws), li) =>
          if (ws.contains(w)) v(li) = 1.0f }
        v
      }
      val labelRows = lists.map(_._1).zipWithIndex.map { case (l, li) =>
        val v = new Array[Float](dim); v(li) = 2.0f
        (s"__label__$l", v)
      }
      val dir = java.nio.file.Files.createTempDirectory("ftz")
      val path = dir.resolve("lid_fixture.ftz").toString
      FastTextBin.writeQuantized(path, dim = dim, bucket = 64, minn = 0,
        maxn = 0, wordNgrams = 1,
        wordRows = (FastTextBin.Eos -> new Array[Float](dim)) +:
          words.map(w => w -> emb(w)),
        labelRows = labelRows,
        qnorm = false, qout = true)
      val m = FastTextBin.read(path)
      val fx = TrainedLid.synthFixture(docs(s, d).select("doc_id"),
        wordLists = lists, salt = "ft", wordsPerDoc = 4)
      FastTextBin.predictDf(fx, "text", m)
        .groupBy(col("lang"), col("lang_pred_ft").as("pred"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("lang_prob_ft") >= 0.5, 1L).otherwise(0L)).as("n_confident"))
        .orderBy("lang", "pred")
    }),

    "d21_hard_lid" -> ((s, d) => {
      // the labeler-separation gate: on a stopword-FREE content
      // vocabulary (TrainedLid.HardFixtureWordLists) the stopword
      // heuristic has zero evidence — "und" on every doc — while the
      // trained char-3gram NB model still classifies perfectly. Both
      // labelers run in ONE pass; the grouped matrix is exact-count
      // deterministic (pinned oracle, same convention as d20).
      val ids = docs(s, d).select("doc_id")
      val hard = TrainedLid.synthFixture(ids,
        wordLists = TrainedLid.HardFixtureWordLists, salt = "hw")
      val model = TrainedLid.train(hard, "lang", "text")
      TrainedLid.predict(hard, "text", model)
        .withColumn("lang_heur", TextAnalysis.langIdLabel(col("text")))
        .groupBy(col("lang"), col("lang_pred_model"), col("lang_heur"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred_model", "lang_heur")
    }),

    "d73_wide_lid" -> ((s, d) => {
      // M1 closure: the COMMITTED 48-language artifact (fixtures/
      // models/lid48, written by graft.tools.TrainLidArtifact — char-
      // 3gram NB over all the major script families: CJK, Cyrillic,
      // Greek, Arabic, Hebrew, wide Latin) predicts over a fresh
      // 48-language synth drawn with a DIFFERENT hash salt, so train
      // and eval share vocabulary but no draw positions. Confusion
      // matrix pinned at sf0.01 (d20 convention): clean diagonal
      // across scripts, with whatever near-form confusion the
      // Scandinavian trio (da/no/sv) really exhibits — a measured
      // error surface, not a toy-separable one (d25 precedent).
      val path = TrainedLid.defaultArtifactPath.getOrElse(
        sys.error(s"missing committed artifact ${TrainedLid.DefaultArtifactDir}"))
      val model = TrainedLid.loadModel(s, path)
      val ids = docs(s, d).select("doc_id")
      val synth = TrainedLid.synthFixture(ids,
        wordLists = TrainedLid.WideFixtureWordLists, salt = "we")
      TrainedLid.predict(synth, "text", model)
        .groupBy(col("lang"), col("lang_pred_model"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred_model")
    }),

    "d25_cognate_confusion" -> ((s, d) => {
      // the non-trivial error-surface gate: on the cognate fixture
      // (7 of 10 words identical across es/it/pt, 8 words/doc) the
      // trained model CANNOT be perfect — docs drawing only shared
      // words are decided by exact-count weight asymmetries. The
      // resulting off-diagonal is deterministic under any partitioning
      // (same argument as d20, spec-probed) and pinned in the oracle:
      // a feature-hashing / smoothing / tie-break regression moves it.
      val ids = docs(s, d).select("doc_id")
      val cog = TrainedLid.synthFixture(ids,
        wordLists = TrainedLid.CognateFixtureWordLists,
        salt = "cg", wordsPerDoc = 8)
      val model = TrainedLid.train(cog, "lang", "text")
      TrainedLid.predict(cog, "text", model)
        .groupBy(col("lang"), col("lang_pred_model"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred_model")
    }),

    "d30_trained_ner" -> ((s, d) => {
      // model NER (M3's trainable path): token-level NB over char-3grams
      // of the token, classes {name, other}, trained and evaluated on
      // the synthesized token fixture — exact-count confusion matrix,
      // partitioning-invariant (d20 argument), pinned in the oracle.
      val ids = docs(s, d).select("doc_id")
      val toks = TrainedNer.synthTokenFixture(ids)
      val model = TrainedNer.train(toks)
      TrainedLid.predict(toks, "token", model, "ner_pred")
        .groupBy(col("is_name"), col("ner_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("is_name", "ner_pred")
    }),

    "d22_bm25" -> ((s, d) =>
      // BM25 retrieval over the corpus for a 3-term query: one
      // stats-row reduction broadcast back over the scoring scan (see
      // TextAnalysis.bm25). Scores round to 6dp BEFORE the ordering so
      // the top-50 cut is decided on the hash-compared value.
      TextAnalysis.bm25(docs(s, d).select("doc_id", "text"), "text",
          Seq("join", "hash", "data"))
        .select(col("doc_id"), col("bm25"))
        .orderBy(desc("bm25"), asc("doc_id")).limit(50)),

    "d23_decontaminate" -> ((s, d) => {
      // benchmark decontamination: eval suite = every 97th doc (the
      // leaked-verbatim scenario — eval docs ARE in the corpus, so the
      // operator provably fires: each eval doc flags itself and any
      // near-duplicate sharing a word-5gram). The eval-gram side is
      // broadcast, so the corpus never shuffles for matching; the
      // report-back join is AQE's call (see Decontamination).
      val all = docs(s, d)
      Decontamination.overlapReport(
          all, all.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 5)
        .orderBy("doc_id")
    }),

    "d33_bloom_decontaminate" -> ((s, d) => {
      // the bloom-prefiltered twin of d23 on a different eval split:
      // eval grams collapse to ONE bounded sketch, corpus grams die
      // map-side at might_contain, and only bloom survivors reach the
      // exact-verify join. The report is exact (verify kills false
      // positives; false negatives can't happen), so the oracle is the
      // same plain SQL as d23's — the bloom must be invisible in the
      // output or this row hash-fails.
      val all = docs(s, d)
      Decontamination.bloomOverlapReport(
          all, all.filter(col("doc_id") % 89 === 3), "doc_id", "text", n = 5)
        .orderBy("doc_id")
    }),

    "d35_gopher_gate" -> ((s, d) =>
      // the full published Gopher rule set as one ordered judge: the
      // fixture spreads verdicts across several rules (short docs fail
      // word count, non-English docs fail the stopword rule, ~half
      // pass), so the chain order itself is under the hash.
      // minStopHits = 1: the synthetic vocabulary carries only 'the'
      // from the published list, and the paper's >= 2 would blank the
      // pass branch entirely.
      Decontamination.gopherGate(docs(s, d).select("doc_id", "text"), "text",
          minStopHits = 1)
        .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
          "frac_alpha_words", "frac_bullet_lines", "frac_ellipsis_lines",
          "stop_hits", "dup_3gram_frac", "top_2gram_frac",
          "gopher_reason", "gopher_keep")
        .orderBy("doc_id")),

    "x08_pipeline_e2e" -> ((s, d) => {
      // the ingest gate as ONE composed plan — quality judge → exact
      // dedup canonical → train-split cut → per-lang accounting. Every
      // stage is an already-oracled operator (d03, d07, d37); what
      // this row checks is the COMPOSITION: the judge filter runs in
      // the scan projection, the dedup window partitions by the
      // fingerprint of the survivors only, the split cut is another
      // scan-level predicate, and the final aggregation is the only
      // other shuffle.
      val h2 = splitBucket
      val ok = docs(s, d)
        .where(TextFunctions.judgeReason(col("text"), judgeT) === "ok")
      Dedup.exact(ok, "doc_id", "text")
        .where(h2 < "cd")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text"))).cast("long").as("n_tokens"))
        .orderBy("lang")
    }),

    "d41_source_card" -> ((s, d) => {
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
    }),

    "d40_corpus_card" -> ((s, d) => {
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
    }),

    "d39_soft_quality_sample" -> ((s, d) => {
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
    }),

    "d37_split_assign" -> ((s, d) => {
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
    }),

    "d36_dsir" -> ((s, d) =>
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
        .orderBy("doc_id")),

    "d34_bigram_ppl" -> ((s, d) => {
      // CCNet-shaped quality scoring: train a top-64-vocab bigram LM on
      // the corpus (bounded artifact), then score every doc in one
      // zero-shuffle map pass. The per-doc log-prob sum folds in
      // position order on BOTH engines, so no float depends on
      // aggregation order anywhere in the query.
      val all = docs(s, d)
      val lm = TextAnalysis.trainBigramLm(all, "text", vocabSize = 64)
      TextAnalysis.bigramPerplexity(all.select("doc_id", "text"), "text", lm)
        .select("doc_id", "n_bigrams", "avg_logp", "ppl")
        .orderBy("doc_id")
    }),

    "d74_bigram_ppl_capped" -> ((s, d) => {
      // d34's LM with the count-pruning cap ENGAGED: the fixture
      // exhibits 916 distinct bigrams at V=64, so maxBigrams=256
      // demonstrably binds — the driver-side table is top-256 by
      // (count DESC, bigram ASC) and every dropped tail bigram scores
      // as unseen under add-one smoothing (the KenLM-style pruning
      // trade trainBigramLm documents). Scoring stays the same
      // zero-shuffle position-order fold; the oracle replays the
      // identical top-256 cut in SQL before building its bigram map.
      val all = docs(s, d)
      val lm = TextAnalysis.trainBigramLm(all, "text", vocabSize = 64,
        maxBigrams = 256)
      TextAnalysis.bigramPerplexity(all.select("doc_id", "text"), "text", lm)
        .select("doc_id", "n_bigrams", "avg_logp", "ppl")
        .orderBy("doc_id")
    }),

    "d75_semantic_decontaminate" -> ((s, d) => {
      // Embedding-space decontamination: the n-gram paths (d23/d33)
      // catch verbatim leaks; this drops corpus rows COSINE-near any
      // eval-suite embedding, the semantic leak audit. Eval here = 22
      // simulated leaked items at sf0.01: the vec_id % 23 draw scaled
      // by 2 — cosine is scale-invariant, so each eval vector scores
      // EXACTLY 1.0 against its leaked source while the corpus's
      // highest cross cosine is 0.477 at any SF — tau 0.99 sits a
      // numerically bulletproof 0.51 margin from the nearest
      // non-planted value (measured across sf0.001/0.01/0.1). Eval
      // side broadcast; the anti-join is a BroadcastNestedLoopJoin
      // over ONE corpus scan — zero shuffle at any corpus size.
      val e = emb(s, d)
      // fixed-size eval suite: vec_id < 500 is vacuous at the sf0.01
      // gate (ids 0-499) and pins the suite at any step-up — a real
      // decon eval set does not grow with the corpus
      val evalSet = e.filter(col("vec_id") % 23 === 0 && col("vec_id") < 500)
        .select(transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      Decontamination.semanticDecontaminate(e, evalSet, "embedding", tau = 0.99)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    }),

    "d79_fuzzy_decontaminate" -> ((s, d) => {
      // FUZZY decontamination (the Dolma/RedPajama near-verbatim leak
      // audit): flag corpus docs whose whole-document char-5gram
      // Jaccard vs ANY eval doc >= 0.8. Eval = the % 101 = 7 split of
      // the first 500 ids — a FIXED-SIZE suite (real decon eval sets do
      // not grow with the corpus; the bound is vacuous at the sf0.01
      // gate and pins the suite at any step-up)
      // (leaked-verbatim scenario, d23's convention — eval docs ARE in
      // the corpus, so every eval doc convicts itself at J = 1.0 and
      // near-dup templates convict across). Candidates come from the
      // eval side's 32-row-per-doc band index met by the corpus band
      // rows in an AQE-broadcast equi-join (the corpus never shuffles
      // for matching); verdicts are EXACT Jaccard on colliding pairs
      // only, so the report equals the brute-force corpus x eval graph
      // the oracle computes — the x01-pinned full-recall property,
      // pointed across corpora.
      val all = docs(s, d)
      Decontamination.fuzzyOverlapReport(
          all, all.filter(col("doc_id") % 101 === 7 && col("doc_id") < 500),
          "doc_id", "text",
          threshold = 0.8)
        .orderBy("doc_id")
    }),

    "d80_span_decontaminate" -> ((s, d) => {
      // SPAN-level (surgical) decontamination: excise every 8-token
      // run that appears verbatim anywhere in the eval suite instead
      // of dropping whole docs — x15's stride-1 ExactSubstr kernel
      // pointed across corpora, with NO first-occurrence survivor.
      // The eval suite is built the way real leaks happen: benchmark
      // passages EXTRACTED from corpus documents (tokens 5..16 of
      // every 53rd doc), so the surgical case provably fires — each
      // source doc loses exactly that 12-token run and KEEPS the rest
      // (whole-doc dropping, d23/d79's move, would have destroyed it),
      // and any other doc sharing the run loses it too. Eval
      // fingerprints are benchmark-sized -> the corpus's ~1 row/token
      // window stream meets them in a broadcast semi-join and never
      // shuffles; span merge is per-doc bounded (gaps-and-islands, the
      // spanExcise contract). The oracle rebuilds passage extraction /
      // windows / membership marking / island merge / reassembly in
      // SQL on the raw window STRINGS — fingerprinting must be
      // invisible in the output or this row hash-fails.
      val all = docs(s, d)
      val toks = split(regexp_replace(trim(col("text")), "\\s+", " "), " ")
      val evalDocs = all.filter(col("doc_id") % 53 === 0 && col("doc_id") < 500)
        .select(col("doc_id"), array_join(slice(toks, 5, 12), " ").as("text"))
      Decontamination.spanDecontaminate(all, evalDocs, "doc_id", "text",
          window = 8)
        .orderBy("doc_id")
    }),

    "d83_compression_quality" -> ((s, d) =>
      // the zlib-redundancy quality signal (the cheap filter used
      // beside the Gopher n-gram fractions): per-source doc counts,
      // mean deflate ratio, and how many docs compress below 0.45 —
      // template-heavy suspects on this fixture (corpus range
      // 0.40..1.02). The per-doc ratio is a codegen'd custom
      // Expression (one streaming deflate pass, count-only); ratios
      // enter aggregation as ROUNDED integer micros so the sums are
      // exact longs — partial-agg reordering can never flip a bit
      // (the q29 integer-cents rule). Deterministic for the JVM's
      // bundled zlib at a fixed level -> pinned oracle (d20
      // convention).
      docs(s, d).select(col("source"),
          round(HashFunctions.deflateRatio(col("text")) * 1e6, 0)
            .cast("long").as("rm"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("rm").as("sum_micro"),
          sum(when(col("rm") < 450000L, 1L).otherwise(0L)).as("n_boilerplate"))
        .select(col("source"), col("n_docs"),
          (col("sum_micro") / col("n_docs")).cast("long").as("avg_ratio_micro"),
          col("n_boilerplate"))
        .orderBy("source")),

    "d82_keyword_tagging" -> ((s, d) =>
      // domain labeling ahead of mixture design: five (tag, phrase)
      // rules — 1-, 2-, and 3-word phrases so every shingle width
      // fires — applied as one zero-shuffle literal-table projection
      // (streaming-ready by construction). The oracle restates
      // word-sequence matching as padded-LIKE over the same
      // normalization, so a substring-of-a-word false hit or a missed
      // cross-width phrase hash-fails the row.
      TextAnalysis.tagKeywords(docs(s, d).select("doc_id", "text"), "text",
          Seq(("engine", "spark"), ("ml", "vector"),
            ("ui", "window table"), ("etl", "batch window"),
            ("sql3", "agg row scan")))
        .select("doc_id", "tags")
        .orderBy("doc_id")),

    "d81_span_decon_provenance" -> ((s, d) => {
      // the audit trail a release review reads BEFORE excising (d80's
      // pre-flight, the d78 convention applied across corpora): which
      // corpus docs are hit, how many of their windows, and by WHICH
      // eval items — one corpus-window x eval-window inner join (eval
      // side AQE-broadcast) + one bounded per-doc aggregate. The
      // deterministic exemplar (min eval id) is what the audit quotes.
      val all = docs(s, d)
      val toks = split(regexp_replace(trim(col("text")), "\\s+", " "), " ")
      val evalDocs = all.filter(col("doc_id") % 53 === 0 && col("doc_id") < 500)
        .select(col("doc_id"), array_join(slice(toks, 5, 12), " ").as("text"))
      Decontamination.spanDecontaminationProvenance(
          all, evalDocs, "doc_id", "text", window = 8)
        .orderBy("doc_id")
    }),

    "d24_repetition" -> ((s, d) =>
      // Gopher-style repetition quality signals (Rae et al. 2021
      // §A.1.1): duplicate word-3gram fraction and top word-2gram
      // fraction, pure per-row exprs — zero shuffle at any scale. The
      // synthetic vocabulary is small, so both signals take non-trivial
      // values on nearly every doc.
      Decontamination.repetitionSignals(
          docs(s, d).select("doc_id", "text"), "text")
        .select("doc_id", "dup_3gram_frac", "top_2gram_frac")
        .orderBy("doc_id")),

    "d26_line_dedup" -> ((s, d) => {
      // corpus-level line dedup over d19-style synthesized multi-line
      // docs: within-doc repeats (even ids) AND cross-doc collisions
      // (8-char slices recur across docs) both lose to the global
      // (doc_id, pos)-first occurrence; docs reassemble from surviving
      // lines, possibly to empty text.
      Dedup.lineDedup(docs(s, d).select(col("doc_id"), multiLineSynth.as("text")),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    "d38_passage_trim" -> ((s, d) =>
      // duplicate-passage EXCISION (Lee et al. remove the spans, not
      // the docs): consecutive 10-token blocks, global first
      // occurrence survives, docs reassemble from surviving blocks —
      // the planted near-dup clusters lose their shared spans while
      // their unique tails survive, so n_blocks_kept < n_blocks
      // exactly where d28 reports sharing.
      Dedup.passageTrim(docs(s, d).select("doc_id", "text"), "doc_id", "text")
        .orderBy("doc_id")),

    "d28_dup_passages" -> ((s, d) =>
      // duplicate-passage report (Lee et al. token-window form): at
      // sf0.01 the planted near-dup clusters share 418 aligned 10-token
      // windows across 47 docs — the oracle recomputes document
      // frequency per md5 window exactly.
      Dedup.dupPassageReport(docs(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    "d27_temperature_mixture" -> ((s, d) => {
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
    }),

    "d31_chunking" -> ((s, d) =>
      // context-window chunking (20-token chunks, 5-token overlap):
      // integer-only arithmetic, so the oracle reproduces every chunk
      // boundary and the truncated final chunk exactly.
      TextAnalysis.chunk(docs(s, d).select("doc_id", "text"), "text",
          chunkTokens = 20, overlap = 5)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("chunk_text"), col("chunk_tokens"))
        .orderBy("doc_id", "chunk_id")),

    "e07_quantize" -> ((s, d) =>
      // int8 symmetric quantization of the embedding table: scale,
      // reconstruction-error bound, and the code checksum are one fixed
      // expression tree over exactly-cast floats — SQL-reproducible.
      Similarity.quantizeInt8(emb(s, d).select("vec_id", "embedding"), "embedding")
        .select(col("vec_id"), col("scale"), col("max_abs_err"),
          aggregate(col("qvec"), lit(0L), (a, x) => a + x).as("q_sum"))
        .orderBy("vec_id")),

    "e08_semantic_dedup" -> ((s, d) => {
      // SemDeDup: kept set after cluster-scoped cosine dedup. Centroids
      // are a deterministic modulo sample (16 of 500 at sf0.01) so the
      // oracle can rebuild the identical coarse quantizer in SQL; the
      // 0.42 threshold sits below the random-cosine ceiling of the
      // synthetic fixture (max pairwise cosine ~0.51) so the merge path
      // actually fires. The oracle recomputes assignment, the
      // within-cell-only pair graph, and its transitive closure — so a
      // cross-cell pair wrongly found, or a within-cell pair missed,
      // both hash-mismatch.
      val e = emb(s, d)
      val cents = e.filter(pmod(col("vec_id"), lit(31)) === 7 && col("vec_id") < 500)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
      Dedup.semanticDedup(e, "vec_id", "embedding", cents, threshold = 0.42)
        .select("vec_id", "label").orderBy("vec_id")
    }),

    "e09_pq_knn" -> ((s, d) => {
      // product-quantization ANN: corpus encoded against modulo-sampled
      // codebooks (16 entries x 8 subspaces of 8 dims), queries score
      // exact squared-L2 against the reconstructions (the ADC value).
      // The oracle rebuilds codebooks, per-subspace argmin encoding,
      // reconstruction, and every distance in plain SQL — a single
      // wrongly-snapped subvector anywhere hash-fails the row.
      val e = emb(s, d)
      val cents = e.filter(pmod(col("vec_id"), lit(31)) === 7 && col("vec_id") < 500)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
      Similarity.pqTopK(e.filter(col("vec_id") < 10), e,
          "vec_id", "vec_id", "embedding", cents, m = 8, k = 5)
        .orderBy("query_id", "rank")
    }),

    "q33_salted_skew_join" -> ((s, d) => {
      // the explicit skew-join path under the gate: l_returnflag has
      // cardinality 3 (every key is a hot key), the 3-row dim is
      // salt-replicated 8x, and the salted result must equal the plain
      // join bit-for-bit — salt values are nondeterministic but cannot
      // affect the joined SET (the dim carries every salt). Products
      // are integer-exact doubles, so the 2dp-rounded sum is stable
      // under any partial-agg order.
      val dim = li(s, d).select(col("l_returnflag")).distinct()
        .withColumn("weight", ascii(col("l_returnflag")).cast("double"))
      SkewJoin.saltedInnerJoin(li(s, d), dim, "l_returnflag", buckets = 8)
        .groupBy("l_returnflag")
        .agg(round(sum(col("l_quantity") * col("weight")), 2).as("weighted_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    "d32_expectations" -> ((s, d) =>
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
        .orderBy("check")),

    "d29_mixture_report" -> ((s, d) => {
      // the mixture design sheet for d27's budget: per-source natural
      // size, flattened keep probability, realized kept counts — all
      // deterministic, so the oracle recomputes the whole sheet.
      val withTok = docs(s, d).select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).as("n_tok"))
      Sampling.mixtureReport(withTok, "source", col("n_tok"),
          "doc_id", tokenBudget = 10000.0)
        .orderBy("source")
    }),

    "b01_bucketed_join" -> ((s, d) => {
      // the pay-the-shuffle-once path END-TO-END in the gate: bucket
      // orders and lineitem on the join key at write time, then join +
      // aggregate on that key with ZERO shuffle Exchanges — asserted at
      // plan time, so a bucketing regression fails the gate loudly, not
      // just a spec. hint("merge") keeps the question about bucketing
      // (a broadcast would dodge the Exchange some other way).
      import graft.core.Bucketing
      Seq("graft_b01_orders", "graft_b01_lineitem").foreach(t =>
        Bucketing.dropTable(s, t))
      Bucketing.writeBucketed(ord(s, d).select("o_orderkey"),
        "graft_b01_orders", "o_orderkey", buckets = 8)
      Bucketing.writeBucketed(
        li(s, d).select(col("l_orderkey").as("o_orderkey"),
          col("l_extendedprice"), col("l_discount")),
        "graft_b01_lineitem", "o_orderkey", buckets = 8)
      val joined = s.table("graft_b01_orders").hint("merge")
        .join(s.table("graft_b01_lineitem"), Seq("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_lines"))
      require(Bucketing.shuffleExchanges(joined) == 0,
        "bucketed join+agg must plan with zero shuffle Exchanges:\n" +
          joined.queryExecution.executedPlan)
      joined.orderBy(desc("revenue"), asc("o_orderkey")).limit(20)
    }),

    "b02_partition_pruning" -> ((s, d) => {
      // partition pruning END-TO-END in the gate: docs written
      // partitionBy(lang), read back filtered to ONE lang — the plan
      // must show a pushed partition filter selecting exactly one
      // directory (asserted at plan time, b01's convention). At 100 TB
      // hive-style partition dirs on coarse keys are the first scan
      // saver: the filter never touches the other partitions' files,
      // not even their footers.
      import graft.core.Bucketing
      val stage = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_part_docs_${math.abs(d.hashCode)}").toString
      docs(s, d).write.mode("overwrite").partitionBy("lang").parquet(stage)
      val pruned = s.read.parquet(stage).where(col("lang") === "fr")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
      val (nDirs, pushed) = Bucketing.scannedPartitions(pruned)
      require(pushed && nDirs == 1,
        s"lang=fr read must prune to 1 partition dir (got $nDirs, pushed=$pushed):\n" +
          pruned.queryExecution.executedPlan)
      pruned.orderBy("source")
    }),

    "ev11_zorder_layout" -> ((s, d) => {
      // Z-order (Morton) layout planner: interleave 8 bits of user_id
      // with 8 bits of the event's day index, bucket rows by z-prefix
      // (z >> 10), and report per-bucket extents in BOTH dimensions.
      // Every bucket covering a narrow user range AND a narrow day
      // range is the data-skipping property a z-sorted file layout
      // buys at 100 TB: min-max footer pruning then works for queries
      // filtering on either column, where a single-column sort helps
      // only one. Pure integer projection + one bounded agg; the
      // oracle recomputes the interleave arithmetic bit for bit.
      val x = expr("user_id % 256")
      val y = expr("((ts div 1000) div 86400000000) % 256")
      val z = (0 until 8).map(i =>
        shiftleft(shiftright(x, i).bitwiseAND(lit(1)), 2 * i) +
          shiftleft(shiftright(y, i).bitwiseAND(lit(1)), 2 * i + 1)
      ).reduce(_ + _)
      ev(s, d)
        .select(col("user_id"),
          expr("(ts div 1000) div 86400000000").as("day"), z.as("z"))
        .groupBy(shiftright(col("z"), 10).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("user_id").as("min_user"), max("user_id").as("max_user"),
          min("day").as("min_day"), max("day").as("max_day"))
        .orderBy("bucket")
    }),

    "x03_ngram_jaccard_dedup" -> ((s, d) =>
      // kept set after near-dedup; the oracle rebuilds the exact word-3gram
      // Jaccard graph and its transitive closure in SQL, so this asserts
      // the full pipeline: LSH blocking recall, exact verify, distributed
      // CC, and min-id canonical pick
      Dedup.ngramJaccard(docs(s, d), "doc_id", "text", n = 3, threshold = 0.8)
        .select("doc_id").orderBy("doc_id")),

    "x07_incremental_dedup" -> ((s, d) => {
      // continuous-ingest dedup: docs >= 400 arrive as a new batch and
      // dedupe against the band index of the first 400 — kept = no
      // indexed doc with exact char-5gram Jaccard >= 0.8. The oracle
      // recomputes that by brute force, so a hash match asserts the
      // band collision had FULL RECALL and the verify stage dropped
      // nothing it shouldn't (same convention as x01/x02).
      val all = docs(s, d)
      val corpus = all.filter(col("doc_id") < 400)
      val newBatch = all.filter(col("doc_id") >= 400)
      val idx = Dedup.bandIndex(corpus, "doc_id", "text")
      Dedup.incrementalMinhash(newBatch, "doc_id", "text", corpus, idx,
          threshold = 0.8)
        .select("doc_id").orderBy("doc_id")
    }),

    "x04_embedding_neardup" -> ((s, d) =>
      Dedup.embeddingCosine(emb(s, d), "vec_id", "embedding", threshold = 0.97)
        .groupBy("label").agg(count(lit(1)).as("n_kept")).orderBy("label")),

    "x05_source_similarity" -> ((s, d) => {
      val sigs = Dedup.minhashSignatures(docs(s, d), "doc_id", "text")
        .join(docs(s, d).select(col("doc_id").as("id"), col("source")), "id")
      val unions = sigs.groupBy("source")
        .agg(graft.functions.MinHashUnionAgg.minhashUnion(col("signature")).as("usig"))
      val a = unions.select(col("source").as("sa"), col("usig").as("ua"))
      val b = unions.select(col("source").as("sb"), col("usig").as("ub"))
      // one row per source: broadcast turns the inequality pair join
      // into a BroadcastNestedLoopJoin instead of a CartesianProduct
      a.join(broadcast(b), col("sa") < col("sb"))
        .select(col("sa"), col("sb"),
          round(graft.functions.MinHashUnionAgg.estimatedJaccard(col("ua"), col("ub")), 4).as("est_jaccard"))
        .orderBy(desc("est_jaccard"), asc("sa"), asc("sb"))
        .limit(20)
    }),

    "x06_source_jaccard" -> ((s, d) => {
      // EXACT corpus-level source similarity: J(A,B) over the union of
      // each source's distinct char-5gram sets, computed distributed
      // (explode -> distinct (source,gram) -> equi-join on gram ->
      // count), no collect. Complements x05's one-pass MinHash-union
      // sketch: same question, exact answer — and the oracle-checkable
      // yardstick for the sketch's estimates. Scale note: fanout of the
      // gram join is #sources-sharing-a-gram per gram; with corpus-level
      // source counts (1e2..1e3) that is bounded, unlike a doc-level join.
      // grams travel as xxhash64 longs, not strings: set cardinalities
      // (and so Jaccard) are preserved modulo 64-bit collisions
      // (~1e-8 at 1M distinct grams — and the exact oracle would catch
      // one). Intersections come from ONE shuffle on the gram: each gram
      // group holds its (bounded, <= #sources) source set and expands
      // source pairs locally — no second copy of the gram table, no
      // equi-join.
      val grams = docs(s, d).select(col("source"), explode(
          graft.functions.HashFunctions.charShingleHashes(
            TextFunctions.normalizeForDedup(col("text")), 5)).as("g"))
        .distinct()
      val sizes = grams.groupBy("source").agg(count(lit(1)).as("sz"))
      val inter = grams.groupBy("g")
        .agg(sort_array(collect_set(col("source"))).as("ss"))
        .where(size(col("ss")) > 1)
        .select(explode(expr(
          """flatten(transform(sequence(0, size(ss)-2), i ->
               transform(slice(ss, i+2, size(ss)), v ->
                 named_struct('sa', ss[i], 'sb', v))))""")).as("p"))
        .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.select(col("source").as("sa"), col("sz").as("za")), "sa")
        .join(sizes.select(col("source").as("sb"), col("sz").as("zb")), "sb")
        .select(col("sa"), col("sb"),
          round(col("inter").cast("double")
            / (col("za") + col("zb") - col("inter")), 6).as("jaccard"))
        .orderBy("sa", "sb")
    }),

    // ---------------- similarity search ----------------
    "e01_cosine_knn" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.bruteForceTopK(
          e.filter(col("vec_id") < 20), e, "vec_id", "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank").cast("int").as("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),

    "e14_hard_negatives" -> ((s, d) => {
      // contrastive-training hard-negative mining: per anchor, top-5
      // corpus vectors with cosine in [0.25, 0.45) — both bounds BIND
      // on the fixture (114 in-band rows, 1 row above hi) and the
      // nearest cosine sits 4.7e-4 from a bound, ~1e11 times the
      // cross-engine float noise, so band membership cannot flip.
      // Output drops the score (the e01 convention: rank order is the
      // contract, not float repr).
      val e = emb(s, d)
      Similarity.hardNegatives(e.filter(col("vec_id") < 10), e,
          "vec_id", "vec_id", "embedding", k = 5, lo = 0.25, hi = 0.45)
        .select(col("anchor_id"), col("rank").cast("int").as("rank"),
          col("negative_id"))
        .orderBy("anchor_id", "rank")
    }),

    "e02_embedding_norms" -> ((s, d) =>
      emb(s, d).groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(avg(Similarity.norm(col("embedding"))), 4).as("avg_norm"))
        .orderBy("label")),

    "e03_lsh_knn" -> ((s, d) => {
      // recall@5 of the sign-LSH path against the exact brute-force truth
      // (itself oracle-verified as e01), computed entirely in-plan; the
      // oracle pins the deterministic measured value, turning ANN quality
      // into a regression gate
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 20)
      val truth = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", 5)
        .select("query_id", "neighbor_id")
      val approx = Similarity.lshTopK(q, e, "vec_id", "vec_id", "embedding",
          5, planes = 6, multiProbeBits = 4, tables = 16)
        .select("query_id", "neighbor_id")
      approx.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(20L).as("n_queries"), col("n_hits"),
          round(col("n_hits").cast("double") / lit(100.0), 4).as("recall_at_5"))
    }),

    "e04_ivf_knn" -> ((s, d) => {
      // same recall-gate construction as e03, for the IVF path
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 20)
      val truth = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", 5)
        .select("query_id", "neighbor_id")
      val approx = Similarity.ivfTopK(q, e, "vec_id", "vec_id", "embedding",
          5, nCentroids = 16, nProbe = 8)
        .select("query_id", "neighbor_id")
      approx.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(20L).as("n_queries"), col("n_hits"),
          round(col("n_hits").cast("double") / lit(100.0), 4).as("recall_at_5"))
    }),

    "e17_persisted_ivf" -> ((s, d) => {
      // the FAISS deployment lifecycle as a gate: build the IVF index
      // OFFLINE (quantizer fit + one zero-shuffle assignment scan +
      // cell-partitioned parquet write), then probe the on-disk index
      // and demand bit-equality with the in-memory ivfTopK path —
      // exceptAll in BOTH directions, so a single moved neighbor or
      // score fails the row. The probe joins the partitioned scan on
      // its PARTITION column against a broadcast probe side, so only
      // probed cells' files are read (partition pruning is the on-disk
      // cell join). Quantizer determinism (bounded hash-ordered kmeans
      // sample) is what makes offline == online exact.
      import s.implicits._
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 20)
      val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
      Similarity.writeIvfIndex(e, "vec_id", "embedding", dir, nCentroids = 16)
      val persisted = Similarity.ivfIndexTopK(q, dir, "vec_id", "embedding",
        5, nProbe = 8)
      val live = Similarity.ivfTopK(q, e, "vec_id", "vec_id", "embedding",
        5, nCentroids = 16, nProbe = 8)
      Seq((persisted.count(),
        persisted.exceptAll(live).count(),
        live.exceptAll(persisted).count()))
        .toDF("n_rows", "only_persisted", "only_live")
    }),

    "e05_kmeans_clusters" -> ((s, d) => {
      val clustered = Similarity.kmeansClusters(emb(s, d), "vec_id", "embedding", 8)
      clustered.agg(
        countDistinct("cluster").cast("long").as("n_clusters"),
        count(lit(1)).as("n_points"))
    }),

    "e06_centroid_similarity" -> ((s, d) => {
      val centroids = emb(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos").agg(round(avg(col("v").cast("double")), 6).as("c"))
      val a = centroids.select(col("label").as("la"), col("pos"), col("c").as("ca"))
      val b = centroids.select(col("label").as("lb"), col("pos"), col("c").as("cb"))
      a.join(b, "pos").where(col("la") < col("lb"))
        .groupBy("la", "lb")
        .agg(round(sum(col("ca") * col("cb"))
          / (sqrt(sum(col("ca") * col("ca"))) * sqrt(sum(col("cb") * col("cb")))), 4).as("cos"))
        .orderBy("la", "lb")
    }),

    // ---------------- multimodal binary columns ----------------
    "m01_multimodal_features" -> ((s, d) => {
      val assets = Multimodal.synthesizeAssets(docs(s, d).select("doc_id"), "doc_id")
      Multimodal.extractFeatures(assets)
        .groupBy("kind")
        .agg(count(lit(1)).as("n"), min("n_bytes").as("min_bytes"), max("n_bytes").as("max_bytes"))
        .orderBy("kind")
    }),

    "m02_audio_features" -> ((s, d) => {
      // per-asset audio features hash-checked against a from-scratch
      // SQL recomputation: the synth waveform is a closed-form
      // function of the id, so the oracle rebuilds the samples with
      // sin/trunc and replays RMS / zero-crossing rate / mean as
      // position-order folds — the row only matches if the WAV
      // encode→decode roundtrip is byte-exact AND the feature math is
      // bit-equal (double folds, float quantization, then 6dp).
      val assets = Multimodal.synthesizeAssets(docs(s, d).select("doc_id"), "doc_id")
      Multimodal.extractFeatures(assets.filter(col("kind") === "audio"))
        .select(col("asset_id"),
          round(element_at(col("features"), 1).cast("double"), 6).as("rms"),
          round(element_at(col("features"), 2).cast("double"), 6).as("zcr"),
          round(element_at(col("features"), 3).cast("double"), 6).as("mean_s"))
        .orderBy("asset_id")
    }),

    "m03_image_features" -> ((s, d) => {
      // the image twin of m02: per-asset channel means checked against
      // a from-scratch SQL replay of the 8x8 gradient formula — PPM
      // encode→decode must be byte-exact and the mean's float-division
      // chain bit-equal (DuckDB FLOAT/FLOAT division stays FLOAT, the
      // same IEEE single op the Scala path runs).
      val assets = Multimodal.synthesizeAssets(docs(s, d).select("doc_id"), "doc_id")
      Multimodal.extractFeatures(assets.filter(col("kind") === "image"))
        .select(col("asset_id"),
          round(element_at(col("features"), 1).cast("double"), 6).as("r_mean"),
          round(element_at(col("features"), 2).cast("double"), 6).as("g_mean"),
          round(element_at(col("features"), 3).cast("double"), 6).as("b_mean"))
        .orderBy("asset_id")
    }),

    "m04_video_features" -> ((s, d) => {
      // completes the codec trio (WAV m02, PPM m03): per-asset Y4M
      // frame luma means vs the SQL replay of the saturating
      // brighten-per-frame formula min(255, i*3 + f*20 + id%16) — the
      // C420 header/frame layout must decode byte-exactly.
      val assets = Multimodal.synthesizeAssets(docs(s, d).select("doc_id"), "doc_id")
      Multimodal.extractFeatures(assets.filter(col("kind") === "video"))
        .select(col("asset_id"),
          round(element_at(col("features"), 1).cast("double"), 6).as("f0_luma"),
          round(element_at(col("features"), 2).cast("double"), 6).as("f1_luma"),
          round(element_at(col("features"), 3).cast("double"), 6).as("f2_luma"),
          round(element_at(col("features"), 4).cast("double"), 6).as("f3_luma"))
        .orderBy("asset_id")
    }),

    "m07_scene_cuts" -> ((s, d) => {
      // shot-boundary detection over REAL Y4M payloads: each asset is
      // a 6-frame 8x8 video whose luma drifts +7/frame everywhere
      // (motion — mean diff exactly 7) with a planted +55 LEVEL SHIFT
      // at frame (id % 4) + 1 (the hard cut — mean diff exactly 62,
      // and exactly one boundary fires at threshold 30). Values stay
      // < 256 by construction, so every diff is integer-exact and the
      // oracle can state the planted truth directly: the gate proves
      // the C420 encode/decode roundtrip at 6 frames, the per-pixel
      // diff math, and the boundary flagging.
      import s.implicits._
      val vids = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val cut = (id % 4 + 1).toInt
        val frames = (0 until 6).map { f =>
          val shift = if (f >= cut) 55 else 0
          Array.tabulate(64)(i =>
            ((i * 2 + f * 7 + (id % 30).toInt + shift) & 0xff).toByte)
        }
        (id, Multimodal.encodeY4m(8, 8, 25, frames))
      }.toDF("asset_id", "data")
      Multimodal.sceneCuts(vids, threshold = 30.0)
        .orderBy("asset_id")
    }),

    "m08_audio_quality" -> ((s, d) => {
      // clip screening over REAL PCM16 WAVs: 240-sample assets with a
      // planted dead-air run (30 + id%20 samples of 0 from t=40) and a
      // planted saturation run (10 + id%10 samples of 32767 from
      // t=150) inside an always-positive carrier ((t*37+id*13)%3999+1 —
      // never 0, never near full scale, so ONLY the plants count).
      // Silence/clipping ratios and the exact integer energy must
      // survive the WAV encode/decode roundtrip; the oracle replays
      // the synthesis formula and the counts in SQL.
      import s.implicits._
      val wavs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val silLen = (30 + id % 20).toInt
        val clipLen = (10 + id % 10).toInt
        val samples = Array.tabulate[Short](240) { t =>
          if (t >= 40 && t < 40 + silLen) 0
          else if (t >= 150 && t < 150 + clipLen) 32767
          else (((t * 37 + id * 13) % 3999) + 1).toShort
        }
        (id, Multimodal.encodeWav(16000, samples))
      }.toDF("asset_id", "data")
      Multimodal.audioQuality(wavs).orderBy("asset_id")
    }),

    "m05_binary_dedup" -> ((s, d) => {
      // exact dedup over OPAQUE BINARY content — the multimodal twin of
      // d07 (text dedup): group by md5 of the raw bytes, first
      // occurrence (min id) survives, copies counted. The asset
      // dictionary is synthesized from doc_id % 48 so payloads
      // genuinely repeat, and the payload-per-seed table is joined back
      // BROADCAST (the dictionary is bounded; the corpus never
      // shuffles for the join — only the md5 group-by shuffles, on the
      // hash, which is uniform by construction). The oracle knows
      // nothing about bytes: it groups by the synthesis seed — the two
      // groupings agree ONLY if the codec output is byte-deterministic
      // and md5-over-binary separates every distinct payload.
      val seeds = docs(s, d)
        .select(pmod(col("doc_id"), lit(48)).cast("long").as("seed")).distinct()
      val dict = Multimodal.synthesizeAssets(seeds, "seed")
        .select(col("asset_id").as("seed"), col("kind"), col("data"))
      docs(s, d).select(col("doc_id"), pmod(col("doc_id"), lit(48)).as("seed"))
        .join(broadcast(dict), "seed")
        .groupBy(md5(col("data")).as("content_md5"), col("kind"))
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "kind", "n_copies")
        .orderBy("doc_id")
    }),

    // ---------------- PII redaction ----------------
    "p01_pii_redact" -> ((s, d) =>
      docs(s, d)
        .withColumn("synth", piiSynth(col("doc_id"), col("source"), col("text")))
        .select(col("doc_id"), PiiFunctions.redact(col("synth")).as("redacted"))
        .orderBy("doc_id")),

    "p02_pii_flags" -> ((s, d) =>
      docs(s, d)
        .withColumn("synth", piiSynth(col("doc_id"), col("source"), col("text")))
        .select(col("doc_id"),
          PiiFunctions.hasEmail(col("synth")).as("has_email"),
          PiiFunctions.hasIpv4(col("synth")).as("has_ip4"),
          PiiFunctions.hasSsn(col("synth")).as("has_ssn"),
          PiiFunctions.hasPhone(col("synth")).as("has_phone"))
        .orderBy("doc_id")),

    "w04_jsonl_roundtrip" -> ((s, d) => {
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
    }),

    "w05_csv_roundtrip" -> ((s, d) => {
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
    }),

    "w06_orc_roundtrip" -> ((s, d) => {
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
    }),

    "w07_corrupt_jsonl" -> ((s, d) => {
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
    }),

    "w08_schema_evolution" -> ((s, d) => {
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
    }),

    "w03_mojibake_repair" -> ((s, d) =>
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
        .orderBy("doc_id")),

    "w02_html_extract" -> ((s, d) => {
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
    }),

    "p04_card_luhn" -> ((s, d) => {
      // payment-card detection with Luhn checksum confirmation: card
      // digits synthesized from doc_id (p02's convention — the corpus
      // has no digits), so validity varies naturally (~10% pass) and
      // the checksum column actually discriminates. Extraction, the
      // integer checksum fold, and the conservative redaction are all
      // recomputed verbatim by the SQL oracle.
      docs(s, d)
        .select(col("doc_id"), concat(lit("order ref 4"),
          lpad(((col("doc_id") * 7919) % 99999999999999L).cast("string"), 14, "0"),
          lit(" thank you")).as("synth"))
        .withColumn("card_digits", PiiFunctions.firstCardDigits(col("synth")))
        .select(col("doc_id"), col("card_digits"),
          PiiFunctions.luhnValid(col("card_digits")).as("luhn_ok"),
          PiiFunctions.redactCards(col("synth")).as("redacted"))
        .orderBy("doc_id")
    }),

    "d55_url_domains" -> ((s, d) => {
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
    }),

    "g01_host_rank" -> ((s, d) => {
      // Distributed weighted PageRank over a deterministic host graph
      // (src = doc_id mod 37, dst = 7*doc_id mod 41, weight 1-5 —
      // multi-edges and self-loop drops included). Exact integer
      // fixed-point arithmetic makes the result bit-identical at any
      // partition count AND lets the oracle unroll the same three
      // iterations as plain CTEs (DuckDB's `//` == Spark's `div` on
      // non-negatives). See operators/PageRank.scala for the scale
      // shape: edges shuffled once, one join + one agg per iteration.
      val edges = docs(s, d).select(
        concat(lit("h"), (col("doc_id") % 37).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * 7) % 41).cast("string")).as("dst"),
        ((col("doc_id") % 5) + 1).as("w"))
      PageRank.run(edges, iterations = 3).orderBy("node")
    }),

    "g02_rank_weighted_hosts" -> ((s, d) => {
      // The curation flow g01 exists for: rank the host graph, then
      // join the node-sized rank table BACK onto the corpus host
      // mapping (AQE broadcasts it — model-artifact-sized, like the
      // LID/BPE deployments) and weight each host's doc mass by its
      // rank. All integer arithmetic, so the weights replay exactly.
      val edges = docs(s, d).select(
        concat(lit("h"), (col("doc_id") % 37).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * 7) % 41).cast("string")).as("dst"),
        ((col("doc_id") % 5) + 1).as("w"))
      val ranks = PageRank.run(edges, iterations = 3)
      docs(s, d)
        .select(col("doc_id"),
          concat(lit("h"), (col("doc_id") % 37).cast("string")).as("node"))
        .join(ranks, "node")
        .groupBy("node")
        .agg(count(lit(1)).as("n_docs"), max("rank_micro").as("rank_micro"))
        .withColumn("weight_micro", col("rank_micro") * col("n_docs"))
        .orderBy("node")
    }),

    "d56_domain_blocklist" -> ((s, d) => {
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
    }),

    "st17_stream_sliding" -> ((s, d) => {
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
    }),

    "st18_stream_chained_agg" -> ((s, d) => {
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
    }),

    "st19_stream_outer_join" -> ((s, d) => {
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
    }),

    "st20_stream_range_search" -> ((s, d) => {
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
    }),

    "st16_stream_blocklist" -> ((s, d) => {
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
    }),

    "d59_dup_cluster_histogram" -> ((s, d) => {
      // HOW duplicated is the corpus: the x03 near-dup graph's
      // component-size distribution (the report a curator reads before
      // choosing dedup aggressiveness). Same verified pair set as x03
      // (one shared implementation — ngramJaccardPairs), distributed CC
      // labels components, singletons join in as size-1 via the
      // left-join coalesce. Two bounded aggs after the CC; the oracle
      // rebuilds graph + closure recursively and must land on the
      // identical histogram.
      val all = docs(s, d)
      val pairs = Dedup.ngramJaccardPairs(all, "doc_id", "text", n = 3, threshold = 0.8)
      val comp = ConnectedComponents.run(pairs)
      all.select(col("doc_id"))
        .join(comp, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cid"))
        .groupBy("cid").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    }),

    "x12_dedup_audit" -> ((s, d) => {
      // dedup PROVENANCE: for every doc the x03 near-dedup drops,
      // WHICH canonical doc it lost to — the audit artifact a governed
      // pipeline stores next to the kept set ("where did my document
      // go"). Same verified pair set + distributed CC as x03/d59 (one
      // shared implementation); dropped = component members that are
      // not the min-id label, canonical = the label itself. The oracle
      // rebuilds the exact graph + transitive closure, so every
      // (dropped, canonical) edge is independently derived.
      val pairs = Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
        n = 3, threshold = 0.8)
      val comp = ConnectedComponents.run(pairs)
      comp.where(col("id") =!= col("component"))
        .select(col("id").as("dropped_id"), col("component").as("canonical_id"))
        .orderBy("dropped_id")
    }),

    "d58_k_anonymity" -> ((s, d) => {
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
    }),

    "p06_l_diversity" -> ((s, d) => {
      // l-diversity (Machanavajjhala et al. 2007), d58's companion
      // audit: k-anonymity alone leaks when a quasi-identifier group
      // is homogeneous in the SENSITIVE attribute — every member
      // shares the secret even though the group is large. Quasi-id =
      // (source, n_chars div 100 size band — narrow enough that 21 of
      // 116 groups are lang-homogeneous at gate SF, so the flag
      // demonstrably BINDS both ways); sensitive = lang. A group
      // passes at l=2 iff it carries >= 2 distinct langs; both
      // the distinct count and the k-size ride ONE aggregate on the
      // bounded quasi-id key space.
      docs(s, d)
        .groupBy(col("source"), expr("n_chars div 100").as("size_band"))
        .agg(count(lit(1)).as("k_size"),
          countDistinct(col("lang")).as("l_distinct"))
        .withColumn("diverse", col("l_distinct") >= 2)
        .orderBy("source", "size_band")
    }),

    "d57_edit_distance_neardup" -> ((s, d) => {
      // Edit-distance near-dup (the title/short-field dedup family —
      // MinHash is set-based and misses single-char edits): normalized
      // 40-char prefixes, blocked on (source, length div 8) so the
      // O(len^2) levenshtein only runs within blocks (one shuffle on
      // the block key; never all-pairs), match = distance <= 5 to an
      // EARLIER doc (lower id = first occurrence wins, the dedup
      // convention). Spark and DuckDB both ship levenshtein, so the
      // whole pipeline — normalize, block, verify, survivor set —
      // replays exactly in SQL.
      // Skew guard (embeddingCosine's maxBucket contract): within-block
      // pair generation is C(n,2), so blocks beyond the cap skip
      // pair-gen (members KEPT, not dropped — a documented recall
      // trade) — and the cap is REPLAYED in the oracle, so the gate
      // stays exact whether or not it fires.
      val pref = substring(regexp_replace(lower(trim(col("text"))), "\\s+", " "), 1, 40)
      val base = docs(s, d).select(col("doc_id"), col("source"), pref.as("p"))
        .withColumn("blk", floor(length(col("p")) / 8))
      val okBlocks = base.groupBy("source", "blk")
        .agg(count(lit(1)).as("bn"))
        .where(col("bn") <= 1000).select("source", "blk")
      val a = base.join(broadcast(okBlocks), Seq("source", "blk"))
        .select(col("source"), col("blk"), col("doc_id").as("src"), col("p").as("pa"))
      val b = base.select(col("source"), col("blk"), col("doc_id").as("dst"), col("p").as("pb"))
      // bounded-threshold levenshtein: banded O(len·k) DP that bails
      // out early (returns -1 past the bound) instead of the full
      // O(len²) matrix — same predicate, measured ~2x on this gate's
      // verify stage. DuckDB's unbounded levenshtein(..) <= 5 is
      // equivalent on the result set.
      val dupIds = a.join(b, Seq("source", "blk"))
        .where(col("dst") < col("src")
          && levenshtein(col("pa"), col("pb"), 5) >= 0)
        .select(col("src").as("doc_id")).distinct()
      base.join(dupIds, Seq("doc_id"), "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // ---------------- set operations / grouping sets ----------------
    "q27_intersect_custkeys" -> ((s, d) => {
      val o = ord(s, d)
      o.filter(col("o_totalprice") > 200000).select("o_custkey")
        .intersect(o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"))
        .orderBy("o_custkey")
    }),

    "q28_except_custkeys" -> ((s, d) => {
      val o = ord(s, d)
      o.filter(col("o_totalprice") > 200000).select("o_custkey")
        .except(o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"))
        .orderBy("o_custkey")
    }),

    "q29_grouping_sets" -> ((s, d) => {
      ord(s, d).createOrReplaceTempView("orders")
      // money summed in exact integer cents (BIGINT) and LEFT as cents —
      // round-tripping through /100.0 + round() reintroduces a double
      // whose last ulp (and the hash of its rendering) can differ
      // between Spark and DuckDB for >=1e7 totals. int64 hashes
      // identically everywhere.
      s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                      sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
               FROM orders
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
               ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
    }),

    // ---------------- exact percentiles / tf-idf ----------------
    "q30_percentiles" -> ((s, d) => {
      // type-1 discrete quantile (value at rank ceil(p*n)) - defined
      // identically in the oracle, so no interpolation-arithmetic skew.
      // Computed over a distinct-value count table with a distributed
      // running sum (Ranking.exactQuantiles) — the cardinality-3 group
      // key never becomes a single-task window sort of 1/3 of lineitem.
      val base = li(s, d).select("l_returnflag", "l_extendedprice", "l_quantity")
      // the two value columns need separate distinct-value count tables
      // — but their eager rank passes (repartition + checkpoint +
      // offset collect) are independent jobs; overlap them (guide §2.6)
      val Seq(price, qty) = inParallel(Seq(
        () => Ranking.exactQuantiles(base, "l_returnflag", "l_extendedprice",
          Seq(0.5 -> "p50", 0.95 -> "p95")),
        () => Ranking.exactQuantiles(base, "l_returnflag", "l_quantity",
          Seq(0.5 -> "q50"))))
      price.join(qty, "l_returnflag").orderBy("l_returnflag")
    }),

    "d14_tfidf_topterms" -> ((s, d) => {
      val words = docs(s, d).select(col("doc_id"),
        explode(split(TextFunctions.normalizeForDedup(col("text")), " ")).as("term"))
      val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfx = tf.groupBy("term").agg(count(lit(1)).as("dfc"))
      val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfx, "term").crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * log((col("n_docs") + 1.0) / (col("dfc") + 1.0)), 6))
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast("int").as("rnk"), col("term"), col("score"))
        .orderBy("doc_id", "rnk")
    }),

    // ---------------- scalar / correlated subquery shapes ----------------
    "q11_high_value_parts" -> ((s, d) => {
      val l = li(s, d)
      val parts = l.groupBy("l_partkey")
        .agg(round(sum(col("l_extendedprice") * col("l_quantity")), 2).as("sum_value"))
      val thr = l.agg(round(sum(col("l_extendedprice") * col("l_quantity")) * 0.01, -3).as("t"))
      parts.crossJoin(broadcast(thr)).filter(col("sum_value") > col("t"))
        .select("l_partkey", "sum_value")
        .orderBy(desc("sum_value"), asc("l_partkey"))
    }),

    "q17_small_quantity_revenue" -> ((s, d) => {
      val l = li(s, d); val p = part(s, d)
      val avgq = l.groupBy(col("l_partkey").as("pk")).agg((avg("l_quantity") * 0.2).as("thr"))
      l.join(broadcast(p.filter(col("p_brand") === "Brand#1")), l("l_partkey") === p("p_partkey"))
        .join(avgq, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < col("thr"))
        .agg(round(sum("l_extendedprice") / 7.0, 2).as("avg_yearly"))
    }),

    // ---------------- NER-style name redaction ----------------
    "p03_ner_redact" -> ((s, d) =>
      docs(s, d)
        .withColumn("synth", concat(lit("Alice "),
          upper(substring(col("lang"), 1, 1)), expr("substr(lang, 2)"),
          lit(" wrote "), substring(col("text"), 1, 30)))
        .select(col("doc_id"), PiiFunctions.redactNames(col("synth")).as("redacted"))
        .orderBy("doc_id")),

    // ---------------- streaming (AvailableNow) checked against batch oracle ----------------
    "st01_stream_hourly" -> ((s, d) => {
      s.catalog.dropTempView("st01_tbl")
      val stream = evStream(s, d)
        .withColumn("hr", date_trunc("hour", timestamp_micros(expr("ts div 1000"))).cast("timestamp_ntz"))
        .groupBy("hr", "event_type").agg(count(lit(1)).as("n"))
      graft.streaming.Streaming.runToMemory(stream, "st01_tbl",
        org.apache.spark.sql.streaming.OutputMode.Complete())
      s.table("st01_tbl").orderBy("hr", "event_type")
    }),

    "st03_stream_interval_join" -> ((s, d) => {
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
    }),

    "st04_stream_quality" -> ((s, d) => {
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
    }),

    "st06_stream_mixture" -> ((s, d) => {
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
    }),

    "st08_stream_dsir" -> ((s, d) => {
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
    }),

    "st09_stream_funnel" -> ((s, d) => {
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
    }),

    "st25_stream_funnel_ooo" -> ((s, d) => {
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
    }),

    "st07_stream_online_dedup" -> ((s, d) => {
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
    }),

    "st26_stream_span_filter" -> ((s, d) => {
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
    }),

    "st28_stream_decontaminate" -> ((s, d) => {
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
    }),

    "st30_stream_fuzzy_decon" -> ((s, d) => {
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
    }),

    "st32_stream_keyword_tagging" -> ((s, d) => {
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
    }),

    "st31_stream_span_decon" -> ((s, d) => {
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
    }),

    "st29_stream_preference_pairs" -> ((s, d) => {
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
    }),

    "st27_stream_span_ttl" -> ((s, d) => {
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
    }),

    "st10_stream_merge" -> ((s, d) => {
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
    }),

    "st05_stream_incremental_dedup" -> ((s, d) => {
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
    }),

    "st02_stream_dedup" -> ((s, d) => {
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
    }),

    "st15_stream_topk" -> ((s, d) => {
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
    }),

    // ---------------- heavy hitters (Misra-Gries + exact recount) ----------------
    "h01_heavy_hitters" -> ((s, d) =>
      // k >= distinct values makes the sketch provably exact, so the
      // whole path — per-partition summaries, kryo partial merge,
      // broadcast semi-join, exact recount — gates against plain SQL;
      // the undercount/compaction bounds are property-tested in specs
      HeavyHitters.topKExact(ev(s, d), "event_type", 5)
        .orderBy(desc("n"), asc("event_type"))),

    // ---------------- as-of (point-in-time) join ----------------
    "a01_asof_click" -> ((s, d) => {
      val e = ev(s, d).withColumn("us", expr("ts div 1000"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "us", "event_id")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("us").as("cus"), col("event_id").as("click_id"))
      AsOfJoin.backward(purchases, clicks, "user_id", "us", "cus", Seq("click_id"))
        .select(col("user_id"), col("event_id"), col("asof_click_id"))
        .orderBy("user_id", "event_id")
    }),

    // ---------------- WET source roundtrip ----------------
    "w01_wet_roundtrip" -> ((s, d) => {
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
    }),

    // ---------------- BPE tokenizer roundtrip (byte fallback + NFKC) ----------------
    "k03_tokenizer_fertility" -> ((s, d) => {
      // per-language tokenizer comparison — the reference's compare.py
      // report (reference: src/llm_data_pipeline/tokenizer/
      // compare.py:38-141) as a gate row: BPE fertility (subword
      // tokens per whitespace word) and compression (normalized chars
      // per token) per language, integer-exact sums then one rounded
      // division. CJK fertility towers over Latin (no whitespace
      // words to merge). Values depend on the trained merges — not
      // SQL-replayable — so the oracle pins the sf0.01 measurement
      // (d20 convention).
      val t = docs(s, d)
      // vocab 300 = 260 fixed + ~40 learnable merges: small enough
      // that words stay SPLIT (fertility > 1 everywhere) — at 2000 the
      // synthetic 31-word vocabulary collapses every word to one token
      // and the metric degenerates to 1.0
      val model = BpeTrainer.trainFromCorpus(t, "text", vocabSize = 300)
      Tokenizer.encode(t.select("doc_id", "lang", "text"), "text", model)
        .select(col("lang"),
          size(col("ids")).cast("long").as("nb"),
          TextFunctions.tokenCount(col("text")).cast("long").as("nw"),
          length(Tokenizer.normalizeForTokenize(col("text"))).cast("long").as("nc"))
        .groupBy("lang")
        .agg(sum("nb").as("bpe_tokens"), sum("nw").as("words"),
          sum("nc").as("chars"))
        .select(col("lang"), col("bpe_tokens"),
          round(col("bpe_tokens").cast("double") / col("words").cast("double"), 4)
            .as("fertility"),
          round(col("chars").cast("double") / col("bpe_tokens").cast("double"), 4)
            .as("chars_per_token"))
        .orderBy("lang")
    }),

    "k14_oov_report" -> ((s, d) => {
      // tokenizer-coverage QA — the report you run BEFORE committing a
      // vocab to a 100 TB tokenize pass: train a coverage-cut unigram
      // model (characterCoverage=0.98 drops the rarest 2% of the
      // char mass), then measure the byte-fallback (OOV-char)
      // footprint per language: fallback pieces / total pieces — the
      // signal that a vocab under-serves a language. On this template
      // corpus the cut tail spreads across all five languages
      // (5.5-6.3%, fr highest), so every row exercises the fallback
      // path; on a real corpus the report separates scripts the
      // alphabet cut hits hardest. One broadcast-model projection +
      // one bounded groupBy; deterministic (exact-Long trainer), so
      // the oracle pins the sf0.01 measurement (k03/d20 convention).
      val t = docs(s, d)
      val model = UnigramTrainer.trainFromCorpus(t, "text",
        vocabSize = 800, characterCoverage = 0.98)
      Tokenizer.encode(t.select("doc_id", "lang", "text"), "text", model)
        .select(col("lang"), size(col("ids")).cast("long").as("np"),
          size(filter(col("ids"), i =>
            i >= Tokenizer.ByteIdBase && i < Tokenizer.FirstLearnedId))
            .cast("long").as("nf"))
        .groupBy("lang")
        .agg(sum("np").as("pieces"), sum("nf").as("fallback_pieces"))
        .select(col("lang"), col("pieces"), col("fallback_pieces"),
          round(col("fallback_pieces").cast("double")
            / col("pieces").cast("double"), 6).as("fallback_rate"))
        .orderBy("lang")
    }),

    "k15_pack_efficiency" -> ((s, d) => {
      // the context-length pre-flight (d78/e15/e16's sweep convention
      // for the packer): run the REAL two-pass packer at seqLen =
      // 256..2048 and report chunks / trained / tail-dropped /
      // utilization per setting — the table you consult before fixing
      // a context length for a full tokenize+pack run. The oracle
      // states the analytic single-stream identity (total // L full
      // chunks, remainder = tail) that packExact's global-boundary
      // construction must reproduce at ANY partition count — so this
      // row re-gates the packer itself at four lengths.
      import s.implicits._
      val toks = docs(s, d).select(col("doc_id"),
        expr("transform(sequence(1, size(split(trim(text), '\\\\s+'))), i -> i)")
          .as("ids"))
        .localCheckpoint(true)
      val total = toks.agg(sum(size(col("ids")) + 1)).head().getLong(0)
      Seq(256, 512, 1024, 2048).map { l =>
        val n = Packer.packExact(toks, "doc_id", "ids", seqLen = l, eosId = Tokenizer.EosId)
          .count()
        val trained = n * l
        (l, n, trained, total - trained,
          BigDecimal(trained.toDouble / total)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toDF("seq_len", "n_chunks", "trained_tokens", "tail_tokens",
        "utilization").orderBy("seq_len")
    }),

    "k02_bpe_roundtrip" -> ((s, d) => {
      // decode(encode(t)) must equal the NFKC+flatten normalization of t
      // for EVERY document (including CJK), and no id may be unk — the
      // byte-fallback guarantee. The oracle states the invariant.
      import s.implicits._
      val t = docs(s, d)
      val model = BpeTrainer.trainFromCorpus(t, "text", vocabSize = 2000)
      val bc = s.sparkContext.broadcast(model)
      Tokenizer.encode(t.select("doc_id", "text"), "text", model)
        .select(col("doc_id"),
          Tokenizer.normalizeForTokenize(col("text")).as("norm"), col("ids"))
        .as[(Long, String, Seq[Int])]
        .map { case (id, norm, ids) =>
          val m = bc.value
          (id, m.decode(ids) == norm, ids.count(_ == Tokenizer.UnkId).toLong)
        }
        .toDF("doc_id", "roundtrip_ok", "n_unk")
        .orderBy("doc_id")
    }),

    "k16_sp_proto_roundtrip" -> ((s, d) => {
      // SentencePiece .model interop (reference tokenizer/run.py:35-48
      // loads the protobuf artifact; inspect_model.py dumps it): export
      // the trained BPE + unigram models to the public ModelProto wire
      // format, load them back, and encode every doc through BOTH the
      // in-memory and the proto-round-tripped model — ids must be
      // bit-identical per doc (piece tables checked equal driver-side,
      // so a silent table drift fails the gate before any encode).
      import s.implicits._
      val t = docs(s, d)
      // the two trainers are independent job sequences over the same
      // corpus — overlap them so one's driver-side merge loop back-fills
      // with the other's distributed passes (guide §2.6); each trainer
      // is deterministic, so concurrency cannot move the result
      val Seq(bpeA, uniA) = inParallel(Seq[() => Any](
        () => BpeTrainer.trainFromCorpus(t, "text", vocabSize = 2000),
        () => UnigramTrainer.trainFromCorpus(t, "text", vocabSize = 1000)))
      val bpe = bpeA.asInstanceOf[BpeTrainer.BpeModel]
      val uni = uniA.asInstanceOf[UnigramTrainer.UnigramModel]
      val dir = java.nio.file.Files.createTempDirectory("spproto")
      val bpePath = dir.resolve("bpe.model").toString
      val uniPath = dir.resolve("uni.model").toString
      SpModelProto.writeBpe(bpePath, bpe)
      SpModelProto.writeUnigram(uniPath, uni)
      val bpe2 = SpModelProto.loadBpe(bpePath)
      val uni2 = SpModelProto.loadUnigram(uniPath)
      require(bpe2.vocab == bpe.vocab,
        "BPE vocab drifted through the ModelProto round-trip")
      require(uni2.vocab == uni.vocab && uni2.pieces.keySet == uni.pieces.keySet,
        "unigram vocab/pieces drifted through the ModelProto round-trip")
      val bc = s.sparkContext.broadcast((bpe, bpe2, uni, uni2))
      t.select(col("doc_id"),
          Tokenizer.normalizeForTokenize(col("text")).as("norm"))
        .as[(Long, String)]
        .map { case (id, norm) =>
          val (b1, b2, u1, u2) = bc.value
          (id,
            java.util.Arrays.equals(b1.encodeText(norm), b2.encodeText(norm)),
            java.util.Arrays.equals(u1.encodeText(norm), u2.encodeText(norm)))
        }.toDF("doc_id", "bpe_identical", "unigram_identical")
        .orderBy("doc_id")
    }),

    // ---------------- packing (reference K3 semantics — EXACT at 8
    // partitions: the two-pass packer owns global chunk boundaries, so
    // the single-stream oracle count holds at any partition count) ----------------
    "k01_pack_conservation" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        expr("transform(sequence(1, size(split(trim(text), '\\\\s+'))), i -> i)").as("ids"))
      val packed = Packer.packExact(toks, "doc_id", "ids", seqLen = 512, eosId = 0,
        numPartitions = 8)
      packed.agg(count(lit(1)).cast("long").as("n_chunks"))
    }),

    "k04_pack_efficiency" -> ((s, d) => {
      // seq_len design sweep: the REAL packer (packExact — k01's
      // operator) runs at 128/512/2048 and each chunk count is gated
      // against the conservation formula sum(n_tok+1) div L, plus the
      // tail waste and utilization a training-data engineer reads off
      // before committing a context length. Three bounded passes over
      // the tokenized docs; every figure integer-exact (utilization's
      // division happens on integer-exact doubles, rounded 6dp).
      val toks = docs(s, d).select(col("doc_id"),
        expr("transform(sequence(1, size(split(trim(text), '\\\\s+'))), i -> i)")
          .as("ids"))
      val total = toks.agg(sum(size(col("ids")) + 1).cast("long").as("total"))
      val perL = Seq(128, 512, 2048).map { l =>
        Packer.packExact(toks, "doc_id", "ids", seqLen = l, eosId = 0,
            numPartitions = 8)
          .agg(count(lit(1)).cast("long").as("n_chunks"))
          .select(lit(l).as("seq_len"), col("n_chunks"))
      }.reduce(_ unionByName _)
      perL.crossJoin(total)
        .select(col("seq_len"), col("n_chunks"),
          (col("total") - col("n_chunks") * col("seq_len")).as("tail_tokens"),
          round((col("n_chunks") * col("seq_len")).cast("double") / col("total"), 6)
            .as("utilization"))
        .orderBy("seq_len")
    }),

    "k11_pack_provenance" -> ((s, d) => {
      // provenance accounting of the packed training stream — the
      // "what mix did training actually see" audit: per SOURCE, how
      // many tokens land in full chunks (trained), how many die in the
      // dropped tail, and which chunks each source touches (both
      // doc-chunk incidences and distinct chunks). Computed
      // analytically from the global doc-order token stream: the
      // distributed prefix sum gives each doc its global start (no
      // single-task window — the k05/d60 construction), chunk indices
      // are integer division, and the per-doc chunk range explode is
      // bounded by tokens/seqLen. Tied to the REAL packer by asserting
      // the analytic chunk count equals packExact's output count.
      val L = 512
      val toks = docs(s, d).select(col("doc_id"), col("source"),
        (size(split(trim(col("text")), "\\s+")) + 1).cast("long").as("wtok"))
      val cums = graft.core.Partitioning.distributedPrefixSum(
        toks, Seq(col("doc_id").asc), Seq("wtok" -> "run"))
      val totalV = toks.agg(sum("wtok")).head().getLong(0)
      val ids = docs(s, d).select(col("doc_id"),
        expr("transform(sequence(1, size(split(trim(text), '\\\\s+'))), i -> i)")
          .as("ids"))
      val nChunks = Packer.packExact(ids, "doc_id", "ids", seqLen = L,
        eosId = 0, numPartitions = 8).count()
      require(nChunks == totalV / L,
        s"analytic chunk count ${totalV / L} != packExact output $nChunks")
      val lastFull = (totalV / L) * L
      val perDoc = cums
        .withColumn("st", col("run") - col("wtok"))
        .withColumn("trained",
          greatest(lit(0L), least(lit(lastFull) - col("st"), col("wtok"))))
        .withColumn("fc", expr(s"if(trained > 0, st div $L, null)"))
        .withColumn("lc", expr(s"if(trained > 0, (st + trained - 1) div $L, null)"))
      val incid = perDoc.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("trained").as("trained_tokens"),
        sum(col("wtok") - col("trained")).as("tail_tokens"),
        sum(when(col("trained") > 0, col("lc") - col("fc") + 1).otherwise(0L))
          .as("chunk_incidences"))
      val distinctChunks = perDoc.where(col("trained") > 0)
        .select(col("source"),
          explode(sequence(col("fc"), col("lc"))).as("chunk"))
        .groupBy("source").agg(countDistinct("chunk").as("distinct_chunks"))
      incid.join(distinctChunks, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("trained_tokens"),
          col("tail_tokens"), col("chunk_incidences"),
          coalesce(col("distinct_chunks"), lit(0L)).as("distinct_chunks"))
        .orderBy("source")
    }),

    "k12_preference_pairs" -> ((s, d) => {
      // DPO/RLHF preference-pair prep (Rafailov et al. 2023): prompts
      // = doc_id % 97 buckets, reward = the d06 quality scalar; per
      // prompt, chosen/rejected = the (score, id)-struct argmax/argmin
      // with a 0.05 margin gate (near-tied pairs are noise). ONE
      // shuffle — the max/min structs partial-aggregate map-side, so
      // each partition ships at most one candidate pair per prompt no
      // matter how many responses a prompt has; no window, no
      // per-group sort.
      val scored = docs(s, d).select(
        (col("doc_id") % 97).as("prompt_id"), col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("q"))
      Ranking.preferencePairs(scored, "prompt_id", col("q"), "doc_id",
          minMargin = 0.05)
        .orderBy("prompt_id")
    }),

    "k13_chat_prompt_dedup" -> ((s, d) => {
      // instruct-data prompt hygiene on the k08 chat shape: groups of
      // 5 consecutive doc_ids share one USER turn (the group leader's
      // 60-char slice) but carry DISTINCT assistant responses and an
      // identical system preamble — role-aware dedup must collapse
      // each group to its smallest id with n_dups = group size, no
      // matter what the responses or preamble say. The oracle groups
      // by the user content directly (the fingerprint is an
      // execution detail).
      val all = docs(s, d)
      val leaders = all.select(col("doc_id").as("lid"),
        substring(col("text"), 1, 60).as("ucontent"))
      val conv = all.withColumn("lid", col("doc_id") - col("doc_id") % 5)
        .join(leaders, "lid")
        .select(col("doc_id"), array(
          struct(lit("system").as("role"),
            lit("You are a helpful assistant.").as("content")),
          struct(lit("user").as("role"), col("ucontent").as("content")),
          struct(lit("assistant").as("role"),
            substring(col("text"), 61, 80).as("content"))).as("turns"))
      Dedup.chatPromptDedup(conv, "doc_id", "turns").orderBy("doc_id")
    }),

    "d46_train_order" -> ((s, d) => {
      // deterministic global training-order shuffle + shard layout (the
      // write plan for the sharded sinks): order key = md5(doc_id), the
      // content-stable coin d37 uses; shard = first hex char (16-way);
      // within-shard position = the scale-safe range-partition +
      // driver-offset rank (Ranking.withRowNumber), NOT a per-shard
      // single-task window. Any engine/run/partitioning reproduces the
      // exact (shard, pos) layout — reshuffling training data must not
      // depend on cluster shape.
      val h = md5(col("doc_id").cast("string").cast("binary"))
      val keyed = docs(s, d)
        .select(col("doc_id"), substring(h, 1, 1).as("shard"), h.as("hk"))
      Ranking.withRowNumber(keyed, Seq("shard"),
          Seq(col("hk"), col("doc_id")), "pos")
        .select(col("shard"), col("pos"), col("doc_id"))
        .orderBy("shard", "pos")
    }),

    // ---------------- corpus curation battery (beyond-reference:
    // C4 page rules, per-domain caps, MERGE maintenance, Zipf health,
    // embedding outliers) ----------------
    "d76_c4_badwords" -> ((s, d) => {
      // C4's word-blocklist page rule (the §2.2 battery member d42
      // doesn't carry): any case-folded token on the list drops the
      // whole page. Fixture list = {"dup", "leak"}: 'dup' binds on 25
      // of 500 docs at the gate SF (a rare-word split, not a
      // degenerate wipe), 'leak' never occurs (the no-match member).
      // The real pipeline's external list is injectable through the
      // same parameter — the documented zero-egress substitution.
      docs(s, d)
        .select(col("doc_id"),
          TextFunctions.c4BadwordKeep(col("text"), Seq("dup", "leak"))
            .as("c4_badword_keep"))
        .orderBy("doc_id")
    }),

    "d77_trigram_backoff_ppl" -> ((s, d) => {
      // Stupid-backoff trigram scoring (Brants et al. 2007) — the
      // distributed-LM counterpart of d34's smoothed bigram: backoff
      // scores need NO normalization pass, so the count tables build
      // in one vocab-collapsed shuffle per order at any corpus size.
      // The LM trains on the EVEN doc_ids and scores ALL docs, so the
      // held-out half demonstrably exercises every backoff level
      // (seen trigram / 0.4-discounted bigram / add-one unigram
      // floor); scoring is the same zero-shuffle position-order fold
      // as d34 — one hashed-table codegen expression per row.
      val all = docs(s, d)
      val lm = TextAnalysis.trainBackoffLm(
        all.filter(col("doc_id") % 2 === 0), "text", vocabSize = 64)
      TextAnalysis.backoffPerplexity(all.select("doc_id", "text"), "text", lm)
        .select("doc_id", "n_trigrams", "avg_logp", "ppl")
        .orderBy("doc_id")
    }),

    "d78_span_dup_profile" -> ((s, d) => {
      // window-size tuning curve for ExactSubstr excision (x15/st26):
      // the width choice (Lee et al. run 50 tokens) trades recall
      // against false excision, and the right evidence is this
      // profile — per candidate width, how many windows exist and how
      // many would be excised under first-wins (count-1 per repeated
      // fingerprint, the exact quantity st27 bounds). One fingerprint
      // shuffle per width — each is x15's kernel with map-side
      // partial counts and an all-aggregate tail; no excision run, no
      // driver pull beyond three 1-row aggregates.
      val all = docs(s, d)
      Seq(4, 8, 16).map { w =>
        Dedup.spanWindowRows(all, "doc_id", "text", w)
          .groupBy("__fp").agg(count(lit(1)).as("c"))
          .agg(coalesce(sum(col("c")), lit(0L)).as("n_windows"),
            coalesce(sum(when(col("c") >= 2, col("c") - lit(1L))
              .otherwise(lit(0L))), lit(0L)).as("dup_windows"))
          .select(lit(w).as("win"), col("n_windows"), col("dup_windows"))
      }.reduce(_ unionByName _)
        .withColumn("dup_ratio",
          round(col("dup_windows") / col("n_windows"), 6))
        .orderBy("win")
    }),

    "d42_c4_filters" -> ((s, d) => {
      // C4 cleaning battery (Raffel et al. 2020 §2.2): terminal-
      // punctuation + min-words line rule, brace / lorem-ipsum page
      // rules. The corpus has no newlines or punctuation, so lines are
      // synthesized the d19/d26 way: 24-char slices; line i of doc d
      // ends in '.' when (d+i)%3 != 0; every 11th doc hides a brace in
      // a line-rule-PASSING line 2 (the brace must be caught by the
      // page rule, not the line rule); every 13th doc carries a
      // boilerplate lorem-ipsum line. Zero shuffle — one projection.
      def sl(i: Int) = substring(col("text"), 1 + (i - 1) * 24, 24)
      def mk(i: Int): Column = {
        val base = when((col("doc_id") + lit(i)) % 3 =!= 0,
          concat(sl(i), lit("."))).otherwise(sl(i))
        if (i == 2) when(col("doc_id") % 11 === 0,
          concat(sl(i), lit(" {x}."))).otherwise(base)
        else if (i == 3) when(col("doc_id") % 13 === 0,
          lit("lorem ipsum dolor sit.")).otherwise(base)
        else base
      }
      val lines = array((1 to 6).map(mk): _*)
      val kept = TextFunctions.c4KeptLines(lines)
      val flags = TextFunctions.c4DocFlags(lines)
      docs(s, d)
        .select(col("doc_id"), kept.as("kept"), flags.as("fl"))
        .select(col("doc_id"),
          size(col("kept")).as("kept_lines"),
          col("fl.has_brace").as("has_brace"),
          col("fl.has_lorem").as("has_lorem"),
          (!col("fl.has_brace") && !col("fl.has_lorem") &&
            size(col("kept")) >= 3).as("doc_kept"),
          array_join(col("kept"), "\n").as("cleaned"))
        .orderBy("doc_id")
    }),

    "d43_domain_cap" -> ((s, d) => {
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
    }),

    "d44_merge_upsert" -> ((s, d) => {
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
    }),

    "d45_zipf_report" -> ((s, d) => {
      // corpus-health Zipf report: global rank of every vocabulary term
      // by (freq DESC, term). A global row_number is the prefix-sum
      // problem at scale, so the rank uses the range-partition +
      // driver-offset construction (Ranking.withRowNumber — q30/q31's
      // machinery), NOT a single-partition window. Log columns are
      // per-row only; no cross-row float sums (those hash-differ under
      // partial-agg order).
      val words = docs(s, d)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .where(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).as("freq"))
        .withColumn("__all", lit(1))
      Ranking.withRowNumber(words, Seq("__all"),
          Seq(col("freq").desc, col("term")), "rank")
        .select(col("rank"), col("term"), col("freq"),
          round(log10(col("rank")), 6).as("log_rank"),
          round(log10(col("freq")), 6).as("log_freq"),
          (col("rank") * col("freq")).as("zipf_product"))
        .orderBy("rank")
    }),

    "d47_winsorize" -> ((s, d) => {
      // robust-stats clipping: per-language p05/p95 of the quality
      // score via the distributed exact-quantile construction
      // (Ranking.exactQuantiles — q30's machinery, grouped by lang),
      // then winsorize every doc's score into its language's band.
      // The quantile table is group-sized (5 rows) and broadcast back;
      // scoring stays a zero-shuffle projection. The outlier-robust
      // version of the d39/d43 quality signals.
      // eager checkpoint: the regex-heavy score projection would
      // otherwise replay in each quantile pass + the final join
      val q = docs(s, d).select(col("doc_id"), col("lang"),
        TextFunctions.qualityScore(col("text")).as("qs"))
        .localCheckpoint(true)
      val bands = Ranking.exactQuantiles(q, "lang", "qs",
        Seq(0.05 -> "p05", 0.95 -> "p95"))
      q.join(broadcast(bands), "lang")
        .select(col("doc_id"), col("lang"), col("qs").as("quality_score"),
          col("p05"), col("p95"),
          least(greatest(col("qs"), col("p05")), col("p95")).as("clipped"))
        .orderBy("doc_id")
    }),

    "ev12_skew_report" -> ((s, d) => {
      // join-key skew diagnosis — the design sheet that DECIDES when
      // q33's salted join deploys: per-key rows, share, skew factor
      // (count / mean-per-key), and the salt bucket count a salted
      // replication would use (ceil of the factor). One bounded agg +
      // a 1-row cross join; every ratio folds integer-exact doubles.
      val perKey = ev(s, d).groupBy("event_type").agg(count(lit(1)).as("n"))
      val tot = perKey.agg(sum("n").cast("long").as("total"),
        count(lit(1)).cast("long").as("n_keys"))
      perKey.crossJoin(tot)
        .select(col("event_type"), col("n"),
          round(col("n").cast("double") / col("total"), 6).as("share"),
          round(col("n").cast("double") * col("n_keys") / col("total"), 6)
            .as("skew_factor"),
          ceil(col("n").cast("double") * col("n_keys") / col("total"))
            .cast("long").as("salt_buckets"))
        .orderBy("event_type")
    }),

    "q36_cube" -> ((s, d) => {
      // full CUBE over (status, priority) — all four grouping sets in
      // one two-phase aggregation pass; money in exact integer cents
      // (the q29 convention: a rounded double sum can flip a cent
      // under partial-agg reordering, int64 cannot).
      ord(s, d).createOrReplaceTempView("orders")
      s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                      sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
               FROM orders
               GROUP BY CUBE (o_orderstatus, o_orderpriority)
               ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
    }),

    "st14_stream_parquet_sink" -> ((s, d) => {
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
    }),

    "d53_epoch_plan" -> ((s, d) =>
      // multi-epoch training schedule: temperature-0.5 source weights
      // under a 100k-token budget, expressed as EPOCHS per source —
      // small high-quality sources repeat (>1 epoch, capped at 4),
      // big ones subsample (<1). d27 decides which rows survive ONE
      // pass; this is the design sheet for how many passes each
      // source gets. Bounded aggregate + driver fold in source order
      // (IEEE-exact sqrt — the d29 convention).
      Sampling.epochPlan(docs(s, d), "source",
          TextFunctions.tokenCount(col("text")), tokenBudget = 100000.0)
        .orderBy("source")),

    "d54_score_calibration" -> ((s, d) =>
      // calibration of the cheap quality score against the judge: per
      // score decile (integer bucket of the 6dp score), doc count,
      // judge-kept count, and keep rate — the sheet that says where a
      // score threshold actually sits. One bounded aggregate, zero
      // windows.
      docs(s, d).select(
          least(lit(9L), floor(TextFunctions.qualityScore(col("text")) * 10))
            .cast("long").as("decile"),
          (TextFunctions.judgeReason(col("text"), judgeT) === "ok").as("kept"))
        .groupBy("decile")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          count(when(col("kept"), 1)).cast("long").as("n_kept"))
        .select(col("decile"), col("n_docs"), col("n_kept"),
          round(col("n_kept").cast("double") / col("n_docs"), 6).as("keep_rate"))
        .orderBy("decile")),

    "ev13_retention_cohorts" -> ((s, d) => {
      // activation-cohort retention (the warehouse classic): cohort =
      // user's first-event day, offset = days since cohort, cell =
      // distinct active users. Two shuffles, both on high-cardinality
      // keys (user, then cohort×offset) — the safe direction at
      // scale. Null users carry no identity and are excluded (st02's
      // convention).
      val e = ev(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), expr("ts div 1000").as("us"))
      val first = e.groupBy("user_id").agg(min("us").as("f"))
      e.join(first, "user_id")
        .select(col("user_id"),
          expr("f div 86400000000").as("cohort_day"),
          expr("(us div 86400000000) - (f div 86400000000)").as("day_offset"))
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct("user_id").cast("long").as("active_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    "st13_stream_sessions" -> ((s, d) => {
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
    }),

    "k05_unpack_roundtrip" -> ((s, d) => {
      // chunk-content invariant for the exact packer: every packed
      // chunk's contents must equal the corresponding L-token slice of
      // the global (doc-order, EOS-terminated) token stream — k01
      // gates the chunk COUNT, this gates the CONTENT. packExact at 8
      // partitions + the distributed chunk index; per-chunk state is
      // bounded (L tokens). The oracle rebuilds every chunk's md5 from
      // first principles via a SQL prefix sum.
      val toks = docs(s, d).select(col("doc_id"),
        expr("transform(sequence(1, size(split(trim(text), '\\\\s+'))), i -> i)")
          .as("ids"))
      val packed = Packer.packExact(toks, "doc_id", "ids", seqLen = 512,
        eosId = 0, numPartitions = 8).withColumn("__all", lit(1))
      Ranking.withRowNumber(packed, Seq("__all"),
          Seq(col("part_id"), col("chunk_in_part")), "chunk_idx")
        .select((col("chunk_idx") - 1).as("chunk_idx"),
          md5(array_join(transform(col("input_ids"), x => x.cast("string")), ",")
            .cast("binary")).as("chunk_fp"))
        .orderBy("chunk_idx")
    }),

    "k06_oov_rate" -> ((s, d) => {
      // vocabulary-coverage QA: a word vocab trained on the ENGLISH
      // slice only (top-500 by count desc, word asc — a deterministic
      // total order, so the cut replays exactly), then per-language
      // out-of-vocabulary rates — the "how badly does an en-trained
      // tokenizer serve the other languages" report. The vocab is
      // joined back BROADCAST (bounded artifact, like the LID/BPE
      // deployments); the only corpus shuffle is the per-language agg
      // on a bounded key. Integer counts, one rounded division.
      val words = docs(s, d).select(col("lang"),
        explode(split(TextFunctions.normalizeForDedup(col("text")), " ")).as("word"))
      val vocab = words.where(col("lang") === "en")
        .groupBy("word").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), asc("word")).limit(500)
        .select(col("word"), lit(1L).as("in_vocab"))
      words.join(broadcast(vocab), Seq("word"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens"), 6))
        .orderBy("lang")
    }),

    "k07_bin_packing" -> ((s, d) => {
      // whole-document bin packing (Packer.packBinsFfd): SFT-style
      // fixed-budget sequences that keep docs INTACT — k01/k04 pack by
      // splitting, this packs by assignment (First-Fit-Decreasing over
      // range partitions, deterministic at the pinned numParts=8).
      // Docs over capacity are rejected, never truncated. The
      // invariants are computed IN-PLAN and surface as booleans
      // (b02's embedded-assertion convention): every bin <= capacity,
      // bin count >= the ceil(total/capacity) lower bound. The oracle
      // recomputes eligibility/rejection/token totals exactly in SQL
      // and pins the measured sf0.01 bin count/max fill (d20
      // convention).
      val lens = docs(s, d).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      val bins = Packer.packBinsFfd(lens, "doc_id", "n_tokens",
        capacity = 64L, numParts = 8)
      val fills = bins.where(col("bin_id").isNotNull)
        .groupBy("bin_id").agg(sum("len").as("fill"))
      val totals = bins.agg(
        sum(when(col("bin_id").isNotNull, 1L).otherwise(0L)).as("n_packed"),
        sum(when(col("bin_id").isNull, 1L).otherwise(0L)).as("n_rejected"),
        sum(when(col("bin_id").isNotNull, col("len")).otherwise(0L)).as("packed_tokens"))
      val binStats = fills.agg(count(lit(1)).as("n_bins"), max("fill").as("max_fill"))
      totals.crossJoin(binStats)
        .select(col("n_packed"), col("n_rejected"), col("packed_tokens"),
          col("n_bins"), col("max_fill"),
          (col("max_fill") <= 64L).as("fill_ok"),
          (col("n_bins") * lit(64L) >= col("packed_tokens")).as("lb_ok"))
    }),

    "d52_split_leak_check" -> ((s, d) => {
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
    }),

    "x11_stats_manifest" -> ((s, d) => {
      // file-level min/max stats manifest + data-skipping simulation
      // (the Iceberg/Delta manifest shape): 16 contiguous range
      // buckets from pure integer arithmetic over the corpus min/max,
      // per-bucket row count and doc_id bounds, and the touch
      // decision a reader makes for the probe range [120, 180] —
      // b02/ev11 prune PARTITIONS, this prunes FILES. One bounded
      // aggregate + a 1-row broadcast.
      val mm = docs(s, d).agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      docs(s, d).crossJoin(broadcast(mm))
        .select(col("doc_id"),
          expr("(doc_id - lo) * 16 div (hi - lo + 1)").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .select(col("bucket"), col("n_rows"), col("min_id"), col("max_id"),
          (col("min_id") <= 180 && col("max_id") >= 120).as("touched"))
        .orderBy("bucket")
    }),

    "st12_stream_soft_sample" -> ((s, d) => {
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
    }),

    "d50_ppl_buckets" -> ((s, d) => {
      // CCNet's actual selection step (Wenzek et al. 2020 §4): bucket
      // the corpus head/middle/tail at the global perplexity terciles
      // of the d34 bigram-LM score (lower ppl = more fluent = head).
      // Terciles come from the distributed exact-rank construction
      // (q30's machinery) — no single-partition window over the
      // corpus — and broadcast back; bucketing is a zero-shuffle
      // projection. Docs too short to score (NULL ppl) land in tail.
      val all = docs(s, d)
      val lm = TextAnalysis.trainBigramLm(all, "text", vocabSize = 64)
      // materialize the 2-column score table ONCE (eager local
      // checkpoint): the LM projection is the expensive part and the
      // quantile construction + final join would otherwise replay it
      // ~5x (counts, totals, running-sum pin, join) — measured 35 s →
      // ~5 s at sf0.1. (doc_id, ppl) is 16 bytes/row, spillable.
      val scored = TextAnalysis.bigramPerplexity(
          all.select("doc_id", "text"), "text", lm)
        .select(col("doc_id"), col("ppl"))
        .withColumn("__all", lit(1))
        .localCheckpoint(true)
      val cuts = Ranking.exactQuantiles(scored.where(col("ppl").isNotNull),
        "__all", "ppl", Seq(1.0 / 3 -> "p33", 2.0 / 3 -> "p67"))
      scored.join(broadcast(cuts), "__all")
        .select(col("doc_id"), col("ppl"), col("p33"), col("p67"),
          when(col("ppl").isNull, lit("tail"))
            .when(col("ppl") <= col("p33"), lit("head"))
            .when(col("ppl") <= col("p67"), lit("middle"))
            .otherwise(lit("tail")).as("bucket"))
        .orderBy("doc_id")
    }),

    "st11_stream_late_data" -> ((s, d) => {
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
    }),

    "a02_asof_next_purchase" -> ((s, d) => {
      // forward as-of with tolerance: for every click, the FIRST
      // purchase by the same user at-or-after the click, matched only
      // within a 6-hour attribution window. Same single keyed-window
      // shuffle as a01, mirrored (first-following instead of
      // last-preceding) — no range self-join.
      val e = ev(s, d).withColumn("us", expr("ts div 1000"))
      val clicks = e.filter(col("event_type") === "click")
        .select("user_id", "us", "event_id")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us").as("pus"),
          col("event_id").as("purchase_id"))
      AsOfJoin.forward(clicks, purchases, "user_id", "us", "pus",
          Seq("purchase_id"), toleranceUs = 21600000000L)
        .select(col("user_id"), col("event_id"), col("asof_purchase_id"))
        .orderBy("user_id", "event_id")
    }),

    "d49_snapshot_diff" -> ((s, d) => {
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
    }),

    "d51_compaction_plan" -> ((s, d) => {
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
    }),

    "x15_span_trim" -> ((s, d) =>
      // overlapping-window ExactSubstr excision: stride-1 8-token
      // fingerprints, global-first-occurrence survivor, gaps-and-
      // islands span merge, token-level cut. The oracle rebuilds the
      // identical construction in SQL (windows, duplicate marking,
      // island merge, anti-join reassembly), so this asserts the
      // FULL span pipeline, not just counts.
      Dedup.spanTrim(docs(s, d), "doc_id", "text", window = 8)
        .orderBy("doc_id")),

    "x16_quality_canonical" -> ((s, d) => {
      // SCORE-aware canonical selection — near-dedup that keeps the
      // LONGEST copy (bytes of text; ties to smallest id) instead of
      // the min-id default: the curation rule production corpus
      // builds actually use (keep the fullest mirror of a page, not
      // the first-crawled stub). Pair graph = x03's exact-verified
      // word-3gram Jaccard >= 0.8 (LSH-blocked, never all-pairs);
      // winner per component = ONE min(struct(-score, id)) aggregate —
      // partial map-side, no window, no member list. Output is the
      // loser -> winner provenance mapping (x12's shape); the oracle
      // replays the same closure + (score DESC, id ASC) argmax in SQL,
      // so a single mis-crowned component hash-fails the row.
      val t = docs(s, d)
      val pairs = Dedup.ngramJaccardPairs(t, "doc_id", "text",
        n = 3, threshold = 0.8)
      Dedup.canonicalByScore(t, "doc_id", pairs,
          octet_length(col("text")).cast("long"))
        .orderBy("dropped_id")
    }),

    "x14_entity_resolution" -> ((s, d) => {
      // multi-key entity resolution — the record-linkage move single-
      // key dedup can't make: records merge when ANY identity key
      // agrees (folded-content fingerprint OR canonical URL), and the
      // transitive closure stitches chains A~B~C even when A and C
      // share no key at all. Each key contributes star edges to its
      // bucket minimum (n−1 per bucket, never C(n,2)); the union
      // feeds the same distributed CC as every dedup family. The
      // synth plants a content-only twin (accented text, unrelated
      // URL) and a URL-only twin (reversed text, tracking-decorated
      // URL) per doc — both must land in the base doc's cluster, so
      // every cluster is >= 3 and the chain crosses keys.
      val base = docs(s, d).select(col("doc_id"), col("text"), urlSynth.as("url"))
        .localCheckpoint(true)
      val twinA = base.select((col("doc_id") + 1000000L).as("doc_id"),
        translate(col("text"), "aeiou", "áéíóú").as("text"),
        concat(lit("https://alt.example.net/"),
          (col("doc_id") % 97).cast("string"), lit("/"),
          col("doc_id").cast("string")).as("url"))
      val auth = regexp_extract(col("url"), "^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
      val q = UrlFunctions.query(col("url"))
      val twinB = base.select((col("doc_id") + 2000000L).as("doc_id"),
        reverse(col("text")).as("text"),
        concat(UrlFunctions.scheme(col("url")), lit("://"), upper(auth),
          UrlFunctions.path(col("url")), lit("/"),
          lit("?utm_source=feed&fbclid="), (col("doc_id") % 7).cast("string"),
          when(q =!= "", concat(lit("&"), q)).otherwise(lit("")),
          lit("#top")).as("url"))
      val all = base.unionByName(twinA).unionByName(twinB).localCheckpoint(true)
      val k1 = all.select(col("doc_id"),
        md5(translate(lower(col("text")), "áéíóú", "aeiou").cast("binary")).as("k"))
      val k2 = all.select(col("doc_id"),
        UrlFunctions.canonicalize(col("url")).as("k"))
      def starEdges(keys: DataFrame) = {
        val roots = keys.groupBy("k").agg(min("doc_id").as("root"))
        keys.join(roots, "k").where(col("doc_id") =!= col("root"))
          .select(col("root").as("src"), col("doc_id").as("dst"))
      }
      val comp = ConnectedComponents.run(
        starEdges(k1).unionByName(starEdges(k2)).distinct())
      val lab = all.select("doc_id")
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(coalesce(col("component"), col("doc_id")), col("doc_id"))
            .as("cluster_id"))
      lab.join(lab.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size")),
          "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id")
    }),

    "a03_asof_stale_bound" -> ((s, d) => {
      // feature-store staleness bound on the BACKWARD as-of join:
      // each purchase takes the last click at-or-before it, but only
      // within 30 minutes — staler features must surface as NULL,
      // never silently join (the point-in-time correctness rule).
      // Completes the as-of matrix: a01 backward unbounded, a02
      // forward bounded, a03 backward bounded.
      val e = ev(s, d).withColumn("us", expr("ts div 1000"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "us", "event_id")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("us").as("cus"), col("event_id").as("click_id"))
      AsOfJoin.backward(purchases, clicks, "user_id", "us", "cus",
          Seq("click_id"), toleranceUs = 1800000000L)
        .select(col("user_id"), col("event_id"), col("asof_click_id"))
        .orderBy("user_id", "event_id")
    }),

    "q49_not_in_nulls" -> ((s, d) => {
      // the ANSI three-valued-logic trap, pinned as behavior: NOT IN
      // against a list containing NULL can never be TRUE (x <> NULL
      // is unknown), so the filter returns ZERO rows — while NOT
      // EXISTS with the same intent returns the real complement, and
      // NOT IN over the null-free list agrees with it. An engine that
      // "helpfully" deviates corrupts anti-join semantics; both
      // engines here implement the standard, and the gate documents
      // it. Stated in SQL (the shape users actually write).
      ord(s, d).createOrReplaceTempView("orders_v")
      cust(s, d).createOrReplaceTempView("customer_v")
      s.sql("""
        SELECT 'not_exists' AS variant, count(*) AS n FROM customer_v c
          WHERE NOT EXISTS (SELECT 1 FROM orders_v o
            WHERE o.o_totalprice > 300000 AND o.o_custkey = c.c_custkey)
        UNION ALL
        SELECT 'not_in_clean', count(*) FROM customer_v
          WHERE c_custkey NOT IN (SELECT o_custkey FROM orders_v
            WHERE o_totalprice > 300000 AND o_custkey IS NOT NULL)
        UNION ALL
        SELECT 'not_in_with_null', count(*) FROM customer_v
          WHERE c_custkey NOT IN (SELECT o_custkey FROM orders_v
            WHERE o_totalprice > 300000
            UNION ALL SELECT CAST(NULL AS BIGINT))
        ORDER BY variant""")
    }),

    "b03_join_hints" -> ((s, d) => {
      // join-strategy control under the gate: the SAME join computed
      // under a merge hint and a shuffle_hash hint must agree
      // bit-for-bit, and each plan must actually USE its hinted
      // strategy — asserted from the executed physical plan and
      // embedded in the output (b01's in-plan-assertion convention).
      // The strategy lever matters at scale: SMJ spills gracefully
      // on huge both-sides joins, SHJ skips the sort when one side
      // fits per-task memory — the engine must honor the choice.
      def agg(hint: String) = {
        val l = li(s, d).select("l_orderkey", "l_extendedprice")
        val o = ord(s, d).select("o_orderkey", "o_orderpriority").hint(hint)
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(round(sum("l_extendedprice"), 2).as("revenue"),
            count(lit(1)).as("n_lines"))
      }
      def planOf(df: DataFrame): String = {
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        def render(p: SparkPlan): String = p.toString + (p match {
          case a: AdaptiveSparkPlanExec => render(a.executedPlan)
          case st: QueryStageExec => render(st.plan)
          case _ => ""
        }) + p.children.map(render).mkString
        render(df.queryExecution.executedPlan)
      }
      val smj = agg("merge"); val shj = agg("shuffle_hash")
      // ONE execution per hinted join: the eager localCheckpoint both
      // drives the plan to completion (so .executedPlan below is the
      // FINAL adaptive plan — before an action it would be the initial
      // one and a runtime re-plan away from the hint would go unseen)
      // and pins the result, so the output union reads the checkpointed
      // rows instead of re-running each join (the old foreach-then-union
      // shape executed every join twice). The two materializations are
      // independent jobs — overlap them (guide §2.6).
      val Seq(smjC, shjC) = inParallel(Seq(
        () => smj.localCheckpoint(true), () => shj.localCheckpoint(true)))
      val smjUsed = planOf(smj).contains("SortMergeJoin")
      val shjUsed = planOf(shj).contains("ShuffledHashJoin")
      smjC.select(lit("merge").as("strategy"), col("o_orderpriority"),
          col("revenue"), col("n_lines"), lit(smjUsed).as("hint_honored"))
        .unionByName(shjC.select(lit("shuffle_hash").as("strategy"),
          col("o_orderpriority"), col("revenue"), col("n_lines"),
          lit(shjUsed).as("hint_honored")))
        .orderBy("strategy", "o_orderpriority")
    }),

    "ev26_markov_eval" -> ((s, d) => {
      // next-event prediction eval: ev20's transition matrix turned
      // into a predictor (argmax next type per current type, ties to
      // the lexically smaller) and scored on the SAME transitions —
      // the train-once/evaluate-distributed loop of any behavioral
      // model, kept exact: the model is a bounded (types²) table,
      // broadcast back onto the transition stream.
      val e = ev(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("us"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val trans = e.withColumn("from_type", lag("event_type", 1).over(w))
        .where(col("from_type").isNotNull)
        .select(col("from_type"), col("event_type").as("to_type"))
      val counts = trans.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      val predW = Window.partitionBy("from_type")
        .orderBy(desc("n"), asc("to_type"))
      val model = counts.withColumn("rn", row_number().over(predW))
        .where(col("rn") === 1)
        .select(col("from_type"), col("to_type").as("predicted"))
      trans.join(broadcast(model), "from_type")
        .groupBy("from_type")
        .agg(count(lit(1)).as("n_transitions"),
          max("predicted").as("predicted"),
          sum(when(col("to_type") === col("predicted"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("accuracy",
          round(col("n_correct").cast("double") / col("n_transitions"), 4))
        .orderBy("from_type")
    }),

    "q48_sql_frontend" -> ((s, d) => {
      // the SQL entry point end-to-end: the custom Catalyst
      // expressions registered through SparkSessionExtensions'
      // injectFunction seam (GraftExtensions), documents exposed as a
      // temp view, the whole query stated in SQL — the "point your
      // SQL tool at this engine" path. The 25% sample is the d37
      // md5-hex-prefix coin (engine-independent string compare);
      // graft_nfkc runs inside the distinct fingerprint (identity on
      // the ASCII corpus — the function's SQL plumbing is what's
      // under test; d69 gates its semantics).
      GraftExtensions.register(s)
      docs(s, d).createOrReplaceTempView("docs_v")
      s.sql("""
        SELECT source, COUNT(*) AS n_docs,
          SUM(CASE WHEN substr(md5(CAST(text AS BINARY)), 1, 2) < '40'
              THEN 1 ELSE 0 END) AS n_sampled,
          COUNT(DISTINCT md5(CAST(graft_nfkc(text) AS BINARY))) AS n_distinct
        FROM docs_v GROUP BY source ORDER BY source""")
    }),

    "q49_sql_span_trim" -> ((s, d) => {
      // the SQL frontend reaching the span-dedup family: the FULL
      // ExactSubstr excision (x15's semantics) stated as ONE
      // spark.sql query over the graft_span_fingerprints kernel
      // registered through the SparkSessionExtensions seam —
      // candidates are bit-identical to the Column-API operator's,
      // so this gate shares x15's oracle string verbatim. Same scale
      // shape as the operator: one shuffle on the 16-byte fingerprint,
      // windows partitioned by fp / doc_id (corpus-cardinality keys),
      // no driver loops.
      GraftExtensions.register(s)
      docs(s, d).createOrReplaceTempView("docs_v")
      s.sql("""
        WITH w AS (
          SELECT doc_id, pos, fp
          FROM docs_v
          LATERAL VIEW posexplode(graft_span_fingerprints(text, 8)) t AS pos, fp),
        marked AS (
          SELECT doc_id, pos,
            count(*)     OVER (PARTITION BY fp) AS c,
            row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
          FROM w),
        dup AS (SELECT doc_id, pos, pos + 7 AS e FROM marked
                WHERE c >= 2 AND rn > 1),
        isl AS (
          SELECT doc_id, pos, e,
            CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id
              ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              -2) + 1 THEN 1 ELSE 0 END AS brk
          FROM dup),
        gid AS (SELECT doc_id, pos, e,
            sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM isl),
        spans AS (SELECT doc_id, g, min(pos) AS s, max(e) AS e
          FROM gid GROUP BY doc_id, g),
        sl AS (SELECT doc_id, collect_list(struct(s, e)) AS sp,
            sum(e - s + 1) AS removed
          FROM spans GROUP BY doc_id),
        base AS (SELECT doc_id,
            split(regexp_replace(trim(coalesce(text, '')), '\\s+', ' '), ' ') AS tk
          FROM docs_v)
        SELECT b.doc_id,
          CAST(size(b.tk) AS BIGINT) AS n_tokens,
          CAST(coalesce(sl.removed, 0) AS BIGINT) AS n_removed,
          CASE WHEN sl.sp IS NULL THEN array_join(b.tk, ' ')
               ELSE array_join(filter(b.tk, (tok, i) ->
                 NOT exists(sl.sp, x -> i >= x.s AND i <= x.e)), ' ')
          END AS text_trimmed
        FROM base b LEFT JOIN sl USING (doc_id)
        ORDER BY doc_id""")
    }),

    "q50_sql_fuzzy_decon" -> ((s, d) => {
      // the SQL frontend reaching the hygiene family: d79's fuzzy
      // decontamination report stated as ONE spark.sql query over the
      // graft_char_shingles kernel — brute-force corpus x eval (the
      // stream/benchmark-suite geometry, st30's shape: the size-ratio
      // non-equi join lowers to a BroadcastNestedLoopJoin of the
      // benchmark-sized eval side against one corpus scan). Gram
      // hashes are bit-identical to the operator path's, so this gate
      // shares d79's oracle string verbatim — the SQL dialect and the
      // Column API cannot drift apart. No coalesce on text: null text
      // must propagate to null grams (no gram rows, row stays clean),
      // matching the d79 operator path and the shared oracle — a
      // coalesce here would turn null into one ''-gram doc that can
      // convict against an empty eval doc.
      //
      // REGIME GUARD (executable, not just documented): the SQL form
      // is only submitted while the eval side is benchmark-suite sized
      // AND the |corpus| x |eval| pair product is under
      // Decontamination.MaxBruteForcePairs (both probed with bounded
      // limit-counts — the eval side here is a %-split of the corpus,
      // so it GROWS with SF and an eval-only guard is blind to the
      // quadratic product, the r9-measured 110x blowup at 10x data);
      // past either bound the frontend rewrites to d79's band-index
      // geometry, which shares this gate's exact output contract and
      // oracle — DecontaminationSpec pins both the rewrite firing and
      // result equality across the switch.
      GraftExtensions.register(s)
      val corpusFz = docs(s, d)
      corpusFz.createOrReplaceTempView("docs_fz")
      Decontamination.fuzzyReportGated(
        corpusFz,
        corpusFz.filter(col("doc_id") % 101 === 7 && col("doc_id") < 500),
        "doc_id", "text", threshold = 0.8)(
      s.sql("""
        WITH g AS (
          SELECT doc_id, array_distinct(graft_char_shingles(
            lower(regexp_replace(trim(text), '\\s+', ' ')), 5)) AS gs
          FROM docs_fz),
        e AS (SELECT gs AS egs FROM g WHERE doc_id % 101 = 7 AND doc_id < 500),
        v AS (
          SELECT c.doc_id,
            CAST(size(array_intersect(c.gs, e.egs)) AS DOUBLE)
              / size(array_union(c.gs, e.egs)) AS j
          FROM g c JOIN e
            ON size(c.gs) >= 0.8 * size(e.egs)
           AND size(e.egs) >= 0.8 * size(c.gs)),
        m AS (SELECT doc_id, count(*) AS n_matches, round(max(j), 6) AS max_jaccard
              FROM v WHERE j >= 0.8 GROUP BY doc_id)
        SELECT g.doc_id,
          coalesce(m.n_matches, CAST(0 AS BIGINT)) AS n_matches,
          coalesce(m.max_jaccard, CAST(0.0 AS DOUBLE)) AS max_jaccard,
          coalesce(m.n_matches, CAST(0 AS BIGINT)) > 0 AS contaminated
        FROM g LEFT JOIN m USING (doc_id)
        ORDER BY doc_id"""))
    }),

    "d72_term_map" -> ((s, d) => {
      // map-typed analytics: per-doc term frequencies as a real
      // MapType column, filtered with map algebra (map_filter keeps
      // repeated terms), then serialized DETERMINISTICALLY — entries
      // sorted as structs (field order: word, count) before joining,
      // because map iteration order is not a contract anywhere. The
      // (doc, word) count is the only shuffle.
      val words = docs(s, d).select(col("doc_id"),
        explode(split(TextFunctions.normalizeForDedup(col("text")), " ")).as("w"))
      val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      tf.groupBy("doc_id")
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("w"), col("c"))))).as("tfm"))
        .select(col("doc_id"),
          size(col("tfm")).cast("long").as("n_terms"),
          array_join(transform(
            array_sort(map_entries(map_filter(col("tfm"), (_, v) => v >= 2))),
            e => concat(e.getField("key"), lit(":"),
              e.getField("value").cast("string"))), ",").as("repeated_terms"))
        .orderBy("doc_id")
    }),

    "x13_dedup_idempotence" -> ((s, d) => {
      // the fixed-point law a governed dedup pipeline asserts before
      // shipping: near-dedup run on its OWN survivors must remove
      // nothing (every surviving component representative is unique).
      // Stage 2 executes the full banding/estimate/verify path again
      // on stage-1 output; the law lands as an in-plan boolean (b02
      // convention) — a canonical-pick regression (keeping a non-min
      // member, or a pair the first pass should have caught) breaks
      // idempotence and fails the gate.
      val all = docs(s, d).select("doc_id", "text")
      val s1 = Dedup.ngramJaccard(all, "doc_id", "text", n = 3, threshold = 0.8)
        .select("doc_id", "text").localCheckpoint(true)
      val s2 = Dedup.ngramJaccard(s1, "doc_id", "text", n = 3, threshold = 0.8)
        .select("doc_id")
      all.agg(count(lit(1)).as("n_input"))
        .crossJoin(s1.agg(count(lit(1)).as("n_pass1")))
        .crossJoin(s2.agg(count(lit(1)).as("n_pass2")))
        .withColumn("idempotent", col("n_pass1") === col("n_pass2"))
    }),

    "ev25_active_users" -> ((s, d) => {
      // DAU / WAU / MAU — rolling distinct actives, the engagement
      // sheet every event warehouse serves: per-(user, day) presence
      // first (the event table collapses to at most users x days
      // rows), then each activity day feeds the 7- and 30-day windows
      // ENDING on day..day+k via a bounded explode of the per-user-
      // day table — never a sliding distinct over raw events — and
      // one distinct count per window end. Window ends join back to
      // real activity days so no phantom trailing days appear.
      val ud = ev(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
        .distinct()
        .localCheckpoint(true)
      val days = ud.select("day").distinct()
      val dau = ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
      def rolling(k: Int, name: String) = ud
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + lit(k))).as("day"))
        .join(days, "day")
        .groupBy("day").agg(countDistinct("user_id").as(name))
      dau.join(rolling(6, "wau"), "day").join(rolling(29, "mau"), "day")
        .orderBy("day")
    }),

    "k10_unigram_tokenize" -> ((s, d) => {
      // unigram-LM tokenizer (Kudo 2018 — SentencePiece's default
      // model type, the reference's actual trainer): hard-EM piece
      // probabilities over the distributed word-frequency table,
      // Viterbi max-likelihood segmentation, byte fallback, ▁ word
      // boundaries. Per-source fertility pinned at sf0.01 (d20
      // convention — the model itself is not SQL-replayable): exact
      // Long counts + deterministic training make the numbers
      // partitioning-invariant constants.
      val dd = docs(s, d).select(col("doc_id"), col("source"), col("text"))
      val m = UnigramTrainer.trainFromCorpus(dd, "text", vocabSize = 800)
      Tokenizer.encode(dd, "text", m)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("ids"))).cast("long").as("n_pieces"),
          sum(TextFunctions.tokenCount(col("text"))).cast("long").as("n_words"))
        .orderBy("source")
    }),

    "k09_loss_mask" -> ((s, d) => {
      // SFT loss masking: only assistant tokens train — the
      // system/user context (and the assistant marker itself) is
      // masked out of the loss. Token accounting per doc over k08's
      // rendered segments; pieces join at newline boundaries so
      // whitespace token counts add exactly. Pure arithmetic, zero
      // shuffle; mask ratio feeds the packing budget (trainable
      // tokens per packed sequence).
      val masked = concat(lit("<|system|>\n"),
        lit("You are a helpful assistant."),
        lit("\n<|user|>\n"), substring(col("text"), 1, 60),
        lit("\n<|assistant|>\n"))
      val trainable = concat(substring(col("text"), 61, 80), lit("\n<|end|>"))
      docs(s, d).select(col("doc_id"),
          TextFunctions.tokenCount(masked).cast("long").as("n_masked"),
          TextFunctions.tokenCount(trainable).cast("long").as("n_trainable"))
        .withColumn("trainable_frac",
          round(col("n_trainable").cast("double")
            / (col("n_masked") + col("n_trainable")), 4))
        .orderBy("doc_id")
    }),

    "ev24_funnel_timing" -> ((s, d) => {
      // funnel TIMING — beyond ev09's conversion counts: how long
      // each converting user took per transition (view→click,
      // click→purchase), reported as exact p50/p90 of the duration
      // distributions. Same three user-partitioned window passes as
      // ev09 (high-cardinality), then the durations unpivot to
      // (stage, dur) and the quantiles come from the scale-safe
      // distributed-rank construction — never a single-task window.
      val hours6 = 21600000000L
      val w = Window.partitionBy("user_id")
      val conv = ev(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("t"))
        .withColumn("fv",
          min(when(col("event_type") === "view", col("t"))).over(w))
        .withColumn("fc",
          min(when(col("event_type") === "click" && col("t") > col("fv")
            && col("t") - col("fv") <= hours6, col("t"))).over(w))
        .withColumn("fp",
          min(when(col("event_type") === "purchase" && col("t") > col("fc")
            && col("t") - col("fc") <= hours6, col("t"))).over(w))
        .groupBy("user_id")
        .agg(max("fv").as("fv"), max("fc").as("fc"), max("fp").as("fp"))
      val durs = conv.select(col("user_id"),
          (col("fc") - col("fv")).as("view_to_click"),
          (col("fp") - col("fc")).as("click_to_purchase"))
        .unpivot(Array(col("user_id")),
          Array(col("view_to_click"), col("click_to_purchase")),
          "stage", "dur_us")
        .where(col("dur_us").isNotNull)
      Ranking.exactQuantiles(durs, "stage", "dur_us",
          Seq(0.5 -> "p50_us", 0.9 -> "p90_us"))
        .join(durs.groupBy("stage").agg(count(lit(1)).as("n_converted")), "stage")
        .select("stage", "n_converted", "p50_us", "p90_us")
        .orderBy("stage")
    }),

    "d71_license_filter" -> ((s, d) => {
      // license-hygiene filtering (the code/document-corpus curation
      // rule): license markers injected on doc_id strata, classified
      // by the standard marker regexes (SPDX tag, Apache header,
      // all-rights-reserved), and the keep decision recorded —
      // restrictive-licensed docs leave the training corpus. One
      // zero-shuffle projection; both engines run RE2-safe patterns.
      val lic = when(col("doc_id") % 11 === 0,
          lit(" Licensed under the Apache License, Version 2.0 "))
        .when(col("doc_id") % 11 === 1,
          lit(" SPDX-License-Identifier: MIT "))
        .when(col("doc_id") % 11 === 2, lit(" All Rights Reserved. "))
        .otherwise(lit(" "))
      val t = concat(substring(col("text"), 1, 40), lic,
        substring(col("text"), 41, 40))
      docs(s, d).select(col("doc_id"), t.as("t"))
        .withColumn("license",
          when(col("t").rlike("SPDX-License-Identifier: MIT"), "mit")
            .when(col("t").rlike("Apache License, Version 2\\.0"), "apache-2.0")
            .when(col("t").rlike("(?i)all rights reserved"), "restrictive")
            .otherwise("none"))
        .withColumn("kept", col("license") =!= "restrictive")
        .select("doc_id", "license", "kept")
        .orderBy("doc_id")
    }),

    "st24_foreachbatch_sink" -> ((s, d) => {
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
    }),

    "ev23_burst_detection" -> ((s, d) => {
      // rate-anomaly (bot/abuse) detection: events per (user, hour),
      // hours at or above the burst threshold flagged, rolled up per
      // user — the abuse-filter shape every event pipeline runs ahead
      // of analytics. (user, hour) is high-cardinality; the per-user
      // rollup is the second bounded-state aggregate.
      val e = ev(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), expr("(ts div 1000) div 3600000000").as("hour"))
      e.groupBy("user_id", "hour").agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_active_hours"),
          max("n").as("max_per_hour"),
          sum(when(col("n") >= 3, 1L).otherwise(0L)).as("n_burst_hours"))
        .withColumn("is_bursty", col("n_burst_hours") > 0)
        .orderBy("user_id")
    }),

    "e16_semantic_tau_curve" -> ((s, d) => {
      // the SemDeDup tuning pre-flight (d78/e15's convention for the
      // embedding family): survivor counts at tau = 0.35..0.55 over
      // e08's deterministic quantizer — the table you consult before
      // committing a tau to a corpus-scale semantic dedup. The sweep
      // brackets the fixture's merge regime (0.55 sits above the
      // ~0.51 random-cosine ceiling: zero merges, survivors = all).
      // Four bounded settings over ONE checkpointed corpus + centroid
      // set; the oracle recomputes assignment, all four within-cell
      // pair graphs, and their closures in SQL — a single wrong merge
      // at any tau hash-fails the row.
      import s.implicits._
      val e = emb(s, d).localCheckpoint(true)
      val cents = e.filter(pmod(col("vec_id"), lit(31)) === 7 && col("vec_id") < 500)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
        .localCheckpoint(true)
      // the four tau settings are independent jobs over the SAME
      // checkpointed corpus + centroids — run them concurrently so the
      // tail of one count back-fills with the next (guide §2.6); each
      // count is deterministic, so order cannot matter
      inParallel(Seq(0.35, 0.42, 0.48, 0.55).map(t => () =>
        (t, Dedup.semanticDedup(e, "vec_id", "embedding", cents,
          threshold = t).count())))
        .toDF("tau", "survivors").orderBy("tau")
    }),

    "e15_ivf_probe_curve" -> ((s, d) => {
      // the ANN tuning artifact you produce BEFORE fixing nProbe for a
      // corpus-scale index: recall@5 vs exact brute force at nProbe =
      // 1,2,4,8,16 over the e04 IVF geometry (memoized kmeans
      // quantizer — fitted once, all five settings reuse it, the FAISS
      // deployment shape). Recall must be non-decreasing in nProbe and
      // exactly 1.0 at nProbe = nCentroids (probing every cell IS
      // brute force). Five bounded settings -> a driver loop over five
      // distributed jobs, never per-row driver work; deterministic
      // (hash-ordered kmeans sample), so the oracle pins the sf0.01
      // curve (e04/d20 convention).
      import s.implicits._
      val e = emb(s, d).select("vec_id", "embedding").localCheckpoint(true)
      val q = e.filter(col("vec_id") < 20).localCheckpoint(true)
      val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
          "embedding", 5)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
      val total = exact.count().toDouble
      // warm the memoized quantizer ONCE before fanning out, then run
      // the five probe settings as concurrent jobs (guide §2.6): each
      // is an independent deterministic count over the same
      // checkpointed inputs, so the only effect is back-filling the
      // job tails. (computeIfAbsent would serialize concurrent fits
      // anyway; the pre-warm keeps the fit itself out of the fan-out.)
      Similarity.ivfTopK(q, e, "vec_id", "vec_id", "embedding",
        5, nCentroids = 16, nProbe = 1)
      inParallel(Seq(1, 2, 4, 8, 16).map(p => () => {
        val approx = Similarity.ivfTopK(q, e, "vec_id", "vec_id", "embedding",
          5, nCentroids = 16, nProbe = p)
        val hit = exact.join(approx.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi").count()
        (p, math.rint(hit / total * 10000) / 10000)
      })).toDF("n_probe", "recall").orderBy("n_probe")
    }),

    "e13_ivfpq_knn" -> ((s, d) => {
      // IVF+PQ composed — the production ANN shape (FAISS IVFPQ):
      // coarse cells prune the corpus per query, PQ reconstructions
      // rank only the probed cells by exact ADC. Every decision
      // (assignment, probe ranking, each distance) replays in SQL —
      // unlike e04's pinned recall, this composition gate is fully
      // oracle-exact.
      val e = emb(s, d)
      val cents = e.filter(pmod(col("vec_id"), lit(31)) === 7 && col("vec_id") < 500)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
      Similarity.ivfPqTopK(e.filter(col("vec_id") < 10), e,
          "vec_id", "vec_id", "embedding", cents, m = 8, k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    }),

    "k08_chat_format" -> ((s, d) => {
      // SFT chat-template rendering: (system, user, assistant) turn
      // arrays flattened into one role-delimited training string —
      // the post-training data-prep step every instruct corpus runs.
      // Turns travel as an array<struct<role,content>> column and the
      // render is a transform+array_join fold (zero shuffle,
      // codegen'd); the gate checks the rendered fingerprint and the
      // token accounting it feeds into packing.
      val turns = array(
        struct(lit("system").as("role"),
          lit("You are a helpful assistant.").as("content")),
        struct(lit("user").as("role"),
          substring(col("text"), 1, 60).as("content")),
        struct(lit("assistant").as("role"),
          substring(col("text"), 61, 80).as("content")))
      docs(s, d).select(col("doc_id"), turns.as("turns"))
        .withColumn("rendered", concat(
          array_join(transform(col("turns"), t =>
            concat(lit("<|"), t.getField("role"), lit("|>\n"),
              t.getField("content"), lit("\n"))), ""),
          lit("<|end|>")))
        .select(col("doc_id"), size(col("turns")).cast("long").as("n_turns"),
          md5(col("rendered").cast("binary")).as("render_fp"),
          TextFunctions.tokenCount(col("rendered")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    "st23_stream_dlq" -> ((s, d) => {
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
    }),

    "d69_nfkc_normalize" -> ((s, d) => {
      // the tokenizer's NFKC pass (reference nmt_nfkc) made
      // oracle-visible: compatibility characters — ligatures,
      // full-width forms, circled digits, unit squares — are injected
      // on doc_id strata, the custom NormalizeNfkc expression folds
      // them, and the oracle states every expected folding as an
      // explicit replace chain. Java's Normalizer and the stated
      // table must agree char-for-char; the ASCII corpus tail is
      // NFKC-invariant by construction.
      val decorated = concat(
        when(col("doc_id") % 2 === 0, lit("ﬁle ")).otherwise(lit("ﬂow ")),
        when(col("doc_id") % 3 === 0, lit("Ａ０ ")).otherwise(lit("① ")),
        when(col("doc_id") % 5 === 0, lit("㎞ ")).otherwise(lit("")),
        substring(col("text"), 1, 24))
      docs(s, d).select(col("doc_id"), decorated.as("raw"))
        .withColumn("norm",
          graft.functions.HashFunctions.normalizeNfkc(col("raw")))
        .withColumn("changed", col("norm") =!= col("raw"))
        .orderBy("doc_id")
    }),

    "d70_containment_dedup" -> ((s, d) => {
      // asymmetric (containment) near-dup — the quote/excerpt
      // detector symmetric Jaccard misses: a 10-word snippet inside a
      // long doc has tiny Jaccard but containment 1.0. Candidates
      // come from an inverted word-3gram index with a document-
      // frequency cap (common phrases can never explode the pair
      // space — the scale guard); containment = shared grams /
      // |contained grams| on the SAME df-capped gram sets, verified
      // exactly. Snippets are synthesized word-aligned (words 5..14
      // of every 4th doc) so the oracle brute-forces ground truth.
      val wordsOf = split(TextFunctions.normalizeForDedup(col("text")), " ")
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val snip = base.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          array_join(slice(wordsOf, 5, 10), " ").as("text"))
      val all = base.unionByName(snip)
      val grams = all.select(col("doc_id"),
          explode(TextFunctions.wordShingleHashes(col("text"), 3)).as("g"))
        .distinct()
      val hot = grams.groupBy("g").agg(count(lit(1)).as("df"))
        .where(col("df") > 50).select("g")
      val g2 = grams.join(hot, Seq("g"), "left_anti")
        .localCheckpoint(true)
      val sizes = g2.groupBy("doc_id").agg(count(lit(1)).as("n_g"))
      val cand = g2.select(col("doc_id").as("contained_id"), col("g"))
        .join(g2.select(col("doc_id").as("container_id"), col("g")), "g")
        .where(col("contained_id") =!= col("container_id"))
        .groupBy("contained_id", "container_id").agg(count(lit(1)).as("shared"))
      cand
        .join(sizes.select(col("doc_id").as("contained_id"), col("n_g").as("na")),
          "contained_id")
        .join(sizes.select(col("doc_id").as("container_id"), col("n_g").as("nb")),
          "container_id")
        .where(col("shared").cast("double") / col("na") >= 0.9
          && (col("na") < col("nb")
            || (col("na") === col("nb") && col("contained_id") < col("container_id"))))
        .select(col("contained_id"), col("container_id"),
          round(col("shared").cast("double") / col("na"), 6).as("containment"))
        .orderBy("contained_id", "container_id")
    }),

    "d68_dedup_cascade" -> ((s, d) => {
      // the production dedup CASCADE as one pipeline: exact (md5) →
      // n-gram near-dup (MinHash-blocked, exact-verified) → semantic
      // (embedding cosine), each stage consuming the previous stage's
      // survivors — cheapest-first, so every expensive stage sees a
      // smaller corpus (the ordering that matters at 100 TB). Stages
      // are eager-checkpointed so each executes once (the d50 lesson);
      // the audit sheet reports survivors per stage, and the oracle
      // replays all three closures over the SAME survivor chain.
      val all = docs(s, d).select("doc_id", "text")
      val s1 = Dedup.exact(all, "doc_id", "text")
        .select("doc_id", "text").localCheckpoint(true)
      val s2 = Dedup.ngramJaccard(s1, "doc_id", "text", n = 3, threshold = 0.8)
        .select("doc_id").localCheckpoint(true)
      val e2 = emb(s, d).join(s2, col("vec_id") === col("doc_id"))
        .select(col("vec_id"), col("embedding"))
      val s3 = Dedup.embeddingCosine(e2, "vec_id", "embedding", threshold = 0.97)
        .select("vec_id")
      Seq("0_input" -> all, "1_exact" -> s1, "2_ngram" -> s2,
          "3_semantic" -> s3)
        .map { case (nm, df0) =>
          df0.agg(count(lit(1)).as("n_docs")).select(lit(nm).as("stage"), col("n_docs"))
        }
        .reduce(_ unionByName _)
        .orderBy("stage")
    }),

    "d65_sentence_stats" -> ((s, d) => {
      // sentence segmentation stats: a lookaround-free boundary rule
      // ('[.!?]+' then whitespace-or-end) counts identically under
      // Java regex and RE2. Sentences are synthesized on doc_id
      // strata (2/3/4 per doc — the corpus itself has no
      // punctuation). One zero-shuffle projection.
      docs(s, d).select(col("doc_id"), sentenceSynth.as("t"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit("[.!?]+(\\s|$)"), lit(0)))
            .cast("long").as("n_sentences"),
          TextFunctions.tokenCount(col("t")).cast("long").as("n_words"))
        .withColumn("words_per_sentence",
          round(col("n_words").cast("double") / col("n_sentences"), 4))
        .orderBy("doc_id")
    }),

    "d66_readability" -> ((s, d) => {
      // Flesch reading-ease (206.835 − 1.015·words/sentence −
      // 84.6·syllables/word) with syllables approximated by
      // vowel-group runs — the dictionary-free proxy every readability
      // filter uses. The double expression tree is written in the
      // same shape on both engines and rounded only at the edge.
      docs(s, d).select(col("doc_id"), sentenceSynth.as("t"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit("[.!?]+(\\s|$)"), lit(0)))
            .cast("long").as("n_sentences"),
          TextFunctions.tokenCount(col("t")).cast("long").as("n_words"),
          size(regexp_extract_all(lower(col("t")), lit("[aeiouy]+"), lit(0)))
            .cast("long").as("n_syllables"))
        .withColumn("flesch",
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
            - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 4))
        .orderBy("doc_id")
    }),

    "d67_url_canonical_dedup" -> ((s, d) => {
      // crawl-frontier URL dedup: every synthetic URL gets a
      // tracking-decorated doppelganger (uppercased authority,
      // trailing slash, utm_source+fbclid params prepended, #top
      // fragment) — UrlFunctions.canonicalize must collapse each pair
      // while keeping genuinely distinct resources apart. The
      // decorated twin is built from the SAME regex decomposition the
      // oracle replays; the canonical group-by is the only shuffle.
      val base = docs(s, d).select(col("doc_id"), urlSynth.as("url"))
      val auth = regexp_extract(col("url"), "^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
      val q = UrlFunctions.query(col("url"))
      val decorated = base.select(col("doc_id"),
        concat(UrlFunctions.scheme(col("url")), lit("://"), upper(auth),
          UrlFunctions.path(col("url")), lit("/"),
          lit("?utm_source=feed&fbclid="), (col("doc_id") % 7).cast("string"),
          when(q =!= "", concat(lit("&"), q)).otherwise(lit("")),
          lit("#top")).as("url"))
      base.unionByName(decorated)
        .withColumn("canon", UrlFunctions.canonicalize(col("url")))
        .groupBy("canon")
        .agg(count(lit(1)).as("n_urls"), countDistinct(col("url")).as("n_raw"))
        .orderBy("canon")
    }),

    "p05_pseudonymize" -> ((s, d) => {
      // privacy-preserving linkability: emails become stable hash
      // pseudonyms (PiiFunctions.pseudonymizeEmail) instead of
      // <EMAIL> holes — de-identified docs still JOIN on identity.
      // The gate proves both properties at once: every pseudonym
      // groups exactly the docs that shared the email (n_docs) and
      // never crosses identities (n_sources = 1 unless md5-8
      // collides). Zero shuffle until the bounded pseudonym group-by.
      // The oracle derives the pseudonym from the synthesis seed
      // (source), never seeing the extraction path.
      val synth = concat(lit("reach me at "), col("source"),
        lit("@example.com "), substring(col("text"), 1, 40))
      docs(s, d).select(col("doc_id"), col("source"), synth.as("t"))
        .withColumn("pseudo_text", PiiFunctions.pseudonymizeEmail(col("t")))
        .withColumn("pseudonym",
          regexp_extract(col("pseudo_text"), "user_[0-9a-f]{8}", 0))
        .groupBy("pseudonym")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("pseudonym")
    }),

    "w12_manifest_swap" -> ((s, d) => {
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
    }),

    "g05_cooccurrence" -> ((s, d) => {
      // bipartite projection: the user–event_type bipartite graph
      // projected onto event types, edge weight = users exhibiting
      // both types. Per-user type sets are bounded by the type
      // vocabulary, so the within-user pair expansion is O(types²)
      // per user — never corpus-quadratic; the distinct and the pair
      // count are the only shuffles.
      val ut = ev(s, d).where(col("user_id").isNotNull)
        .select("user_id", "event_type").distinct()
      val a = ut.select(col("user_id"), col("event_type").as("type_a"))
      val b = ut.select(col("user_id"), col("event_type").as("type_b"))
      a.join(b, "user_id").where(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_users"))
        .orderBy("type_a", "type_b")
    }),

    "g06_label_propagation" -> ((s, d) => {
      // community detection over g01/g03's deterministic host graph:
      // 3 synchronous LPA rounds (Raghavan et al. 2007) with the
      // total-order vote tiebreak (max weighted vote, then smallest
      // label) that makes the run partition-count-reproducible — the
      // classic random-tie/async variant is neither. Per round: one
      // label-onto-edges join + two partial-agg vote aggregations, no
      // window; the oracle unrolls the identical 3 rounds as CTE
      // blocks with row_number replaying the (votes DESC, lbl ASC)
      // argmax.
      val edges = docs(s, d).select(
        concat(lit("h"), (col("doc_id") % 37).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * 7) % 41).cast("string")).as("dst"),
        ((col("doc_id") % 5) + 1).as("w"))
      LabelPropagation.run(edges, weightCol = Some("w"), iterations = 3)
        .orderBy("node")
    }),

    "g07_kcore" -> ((s, d) => {
      // k-core decomposition over a SPARSE draw of the host graph
      // (every 11th doc contributes its g01 edge — the full fixture
      // graph is too dense to peel): nodes keeping >= 2 distinct
      // neighbors after CASCADING removals, the link-farm/tendril
      // separator PageRank and LPA don't give. At the gate SF the
      // peel removes 12 edges across SIX dependent rounds (each
      // removal exposes the next degree-1 tendril node) before the
      // 28-node core stabilizes — rounds = 7 covers the fixpoint plus
      // one spec-asserted no-op round; the oracle unrolls the
      // identical 7 rounds as CTE blocks. Per round: one partial-agg
      // degree count + two node-sized semi-joins, edges
      // localCheckpointed (the CC lineage rule).
      val edges = docs(s, d).where(col("doc_id") % 11 === 0).select(
        concat(lit("h"), (col("doc_id") % 37).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * 7) % 41).cast("string")).as("dst"))
      KCore.run(edges, k = 2, rounds = 7).orderBy("node")
    }),

    "ev21_resample_ffill" -> ((s, d) => {
      // time-series resample + forward fill — the feature-store
      // "regular grid" op: each user's sparse event stream becomes a
      // dense hourly grid (sequence/explode between that user's own
      // bounds; grid size = activity span, not corpus size), empty
      // hours get n_events = 0 and carry the last observed hourly max
      // value forward (last-ignoreNulls running window per user —
      // high-cardinality key). Hour values are exact element picks,
      // so no float arithmetic reaches the hash.
      val e = ev(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"),
          expr("(ts div 1000) div 3600000000").as("hour"), col("value"))
      val hourly = e.groupBy("user_id", "hour")
        .agg(count(lit(1)).as("n_ev"), max("value").as("v"))
      val bounds = hourly.groupBy("user_id")
        .agg(min("hour").as("hmin"), max("hour").as("hmax"))
      val grid = bounds.select(col("user_id"),
        explode(sequence(col("hmin"), col("hmax"))).as("hour"))
      val w = Window.partitionBy("user_id").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "hour"), "left")
        .select(col("user_id"), col("hour"),
          coalesce(col("n_ev"), lit(0L)).as("n_events"), col("v"))
        .withColumn("v_ffill", last("v", ignoreNulls = true).over(w))
        .drop("v")
        .orderBy("user_id", "hour")
    }),

    "ev22_quantile_sketch" -> ((s, d) => {
      // sketch-quantile accuracy audit: percentile_approx (the KLL/GK
      // path — at 100 TB the ONLY way to take quantiles in one pass)
      // next to the exact type-1 quantiles (Ranking.exactQuantiles,
      // the distributed-rank construction), with the sketch's rank
      // error MEASURED in-plan: the approx value's rank interval
      // [count(<v)+1, count(<=v)] must intersect the target rank
      // ±n/accuracy. The bounds land as pinned-TRUE booleans (b02's
      // embedded-assertion convention); the exact values hash-gate.
      val e = ev(s, d).where(col("value").isNotNull)
        .select(col("event_type"), col("value"))
      val exact = Ranking.exactQuantiles(e, "event_type", "value",
        Seq(0.5 -> "p50", 0.95 -> "p95"))
      val approx = e.groupBy("event_type").agg(
        percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(1000))
          .as("ap"),
        count(lit(1)).as("n"))
        .select(col("event_type"), col("ap")(0).as("a50"), col("ap")(1).as("a95"),
          col("n"))
      val ranks = e.join(broadcast(approx), "event_type")
        .groupBy("event_type")
        .agg(sum(when(col("value") < col("a50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("value") <= col("a50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("value") < col("a95"), 1L).otherwise(0L)).as("lt95"),
          sum(when(col("value") <= col("a95"), 1L).otherwise(0L)).as("le95"))
      // guarantee is a RELATIVE rank error of 1/accuracy → ceil(n/acc)
      // absolute; +1 covers the off-by-one between the sketch's target
      // rank convention and the type-1 ceil(p*n) used here
      val tol = ((col("n") + 999) / 1000).cast("long") + lit(1L)
      approx.join(ranks, "event_type").join(exact, "event_type")
        .withColumn("t50", ceil(lit(0.5) * col("n")).cast("long"))
        .withColumn("t95", ceil(lit(0.95) * col("n")).cast("long"))
        .select(col("event_type"), col("p50"), col("p95"),
          (col("lt50") + 1 <= col("t50") + tol
            && col("le50") >= col("t50") - tol).as("ok50"),
          (col("lt95") + 1 <= col("t95") + tol
            && col("le95") >= col("t95") - tol).as("ok95"))
        .orderBy("event_type")
    }),

    "st22_stream_phash_dedup" -> ((s, d) => {
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
      val dropped = s.table("st22_tbl")
        .join(newSigs.select(col("id").as("__new_id"), col("sig").as("s1")), "__new_id")
        .join(corpusSigs.select(col("id").as("__idx_id"), col("sig").as("s2")), "__idx_id")
        .where(bit_count(col("s1").bitwiseXOR(col("s2"))) <= maxHamming)
        .select(col("__new_id").as("id")).distinct()
      newSigs.join(dropped, Seq("id"), "left_anti")
        .select(col("id").as("asset_id"), col("sig").as("phash"))
        .orderBy("asset_id")
    }),

    "q47_excess_share" -> ((s, d) => {
      // TPC-H Q11/Q20 shape: suppliers carrying an outsized share of a
      // part's total shipped quantity (>20%) — the group-total-
      // join-back HAVING-subquery pattern. Both aggregates ride the
      // SAME (partkey, suppkey) pre-aggregation; the share compare is
      // qty*5 > total in exact arithmetic (quantities are integral, so
      // double sums are order-invariant below 2^53). High-cardinality
      // keys throughout.
      val l = li(s, d); val sp = supp(s, d)
      val ps = l.groupBy("l_partkey", "l_suppkey")
        .agg(sum("l_quantity").as("qty"))
      val tot = ps.groupBy("l_partkey").agg(sum("qty").as("tot_qty"))
      ps.join(tot, "l_partkey")
        .where(col("qty") * 5 > col("tot_qty"))
        .join(sp, col("l_suppkey") === col("s_suppkey"))
        .select(col("l_partkey"), col("s_name"), col("qty"), col("tot_qty"))
        .orderBy("l_partkey", "s_name")
    }),

    "ev20_transition_paths" -> ((s, d) => {
      // user-journey path mining: the event-type transition matrix
      // (Markov bigram counts) over each user's time-ordered stream —
      // per-user lag window (high-cardinality key), then a bounded
      // (from x to) aggregation. The entry step (first event of a
      // user) rolls up under from_type = '__START__'.
      val e = ev(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("us"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      e.withColumn("from_type",
          coalesce(lag("event_type", 1).over(w), lit("__START__")))
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n_transitions"))
        .orderBy("from_type", "to_type")
    }),

    "e12_mmr_rerank" -> ((s, d) => {
      // diversity-aware retrieval: MMR re-rank of each query's exact
      // top-10 cosine candidates (Similarity.mmrRerank — bounded
      // per-query greedy over collected candidate vectors). The
      // oracle unrolls all five greedy argmax rounds as CTEs (g01's
      // iteration-unroll convention) with every cosine recomputed in
      // the same index-order double arithmetic — each selection, not
      // just the final set, must replay exactly.
      val e = emb(s, d)
      Similarity.mmrRerank(e.filter(col("vec_id") < 8), e, "vec_id",
          "vec_id", "embedding", kCand = 10, kOut = 5,
          lambdaRel = 0.7, lambdaDiv = 0.3)
        .orderBy("query_id", "mmr_rank")
    }),

    "st21_stream_anomaly" -> ((s, d) => {
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
    }),

    "ev19_window_dedup" -> ((s, d) => {
      // time-windowed event dedup: an event is a duplicate when the
      // SAME (user, type) fired within the last hour — the classic
      // at-least-once-delivery suppression step ahead of any event
      // rollup. One lag() per (user_id, event_type) — high-cardinality
      // keys, per-key state is one timestamp. Reported per type so
      // the dedup rate is auditable.
      val e = ev(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("us"), col("event_id"))
      val w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
      e.withColumn("prev_us", lag("us", 1).over(w))
        .withColumn("is_dup",
          col("prev_us").isNotNull && col("us") - col("prev_us") <= 3600000000L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
        .orderBy("event_type")
    }),

    "ev18_scd2_intervals" -> ((s, d) => {
      // SCD-type-2 history build from an event log: per user,
      // consecutive runs of the same event_type collapse into
      // validity intervals [valid_from, valid_to), the current run
      // left open (NULL valid_to) — the warehouse dimension-history
      // op. Derived with per-user windows only (high-cardinality
      // partition key, the ev02/d62 run-length shape); total order
      // inside a user is (ts, event_id) so runs are well-defined on
      // both engines.
      val e = ev(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("us"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val runs = e
        .withColumn("is_start",
          when(lag("event_type", 1).over(w).isNull
            || lag("event_type", 1).over(w) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("run_id", sum("is_start").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val iv = runs.groupBy("user_id", "run_id")
        .agg(max("event_type").as("event_type"),
          min("us").as("valid_from_us"),
          count(lit(1)).as("n_events"))
      iv.withColumn("valid_to_us",
          lead("valid_from_us", 1).over(Window.partitionBy("user_id").orderBy("run_id")))
        .select("user_id", "run_id", "event_type", "valid_from_us",
          "valid_to_us", "n_events")
        .orderBy("user_id", "run_id")
    }),

    "d64_quality_classifier" -> ((s, d) => {
      // trained quality classifier (the DCLM / fastText-classifier
      // shape): HashingTF bag-of-words -> MLlib logistic regression,
      // trained on the judge's own keep/drop verdicts (weak
      // supervision — the cheap rule set labels a seed, the model
      // generalizes it), scored back over the corpus. Everything
      // stays distributed: the fit is MLlib's treeAggregate gradient
      // path, the model a broadcast coefficient vector, scoring one
      // projection. Rows inside the 0.05 probability margin report as
      // 'uncertain' rather than letting float jitter flip a class
      // count — the pinned confusion matrix (d20/d30 convention)
      // gates only confident decisions.
      import org.apache.spark.ml.classification.LogisticRegression
      import org.apache.spark.ml.feature.HashingTF
      import org.apache.spark.ml.functions.vector_to_array
      val labeled = docs(s, d).select(col("doc_id"), col("text"),
          (TextFunctions.judgeReason(col("text"), judgeT) === "ok").as("judge_kept"))
        .withColumn("label", when(col("judge_kept"), 1.0).otherwise(0.0))
        // bag-of-words PLUS bucketized stat tokens (len/punct/alpha/
        // non-ws) — the fastText-classifier trick for rules that live
        // in character statistics, not word identity; bucket widths
        // chosen so the judge's thresholds fall on bucket boundaries
        .withColumn("words", concat(
          split(lower(col("text")), "\\s+"),
          array(
            concat(lit("len_"), floor(length(col("text")) / 50).cast("string")),
            concat(lit("punct_"),
              floor(TextFunctions.punctRatio(col("text")) * 40).cast("string")),
            concat(lit("alpha_"),
              floor(TextFunctions.alphaCjkRatio(col("text")) * 20).cast("string")),
            concat(lit("nws_"),
              floor(TextFunctions.nonWsRatio(col("text")) * 20).cast("string")))))
      val feat = new HashingTF().setInputCol("words").setOutputCol("features")
        .setNumFeatures(1 << 12).transform(labeled)
      val model = new LogisticRegression()
        .setMaxIter(25).setRegParam(0.01).fit(feat)
      model.transform(feat)
        .withColumn("p_keep", vector_to_array(col("probability"))(1))
        .withColumn("model_pred",
          when(col("p_keep") > 0.55, "keep")
            .when(col("p_keep") < 0.45, "drop")
            .otherwise("uncertain"))
        .groupBy("judge_kept", "model_pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("judge_kept", "model_pred")
    }),

    "m06_phash_neardup" -> ((s, d) => {
      // perceptual near-duplicate image detection — the multimodal
      // twin of SimHash text dedup (x02): 63-bit average-hash from the
      // REAL decoded pixels (bit i = gray_i above the image mean, in
      // integer arithmetic), pigeonhole-banded at Hamming radius 2
      // (recall-guaranteed), bucket-local pairs with the skew cap,
      // exact bit_count(xor) verify, distributed CC. The oracle
      // rebuilds the hash from the synthesis formulas, brute-forces
      // the Hamming graph, and closes it recursively — the Spark
      // banded path must reproduce the exact clusters.
      val assets = Multimodal.synthesizeAssets(docs(s, d).select("doc_id"), "doc_id")
      Multimodal.phashClusters(assets, maxHamming = 2)
        .orderBy("asset_id")
    }),

    "d63_accent_fold" -> ((s, d) => {
      // accent-folding normalization ahead of exact dedup: diacritic
      // variants collapse onto their base form via an explicit
      // translate table (the deterministic, SQL-replayable core of a
      // unicode fold). Every doc gets an accented twin (lowercase
      // vowels diacriticized); raw-text fingerprints keep the twins
      // apart, folded fingerprints merge them — n_raw_variants counts
      // the distinct raw keys each folded group absorbed (2 for every
      // twin pair, more where the corpus' planted exact dups stack).
      // Zero shuffle until the uniform md5 group-by.
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val twin = base.select((col("doc_id") + 1000000L).as("doc_id"),
        translate(col("text"), "aeiou", "áéíóú").as("text"))
      base.unionByName(twin)
        .withColumn("folded",
          translate(lower(col("text")), "áéíóú", "aeiou"))
        .groupBy(md5(col("folded").cast("binary")).as("fold_fp"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text").cast("binary"))).as("n_raw_variants"))
        .orderBy("fold_fp")
    }),

    "q45_min_cost_supplier" -> ((s, d) => {
      // TPC-H Q2 shape: per-part minimum-cost supplier within a
      // region. The fixture has no partsupp table, so supply cost is
      // the min l_extendedprice observed per (part, supplier) —
      // lineitem pre-aggregates FIRST (the corpus-sized scan shrinks
      // to the part x supplier key space before anything joins), the
      // region-filtered dimension chain broadcasts onto it, and the
      // per-part min is a window over l_partkey — a high-cardinality
      // partition key that stays parallel at any scale (never the
      // q30-class cardinality-3 trap). The equality filter keeps every
      // tied supplier, Q2's multi-winner semantics.
      val l = li(s, d); val sp = supp(s, d); val p = part(s, d)
      val n = nat(s, d); val r = reg(s, d)
      val cost = l.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice")).as("supply_cost"))
      val dims = sp.join(broadcast(n), sp("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r.where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val euro = cost.join(dims, cost("l_suppkey") === dims("s_suppkey"))
      val best = euro
        .withColumn("min_cost", min("supply_cost").over(Window.partitionBy("l_partkey")))
        .where(col("supply_cost") === col("min_cost"))
      best.join(p.where(col("p_size") < 15 && col("p_type") === "STANDARD"),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("s_name"), col("n_name"),
          col("supply_cost").as("min_cost"))
        .orderBy("p_partkey", "s_name")
    }),

    "q46_waiting_orders" -> ((s, d) => {
      // TPC-H Q21 shape: suppliers that were the SOLE late supplier
      // on a multi-supplier order. "Late" reuses q40's derived rule
      // (ship lag > 60 days — the fixture has no receipt/commit
      // dates). Q21's correlated EXISTS + NOT-EXISTS pair would join
      // lineitem against itself twice; one per-order aggregate
      // computing (distinct suppliers, distinct LATE suppliers)
      // carries the same information in a single orderkey shuffle —
      // a late line's supplier "kept the order waiting" iff
      // n_late_supp = 1 and n_supp > 1. The oracle states the
      // textbook EXISTS form independently.
      val l = li(s, d); val o = ord(s, d); val sp = supp(s, d)
      val lo = l.select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(o.select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          datediff(col("l_shipdate"), col("o_orderdate")) > 60)
      // ONE per-(order, supplier) aggregate replaces the old two
      // independent passes over the lineitem⋈orders join (a
      // countDistinct pair — an Expand doubling the agg input — plus a
      // separate distinct of the late lines): late_any = max(late) per
      // supplier, then suppliers-per-order / late-suppliers-per-order
      // are plain counts and the late-line list is a filter of the SAME
      // frame — the join is scanned once and the Expand is gone
      // (guide §2.4: two operations keyed the same way share one
      // exchange). countDistinct(suppkey) == count of (order, supp)
      // groups; countDistinct(when(late, suppkey)) == count of groups
      // with any late line — value-identical by definition.
      // eager checkpoint: perSupp feeds BOTH perOrder and lateLines, and
      // the r13 executed-plan dump (plans/r13/q46 before) shows AQE
      // exchange reuse does NOT unify the two subtrees — column pruning
      // diverges them (perOrder drops l_suppkey), so only the orders
      // BROADCAST was reused and the lineitem⋈orders join + aggregate
      // ran twice. Materializing the (order, supplier)-sized aggregate
      // once makes "one lineitem scan" true by construction at any SF.
      val perSupp = lo.groupBy("l_orderkey", "l_suppkey")
        .agg(max(col("late")).as("late_any"))
        .localCheckpoint(true)
      val perOrder = perSupp.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supp"),
          count(when(col("late_any"), lit(1))).as("n_late_supp"))
      val lateLines = perSupp.where(col("late_any"))
        .select("l_orderkey", "l_suppkey")
      lateLines
        .join(perOrder.where(col("n_supp") > 1 && col("n_late_supp") === 1),
          "l_orderkey")
        .groupBy("l_suppkey").agg(count(lit(1)).as("numwait"))
        .join(sp, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(desc("numwait"), asc("s_name"))
    }),

    "g04_triangles" -> ((s, d) => {
      // triangle counting over the deterministic host graph (g01/g03's
      // edge synth) — the classic oriented-edge-join construction:
      // undirected edges oriented min->max ONCE so each triangle is
      // generated exactly once as a < b < c, wedges from the edge
      // self-join on the middle vertex, closed by a LEFT SEMI probe
      // against the oriented edge set (never materializing non-
      // triangle wedges downstream). At web scale the orientation key
      // would be (degree, id) to bound wedge fanout at hub vertices —
      // id orientation keeps the construction SQL-replayable and the
      // synthetic graph is hub-free. Per-node participation counts
      // come from exploding each triangle's three corners.
      val raw = docs(s, d).select(
        concat(lit("h"), (col("doc_id") % 37).cast("string")).as("a"),
        concat(lit("h"), ((col("doc_id") * 7) % 41).cast("string")).as("b"))
      val e = raw.where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .distinct()
        .localCheckpoint(true)
      val wedges = e.select(col("u").as("x"), col("v").as("y"))
        .join(e.select(col("u").as("y"), col("v").as("z")), "y")
      val tri = wedges.join(e,
        wedges("x") === e("u") && wedges("z") === e("v"), "left_semi")
      tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_triangles"))
        .orderBy("node")
    }),

    "w11_dynamic_overwrite" -> ((s, d) => {
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
    }),

    "w10_try_cast" -> ((s, d) => {
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
    }),

    "w09_compaction_exec" -> ((s, d) => {
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
    }),

    "x10_shard_checksums" -> ((s, d) => {
      // shard-manifest integrity: per-shard content checksum of the
      // d46 train-order layout — md5 over the pos-ordered per-doc
      // md5s. This is the manifest a sharded sink emits per FILE, so
      // the collected group is bounded by the writer's
      // maxRecordsPerFile (not corpus-sized); readers re-hash a shard
      // to detect corruption before training.
      val h = md5(col("doc_id").cast("string").cast("binary"))
      val keyed = docs(s, d).select(
        substring(h, 1, 1).as("shard"), h.as("hk"), col("doc_id"),
        md5(col("text")).as("fp"))
      keyed.groupBy("shard")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("hk"), col("doc_id"), col("fp")))),
              x => x.getField("fp")),
            "").cast("binary")).as("shard_fp"))
        .orderBy("shard")
    }),

    "e10_centroid_outliers" -> ((s, d) => {
      // embedding-space outlier filter: cosine to the assigned
      // (nearest) coarse centroid; rows whose best-cell cosine sits
      // below threshold are flagged — the "far from every cluster"
      // curation signal next to SemDeDup's "too close inside a
      // cluster". Assignment is e08's zero-shuffle broadcast-literal
      // argmax with the winning cosine kept; the oracle rebuilds the
      // cell AND the value, so either being wrong hash-fails.
      val e = emb(s, d)
      val cents = e.filter(pmod(col("vec_id"), lit(31)) === 7 && col("vec_id") < 500)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
      Similarity.centroidAssign(e, "vec_id", "embedding", cents)
        .select(col("vec_id"), col("cell"),
          round(col("csim"), 6).as("centroid_sim"),
          (col("csim") < 0.18).as("is_outlier"))
        .orderBy("vec_id")
    }),

    "e11_range_search" -> ((s, d) => {
      // radius (range) search — the similarity-search dual of e01's
      // top-k: ALL corpus vectors with cosine >= tau to each query.
      // Query side (10 rows) broadcast, corpus scanned exactly once,
      // predicate evaluated in-plan — no shuffle at any scale. The
      // published similarity is rounded; the tau=0.3 cut sits 1.2e-3
      // from the nearest observed value, far outside double jitter.
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("query_id"))
        .withColumn("sim", Similarity.cosine(col("qe"), col("embedding")))
        .where(col("sim") >= 0.3)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(col("sim"), 6).as("cos_sim"))
        .orderBy("query_id", "neighbor_id")
    }),

    "g03_hits" -> ((s, d) => {
      // hubs & authorities over the same deterministic host graph as
      // g01 — the second classic link-quality signal (a page PageRank
      // misses: a hub pointing at many good authorities). Exact
      // max-normalized integer arithmetic (operators/Hits.scala) makes
      // the scores bit-identical at any partition count and lets the
      // oracle unroll the same two iterations as CTEs with scalar max
      // subqueries.
      val edges = docs(s, d).select(
        concat(lit("h"), (col("doc_id") % 37).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * 7) % 41).cast("string")).as("dst"),
        ((col("doc_id") % 5) + 1).as("w"))
      Hits.run(edges, iterations = 2).orderBy("node")
    }),

    "ev14_decay_score" -> ((s, d) => {
      // exponentially time-decayed engagement (half-life style
      // recency weighting, anchored at the corpus max ts so the score
      // is reproducible): score = sum(value * exp(-age_days/30)) per
      // event_type. The anchor is a one-row agg broadcast back; the
      // decayed sum shuffles once on the bounded event_type key.
      val e = ev(s, d)
        .select(col("event_type"), col("value"), expr("ts div 1000").as("us"))
      val anchor = e.agg(max("us").as("max_us"))
      e.crossJoin(broadcast(anchor))
        .withColumn("age_days", expr("(max_us - us) div 86400000000"))
        .groupBy("event_type")
        .agg(round(sum(col("value") * exp(-col("age_days") / lit(30.0))), 2)
          .as("decayed_value"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    "d62_lang_segments" -> ((s, d) => {
      // code-switching segmentation: mixed-language docs (each doc's
      // text interleaved with its successor's — even ids block the two
      // languages [a,a,b,b], odd ids alternate [a,b,a,b]) are split
      // into lines, each line language-labeled (d04's SQL-replayable
      // heuristic), and consecutive same-language lines merge into
      // segments via a lag() run-length pass. The window partitions on
      // doc_id — per-document state, high-cardinality key, the
      // scale-safe direction (ev02's sessionize shape). Alternating
      // docs must report ~4 segments, blocked docs ~2, monolingual
      // pairs 1.
      val a = docs(s, d).select(col("doc_id"), col("text").as("t1"))
      val b = docs(s, d).select((col("doc_id") - 1).as("doc_id"), col("text").as("t2"))
      val p = a.join(b, "doc_id")
      val ls = when(pmod(col("doc_id"), lit(2)) === 0,
          array(col("t1"), col("t1"), col("t2"), col("t2")))
        .otherwise(array(col("t1"), col("t2"), col("t1"), col("t2")))
      val lines = p.select(col("doc_id"), posexplode(ls).as(Seq("pos", "line")))
        .withColumn("lab", TextAnalysis.langIdLabel(col("line")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      lines.withColumn("prev", lag("lab", 1).over(w))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("prev").isNull || col("lab") =!= col("prev"), 1L)
            .otherwise(0L)).as("n_segments"),
          countDistinct(col("lab")).as("n_langs"))
        .orderBy("doc_id")
    }),

    "ev16_sketch_merge" -> ((s, d) => {
      // re-aggregatable distinct sketches — the 100 TB layout stores a
      // per-shard HLL artifact and merges artifacts, never re-reading
      // raw data: per-type DataSketches HLL next to the exact count,
      // then the per-type sketches UNION-MERGED into the global
      // distinct estimate (exercising the associative merge path, not
      // just the build). HLL registers are max-based, so build and
      // merge are insertion-order- and partition-invariant: the
      // estimates are pure functions of the value sets and pin safely
      // (e03 convention); the exact counts are the oracle-checked
      // ground truth beside them.
      val e = ev(s, d).where(col("user_id").isNotNull)
        .select(col("event_type"), col("user_id"))
      val perType = e.groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          countDistinct(col("user_id")).as("n_exact"))
      val typed = perType.select(col("event_type"),
        col("n_exact"),
        hll_sketch_estimate(col("sk")).as("n_est"))
      val merged = perType.agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        .crossJoin(broadcast(e.agg(countDistinct(col("user_id")).as("nx"))))
        .select(lit("__ALL__").as("event_type"), col("nx").as("n_exact"),
          col("est").as("n_est"))
      typed.unionByName(merged).orderBy("event_type")
    }),

    "d61_score_drift" -> ((s, d) => {
      // distribution-drift monitor: the exact two-sample
      // Kolmogorov-Smirnov statistic between the quality-score
      // distributions of two corpus halves (even vs odd doc_id — the
      // stand-in for "yesterday's snapshot vs today's"). KS needs the
      // running CDF over the global score order — the partition-less
      // window scale-killer — so the cumulatives come from
      // core.Partitioning.distributedPrefixSum (range partition +
      // broadcast offsets, both counters in ONE pass). The decision
      // value |r0*n1 - r1*n0| is pure INTEGER arithmetic (== the KS
      // sup scaled by n0*n1): no float CDF ever reaches the argmax.
      // Exact to ~3e9 rows per side before i64 overflow; beyond that,
      // pre-aggregate counts per score quantile.
      val scored = docs(s, d).select(
        floor(TextFunctions.qualityScore(col("text")) * 1000).cast("long").as("q"),
        (col("doc_id") % 2 === 0).as("g0"))
      val counts = scored.groupBy("q").agg(
        sum(when(col("g0"), 1L).otherwise(0L)).as("c0"),
        sum(when(!col("g0"), 1L).otherwise(0L)).as("c1"))
      val cums = graft.core.Partitioning.distributedPrefixSum(
        counts, Seq(col("q").asc), Seq("c0" -> "r0", "c1" -> "r1"))
      val tot = counts.agg(sum("c0").as("n0"), sum("c1").as("n1"))
      cums.crossJoin(broadcast(tot))
        .withColumn("diff", abs(col("r0") * col("n1") - col("r1") * col("n0")))
        .orderBy(desc("diff"), asc("q")).limit(1)
        .select(col("q").as("ks_at_q"), col("diff").as("ks_scaled"),
          round(col("diff").cast("double")
            / (col("n0") * col("n1")).cast("double"), 6).as("ks"))
    }),

    "ev15_daily_anomaly" -> ((s, d) => {
      // volume-anomaly detection over the event stream: a day is
      // anomalous for a type when its count sits more than 2 population
      // standard deviations from that type's daily mean. The z-test is
      // algebraized to INTEGER arithmetic — (n*c - s)^2 > 4*(n*ss - s^2)
      // is exactly z^2 > 4 scaled by n^2 — so no float variance ever
      // reaches the compare (stddev accumulation order differs across
      // engines). Two bounded aggs: daily counts (shuffle on
      // type x day), then per-type moments joined back broadcast.
      val daily = ev(s, d)
        .select(col("event_type"), expr("(ts div 1000) div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n_events"))
      val stats = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("n_events").as("s"),
          sum(col("n_events") * col("n_events")).as("ss"))
      daily.join(broadcast(stats), "event_type")
        .withColumn("dev", col("n_days") * col("n_events") - col("s"))
        .withColumn("is_anomaly",
          col("dev") * col("dev") > lit(4L) * (col("n_days") * col("ss") - col("s") * col("s")))
        .select("event_type", "day", "n_events", "is_anomaly")
        .orderBy("event_type", "day")
    }),

    "d60_token_budget" -> ((s, d) => {
      // token-budget corpus cut: greedily keep the highest-quality
      // docs (quality-milli desc, doc_id tiebreak) until the global
      // running token total exceeds the budget — the final selection
      // step a token-budgeted training run makes. budgetSelect
      // (Sampling.scala) keeps the global prefix sum DISTRIBUTED:
      // range-partitioned sort + per-partition offsets broadcast back,
      // never a single-task whole-corpus window. Integer cost/priority
      // so the cut replays exactly in SQL.
      val scored = docs(s, d).select(col("doc_id"),
        floor(TextFunctions.qualityScore(col("text")) * 1000).cast("long")
          .as("quality_milli"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      Sampling.budgetSelect(scored, "quality_milli", "n_tokens", "doc_id",
          budget = 12000L)
        .select("doc_id", "quality_milli", "n_tokens")
        .orderBy("doc_id")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty, count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount > 0.05 AND l_quantity < 10
         ORDER BY l_orderkey, l_linenumber""",

    "q03_segment_revenue" ->
      """SELECT o_orderkey, o_orderdate,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate >= TIMESTAMP '1997-01-01'
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",

    "q04_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // Exact integer cents (per-row round, then BIGINT sum) — the double
    // round(sum,2) flipped a cent at the r13 10x step-up; see q38/q39.
    "q05_region_revenue" ->
      """SELECT n_name,
           sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) / 100.0 AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY n_name ORDER BY revenue DESC, n_name""",

    "q06_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",

    "q07_nation_volume" ->
      """SELECT n_name, CAST(year(l_shipdate) AS INTEGER) AS l_year,
         sum(l_quantity) AS sum_qty, count(*) AS n_lines
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name, l_year ORDER BY n_name, l_year""",

    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE l_returnflag = 'R'
         GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT 20""",

    "q13_order_count_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey)
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",

    "q14_promo_share" ->
      """SELECT round(sum(CASE WHEN p_type = 'PROMO'
             THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) * 100.0
           / sum(l_extendedprice * (1.0 - l_discount)), 4) AS promo_share
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'""",

    "q18_large_orders" ->
      """SELECT c_custkey, o_orderkey, o_totalprice, sum_qty
         FROM orders
         JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem
               GROUP BY l_orderkey HAVING sum(l_quantity) > 150) t ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",

    "q19_bracket_revenue" ->
      """SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue, count(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
            OR (p_brand = 'Brand#13' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
            OR (p_brand = 'Brand#25' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""",

    "q20_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""",

    "q21_price_buckets" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'lt_50k'
                     WHEN o_totalprice < 150000 THEN '50k_150k'
                     ELSE 'ge_150k' END AS bucket,
         count(*) AS n, min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         FROM orders GROUP BY bucket ORDER BY bucket""",

    "q22_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",

    "q23_supplier_semijoin" ->
      """SELECT s_suppkey, s_name FROM supplier
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
         ORDER BY s_suppkey""",

    "q24_union_distinct" ->
      """SELECT DISTINCT o_orderkey FROM (
           SELECT o_orderkey FROM orders WHERE o_totalprice > 300000
           UNION ALL
           SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
         ORDER BY o_orderkey""",

    "q25_rollup_region" ->
      """SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)
         ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""",

    "q26_window_rank" ->
      """SELECT o_custkey, CAST(rnk AS INTEGER) AS rnk, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
           FROM orders)
         WHERE rnk <= 3 ORDER BY o_custkey, rnk""",

    "ev01_hourly_rollup" ->
      """SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n,
         round(sum(value), 4) AS sum_value
         FROM events GROUP BY hr, event_type ORDER BY hr, event_type""",

    // Join-chain formulation of the same strict ordering: users
    // without the previous stage drop out of the next CTE, exactly as
    // the ts > NULL window predicate nulls them out on the Spark side.
    // The oracle states the range join directly — banding is an
    // execution detail that must be invisible in the pair set.
    "q34_banded_range_join" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events
           WHERE user_id IS NOT NULL)
         SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(p.t - c.t) AS BIGINT) AS sum_gap_us
         FROM (SELECT user_id, t FROM e WHERE event_type = 'purchase') p
         JOIN (SELECT user_id, t FROM e WHERE event_type = 'click') c
           ON p.user_id = c.user_id
           AND c.t < p.t AND p.t - c.t <= 1800000000""",

    // Pinned at sf0.01 (d20 convention): the exact side is plain SQL,
    // but the approx side is Spark's HLL++ estimate — deterministic
    // (register-max merges) yet not replayable by DuckDB's sketch.
    // 150 users hit every event type at this SF and the 2%-rsd sketch
    // is exact at that cardinality.
    "ev10_approx_users" ->
      """SELECT event_type, CAST(exact_users AS BIGINT) AS exact_users,
           CAST(approx_users AS BIGINT) AS approx_users FROM (VALUES
           ('click', 150, 150), ('error', 150, 150), ('purchase', 150, 150),
           ('signup', 150, 150), ('view', 150, 150)
         ) AS t(event_type, exact_users, approx_users)
         ORDER BY event_type""",

    "ev09_funnel" -> funnelOracleSql,

    "st09_stream_funnel" -> funnelOracleSql,

    "st25_stream_funnel_ooo" -> funnelOracleSql,

    "ev02_sessionize" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions FROM (
           SELECT user_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         GROUP BY user_id ORDER BY user_id""",

    "ev03_json_extract" ->
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k
         FROM events GROUP BY event_type ORDER BY event_type""",

    "ev04_running_sum" ->
      """SELECT user_id, event_id, round(sum(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
         FROM events ORDER BY user_id, event_id""",

    "ev05_gaps" ->
      """SELECT user_id, event_id, gap_us FROM (
           SELECT user_id, event_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
           FROM events)
         WHERE gap_us IS NOT NULL ORDER BY user_id, event_id""",

    "ev06_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type""",

    "ev08_range_window" ->
      """SELECT user_id, event_id, round(sum(value) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4) AS hour_sum
         FROM events ORDER BY user_id, event_id""",

    "q31_rank_stats" ->
      """SELECT o_orderkey, o_orderpriority,
              round(percent_rank() OVER w, 6) AS pr,
              CAST(ntile(4) OVER w AS INTEGER) AS quartile,
              round(cume_dist() OVER w, 6) AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey""",

    "q32_pivot_status_priority" ->
      """SELECT o_orderstatus,
              CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
              CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
              CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium,
              CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS notspec,
              CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // The melted frame is DENSE (fill(0) cells melt too): the dense
    // status x priority grid with observed counts, 0 where absent.
    "q37_unpivot" ->
      """WITH s AS (SELECT DISTINCT o_orderstatus FROM orders),
         p AS (SELECT unnest(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']) AS o_orderpriority),
         c AS (SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
           FROM orders GROUP BY o_orderstatus, o_orderpriority)
         SELECT s.o_orderstatus, p.o_orderpriority,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n
         FROM s CROSS JOIN p
         LEFT JOIN c ON s.o_orderstatus = c.o_orderstatus
           AND p.o_orderpriority = c.o_orderpriority
         ORDER BY s.o_orderstatus, p.o_orderpriority""",

    // st13 is the same 30-minute sessionization under Structured
    // Streaming (append mode + flush sentinel) — one oracle string
    // gates both (the d27/st06 convention; the fixture has no null
    // user_ids, so st13's defensive null filter is a no-op).
    "ev07_session_windows" -> sessionWindowsOracleSql,
    "st13_stream_sessions" -> sessionWindowsOracleSql,

    "d01_token_stats" ->
      """SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpeish,
         round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
           / len(string_split_regex(trim(text), '\s+')), 6) AS mean_tok_len
         FROM documents ORDER BY doc_id""",

    "d02_char_ratios" ->
      """SELECT doc_id,
         round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text), 6) AS non_ws,
         round(CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text), 6) AS alpha_cjk,
         round(CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text), 6) AS punct,
         round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text), 6) AS digit
         FROM documents ORDER BY doc_id""",

    "d03_clean_judge" ->
      """SELECT doc_id, drop_reason, drop_reason = 'ok' AS kept FROM (
           SELECT doc_id,
             CASE WHEN length(text) < 100 THEN 'too_short'
                  WHEN length(text) > 450 THEN 'too_long'
                  WHEN CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text) < 0.82 THEN 'too_sparse'
                  WHEN CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text) < 0.8 THEN 'low_language_signal'
                  WHEN CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text) > 0.05 THEN 'too_much_punct'
                  ELSE 'ok' END AS drop_reason
           FROM documents)
         ORDER BY doc_id""",

    // same judge CASE as d03, grouped — the streaming result must land
    // on the batch distribution exactly
    // st14 lands the same judge projection through the checkpointed
    // parquet file sink before aggregating — one oracle string gates
    // both the memory-sink and file-sink paths.
    "st04_stream_quality" -> streamQualityOracleSql,
    "st14_stream_parquet_sink" -> streamQualityOracleSql,

    "q36_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders
         GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "d04_lang_id" -> langIdOracle("SELECT doc_id, lang_pred FROM scored ORDER BY doc_id"),

    // Pinned at sf0.01 (driver's gate SF): the synthesized 8-language
    // fixture assigns doc_id % 8 over 500 docs (ids 0-3 mod 8 → 63 docs,
    // 4-7 → 62), and the trained NB model separates the wordlists
    // perfectly — the all-diagonal matrix is exact-count deterministic
    // under any partitioning (spec-proved). The 500 Danish holdout docs
    // (never trained on) all land on Swedish, the nearest trained
    // neighbor — pinned unseen-language behavior. Re-pin if the fixture
    // or SF changes.
    // Pinned at sf0.01 (d20 convention): fertility/compression are
    // functions of the trained merge table — deterministic (ordered
    // count collect + lexicographic tie-breaks) but not SQL-replayable.
    "k03_tokenizer_fertility" ->
      """SELECT lang, CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
           fertility, chars_per_token FROM (VALUES
           ('de', 14586, 4.1099, 1.3386),
           ('en', 48137, 4.0943, 1.3386),
           ('es', 16269, 4.1104, 1.3373),
           ('fr', 15349, 4.0844, 1.3436),
           ('zh', 17125, 4.1335, 1.3333)
         ) AS t(lang, bpe_tokens, fertility, chars_per_token)
         ORDER BY lang""",

    // Pinned at sf0.01 (d20 convention): the committed 48-language
    // artifact is all-diagonal on the salt-disjoint eval draw — at 30
    // words/doc even the Scandinavian near-forms accumulate enough
    // distinctive-gram evidence. Re-pin on fixture/artifact/SF change.
    "d73_wide_lid" ->
      """SELECT lang, lang_pred_model, CAST(n_dec AS BIGINT) AS n FROM (VALUES
           ('ar', 'ar', 11), ('bg', 'bg', 10), ('bn', 'bn', 10),
           ('ca', 'ca', 10), ('cs', 'cs', 11), ('da', 'da', 11),
           ('de', 'de', 11), ('el', 'el', 11), ('en', 'en', 11),
           ('es', 'es', 11), ('et', 'et', 10), ('fa', 'fa', 10),
           ('fi', 'fi', 11), ('fr', 'fr', 11), ('he', 'he', 11),
           ('hi', 'hi', 10), ('hr', 'hr', 10), ('hu', 'hu', 11),
           ('hy', 'hy', 10), ('id', 'id', 10), ('it', 'it', 11),
           ('ja', 'ja', 11), ('ka', 'ka', 10), ('ko', 'ko', 11),
           ('lt', 'lt', 10), ('lv', 'lv', 10), ('mr', 'mr', 10),
           ('ms', 'ms', 10), ('nl', 'nl', 11), ('no', 'no', 11),
           ('pl', 'pl', 11), ('pt', 'pt', 11), ('ro', 'ro', 11),
           ('ru', 'ru', 10), ('sk', 'sk', 10), ('sl', 'sl', 10),
           ('sr', 'sr', 10), ('sv', 'sv', 11), ('sw', 'sw', 10),
           ('ta', 'ta', 10), ('te', 'te', 10), ('th', 'th', 10),
           ('tl', 'tl', 10), ('tr', 'tr', 10), ('uk', 'uk', 10),
           ('ur', 'ur', 10), ('vi', 'vi', 10), ('zh', 'zh', 10)
         ) AS t(lang, lang_pred_model, n_dec)
         ORDER BY lang, lang_pred_model""",

    // Pinned at sf0.01 (d20 convention): the .bin-loaded fastText
    // fixture's confusion matrix over the Scandinavian synth — shared
    // function words genuinely flip 5 docs cross-language and push 9
    // marginal da docs under the 0.5-prob confidence cut. Per-row
    // fixed-order float math + exact count aggregates = constants of
    // (fixture, SF); re-pin on fixture/SF change.
    "d84_fasttext_lid" ->
      """SELECT lang, pred, CAST(n_dec AS BIGINT) AS n,
           CAST(nc_dec AS BIGINT) AS n_confident FROM (VALUES
           ('da', '__label__da', 167, 158),
           ('no', '__label__da', 1, 0), ('no', '__label__no', 166, 166),
           ('sv', '__label__da', 4, 0), ('sv', '__label__sv', 162, 162)
         ) AS t(lang, pred, n_dec, nc_dec)
         ORDER BY lang, pred""",

    // d85 pins d84's matrix verbatim: the .ftz fixture is the exact-PQ
    // quantization of d84's .bin (decode is bit-identical), so the two
    // file formats MUST reach the same confusion matrix — a quant-path
    // divergence shows as a diff against this shared pin
    "d85_fasttext_ftz" ->
      """SELECT lang, pred, CAST(n_dec AS BIGINT) AS n,
           CAST(nc_dec AS BIGINT) AS n_confident FROM (VALUES
           ('da', '__label__da', 167, 158),
           ('no', '__label__da', 1, 0), ('no', '__label__no', 166, 166),
           ('sv', '__label__da', 4, 0), ('sv', '__label__sv', 162, 162)
         ) AS t(lang, pred, n_dec, nc_dec)
         ORDER BY lang, pred""",

    "d20_trained_lid" ->
      """SELECT lang, lang_pred_model, CAST(n_dec AS BIGINT) AS n FROM (VALUES
           ('da', 'sv', 500),
           ('de', 'de', 63), ('en', 'en', 63), ('es', 'es', 63),
           ('fr', 'fr', 63), ('it', 'it', 62), ('nl', 'nl', 62),
           ('pt', 'pt', 62), ('sv', 'sv', 62)
         ) AS t(lang, lang_pred_model, n_dec)
         ORDER BY lang, lang_pred_model""",

    // Pinned at sf0.01 like d20: on the stopword-free hard fixture the
    // trained model is all-diagonal while the heuristic is "und" on
    // every doc — the pinned separation between the two labelers.
    "d21_hard_lid" ->
      """SELECT lang, lang_pred_model, lang_heur, CAST(n_dec AS BIGINT) AS n FROM (VALUES
           ('de', 'de', 'und', 63), ('en', 'en', 'und', 63),
           ('es', 'es', 'und', 63), ('fr', 'fr', 'und', 63),
           ('it', 'it', 'und', 62), ('nl', 'nl', 'und', 62),
           ('pt', 'pt', 'und', 62), ('sv', 'sv', 'und', 62)
         ) AS t(lang, lang_pred_model, lang_heur, n_dec)
         ORDER BY lang, lang_pred_model, lang_heur""",

    // Pinned at sf0.01 like d20/d21: the cognate fixture (7/10 shared
    // words, 8 words/doc) yields a REAL off-diagonal — 21 of 500 docs
    // carry no distinctive word and fall to the exact-count weight
    // asymmetries (pt loses most: its distinct words share char-3grams
    // with es). Partitioning-invariant by the d20 argument; re-pin on
    // fixture/SF change.
    "d25_cognate_confusion" ->
      """SELECT lang, lang_pred_model, CAST(n_dec AS BIGINT) AS n FROM (VALUES
           ('es', 'es', 165), ('es', 'it', 2),
           ('it', 'es', 6), ('it', 'it', 161),
           ('pt', 'es', 8), ('pt', 'it', 5), ('pt', 'pt', 153)
         ) AS t(lang, lang_pred_model, n_dec)
         ORDER BY lang, lang_pred_model""",

    // Pinned at sf0.01 (d20 convention): 500 docs x 30 tokens, every
    // 5th a name -> 3000 name / 12000 content tokens; the token-level
    // NB separates the orthographically disjoint vocabularies
    // perfectly. Re-pin on fixture/SF change.
    "d30_trained_ner" ->
      """SELECT CAST(isn AS BOOLEAN) AS is_name, ner_pred, CAST(n_dec AS BIGINT) AS n
         FROM (VALUES (FALSE, 'other', 12000), (TRUE, 'name', 3000))
           AS t(isn, ner_pred, n_dec)
         ORDER BY is_name, ner_pred""",

    // Expression tree mirrors TextAnalysis.bm25 op-for-op: exact-count
    // corpus stats (N, avgdl over whole-number dl, df) are
    // order-independent doubles, and the per-doc score is a fixed
    // arithmetic tree on them — bit-stable across engines at 6dp.
    "d22_bm25" ->
      """WITH t AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         d AS (
           SELECT doc_id,
                  CAST(len(toks) AS DOUBLE) AS dl,
                  CAST(len(list_filter(toks, w -> w = 'join')) AS DOUBLE) AS tf_0,
                  CAST(len(list_filter(toks, w -> w = 'hash')) AS DOUBLE) AS tf_1,
                  CAST(len(list_filter(toks, w -> w = 'data')) AS DOUBLE) AS tf_2
           FROM t),
         s AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
                  sum(CASE WHEN tf_0 > 0 THEN 1.0 ELSE 0.0 END) AS df_0,
                  sum(CASE WHEN tf_1 > 0 THEN 1.0 ELSE 0.0 END) AS df_1,
                  sum(CASE WHEN tf_2 > 0 THEN 1.0 ELSE 0.0 END) AS df_2
           FROM d)
         SELECT doc_id, round(
             ln(1.0 + (n_docs - df_0 + 0.5) / (df_0 + 0.5))
               * (tf_0 * (1.2 + 1.0)) / (tf_0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ln(1.0 + (n_docs - df_1 + 0.5) / (df_1 + 0.5))
               * (tf_1 * (1.2 + 1.0)) / (tf_1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ln(1.0 + (n_docs - df_2 + 0.5) / (df_2 + 0.5))
               * (tf_2 * (1.2 + 1.0)) / (tf_2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25
         FROM d, s
         ORDER BY bm25 DESC, doc_id LIMIT 50""",

    // Mirrors Decontamination.overlapReport: wordShingles(text, 5) with
    // the <5-words whole-text fallback, distinct per doc, counted
    // against the distinct eval-gram set (eval = doc_id % 97 = 0).
    "d23_decontaminate" ->
      """WITH w AS (SELECT doc_id,
             string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) < 5
             THEN [array_to_string(ws, ' ')]
             ELSE list_transform(range(1, len(ws) - 3),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])
           END) AS grams FROM w),
         e AS (SELECT DISTINCT gram FROM
           (SELECT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0)),
         c AS (SELECT doc_id, count(*) AS n_overlap FROM
             (SELECT doc_id, unnest(grams) AS gram FROM g) x
           JOIN e USING (gram) GROUP BY doc_id)
         SELECT g.doc_id, coalesce(c.n_overlap, 0) AS n_overlap,
           coalesce(c.n_overlap, 0) > 0 AS contaminated
         FROM g LEFT JOIN c USING (doc_id) ORDER BY g.doc_id""",

    // Brute-force corpus x eval whole-doc char-5gram Jaccard (x01's
    // gram construction; the size-ratio prefilter is implied by
    // J >= 0.8). Only >= threshold pairs are reported — LSH guarantees
    // recall above the threshold, nothing below it. ONE oracle string
    // bound to the LSH-candidate operator path AND the pure-SQL
    // frontend statement (q50) so the twins cannot desynchronize.
    "d79_fuzzy_decontaminate" -> fuzzyDeconOracleSql,
    "q50_sql_fuzzy_decon" -> fuzzyDeconOracleSql,

    // x15's window/island/reassembly construction with the duplicate
    // marking swapped for eval-set membership (windows join the
    // extracted-passage suite's window STRINGS — fingerprinting must
    // be invisible) and NO first-occurrence survivor. Eval passages =
    // tokens 5..16 of every 53rd doc, the engine's extraction. ONE
    // oracle string bound to the batch join path AND the stateless
    // streaming path (the st05/x07 twin convention) — identical
    // semantics, different geometry.
    "d80_span_decontaminate" -> spanDeconOracleSql,
    "st31_stream_span_decon" -> spanDeconOracleSql,

    // Pinned at sf0.01 (d20 convention): per-source zlib-redundancy
    // stats — deterministic for the JVM's bundled zlib at level 6;
    // sums are exact integer micros. Re-pin on fixture/SF/zlib change.
    // Pinned against: OpenJDK 17.0.20 (Debian, java.util.zip on
    // zlib 1.2.13) — a JDK whose Deflater output drifts (zlib 1.3 /
    // zlib-ng) changes every micro; the ORDER invariants
    // (repetitive < prose < random) in TextAnalysisSpec stay the
    // version-proof part of the evidence, this pin is the exact part.
    "d83_compression_quality" ->
      """SELECT source, CAST(n AS BIGINT) AS n_docs,
           CAST(avg_m AS BIGINT) AS avg_ratio_micro,
           CAST(nb AS BIGINT) AS n_boilerplate FROM (VALUES
           ('src0', 25, 526423, 6), ('src1', 25, 510650, 9),
           ('src10', 25, 566469, 5), ('src11', 25, 513438, 4),
           ('src12', 25, 574775, 4), ('src13', 25, 519707, 11),
           ('src14', 25, 569909, 6), ('src15', 25, 573890, 6),
           ('src16', 25, 582646, 6), ('src17', 25, 536339, 4),
           ('src18', 25, 551782, 5), ('src19', 25, 605740, 4),
           ('src2', 25, 543746, 7), ('src3', 25, 552183, 8),
           ('src4', 25, 562853, 5), ('src5', 25, 570099, 3),
           ('src6', 25, 585217, 7), ('src7', 25, 524650, 8),
           ('src8', 25, 584714, 5), ('src9', 25, 534333, 6)
         ) AS t(source, n, avg_m, nb) ORDER BY source""",

    // word-sequence matching as padded LIKE over the engine's exact
    // normalization (lowercase + whitespace-flatten, single spaces):
    // '% phrase %' against ' '||s||' ' is the string form of
    // shingle-set membership. ONE oracle string bound to the batch
    // projection AND its micro-batch deployment (the twin convention).
    "d82_keyword_tagging" -> keywordTagOracleSql,
    "st32_stream_keyword_tagging" -> keywordTagOracleSql,

    // d80's window construction, provenance shape: per hit corpus doc,
    // distinct matched positions / distinct implicated eval docs / the
    // min implicated eval id — joined on raw window STRINGS.
    "d81_span_decon_provenance" ->
      """WITH b AS (SELECT doc_id,
             string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS tk
           FROM documents),
         base AS (SELECT doc_id, tk, len(tk) AS n FROM b),
         wins AS (SELECT doc_id, unnest(range(0, greatest(n - 7, 0))) AS pos, tk
           FROM base),
         winw AS (SELECT doc_id, pos,
             array_to_string(tk[pos+1:pos+8], ' ') AS w FROM wins),
         evd AS (SELECT doc_id AS eval_id, tk[5:16] AS etk FROM b
           WHERE doc_id % 53 = 0 AND doc_id < 500),
         evw AS (SELECT eval_id,
             unnest(range(0, greatest(len(etk) - 7, 0))) AS pos, etk FROM evd),
         evs AS (SELECT DISTINCT eval_id,
             array_to_string(etk[pos+1:pos+8], ' ') AS w FROM evw)
         SELECT c.doc_id,
           CAST(count(DISTINCT c.pos) AS BIGINT) AS n_hit_windows,
           CAST(count(DISTINCT e.eval_id) AS BIGINT) AS n_eval_sources,
           min(e.eval_id) AS first_eval_id
         FROM winw c JOIN evs e USING (w)
         GROUP BY c.doc_id ORDER BY c.doc_id""",

    // d79's brute-force graph, kept-rows shape: docs with NO eval
    // Jaccard >= 0.8 — one truth for the batch report and the
    // streaming anti-join.
    "st30_stream_fuzzy_decon" ->
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

    // d23's oracle on the % 89 = 3 eval split — the bloom prefilter is
    // an execution detail the output must not show.
    "d33_bloom_decontaminate" ->
      """WITH w AS (SELECT doc_id,
             string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) < 5
             THEN [array_to_string(ws, ' ')]
             ELSE list_transform(range(1, len(ws) - 3),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])
           END) AS grams FROM w),
         e AS (SELECT DISTINCT gram FROM
           (SELECT unnest(grams) AS gram FROM g WHERE doc_id % 89 = 3)),
         c AS (SELECT doc_id, count(*) AS n_overlap FROM
             (SELECT doc_id, unnest(grams) AS gram FROM g) x
           JOIN e USING (gram) GROUP BY doc_id)
         SELECT g.doc_id, coalesce(c.n_overlap, 0) AS n_overlap,
           coalesce(c.n_overlap, 0) > 0 AS contaminated
         FROM g LEFT JOIN c USING (doc_id) ORDER BY g.doc_id""",

    // d03's judge CASE → d07's canonical rule → d37's split cut →
    // the accounting projection, chained as CTEs.
    "x08_pipeline_e2e" ->
      """WITH ok AS (SELECT doc_id, lang, text FROM (
           SELECT doc_id, lang, text,
             CASE WHEN length(text) < 100 THEN 'too_short'
                  WHEN length(text) > 450 THEN 'too_long'
                  WHEN CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text) < 0.82 THEN 'too_sparse'
                  WHEN CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text) < 0.8 THEN 'low_language_signal'
                  WHEN CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text) > 0.05 THEN 'too_much_punct'
                  ELSE 'ok' END AS dr
           FROM documents) WHERE dr = 'ok'),
         canon AS (SELECT doc_id, lang, text FROM (
           SELECT doc_id, lang, text, row_number() OVER (
             PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
             ORDER BY doc_id) AS rn FROM ok) WHERE rn = 1),
         tr AS (SELECT lang, text FROM canon
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd')
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
         FROM tr GROUP BY lang ORDER BY lang""",

    // d40's expressions grouped by source.
    "d41_source_card" ->
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
         FROM b GROUP BY source ORDER BY source""",

    // One aggregation over the d06 score (as exact q*1e6 integers),
    // the d03 judge CASE, and the d07 fingerprint.
    "d40_corpus_card" ->
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
         FROM b""",

    // Same Knuth coin (integer-exact), same d06 score expression; the
    // kept compare runs on the UNrounded coin on both sides.
    // Knuth coin in BIGINT arithmetic (doc_id * 2654435761 stays
    // < 2^63); the keep compare runs on the UNROUNDED coin and the
    // 6dp-rounded quality score both engines share.
    "d39_soft_quality_sample" -> softSampleOracleSql,

    // Same md5-prefix bucketing; hex sorts numerically so the CASE
    // thresholds are plain string compares on both engines.
    "d37_split_assign" ->
      """WITH a AS (SELECT doc_id, lang,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
             len(string_split_regex(trim(text), '\s+')) AS n_tok
           FROM documents),
         b AS (SELECT lang, CASE WHEN bucket < 'cd' THEN 'train'
             WHEN bucket < 'e6' THEN 'val' ELSE 'test' END AS split,
             n_tok FROM a)
         SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
         FROM b GROUP BY split, lang ORDER BY split, lang""",

    // Mirrors TextAnalysis.dsirResample feature-for-feature: shared
    // top-64 vocab (count DESC, word ASC), chr(1) as <unk>, add-one
    // smoothed unigram (V+1 categories) and bigram ((V+1)^2) models
    // for raw vs target (lang='fr'), per-doc log-ratio as position-
    // order list_reduce folds (uni fold + bigram fold, bigram term
    // 0.0 when < 2 tokens — the exact double the Spark aggregate HOF
    // produces), and the top-100 threshold via the rounded weight
    // with doc_id tiebreak.
    "d36_dsir" ->
      s"""WITH $dsirScoredCtes,
         top AS (SELECT dsir_logw, doc_id FROM scored
           ORDER BY dsir_logw DESC, doc_id LIMIT 100),
         thr AS (SELECT dsir_logw AS tw, doc_id AS td FROM top
           ORDER BY dsir_logw ASC, doc_id DESC LIMIT 1)
         SELECT s.doc_id, s.n_feats, s.dsir_logw,
           (s.dsir_logw > t.tw OR (s.dsir_logw = t.tw AND s.doc_id <= t.td))
             AS selected
         FROM scored s, thr t ORDER BY s.doc_id""",

    // The stream scores must land on the batch weights exactly: same
    // CTE chain, no selection tail.
    "st08_stream_dsir" ->
      s"""WITH $dsirScoredCtes
         SELECT doc_id, n_feats, dsir_logw FROM scored ORDER BY doc_id""",

    // Mirrors trainBigramLm + bigramPerplexity: top-64 vocab by
    // (count DESC, word ASC), chr(1) as <unk>, add-one smoothing
    // p = (C(w1 w2)+1)/(C(w1)+V+1), and the log-prob sum as a
    // list_reduce left fold in position order — the exact fold the
    // Spark `aggregate` HOF runs (0.0 + l1 == l1, so the seeded and
    // unseeded folds agree bit-for-bit).
    "d34_bigram_ppl" -> (bigramPplOracleCtes +
      """
         SELECT doc_id, CAST(n - 1 AS BIGINT) AS n_bigrams,
           round(lsum / (n - 1), 6) AS avg_logp,
           round(exp(-(lsum / (n - 1))), 4) AS ppl
         FROM scored ORDER BY doc_id"""),

    // d34's CTEs with the top-256 (count DESC, bigram ASC) pruning cut
    // applied before the bigram map — the cap binds (916 distinct
    // bigrams on the fixture), so these ppl values provably differ
    // from d34's unless both engines replay the same cut.
    "d74_bigram_ppl_capped" -> (bigramPplOracleCtes(256) +
      """
         SELECT doc_id, CAST(n - 1 AS BIGINT) AS n_bigrams,
           round(lsum / (n - 1), 6) AS avg_logp,
           round(exp(-(lsum / (n - 1))), 4) AS ppl
         FROM scored ORDER BY doc_id"""),

    // the planted leaks (vec_id % 23 scaled by 2) score cosine 1.0
    // exactly; the highest non-planted cross cosine is 0.477 at any
    // SF, so the 0.99 cut is 0.51 from the nearest value on either
    // side — float-path differences between engines cannot flip it
    "d75_semantic_decontaminate" ->
      """WITH ev AS (SELECT list_transform(embedding, x -> x * 2) AS ev
           FROM embeddings WHERE vec_id % 23 = 0 AND vec_id < 500)
         SELECT vec_id, label FROM embeddings c
         WHERE NOT EXISTS (SELECT 1 FROM ev
           WHERE list_cosine_similarity(ev.ev, c.embedding) >= 0.99)
         ORDER BY vec_id""",

    // d34's LM CTEs + the d47-style rank-filter tercile mirror; the
    // bucket CASE compares the 4dp-rounded ppl both engines share.
    "d50_ppl_buckets" -> (bigramPplOracleCtes +
      """,
         p AS (SELECT doc_id,
             round(exp(-(lsum / (n - 1))), 4) AS ppl FROM scored),
         np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p
           WHERE ppl IS NOT NULL),
         r AS (SELECT ppl, row_number() OVER (ORDER BY ppl) AS rn
           FROM p WHERE ppl IS NOT NULL),
         lo AS (SELECT min(ppl) AS p33 FROM r, np WHERE rn = CEIL(1.0/3 * n)),
         hi AS (SELECT min(ppl) AS p67 FROM r, np WHERE rn = CEIL(2.0/3 * n))
         SELECT p.doc_id, p.ppl, lo.p33, hi.p67,
           CASE WHEN p.ppl IS NULL THEN 'tail'
                WHEN p.ppl <= lo.p33 THEN 'head'
                WHEN p.ppl <= hi.p67 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM p, lo, hi ORDER BY p.doc_id"""),

    // Watermark mirror: wm = ms-resolution max even-batch event time
    // minus 1h; an odd row survives iff its hourly window end is still
    // open (> wm) when batch 1 runs.
    "st11_stream_late_data" ->
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
         FROM kept GROUP BY hr, event_type ORDER BY hr, event_type""",

    // Mirrors Decontamination.repetitionSignals: dup fraction from
    // list_distinct on the 3-gram list; top fraction from the max
    // multiplicity over the 2-gram list (unnest+groupBy here — the
    // oracle needn't be shuffle-free, only the Spark side).
    // Mirrors Decontamination.gopherGate: d24's repetition CTEs plus
    // the count-ratio signals, then the same when-chain order. All
    // ratios are integer counts over greatest(n,1) — exact in both
    // engines.
    "d35_gopher_gate" ->
      """WITH w AS (SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS toks,
             string_split(text, chr(10)) AS lines,
             string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
         g AS (SELECT doc_id,
             CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
               ELSE list_transform(range(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS g3,
             CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
               ELSE list_transform(range(1, len(ws)),
                 i -> ws[i] || ' ' || ws[i+1]) END AS g2
           FROM w),
         rep AS (SELECT d.doc_id, d.dup_3gram_frac,
             round(CAST(m.mx AS DOUBLE) / m.tot, 6) AS top_2gram_frac
           FROM (SELECT doc_id,
               round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
                 AS dup_3gram_frac FROM g) d
           JOIN (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM
               (SELECT doc_id, gram, count(*) AS c FROM
                 (SELECT doc_id, unnest(g2) AS gram FROM g)
               GROUP BY doc_id, gram)
             GROUP BY doc_id) m USING (doc_id)),
         sig AS (SELECT doc_id, text,
             CAST(len(toks) AS BIGINT) AS n_words,
             round(CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE)
               / greatest(len(toks), 1), 4) AS mean_word_len,
             round(CAST(((length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) / 3
               + (length(text) - length(replace(text, '…', '')))) AS DOUBLE)
               / greatest(len(toks), 1), 6) AS symbol_ratio,
             round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
               / greatest(len(toks), 1), 6) AS frac_alpha_words,
             round(CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE)
               / greatest(len(lines), 1), 6) AS frac_bullet_lines,
             round(CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE)
               / greatest(len(lines), 1), 6) AS frac_ellipsis_lines,
             CAST((CASE WHEN regexp_matches(lower(text), '\bthe\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bbe\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bto\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bof\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\band\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bthat\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bhave\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bwith\b') THEN 1 ELSE 0 END) AS BIGINT)
               AS stop_hits
           FROM w),
         j AS (SELECT s.doc_id, s.n_words, s.mean_word_len, s.symbol_ratio,
             s.frac_alpha_words, s.frac_bullet_lines, s.frac_ellipsis_lines,
             s.stop_hits, r.dup_3gram_frac, r.top_2gram_frac,
             CASE
               WHEN s.n_words IS NULL THEN NULL
               WHEN s.n_words < 50 THEN 'too_few_words'
               WHEN s.n_words > 100000 THEN 'too_many_words'
               WHEN s.mean_word_len < 3.0 OR s.mean_word_len > 10.0 THEN 'bad_mean_word_len'
               WHEN s.symbol_ratio > 0.1 THEN 'too_many_symbols'
               WHEN s.frac_bullet_lines > 0.9 THEN 'too_many_bullets'
               WHEN s.frac_ellipsis_lines > 0.3 THEN 'too_many_ellipsis'
               WHEN s.frac_alpha_words < 0.8 THEN 'low_alpha_ratio'
               WHEN s.stop_hits < 1 THEN 'few_stopwords'
               WHEN r.dup_3gram_frac > 0.2 THEN 'dup_ngrams'
               WHEN r.top_2gram_frac > 0.2 THEN 'top_ngram_heavy'
               ELSE 'ok' END AS gopher_reason
           FROM sig s JOIN rep r USING (doc_id))
         SELECT doc_id, n_words, mean_word_len, symbol_ratio,
           frac_alpha_words, frac_bullet_lines, frac_ellipsis_lines,
           stop_hits, dup_3gram_frac, top_2gram_frac,
           gopher_reason, gopher_reason = 'ok' AS gopher_keep
         FROM j ORDER BY doc_id""",

    "d24_repetition" ->
      """WITH w AS (SELECT doc_id,
             string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
         g AS (SELECT doc_id,
             CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
               ELSE list_transform(range(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS g3,
             CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
               ELSE list_transform(range(1, len(ws)),
                 i -> ws[i] || ' ' || ws[i+1]) END AS g2
           FROM w),
         d AS (SELECT doc_id,
             round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
               AS dup_3gram_frac
           FROM g),
         f AS (SELECT doc_id, gram, count(*) AS c FROM
             (SELECT doc_id, unnest(g2) AS gram FROM g) GROUP BY doc_id, gram),
         m AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM f GROUP BY doc_id)
         SELECT d.doc_id, d.dup_3gram_frac,
           round(CAST(m.mx AS DOUBLE) / m.tot, 6) AS top_2gram_frac
         FROM d JOIN m USING (doc_id) ORDER BY d.doc_id""",

    // Mirrors Expectations.report check-for-check (violation = predicate
    // false OR NULL; uniqueness = count - count distinct).
    "d32_expectations" ->
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
         FROM v, n ORDER BY v.chk""",

    // Mirrors Dedup.lineDedup over the d19-style synth: first
    // occurrence = min (doc_id, pos) per md5(trim(line)); documents
    // reassemble from surviving lines in position order (possibly to
    // empty text). DuckDB zips the two unnests positionally.
    "d26_line_dedup" ->
      s"""WITH $multiLineSynthSql,
         l AS (SELECT doc_id,
             unnest(string_split(t, chr(10))) AS line,
             unnest(range(0, len(string_split(t, chr(10))))) AS pos
           FROM synth),
         w AS (SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY md5(trim(line))
               ORDER BY doc_id, pos) AS rn
           FROM l),
         k AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS kept_text,
             count(*) AS n_kept FROM w WHERE rn = 1 GROUP BY doc_id)
         SELECT synth.doc_id, coalesce(k.kept_text, '') AS text,
           len(string_split(t, chr(10))) AS n_lines_orig,
           coalesce(k.n_kept, 0) AS n_lines_kept
         FROM synth LEFT JOIN k ON synth.doc_id = k.doc_id
         ORDER BY synth.doc_id""",

    // Mirrors Dedup.dupPassageReport: distinct md5 10-token windows at
    // Mirrors Dedup.passageTrim: flatten, 10-token blocks (DuckDB list
    // slice is 1-based inclusive and clamps, same as Spark's slice),
    // global first occurrence via the two-step exact min (doc then
    // pos), ordered reassembly; all-blocks-removed docs come back as
    // the empty string.
    "d38_passage_trim" ->
      """WITH w AS (SELECT doc_id,
             string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS ws
           FROM documents),
         blocks AS (SELECT doc_id, i AS bpos,
             array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS btxt
           FROM (SELECT doc_id, ws,
               unnest(range(0, CAST(ceil(len(ws)/10.0) AS BIGINT))) AS i
             FROM w)),
         fb AS (SELECT doc_id, bpos, btxt, md5(btxt) AS fp FROM blocks),
         w1 AS (SELECT fp, min(doc_id) AS d0 FROM fb GROUP BY fp),
         w2 AS (SELECT b.fp, w1.d0 AS d0, min(b.bpos) AS p0
           FROM fb b JOIN w1 ON b.fp = w1.fp AND b.doc_id = w1.d0
           GROUP BY b.fp, w1.d0),
         kept AS (SELECT b.doc_id, b.bpos, b.btxt FROM fb b
           JOIN w2 ON b.fp = w2.fp AND b.doc_id = w2.d0 AND b.bpos = w2.p0),
         re AS (SELECT doc_id,
             array_to_string(list(btxt ORDER BY bpos), ' ') AS text2,
             count(*) AS nk
           FROM kept GROUP BY doc_id)
         SELECT w.doc_id, coalesce(re.text2, '') AS text,
           CAST(ceil(len(w.ws)/10.0) AS BIGINT) AS n_blocks,
           CAST(coalesce(re.nk, 0) AS BIGINT) AS n_blocks_kept
         FROM w LEFT JOIN re ON w.doc_id = re.doc_id ORDER BY w.doc_id""",

    // stride 5 per doc (whole text when shorter), document frequency
    // per window, df>=2 counts as shared.
    "d28_dup_passages" ->
      """WITH t AS (SELECT doc_id,
             string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN len(w) < 10
             THEN [md5(array_to_string(w, ' '))]
             ELSE list_transform(range(0, (len(w) - 10) // 5 + 1),
               k -> md5(array_to_string(w[k*5+1:k*5+10], ' ')))
           END) AS ws FROM t),
         e AS (SELECT doc_id, unnest(ws) AS h FROM g),
         f AS (SELECT h, count(*) AS df FROM e GROUP BY h),
         c AS (SELECT doc_id, count(*) AS n_shared FROM e JOIN f USING (h)
           WHERE df >= 2 GROUP BY doc_id)
         SELECT g.doc_id, len(ws) AS n_windows,
           coalesce(c.n_shared, 0) AS n_shared,
           round(CAST(coalesce(c.n_shared, 0) AS DOUBLE) / len(ws), 6) AS shared_frac
         FROM g LEFT JOIN c USING (doc_id) ORDER BY g.doc_id""",

    // Mirrors Sampling.temperatureMixture bit-for-bit (see
    // temperatureMixtureOracle); st06 shares the same string.
    "d27_temperature_mixture" -> temperatureMixtureOracle,

    // the streaming path applies the identical batch-designed cutoffs,
    // so the kept set — and the oracle — are d27's verbatim
    "st06_stream_mixture" -> temperatureMixtureOracle,

    // Mirrors TextAnalysis.chunk: stride 15 = 20 - 5; DuckDB list
    // slices clamp at the end like Spark's slice, so the truncated
    // final chunk matches; two unnests zip positionally.
    "d31_chunking" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
               x -> length(x) > 0) AS w
           FROM documents),
         n AS (SELECT doc_id, w, CASE WHEN len(w) <= 20 THEN 1
             ELSE (len(w) - 20 + 14) // 15 + 1 END AS nc FROM t),
         c AS (SELECT doc_id,
             unnest(range(0, nc)) AS chunk_id,
             unnest(list_transform(range(0, nc),
               k -> array_to_string(w[k*15+1:k*15+20], ' '))) AS chunk_text,
             unnest(list_transform(range(0, nc),
               k -> len(w[k*15+1:k*15+20]))) AS chunk_tokens
           FROM n)
         SELECT doc_id, chunk_id, chunk_text, chunk_tokens FROM c
         ORDER BY doc_id, chunk_id""",

    // Mirrors Similarity.quantizeInt8: unrounded scale feeds the codes
    // and the error; only the emitted columns round to 6dp.
    "e07_quantize" ->
      """WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         m AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS ma FROM v),
         q AS (SELECT vec_id, v, ma, ma / 127.0 AS scale,
             CASE WHEN ma = 0.0 THEN list_transform(v, x -> 0)
               ELSE list_transform(v, x -> CAST(round(x / (ma / 127.0)) AS INTEGER))
             END AS qv
           FROM m)
         SELECT vec_id, round(scale, 6) AS scale,
           CASE WHEN ma = 0.0 THEN 0.0
             ELSE round(list_max(list_transform(range(1, len(v) + 1),
               i -> abs(qv[i] * scale - v[i]))), 6) END AS max_abs_err,
           CAST(list_sum(qv) AS BIGINT) AS q_sum
         FROM q ORDER BY vec_id""",

    // SemDeDup oracle: rebuilds the modulo-sampled coarse quantizer,
    // the argmax-cosine cell assignment (sim DESC, centroid_id ASC —
    // the engine's struct-max tie-break), the WITHIN-CELL-ONLY pair
    // graph at 0.42, and its recursive closure; kept = ids with no
    // smaller id reachable. Cosine is computed x04-style on
    // exactly-cast doubles so both engines run the identical
    // left-to-right fold. The cc/a2 CTEs carry the engine's cellCap
    // sub-cell split (cells > 512 split by vec_id % ceil(cn/512)) —
    // vacuous at the gate SFs (max cell 155 at sf0.1), binding at
    // step-ups, so a pair wrongly found across a sub-cell boundary
    // hash-fails the row there.
    "e08_semantic_dedup" ->
      """WITH RECURSIVE
         v AS (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
         c AS (SELECT vec_id AS cid, emb AS cv FROM v
             WHERE vec_id % 31 = 7 AND vec_id < 500),
         s AS (SELECT v.vec_id, v.emb, c.cid, row_number() OVER (
             PARTITION BY v.vec_id ORDER BY
               list_sum(list_transform(list_zip(v.emb, c.cv), z -> z[1]*z[2]))
                 / (sqrt(list_sum(list_transform(v.emb, x -> x*x)))
                    * sqrt(list_sum(list_transform(c.cv, x -> x*x)))) DESC,
               c.cid) AS rn
           FROM v CROSS JOIN c),
         a AS (SELECT vec_id, emb, cid FROM s WHERE rn = 1),
         cc AS (SELECT cid, greatest(1, CAST(ceil(count(*) / 512.0) AS BIGINT)) AS ns
           FROM a GROUP BY cid),
         a2 AS (SELECT a.vec_id, a.emb, a.cid, a.vec_id % cc.ns AS sub
           FROM a JOIN cc USING (cid)),
         e AS (SELECT x.vec_id AS u, y.vec_id AS w
           FROM a2 x JOIN a2 y ON x.cid = y.cid AND x.sub = y.sub
             AND x.vec_id < y.vec_id
           WHERE list_sum(list_transform(list_zip(x.emb, y.emb), z -> z[1]*z[2]))
             / (sqrt(list_sum(list_transform(x.emb, q -> q*q)))
                * sqrt(list_sum(list_transform(y.emb, q -> q*q)))) >= 0.42),
         ed AS (SELECT u, w FROM e UNION SELECT w, u FROM e),
         reach AS (SELECT u, w FROM ed
                   UNION SELECT r.u, ed.w FROM reach r JOIN ed ON r.w = ed.u WHERE ed.w != r.u),
         comp AS (SELECT u AS vec_id, min(w) AS mn FROM reach GROUP BY u)
         SELECT vec_id, label FROM embeddings
         WHERE vec_id NOT IN (SELECT vec_id FROM comp WHERE mn < vec_id)
         ORDER BY vec_id""",

    // PQ oracle: codebooks = subvectors of the % 31 = 7 / id < 500
    // rows (codebook size is a hyperparameter, not corpus-proportional
    // — fixed at any step-up, vacuous at the gate); encoding
    // = per-(vector, subspace) rank window on the 8-dim squared L2
    // (ties to smaller entry id — the engine's struct-min order);
    // reconstruction = chosen entries concatenated in subspace order;
    // ADC = one flat 64-dim fold, the same left-to-right grouping the
    // L2SqDist expression accumulates.
    "e09_pq_knn" ->
      """WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
         cb AS (SELECT vec_id AS cid, emb AS cv FROM v
             WHERE vec_id % 31 = 7 AND vec_id < 500),
         sub AS (SELECT v.vec_id, jj.j, c.cid,
             c.cv[jj.j*8+1 : jj.j*8+8] AS ent,
             row_number() OVER (PARTITION BY v.vec_id, jj.j ORDER BY
               list_sum(list_transform(range(1, 9),
                 i -> (v.emb[jj.j*8+i] - c.cv[jj.j*8+i])
                    * (v.emb[jj.j*8+i] - c.cv[jj.j*8+i]))),
               c.cid) AS rn
           FROM v CROSS JOIN range(0, 8) jj(j) CROSS JOIN cb c),
         recon AS (SELECT vec_id, flatten(list(ent ORDER BY j)) AS rc
           FROM sub WHERE rn = 1 GROUP BY vec_id),
         q AS (SELECT vec_id AS query_id, emb AS qv FROM v WHERE vec_id < 10),
         s AS (SELECT query_id, r.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65),
               i -> (qv[i]-rc[i])*(qv[i]-rc[i]))) AS adc
           FROM q CROSS JOIN recon r WHERE r.vec_id != query_id)
         SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id,
           round(adc, 6) AS adc_dist
         FROM (SELECT query_id, neighbor_id, adc,
             row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
           FROM s)
         WHERE rn <= 5 ORDER BY query_id, rank""",

    // Mirrors Sampling.mixtureReport: same CTEs as d27 plus the
    // realized kept aggregates; keep_prob = least(1, budget*sqrt/z/tt)
    // rounded 6dp (HALF_UP on both sides). Pinned fixture assumption:
    // documents.source is never NULL (driver-generated) — the
    // operator's explicit NULL-slice row has no SQL mirror here and
    // would mismatch if the fixture ever gained NULL sources.
    "d29_mixture_report" ->
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
         FROM c LEFT JOIN k USING (source) ORDER BY c.source""",

    // the plain join the salted path must reproduce exactly
    "q33_salted_skew_join" ->
      """WITH dim AS (SELECT DISTINCT l_returnflag,
             CAST(ascii(l_returnflag) AS DOUBLE) AS weight FROM lineitem)
         SELECT l.l_returnflag,
           round(sum(l.l_quantity * d.weight), 2) AS weighted_qty,
           count(*) AS n
         FROM lineitem l JOIN dim d USING (l_returnflag)
         GROUP BY l.l_returnflag ORDER BY l.l_returnflag""",

    "b01_bucketed_join" ->
      """SELECT o_orderkey,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
         FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         GROUP BY o_orderkey
         ORDER BY revenue DESC, o_orderkey LIMIT 20""",

    // The pruned partitioned read must equal the plain filtered scan —
    // pruning is a physical optimization, never a semantic one.
    "b02_partition_pruning" ->
      """SELECT source, count(*) AS n_docs FROM documents
         WHERE lang = 'fr' GROUP BY source ORDER BY source""",

    "ev11_zorder_layout" -> zorderOracleSql,

    "d05_lang_confusion" -> langIdOracle(
      "SELECT lang, lang_pred, count(*) AS n FROM scored GROUP BY lang, lang_pred ORDER BY lang, lang_pred"),

    "d06_quality_scores" ->
      """SELECT doc_id, round(greatest(0.0,
           least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
           + (CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 0.35
           + (CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text)) * 0.25
           + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 2.0, 1.0)) * 0.15), 6) AS quality_score
         FROM documents ORDER BY doc_id""",

    "d07_exact_dedup" ->
      """SELECT doc_id FROM (
           SELECT doc_id, row_number() OVER (
             PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
             ORDER BY doc_id) AS rn
           FROM documents)
         WHERE rn = 1 ORDER BY doc_id""",

    "d08_word_freq" ->
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word
           FROM documents)
         GROUP BY word ORDER BY n DESC, word LIMIT 40""",

    "d09_source_stats" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         round(avg(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)), 4) AS avg_tokens
         FROM documents GROUP BY source ORDER BY source""",

    "d10_fingerprints" ->
      """SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
         FROM documents ORDER BY doc_id""",

    "d13_jaccard_neighbors" ->
      """WITH t AS (SELECT doc_id,
             list_distinct(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS ws
           FROM documents)
         SELECT a.doc_id AS src, b.doc_id AS dst,
           round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
             / len(list_distinct(list_concat(a.ws, b.ws))), 6) AS jaccard
         FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
         ORDER BY src""",

    "d15_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
         f AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch),
         t AS (SELECT doc_id, count(*) AS n FROM ch GROUP BY doc_id)
         SELECT f.doc_id, round(-sum((c * 1.0 / n) * ln(c * 1.0 / n)), 6) AS entropy
         FROM f JOIN t ON f.doc_id = t.doc_id
         GROUP BY f.doc_id ORDER BY f.doc_id""",

    // mirrors dupLineRatio exactly: split on \n, trim, drop blanks,
    // n<5 -> 0, else (#lines occurring >1)/n; earlier judge branches are
    // threshold-neutralized on the Spark side so only dup_lines/ok remain
    "d19_dup_lines" ->
      s"""WITH $multiLineSynthSql,
         lin AS (SELECT doc_id,
             list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
               x -> length(x) > 0) AS ls
           FROM synth),
         m AS (SELECT doc_id, ls, len(ls) AS n FROM lin),
         dup AS (SELECT doc_id, n,
             CASE WHEN n < 5 THEN 0.0
                  ELSE len(list_filter(ls, x -> len(list_filter(ls, y -> y = x)) > 1)) * 1.0 / n
             END AS ratio
           FROM m)
         SELECT doc_id, CASE WHEN ratio > 0.3 THEN 'dup_lines' ELSE 'ok' END AS drop_reason
         FROM dup ORDER BY doc_id""",

    "d16_bigram_freq" ->
      """WITH t AS (SELECT string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents),
         b AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bigram
           FROM t WHERE len(w) >= 2)
         SELECT bigram, count(*) AS n FROM b GROUP BY bigram
         ORDER BY n DESC, bigram LIMIT 30""",

    "d18_stratified_sample" ->
      """SELECT lang, doc_id FROM (
           SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
           FROM documents)
         WHERE rn <= CEIL(0.2 * n) ORDER BY lang, doc_id""",

    "e01_cosine_knn" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
           s AS (SELECT query_id, vec_id AS neighbor_id,
                   list_cosine_similarity(qe, embedding) AS sc
                 FROM q, embeddings WHERE vec_id != query_id)
         SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sc DESC, neighbor_id) AS rn
           FROM s)
         WHERE rn <= 5 ORDER BY query_id, rank""",

    "e14_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS anchor_id, embedding AS qe
             FROM embeddings WHERE vec_id < 10),
           s AS (SELECT anchor_id, vec_id AS negative_id,
                   list_cosine_similarity(qe, embedding) AS sc
                 FROM q, embeddings WHERE vec_id != anchor_id),
           b AS (SELECT anchor_id, negative_id, sc FROM s
                 WHERE sc >= 0.25 AND sc < 0.45)
         SELECT anchor_id, CAST(rn AS INTEGER) AS rank, negative_id FROM (
           SELECT anchor_id, negative_id,
             row_number() OVER (PARTITION BY anchor_id
               ORDER BY sc DESC, negative_id) AS rn
           FROM b)
         WHERE rn <= 5 ORDER BY anchor_id, rank""",

    "e02_embedding_norms" ->
      """SELECT label, count(*) AS n,
         round(avg(sqrt(list_sum(list_transform(embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS avg_norm
         FROM embeddings GROUP BY label ORDER BY label""",

    // ANN recall gates: the Spark side computes recall@5 of the
    // approximate path against the in-plan brute-force truth (the same
    // construction the oracle verifies directly as e01); the oracle pins
    // the deterministic measured value so any regression in the LSH/IVF
    // path (seeds, probing, ranking) breaks the hash. NOTE: constants
    // measured at sf0.01 — the driver's correctness-gate SF; a local run
    // at another SF will (correctly) mismatch these two rows.
    "e03_lsh_knn" ->
      """SELECT CAST(20 AS BIGINT) AS n_queries, CAST(96 AS BIGINT) AS n_hits,
              CAST(0.96 AS DOUBLE) AS recall_at_5""",

    // 0.82 -> 0.86 when the quantizer moved to the deterministic
    // single-partition training sample (partition-invariant centroids;
    // re-probed stable across 2/16/32 cores before pinning)
    "e04_ivf_knn" ->
      """SELECT CAST(20 AS BIGINT) AS n_queries, CAST(86 AS BIGINT) AS n_hits,
              CAST(0.86 AS DOUBLE) AS recall_at_5""",

    // k-means with fixed seed keeps all 8 clusters populated on this
    // well-separated corpus; n_points is computed, n_clusters asserted.
    "e05_kmeans_clusters" ->
      """SELECT CAST(8 AS BIGINT) AS n_clusters, count(*) AS n_points FROM embeddings""",

    "e06_centroid_similarity" ->
      """WITH c AS (
           SELECT label, pos - 1 AS pos, round(avg(CAST(v AS DOUBLE)), 6) AS c
           FROM (SELECT label, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS pos FROM embeddings)
           GROUP BY label, pos - 1)
         SELECT a.label AS la, b.label AS lb,
           round(sum(a.c * b.c) / (sqrt(sum(a.c * a.c)) * sqrt(sum(b.c * b.c))), 4) AS cos
         FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
         GROUP BY a.label, b.label ORDER BY la, lb""",

    // Pinned expected output at sf0.01 (the driver's gate SF), like the
    // e03/e04/e05 oracles: the MinHash-union sketch is fully
    // deterministic (fixed seed-0 xxh64 permutations, fixed corpus), so
    // its top-20 source-pair estimates are a stable constant. The values
    // are k/128 signature-agreement fractions rounded to 4dp; x06 is the
    // exact-Jaccard yardstick showing they track truth. Re-pin whenever
    // seeds, k, or shingle width change.
    "x05_source_similarity" ->
      """SELECT sa, sb, CAST(est_jaccard_dec AS DOUBLE) AS est_jaccard
         FROM (VALUES
           ('src11', 'src9', 0.8125), ('src11', 'src3', 0.7813),
           ('src13', 'src9', 0.7813), ('src5', 'src9', 0.7813),
           ('src10', 'src12', 0.7656), ('src12', 'src17', 0.7656),
           ('src12', 'src4', 0.7656), ('src1', 'src2', 0.7578),
           ('src11', 'src12', 0.7578), ('src12', 'src2', 0.7578),
           ('src3', 'src5', 0.7578), ('src1', 'src6', 0.75),
           ('src12', 'src16', 0.75), ('src12', 'src18', 0.75),
           ('src17', 'src5', 0.75), ('src17', 'src9', 0.75),
           ('src3', 'src9', 0.75), ('src10', 'src7', 0.7422),
           ('src11', 'src5', 0.7422), ('src12', 'src19', 0.7422)
         ) AS t(sa, sb, est_jaccard_dec)
         ORDER BY est_jaccard DESC, sa, sb""",

    "x06_source_jaccard" ->
      """WITH n AS (SELECT source, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s
           FROM documents),
         g AS (SELECT DISTINCT source, unnest(list_distinct(CASE WHEN length(s) < 5 THEN [s]
               ELSE list_transform(range(1, length(s)-3), i -> s[i:i+4]) END)) AS g FROM n),
         z AS (SELECT source, count(*) AS sz FROM g GROUP BY source),
         i AS (SELECT a.source AS sa, b.source AS sb, count(*) AS inter
               FROM g a JOIN g b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2)
         SELECT sa, sb, round(inter * 1.0 / (za.sz + zb.sz - inter), 6) AS jaccard
         FROM i JOIN z za ON i.sa = za.source JOIN z zb ON i.sb = zb.source
         ORDER BY sa, sb""",

    // Brute-force all-pairs exact-Jaccard rebuild of the LSH-verified
    // pair graph. The length prefilter is lossless: J(A,B) >= t implies
    // |A|/|B| >= t and |B|/|A| >= t. A hash match asserts the Spark-side
    // banding had full recall at the threshold on this corpus.
    // x01's brute-force pair set, rolled up per unordered source pair.
    "x09_source_dup_matrix" ->
      """WITH n AS (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN length(s) < 5 THEN [s]
               ELSE list_transform(range(1, length(s)-3), i -> s[i:i+4]) END) AS gs FROM n),
         p AS (SELECT a.doc_id AS s1, b.doc_id AS s2
           FROM g a JOIN g b ON a.doc_id < b.doc_id
             AND len(a.gs) >= 0.8 * len(b.gs) AND len(b.gs) >= 0.8 * len(a.gs)
           WHERE len(list_intersect(a.gs, b.gs)) * 1.0
               / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.8),
         m AS (SELECT least(da.source, db.source) AS sa,
             greatest(da.source, db.source) AS sb
           FROM p JOIN documents da ON p.s1 = da.doc_id
             JOIN documents db ON p.s2 = db.doc_id)
         SELECT sa, sb, CAST(count(*) AS BIGINT) AS n_pairs
         FROM m GROUP BY sa, sb ORDER BY sa, sb""",

    // ONE truth, two engine strategies: x01 reaches it through
    // minhash-LSH banding, x17 through the exact dense-universe bitmap
    // scan — binding the same oracle string to both keys makes the
    // recall comparison structural (they cannot drift apart).
    "x01_minhash_dedup" -> exactCharJaccardOracleSql,
    "x17_exact_dense_jaccard" -> exactCharJaccardOracleSql,

    // identical semantics to x07 (the streaming path only moves the
    // candidate generation into a stream-static join) — ONE oracle
    // string bound to both keys so the twins cannot desynchronize
    "st05_stream_incremental_dedup" -> incrementalDedupOracle,

    // First-arrival-wins online dedup: kept = docs with no exact
    // ground-truth near-dup (char-5gram Jaccard >= 0.8, x07's gram
    // construction) that arrived strictly earlier in (batch, doc_id)
    // order. Assumes the band index catches every >= 0.8 pair on the
    // fixture (the x01/x07 oracles already pin this recall property);
    // band-only collisions are acquitted by the exact-verify tail.
    "st07_stream_online_dedup" ->
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

    "x07_incremental_dedup" -> incrementalDedupOracle,

    // recall_at_radius: the oracle's pair set IS exact, so its sampled
    // self-ratio (found-in-sample / exact-in-sample over the fixed
    // id<500 suite) is 1.0 by construction — the engine must MEASURE
    // the same 1.0 from its own found set vs its own dense exact tier,
    // so a sample pair lost at any SF value-fails the row.
    "x02_simhash_dedup" ->
      """WITH n AS (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN length(s) < 4 THEN [s]
               ELSE list_transform(range(1, length(s)-2), i -> s[i:i+3]) END) AS gs FROM n),
         p AS (SELECT a.doc_id AS src, b.doc_id AS dst,
             round(len(list_intersect(a.gs, b.gs)) * 1.0
               / len(list_distinct(list_concat(a.gs, b.gs))), 6) AS jaccard
           FROM g a JOIN g b ON a.doc_id < b.doc_id
             AND len(a.gs) >= 0.8 * len(b.gs) AND len(b.gs) >= 0.8 * len(a.gs)
           WHERE len(list_intersect(a.gs, b.gs)) * 1.0
               / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.8),
         sr AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM p
           WHERE src < 500 AND dst < 500)
         SELECT p.src, p.dst, p.jaccard,
           coalesce(round(sr.ns / nullif(sr.ns, 0), 4), 1.0) AS recall_at_radius
         FROM p CROSS JOIN sr
         ORDER BY src, dst""",

    // Exact word-3gram Jaccard graph + recursive transitive closure:
    // kept = ids with no smaller id reachable. Verifies blocking recall,
    // exact verify, distributed CC, and the min-id canonical pick at once.
    "x03_ngram_jaccard_dedup" ->
      s"""WITH RECURSIVE $ngramGraphCtesSql
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE mn < doc_id)
         ORDER BY doc_id""",

    // Same verified graph + closure; components sized, then the size
    // distribution. Singletons count as size-1 clusters.
    "d59_dup_cluster_histogram" ->
      s"""WITH RECURSIVE $ngramGraphCtesSql,
         cid AS (SELECT d.doc_id,
             CASE WHEN c.mn IS NULL THEN d.doc_id
                  ELSE least(c.mn, d.doc_id) END AS cid
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
         sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS cluster_size
           FROM cid GROUP BY cid)
         SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         FROM sz GROUP BY cluster_size ORDER BY cluster_size""",

    // 7 unrolled peel rounds over the sparse (% 11 = 0) host graph
    // (6 dependent rounds + a fixpoint no-op): degree count ->
    // survivors -> edge restriction, then the final subgraph's degrees.
    "g07_kcore" -> kcoreOracleSql(k = 2, rounds = 7),

    "x12_dedup_audit" ->
      s"""WITH RECURSIVE $ngramGraphCtesSql
         SELECT doc_id AS dropped_id, mn AS canonical_id
         FROM comp WHERE mn < doc_id ORDER BY dropped_id""",

    // Same closure, score-aware crowning: canonical per component =
    // (byte length DESC, doc_id ASC) argmax; every other member is a
    // dropped row mapped to it.
    "x16_quality_canonical" ->
      s"""WITH RECURSIVE $ngramGraphCtesSql,
         cid AS (SELECT c.doc_id, least(c.mn, c.doc_id) AS cid FROM comp c),
         sc AS (SELECT cid.doc_id, cid.cid, strlen(d.text) AS score
           FROM cid JOIN documents d USING (doc_id)),
         win AS (SELECT cid, doc_id AS canonical_id,
             row_number() OVER (PARTITION BY cid
               ORDER BY score DESC, doc_id ASC) AS rn FROM sc),
         w1 AS (SELECT cid, canonical_id FROM win WHERE rn = 1)
         SELECT s.doc_id AS dropped_id, w1.canonical_id
         FROM sc s JOIN w1 USING (cid)
         WHERE s.doc_id != w1.canonical_id
         ORDER BY dropped_id""",

    // Brute-force double-precision cosine graph at 0.97 + closure; kept
    // label counts must match the sign-LSH dedup output exactly.
    "x04_embedding_neardup" ->
      """WITH RECURSIVE
         v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
         e AS (SELECT a.vec_id AS u, b.vec_id AS w FROM v a JOIN v b ON a.vec_id < b.vec_id
               WHERE list_sum(list_transform(list_zip(a.emb, b.emb), z -> z[1]*z[2]))
                 / (sqrt(list_sum(list_transform(a.emb, x -> x*x)))
                    * sqrt(list_sum(list_transform(b.emb, x -> x*x)))) >= 0.97),
         ed AS (SELECT u, w FROM e UNION SELECT w, u FROM e),
         reach AS (SELECT u, w FROM ed
                   UNION SELECT r.u, ed.w FROM reach r JOIN ed ON r.w = ed.u WHERE ed.w != r.u),
         comp AS (SELECT u AS vec_id, min(w) AS mn FROM reach GROUP BY u)
         SELECT label, count(*) AS n_kept FROM embeddings
         WHERE vec_id NOT IN (SELECT vec_id FROM comp WHERE mn < vec_id)
         GROUP BY label ORDER BY label""",

    "m01_multimodal_features" ->
      """SELECT kind, count(*) AS n,
              CAST(CASE kind WHEN 'image' THEN 203 WHEN 'audio' THEN 556 ELSE 443 END AS INTEGER) AS min_bytes,
              CAST(CASE kind WHEN 'image' THEN 203 WHEN 'audio' THEN 556 ELSE 443 END AS INTEGER) AS max_bytes
         FROM (SELECT CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
                           WHEN 1 THEN 'audio' ELSE 'video' END AS kind
               FROM documents)
         GROUP BY kind ORDER BY kind""",

    // From-scratch replay of the audio synth + feature math: samples
    // are trunc(sin((i+id)*0.1)*16000)/32768 (the PCM16 short over the
    // full-scale divisor), folds run in position order, and each
    // feature passes through REAL (float) before the 6dp round — the
    // exact quantization the Scala path applies.
    "m02_audio_features" ->
      """WITH a AS (SELECT doc_id AS asset_id FROM documents WHERE doc_id % 3 = 1),
         s AS (SELECT asset_id,
             list_transform(range(0, 256), i ->
               trunc(sin((i + asset_id) * 0.1) * 16000) / 32768.0) AS sm
           FROM a),
         agg AS (SELECT asset_id,
             list_reduce(list_transform(sm, x -> x * x), (p, q) -> p + q) AS sumsq,
             list_reduce(sm, (p, q) -> p + q) AS ssum,
             len(list_filter(range(1, 256), i -> (sm[i+1] >= 0) != (sm[i] >= 0))) AS zc
           FROM s)
         SELECT asset_id,
           round(CAST(CAST(sqrt(sumsq / 256.0) AS REAL) AS DOUBLE), 6) AS rms,
           round(CAST(CAST(CAST(zc AS DOUBLE) / 256.0 AS REAL) AS DOUBLE), 6) AS zcr,
           round(CAST(CAST(ssum / 256.0 AS REAL) AS DOUBLE), 6) AS mean_s
         FROM agg ORDER BY asset_id""",

    // The synthesis formula replayed sample-for-sample: plants decide
    // the silence/clipping counts, the carrier never contributes, and
    // the energy is an exact integer sum.
    "m08_audio_quality" ->
      """WITH t AS (SELECT doc_id AS asset_id, unnest(range(0, 240)) AS t
           FROM documents),
         s AS (SELECT asset_id, t,
             CASE WHEN t >= 40 AND t < 40 + 30 + asset_id % 20 THEN 0
                  WHEN t >= 150 AND t < 150 + 10 + asset_id % 10 THEN 32767
                  ELSE (t * 37 + asset_id * 13) % 3999 + 1 END AS v
           FROM t)
         SELECT asset_id, CAST(240 AS BIGINT) AS n_samples,
           round(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) / 240.0, 6)
             AS silence_ratio,
           round(sum(CASE WHEN v >= 32760 THEN 1 ELSE 0 END) / 240.0, 6)
             AS clipping_ratio,
           CAST(sum(v * v) AS BIGINT) AS sum_square
         FROM s GROUP BY asset_id ORDER BY asset_id""",

    // The planted truth restated: drift diffs are exactly 7 (below
    // threshold), the level-shift boundary is exactly 62 — one cut at
    // id % 4 + 1, max_diff 62 for every asset.
    "m07_scene_cuts" ->
      """SELECT doc_id AS asset_id, CAST(6 AS INT) AS n_frames,
           CAST(doc_id % 4 + 1 AS VARCHAR) AS cut_frames,
           CAST(62.0 AS DOUBLE) AS max_diff
         FROM documents ORDER BY asset_id""",

    "m04_video_features" ->
      """WITH a AS (SELECT doc_id AS asset_id FROM documents WHERE doc_id % 3 = 2),
         fr AS (SELECT asset_id, f,
             list_reduce(list_transform(range(0, 64), i ->
               least(255, i*3 + f*20 + asset_id % 16)), (p, q) -> p + q) AS ls
           FROM a, (SELECT unnest(range(0, 4)) AS f)),
         pv AS (SELECT asset_id,
             max(CASE WHEN f = 0 THEN ls END) AS l0,
             max(CASE WHEN f = 1 THEN ls END) AS l1,
             max(CASE WHEN f = 2 THEN ls END) AS l2,
             max(CASE WHEN f = 3 THEN ls END) AS l3
           FROM fr GROUP BY asset_id)
         SELECT asset_id,
           round(CAST(CAST(l0 AS REAL) / 64 / 255 AS DOUBLE), 6) AS f0_luma,
           round(CAST(CAST(l1 AS REAL) / 64 / 255 AS DOUBLE), 6) AS f1_luma,
           round(CAST(CAST(l2 AS REAL) / 64 / 255 AS DOUBLE), 6) AS f2_luma,
           round(CAST(CAST(l3 AS REAL) / 64 / 255 AS DOUBLE), 6) AS f3_luma
         FROM pv ORDER BY asset_id""",

    // Channel sums replay the gradient formula ((i*4+id)%256 etc.)
    // as integer folds; the mean chain divides in REAL twice — the
    // exact float ops the Scala path applies — before the 6dp round.
    "m03_image_features" ->
      """WITH a AS (SELECT doc_id AS asset_id FROM documents WHERE doc_id % 3 = 0),
         px AS (SELECT asset_id,
             list_reduce(list_transform(range(0, 64), i -> (i*4 + asset_id) % 256), (p, q) -> p + q) AS rs,
             list_reduce(list_transform(range(0, 64), i -> (i*2 + asset_id*3) % 256), (p, q) -> p + q) AS gs,
             list_reduce(list_transform(range(0, 64), i -> (i + asset_id*7) % 256), (p, q) -> p + q) AS bs
           FROM a)
         SELECT asset_id,
           round(CAST(CAST(rs AS REAL) / 64 / 255 AS DOUBLE), 6) AS r_mean,
           round(CAST(CAST(gs AS REAL) / 64 / 255 AS DOUBLE), 6) AS g_mean,
           round(CAST(CAST(bs AS REAL) / 64 / 255 AS DOUBLE), 6) AS b_mean
         FROM px ORDER BY asset_id""",

    "p01_pii_redact" ->
      s"""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           'reach me at ' || source || '@example.com ip 10.0.0.' || CAST(doc_id % 250 AS VARCHAR)
             || ' ssn 123-45-6789 call +1 555 123 4567 ' || substr(text, 1, 40),
           '$EmailSql', '<EMAIL>', 'g'), '$SsnSql', '<SSN>', 'g'),
           '$Ipv4Sql', '<IP>', 'g'), '$Ipv6Sql', '<IP>', 'g'),
           '$PhoneSql', '<PHONE>', 'g') AS redacted
         FROM documents ORDER BY doc_id""",

    "p02_pii_flags" ->
      s"""SELECT doc_id,
           regexp_matches(synth, '$EmailSql') AS has_email,
           regexp_matches(synth, '$Ipv4Sql') AS has_ip4,
           regexp_matches(synth, '$SsnSql') AS has_ssn,
           regexp_matches(synth, '$PhoneSql') AS has_phone
         FROM (SELECT doc_id,
             'reach me at ' || source || '@example.com ip 10.0.0.' || CAST(doc_id % 250 AS VARCHAR)
               || ' ssn 123-45-6789 call +1 555 123 4567 ' || substr(text, 1, 40) AS synth
           FROM documents)
         ORDER BY doc_id""",

    "w03_mojibake_repair" -> mojibakeOracleSql,

    // The roundtrip must be invisible: the oracle is the synth
    // projection itself, straight off the parquet table.
    "w04_jsonl_roundtrip" ->
      s"""WITH $multiLineSynthSql
         SELECT d.doc_id, d.lang, synth.t AS text
         FROM documents d JOIN synth USING (doc_id) ORDER BY d.doc_id""",

    // ORC identity: same contract (and SQL) as the JSONL roundtrip.
    "w06_orc_roundtrip" ->
      s"""WITH $multiLineSynthSql
         SELECT d.doc_id, d.lang, synth.t AS text
         FROM documents d JOIN synth USING (doc_id) ORDER BY d.doc_id""",

    // Replays the corruption rule: doc_id % 7 == 0 lines are broken,
    // so they surface quarantined with a null payload and a recovered
    // id; everything else parses to the 20-char payload.
    "w07_corrupt_jsonl" -> corruptJsonlOracle,

    // Streaming twin: per-line decisions, so the same batch truth
    // gates the two-sink DLQ route (st12=d39 convention).
    "st23_stream_dlq" -> corruptJsonlOracle,

    // The merged frame is the whole table; nulls exactly where the
    // old vintage (even ids) lacks the evolved column.
    "w08_schema_evolution" ->
      """SELECT doc_id, lang,
           CASE WHEN doc_id % 2 = 1 THEN substr(text, 1, 30) ELSE NULL END AS t
         FROM documents ORDER BY doc_id""",

    // Same identity shape as w04 with the CSV-hostile tail appended.
    "w05_csv_roundtrip" ->
      s"""WITH $multiLineSynthSql
         SELECT d.doc_id, d.lang, synth.t || ',"quoted" tail' AS text
         FROM documents d JOIN synth USING (doc_id) ORDER BY d.doc_id""",

    // Mirrors TextFunctions.htmlToText stage by stage (comments,
    // script/style, block closers -> newline, tag strip, entity
    // decode with &amp; last, whitespace collapse). Replacements use
    // chr(10) — a backslash-n in a replacement string is not portable.
    "w02_html_extract" ->
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
         FROM x7 ORDER BY doc_id""",

    // Mirrors PiiFunctions.firstCardDigits/luhnValid/redactCards: same
    // synth, same RE2-safe pattern, and the Luhn fold as an integer
    // list_transform — exact in both engines.
    "p04_card_luhn" ->
      s"""WITH s AS (SELECT doc_id,
             'order ref 4' || lpad(CAST((doc_id * 7919) % 99999999999999 AS VARCHAR), 14, '0')
               || ' thank you' AS synth
           FROM documents),
         c AS (SELECT doc_id, synth,
             regexp_replace(regexp_extract(synth, '$CardSql', 0), '[^0-9]', '', 'g') AS card_digits
           FROM s),
         l AS (SELECT doc_id, synth, card_digits, reverse(card_digits) AS ds FROM c)
         SELECT doc_id, card_digits,
           CASE WHEN length(ds) = 0 THEN false
             ELSE list_sum(list_transform(range(1, length(ds) + 1), i ->
               CASE WHEN i % 2 = 0 THEN
                 CASE WHEN (ascii(ds[i]) - 48) * 2 > 9
                   THEN (ascii(ds[i]) - 48) * 2 - 9
                   ELSE (ascii(ds[i]) - 48) * 2 END
               ELSE ascii(ds[i]) - 48 END)) % 10 = 0 END AS luhn_ok,
           regexp_replace(synth, '$CardSql', '<CARD>', 'g') AS redacted
         FROM l ORDER BY doc_id""",

    // Replays UrlFunctions regex-by-regex (scheme/host/path/query
    // extraction, two-level-suffix eTLD+1, path-segment count, the
    // length-difference param count) on the same synthesized URLs.
    "d55_url_domains" ->
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
         FROM x ORDER BY doc_id""",

    "g01_host_rank" ->
      s"""WITH $pageRankCtesSql
         SELECT node, rank_micro FROM r3 ORDER BY node""",

    // Rank artifact joined back to the corpus host mapping — shares
    // the g01 CTE chain, then one bounded group per host.
    "g02_rank_weighted_hosts" ->
      s"""WITH $pageRankCtesSql,
         m AS (SELECT doc_id, 'h' || CAST(doc_id % 37 AS VARCHAR) AS node
           FROM documents)
         SELECT m.node, count(*) AS n_docs,
           CAST(max(r.rank_micro) AS BIGINT) AS rank_micro,
           CAST(max(r.rank_micro) * count(*) AS BIGINT) AS weight_micro
         FROM m JOIN r3 r ON m.node = r.node
         GROUP BY m.node ORDER BY m.node""",

    // Shared URL synth + host/eTLD+1 CTEs, then the NOT-IN filter the
    // broadcast anti-join implements.
    "d56_domain_blocklist" ->
      s"""WITH $urlSynthSql,
         $hostRegDomainSql
         SELECT doc_id, reg_domain FROM h
         WHERE reg_domain NOT IN ('bbc.co.uk', 'example.com.au')
         ORDER BY doc_id""",

    // Each event lands in exactly two sliding windows: its 30-min
    // truncation and the one before — replayed as an explicit
    // UNION ALL of the shifted starts.
    "st17_stream_sliding" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
         w AS (SELECT us - us % 1800000000 AS w0, event_type FROM e
           UNION ALL
           SELECT (us - us % 1800000000) - 1800000000 AS w0, event_type FROM e)
         SELECT make_timestamp(w0) AS win_start, event_type, count(*) AS n
         FROM w GROUP BY w0, event_type ORDER BY win_start, event_type""",

    // Hourly-then-daily chain == plain daily counts.
    "st18_stream_chained_agg" ->
      """SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 86400000000) AS day_start,
           count(*) AS n
         FROM events GROUP BY 1 ORDER BY day_start""",

    // Batch LEFT JOIN truth for the outer interval join.
    "st19_stream_outer_join" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
           FROM events WHERE user_id IS NOT NULL),
         p AS (SELECT user_id, us FROM e WHERE event_type = 'purchase'),
         c AS (SELECT user_id, us FROM e WHERE event_type = 'click'),
         j AS (SELECT p.user_id, p.us, c.us AS cus
           FROM p LEFT JOIN c ON p.user_id = c.user_id
             AND c.us <= p.us AND c.us >= p.us - 1800000000)
         SELECT CAST(count(cus) AS BIGINT) AS n_pairs,
           CAST(count(CASE WHEN cus IS NULL THEN 1 END) AS BIGINT) AS n_unmatched
         FROM j""",

    // Stream-static twin: same filter, same truth.
    "st16_stream_blocklist" ->
      s"""WITH $urlSynthSql,
         $hostRegDomainSql
         SELECT doc_id, reg_domain FROM h
         WHERE reg_domain NOT IN ('bbc.co.uk', 'example.com.au')
         ORDER BY doc_id""",

    // Same dirty synth; TRY_CAST semantics must agree cell-by-cell.
    "w10_try_cast" ->
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
         FROM s ORDER BY doc_id""",

    // Planned counts replayed from the same byte formula; files_match
    // pinned TRUE — the row only hashes equal if the physical layout
    // landed on the plan.
    "w09_compaction_exec" ->
      """SELECT source, count(*) AS n_docs,
           greatest(CAST(1 AS BIGINT),
             CAST(ceil(CAST(sum(strlen(text)) AS DOUBLE) / 1048576.0) AS BIGINT)) AS n_files,
           TRUE AS files_match
         FROM documents GROUP BY source ORDER BY source""",

    // Cells below k publish NULL + the suppression flag.
    "p06_l_diversity" ->
      """SELECT source, n_chars // 100 AS size_band,
           count(*) AS k_size,
           count(DISTINCT lang) AS l_distinct,
           count(DISTINCT lang) >= 2 AS diverse
         FROM documents GROUP BY source, size_band
         ORDER BY source, size_band""",

    "d58_k_anonymity" ->
      """SELECT lang, source,
           CASE WHEN count(*) >= 5 THEN count(*) ELSE NULL END AS n_published,
           count(*) < 5 AS suppressed
         FROM documents GROUP BY lang, source
         ORDER BY lang, source""",

    // Normalize, block, levenshtein-verify, survivor set — DuckDB's
    // levenshtein is the same char-level edit distance as Spark's.
    "d57_edit_distance_neardup" ->
      """WITH b AS (SELECT doc_id, source,
             substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 40) AS p
           FROM documents),
         blk AS (SELECT doc_id, source, p, length(p) // 8 AS blk FROM b),
         bc AS (SELECT source, blk, count(*) AS bn FROM blk GROUP BY source, blk),
         dup AS (SELECT DISTINCT a.doc_id
           FROM blk a
           JOIN bc ON a.source = bc.source AND a.blk = bc.blk
           JOIN blk d ON a.source = d.source AND a.blk = d.blk
           WHERE bc.bn <= 1000 AND d.doc_id < a.doc_id
             AND levenshtein(a.p, d.p) <= 5)
         SELECT doc_id, source FROM blk
         WHERE doc_id NOT IN (SELECT doc_id FROM dup)
         ORDER BY doc_id""",

    "q27_intersect_custkeys" ->
      """SELECT o_custkey FROM orders WHERE o_totalprice > 200000
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         ORDER BY o_custkey""",

    "q28_except_custkeys" ->
      """SELECT o_custkey FROM orders WHERE o_totalprice > 200000
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         ORDER BY o_custkey""",

    "q29_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "q30_percentiles" ->
      """WITH r AS (SELECT l_returnflag, l_extendedprice, l_quantity,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rne,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rnq,
             count(*) OVER (PARTITION BY l_returnflag) AS n
           FROM lineitem)
         SELECT p50.l_returnflag, p50.p50, p95.p95, q50.q50 FROM
           (SELECT l_returnflag, min(l_extendedprice) AS p50 FROM r
            WHERE rne = CEIL(0.5 * n) GROUP BY l_returnflag) p50
           JOIN (SELECT l_returnflag, min(l_extendedprice) AS p95 FROM r
                 WHERE rne = CEIL(0.95 * n) GROUP BY l_returnflag) p95 USING (l_returnflag)
           JOIN (SELECT l_returnflag, min(l_quantity) AS q50 FROM r
                 WHERE rnq = CEIL(0.5 * n) GROUP BY l_returnflag) q50 USING (l_returnflag)
         ORDER BY l_returnflag""",

    "d14_tfidf_topterms" ->
      """WITH w AS (SELECT doc_id,
             unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term),
         dfx AS (SELECT term, count(*) AS dfc FROM tf GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT doc_id, tf.term AS term,
                  round(tf * ln((n_docs + 1.0) / (dfc + 1.0)), 6) AS score
                FROM tf JOIN dfx ON tf.term = dfx.term CROSS JOIN n)
         SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term, score FROM (
           SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
           FROM sc)
         WHERE rnk <= 3 ORDER BY doc_id, rnk""",

    "q11_high_value_parts" ->
      """SELECT l_partkey, sum_value FROM (
           SELECT l_partkey, round(sum(l_extendedprice * l_quantity), 2) AS sum_value
           FROM lineitem GROUP BY l_partkey)
         WHERE sum_value > (SELECT round(sum(l_extendedprice * l_quantity) * 0.01, -3) FROM lineitem)
         ORDER BY sum_value DESC, l_partkey""",

    "q17_small_quantity_revenue" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand = 'Brand#1'
           AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                             WHERE l2.l_partkey = lineitem.l_partkey)""",

    "p03_ner_redact" ->
      """SELECT doc_id, regexp_replace(
           'Alice ' || upper(substr(lang, 1, 1)) || substr(lang, 2) || ' wrote ' || substr(text, 1, 30),
           '\b[A-Z][a-z]+ [A-Z][a-z]+\b', '<NAME>', 'g') AS redacted
         FROM documents ORDER BY doc_id""",

    "st01_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n
         FROM events GROUP BY hr, event_type ORDER BY hr, event_type""",

    "st02_stream_dedup" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct_users
         FROM events GROUP BY event_type ORDER BY event_type""",

    // microsecond-precision comparison on both sides (Spark: ts div 1000;
    // DuckDB: epoch_us of the nanosecond timestamp — same truncation)
    "st03_stream_interval_join" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_pairs
         FROM (SELECT user_id, epoch_us(ts) AS pus FROM events
               WHERE event_type = 'purchase') p
         JOIN (SELECT user_id, epoch_us(ts) AS cus FROM events
               WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND c.cus <= p.pus AND c.cus >= p.pus - 1800000000""",

    "h01_heavy_hitters" ->
      """SELECT event_type, count(*) AS n FROM events
         GROUP BY event_type ORDER BY n DESC, event_type LIMIT 5""",

    // The streaming twin gates on the same batch truth as h01.
    "st15_stream_topk" ->
      """SELECT event_type, count(*) AS n FROM events
         GROUP BY event_type ORDER BY n DESC, event_type LIMIT 5""",

    "a01_asof_click" ->
      """WITH u AS (
           SELECT user_id, epoch_us(ts) AS us, event_id, 1 AS side, NULL AS click_id
           FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT user_id, epoch_us(ts) AS us, event_id, 0 AS side, event_id AS click_id
           FROM events WHERE event_type = 'click'),
         w AS (
           SELECT user_id, event_id, side,
             last_value(click_id IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY us, side, click_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click_id
           FROM u)
         SELECT user_id, event_id, asof_click_id FROM w WHERE side = 1
         ORDER BY user_id, event_id""",

    "w01_wet_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS sum_chars
         FROM documents WHERE length(text) >= 100""",

    "k01_pack_conservation" ->
      """SELECT CAST(sum(cnt + 1) // 512 AS BIGINT) AS n_chunks
         FROM (SELECT len(string_split_regex(trim(text), '\s+')) AS cnt FROM documents)""",

    // Mirrors k11's analytic construction: exclusive prefix sum over
    // doc_id order (k05's window), trained = clamp to the last full
    // chunk boundary, chunk indices by integer division, distinct
    // chunks via the bounded per-doc range unnest.
    "k11_pack_provenance" ->
      """WITH t AS (SELECT doc_id, source,
             len(string_split_regex(trim(text), '\s+')) + 1 AS wtok
           FROM documents),
         o AS (SELECT doc_id, source, wtok,
             coalesce(sum(wtok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
           FROM t),
         g AS (SELECT (sum(wtok) // 512) * 512 AS last_full FROM t),
         p AS (SELECT doc_id, source, wtok, st,
             greatest(0, least(g.last_full - st, wtok)) AS trained
           FROM o, g),
         pc AS (SELECT *,
             CAST(CASE WHEN trained > 0 THEN st // 512 END AS BIGINT) AS fc,
             CAST(CASE WHEN trained > 0 THEN (st + trained - 1) // 512 END
               AS BIGINT) AS lc
           FROM p),
         inc AS (SELECT source, count(*) AS n_docs,
             sum(trained) AS trained_tokens,
             sum(wtok - trained) AS tail_tokens,
             sum(CASE WHEN trained > 0 THEN lc - fc + 1 ELSE 0 END)
               AS chunk_incidences
           FROM pc GROUP BY source),
         dc AS (SELECT source, count(DISTINCT c) AS distinct_chunks
           FROM (SELECT source, unnest(range(fc, lc + 1)) AS c
             FROM pc WHERE trained > 0)
           GROUP BY source)
         SELECT inc.source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(trained_tokens AS BIGINT) AS trained_tokens,
           CAST(tail_tokens AS BIGINT) AS tail_tokens,
           CAST(chunk_incidences AS BIGINT) AS chunk_incidences,
           CAST(coalesce(distinct_chunks, 0) AS BIGINT) AS distinct_chunks
         FROM inc LEFT JOIN dc USING (source) ORDER BY inc.source""",

    // k12's struct argmax/argmin replayed as deterministic windows:
    // chosen rn=1 by (q DESC, id DESC), rejected rn=1 by (q ASC, id
    // ASC) — exactly the (score, id) lexicographic tie policy. The
    // streaming deployment (st29) must land on the same pairs — max/
    // min structs are arrival-order-insensitive — so one string
    // serves both keys (the ev09/st09 convention).
    "k12_preference_pairs" -> preferencePairsOracleSql,
    "st29_stream_preference_pairs" -> preferencePairsOracleSql,

    // the role-aware rule stated directly: group by the USER content,
    // keep min id — system/assistant columns never appear, which IS
    // the property under test.
    "k13_chat_prompt_dedup" ->
      """WITH l AS (SELECT doc_id AS lid, substr(text, 1, 60) AS ucontent
           FROM documents),
         c AS (SELECT d.doc_id, l.ucontent FROM documents d
           JOIN l ON l.lid = d.doc_id - d.doc_id % 5)
         SELECT min(doc_id) AS doc_id, count(*) AS n_dups
         FROM c GROUP BY ucontent ORDER BY doc_id""",

    // Tokenizer invariant gate: lossless roundtrip and zero unk on every
    // document — byte fallback must cover the full corpus alphabet.
    "k02_bpe_roundtrip" ->
      """SELECT doc_id, CAST(1 AS BOOLEAN) AS roundtrip_ok, CAST(0 AS BIGINT) AS n_unk
         FROM documents ORDER BY doc_id""",

    // The .model protobuf round-trip must be an encode no-op for every
    // doc (k02 convention: the oracle states the invariant).
    "k16_sp_proto_roundtrip" ->
      """SELECT doc_id, CAST(1 AS BOOLEAN) AS bpe_identical,
           CAST(1 AS BOOLEAN) AS unigram_identical
         FROM documents ORDER BY doc_id""",

    // Pinned at sf0.01 (k03/d20 convention): per-language byte-fallback
    // footprint of the coverage-cut (0.98) unigram model — the trainer
    // is exact-Long deterministic, so these are constants of
    // (fixture, vocabSize, coverage). Re-pin on fixture/SF change.
    "k14_oov_report" ->
      """SELECT lang, CAST(pieces AS BIGINT) AS pieces,
           CAST(fallback_pieces AS BIGINT) AS fallback_pieces, fallback_rate
         FROM (VALUES
           ('de', 4168, 239, 0.057342),
           ('en', 13644, 755, 0.055336),
           ('es', 4620, 262, 0.05671),
           ('fr', 4443, 280, 0.06302),
           ('zh', 4894, 299, 0.061095)
         ) AS t(lang, pieces, fallback_pieces, fallback_rate)
         ORDER BY lang""",

    // Same 24-char-slice line synth as the Spark side (CASE precedence:
    // brace line 2 / lorem line 3 override the %3 punctuation rule);
    // the C4 battery itself is the filter + the two page flags.
    "d76_c4_badwords" ->
      """SELECT doc_id,
           NOT list_has_any(
             string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
             ['dup', 'leak']) AS c4_badword_keep
         FROM documents ORDER BY doc_id""",

    // d34's CTE conventions with the stupid-backoff three-level CASE;
    // the count CTEs see only the even-doc training split, the scoring
    // fold sees every doc. Every arithmetic expression mirrors the
    // driver-side StrictMath.log terms token-for-token.
    "d77_trigram_backoff_ppl" ->
      """WITH t AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         tr AS (SELECT toks FROM t WHERE doc_id % 2 = 0),
         uni AS (SELECT w, count(*) AS c
           FROM (SELECT unnest(toks) AS w FROM tr) GROUP BY w),
         vocab AS (SELECT w, c FROM uni ORDER BY c DESC, w LIMIT 64),
         stats AS (SELECT (SELECT sum(c) FROM uni) AS n,
                          (SELECT sum(c) FROM uni) - (SELECT sum(c) FROM vocab) AS unk_c,
                          (SELECT count(*) FROM vocab) AS v),
         vm AS (SELECT map_from_entries(list({'k': w, 'v': c} ORDER BY w)) AS m FROM vocab),
         tmr AS (SELECT list_transform(toks, x -> CASE WHEN len(map_extract(m, x)) > 0
               THEN x ELSE chr(1) END) AS tu
           FROM tr, vm),
         big AS (SELECT bg, count(*) AS c FROM
             (SELECT unnest(list_transform(range(1, len(tu)),
                i -> tu[i] || ' ' || tu[i+1])) AS bg FROM tmr)
           GROUP BY bg),
         bm AS (SELECT map_from_entries(list({'k': bg, 'v': c} ORDER BY bg)) AS bmap FROM big),
         tri AS (SELECT tg, count(*) AS c FROM
             (SELECT unnest(list_transform(range(1, len(tu) - 1),
                i -> tu[i] || ' ' || tu[i+1] || ' ' || tu[i+2])) AS tg
              FROM tmr WHERE len(tu) >= 3)
           GROUP BY tg),
         trm AS (SELECT map_from_entries(list({'k': tg, 'v': c} ORDER BY tg)) AS tmap FROM tri),
         tm AS (SELECT doc_id, list_transform(toks, x -> CASE WHEN len(map_extract(m, x)) > 0
               THEN x ELSE chr(1) END) AS tu
           FROM t, vm),
         scored AS (
           SELECT doc_id, len(tu) AS nt,
             CASE WHEN len(tu) >= 3 THEN
               list_reduce(list_transform(range(2, len(tu)), i ->
                 CASE WHEN len(map_extract(tmap, tu[i-1] || ' ' || tu[i] || ' ' || tu[i+1])) > 0
                   THEN ln(CAST(map_extract(tmap, tu[i-1] || ' ' || tu[i] || ' ' || tu[i+1])[1] AS DOUBLE)
                         / CAST(map_extract(bmap, tu[i-1] || ' ' || tu[i])[1] AS DOUBLE))
                 WHEN len(map_extract(bmap, tu[i] || ' ' || tu[i+1])) > 0
                   THEN ln(0.4 * (CAST(map_extract(bmap, tu[i] || ' ' || tu[i+1])[1] AS DOUBLE)
                         / CAST(CASE WHEN tu[i] = chr(1) THEN unk_c
                                ELSE map_extract(m, tu[i])[1] END AS DOUBLE)))
                 ELSE ln(0.16 * ((CAST(CASE WHEN tu[i+1] = chr(1) THEN unk_c
                                  ELSE map_extract(m, tu[i+1])[1] END AS DOUBLE) + 1.0)
                         / (CAST(n AS DOUBLE) + CAST(v AS DOUBLE) + 1.0)))
                 END), (a, b) -> a + b)
             ELSE NULL END AS lsum
           FROM tm, vm, bm, trm, stats)
         SELECT doc_id, CAST(greatest(nt - 2, 0) AS BIGINT) AS n_trigrams,
           round(lsum / (nt - 2), 6) AS avg_logp,
           round(exp(-(lsum / (nt - 2))), 4) AS ppl
         FROM scored ORDER BY doc_id""",

    // st26's window construction replayed at each candidate width;
    // dup_windows = Σ (count-1) over repeated fingerprints — the
    // would-be-excised occurrence count under first-wins.
    "d78_span_dup_profile" ->
      """WITH base AS (SELECT doc_id,
             string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS tk,
             len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')) AS n
           FROM documents),
         w4 AS (SELECT md5(array_to_string(tk[pos+1:pos+4], ' ')) AS fp
           FROM (SELECT unnest(range(0, greatest(n - 3, 0))) AS pos, tk FROM base)),
         w8 AS (SELECT md5(array_to_string(tk[pos+1:pos+8], ' ')) AS fp
           FROM (SELECT unnest(range(0, greatest(n - 7, 0))) AS pos, tk FROM base)),
         w16 AS (SELECT md5(array_to_string(tk[pos+1:pos+16], ' ')) AS fp
           FROM (SELECT unnest(range(0, greatest(n - 15, 0))) AS pos, tk FROM base)),
         p AS (
           SELECT 4 AS win, coalesce(sum(c), 0) AS n_windows,
             coalesce(sum(CASE WHEN c >= 2 THEN c - 1 ELSE 0 END), 0) AS dup_windows
           FROM (SELECT count(*) AS c FROM w4 GROUP BY fp)
           UNION ALL
           SELECT 8, coalesce(sum(c), 0),
             coalesce(sum(CASE WHEN c >= 2 THEN c - 1 ELSE 0 END), 0)
           FROM (SELECT count(*) AS c FROM w8 GROUP BY fp)
           UNION ALL
           SELECT 16, coalesce(sum(c), 0),
             coalesce(sum(CASE WHEN c >= 2 THEN c - 1 ELSE 0 END), 0)
           FROM (SELECT count(*) AS c FROM w16 GROUP BY fp))
         SELECT CAST(win AS INTEGER) AS win,
           CAST(n_windows AS BIGINT) AS n_windows,
           CAST(dup_windows AS BIGINT) AS dup_windows,
           round(CAST(dup_windows AS DOUBLE) / CAST(n_windows AS DOUBLE), 6) AS dup_ratio
         FROM p ORDER BY win""",

    "d42_c4_filters" ->
      """WITH l AS (SELECT doc_id,
             list_transform(range(1, 7), i ->
               CASE WHEN i = 2 AND doc_id % 11 = 0
                      THEN substr(text, 25, 24) || ' {x}.'
                    WHEN i = 3 AND doc_id % 13 = 0
                      THEN 'lorem ipsum dolor sit.'
                    WHEN (doc_id + i) % 3 != 0
                      THEN substr(text, 1 + (i-1)*24, 24) || '.'
                    ELSE substr(text, 1 + (i-1)*24, 24) END) AS ls
           FROM documents),
         k AS (SELECT doc_id, ls,
             list_filter(ls, x -> regexp_matches(x, '[.!?"'']$')
               AND len(string_split_regex(trim(x), '\s+')) >= 3) AS kept
           FROM l)
         SELECT doc_id, CAST(len(kept) AS INTEGER) AS kept_lines,
           len(list_filter(ls, x -> strpos(x, '{') > 0)) > 0 AS has_brace,
           contains(lower(array_to_string(ls, chr(10))), 'lorem ipsum') AS has_lorem,
           (NOT len(list_filter(ls, x -> strpos(x, '{') > 0)) > 0)
             AND (NOT contains(lower(array_to_string(ls, chr(10))), 'lorem ipsum'))
             AND len(kept) >= 3 AS doc_kept,
           array_to_string(kept, chr(10)) AS cleaned
         FROM k ORDER BY doc_id""",

    // Same quality-score formula as d39's oracle; the window order
    // (qs DESC, doc_id) is a total order, so rank and running sum are
    // engine-independent.
    "d43_domain_cap" ->
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
         FROM r WHERE rk <= 10 AND cum_tok <= 700 ORDER BY source, rk""",

    // MERGE mirror: same change batch, one FULL JOIN, same precedence
    // (deletes excluded from upserts by construction). st10 is the
    // streaming compaction of the same change log — one oracle string
    // gates both paths (the x07/st05 convention).
    "d44_merge_upsert" -> mergeUpsertOracleSql,
    "st10_stream_merge" -> mergeUpsertOracleSql,

    // Conservation formula: the exact packer's chunk count IS
    // sum(n_tok+1) div L at any partition count (k01 gates L=512; this
    // sweeps the design space).
    "k04_pack_efficiency" ->
      """WITH t AS (SELECT CAST(sum(len(string_split_regex(trim(text), '\s+')) + 1) AS BIGINT) AS total
           FROM documents),
         l AS (SELECT unnest([128, 512, 2048]) AS seq_len)
         SELECT l.seq_len, CAST(t.total // l.seq_len AS BIGINT) AS n_chunks,
           CAST(t.total - (t.total // l.seq_len) * l.seq_len AS BIGINT) AS tail_tokens,
           round(CAST((t.total // l.seq_len) * l.seq_len AS DOUBLE) / t.total, 6)
             AS utilization
         FROM l, t ORDER BY l.seq_len""",

    // Same md5 order key as d37's split coin; shard = first hex char,
    // position = rank within shard under (md5, doc_id) total order.
    "d46_train_order" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hk
           FROM documents)
         SELECT substr(hk, 1, 1) AS shard,
           CAST(row_number() OVER (PARTITION BY substr(hk, 1, 1)
             ORDER BY hk, doc_id) AS BIGINT) AS pos,
           doc_id
         FROM h ORDER BY shard, pos""",

    "d45_zipf_report" ->
      """WITH w AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         f AS (SELECT term, count(*) AS freq FROM w
           WHERE length(term) > 0 GROUP BY term),
         r AS (SELECT term, freq,
             row_number() OVER (ORDER BY freq DESC, term) AS rank FROM f)
         SELECT CAST(rank AS BIGINT) AS rank, term, CAST(freq AS BIGINT) AS freq,
           round(log10(rank), 6) AS log_rank, round(log10(freq), 6) AS log_freq,
           CAST(rank * freq AS BIGINT) AS zipf_product
         FROM r ORDER BY rank""",

    // Rank-filter quantile mirror (q30's shape) per lang; clip is
    // least/greatest over the same rounded-6dp score both engines
    // compute bit-identically (d39's formula).
    "d47_winsorize" ->
      """WITH q AS (SELECT doc_id, lang,
             round(greatest(0.0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
               + (CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 0.35
               + (CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text)) * 0.25
               + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 2.0, 1.0)) * 0.15), 6) AS qs
           FROM documents),
         r AS (SELECT lang, qs,
             row_number() OVER (PARTITION BY lang ORDER BY qs) AS rn,
             count(*) OVER (PARTITION BY lang) AS n FROM q),
         lo AS (SELECT lang, min(qs) AS p05 FROM r
           WHERE rn = CEIL(0.05 * n) GROUP BY lang),
         hi AS (SELECT lang, min(qs) AS p95 FROM r
           WHERE rn = CEIL(0.95 * n) GROUP BY lang)
         SELECT q.doc_id, q.lang, q.qs AS quality_score, lo.p05, hi.p95,
           least(greatest(q.qs, lo.p05), hi.p95) AS clipped
         FROM q JOIN lo USING (lang) JOIN hi USING (lang)
         ORDER BY q.doc_id""",

    "ev12_skew_report" ->
      """WITH k AS (SELECT event_type, count(*) AS n FROM events
           GROUP BY event_type),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_keys FROM k)
         SELECT event_type, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE) / total, 6) AS share,
           round(CAST(n AS DOUBLE) * n_keys / total, 6) AS skew_factor,
           CAST(ceil(CAST(n AS DOUBLE) * n_keys / total) AS BIGINT)
             AS salt_buckets
         FROM k, t ORDER BY event_type""",

    // a01's union-window mirror with the frame reversed: first
    // following purchase (ties by purchase_id — the struct compare on
    // the Spark side), then the 6h attribution cutoff on the matched
    // row's own timestamp.
    "a02_asof_next_purchase" ->
      """WITH u AS (
           SELECT user_id, epoch_us(ts) AS us, event_id, 0 AS side,
             NULL AS purchase_id, NULL AS pus
           FROM events WHERE event_type = 'click'
           UNION ALL
           SELECT user_id, epoch_us(ts) AS us, event_id, 1 AS side,
             event_id AS purchase_id, epoch_us(ts) AS pus
           FROM events WHERE event_type = 'purchase'),
         w AS (
           SELECT user_id, event_id, side, us,
             first_value(purchase_id IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY us, side, purchase_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_pid,
             first_value(pus IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY us, side, purchase_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_pus
           FROM u)
         SELECT user_id, event_id,
           CASE WHEN next_pus - us <= 21600000000 THEN next_pid END
             AS asof_purchase_id
         FROM w WHERE side = 0 ORDER BY user_id, event_id""",

    // st12 is d39's stateless projection applied to the document
    // stream — one oracle string gates both (the d27/st06 convention).
    "st12_stream_soft_sample" -> softSampleOracleSql,

    // Driver fold in source order with IEEE-exact sqrt (list_reduce ≡
    // the Scala foldLeft); floor runs on the UNROUNDED epoch product.
    "d53_epoch_plan" ->
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
         FROM s, z ORDER BY source""",

    // d39's score formula bucketed by decile; the judge CASE is d03's.
    "d54_score_calibration" ->
      """WITH q AS (SELECT
             least(9, CAST(floor(round(greatest(0.0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
               + (CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 0.35
               + (CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text)) * 0.25
               + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 2.0, 1.0)) * 0.15), 6) * 10) AS BIGINT)) AS decile,
             (CASE WHEN length(text) < 100 THEN 'too_short'
                  WHEN length(text) > 450 THEN 'too_long'
                  WHEN CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text) < 0.82 THEN 'too_sparse'
                  WHEN CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text) < 0.8 THEN 'low_language_signal'
                  WHEN CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text) > 0.05 THEN 'too_much_punct'
                  ELSE 'ok' END) = 'ok' AS kept
           FROM documents)
         SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
           round(CAST(count(*) FILTER (WHERE kept) AS DOUBLE) / count(*), 6)
             AS keep_rate
         FROM q GROUP BY decile ORDER BY decile""",

    // Integer day arithmetic end-to-end: first-event day per user,
    // day offsets, distinct actives per (cohort, offset) cell.
    "ev13_retention_cohorts" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events
           WHERE user_id IS NOT NULL),
         f AS (SELECT user_id, min(us) AS fus FROM e GROUP BY user_id)
         SELECT fus // 86400000000 AS cohort_day,
           (us // 86400000000) - (fus // 86400000000) AS day_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
         FROM e JOIN f USING (user_id)
         GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset""",

    // Prefix-sum rebuild of the exact packer's chunk contents: global
    // token stream = docs in doc_id order, each EOS(0)-terminated;
    // chunk c = positions [c*512, (c+1)*512); tail dropped. Every
    // chunk's joined-token md5 must match the packed output.
    "k05_unpack_roundtrip" ->
      """WITH t AS (SELECT doc_id,
             len(string_split_regex(trim(text), '\s+')) AS n FROM documents),
         o AS (SELECT doc_id, n,
             coalesce(sum(n + 1) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
           FROM t),
         tok AS (SELECT st + i - 1 AS gpos,
             CASE WHEN i <= n THEN i ELSE 0 END AS tid
           FROM (SELECT doc_id, n, st, unnest(range(1, n + 2)) AS i FROM o)),
         tt AS (SELECT sum(n + 1) AS total FROM t)
         SELECT CAST(gpos // 512 AS BIGINT) AS chunk_idx,
           md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY gpos)) AS chunk_fp
         FROM tok, tt WHERE gpos < (total // 512) * 512
         GROUP BY 1 ORDER BY chunk_idx""",

    // d37's split rule on both sides of a fingerprint equi-join; the
    // witness pair is (min train id, min leaked id) per (fp, split).
    "d52_split_leak_check" ->
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
         FROM lk JOIN tr USING (fp) ORDER BY lk.fp, lk.split""",

    // Contiguous 16-way range buckets in integer arithmetic; touched =
    // [min_id, max_id] overlaps the probe range [120, 180].
    "x11_stats_manifest" ->
      """WITH mm AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
         b AS (SELECT doc_id,
             CAST((doc_id - lo) * 16 // (hi - lo + 1) AS BIGINT) AS bucket
           FROM documents, mm)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
           min(doc_id) AS min_id, max(doc_id) AS max_id,
           min(doc_id) <= 180 AND max(doc_id) >= 120 AS touched
         FROM b GROUP BY bucket ORDER BY bucket""",

    // Snapshot-diff mirror: the same deterministic next snapshot, one
    // FULL JOIN, IS DISTINCT FROM as the null-safe payload compare.
    "d49_snapshot_diff" ->
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
         WHERE change IS NOT NULL ORDER BY doc_id""",

    // strlen = UTF-8 bytes (Spark octet_length); every ratio divides
    // integer-exact doubles.
    "d51_compaction_plan" ->
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
         FROM f ORDER BY source""",

    // d46's order key; string_agg ORDER BY (hk, doc_id) is exactly the
    // Spark array_sort over the (hk, doc_id, fp) structs.
    "x10_shard_checksums" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hk,
             md5(text) AS fp FROM documents)
         SELECT substr(hk, 1, 1) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
           md5(string_agg(fp, '' ORDER BY hk, doc_id)) AS shard_fp
         FROM h GROUP BY 1 ORDER BY shard""",

    // e08's quantizer CTEs with the winning cosine carried through; the
    // outlier compare runs on the UNROUNDED double (both engines fold
    // the dot product left-to-right, so the bits agree).
    "e10_centroid_outliers" ->
      """WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
         c AS (SELECT vec_id AS cid, emb AS cv FROM v
             WHERE vec_id % 31 = 7 AND vec_id < 500),
         s AS (SELECT v.vec_id, c.cid,
             list_sum(list_transform(list_zip(v.emb, c.cv), z -> z[1]*z[2]))
               / (sqrt(list_sum(list_transform(v.emb, x -> x*x)))
                  * sqrt(list_sum(list_transform(c.cv, x -> x*x)))) AS sim,
             row_number() OVER (PARTITION BY v.vec_id ORDER BY
               list_sum(list_transform(list_zip(v.emb, c.cv), z -> z[1]*z[2]))
                 / (sqrt(list_sum(list_transform(v.emb, x -> x*x)))
                    * sqrt(list_sum(list_transform(c.cv, x -> x*x)))) DESC,
               c.cid) AS rn
           FROM v CROSS JOIN c)
         SELECT vec_id, CAST(cid AS BIGINT) AS cell,
           round(sim, 6) AS centroid_sim, sim < 0.18 AS is_outlier
         FROM s WHERE rn = 1 ORDER BY vec_id""",

    // Exact integer cents (per-row round, then BIGINT sum) — the double
    // round(sum,2) flipped a cent at the 10x step-up; see q39.
    "q38_market_share" ->
      """WITH j AS (SELECT year(o_orderdate) AS o_year,
             CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS rev_cents,
             r_name
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey),
         a AS (SELECT o_year,
             sum(CASE WHEN r_name = 'ASIA' THEN rev_cents ELSE 0 END) / 100.0 AS asia_rev,
             sum(rev_cents) / 100.0 AS total_rev
           FROM j GROUP BY o_year)
         SELECT CAST(o_year AS INTEGER) AS o_year, asia_rev, total_rev,
           round(asia_rev / total_rev, 6) AS mkt_share
         FROM a ORDER BY o_year""",

    // Exact integer cents (per-row round, then BIGINT sum) — see the
    // Spark-side note on the cancellation-boundary hazard.
    "q39_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
             - CAST(round(p_retailprice * l_quantity * 100) AS BIGINT)) AS BIGINT) AS profit_cents
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%a%'
         GROUP BY n_name, year(o_orderdate)
         ORDER BY n_name ASC, year(o_orderdate) DESC""",

    "q40_late_shipments" ->
      """SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60 THEN 'late'
             WHEN date_diff('day', o_orderdate, l_shipdate) > 30 THEN 'slow'
             ELSE 'prompt' END AS ship_bucket,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY ship_bucket ORDER BY ship_bucket""",

    "q41_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_rev
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1998-01-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_rev
         FROM supplier JOIN rev ON s_suppkey = l_suppkey
         WHERE total_rev = (SELECT max(total_rev) FROM rev)
         ORDER BY s_suppkey""",

    "q42_part_supplier_counts" ->
      """SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_size IN (1, 4, 9, 16, 25, 36, 49)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type
         ORDER BY supplier_cnt DESC, p_brand, p_type""",

    // Same double-cast cosine construction as e10 (values, not just
    // ordering, reach the hash).
    "e11_range_search" -> rangeSearchOracleSql,

    // Stream-static twin: same query set, same truth.
    "st20_stream_range_search" -> rangeSearchOracleSql,

    // Two unrolled max-normalized integer HITS iterations over g01's
    // host graph; `//` == Spark `div` on the non-negative scores.
    "g03_hits" ->
      """WITH heraw AS (SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) AS src,
             'h' || CAST((doc_id * 7) % 41 AS VARCHAR) AS dst,
             doc_id % 5 + 1 AS w FROM documents),
         he AS (SELECT src, dst, w FROM heraw WHERE src <> dst AND w > 0),
         hn AS (SELECT src AS node FROM he UNION SELECT dst FROM he),
         h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM hn),
         a1r AS (SELECT he.dst AS node, CAST(SUM(h.hub * he.w) AS BIGINT) AS v
           FROM he JOIN h0 h ON he.src = h.node GROUP BY he.dst),
         a1f AS (SELECT n.node, COALESCE(a.v, 0) AS v
           FROM hn n LEFT JOIN a1r a ON n.node = a.node),
         a1 AS (SELECT node, CAST((v * 1000000) // (SELECT MAX(v) FROM a1f) AS BIGINT) AS auth FROM a1f),
         h1r AS (SELECT he.src AS node, CAST(SUM(a.auth * he.w) AS BIGINT) AS v
           FROM he JOIN a1 a ON he.dst = a.node GROUP BY he.src),
         h1f AS (SELECT n.node, COALESCE(h.v, 0) AS v
           FROM hn n LEFT JOIN h1r h ON n.node = h.node),
         h1 AS (SELECT node, CAST((v * 1000000) // (SELECT MAX(v) FROM h1f) AS BIGINT) AS hub FROM h1f),
         a2r AS (SELECT he.dst AS node, CAST(SUM(h.hub * he.w) AS BIGINT) AS v
           FROM he JOIN h1 h ON he.src = h.node GROUP BY he.dst),
         a2f AS (SELECT n.node, COALESCE(a.v, 0) AS v
           FROM hn n LEFT JOIN a2r a ON n.node = a.node),
         a2 AS (SELECT node, CAST((v * 1000000) // (SELECT MAX(v) FROM a2f) AS BIGINT) AS auth_micro FROM a2f),
         h2r AS (SELECT he.src AS node, CAST(SUM(a.auth_micro * he.w) AS BIGINT) AS v
           FROM he JOIN a2 a ON he.dst = a.node GROUP BY he.src),
         h2f AS (SELECT n.node, COALESCE(h.v, 0) AS v
           FROM hn n LEFT JOIN h2r h ON n.node = h.node),
         h2 AS (SELECT node, CAST((v * 1000000) // (SELECT MAX(v) FROM h2f) AS BIGINT) AS hub_micro FROM h2f)
         SELECT node, auth_micro, hub_micro
         FROM a2 JOIN h2 USING (node) ORDER BY node""",

    "ev14_decay_score" ->
      """WITH e AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
         a AS (SELECT max(us) AS max_us FROM e)
         SELECT event_type,
           round(sum(value * exp(-((max_us - us) // 86400000000) / 30.0)), 2)
             AS decayed_value,
           count(*) AS n
         FROM e CROSS JOIN a GROUP BY event_type ORDER BY event_type""",

    "q43_order_ship_reconcile" ->
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders
           FROM orders GROUP BY 1),
         l AS (SELECT CAST(l_shipdate AS DATE) AS day, count(*) AS n_ships
           FROM lineitem GROUP BY 1)
         SELECT COALESCE(o.day, l.day) AS day,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(l.n_ships, 0) AS n_ships
         FROM o FULL OUTER JOIN l ON o.day = l.day
         ORDER BY day""",

    "q44_idle_customers" ->
      """SELECT c_mktsegment, count(*) AS n_cust,
           round(sum(c_acctbal), 2) AS total_bal
         FROM customer
         WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
           AND c_custkey NOT IN (SELECT o_custkey FROM orders)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    // The oracle never sees the bytes: it groups by the synthesis
    // seed. Agreement proves codec determinism + md5 separation.
    "m05_binary_dedup" ->
      """SELECT min(doc_id) AS doc_id,
           CASE CAST(g % 3 AS INTEGER) WHEN 0 THEN 'image'
                WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           count(*) AS n_copies
         FROM (SELECT doc_id, doc_id % 48 AS g FROM documents)
         GROUP BY g ORDER BY doc_id""",

    // en-trained top-500 vocab (deterministic count/word order), then
    // per-language OOV; the normalize replay is d08's.
    "k06_oov_rate" ->
      """WITH w AS (SELECT lang,
             unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word
           FROM documents),
         v AS (SELECT word FROM (
             SELECT word, row_number() OVER (ORDER BY count(*) DESC, word ASC) AS rn
             FROM w WHERE lang = 'en' GROUP BY word)
           WHERE rn <= 500)
         SELECT lang, count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS oov_rate
         FROM w LEFT JOIN v ON w.word = v.word
         GROUP BY lang ORDER BY lang""",

    // Eligibility and token totals recomputed exactly; bin count and
    // max fill pin the measured sf0.01 FFD outcome (d20 convention —
    // re-pin on capacity/numParts change); invariants pinned TRUE.
    "k07_bin_packing" ->
      """WITH t AS (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END AS n
           FROM documents)
         SELECT CAST(sum(CASE WHEN n BETWEEN 1 AND 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_packed,
           CAST(sum(CASE WHEN n < 1 OR n > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected,
           CAST(sum(CASE WHEN n BETWEEN 1 AND 64 THEN n ELSE 0 END) AS BIGINT) AS packed_tokens,
           CAST(224 AS BIGINT) AS n_bins,
           CAST(64 AS BIGINT) AS max_fill,
           TRUE AS fill_ok, TRUE AS lb_ok
         FROM t""",

    "d62_lang_segments" -> langSegmentsOracle,

    // Expected post-revision state recomputed from the raw table; a
    // static-overwrite regression loses the untouched partitions and
    // cannot match.
    // The hash is rebuilt from the image-synthesis formulas (m03's
    // convention), the Hamming-<=2 graph brute-forced, and the
    // closure taken recursively — banding on the Spark side must not
    // lose a single pair.
    "m06_phash_neardup" ->
      s"""WITH RECURSIVE $phashCtesSql,
         e AS (SELECT a.id AS u, b.id AS w FROM h a JOIN h b ON a.id < b.id
           WHERE bit_count(xor(a.sig, b.sig)) <= 2),
         ed AS (SELECT u, w FROM e UNION SELECT w, u FROM e),
         reach AS (SELECT u, w FROM ed
           UNION SELECT r.u, ed.w FROM reach r JOIN ed ON r.w = ed.u WHERE ed.w != r.u),
         comp AS (SELECT u AS id, min(w) AS mn FROM reach GROUP BY u),
         lab AS (SELECT h.id AS asset_id, h.sig AS phash,
             CASE WHEN c.mn IS NULL OR c.mn > h.id THEN h.id ELSE c.mn END AS cluster_id
           FROM h LEFT JOIN comp c ON h.id = c.id),
         sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           FROM lab GROUP BY cluster_id)
         SELECT asset_id, phash, l.cluster_id, cluster_size
         FROM lab l JOIN sz USING (cluster_id) ORDER BY asset_id""",

    "d63_accent_fold" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
         twin AS (SELECT doc_id + 1000000 AS doc_id,
             translate(text, 'aeiou', 'áéíóú') AS text FROM base),
         a AS (SELECT * FROM base UNION ALL SELECT * FROM twin),
         f AS (SELECT doc_id, text,
             translate(lower(text), 'áéíóú', 'aeiou') AS folded FROM a)
         SELECT md5(folded) AS fold_fp, count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_raw_variants
         FROM f GROUP BY 1 ORDER BY fold_fp""",

    "q45_min_cost_supplier" ->
      """WITH cost AS (SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supply_cost
           FROM lineitem GROUP BY 1, 2),
         dims AS (SELECT s_suppkey, s_name, n_name
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
         euro AS (SELECT l_partkey, supply_cost, s_name, n_name,
             min(supply_cost) OVER (PARTITION BY l_partkey) AS m
           FROM cost JOIN dims ON l_suppkey = s_suppkey)
         SELECT p_partkey, s_name, n_name, supply_cost AS min_cost
         FROM euro JOIN part ON l_partkey = p_partkey
         WHERE supply_cost = m AND p_size < 15 AND p_type = 'STANDARD'
         ORDER BY p_partkey, s_name""",

    // Independent formulation: the textbook Q21 EXISTS / NOT-EXISTS
    // pair — the Spark side carries the same predicate as one
    // per-order (n_supp, n_late_supp) aggregate.
    "q46_waiting_orders" ->
      """WITH lo AS (SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         SELECT s_name, count(*) AS numwait FROM (
           SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
           FROM lo l1 WHERE l1.late
             AND EXISTS (SELECT 1 FROM lo l2
               WHERE l2.l_orderkey = l1.l_orderkey
                 AND l2.l_suppkey <> l1.l_suppkey)
             AND NOT EXISTS (SELECT 1 FROM lo l3
               WHERE l3.l_orderkey = l1.l_orderkey
                 AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
         ) t JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_name ORDER BY numwait DESC, s_name""",

    "g04_triangles" ->
      """WITH raw AS (SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) AS a,
             'h' || CAST((doc_id * 7) % 41 AS VARCHAR) AS b FROM documents),
         e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
           FROM raw WHERE a <> b),
         tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
           FROM e e1 JOIN e e2 ON e1.v = e2.u
           JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         corners AS (SELECT x AS node FROM tri
           UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         SELECT node, count(*) AS n_triangles FROM corners
         GROUP BY node ORDER BY node""",

    "w11_dynamic_overwrite" ->
      """SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars + CASE WHEN source = (SELECT min(source) FROM documents)
             THEN 1000000 ELSE 0 END) AS BIGINT) AS sum_chars
         FROM documents GROUP BY source ORDER BY source""",

    // Exact distincts recomputed; HLL estimates pinned (deterministic:
    // max-based registers make build+merge order/partition-invariant).
    "ev16_sketch_merge" ->
      """WITH x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
           FROM events WHERE user_id IS NOT NULL GROUP BY event_type),
         g AS (SELECT '__ALL__' AS event_type, count(DISTINCT user_id) AS n_exact
           FROM events WHERE user_id IS NOT NULL),
         u AS (SELECT * FROM x UNION ALL SELECT * FROM g),
         est(event_type, n_est) AS (VALUES ('__ALL__', 150), ('click', 150), ('error', 150), ('purchase', 150), ('signup', 150), ('view', 150))
         SELECT u.event_type, CAST(u.n_exact AS BIGINT) AS n_exact,
           CAST(est.n_est AS BIGINT) AS n_est
         FROM u JOIN est ON u.event_type = est.event_type
         ORDER BY u.event_type""",

    // KS via integer |r0*n1 - r1*n0| over the shared quality formula
    // (d06/d60's), cumulatives as a window the primitive distributes.
    "d61_score_drift" ->
      """WITH t AS (SELECT doc_id % 2 = 0 AS g0,
             CAST(floor(round(greatest(0.0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
               + (CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 0.35
               + (CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text)) * 0.25
               + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 2.0, 1.0)) * 0.15), 6) * 1000) AS BIGINT) AS q
           FROM documents),
         c AS (SELECT q, CAST(sum(CASE WHEN g0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(sum(CASE WHEN NOT g0 THEN 1 ELSE 0 END) AS BIGINT) AS c1
           FROM t GROUP BY q),
         r AS (SELECT q,
             CAST(sum(c0) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS r0,
             CAST(sum(c1) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS r1
           FROM c),
         n AS (SELECT CAST(sum(c0) AS BIGINT) AS n0, CAST(sum(c1) AS BIGINT) AS n1 FROM c)
         SELECT q AS ks_at_q, CAST(abs(r0 * n1 - r1 * n0) AS BIGINT) AS ks_scaled,
           round(abs(r0 * n1 - r1 * n0) * 1.0 / (n0 * n1), 6) AS ks
         FROM r CROSS JOIN n
         ORDER BY abs(r0 * n1 - r1 * n0) DESC, q LIMIT 1""",

    // Same integer z^2 algebra; sums cast back from DuckDB's HUGEINT.
    // Pinned at sf0.01 (d20/d30 convention): the MLlib LR fit is
    // deterministic at a fixed partitioning, and the 0.05 probability
    // margin keeps float jitter out of the confident counts. The
    // model reproduces the judge on 476/500 docs with 8 confident
    // disagreements and 16 abstentions.
    "d64_quality_classifier" ->
      """SELECT CAST(k AS BOOLEAN) AS judge_kept, p AS model_pred,
           CAST(n0 AS BIGINT) AS n
         FROM (VALUES
           (FALSE, 'drop', 243), (FALSE, 'keep', 7), (FALSE, 'uncertain', 14),
           (TRUE, 'drop', 1), (TRUE, 'keep', 233), (TRUE, 'uncertain', 2)
         ) AS t(k, p, n0)
         ORDER BY judge_kept, model_pred""",

    // The streaming path's decisions depend only on the static index,
    // so the brute-force NOT-EXISTS over the rebuilt hashes is the
    // exact truth (x07/st05 convention).
    "st22_stream_phash_dedup" ->
      s"""WITH $phashCtesSql
         SELECT n.id AS asset_id, n.sig AS phash
         FROM h n WHERE n.id >= 400
           AND NOT EXISTS (SELECT 1 FROM h i WHERE i.id < 400
             AND bit_count(xor(i.sig, n.sig)) <= 2)
         ORDER BY asset_id""",

    // d23's plain SQL on the % 101 = 1 eval split — the stream's flag
    // is stateless, so the batch overlap report IS the truth; the
    // bloom prefilter and the literal-array intersect are execution
    // details the output must not show.
    "st28_stream_decontaminate" ->
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
         FROM g LEFT JOIN c USING (doc_id) ORDER BY g.doc_id""",

    // x15's construction with the canonical occurrence re-ranked in
    // ARRIVAL order (batch = doc_id % 4, then doc_id, then pos) — the
    // streaming path's first-arrival-wins rule. Everything after the
    // dup marking (island merge, excision, reassembly) is shared with
    // x15 verbatim.
    "st26_stream_span_filter" ->
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
         ORDER BY base.doc_id""",

    // st26's construction with the retention rule spliced into the dup
    // marking: an occurrence is excised iff its PREVIOUS occurrence in
    // arrival order (batch = doc_id % 4, doc_id, pos) is at most one
    // batch older — the exact eviction boundary of the 400 s batch
    // spacing vs 100 s retention (see the gate comment). Everything
    // after the marking (island merge, excision, reassembly) is st26's
    // text verbatim.
    "st27_stream_span_ttl" ->
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
         ORDER BY base.doc_id""",

    // Mirrors Dedup.spanTrim bit for bit: stride-1 8-token md5
    // windows, duplicated = corpus count >= 2, survivor = min
    // (doc, pos) via the fp-partitioned row_number, islands by the
    // running-max-end break rule (adjacent merges), excision by
    // anti-joining token positions against the merged spans, ordered
    // string_agg reassembly. Docs < 8 tokens emit no windows.
    "x15_span_trim" -> spanTrimOracleSql,

    // the SQL-frontend twin states the identical pipeline in Spark
    // SQL over graft_span_fingerprints — one oracle serves both (the
    // x07/st05 shared-string convention)
    "q49_sql_span_trim" -> spanTrimOracleSql,

    // Both identity keys rebuilt (the d63 fold chain and the d67
    // canonicalize replay), equality cliques unioned with distinct
    // key-space prefixes, closure taken recursively — the Spark
    // star-edge construction must produce the identical clusters.
    "x14_entity_resolution" ->
      s"""WITH RECURSIVE $urlSynthSql,
         base AS (SELECT d.doc_id, d.text, u.url FROM documents d JOIN u USING (doc_id)),
         ta AS (SELECT doc_id + 1000000 AS doc_id,
             translate(text, 'aeiou', 'áéíóú') AS text,
             'https://alt.example.net/' || CAST(doc_id % 97 AS VARCHAR)
               || '/' || CAST(doc_id AS VARCHAR) AS url
           FROM base),
         tb AS (SELECT doc_id + 2000000 AS doc_id, reverse(text) AS text,
             regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) || '://' ||
             upper(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)) ||
             regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) || '/' ||
             '?utm_source=feed&fbclid=' || CAST(doc_id % 7 AS VARCHAR) ||
             CASE WHEN coalesce(regexp_extract(url, '\\?([^#]*)', 1), '') <> ''
                  THEN '&' || regexp_extract(url, '\\?([^#]*)', 1) ELSE '' END ||
             '#top' AS url
           FROM base),
         al AS (SELECT * FROM base UNION ALL SELECT * FROM ta UNION ALL SELECT * FROM tb),
         parts AS (SELECT doc_id, url,
             regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS sch,
             regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS hostport,
             regexp_replace(regexp_extract(url,
               '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$$', '') AS pth,
             coalesce(regexp_extract(url, '\\?([^#]*)', 1), '') AS q2
           FROM al),
         keptq AS (SELECT doc_id, sch, hostport, pth,
             coalesce(array_to_string(list_sort(list_filter(string_split(q2, '&'),
               x -> x <> '' AND NOT regexp_matches(x,
                 '^(utm_[a-z]+|gclid|fbclid|ref)='))), '&'), '') AS qk
           FROM parts),
         kk AS (SELECT doc_id,
             'c:' || md5(translate(lower(text), 'áéíóú', 'aeiou')) AS k FROM al
           UNION ALL
           SELECT doc_id, 'u:' || sch || '://' || lower(hostport) ||
             CASE WHEN pth = '' THEN '/' ELSE pth END ||
             CASE WHEN qk = '' THEN '' ELSE '?' || qk END AS k FROM keptq),
         e AS (SELECT a1.doc_id AS u2, a2.doc_id AS w FROM kk a1 JOIN kk a2
           ON a1.k = a2.k AND a1.doc_id < a2.doc_id),
         ed AS (SELECT u2, w FROM e UNION SELECT w, u2 FROM e),
         reach AS (SELECT u2, w FROM ed
           UNION SELECT r.u2, ed.w FROM reach r JOIN ed ON r.w = ed.u2
           WHERE ed.w != r.u2),
         comp AS (SELECT u2 AS doc_id, min(w) AS mn FROM reach GROUP BY u2),
         lab AS (SELECT ids.doc_id,
             CASE WHEN c.mn IS NULL OR c.mn > ids.doc_id
                  THEN ids.doc_id ELSE c.mn END AS cluster_id
           FROM (SELECT DISTINCT doc_id FROM al) ids LEFT JOIN comp c USING (doc_id)),
         sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           FROM lab GROUP BY cluster_id)
         SELECT doc_id, cluster_id, cluster_size
         FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id""",

    // a01's union-window construction with the staleness guard on the
    // matched click's own timestamp (both last_values align: the id
    // and ts columns are null/non-null on exactly the same rows).
    "a03_asof_stale_bound" ->
      """WITH u AS (
           SELECT user_id, epoch_us(ts) AS us, event_id, 1 AS side,
             NULL AS click_id, NULL AS click_us
           FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT user_id, epoch_us(ts) AS us, event_id, 0 AS side,
             event_id AS click_id, epoch_us(ts) AS click_us
           FROM events WHERE event_type = 'click'),
         w AS (
           SELECT user_id, event_id, side, us,
             last_value(click_id IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY us, side, click_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cid,
             last_value(click_us IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY us, side, click_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cus2
           FROM u)
         SELECT user_id, event_id,
           CASE WHEN cid IS NOT NULL AND us - cus2 <= 1800000000
                THEN cid END AS asof_click_id
         FROM w WHERE side = 1 ORDER BY user_id, event_id""",

    "q49_not_in_nulls" ->
      """SELECT 'not_exists' AS variant, count(*) AS n FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM orders o
             WHERE o.o_totalprice > 300000 AND o.o_custkey = c.c_custkey)
         UNION ALL
         SELECT 'not_in_clean', count(*) FROM customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
             WHERE o_totalprice > 300000 AND o_custkey IS NOT NULL)
         UNION ALL
         SELECT 'not_in_with_null', count(*) FROM customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
             WHERE o_totalprice > 300000
             UNION ALL SELECT CAST(NULL AS BIGINT))
         ORDER BY variant""",

    // Same aggregate twice; hint_honored pinned TRUE — a planner
    // regression that ignores the hint fails the gate.
    "b03_join_hints" ->
      """WITH a AS (SELECT o_orderpriority,
             round(sum(l_extendedprice), 2) AS revenue,
             count(*) AS n_lines
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY o_orderpriority)
         SELECT strategy, o_orderpriority, revenue, n_lines,
           TRUE AS hint_honored
         FROM a CROSS JOIN (VALUES ('merge'), ('shuffle_hash')) AS s(strategy)
         ORDER BY strategy, o_orderpriority""",

    "ev26_markov_eval" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
           FROM events WHERE user_id IS NOT NULL),
         tr AS (SELECT lag(event_type) OVER (PARTITION BY user_id
             ORDER BY us, event_id) AS from_type, event_type AS to_type
           FROM e),
         t2 AS (SELECT from_type, to_type FROM tr WHERE from_type IS NOT NULL),
         cnt AS (SELECT from_type, to_type, count(*) AS n FROM t2 GROUP BY 1, 2),
         model AS (SELECT from_type, to_type AS predicted FROM (
             SELECT from_type, to_type, row_number() OVER (PARTITION BY from_type
               ORDER BY n DESC, to_type) AS rn FROM cnt) WHERE rn = 1)
         SELECT t2.from_type, count(*) AS n_transitions,
           max(predicted) AS predicted,
           CAST(sum(CASE WHEN to_type = predicted THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           round(CAST(sum(CASE WHEN to_type = predicted THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) AS accuracy
         FROM t2 JOIN model USING (from_type)
         GROUP BY t2.from_type ORDER BY from_type""",

    // graft_nfkc is identity on the ASCII corpus (d69 gates its
    // semantics), so the distinct fingerprint replays as md5(text).
    "q48_sql_frontend" ->
      """SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN substr(md5(text), 1, 2) < '40'
             THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           count(DISTINCT md5(text)) AS n_distinct
         FROM documents GROUP BY source ORDER BY source""",

    "d72_term_map" ->
      """WITH w AS (SELECT doc_id,
             unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS w
           FROM documents),
         tf AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           coalesce(string_agg(CASE WHEN c >= 2 THEN w || ':' || CAST(c AS VARCHAR) END,
             ',' ORDER BY w), '') AS repeated_terms
         FROM tf GROUP BY doc_id ORDER BY doc_id""",

    // n_pass1 = the x03 closure's survivor count; the law pins
    // n_pass2 equal and idempotent TRUE.
    "x13_dedup_idempotence" ->
      """WITH RECURSIVE
         n AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
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
         comp AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u),
         kept AS (SELECT count(*) AS k FROM documents WHERE doc_id NOT IN
             (SELECT doc_id FROM comp WHERE mn < doc_id))
         SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_input,
           CAST(k AS BIGINT) AS n_pass1, CAST(k AS BIGINT) AS n_pass2,
           TRUE AS idempotent
         FROM kept""",

    "ev25_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events WHERE user_id IS NOT NULL),
         days AS (SELECT DISTINCT day FROM ud),
         dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day),
         w AS (SELECT d.day, count(DISTINCT u.user_id) AS wau FROM days d
           JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day GROUP BY d.day),
         m AS (SELECT d.day, count(DISTINCT u.user_id) AS mau FROM days d
           JOIN ud u ON u.day BETWEEN d.day - 29 AND d.day GROUP BY d.day)
         SELECT day, dau, wau, mau
         FROM dau JOIN w USING (day) JOIN m USING (day) ORDER BY day""",

    // Pinned at sf0.01 (d20 convention — the unigram model is not SQL-
    // replayable): deterministic hard-EM training + exact Long counts
    // make the per-source fertility partitioning-invariant constants.
    // n_pieces ~ 1.03x n_words: the 800-piece budget learns the tiny
    // template vocabulary's words whole. Re-pin on fixture/SF change.
    "k10_unigram_tokenize" ->
      """SELECT source, CAST(nd AS BIGINT) AS n_docs,
           CAST(np AS BIGINT) AS n_pieces, CAST(nw AS BIGINT) AS n_words
         FROM (VALUES
           ('src0', 25, 1494, 1435), ('src1', 25, 1590, 1540),
           ('src10', 25, 1357, 1303), ('src11', 25, 1566, 1522),
           ('src12', 25, 1317, 1272), ('src13', 25, 1593, 1553),
           ('src14', 25, 1361, 1318), ('src15', 25, 1354, 1298),
           ('src16', 25, 1400, 1351), ('src17', 25, 1413, 1373),
           ('src18', 25, 1409, 1364), ('src19', 25, 1187, 1147),
           ('src2', 25, 1453, 1407), ('src3', 25, 1436, 1384),
           ('src4', 25, 1346, 1294), ('src5', 25, 1372, 1329),
           ('src6', 25, 1311, 1266), ('src7', 25, 1554, 1507),
           ('src8', 25, 1177, 1136), ('src9', 25, 1409, 1366)
         ) AS t(source, nd, np, nw)
         ORDER BY source""",

    "k09_loss_mask" ->
      """WITH m AS (SELECT doc_id,
           '<|system|>' || chr(10) || 'You are a helpful assistant.' || chr(10)
             || '<|user|>' || chr(10) || substr(text, 1, 60) || chr(10)
             || '<|assistant|>' || chr(10) AS masked,
           substr(text, 61, 80) || chr(10) || '<|end|>' AS trainable
         FROM documents),
         c AS (SELECT doc_id,
           CAST(len(string_split_regex(trim(masked), '\s+')) AS BIGINT) AS n_masked,
           CAST(len(string_split_regex(trim(trainable), '\s+')) AS BIGINT) AS n_trainable
         FROM m)
         SELECT doc_id, n_masked, n_trainable,
           round(CAST(n_trainable AS DOUBLE) / (n_masked + n_trainable), 4)
             AS trainable_frac
         FROM c ORDER BY doc_id""",

    // ev09's v/c/p conversion CTEs with the duration tail: exact
    // type-1 p50/p90 per transition (q30's rank construction).
    "ev24_funnel_timing" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events
           WHERE user_id IS NOT NULL),
         v AS (SELECT user_id, min(t) AS fv FROM e
           WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, v.fv, min(e.t) AS fc FROM e JOIN v USING (user_id)
           WHERE e.event_type = 'click' AND e.t > v.fv
             AND e.t - v.fv <= 21600000000 GROUP BY e.user_id, v.fv),
         p AS (SELECT e.user_id, c.fc, min(e.t) AS fp FROM e JOIN c USING (user_id)
           WHERE e.event_type = 'purchase' AND e.t > c.fc
             AND e.t - c.fc <= 21600000000 GROUP BY e.user_id, c.fc),
         d0 AS (SELECT user_id, 'view_to_click' AS stage, fc - fv AS dur_us FROM c
           UNION ALL SELECT user_id, 'click_to_purchase', fp - fc FROM p),
         r AS (SELECT stage, dur_us,
             row_number() OVER (PARTITION BY stage ORDER BY dur_us) AS rn,
             count(*) OVER (PARTITION BY stage) AS n
           FROM d0)
         SELECT p50.stage, n_converted, p50_us, p90_us FROM
           (SELECT stage, min(dur_us) AS p50_us FROM r
            WHERE rn = CEIL(0.5 * n) GROUP BY stage) p50
           JOIN (SELECT stage, min(dur_us) AS p90_us FROM r
             WHERE rn = CEIL(0.9 * n) GROUP BY stage) p90 USING (stage)
           JOIN (SELECT stage, CAST(count(*) AS BIGINT) AS n_converted
             FROM d0 GROUP BY stage) cnt USING (stage)
         ORDER BY stage""",

    "d71_license_filter" ->
      """WITH t0 AS (SELECT doc_id,
           substr(text, 1, 40) ||
           (CASE CAST(doc_id % 11 AS INTEGER)
              WHEN 0 THEN ' Licensed under the Apache License, Version 2.0 '
              WHEN 1 THEN ' SPDX-License-Identifier: MIT '
              WHEN 2 THEN ' All Rights Reserved. '
              ELSE ' ' END) ||
           substr(text, 41, 40) AS t
         FROM documents),
         lab AS (SELECT doc_id,
           CASE WHEN regexp_matches(t, 'SPDX-License-Identifier: MIT') THEN 'mit'
                WHEN regexp_matches(t, 'Apache License, Version 2\.0') THEN 'apache-2.0'
                WHEN regexp_matches(t, '(?i)all rights reserved') THEN 'restrictive'
                ELSE 'none' END AS license
         FROM t0)
         SELECT doc_id, license, license <> 'restrictive' AS kept
         FROM lab ORDER BY doc_id""",

    // Completeness + no-duplication in one shot: counts AND sorted
    // content fingerprints per source, straight off the raw table.
    "st24_foreachbatch_sink" ->
      """SELECT source, count(*) AS n_docs,
           md5(string_agg(md5(text), '' ORDER BY md5(text))) AS content_fp
         FROM documents GROUP BY source ORDER BY source""",

    "ev23_burst_detection" ->
      """WITH pm AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
             count(*) AS n
           FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_active_hours, max(n) AS max_per_hour,
           CAST(sum(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_burst_hours,
           sum(CASE WHEN n >= 3 THEN 1 ELSE 0 END) > 0 AS is_bursty
         FROM pm GROUP BY user_id ORDER BY user_id""",

    // Both IVFPQ stages replayed: cell assignment (e10's argmax), PQ
    // reconstruction (e09's argmin chain), probe ranking, every ADC.
    // Embedded-assertion oracle (b01 convention): 20 queries x top-5
    // from the persisted index, zero rows differing from the live path
    // in either direction.
    "e17_persisted_ivf" ->
      """SELECT CAST(100 AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS only_persisted,
           CAST(0 AS BIGINT) AS only_live""",

    // e08's assignment + four within-cell pair graphs + four closures,
    // one survivor count per tau.
    "e16_semantic_tau_curve" -> semanticTauSweepOracleSql(
      Seq("0.35", "0.42", "0.48", "0.55")),

    // The analytic single-stream identity packExact must reproduce:
    // total // L full chunks, remainder = tail-dropped.
    "k15_pack_efficiency" ->
      """WITH t AS (SELECT len(string_split_regex(trim(text), '\s+')) + 1 AS wtok
           FROM documents),
         tot AS (SELECT sum(wtok) AS total FROM t)
         SELECT CAST(L AS INT) AS seq_len,
           CAST(total // L AS BIGINT) AS n_chunks,
           CAST((total // L) * L AS BIGINT) AS trained_tokens,
           CAST(total - (total // L) * L AS BIGINT) AS tail_tokens,
           round(((total // L) * L * 1.0) / total, 6) AS utilization
         FROM tot CROSS JOIN (VALUES (256), (512), (1024), (2048)) AS v(L)
         ORDER BY seq_len""",

    // Pinned at sf0.01 (e04/d20 convention): the nProbe→recall@5 curve
    // of the memoized 16-cell IVF quantizer — deterministic
    // (hash-ordered kmeans sample). Monotone by construction, 1.0 at
    // full probe. Re-pin on fixture/SF/seed change.
    "e15_ivf_probe_curve" ->
      """SELECT CAST(n_probe AS INT) AS n_probe, recall FROM (VALUES
           (1, 0.22), (2, 0.42), (4, 0.65), (8, 0.86), (16, 1.0)
         ) AS t(n_probe, recall) ORDER BY n_probe""",

    "e13_ivfpq_knn" ->
      """WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
         cb AS (SELECT vec_id AS cid, emb AS cv FROM v
             WHERE vec_id % 31 = 7 AND vec_id < 500),
         asg AS (SELECT vec_id, cid AS cell FROM (
             SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id ORDER BY
               list_sum(list_transform(list_zip(v.emb, c.cv), z -> z[1]*z[2]))
                 / (sqrt(list_sum(list_transform(v.emb, x -> x*x)))
                    * sqrt(list_sum(list_transform(c.cv, x -> x*x)))) DESC,
               c.cid) AS rn
             FROM v CROSS JOIN cb c) WHERE rn = 1),
         sub AS (SELECT v.vec_id, jj.j, c.cid,
             c.cv[jj.j*8+1 : jj.j*8+8] AS ent,
             row_number() OVER (PARTITION BY v.vec_id, jj.j ORDER BY
               list_sum(list_transform(range(1, 9),
                 i -> (v.emb[jj.j*8+i] - c.cv[jj.j*8+i])
                    * (v.emb[jj.j*8+i] - c.cv[jj.j*8+i]))),
               c.cid) AS rn
           FROM v CROSS JOIN range(0, 8) jj(j) CROSS JOIN cb c),
         recon AS (SELECT vec_id, flatten(list(ent ORDER BY j)) AS rc
           FROM sub WHERE rn = 1 GROUP BY vec_id),
         q AS (SELECT vec_id AS query_id, emb AS qv FROM v WHERE vec_id < 10),
         probe AS (SELECT query_id, cid AS cell FROM (
             SELECT q.query_id, c.cid, row_number() OVER (PARTITION BY q.query_id ORDER BY
               list_sum(list_transform(list_zip(q.qv, c.cv), z -> z[1]*z[2]))
                 / (sqrt(list_sum(list_transform(q.qv, x -> x*x)))
                    * sqrt(list_sum(list_transform(c.cv, x -> x*x)))) DESC,
               c.cid) AS rn
             FROM q CROSS JOIN cb c) WHERE rn <= 2),
         s AS (SELECT p.query_id, r.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65),
               i -> (q.qv[i]-r.rc[i])*(q.qv[i]-r.rc[i]))) AS adc
           FROM probe p JOIN q USING (query_id)
           JOIN asg ON asg.cell = p.cell
           JOIN recon r ON r.vec_id = asg.vec_id
           WHERE r.vec_id != p.query_id)
         SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id,
           round(adc, 6) AS adc_dist
         FROM (SELECT query_id, neighbor_id, adc,
             row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
           FROM s)
         WHERE rn <= 5 ORDER BY query_id, rank""",

    "k08_chat_format" ->
      """WITH r AS (SELECT doc_id,
           '<|system|>' || chr(10) || 'You are a helpful assistant.' || chr(10) ||
           '<|user|>' || chr(10) || substr(text, 1, 60) || chr(10) ||
           '<|assistant|>' || chr(10) || substr(text, 61, 80) || chr(10) ||
           '<|end|>' AS rendered
         FROM documents)
         SELECT doc_id, CAST(3 AS BIGINT) AS n_turns, md5(rendered) AS render_fp,
           CAST(len(string_split_regex(trim(rendered), '\s+')) AS BIGINT) AS n_tokens
         FROM r ORDER BY doc_id""",

    // The expected NFKC foldings stated as an explicit replace chain:
    // ligatures, full-width letter/digit, circled digit, unit square.
    "d69_nfkc_normalize" ->
      """WITH raw0 AS (SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'ﬁle ' ELSE 'ﬂow ' END) ||
           (CASE WHEN doc_id % 3 = 0 THEN 'Ａ０ ' ELSE '① ' END) ||
           (CASE WHEN doc_id % 5 = 0 THEN '㎞ ' ELSE '' END) ||
           substr(text, 1, 24) AS raw
         FROM documents)
         SELECT doc_id, raw,
           replace(replace(replace(replace(replace(replace(raw,
             'ﬁ', 'fi'), 'ﬂ', 'fl'), 'Ａ', 'A'), '０', '0'), '①', '1'),
             '㎞', 'km') AS norm,
           TRUE AS changed
         FROM raw0 ORDER BY doc_id""",

    "d70_containment_dedup" ->
      """WITH n0 AS (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
           FROM documents),
         snip AS (SELECT doc_id + 2000000 AS doc_id,
             array_to_string(string_split(t, ' ')[5:14], ' ') AS t
           FROM n0 WHERE doc_id % 4 = 0),
         a AS (SELECT doc_id, t FROM n0 UNION ALL SELECT doc_id, t FROM snip),
         g AS (SELECT doc_id, list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
             ELSE list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS gs
           FROM (SELECT doc_id, string_split(t, ' ') AS w FROM a)),
         ex AS (SELECT doc_id, unnest(gs) AS gr FROM g),
         dfc AS (SELECT gr, count(*) AS dn FROM ex GROUP BY gr),
         ex2 AS (SELECT doc_id, gr FROM ex JOIN dfc USING (gr) WHERE dn <= 50),
         sz AS (SELECT doc_id, count(*) AS n_g FROM ex2 GROUP BY doc_id),
         cand AS (SELECT x.doc_id AS contained_id, y.doc_id AS container_id,
             count(*) AS shared
           FROM ex2 x JOIN ex2 y ON x.gr = y.gr AND x.doc_id <> y.doc_id
           GROUP BY 1, 2)
         SELECT contained_id, container_id,
           round(CAST(shared AS DOUBLE) / sa.n_g, 6) AS containment
         FROM cand
         JOIN sz sa ON sa.doc_id = contained_id
         JOIN sz sb ON sb.doc_id = container_id
         WHERE CAST(shared AS DOUBLE) / sa.n_g >= 0.9
           AND (sa.n_g < sb.n_g OR (sa.n_g = sb.n_g AND contained_id < container_id))
         ORDER BY contained_id, container_id""",

    // All three closures replayed over the SAME survivor chain: exact
    // md5 pick, word-3gram Jaccard closure restricted to exact
    // survivors, cosine-0.97 closure restricted to n-gram survivors.
    "d68_dedup_cascade" ->
      """WITH RECURSIVE
         s1 AS (SELECT doc_id, text FROM (
             SELECT doc_id, text, row_number() OVER (
               PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
               ORDER BY doc_id) AS rn
             FROM documents) WHERE rn = 1),
         n AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
           FROM s1),
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
         comp AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u),
         s2 AS (SELECT doc_id FROM s1 WHERE doc_id NOT IN
             (SELECT doc_id FROM comp WHERE mn < doc_id)),
         v2 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings JOIN s2 ON vec_id = doc_id),
         e3 AS (SELECT a.vec_id AS u, b.vec_id AS w FROM v2 a JOIN v2 b ON a.vec_id < b.vec_id
             WHERE list_sum(list_transform(list_zip(a.emb, b.emb), z -> z[1]*z[2]))
               / (sqrt(list_sum(list_transform(a.emb, x -> x*x)))
                  * sqrt(list_sum(list_transform(b.emb, x -> x*x)))) >= 0.97),
         ed3 AS (SELECT u, w FROM e3 UNION SELECT w, u FROM e3),
         reach3 AS (SELECT u, w FROM ed3
           UNION SELECT r.u, ed3.w FROM reach3 r JOIN ed3 ON r.w = ed3.u WHERE ed3.w != r.u),
         comp3 AS (SELECT u AS vec_id, min(w) AS mn FROM reach3 GROUP BY u),
         s3 AS (SELECT vec_id FROM v2 WHERE vec_id NOT IN
             (SELECT vec_id FROM comp3 WHERE mn < vec_id))
         SELECT stage, n_docs FROM (
           SELECT '0_input' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM documents
           UNION ALL SELECT '1_exact', CAST(count(*) AS BIGINT) FROM s1
           UNION ALL SELECT '2_ngram', CAST(count(*) AS BIGINT) FROM s2
           UNION ALL SELECT '3_semantic', CAST(count(*) AS BIGINT) FROM s3)
         ORDER BY stage""",

    "d65_sentence_stats" ->
      s"""WITH $sentenceSynthSql
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[.!?]+(\\s|$$)')) AS BIGINT) AS n_sentences,
           CAST(len(string_split_regex(trim(t), '\\s+')) AS BIGINT) AS n_words,
           round(CAST(len(string_split_regex(trim(t), '\\s+')) AS DOUBLE)
             / len(regexp_extract_all(t, '[.!?]+(\\s|$$)')), 4) AS words_per_sentence
         FROM sy ORDER BY doc_id""",

    "d66_readability" ->
      s"""WITH $sentenceSynthSql,
         m AS (SELECT doc_id,
             CAST(len(regexp_extract_all(t, '[.!?]+(\\s|$$)')) AS BIGINT) AS n_sentences,
             CAST(len(string_split_regex(trim(t), '\\s+')) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(lower(t), '[aeiouy]+')) AS BIGINT) AS n_syllables
           FROM sy)
         SELECT doc_id, n_sentences, n_words, n_syllables,
           round(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4) AS flesch
         FROM m ORDER BY doc_id""",

    "d67_url_canonical_dedup" ->
      s"""WITH $urlSynthSql,
         dec AS (SELECT doc_id,
             regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) || '://' ||
             upper(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)) ||
             regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) || '/' ||
             '?utm_source=feed&fbclid=' || CAST(doc_id % 7 AS VARCHAR) ||
             CASE WHEN regexp_extract(url, '\\?([^#]*)', 1) <> ''
                  THEN '&' || regexp_extract(url, '\\?([^#]*)', 1) ELSE '' END ||
             '#top' AS url FROM u),
         allu AS (SELECT doc_id, url FROM u UNION ALL SELECT doc_id, url FROM dec),
         parts AS (SELECT doc_id, url,
             regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS sch,
             regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS hostport,
             regexp_replace(regexp_extract(url,
               '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$$', '') AS pth,
             coalesce(regexp_extract(url, '\\?([^#]*)', 1), '') AS q
           FROM allu),
         keptq AS (SELECT doc_id, url, sch, hostport, pth,
             coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'),
               x -> x <> '' AND NOT regexp_matches(x,
                 '^(utm_[a-z]+|gclid|fbclid|ref)='))), '&'), '') AS qk
           FROM parts),
         canon AS (SELECT doc_id, url, sch || '://' || lower(hostport) ||
             CASE WHEN pth = '' THEN '/' ELSE pth END ||
             CASE WHEN qk = '' THEN '' ELSE '?' || qk END AS canon
           FROM keptq)
         SELECT canon, count(*) AS n_urls, count(DISTINCT url) AS n_raw
         FROM canon GROUP BY 1 ORDER BY canon""",

    // Pseudonym derived from the synthesis seed — the oracle never
    // sees the regex-extraction path, only the linkability contract.
    "p05_pseudonymize" ->
      """WITH s AS (SELECT doc_id, source,
           'user_' || substr(md5(lower(source || '@example.com')), 1, 8) AS pseudonym
         FROM documents)
         SELECT pseudonym, count(*) AS n_docs,
           count(DISTINCT source) AS n_sources
         FROM s GROUP BY 1 ORDER BY pseudonym""",

    "w12_manifest_swap" ->
      """SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars + CASE WHEN source = (SELECT min(source) FROM documents)
             THEN 500000 ELSE 0 END) AS BIGINT) AS sum_chars
         FROM documents GROUP BY source ORDER BY source""",

    // the engine's 3 synchronous LPA rounds unrolled: each (v_i,
    // lab_i) block replays one round — weighted votes from iteration
    // i-1's labels, argmax by (votes DESC, lbl ASC) via row_number.
    "g06_label_propagation" ->
      """WITH e0 AS (SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) AS src,
             'h' || CAST((doc_id * 7) % 41 AS VARCHAR) AS dst,
             (doc_id % 5) + 1 AS w
           FROM documents),
         sym AS (SELECT u, v, sum(w) AS w FROM (
             SELECT src AS u, dst AS v, w FROM e0
             UNION ALL SELECT dst AS u, src AS v, w FROM e0)
           WHERE u != v GROUP BY u, v),
         lab0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym),
         v1 AS (SELECT s.u, l.lbl, sum(s.w) AS votes
           FROM sym s JOIN lab0 l ON s.v = l.node GROUP BY s.u, l.lbl),
         lab1 AS (SELECT u AS node, lbl FROM (SELECT u, lbl,
             row_number() OVER (PARTITION BY u ORDER BY votes DESC, lbl ASC) AS rn
           FROM v1) WHERE rn = 1),
         v2 AS (SELECT s.u, l.lbl, sum(s.w) AS votes
           FROM sym s JOIN lab1 l ON s.v = l.node GROUP BY s.u, l.lbl),
         lab2 AS (SELECT u AS node, lbl FROM (SELECT u, lbl,
             row_number() OVER (PARTITION BY u ORDER BY votes DESC, lbl ASC) AS rn
           FROM v2) WHERE rn = 1),
         v3 AS (SELECT s.u, l.lbl, sum(s.w) AS votes
           FROM sym s JOIN lab2 l ON s.v = l.node GROUP BY s.u, l.lbl),
         lab3 AS (SELECT u AS node, lbl FROM (SELECT u, lbl,
             row_number() OVER (PARTITION BY u ORDER BY votes DESC, lbl ASC) AS rn
           FROM v3) WHERE rn = 1)
         SELECT node, lbl AS label FROM lab3 ORDER BY node""",

    "g05_cooccurrence" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events
           WHERE user_id IS NOT NULL)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_users
         FROM ut a JOIN ut b ON a.user_id = b.user_id
           AND a.event_type < b.event_type
         GROUP BY 1, 2 ORDER BY type_a, type_b""",

    "ev21_resample_ffill" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hour, value
           FROM events WHERE user_id IS NOT NULL),
         hr AS (SELECT user_id, hour, count(*) AS n_ev, max(value) AS v
           FROM e GROUP BY 1, 2),
         b AS (SELECT user_id, min(hour) AS hmin, max(hour) AS hmax
           FROM hr GROUP BY 1),
         grid AS (SELECT user_id, unnest(range(hmin, hmax + 1)) AS hour FROM b),
         j AS (SELECT g.user_id, g.hour,
             CAST(coalesce(hr.n_ev, 0) AS BIGINT) AS n_events, hr.v
           FROM grid g LEFT JOIN hr ON g.user_id = hr.user_id AND g.hour = hr.hour)
         SELECT user_id, hour, n_events,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
         FROM j ORDER BY user_id, hour""",

    // Exact type-1 quantiles recomputed; the sketch-error bounds are
    // pinned TRUE — a sketch regression (rank drift past n/accuracy)
    // fails the gate even though the sketch value itself is not
    // replayable.
    "ev22_quantile_sketch" ->
      """WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
         r AS (SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM e)
         SELECT p50.event_type, p50.p50, p95.p95,
           TRUE AS ok50, TRUE AS ok95
         FROM (SELECT event_type, min(value) AS p50 FROM r
             WHERE rn = CEIL(0.5 * n) GROUP BY event_type) p50
           JOIN (SELECT event_type, min(value) AS p95 FROM r
             WHERE rn = CEIL(0.95 * n) GROUP BY event_type) p95 USING (event_type)
         ORDER BY event_type""",

    "q47_excess_share" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
           FROM lineitem GROUP BY 1, 2),
         tot AS (SELECT l_partkey, sum(qty) AS tot_qty FROM ps GROUP BY 1)
         SELECT l_partkey, s_name, qty, tot_qty
         FROM ps JOIN tot USING (l_partkey)
         JOIN supplier ON l_suppkey = s_suppkey
         WHERE qty * 5 > tot_qty ORDER BY l_partkey, s_name""",

    "ev20_transition_paths" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
           FROM events WHERE user_id IS NOT NULL),
         l AS (SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id
             ORDER BY us, event_id), '__START__') AS from_type,
             event_type AS to_type FROM e)
         SELECT from_type, to_type, count(*) AS n_transitions
         FROM l GROUP BY 1, 2 ORDER BY from_type, to_type""",

    "e12_mmr_rerank" -> mmrOracleSql,

    "ev15_daily_anomaly" -> dailyAnomalyOracle,

    // Streaming twin: the daily counts accumulate as Complete-mode
    // aggregate state; the z-test finishes off the sink — same
    // semantics, same oracle string (st12=d39 convention).
    "st21_stream_anomaly" -> dailyAnomalyOracle,

    "ev19_window_dedup" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
           FROM events WHERE user_id IS NOT NULL),
         l AS (SELECT event_type, us, lag(us) OVER (PARTITION BY user_id, event_type
             ORDER BY us, event_id) AS prev_us FROM e)
         SELECT event_type, count(*) AS n_events,
           CAST(sum(CASE WHEN prev_us IS NOT NULL AND us - prev_us <= 3600000000
             THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
         FROM l GROUP BY event_type ORDER BY event_type""",

    "ev18_scd2_intervals" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
           FROM events WHERE user_id IS NOT NULL),
         r AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
               OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS is_start
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         r2 AS (SELECT *, sum(is_start) OVER (PARTITION BY user_id
             ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS run_id FROM r),
         iv AS (SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
             max(event_type) AS event_type, min(us) AS valid_from_us,
             CAST(count(*) AS BIGINT) AS n_events
           FROM r2 GROUP BY user_id, run_id)
         SELECT user_id, run_id, event_type, valid_from_us,
           lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to_us,
           n_events
         FROM iv ORDER BY user_id, run_id""",

    // The global greedy cut replayed as the single-ORDER-BY running
    // sum budgetSelect distributes.
    "d60_token_budget" ->
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
         WHERE run <= 12000 ORDER BY doc_id"""
  )

  // Escaped-for-SQL-single-quoted-literal pattern strings (no quotes in
  // the patterns themselves, so escaping is a no-op; kept as vals for a
  // single source of truth with PiiFunctions).
  private def EmailSql = PiiFunctions.EmailPattern
  private def CardSql = PiiFunctions.CardPattern

  /** ev11 oracle: the 8+8-bit Morton interleave spelled out as the
    * same sum-of-terms integer arithmetic the Spark expression tree
    * folds — GENERATED from one loop so the two sides cannot drift. */
  private def zorderOracleSql: String = {
    val terms = (0 until 8).map(i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH b AS (SELECT user_id,
           epoch_us(ts) // 86400000000 AS day,
           user_id % 256 AS x,
           (epoch_us(ts) // 86400000000) % 256 AS y
         FROM events),
       z AS (SELECT user_id, day, $terms AS z FROM b)
       SELECT z >> 10 AS bucket, count(*) AS n,
         min(user_id) AS min_user, max(user_id) AS max_user,
         min(day) AS min_day, max(day) AS max_day
       FROM z GROUP BY 1 ORDER BY 1"""
  }

  /** d44/st10 shared oracle: batch FULL-JOIN MERGE and streaming
    * keyed-state compaction must produce the SAME snapshot (doc_id,
    * action, text-md5), so one string serves both keys. */
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

  /** ev07's gaps-and-islands sessionization mirror — shared verbatim
    * by st13, the streaming session_window twin. */
  private def sessionWindowsOracleSql: String =
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
  private def softSampleOracleSql: String =
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

  /** d34's bigram-LM mirror through the per-doc `scored(doc_id, n,
    * lsum)` CTE — shared by d34 (per-doc ppl report) and d50 (CCNet
    * tercile buckets). */
  /** x15/q49 shared oracle: Dedup.spanTrim's full construction in
    * DuckDB — stride-1 8-token md5 windows, min-(doc,pos) survivor,
    * gaps-and-islands merge, anti-join excision, ordered reassembly.
    * The Column-API operator (x15) and the graft_span_fingerprints SQL
    * frontend (q49) must both land on this exact output. */
  /** g07's oracle: KCore.run unrolled — round i counts degrees over
    * the symmetric view of e(i-1), keeps nodes with >= k, restricts
    * edges to survivors; after `rounds` rounds the surviving
    * subgraph's degrees are the result. Same simple-graph
    * normalization (self-loops dropped, parallel edges collapsed
    * undirected). */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    // every e_i is referenced 3x by round i+1 — without MATERIALIZED
    // the inlined expansion re-scans the base table ~5^rounds times
    sb ++= """WITH e0 AS MATERIALIZED (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM (SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) AS src,
                        'h' || CAST((doc_id * 7) % 41 AS VARCHAR) AS dst
                 FROM documents WHERE doc_id % 11 = 0)
           WHERE src != dst)"""
    for (i <- 1 to rounds) {
      sb ++= s""",
         d$i AS (SELECT node, count(*) AS deg FROM (
             SELECT u AS node FROM e${i - 1}
             UNION ALL SELECT v FROM e${i - 1}) GROUP BY node),
         a$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $k),
         e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
             WHERE u IN (SELECT node FROM a$i)
               AND v IN (SELECT node FROM a$i))"""
    }
    sb ++= s"""
         SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
           SELECT u AS node FROM e$rounds UNION ALL SELECT v FROM e$rounds)
         GROUP BY node ORDER BY node"""
    sb.toString
  }

  /** e16's oracle: e08's deterministic quantizer assignment shared
    * (MATERIALIZED — four graphs read it), then per tau a within-cell
    * cosine pair graph, its transitive closure, and the survivor
    * count. `taus` as SQL literals so both engines parse the identical
    * decimal. Carries the same cellCap sub-cell split CTEs as e08's
    * oracle (vacuous at gate SFs, binding at step-ups). */
  private def semanticTauSweepOracleSql(taus: Seq[String]): String = {
    val per = taus.zipWithIndex.map { case (t, i) =>
      s""",
         e$i AS MATERIALIZED (SELECT x.vec_id AS u, y.vec_id AS w
           FROM a2 x JOIN a2 y ON x.cid = y.cid AND x.sub = y.sub
             AND x.vec_id < y.vec_id
           WHERE list_sum(list_transform(list_zip(x.emb, y.emb), z -> z[1]*z[2]))
             / (sqrt(list_sum(list_transform(x.emb, q -> q*q)))
                * sqrt(list_sum(list_transform(y.emb, q -> q*q)))) >= $t),
         ed$i AS (SELECT u, w FROM e$i UNION SELECT w, u FROM e$i),
         reach$i AS (SELECT u, w FROM ed$i
                   UNION SELECT r.u, ed$i.w FROM reach$i r
                     JOIN ed$i ON r.w = ed$i.u WHERE ed$i.w != r.u),
         comp$i AS (SELECT u AS vec_id, min(w) AS mn FROM reach$i GROUP BY u),
         k$i AS (SELECT CAST($t AS DOUBLE) AS tau,
           (SELECT count(*) FROM embeddings)
             - (SELECT count(*) FROM comp$i WHERE mn < vec_id) AS survivors)"""
    }.mkString
    val unions = taus.indices
      .map(i => s"SELECT tau, CAST(survivors AS BIGINT) AS survivors FROM k$i")
      .mkString("\n         UNION ALL ")
    s"""WITH RECURSIVE
         v AS MATERIALIZED (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
         c AS (SELECT vec_id AS cid, emb AS cv FROM v
             WHERE vec_id % 31 = 7 AND vec_id < 500),
         s AS (SELECT v.vec_id, v.emb, c.cid, row_number() OVER (
             PARTITION BY v.vec_id ORDER BY
               list_sum(list_transform(list_zip(v.emb, c.cv), z -> z[1]*z[2]))
                 / (sqrt(list_sum(list_transform(v.emb, x -> x*x)))
                    * sqrt(list_sum(list_transform(c.cv, x -> x*x)))) DESC,
               c.cid) AS rn
           FROM v CROSS JOIN c),
         a AS (SELECT vec_id, emb, cid FROM s WHERE rn = 1),
         cc AS (SELECT cid, greatest(1, CAST(ceil(count(*) / 512.0) AS BIGINT)) AS ns
           FROM a GROUP BY cid),
         a2 AS MATERIALIZED (SELECT a.vec_id, a.emb, a.cid,
             a.vec_id % cc.ns AS sub
           FROM a JOIN cc USING (cid))$per
         $unions
         ORDER BY tau"""
  }

  /** d82/st32's shared truth: tag-phrase word-sequence matching as
    * padded LIKE over the dedup normalization. */
  private val keywordTagOracleSql: String =
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
  private val fuzzyDeconOracleSql: String =
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
  private val spanDeconOracleSql: String =
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

  private val spanTrimOracleSql: String =
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

  private def bigramPplOracleCtes: String = bigramPplOracleCtes(Int.MaxValue)

  /** d34/d50/d74 shared LM CTEs; a finite `maxBigrams` replays
    * `trainBigramLm`'s top-M (count DESC, bigram ASC) count-pruning cut
    * before the bigram map is built (d74). */
  private def bigramPplOracleCtes(maxBigrams: Int): String = {
    val base = """WITH t AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         uni AS (SELECT w, count(*) AS c
           FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
         vocab AS (SELECT w, c FROM uni ORDER BY c DESC, w LIMIT 64),
         stats AS (SELECT (SELECT sum(c) FROM uni) - (SELECT sum(c) FROM vocab) AS unk_c,
                          (SELECT count(*) FROM vocab) AS v),
         vm AS (SELECT map_from_entries(list({'k': w, 'v': c} ORDER BY w)) AS m FROM vocab),
         tm AS (SELECT doc_id,
             list_transform(toks, x -> CASE WHEN len(map_extract(m, x)) > 0
               THEN x ELSE chr(1) END) AS tu
           FROM t, vm),
         big AS (SELECT bg, count(*) AS c FROM
             (SELECT unnest(list_transform(range(1, len(tu)),
                i -> tu[i] || ' ' || tu[i+1])) AS bg FROM tm)
           GROUP BY bg),
         bm AS (SELECT map_from_entries(list({'k': bg, 'v': c} ORDER BY bg)) AS bmap FROM big),
         scored AS (
           SELECT doc_id, len(tu) AS n,
             CASE WHEN len(tu) >= 2 THEN
               list_reduce(list_transform(range(1, len(tu)), i ->
                 ln( (coalesce(map_extract(bmap, tu[i] || ' ' || tu[i+1])[1], 0) + 1.0)
                   / ((CASE WHEN tu[i] = chr(1) THEN unk_c
                       ELSE map_extract(m, tu[i])[1] END) + v + 1.0) )),
                 (a, b) -> a + b)
             ELSE NULL END AS lsum
           FROM tm, vm, bm, stats)"""
    if (maxBigrams == Int.MaxValue) base
    else base.replace("AS bmap FROM big)",
      s"AS bmap FROM (SELECT bg, c FROM big ORDER BY c DESC, bg LIMIT $maxBigrams))")
  }

  private def mergeUpsertOracleSql: String =
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
  private val preferencePairsOracleSql: String =
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
  private val funnelOracleSql: String = """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events
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
  private val dsirScoredCtes: String = """t AS (SELECT doc_id, lang = 'fr' AS is_t,
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

  /** Every repairable char once — appended to each doc by w03 so the
    * whole mojibake table is under the hash. */
  private val MojibakeSuffix: String =
    " café naïve “x‘y’ – — … 5° è ê á à ä ö ü ñ ç í ó ú"

  private def sqlQuote(s: String) = "'" + s.replace("'", "''") + "'"

  /** The w03 oracle is GENERATED from the same table the operator
    * folds, in the same order — a hand-transcribed copy would drift. */
  private def mojibakeOracleSql: String = {
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
  }
  private def SsnSql = PiiFunctions.SsnPattern
  private def Ipv4Sql = PiiFunctions.Ipv4Pattern
  private def Ipv6Sql = PiiFunctions.Ipv6Pattern
  private def PhoneSql = PiiFunctions.PhonePattern

  /** Shared scored-CTE prefix for the language-ID oracles — must mirror
    * [[TextAnalysis.langIdLabel]] exactly. */
  /** d62's truth: the same generated stopword-hit label logic as
    * [[langIdOracle]], applied per LINE of the interleaved two-doc
    * synth, then a lag() run-length segment count. */
  private def langSegmentsOracle: String = {
    val hits = TextAnalysis.LangStopwords.map { case (lang, sw) =>
      val pat = sw.mkString("\\b(", "|", ")\\b")
      s"len(regexp_extract_all(lower(line), '$pat')) AS ${lang}_h"
    }.mkString(", ")
    val langs = TextAnalysis.LangStopwords.map(_._1)
    val best = "greatest(" + langs.map(_ + "_h").mkString(", ") + ")"
    val pick = langs.map(l => s"WHEN ${l}_h = best AND best > 0 THEN '$l'").mkString(" ")
    s"""WITH p AS (SELECT a.doc_id, a.text AS t1, b.text AS t2
           FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
        l AS (
          SELECT doc_id, 1 AS pos, t1 AS line FROM p
          UNION ALL SELECT doc_id, 2,
            CASE WHEN doc_id % 2 = 0 THEN t1 ELSE t2 END FROM p
          UNION ALL SELECT doc_id, 3,
            CASE WHEN doc_id % 2 = 0 THEN t2 ELSE t1 END FROM p
          UNION ALL SELECT doc_id, 4, t2 FROM p),
        h AS (SELECT doc_id, pos, line, $hits FROM l),
        b2 AS (SELECT *, $best AS best FROM h),
        s AS (SELECT doc_id, pos,
          CASE WHEN CAST(length(regexp_replace(line, '[^一-鿿]', '', 'g')) AS DOUBLE)
                 >= length(line) * 0.05 THEN 'zh'
               $pick
               ELSE 'und' END AS lab
          FROM b2),
        seg AS (SELECT doc_id, pos, lab,
          lag(lab) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM s)
        SELECT doc_id, count(*) AS n_lines,
          CAST(sum(CASE WHEN prev IS NULL OR lab <> prev THEN 1 ELSE 0 END) AS BIGINT)
            AS n_segments,
          count(DISTINCT lab) AS n_langs
        FROM seg GROUP BY doc_id ORDER BY doc_id"""
  }

  private def langIdOracle(tail: String): String = {
    val hits = TextAnalysis.LangStopwords.map { case (lang, sw) =>
      val pat = sw.mkString("\\b(", "|", ")\\b")
      s"len(regexp_extract_all(lower(text), '$pat')) AS ${lang}_h"
    }.mkString(", ")
    val langs = TextAnalysis.LangStopwords.map(_._1)
    val best = "greatest(" + langs.map(_ + "_h").mkString(", ") + ")"
    val pick = langs.map(l => s"WHEN ${l}_h = best AND best > 0 THEN '$l'").mkString(" ")
    s"""WITH h AS (SELECT doc_id, lang, text, $hits FROM documents),
        b AS (SELECT *, $best AS best FROM h),
        scored AS (SELECT doc_id, lang,
          CASE WHEN CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS DOUBLE)
                 >= length(text) * 0.05 THEN 'zh'
               $pick
               ELSE 'und' END AS lang_pred
          FROM b)
        $tail"""
  }

  // ------------------------------------------------------------------
  // Scale-twin oracles.
  //
  // The 21 oracles below are brute-force / recursive-closure SQL whose
  // DuckDB cost is quadratic in corpus size: fine at the sf0.01 gate,
  // infeasible at ScaleData step-ups (the round-9 sf1 sweep timed every
  // one of them out while the ENGINE side completed). Each twin keeps
  // the primary's projections, filters, thresholds, and aggregations
  // VERBATIM, but reads its pair graph / closure / PQ encoding from
  // `tw_*` temp tables that tools/scale_twins.py materializes with
  // vectorized EXACT math (full all-pairs BLAS — no banding, no
  // sampling, no pruning, so the twin stays exactly as independent of
  // the engine's LSH geometry as the primary). Integer-exact paths
  // (Jaccard counts, Hamming) are bit-identical by construction; float
  // comparisons within 1e-9 of a threshold/tie are re-decided by
  // DuckDB itself evaluating the primary's own expression.
  //
  // Contract: tools/check_oracle.py --scale prefers these twins and
  // calls scale_twins.prepare(con, name) first; --twin-check runs twin
  // AND primary at the gate SFs and compares exactly (the equivalence
  // evidence). The driver's own gate keeps running the primaries.
  //
  // Helper tables (built per connection, shared across queries):
  //   tw_char5_pairs / tw_char3_pairs / tw_word3_pairs
  //     (u, v, j, su, sv): u < v, exact gram-set Jaccard j >= 0.8,
  //     su/sv the distinct-gram counts (so primaries' float length
  //     filters apply unchanged).  Self-pairs are NOT stored: where a
  //     primary's join semantics include them (d79/q50's eval side),
  //     the twin adds them explicitly as the exact j = 1.0 they carry.
  //   tw_word3_comp / tw_cos097_comp / tw_e08_comp / tw_phash_comp /
  //   tw_x14_comp (id, mn): the recursive-closure contract — for each
  //     node of a >=2 component C, mn = min(C \ {id}).
  //   tw_cos097_pairs (u, v): cosine >= 0.97 edges over embeddings.
  //   tw_e08_asg / tw_e13_asg (vec_id, cell): nearest centroid by
  //     (cosine DESC, cid ASC).
  //   tw_pq_recon (vec_id, rc): per-subspace argmin-L2 centroid slices
  //     concatenated — values copied verbatim, so ADC stays in SQL.
  //   tw_d68_s1 / tw_d68_s2 / tw_d68_comp / tw_d68_comp3: the d68
  //     cascade's per-stage survivor sets and closures.
  def oracleSqlScale: Map[String, String] = {
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
    val incrementalDedupScale =
      """WITH hit AS (SELECT u AS doc_id FROM tw_char5_pairs WHERE u >= 400 AND v < 400
           UNION SELECT v FROM tw_char5_pairs WHERE v >= 400 AND u < 400)
         SELECT d.doc_id FROM documents d
         WHERE d.doc_id >= 400 AND d.doc_id NOT IN (SELECT doc_id FROM hit)
         ORDER BY doc_id"""
    val exactCharJaccardScale =
      """SELECT u AS src, v AS dst, round(j, 6) AS jaccard
         FROM tw_char5_pairs
         WHERE su >= 0.8 * sv AND sv >= 0.8 * su
         ORDER BY src, dst"""
    Map(
      "x01_minhash_dedup" -> exactCharJaccardScale,
      "x17_exact_dense_jaccard" -> exactCharJaccardScale,

      "x02_simhash_dedup" ->
        """WITH p AS (SELECT u AS src, v AS dst, round(j, 6) AS jaccard
             FROM tw_char3_pairs
             WHERE su >= 0.8 * sv AND sv >= 0.8 * su),
           sr AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM p
             WHERE src < 500 AND dst < 500)
           SELECT p.src, p.dst, p.jaccard,
             coalesce(round(sr.ns / nullif(sr.ns, 0), 4), 1.0) AS recall_at_radius
           FROM p CROSS JOIN sr
           ORDER BY src, dst""",

      "x09_source_dup_matrix" ->
        """WITH m AS (SELECT least(da.source, db.source) AS sa,
             greatest(da.source, db.source) AS sb
           FROM tw_char5_pairs p
           JOIN documents da ON p.u = da.doc_id
           JOIN documents db ON p.v = db.doc_id
           WHERE p.su >= 0.8 * p.sv AND p.sv >= 0.8 * p.su)
         SELECT sa, sb, CAST(count(*) AS BIGINT) AS n_pairs
         FROM m GROUP BY sa, sb ORDER BY sa, sb""",

      "d79_fuzzy_decontaminate" -> fuzzyDeconScale,
      "q50_sql_fuzzy_decon" -> fuzzyDeconScale,

      "st30_stream_fuzzy_decon" ->
        """WITH hit AS (SELECT u AS doc_id FROM tw_char5_pairs
               WHERE v % 101 = 7 AND v < 500
             UNION SELECT v FROM tw_char5_pairs WHERE u % 101 = 7 AND u < 500)
         SELECT d.doc_id, d.source FROM documents d
         WHERE NOT (d.doc_id % 101 = 7 AND d.doc_id < 500)
           AND d.doc_id NOT IN (SELECT doc_id FROM hit)
         ORDER BY doc_id""",

      "x07_incremental_dedup" -> incrementalDedupScale,
      "st05_stream_incremental_dedup" -> incrementalDedupScale,

      "st07_stream_online_dedup" ->
        """WITH late AS (SELECT CASE
             WHEN (v % 4 > u % 4) OR (v % 4 = u % 4 AND v > u) THEN v ELSE u
             END AS doc_id
           FROM tw_char5_pairs)
         SELECT d.doc_id FROM documents d
         WHERE d.doc_id NOT IN (SELECT doc_id FROM late)
         ORDER BY doc_id""",

      "x03_ngram_jaccard_dedup" ->
        """SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM tw_word3_comp WHERE mn < doc_id)
         ORDER BY doc_id""",

      "d59_dup_cluster_histogram" ->
        """WITH cid AS (SELECT d.doc_id,
             CASE WHEN c.mn IS NULL THEN d.doc_id
                  ELSE least(c.mn, d.doc_id) END AS cid
           FROM documents d LEFT JOIN tw_word3_comp c ON d.doc_id = c.doc_id),
         sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS cluster_size
           FROM cid GROUP BY cid)
         SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         FROM sz GROUP BY cluster_size ORDER BY cluster_size""",

      "x12_dedup_audit" ->
        """SELECT doc_id AS dropped_id, mn AS canonical_id
         FROM tw_word3_comp WHERE mn < doc_id ORDER BY dropped_id""",

      "x13_dedup_idempotence" ->
        """WITH kept AS (SELECT count(*) AS k FROM documents WHERE doc_id NOT IN
             (SELECT doc_id FROM tw_word3_comp WHERE mn < doc_id))
         SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_input,
           CAST(k AS BIGINT) AS n_pass1, CAST(k AS BIGINT) AS n_pass2,
           TRUE AS idempotent
         FROM kept""",

      "x16_quality_canonical" ->
        """WITH cid AS (SELECT c.doc_id, least(c.mn, c.doc_id) AS cid
           FROM tw_word3_comp c),
         sc AS (SELECT cid.doc_id, cid.cid, strlen(d.text) AS score
           FROM cid JOIN documents d USING (doc_id)),
         win AS (SELECT cid, doc_id AS canonical_id,
             row_number() OVER (PARTITION BY cid
               ORDER BY score DESC, doc_id ASC) AS rn FROM sc),
         w1 AS (SELECT cid, canonical_id FROM win WHERE rn = 1)
         SELECT s.doc_id AS dropped_id, w1.canonical_id
         FROM sc s JOIN w1 USING (cid)
         WHERE s.doc_id != w1.canonical_id
         ORDER BY dropped_id""",

      "x04_embedding_neardup" ->
        """SELECT label, count(*) AS n_kept FROM embeddings
         WHERE vec_id NOT IN (SELECT vec_id FROM tw_cos097_comp WHERE mn < vec_id)
         GROUP BY label ORDER BY label""",

      "e08_semantic_dedup" ->
        """SELECT vec_id, label FROM embeddings
         WHERE vec_id NOT IN (SELECT vec_id FROM tw_e08_comp WHERE mn < vec_id)
         ORDER BY vec_id""",

      "e09_pq_knn" ->
        """WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, emb AS qv FROM v WHERE vec_id < 10),
         s AS (SELECT query_id, r.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65),
               i -> (qv[i]-r.rc[i])*(qv[i]-r.rc[i]))) AS adc
           FROM q CROSS JOIN tw_pq_recon r WHERE r.vec_id != query_id)
         SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id,
           round(adc, 6) AS adc_dist
         FROM (SELECT query_id, neighbor_id, adc,
             row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
           FROM s)
         WHERE rn <= 5 ORDER BY query_id, rank""",

      "e13_ivfpq_knn" ->
        """WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
         cb AS (SELECT vec_id AS cid, emb AS cv FROM v
             WHERE vec_id % 31 = 7 AND vec_id < 500),
         q AS (SELECT vec_id AS query_id, emb AS qv FROM v WHERE vec_id < 10),
         probe AS (SELECT query_id, cid AS cell FROM (
             SELECT q.query_id, c.cid, row_number() OVER (PARTITION BY q.query_id ORDER BY
               list_sum(list_transform(list_zip(q.qv, c.cv), z -> z[1]*z[2]))
                 / (sqrt(list_sum(list_transform(q.qv, x -> x*x)))
                    * sqrt(list_sum(list_transform(c.cv, x -> x*x)))) DESC,
               c.cid) AS rn
             FROM q CROSS JOIN cb c) WHERE rn <= 2),
         s AS (SELECT p.query_id, r.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65),
               i -> (q.qv[i]-r.rc[i])*(q.qv[i]-r.rc[i]))) AS adc
           FROM probe p JOIN q USING (query_id)
           JOIN tw_e13_asg asg ON asg.cell = p.cell
           JOIN tw_pq_recon r ON r.vec_id = asg.vec_id
           WHERE r.vec_id != p.query_id)
         SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id,
           round(adc, 6) AS adc_dist
         FROM (SELECT query_id, neighbor_id, adc,
             row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
           FROM s)
         WHERE rn <= 5 ORDER BY query_id, rank""",

      "m06_phash_neardup" ->
        """WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 3 = 0),
         g AS (SELECT id, list_transform(range(0, 64), i ->
             ((i*4 + id) % 256) + ((i*2 + id*3) % 256) + ((i + id*7) % 256)) AS gray
           FROM ids),
         h AS (SELECT id, CAST(list_sum(list_transform(range(0, 63), i ->
             CASE WHEN gray[i+1] * 64 > list_sum(gray)
                  THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sig
           FROM g),
         lab AS (SELECT h.id AS asset_id, h.sig AS phash,
             CASE WHEN c.mn IS NULL OR c.mn > h.id THEN h.id ELSE c.mn END AS cluster_id
           FROM h LEFT JOIN tw_phash_comp c ON h.id = c.id),
         sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           FROM lab GROUP BY cluster_id)
         SELECT asset_id, phash, l.cluster_id, cluster_size
         FROM lab l JOIN sz USING (cluster_id) ORDER BY asset_id""",

      "x14_entity_resolution" ->
        """WITH ids AS (SELECT doc_id FROM documents
           UNION ALL SELECT doc_id + 1000000 FROM documents
           UNION ALL SELECT doc_id + 2000000 FROM documents),
         lab AS (SELECT ids.doc_id,
             CASE WHEN c.mn IS NULL OR c.mn > ids.doc_id
                  THEN ids.doc_id ELSE c.mn END AS cluster_id
           FROM ids LEFT JOIN tw_x14_comp c USING (doc_id)),
         sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           FROM lab GROUP BY cluster_id)
         SELECT doc_id, cluster_id, cluster_size
         FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id""",

      "d68_dedup_cascade" ->
        """SELECT stage, n_docs FROM (
           SELECT '0_input' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM documents
           UNION ALL SELECT '1_exact', CAST(count(*) AS BIGINT) FROM tw_d68_s1
           UNION ALL SELECT '2_ngram', CAST(count(*) AS BIGINT) FROM tw_d68_s2
           UNION ALL SELECT '3_semantic', CAST(count(*) AS BIGINT) FROM (
             SELECT e.vec_id FROM embeddings e JOIN tw_d68_s2 s2 ON e.vec_id = s2.doc_id
             WHERE e.vec_id NOT IN (SELECT vec_id FROM tw_d68_comp3 WHERE mn < vec_id)))
         ORDER BY stage"""
    )
  }
}

package graft
package gates

import graft.functions.{TextFunctions, UrlFunctions}
import graft.operators._
import org.apache.spark.sql.functions._
import Fixtures._

/** Document gates, dedup and decontamination (part of d01-d85): the
  * dedup families' document faces (exact, line, passage, n-gram,
  * URL-canonical, containment, cascade), eval-set decontamination and
  * keyword tagging. */
object DocDedupGates {
  val all: Seq[Gate] = Seq(
    Gate("d07_exact_dedup", (s, d) =>
      Dedup.exact(docs(s, d), "doc_id", "text").select("doc_id").orderBy("doc_id"),
      """SELECT doc_id FROM (
           SELECT doc_id, row_number() OVER (
             PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
             ORDER BY doc_id) AS rn
           FROM documents)
         WHERE rn = 1 ORDER BY doc_id"""),

    Gate("d13_jaccard_neighbors", (s, d) => {
      val t = docs(s, d).select(col("doc_id"),
        array_distinct(split(TextFunctions.normalizeForDedup(col("text")), " ")).as("ws"))
      val a = t.select(col("doc_id").as("src"), col("ws").as("w1"))
      val b = t.select((col("doc_id") - 1).as("src"), col("doc_id").as("dst"), col("ws").as("w2"))
      a.join(b, "src")
        .select(col("src"), col("dst"),
          round(size(array_intersect(col("w1"), col("w2"))).cast("double")
            / size(array_union(col("w1"), col("w2"))), 6).as("jaccard"))
        .orderBy("src")
    },
      """WITH t AS (SELECT doc_id,
             list_distinct(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS ws
           FROM documents)
         SELECT a.doc_id AS src, b.doc_id AS dst,
           round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
             / len(list_distinct(list_concat(a.ws, b.ws))), 6) AS jaccard
         FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
         ORDER BY src"""),

    Gate("d19_dup_lines", (s, d) => {
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
    },
      // mirrors dupLineRatio exactly: split on \n, trim, drop blanks,
      // n<5 -> 0, else (#lines occurring >1)/n; earlier judge branches are
      // threshold-neutralized on the Spark side so only dup_lines/ok remain
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
         FROM dup ORDER BY doc_id"""),

    Gate("d23_decontaminate", (s, d) => {
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
    },
      // Mirrors Decontamination.overlapReport: wordShingles(text, 5) with
      // the <5-words whole-text fallback, distinct per doc, counted
      // against the distinct eval-gram set (eval = doc_id % 97 = 0).
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
         FROM g LEFT JOIN c USING (doc_id) ORDER BY g.doc_id"""),

    Gate("d26_line_dedup", (s, d) => {
      // corpus-level line dedup over d19-style synthesized multi-line
      // docs: within-doc repeats (even ids) AND cross-doc collisions
      // (8-char slices recur across docs) both lose to the global
      // (doc_id, pos)-first occurrence; docs reassemble from surviving
      // lines, possibly to empty text.
      Dedup.lineDedup(docs(s, d).select(col("doc_id"), multiLineSynth.as("text")),
          "doc_id", "text")
        .orderBy("doc_id")
    },
      // Mirrors Dedup.lineDedup over the d19-style synth: first
      // occurrence = min (doc_id, pos) per md5(trim(line)); documents
      // reassemble from surviving lines in position order (possibly to
      // empty text). DuckDB zips the two unnests positionally.
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
         ORDER BY synth.doc_id"""),

    Gate("d28_dup_passages", (s, d) =>
      // duplicate-passage report (Lee et al. token-window form): at
      // sf0.01 the planted near-dup clusters share 418 aligned 10-token
      // windows across 47 docs — the oracle recomputes document
      // frequency per md5 window exactly.
      Dedup.dupPassageReport(docs(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      // stride 5 per doc (whole text when shorter), document frequency
      // per window, df>=2 counts as shared.
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
         FROM g LEFT JOIN c USING (doc_id) ORDER BY g.doc_id"""),

    Gate("d33_bloom_decontaminate", (s, d) => {
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
    },
      // d23's oracle on the % 89 = 3 eval split — the bloom prefilter is
      // an execution detail the output must not show.
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
         FROM g LEFT JOIN c USING (doc_id) ORDER BY g.doc_id"""),

    Gate("d38_passage_trim", (s, d) =>
      // duplicate-passage EXCISION (Lee et al. remove the spans, not
      // the docs): consecutive 10-token blocks, global first
      // occurrence survives, docs reassemble from surviving blocks —
      // the planted near-dup clusters lose their shared spans while
      // their unique tails survive, so n_blocks_kept < n_blocks
      // exactly where d28 reports sharing.
      Dedup.passageTrim(docs(s, d).select("doc_id", "text"), "doc_id", "text")
        .orderBy("doc_id"),
      // Mirrors Dedup.dupPassageReport: distinct md5 10-token windows at
      // Mirrors Dedup.passageTrim: flatten, 10-token blocks (DuckDB list
      // slice is 1-based inclusive and clamps, same as Spark's slice),
      // global first occurrence via the two-step exact min (doc then
      // pos), ordered reassembly; all-blocks-removed docs come back as
      // the empty string.
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
         FROM w LEFT JOIN re ON w.doc_id = re.doc_id ORDER BY w.doc_id"""),

    Gate("d57_edit_distance_neardup", (s, d) => {
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
    },
      // Normalize, block, levenshtein-verify, survivor set — DuckDB's
      // levenshtein is the same char-level edit distance as Spark's.
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
         ORDER BY doc_id"""),

    Gate("d59_dup_cluster_histogram", (s, d) => {
      // HOW duplicated is the corpus: the x03 near-dup graph's
      // component-size distribution (the report a curator reads before
      // choosing dedup aggressiveness). Same verified pair set as x03
      // (one shared implementation — ngramJaccardPairs), distributed CC
      // labels components, singletons label themselves as size-1
      // (ConnectedComponents.labelRows). Two bounded aggs after the CC;
      // the oracle rebuilds graph + closure recursively and must land on
      // the identical histogram.
      val all = docs(s, d)
      val pairs = Dedup.ngramJaccardPairs(all, "doc_id", "text", n = 3, threshold = 0.8)
      ConnectedComponents.labelRows(all.select(col("doc_id")), "doc_id", pairs)
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    },
      // Same verified graph + closure; components sized, then the size
      // distribution. Singletons count as size-1 clusters.
      s"""WITH RECURSIVE $ngramGraphCtesSql,
         cid AS (SELECT d.doc_id,
             CASE WHEN c.mn IS NULL THEN d.doc_id
                  ELSE least(c.mn, d.doc_id) END AS cid
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
         sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS cluster_size
           FROM cid GROUP BY cid)
         SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         FROM sz GROUP BY cluster_size ORDER BY cluster_size""",
      scaleTwin = Some(
        """WITH cid AS (SELECT d.doc_id,
             CASE WHEN c.mn IS NULL THEN d.doc_id
                  ELSE least(c.mn, d.doc_id) END AS cid
           FROM documents d LEFT JOIN tw_word3_comp c ON d.doc_id = c.doc_id),
         sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS cluster_size
           FROM cid GROUP BY cid)
         SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         FROM sz GROUP BY cluster_size ORDER BY cluster_size""")),

    Gate("d67_url_canonical_dedup", (s, d) => {
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
    },
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
         FROM canon GROUP BY 1 ORDER BY canon"""),

    Gate("d68_dedup_cascade", (s, d) => {
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
    },
      // All three closures replayed over the SAME survivor chain: exact
      // md5 pick, word-3gram Jaccard closure restricted to exact
      // survivors, cosine-0.97 closure restricted to n-gram survivors.
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
      scaleTwin = Some(
        """SELECT stage, n_docs FROM (
           SELECT '0_input' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM documents
           UNION ALL SELECT '1_exact', CAST(count(*) AS BIGINT) FROM tw_d68_s1
           UNION ALL SELECT '2_ngram', CAST(count(*) AS BIGINT) FROM tw_d68_s2
           UNION ALL SELECT '3_semantic', CAST(count(*) AS BIGINT) FROM (
             SELECT e.vec_id FROM embeddings e JOIN tw_d68_s2 s2 ON e.vec_id = s2.doc_id
             WHERE e.vec_id NOT IN (SELECT vec_id FROM tw_d68_comp3 WHERE mn < vec_id)))
         ORDER BY stage""")),

    Gate("d70_containment_dedup", (s, d) => {
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
    },
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
         ORDER BY contained_id, container_id"""),

    Gate("d75_semantic_decontaminate", (s, d) => {
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
    },
      // the planted leaks (vec_id % 23 scaled by 2) score cosine 1.0
      // exactly; the highest non-planted cross cosine is 0.477 at any
      // SF, so the 0.99 cut is 0.51 from the nearest value on either
      // side — float-path differences between engines cannot flip it
      """WITH ev AS (SELECT list_transform(embedding, x -> x * 2) AS ev
           FROM embeddings WHERE vec_id % 23 = 0 AND vec_id < 500)
         SELECT vec_id, label FROM embeddings c
         WHERE NOT EXISTS (SELECT 1 FROM ev
           WHERE list_cosine_similarity(ev.ev, c.embedding) >= 0.99)
         ORDER BY vec_id"""),

    Gate("d78_span_dup_profile", (s, d) => {
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
    },
      // st26's window construction replayed at each candidate width;
      // dup_windows = Σ (count-1) over repeated fingerprints — the
      // would-be-excised occurrence count under first-wins.
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
         FROM p ORDER BY win"""),

    Gate("d79_fuzzy_decontaminate", (s, d) => {
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
    },
      // Brute-force corpus x eval whole-doc char-5gram Jaccard (x01's
      // gram construction; the size-ratio prefilter is implied by
      // J >= 0.8). Only >= threshold pairs are reported — LSH guarantees
      // recall above the threshold, nothing below it. ONE oracle string
      // bound to the LSH-candidate operator path AND the pure-SQL
      // frontend statement (q50) so the twins cannot desynchronize.
      fuzzyDeconOracleSql,
      scaleTwin = Some(fuzzyDeconScale)),

    Gate("d80_span_decontaminate", (s, d) => {
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
    },
      // x15's window/island/reassembly construction with the duplicate
      // marking swapped for eval-set membership (windows join the
      // extracted-passage suite's window STRINGS — fingerprinting must
      // be invisible) and NO first-occurrence survivor. Eval passages =
      // tokens 5..16 of every 53rd doc, the engine's extraction. ONE
      // oracle string bound to the batch join path AND the stateless
      // streaming path (the st05/x07 twin convention) — identical
      // semantics, different geometry.
      spanDeconOracleSql),

    Gate("d81_span_decon_provenance", (s, d) => {
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
    },
      // d80's window construction, provenance shape: per hit corpus doc,
      // distinct matched positions / distinct implicated eval docs / the
      // min implicated eval id — joined on raw window STRINGS.
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
         GROUP BY c.doc_id ORDER BY c.doc_id"""),

    Gate("d82_keyword_tagging", (s, d) =>
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
        .orderBy("doc_id"),
      // word-sequence matching as padded LIKE over the engine's exact
      // normalization (lowercase + whitespace-flatten, single spaces):
      // '% phrase %' against ' '||s||' ' is the string form of
      // shingle-set membership. ONE oracle string bound to the batch
      // projection AND its micro-batch deployment (the twin convention).
      keywordTagOracleSql)
  )
}

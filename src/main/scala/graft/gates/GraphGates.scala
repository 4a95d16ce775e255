package graft
package gates

import graft.operators._
import org.apache.spark.sql.functions._
import Fixtures._

/** Graph-curation gates (g01-g07): PageRank, HITS, triangles, label
  * propagation, k-core. */
object GraphGates {
  /** Shared g01/g02 oracle prefix: the deterministic host graph and
    * three PageRank iterations unrolled as CTE pairs (contrib sum,
    * then rank refresh) — exact integer arithmetic end to end, so the
    * comparison is equality, not tolerance. `//` (floor) == Spark
    * `div` (truncate) because every operand is non-negative. Defines
    * `r3(node, rank_micro)`. */
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

  val all: Seq[Gate] = Seq(
    Gate("g01_host_rank", (s, d) => {
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
    },
      s"""WITH $pageRankCtesSql
         SELECT node, rank_micro FROM r3 ORDER BY node"""),

    Gate("g02_rank_weighted_hosts", (s, d) => {
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
    },
      // Rank artifact joined back to the corpus host mapping — shares
      // the g01 CTE chain, then one bounded group per host.
      s"""WITH $pageRankCtesSql,
         m AS (SELECT doc_id, 'h' || CAST(doc_id % 37 AS VARCHAR) AS node
           FROM documents)
         SELECT m.node, count(*) AS n_docs,
           CAST(max(r.rank_micro) AS BIGINT) AS rank_micro,
           CAST(max(r.rank_micro) * count(*) AS BIGINT) AS weight_micro
         FROM m JOIN r3 r ON m.node = r.node
         GROUP BY m.node ORDER BY m.node"""),

    Gate("g03_hits", (s, d) => {
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
    },
      // Two unrolled max-normalized integer HITS iterations over g01's
      // host graph; `//` == Spark `div` on the non-negative scores.
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
         FROM a2 JOIN h2 USING (node) ORDER BY node"""),

    Gate("g04_triangles", (s, d) => {
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
    },
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
         GROUP BY node ORDER BY node"""),

    Gate("g05_cooccurrence", (s, d) => {
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
    },
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events
           WHERE user_id IS NOT NULL)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_users
         FROM ut a JOIN ut b ON a.user_id = b.user_id
           AND a.event_type < b.event_type
         GROUP BY 1, 2 ORDER BY type_a, type_b"""),

    Gate("g06_label_propagation", (s, d) => {
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
    },
      // the engine's 3 synchronous LPA rounds unrolled: each (v_i,
      // lab_i) block replays one round — weighted votes from iteration
      // i-1's labels, argmax by (votes DESC, lbl ASC) via row_number.
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
         SELECT node, lbl AS label FROM lab3 ORDER BY node"""),

    Gate("g07_kcore", (s, d) => {
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
    },
      // 7 unrolled peel rounds over the sparse (% 11 = 0) host graph
      // (6 dependent rounds + a fixpoint no-op): degree count ->
      // survivors -> edge restriction, then the final subgraph's degrees.
      //
      // g07's oracle: KCore.run unrolled — round i counts degrees over
      // the symmetric view of e(i-1), keeps nodes with >= k, restricts
      // edges to survivors; after `rounds` rounds the surviving
      // subgraph's degrees are the result. Same simple-graph
      // normalization (self-loops dropped, parallel edges collapsed
      // undirected).
      {
        val k = 2
        val rounds = 7
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
      })
  )
}

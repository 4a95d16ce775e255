package graft
package gates

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Fixtures._

/** As-of join (a01-a03), bucketed-join / partition-pruning / join-hint
  * (b01-b03) and heavy-hitter (Misra-Gries with an exact recount, h01)
  * gates. */
object JoinGates {
  val all: Seq[Gate] = Seq(
    Gate("a01_asof_click", (s, d) => {
      val e = ev(s, d).withColumn("us", expr("ts div 1000"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "us", "event_id")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("us").as("cus"), col("event_id").as("click_id"))
      AsOfJoin.backward(purchases, clicks, "user_id", "us", "cus", Seq("click_id"))
        .select(col("user_id"), col("event_id"), col("asof_click_id"))
        .orderBy("user_id", "event_id")
    },
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
         ORDER BY user_id, event_id"""),

    Gate("a02_asof_next_purchase", (s, d) => {
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
    },
      // a01's union-window mirror with the frame reversed: first
      // following purchase (ties by purchase_id — the struct compare on
      // the Spark side), then the 6h attribution cutoff on the matched
      // row's own timestamp.
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
         FROM w WHERE side = 0 ORDER BY user_id, event_id"""),

    Gate("a03_asof_stale_bound", (s, d) => {
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
    },
      // a01's union-window construction with the staleness guard on the
      // matched click's own timestamp (both last_values align: the id
      // and ts columns are null/non-null on exactly the same rows).
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
         FROM w WHERE side = 1 ORDER BY user_id, event_id"""),

    Gate("b01_bucketed_join", (s, d) => {
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
    },
      """SELECT o_orderkey,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
         FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         GROUP BY o_orderkey
         ORDER BY revenue DESC, o_orderkey LIMIT 20"""),

    Gate("b02_partition_pruning", (s, d) => {
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
    },
      // The pruned partitioned read must equal the plain filtered scan —
      // pruning is a physical optimization, never a semantic one.
      """SELECT source, count(*) AS n_docs FROM documents
         WHERE lang = 'fr' GROUP BY source ORDER BY source"""),

    Gate("b03_join_hints", (s, d) => {
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
    },
      // Same aggregate twice; hint_honored pinned TRUE — a planner
      // regression that ignores the hint fails the gate.
      """WITH a AS (SELECT o_orderpriority,
             round(sum(l_extendedprice), 2) AS revenue,
             count(*) AS n_lines
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY o_orderpriority)
         SELECT strategy, o_orderpriority, revenue, n_lines,
           TRUE AS hint_honored
         FROM a CROSS JOIN (VALUES ('merge'), ('shuffle_hash')) AS s(strategy)
         ORDER BY strategy, o_orderpriority"""),

    Gate("h01_heavy_hitters", (s, d) =>
      // k >= distinct values makes the sketch provably exact, so the
      // whole path — per-partition summaries, kryo partial merge,
      // broadcast semi-join, exact recount — gates against plain SQL;
      // the undercount/compaction bounds are property-tested in specs
      HeavyHitters.topKExact(ev(s, d), "event_type", 5)
        .orderBy(desc("n"), asc("event_type")),
      """SELECT event_type, count(*) AS n FROM events
         GROUP BY event_type ORDER BY n DESC, event_type LIMIT 5""")
  )
}

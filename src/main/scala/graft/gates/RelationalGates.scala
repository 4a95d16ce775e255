package graft
package gates

import graft.core.Tables
import graft.operators._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures._

/** Relational / SQL-frontend gates (q01-q50): TPC-H-style scans,
  * aggregates, joins, windows and rollups, plus the pure-SQL operator
  * frontends (q49 span trim, q50 fuzzy decon). */
object RelationalGates {
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)
  private def supp(s: SparkSession, d: String) = Tables.supplier(s, d)
  private def part(s: SparkSession, d: String) = Tables.part(s, d)
  private def nat(s: SparkSession, d: String) = Tables.nation(s, d)
  private def reg(s: SparkSession, d: String) = Tables.region(s, d)

  val all: Seq[Gate] = Seq(
    Gate("q01_pricing_summary", (s, d) =>
      li(s, d).groupBy("l_returnflag", "l_linestatus").agg(
          sum("l_quantity").as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty, count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    Gate("q02_filter_project", (s, d) =>
      li(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz")
          && col("l_discount") > 0.05 && col("l_quantity") < 10)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount > 0.05 AND l_quantity < 10
         ORDER BY l_orderkey, l_linenumber"""),

    Gate("q03_segment_revenue", (s, d) => {
      val c = cust(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = ord(s, d).filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
      val l = li(s, d).filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(desc("revenue"), asc("o_orderkey"))
        .limit(10)
    },
      """SELECT o_orderkey, o_orderdate,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate >= TIMESTAMP '1997-01-01'
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderkey LIMIT 10"""),

    Gate("q04_order_priority", (s, d) => {
      val returned = li(s, d).filter(col("l_returnflag") === "R").select("l_orderkey")
      val o = ord(s, d)
      o.join(returned, o("o_orderkey") === returned("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    Gate("q05_region_revenue", (s, d) => {
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
    },
      // Exact integer cents (per-row round, then BIGINT sum) — the double
      // round(sum,2) flipped a cent at the r13 10x step-up; see q38/q39.
      """SELECT n_name,
           sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) / 100.0 AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY n_name ORDER BY revenue DESC, n_name"""),

    Gate("q06_forecast_revenue", (s, d) =>
      li(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz")
          && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue")),
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),

    Gate("q07_nation_volume", (s, d) => {
      val l = li(s, d); val sp = supp(s, d); val n = nat(s, d)
      l.join(broadcast(sp), l("l_suppkey") === sp("s_suppkey"))
        .join(broadcast(n), sp("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"), year(col("l_shipdate")).as("l_year"))
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_lines"))
        .orderBy("n_name", "l_year")
    },
      """SELECT n_name, CAST(year(l_shipdate) AS INTEGER) AS l_year,
         sum(l_quantity) AS sum_qty, count(*) AS n_lines
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name, l_year ORDER BY n_name, l_year"""),

    Gate("q10_returned_revenue", (s, d) => {
      val l = li(s, d).filter(col("l_returnflag") === "R")
      val o = ord(s, d); val c = cust(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
    },
      """SELECT c_custkey, c_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE l_returnflag = 'R'
         GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT 20"""),

    Gate("q11_high_value_parts", (s, d) => {
      val l = li(s, d)
      val parts = l.groupBy("l_partkey")
        .agg(round(sum(col("l_extendedprice") * col("l_quantity")), 2).as("sum_value"))
      val thr = l.agg(round(sum(col("l_extendedprice") * col("l_quantity")) * 0.01, -3).as("t"))
      parts.crossJoin(broadcast(thr)).filter(col("sum_value") > col("t"))
        .select("l_partkey", "sum_value")
        .orderBy(desc("sum_value"), asc("l_partkey"))
    },
      """SELECT l_partkey, sum_value FROM (
           SELECT l_partkey, round(sum(l_extendedprice * l_quantity), 2) AS sum_value
           FROM lineitem GROUP BY l_partkey)
         WHERE sum_value > (SELECT round(sum(l_extendedprice * l_quantity) * 0.01, -3) FROM lineitem)
         ORDER BY sum_value DESC, l_partkey"""),

    Gate("q13_order_count_distribution", (s, d) => {
      val c = cust(s, d); val o = ord(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey").agg(count("o_orderkey").as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    },
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey)
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""),

    Gate("q14_promo_share", (s, d) => {
      val l = li(s, d).filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz")
        && col("l_shipdate") < lit("1997-07-01").cast("timestamp_ntz"))
      val p = part(s, d)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .agg(round(
          sum(when(col("p_type") === "PROMO", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .otherwise(lit(0.0))) * 100.0
            / sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("promo_share"))
    },
      """SELECT round(sum(CASE WHEN p_type = 'PROMO'
             THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) * 100.0
           / sum(l_extendedprice * (1.0 - l_discount)), 4) AS promo_share
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'"""),

    Gate("q17_small_quantity_revenue", (s, d) => {
      val l = li(s, d); val p = part(s, d)
      val avgq = l.groupBy(col("l_partkey").as("pk")).agg((avg("l_quantity") * 0.2).as("thr"))
      l.join(broadcast(p.filter(col("p_brand") === "Brand#1")), l("l_partkey") === p("p_partkey"))
        .join(avgq, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < col("thr"))
        .agg(round(sum("l_extendedprice") / 7.0, 2).as("avg_yearly"))
    },
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand = 'Brand#1'
           AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                             WHERE l2.l_partkey = lineitem.l_partkey)"""),

    Gate("q18_large_orders", (s, d) => {
      val bigOrders = li(s, d).groupBy("l_orderkey")
        .agg(sum("l_quantity").as("sum_qty"))
        .filter(col("sum_qty") > 150)
      val o = ord(s, d); val c = cust(s, d)
      o.join(bigOrders, o("o_orderkey") === bigOrders("l_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"), col("sum_qty"))
        .orderBy("o_orderkey")
    },
      """SELECT c_custkey, o_orderkey, o_totalprice, sum_qty
         FROM orders
         JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem
               GROUP BY l_orderkey HAVING sum(l_quantity) > 150) t ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey"""),

    Gate("q19_bracket_revenue", (s, d) => {
      val l = li(s, d); val p = part(s, d)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("l_quantity").between(1, 11) && col("p_size").between(1, 5))
            || (col("p_brand") === "Brand#13" && col("l_quantity").between(10, 20) && col("p_size").between(1, 10))
            || (col("p_brand") === "Brand#25" && col("l_quantity").between(20, 30) && col("p_size").between(1, 15)))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
    },
      """SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue, count(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
            OR (p_brand = 'Brand#13' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
            OR (p_brand = 'Brand#25' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)"""),

    Gate("q20_topk_orders", (s, d) =>
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(15),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 15"""),

    Gate("q21_price_buckets", (s, d) =>
      ord(s, d)
        .withColumn("bucket",
          when(col("o_totalprice") < 50000, "lt_50k")
            .when(col("o_totalprice") < 150000, "50k_150k")
            .otherwise("ge_150k"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("o_totalprice").as("min_price"),
          max("o_totalprice").as("max_price"))
        .orderBy("bucket"),
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'lt_50k'
                     WHEN o_totalprice < 150000 THEN '50k_150k'
                     ELSE 'ge_150k' END AS bucket,
         count(*) AS n, min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         FROM orders GROUP BY bucket ORDER BY bucket"""),

    Gate("q22_customers_without_orders", (s, d) => {
      val c = cust(s, d); val o = ord(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey"""),

    Gate("q23_supplier_semijoin", (s, d) => {
      val heavy = li(s, d).filter(col("l_quantity") >= 49).select("l_suppkey")
      val sp = supp(s, d)
      sp.join(heavy, sp("s_suppkey") === heavy("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name").orderBy("s_suppkey")
    },
      """SELECT s_suppkey, s_name FROM supplier
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
         ORDER BY s_suppkey"""),

    Gate("q24_union_distinct", (s, d) => {
      val o = ord(s, d)
      val a = o.filter(col("o_totalprice") > 300000).select("o_orderkey")
      val b = o.filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      a.union(b).distinct().orderBy("o_orderkey")
    },
      """SELECT DISTINCT o_orderkey FROM (
           SELECT o_orderkey FROM orders WHERE o_totalprice > 300000
           UNION ALL
           SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
         ORDER BY o_orderkey"""),

    Gate("q25_rollup_region", (s, d) => {
      cust(s, d).createOrReplaceTempView("customer")
      nat(s, d).createOrReplaceTempView("nation")
      reg(s, d).createOrReplaceTempView("region")
      s.sql("""SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
               FROM customer JOIN nation ON c_nationkey = n_nationkey
               JOIN region ON n_regionkey = r_regionkey
               GROUP BY ROLLUP (r_name, n_name)
               ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""")
    },
      """SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)
         ORDER BY r_name NULLS FIRST, n_name NULLS FIRST"""),

    Gate("q26_window_rank", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      ord(s, d).withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("rnk").cast("int").as("rnk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rnk")
    },
      """SELECT o_custkey, CAST(rnk AS INTEGER) AS rnk, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
           FROM orders)
         WHERE rnk <= 3 ORDER BY o_custkey, rnk"""),

    Gate("q27_intersect_custkeys", (s, d) => {
      val o = ord(s, d)
      o.filter(col("o_totalprice") > 200000).select("o_custkey")
        .intersect(o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"))
        .orderBy("o_custkey")
    },
      """SELECT o_custkey FROM orders WHERE o_totalprice > 200000
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         ORDER BY o_custkey"""),

    Gate("q28_except_custkeys", (s, d) => {
      val o = ord(s, d)
      o.filter(col("o_totalprice") > 200000).select("o_custkey")
        .except(o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"))
        .orderBy("o_custkey")
    },
      """SELECT o_custkey FROM orders WHERE o_totalprice > 200000
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         ORDER BY o_custkey"""),

    Gate("q29_grouping_sets", (s, d) => {
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
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),

    Gate("q30_percentiles", (s, d) => {
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
    },
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
         ORDER BY l_returnflag"""),

    Gate("q31_rank_stats", (s, d) => {
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
    },
      """SELECT o_orderkey, o_orderpriority,
              round(percent_rank() OVER w, 6) AS pr,
              CAST(ntile(4) OVER w AS INTEGER) AS quartile,
              round(cume_dist() OVER w, 6) AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey"""),

    Gate("q32_pivot_status_priority", (s, d) =>
      ord(s, d).groupBy("o_orderstatus")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("o_orderstatus"),
          col("`1-URGENT`").as("urgent"), col("`2-HIGH`").as("high"),
          col("`3-MEDIUM`").as("medium"), col("`4-NOT SPECIFIED`").as("notspec"),
          col("`5-LOW`").as("low"))
        .orderBy("o_orderstatus"),
      """SELECT o_orderstatus,
              CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
              CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
              CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium,
              CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS notspec,
              CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    Gate("q33_salted_skew_join", (s, d) => {
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
    },
      // the plain join the salted path must reproduce exactly
      """WITH dim AS (SELECT DISTINCT l_returnflag,
             CAST(ascii(l_returnflag) AS DOUBLE) AS weight FROM lineitem)
         SELECT l.l_returnflag,
           round(sum(l.l_quantity * d.weight), 2) AS weighted_qty,
           count(*) AS n
         FROM lineitem l JOIN dim d USING (l_returnflag)
         GROUP BY l.l_returnflag ORDER BY l.l_returnflag"""),

    Gate("q34_banded_range_join", (s, d) => {
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
    },
      // Join-chain formulation of the same strict ordering: users
      // without the previous stage drop out of the next CTE, exactly as
      // the ts > NULL window predicate nulls them out on the Spark side.
      // The oracle states the range join directly — banding is an
      // execution detail that must be invisible in the pair set.
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events
           WHERE user_id IS NOT NULL)
         SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(p.t - c.t) AS BIGINT) AS sum_gap_us
         FROM (SELECT user_id, t FROM e WHERE event_type = 'purchase') p
         JOIN (SELECT user_id, t FROM e WHERE event_type = 'click') c
           ON p.user_id = c.user_id
           AND c.t < p.t AND p.t - c.t <= 1800000000"""),

    Gate("q36_cube", (s, d) => {
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
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders
         GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),

    Gate("q37_unpivot", (s, d) =>
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
        .orderBy("o_orderstatus", "o_orderpriority"),
      // The melted frame is DENSE (fill(0) cells melt too): the dense
      // status x priority grid with observed counts, 0 where absent.
      """WITH s AS (SELECT DISTINCT o_orderstatus FROM orders),
         p AS (SELECT unnest(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']) AS o_orderpriority),
         c AS (SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
           FROM orders GROUP BY o_orderstatus, o_orderpriority)
         SELECT s.o_orderstatus, p.o_orderpriority,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n
         FROM s CROSS JOIN p
         LEFT JOIN c ON s.o_orderstatus = c.o_orderstatus
           AND p.o_orderpriority = c.o_orderpriority
         ORDER BY s.o_orderstatus, p.o_orderpriority"""),

    Gate("q38_market_share", (s, d) => {
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
    },
      // Exact integer cents (per-row round, then BIGINT sum) — the double
      // round(sum,2) flipped a cent at the 10x step-up; see q39.
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
         FROM a ORDER BY o_year"""),

    Gate("q39_product_profit", (s, d) => {
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
    },
      // Exact integer cents (per-row round, then BIGINT sum) — see the
      // Spark-side note on the cancellation-boundary hazard.
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
             - CAST(round(p_retailprice * l_quantity * 100) AS BIGINT)) AS BIGINT) AS profit_cents
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%a%'
         GROUP BY n_name, year(o_orderdate)
         ORDER BY n_name ASC, year(o_orderdate) DESC"""),

    Gate("q40_late_shipments", (s, d) => {
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
    },
      """SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60 THEN 'late'
             WHEN date_diff('day', o_orderdate, l_shipdate) > 30 THEN 'slow'
             ELSE 'prompt' END AS ship_bucket,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY ship_bucket ORDER BY ship_bucket"""),

    Gate("q41_top_supplier", (s, d) => {
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
    },
      """WITH rev AS (SELECT l_suppkey,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_rev
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1998-01-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_rev
         FROM supplier JOIN rev ON s_suppkey = l_suppkey
         WHERE total_rev = (SELECT max(total_rev) FROM rev)
         ORDER BY s_suppkey"""),

    Gate("q42_part_supplier_counts", (s, d) => {
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
    },
      """SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_size IN (1, 4, 9, 16, 25, 36, 49)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type
         ORDER BY supplier_cnt DESC, p_brand, p_type"""),

    Gate("q43_order_ship_reconcile", (s, d) => {
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
    },
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders
           FROM orders GROUP BY 1),
         l AS (SELECT CAST(l_shipdate AS DATE) AS day, count(*) AS n_ships
           FROM lineitem GROUP BY 1)
         SELECT COALESCE(o.day, l.day) AS day,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(l.n_ships, 0) AS n_ships
         FROM o FULL OUTER JOIN l ON o.day = l.day
         ORDER BY day"""),

    Gate("q44_idle_customers", (s, d) => {
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
    },
      """SELECT c_mktsegment, count(*) AS n_cust,
           round(sum(c_acctbal), 2) AS total_bal
         FROM customer
         WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
           AND c_custkey NOT IN (SELECT o_custkey FROM orders)
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    Gate("q45_min_cost_supplier", (s, d) => {
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
    },
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
         ORDER BY p_partkey, s_name"""),

    Gate("q46_waiting_orders", (s, d) => {
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
    },
      // Independent formulation: the textbook Q21 EXISTS / NOT-EXISTS
      // pair — the Spark side carries the same predicate as one
      // per-order (n_supp, n_late_supp) aggregate.
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
         GROUP BY s_name ORDER BY numwait DESC, s_name"""),

    Gate("q47_excess_share", (s, d) => {
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
    },
      """WITH ps AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
           FROM lineitem GROUP BY 1, 2),
         tot AS (SELECT l_partkey, sum(qty) AS tot_qty FROM ps GROUP BY 1)
         SELECT l_partkey, s_name, qty, tot_qty
         FROM ps JOIN tot USING (l_partkey)
         JOIN supplier ON l_suppkey = s_suppkey
         WHERE qty * 5 > tot_qty ORDER BY l_partkey, s_name"""),

    Gate("q48_sql_frontend", (s, d) => {
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
    },
      // graft_nfkc is identity on the ASCII corpus (d69 gates its
      // semantics), so the distinct fingerprint replays as md5(text).
      """SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN substr(md5(text), 1, 2) < '40'
             THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           count(DISTINCT md5(text)) AS n_distinct
         FROM documents GROUP BY source ORDER BY source"""),

    Gate("q49_not_in_nulls", (s, d) => {
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
    },
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
         ORDER BY variant"""),

    Gate("q49_sql_span_trim", (s, d) => {
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
    },
      // the SQL-frontend twin states the identical pipeline in Spark
      // SQL over graft_span_fingerprints — one oracle serves both (the
      // x07/st05 shared-string convention)
      spanTrimOracleSql),

    Gate("q50_sql_fuzzy_decon", (s, d) => {
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
    },
      fuzzyDeconOracleSql,
      scaleTwin = Some(fuzzyDeconScale))
  )
}

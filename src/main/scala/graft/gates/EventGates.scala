package graft
package gates

import graft.operators._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures._

/** Event-analytics gates (ev01-ev25): rollups, funnels, sketches
  * (HLL, quantiles, heavy hitters), sessionization, retention, z-order. */
object EventGates {
  val all: Seq[Gate] = Seq(
    Gate("ev01_hourly_rollup", (s, d) =>
      ev(s, d)
        .withColumn("hr", date_trunc("hour", timestamp_micros(expr("ts div 1000"))).cast("timestamp_ntz"))
        .groupBy("hr", "event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .orderBy("hr", "event_type"),
      """SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n,
         round(sum(value), 4) AS sum_value
         FROM events GROUP BY hr, event_type ORDER BY hr, event_type"""),

    Gate("ev02_sessionize", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      ev(s, d)
        .withColumn("us", expr("ts div 1000"))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_us").isNull
            || col("us") - col("prev_us") > 1800000000L, 1).otherwise(0))
        .groupBy("user_id").agg(sum("new_session").cast("long").as("n_sessions"))
        .orderBy("user_id")
    },
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions FROM (
           SELECT user_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         GROUP BY user_id ORDER BY user_id"""),

    Gate("ev03_json_extract", (s, d) =>
      ev(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").cast("long").as("sum_k"))
        .orderBy("event_type"),
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k
         FROM events GROUP BY event_type ORDER BY event_type"""),

    Gate("ev04_running_sum", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, d).select(col("user_id"), col("event_id"),
          round(sum("value").over(w), 4).as("running_value"))
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id, round(sum(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
         FROM events ORDER BY user_id, event_id"""),

    Gate("ev05_gaps", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      ev(s, d)
        .withColumn("us", expr("ts div 1000"))
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
        .filter(col("gap_us").isNotNull)
        .select("user_id", "event_id", "gap_us")
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id, gap_us FROM (
           SELECT user_id, event_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
           FROM events)
         WHERE gap_us IS NOT NULL ORDER BY user_id, event_id"""),

    Gate("ev06_distinct_users", (s, d) =>
      ev(s, d).groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type"),
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type"""),

    Gate("ev07_session_windows", (s, d) =>
      ev(s, d)
        .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
        .groupBy(col("user_id"), session_window(col("tsm"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("sw.start").cast("timestamp_ntz").as("session_start"), col("n"))
        .orderBy("user_id", "session_start"),
      // st13 is the same 30-minute sessionization under Structured
      // Streaming (append mode + flush sentinel) — one oracle string
      // gates both (the d27/st06 convention; the fixture has no null
      // user_ids, so st13's defensive null filter is a no-op).
      sessionWindowsOracleSql),

    Gate("ev08_range_window", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("us"))
        .rangeBetween(-3600000000L, 0L)
      ev(s, d).withColumn("us", expr("ts div 1000"))
        .select(col("user_id"), col("event_id"),
          round(sum("value").over(w), 4).as("hour_sum"))
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id, round(sum(value) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4) AS hour_sum
         FROM events ORDER BY user_id, event_id"""),

    Gate("ev09_funnel", (s, d) => {
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
    },
      funnelOracleSql),

    Gate("ev10_approx_users", (s, d) =>
      // sketch-based distinct counts next to the exact ones: at 100 TB
      // approx_count_distinct (HLL++, rsd 2%) is the one-pass answer —
      // register-max merges are order- and partition-invariant, so the
      // estimate is deterministic and PINNABLE (d20 convention; DuckDB's
      // own approx sketch differs by construction).
      ev(s, d).where(col("user_id").isNotNull)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .orderBy("event_type"),
      // Pinned at sf0.01 (d20 convention): the exact side is plain SQL,
      // but the approx side is Spark's HLL++ estimate — deterministic
      // (register-max merges) yet not replayable by DuckDB's sketch.
      // 150 users hit every event type at this SF and the 2%-rsd sketch
      // is exact at that cardinality.
      """SELECT event_type, CAST(exact_users AS BIGINT) AS exact_users,
           CAST(approx_users AS BIGINT) AS approx_users FROM (VALUES
           ('click', 150, 150), ('error', 150, 150), ('purchase', 150, 150),
           ('signup', 150, 150), ('view', 150, 150)
         ) AS t(event_type, exact_users, approx_users)
         ORDER BY event_type"""),

    Gate("ev11_zorder_layout", (s, d) => {
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
    },
      // ev11 oracle: the 8+8-bit Morton interleave spelled out as the
      // same sum-of-terms integer arithmetic the Spark expression tree
      // folds — GENERATED from one loop so the two sides cannot drift.
      {
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
      }),

    Gate("ev12_skew_report", (s, d) => {
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
    },
      """WITH k AS (SELECT event_type, count(*) AS n FROM events
           GROUP BY event_type),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_keys FROM k)
         SELECT event_type, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE) / total, 6) AS share,
           round(CAST(n AS DOUBLE) * n_keys / total, 6) AS skew_factor,
           CAST(ceil(CAST(n AS DOUBLE) * n_keys / total) AS BIGINT)
             AS salt_buckets
         FROM k, t ORDER BY event_type"""),

    Gate("ev13_retention_cohorts", (s, d) => {
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
    },
      // Integer day arithmetic end-to-end: first-event day per user,
      // day offsets, distinct actives per (cohort, offset) cell.
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events
           WHERE user_id IS NOT NULL),
         f AS (SELECT user_id, min(us) AS fus FROM e GROUP BY user_id)
         SELECT fus // 86400000000 AS cohort_day,
           (us // 86400000000) - (fus // 86400000000) AS day_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
         FROM e JOIN f USING (user_id)
         GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset"""),

    Gate("ev14_decay_score", (s, d) => {
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
    },
      """WITH e AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
         a AS (SELECT max(us) AS max_us FROM e)
         SELECT event_type,
           round(sum(value * exp(-((max_us - us) // 86400000000) / 30.0)), 2)
             AS decayed_value,
           count(*) AS n
         FROM e CROSS JOIN a GROUP BY event_type ORDER BY event_type"""),

    Gate("ev15_daily_anomaly", (s, d) => {
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
    },
      dailyAnomalyOracle),

    Gate("ev16_sketch_merge", (s, d) => {
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
    },
      // Exact distincts recomputed; HLL estimates pinned (deterministic:
      // max-based registers make build+merge order/partition-invariant).
      """WITH x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
           FROM events WHERE user_id IS NOT NULL GROUP BY event_type),
         g AS (SELECT '__ALL__' AS event_type, count(DISTINCT user_id) AS n_exact
           FROM events WHERE user_id IS NOT NULL),
         u AS (SELECT * FROM x UNION ALL SELECT * FROM g),
         est(event_type, n_est) AS (VALUES ('__ALL__', 150), ('click', 150), ('error', 150), ('purchase', 150), ('signup', 150), ('view', 150))
         SELECT u.event_type, CAST(u.n_exact AS BIGINT) AS n_exact,
           CAST(est.n_est AS BIGINT) AS n_est
         FROM u JOIN est ON u.event_type = est.event_type
         ORDER BY u.event_type"""),

    Gate("ev18_scd2_intervals", (s, d) => {
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
    },
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
         FROM iv ORDER BY user_id, run_id"""),

    Gate("ev19_window_dedup", (s, d) => {
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
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
           FROM events WHERE user_id IS NOT NULL),
         l AS (SELECT event_type, us, lag(us) OVER (PARTITION BY user_id, event_type
             ORDER BY us, event_id) AS prev_us FROM e)
         SELECT event_type, count(*) AS n_events,
           CAST(sum(CASE WHEN prev_us IS NOT NULL AND us - prev_us <= 3600000000
             THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
         FROM l GROUP BY event_type ORDER BY event_type"""),

    Gate("ev20_transition_paths", (s, d) => {
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
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
           FROM events WHERE user_id IS NOT NULL),
         l AS (SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id
             ORDER BY us, event_id), '__START__') AS from_type,
             event_type AS to_type FROM e)
         SELECT from_type, to_type, count(*) AS n_transitions
         FROM l GROUP BY 1, 2 ORDER BY from_type, to_type"""),

    Gate("ev21_resample_ffill", (s, d) => {
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
    },
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
         FROM j ORDER BY user_id, hour"""),

    Gate("ev22_quantile_sketch", (s, d) => {
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
      val exact = Ranking.exactQuantiles(e, Seq("event_type"), "value",
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
    },
      // Exact type-1 quantiles recomputed; the sketch-error bounds are
      // pinned TRUE — a sketch regression (rank drift past n/accuracy)
      // fails the gate even though the sketch value itself is not
      // replayable.
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
         ORDER BY event_type"""),

    Gate("ev23_burst_detection", (s, d) => {
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
    },
      """WITH pm AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
             count(*) AS n
           FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_active_hours, max(n) AS max_per_hour,
           CAST(sum(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_burst_hours,
           sum(CASE WHEN n >= 3 THEN 1 ELSE 0 END) > 0 AS is_bursty
         FROM pm GROUP BY user_id ORDER BY user_id"""),

    Gate("ev24_funnel_timing", (s, d) => {
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
      Ranking.exactQuantiles(durs, Seq("stage"), "dur_us",
          Seq(0.5 -> "p50_us", 0.9 -> "p90_us"))
        .join(durs.groupBy("stage").agg(count(lit(1)).as("n_converted")), "stage")
        .select("stage", "n_converted", "p50_us", "p90_us")
        .orderBy("stage")
    },
      // ev09's v/c/p conversion CTEs with the duration tail: exact
      // type-1 p50/p90 per transition (q30's rank construction).
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
         ORDER BY stage"""),

    Gate("ev25_active_users", (s, d) => {
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
    },
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events WHERE user_id IS NOT NULL),
         days AS (SELECT DISTINCT day FROM ud),
         dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day),
         w AS (SELECT d.day, count(DISTINCT u.user_id) AS wau FROM days d
           JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day GROUP BY d.day),
         m AS (SELECT d.day, count(DISTINCT u.user_id) AS mau FROM days d
           JOIN ud u ON u.day BETWEEN d.day - 29 AND d.day GROUP BY d.day)
         SELECT day, dau, wau, mau
         FROM dau JOIN w USING (day) JOIN m USING (day) ORDER BY day"""),

    Gate("ev26_markov_eval", (s, d) => {
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
    },
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
         GROUP BY t2.from_type ORDER BY from_type""")
  )
}

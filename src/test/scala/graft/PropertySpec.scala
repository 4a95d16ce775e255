package graft

import graft.functions.{HashFunctions, TextFunctions}
import graft.operators.Packer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY §5 test plan), sampled from
  * ScalaCheck generators with fixed seeds (scalatest-plus bridge is not
  * in the offline cache, so sampling is driven manually):
  *  - packer conservation: Σ(len+EOS) == chunks·seqLen + dropped tail
  *  - offsets/seq_lens consistency per chunk
  *  - MinHash estimate within ε of true shingle Jaccard
  *  - rolling hash == Horner fold reference
  */
class PropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int, seed: Long = 42L): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  test("packer conservation and run-length metadata invariants") {
    val docsGen = Gen.listOfN(30,
      Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, Gen.chooseNum(1, 100))))
    val cases = samples(docsGen.flatMap(d => Gen.chooseNum(4, 64).map(d -> _)), 25)
    assert(cases.nonEmpty)
    cases.foreach { case (docs, seqLen) =>
      val arrays = docs.map(_.toArray)
      val chunks = Packer.packStream(arrays.iterator, seqLen, eosId = 0, padTail = false).toSeq
      // empty docs are skipped stream-wide (reference run.py:153-154)
      val totalTokens = arrays.filter(_.nonEmpty)
        .map(a => a.length + (if (a.last != 0) 1 else 0)).sum
      assert(chunks.size == totalTokens / seqLen, s"seqLen=$seqLen")
      chunks.foreach { case (ids, sid, lens, offs) =>
        assert(ids.length == seqLen && sid.length == seqLen)
        assert(lens.sum == seqLen)                               // runs cover the chunk
        assert(offs.toSeq == lens.toSeq.scanLeft(0)(_ + _).init) // offsets = prefix sums
        assert(sid.toSeq == sid.toSeq.sorted)                    // local ids monotonic
      }
    }
  }

  test("minhash estimate tracks true char-shingle jaccard on random words") {
    import spark.implicits._
    val word = Gen.chooseNum(1, 400).map(i => s"w$i")
    val textGen = Gen.chooseNum(10, 60).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val pairs = samples(textGen.flatMap(a => textGen.map(a -> _)), 8)
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      val df = Seq(a, b).toDF("t")
        .select(HashFunctions.minhash(TextFunctions.normalizeForDedup(col("t"))).as("sig"))
      val Array(sa, sb) = df.collect().map(_.getSeq[Long](0).toArray)
      val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / sa.length
      def shingles(t: String): Set[Seq[Byte]] = {
        val bytes = t.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" ").getBytes("UTF-8")
        if (bytes.length < 5) Set(bytes.toSeq)
        else (0 to bytes.length - 5).map(i => bytes.slice(i, i + 5).toSeq).toSet
      }
      val (xa, xb) = (shingles(a), shingles(b))
      val trueJ = if (xa.isEmpty && xb.isEmpty) 1.0
        else xa.intersect(xb).size.toDouble / xa.union(xb).size
      assert(math.abs(est - trueJ) < 0.2, s"est=$est true=$trueJ")
    }
  }

  test("cosineSim expression is bit-identical to the HOF aggregate chain") {
    import spark.implicits._
    val vecGen = Gen.listOfN(64, Gen.chooseNum(-100, 100).map(_ / 7.0f))
    val pairs = samples(vecGen.flatMap(a => vecGen.map(a -> _)), 20) :+
      (List.fill(64)(0.0f) -> List.fill(64)(1.0f)) // zero-norm guard
    val df = pairs.toDF("a", "b")
    val hof = org.apache.spark.sql.functions.aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    def nrm(c: org.apache.spark.sql.Column) = sqrt(org.apache.spark.sql.functions.aggregate(
      zip_with(c, c, (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, x) => acc + x))
    val n = nrm(col("a")) * nrm(col("b"))
    val want = when(n === 0.0, lit(0.0)).otherwise(hof / n)
    df.select(HashFunctions.cosineSim(col("a"), col("b")).as("got"), want.as("want"))
      .collect().foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
      }
  }

  test("charEntropy matches naive code-point frequency entropy") {
    import spark.implicits._
    val strGen = Gen.chooseNum(0, 80).flatMap(n => Gen.listOfN(n, Gen.frequency(
      6 -> Gen.alphaNumChar, 1 -> Gen.const(' '),
      1 -> Gen.oneOf('一', 'é'))).map(_.mkString))
    val rows = samples(strGen, 40) :+ "🙂🙂ab" // surrogate pairs
    rows.filter(_.nonEmpty).toDF("t")
      .select(col("t"), HashFunctions.charEntropy(col("t")).as("h"))
      .collect().foreach { r =>
        val cps = r.getString(0).codePoints().toArray
        val n = cps.length.toDouble
        val want = -cps.groupBy(identity).values.map(_.length / n)
          .map(p => p * math.log(p)).sum
        assert(math.abs(r.getDouble(1) - want) < 1e-12, r.toString)
      }
  }

  test("rolling hash equals reference Horner fold for ascii strings") {
    import spark.implicits._
    val strs = samples(Gen.asciiPrintableStr, 30).filter(_.nonEmpty)
    assert(strs.nonEmpty)
    val df = strs.toDF("t").select(col("t"), HashFunctions.rollingHash64(col("t")))
    df.collect().foreach { r =>
      val want = r.getString(0).getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + (b & 0xffL))
      assert(r.getLong(1) == want)
    }
  }

  test("charShingleHashes distinct counts equal string shingles on random unicode") {
    import spark.implicits._
    val charGen = Gen.frequency(
      7 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('\u4e00', '\u4e2d', '\u6587', '\u6d4b', '\u8bd5'),
      1 -> Gen.const(' '))
    val strGen = Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    val rows = samples(strGen, 60) :+ "\ud83d\ude42ab\ud83d\ude43cd\ud83d\ude42" // surrogate pairs
    for (n <- Seq(2, 5)) {
      val got = rows.toDF("t").select(
          size(HashFunctions.charShingleHashes(col("t"), n)).as("nh"),
          size(array_distinct(TextFunctions.charShingles(col("t"), n))).as("ns"))
        .collect()
      got.foreach(r => assert(r.getInt(0) == r.getInt(1), s"n=$n ${r.toString}"))
    }
  }

  test("packExact degenerate seqLen=1 still matches the single stream") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, Array.fill((i % 3).toInt)(i.toInt)))
    val got = Packer.packExact(docs.toDF("id", "ids"), "id", "ids", seqLen = 1,
        eosId = 0, numPartitions = 4)
      .orderBy("part_id", "chunk_in_part").collect()
    val want = Packer.packStream(docs.map(_._2).iterator, 1, 0, padTail = false).toSeq
    assert(got.length == want.length)
    got.zip(want).foreach { case (row, (ids, _, _, _)) =>
      assert(row.getSeq[Int](2) == ids.toSeq)
    }
  }

  test("hashed word shingles preserve the multiplicity profile of string shingles") {
    import spark.implicits._
    // the d24/d23/d28 hash-faithfulness contract: distinct counts and
    // the sorted multiset of per-gram multiplicities must match the
    // string-shingle ground truth (collisions would break equality)
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "longerword", "x")
    val textGen = Gen.chooseNum(0, 25).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val texts = samples(textGen, 40).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("id", "text")
    for (n <- Seq(2, 3, 5)) {
      val rows = df.select(
          TextFunctions.wordShingles(col("text"), n).as("s"),
          TextFunctions.wordShingleHashes(col("text"), n).as("h"))
        .collect()
      rows.foreach { r =>
        val s = r.getSeq[String](0); val h = r.getSeq[Long](1)
        assert(s.length == h.length, s"n=$n")
        val sProfile = s.groupBy(identity).values.map(_.size).toSeq.sorted
        val hProfile = h.groupBy(identity).values.map(_.size).toSeq.sorted
        assert(sProfile == hProfile, s"n=$n multiplicity profile diverged")
      }
    }
  }

  test("spanTrim matches a brute-force reference on random collision-heavy corpora") {
    import spark.implicits._
    // tiny vocab forces heavy window sharing: overlaps, within-doc
    // repeats, docs trimmed to empty, sub-window docs — all regimes
    val word = Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")
    val docGen = Gen.chooseNum(0, 24).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpusGen = Gen.chooseNum(4, 10).flatMap(n => Gen.listOfN(n, docGen))
    val cases = samples(corpusGen.flatMap(c => Gen.chooseNum(2, 5).map(c -> _)), 12)
    assert(cases.nonEmpty)
    cases.foreach { case (texts, w) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // independent reference: window TEXT as the fingerprint, global
      // min-(doc,pos) canonical, covered-position set per doc
      val toks = docs.map { case (id, t) =>
        id -> t.trim.replaceAll("\\s+", " ").split(" ", -1).toVector }
      val occ = for {
        (id, tk) <- toks if tk.length >= w
        i <- 0 to tk.length - w
      } yield (tk.slice(i, i + w).mkString(" "), id, i)
      val cover = scala.collection.mutable.Map[Long, Set[Int]]().withDefaultValue(Set.empty)
      occ.groupBy(_._1).valuesIterator.filter(_.size >= 2).foreach { os =>
        val (_, cd, cp) = os.minBy(o => (o._2, o._3))
        os.foreach { case (_, id, p) =>
          if ((id, p) != ((cd, cp))) cover(id) = cover(id) ++ (p until p + w)
        }
      }
      val expect = toks.map { case (id, tk) =>
        val cov = cover(id)
        (id, tk.length.toLong, cov.size.toLong,
          tk.zipWithIndex.collect { case (t, i) if !cov.contains(i) => t }.mkString(" "))
      }.sortBy(_._1)
      val got = graft.operators.Dedup
        .spanTrim(docs.toDF("doc_id", "text").repartition(5), "doc_id", "text", w)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      assert(got == expect, s"w=$w corpus=$texts")
    }
  }

  test("passageTrim output is partition-invariant") {
    import spark.implicits._
    // random docs over a tiny vocabulary so cross-doc block collisions
    // are common; the surviving text must not depend on layout
    val docGen = Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d"))
      .map(_.mkString(" "))
    val docs = samples(docGen, 40).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    def run(parts: Int) = graft.operators.Dedup.passageTrim(
        docs.toDF("doc_id", "text").repartition(parts), "doc_id", "text",
        window = 3)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    val one = run(1)
    assert(one == run(7) && one == run(32))
    // and the global rule really fired: some doc lost a block
    assert(one.exists(r => r._4 < r._3))
  }

  test("dsirResample weights and selection are partition-invariant") {
    import spark.implicits._
    val docGen = Gen.listOfN(8, Gen.oneOf("x", "y", "z", "w", "v")).map(_.mkString(" "))
    val docs = samples(docGen, 30).zipWithIndex
      .map { case (t, i) => (i.toLong, t, i % 5 == 0) }
    def run(parts: Int) = graft.operators.TextAnalysis.dsirResample(
        docs.toDF("doc_id", "text", "t").repartition(parts), "text", col("t"),
        vocabSize = 6, nSelect = 10)
      .orderBy("doc_id")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    val one = run(1)
    assert(one == run(5) && one == run(32))
    assert(one.count(_._4) == 10)
  }

  test("Ranking row numbers with more partitions than rows") {
    import spark.implicits._
    val df = Seq((1L, "a", 2.0), (2L, "a", 1.0), (3L, "b", 5.0)).toDF("id", "g", "v")
    val got = graft.operators.Ranking.withRowNumber(df, Seq("g"),
        Seq(col("v"), col("id")), "rn", numPartitions = 16)
      .select("id", "rn").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  // ---- round-8 family: brute-force references on random inputs ----

  private def charGrams(text: String): Set[String] = {
    val s = text.trim.replaceAll("\\s+", " ").toLowerCase
    if (s.length < 5) Set(s) else s.sliding(5).toSet
  }

  test("fuzzyOverlapReport equals the brute-force corpus x eval Jaccard graph") {
    import spark.implicits._
    // small shared vocabulary -> plenty of true near-dups AND band noise
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "omega", "zeta")
    val textGen = Gen.chooseNum(8, 24).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val corpora = samples(Gen.listOfN(24, textGen), 4)
    corpora.zipWithIndex.foreach { case (texts, ci) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = docs.toDF("doc_id", "text")
      val evalDocs = df.filter(col("doc_id") % 5 === 1)
      val got = graft.operators.Decontamination.fuzzyOverlapReport(
          df, evalDocs, "doc_id", "text", threshold = 0.8)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      val evalSets = docs.filter(_._1 % 5 == 1).map { case (_, t) => charGrams(t) }
      val want = docs.map { case (id, t) =>
        val g = charGrams(t)
        val js = evalSets.map(e =>
            g.intersect(e).size.toDouble / g.union(e).size)
          .filter(_ >= 0.8)
        val mj = if (js.isEmpty) 0.0
          else BigDecimal(js.max).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, js.size.toLong, mj, js.nonEmpty)
      }
      assert(got.toSeq === want, s"corpus sample $ci")
    }
  }

  test("canonicalByScore equals the union-find + argmax reference") {
    import spark.implicits._
    import graft.operators.{ConnectedComponents, Dedup}
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L)))
    val scores = (0L until 20L).map(i => i -> ((i * 37) % 11)).toMap
    val lens = (0L until 20L).map(i => i -> ((i * 7) % 3).toLong).toMap // many ties
    def sid(i: Long) = s"d$i" // "d10" < "d2": the string order, not the numeric one
    val byId = (0L until 20L).map(i => (i, "x" * scores(i).toInt)).toDF("doc_id", "text")
    val bySid = (0L until 20L).map(i => (sid(i), lens(i))).toDF("doc_id", "length")
    // x16's score pick, the pipeline's clustering pick, the min-id default
    val byScore = Some(struct(octet_length(col("text")).cast("long"), -col("doc_id")))
    samples(edgeGen, 6).zipWithIndex.foreach { case (raw, ci) =>
      val edges = raw.filter { case (a, b) => a != b }.distinct
      if (edges.nonEmpty) {
        // reference: union-find, then one crown per component
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          parent.getOrElseUpdate(x, x)
          if (parent(x) == x) x
          else { parent(x) = find(parent(x)); parent(x) }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
        val comps = parent.keys.toSeq.groupBy(find).values
        def want[T](crown: Seq[Long] => Long, id: Long => T): Set[(Any, Any)] =
          comps.flatMap { members =>
            val c = crown(members)
            members.filter(_ != c).map(m => (id(m), id(c)))
          }.toSet
        val wantScore = want(_.minBy(m => (-scores(m), m)), identity)
        val wantLength = want(_.maxBy(m => (lens(m), sid(m))), sid)
        val wantMinId = want(_.min, identity)
        // the cleaned edge count folds on the driver, one below it runs
        // the distributed loop
        Seq(edges.size.toLong, edges.size - 1L).foreach { bound =>
          val longComp = ConnectedComponents.run(edges.toDF("src", "dst"),
            smallGraphEdges = bound).localCheckpoint()
          val strComp = ConnectedComponents.runOnStrings(
            edges.map { case (a, b) => (sid(a), sid(b)) }.toDF("src", "dst"),
            smallGraphEdges = bound).localCheckpoint()
          def got(df: DataFrame, rank: Option[Column], comp: DataFrame) = {
            val rows = Dedup.pickLosers(df, "doc_id", rank, comp).collect()
              .map(r => (r.get(0), r.get(1)))
            assert(rows.length == rows.toSet.size, s"graph sample $ci: a loser twice")
            rows.toSet
          }
          assert(got(byId, byScore, longComp) === wantScore, s"graph sample $ci score, bound $bound")
          assert(got(bySid, Some(col("length")), strComp) === wantLength,
            s"graph sample $ci length, bound $bound")
          assert(got(byId, None, longComp) === wantMinId, s"graph sample $ci min id, bound $bound")
        }
      }
    }
  }

  test("kCore at a fixpoint-covering round budget equals the naive peel") {
    import spark.implicits._
    val edgeGen = Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(0L, 17L), Gen.chooseNum(0L, 17L)))
    val cases = samples(Gen.zip(edgeGen, Gen.chooseNum(2, 4)), 6)
    cases.zipWithIndex.foreach { case ((raw, k), ci) =>
      val got = graft.operators.KCore.run(raw.toDF("src", "dst"),
          k = k, rounds = 20)
        .collect().map(r => (r.getAs[Long]("node"), r.getLong(1))).toSet
      // reference: loop removal of < k degree nodes to fixpoint on the
      // simple undirected graph
      var es = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.toSet
      var changed = true
      while (changed) {
        val deg = es.toSeq.flatMap { case (a, b) => Seq(a, b) }
          .groupBy(identity).map { case (n, xs) => n -> xs.size }
        val alive = deg.filter(_._2 >= k).keySet
        val nes = es.filter { case (a, b) => alive(a) && alive(b) }
        changed = nes != es
        es = nes
      }
      val deg = es.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
      assert(got === deg.toSet, s"graph sample $ci k=$k")
    }
  }

  // texts for the shared pair stages: a tiny vocabulary (plenty of true
  // near-dups), plus empty text, NULL text and texts shorter than the
  // 5-gram, which every verified family must survive
  private val pairText: Gen[Option[String]] = Gen.frequency(
    6 -> Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf("ab", "cd", "ef")))
      .map(ws => Some(ws.mkString(" "))),
    1 -> Gen.const(Some("")),
    1 -> Gen.const(None),
    1 -> Gen.oneOf("x", "ab", "c d").map(Some(_)))

  test("exactJaccardPairs equals brute-force set Jaccard, self-join and batch vs corpus") {
    import spark.implicits._
    import graft.operators.Dedup
    val cases = samples(Gen.zip(Gen.listOfN(12, pairText), Gen.listOfN(5, pairText)), 5)
    assert(cases.nonEmpty)
    cases.zipWithIndex.foreach { case ((base, extra), ci) =>
      // exact duplicates inside the corpus, and batch rows copied from it
      val corpus = (base ++ base.take(3)).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val batch = (extra ++ base.slice(3, 5)).zipWithIndex.map { case (t, i) => (1000L + i, t) }
      def grams(rows: Seq[(Long, Option[String])]) =
        Dedup.charGrams(rows.toDF("doc_id", "text"), "doc_id", "text", 5)
      def sets(rows: Seq[(Long, Option[String])]): Map[Long, Set[String]] =
        rows.collect { case (id, Some(t)) => id -> charGrams(t) }.toMap
      def brute(pairs: Seq[(Long, Long)], a: Map[Long, Set[String]],
                b: Map[Long, Set[String]]): Seq[(Long, Long, Double)] =
        pairs.flatMap { case (s, d) =>
          for (x <- a.get(s); y <- b.get(d))
            yield (s, d, x.intersect(y).size.toDouble / x.union(y).size)
        }
      val selfPairs = for ((i, _) <- corpus; (j, _) <- corpus if i < j) yield (i, j)
      // plus pairs whose id is missing from one side: they never verify
      val crossPairs = (for ((n, _) <- batch; (c, _) <- corpus) yield (n, c)) ++
        Seq((1099L, 0L), (1000L, 99L))
      val cg = grams(corpus)
      Seq(("self", selfPairs, cg, cg, sets(corpus), sets(corpus)),
          ("cross", crossPairs, grams(batch), cg, sets(batch), sets(corpus)))
        .foreach { case (kind, pairs, srcG, dstG, srcS, dstS) =>
          val all = brute(pairs, srcS, dstS)
          // thresholds that some pair meets exactly, so a strict compare
          // would lose it: the top (exact duplicates), the median, zero
          val js = all.map(_._3).distinct.sorted
          Seq(0.0, js(js.size / 2), js.last).foreach { t =>
            val got = Dedup.exactJaccardPairs(pairs.toDF("src", "dst"), srcG, dstG, t)
              .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
            assert(got === all.filter(_._3 >= t).toSet, s"sample $ci $kind t=$t")
          }
        }
    }
  }

  test("simhashPairs at blocks = h + 1 equals brute-force Hamming over all pairs") {
    import spark.implicits._
    import graft.operators.Dedup
    // random signatures, copies at Hamming 0..h+1 from a random base
    // (so every radius boundary is hit), and exact duplicates
    val flips = Gen.listOfN(4, Gen.chooseNum(0, 63))
    val row = Gen.zip(Gen.choose(Long.MinValue, Long.MaxValue), Gen.chooseNum(0, 9),
      Gen.chooseNum(0, 4), flips)
    val cases = samples(Gen.listOfN(30, row), 4)
    assert(cases.nonEmpty)
    cases.zipWithIndex.foreach { case (rows, ci) =>
      val sigs = rows.foldLeft(Vector.empty[Long]) { case (acc, (r, base, k, bits)) =>
        if (acc.isEmpty || base > 5) acc :+ r
        else acc :+ bits.distinct.take(k).foldLeft(acc(base % acc.size))((s, b) => s ^ (1L << b))
      }
      val df = sigs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "sig")
      Seq(1, 2, 3).foreach { h =>
        val got = Dedup.simhashPairs(df, h, maxBucket = 1000, blocks = h + 1)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val want = (for (i <- sigs.indices; j <- sigs.indices
          if i < j && java.lang.Long.bitCount(sigs(i) ^ sigs(j)) <= h)
          yield (i.toLong, j.toLong)).toSet
        assert(want.nonEmpty, s"sample $ci h=$h plants no pair")
        assert(got === want, s"sample $ci h=$h")
      }
    }
  }
}

package graft

import graft.operators.{BpeTrainer, Tokenizer}
import org.apache.spark.sql.functions._

class BpeTrainerSpec extends SparkSpec {
  import spark.implicits._

  test("merge loop learns frequent pairs first, deterministically") {
    val freqs = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val m1 = BpeTrainer.train(freqs, vocabSize = 290)
    val m2 = BpeTrainer.train(freqs, vocabSize = 290)
    assert(m1.merges == m2.merges)
    // 'est</w>' family dominates (9 occurrences): es or st merges early
    val first = m1.merges.head
    assert(first._1 + first._2 == "es" || first._1 + first._2 == "st", s"first=$first")
  }

  test("encode reconstructs words from learned subwords; OOV chars -> byte fallback, never unk") {
    val freqs = Seq("hello" -> 10L, "help" -> 8L, "world" -> 7L)
    val m = BpeTrainer.train(freqs, vocabSize = 320)
    assert(m.decode(m.encodeWord("hello")) == "hello")
    assert(m.decode(m.encodeWord("help")) == "help")
    // chars never seen in training encode as UTF-8 byte tokens and decode
    // back losslessly — the SentencePiece byte_fallback contract
    val oov = m.encodeWord("héllo")
    assert(!oov.contains(Tokenizer.UnkId))
    assert(oov.exists(id => id >= Tokenizer.ByteIdBase && id < Tokenizer.FirstLearnedId))
    assert(m.decode(oov) == "héllo")
  }

  test("byte fallback roundtrips arbitrary UTF-8 (CJK, emoji, ligatures) with zero unk") {
    val m = BpeTrainer.train(Seq("plain" -> 3L), vocabSize = 300)
    for (s <- Seq("漢字テスト", "héllo wörld", "emoji 🙂 test", "ﬁligature")) {
      val ids = s.split("\\s+").toSeq.flatMap(m.encodeWord)
      assert(!ids.contains(Tokenizer.UnkId), s"unk in $s")
      assert(m.decode(ids) == s, s"roundtrip of $s")
    }
  }

  test("oversized alphabet is capped by frequency: ids stay < vocabSize, decode lossless") {
    // 40 distinct CJK chars but budget for only 10 symbol slots
    // (vocabSize 270 - 260 fixed overhead): the 31 rarest chars must lose
    // their own token and ride byte fallback, never exceed the id bound
    val words = (0 until 40).map(i =>
      new String(Character.toChars(0x4E00 + i)) -> (100L - i))
    val m = BpeTrainer.train(words, vocabSize = 270)
    assert(m.vocab.values.max < 270, s"max id ${m.vocab.values.max}")
    for ((w, _) <- words) {
      val ids = m.encodeWord(w)
      assert(!ids.contains(Tokenizer.UnkId))
      assert(ids.forall(_ < 270))
      assert(m.decode(ids) == w)
    }
    // infeasible budgets fail fast instead of silently overflowing
    intercept[IllegalArgumentException] {
      BpeTrainer.train(words, vocabSize = 200)
    }
  }

  test("characterCoverage cuts the alphabet by occurrence mass, tail rides byte fallback") {
    // char mass: 'a' 90, 'b' 9, 'z' 1 — coverage 0.9 keeps only 'a'
    // (minimal most-frequent-first prefix reaching 90/100), 0.99 adds
    // 'b', 1.0 keeps all three
    val words = Seq("a" -> 90L, "b" -> 9L, "z" -> 1L)
    def hasCharToken(m: BpeTrainer.BpeModel, c: String) =
      m.vocab.contains(c) && m.vocab(c) >= Tokenizer.FirstLearnedId
    val m90 = BpeTrainer.train(words, vocabSize = 300, characterCoverage = 0.9)
    assert(hasCharToken(m90, "a") && !hasCharToken(m90, "b") && !hasCharToken(m90, "z"))
    val m99 = BpeTrainer.train(words, vocabSize = 300, characterCoverage = 0.99)
    assert(hasCharToken(m99, "a") && hasCharToken(m99, "b") && !hasCharToken(m99, "z"))
    val mAll = BpeTrainer.train(words, vocabSize = 300)
    assert(hasCharToken(mAll, "z"))
    // cut chars still encode (byte tokens) and decode losslessly
    val ids = m90.encodeWord("z")
    assert(!ids.contains(Tokenizer.UnkId))
    assert(ids.exists(id => id >= Tokenizer.ByteIdBase && id < Tokenizer.FirstLearnedId))
    assert(m90.decode(ids) == "z")
  }

  test("inputSentenceSize trains on the deterministic hash-ordered sample") {
    val corpus = (0 until 60).map(i => (i.toLong, s"row$i sentence with shared words"))
      .toDF("doc_id", "text")
    // the bounded trainer must equal training on the manually-computed
    // hash-min-10 rows — sampling is part of the model's determinism
    // contract, not an approximation knob
    val sampled = BpeTrainer.trainFromCorpus(corpus, "text", vocabSize = 300,
      inputSentenceSize = Some(10))
    val manual = corpus.select(col("text"))
      .orderBy(xxhash64(col("text")), col("text")).limit(10)
    val expected = BpeTrainer.trainFromCorpus(manual, "text", vocabSize = 300)
    assert(sampled.merges == expected.merges && sampled.vocab == expected.vocab)
    // a bound >= corpus size is the identity
    val all = BpeTrainer.trainFromCorpus(corpus, "text", vocabSize = 300,
      inputSentenceSize = Some(1000))
    val unbounded = BpeTrainer.trainFromCorpus(corpus, "text", vocabSize = 300)
    assert(all.merges == unbounded.merges && all.vocab == unbounded.vocab)
  }

  test("NFKC normalization is applied before training and tokenize") {
    // full-width latin and the ﬁ ligature must compose to ascii, so the
    // full-width corpus trains the SAME model as its ascii form and both
    // spellings encode identically
    val ascii = Seq((1L, "file fight file")).toDF("doc_id", "text")
    val wide = Seq((1L, "ﬁle ﬁght ﬁle")).toDF("doc_id", "text") // U+FB01 ligature
    val mAscii = BpeTrainer.trainFromCorpus(ascii, "text", vocabSize = 300)
    val mWide = BpeTrainer.trainFromCorpus(wide, "text", vocabSize = 300)
    assert(mAscii.merges == mWide.merges)
    val outAscii = BpeTrainer.tokenize(ascii, "text", mAscii).select("ids").head.getSeq[Int](0)
    val outWide = BpeTrainer.tokenize(wide, "text", mAscii).select("ids").head.getSeq[Int](0)
    assert(outAscii == outWide && outAscii.nonEmpty)
  }

  /** The naive loop the incremental trainer replaced, on code points:
    * the alphabet cut, then a full pair recount + argmax per merge (max
    * count, ties by (left, right) in String order), counting only pairs
    * of mergeable symbols. Returns the merges and the vocab. */
  private def naiveTrain(wordFreqs: Seq[(String, Long)], vocabSize: Int,
                         coverage: Double = 1.0): (Seq[(String, String)], Map[String, Int]) = {
    import scala.collection.mutable
    val eow = "</w>"
    def cps(w: String) = w.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))
    var words: Array[(Array[String], Long)] =
      wordFreqs.map { case (w, f) => ((cps(w) :+ eow).toArray, f) }.toArray
    val all = mutable.LinkedHashSet[String](eow)
    wordFreqs.foreach(wf => cps(wf._1).foreach(all += _))
    val budget = vocabSize - Tokenizer.FirstLearnedId
    val base: Seq[String] =
      if (all.size <= budget && coverage >= 1.0) all.toSeq
      else {
        val mass = mutable.Map[String, Long]().withDefaultValue(0L)
        wordFreqs.foreach { case (w, f) => cps(w).foreach(c => mass(c) += f) }
        val byMass = all.toSeq.filterNot(_ == eow).sortBy(c => (-mass(c), c))
        val target = math.ceil(coverage * byMass.map(mass).sum).toLong
        var k = 0; var cum = 0L
        while (k < byMass.size && cum < target) { cum += mass(byMass(k)); k += 1 }
        eow +: byMass.take(math.min(k, budget - 1))
      }
    val mergeable = mutable.Set[String]() ++ base
    val merges = mutable.ArrayBuffer[(String, String)]()
    val maxMerges = math.max(0, budget - base.size)
    var exhausted = false
    while (merges.size < maxMerges && !exhausted) {
      val pc = mutable.Map[(String, String), Long]()
      words.foreach { case (syms, f) =>
        syms.sliding(2).filter(p => p.length == 2 && mergeable(p(0)) && mergeable(p(1)))
          .foreach(p => pc((p(0), p(1))) = pc.getOrElse((p(0), p(1)), 0L) + f)
      }
      if (pc.isEmpty) exhausted = true
      else {
        val best = pc.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        val ms = best._1 + best._2
        mergeable += ms
        words = words.map { case (syms, f) =>
          val out = mutable.ArrayBuffer[String]()
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
              out += ms; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, f)
        }
      }
    }
    val symbols = (base ++ merges.map(m => m._1 + m._2)).distinct
    (merges.toSeq, Tokenizer.ReservedVocab ++
      symbols.zipWithIndex.map { case (s, i) => s -> (i + Tokenizer.FirstLearnedId) })
  }

  /** `n` weighted words over `alphabet` (code points), repeats summed. */
  private def randomTable(rnd: scala.util.Random, alphabet: IndexedSeq[String], n: Int,
                          maxLen: Int): Seq[(String, Long)] =
    Seq.fill(n) {
      (1 to (1 + rnd.nextInt(maxLen))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString ->
        (1L + rnd.nextInt(9) * rnd.nextInt(9))
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)

  test("incremental merge loop is equivalent to the naive full-rescan reference") {
    val ascii = "abcd".map(_.toString)
    // U+E000 sorts after U+1F600's surrogates in UTF-16 but before it by
    // code point; U+1D538 is a second non-BMP letter
    val wide = IndexedSeq("a", "b", "\u00e9", "\ue000", "\ud83d\ude00", "\ud835\udd38")
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 24) {
      val alphabet = if (trial % 2 == 0) wide else ascii
      val n = if (trial % 6 == 0) 2000 else 20 + rnd.nextInt(400)
      val words = randomTable(rnd, alphabet, n, maxLen = if (n == 2000) 10 else 2 + rnd.nextInt(8))
      val coverage = Seq(1.0, 1.0, 0.99, 0.9, 0.7)(trial % 5)
      val vocab = Tokenizer.FirstLearnedId + alphabet.size + 1 + rnd.nextInt(if (n > 500) 120 else 60)
      val m = BpeTrainer.train(words, vocab, coverage)
      val (merges, vocabRef) = naiveTrain(words, vocab, coverage)
      assert(m.merges == merges, s"trial $trial (n=$n, coverage=$coverage)")
      assert(m.vocab == vocabRef, s"trial $trial vocab")
    }
  }

  test("merge ties break by UTF-16 String order, not code-point order") {
    // (U+1F600, </w>) and (U+E000, </w>) tie at count 5: U+1F600's high
    // surrogate D83D sorts before E000, so it merges first
    val words = Seq("\ue000" -> 5L, "\ud83d\ude00" -> 5L)
    val m = BpeTrainer.train(words, vocabSize = 300)
    assert(m.merges.take(2) == Seq("\ud83d\ude00" -> "</w>", "\ue000" -> "</w>"))
    assert(m.merges == naiveTrain(words, 300)._1)
  }

  test("merge list at vocab 8000 is pinned on a fixed synthetic corpus") {
    // 3,000 Zipf-weighted words over 26 latin letters, two accented
    // letters and two non-BMP letters: thousands of merges, and ties at
    // every low count
    val rnd = new scala.util.Random(2024)
    val alphabet = ('a' to 'z').map(_.toString) ++
      Seq("\u00e9", "\u00fc", "\ud83d\ude00", "\ud835\udd38")
    val words = Iterator.continually {
      (1 to (2 + rnd.nextInt(9))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }.distinct.take(3000).toSeq.zipWithIndex.map { case (w, r) => w -> (1L + 20000L / (r + 1)) }
    val m = BpeTrainer.train(words, vocabSize = 8000)
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(m.merges.map { case (a, b) => a + "\u0000" + b }.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(m.merges.size == 7709)
    assert(digest == "e214be154473c2dd0426054a1e819e061c51658aee37cc49460b531aa1a26d93")
  }

  test("frequent whole words collapse to few tokens, rare words to more") {
    val corpus = (Seq.fill(200)("training") ++ Seq.fill(200)("data")
      ++ Seq.fill(3)("serendipity")).mkString(" ")
    val df = Seq(corpus).toDF("text")
    val m = BpeTrainer.trainFromCorpus(df, "text", vocabSize = 290)
    info(s"merges=${m.merges.size} training=${m.encodeWord("training")} seren=${m.encodeWord("serendipity")}")
    assert(m.encodeWord("training").length <= 2)
    assert(m.encodeWord("serendipity").length > m.encodeWord("training").length)
  }

  test("bpe pipeline path: train writes merges artifact, tokenize packs subword ids") {
    import java.nio.file.Files
    val outBase = Files.createTempDirectory("bpeout").toString
    val docs = (1 to 40).map(i => (s"doc$i", s"training data example number$i training data"))
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$outBase/deduped_parquet")
    val cfg = graft.core.Pipeline.PipelineConfig(dataDir = ".", outputBase = outBase,
      vocabSize = 400, tokenizer = "bpe", seqLen = 32)
    graft.operators.PipelineSteps.TrainTokenizerStep().run(spark, cfg)
    assert(spark.read.parquet(s"$outBase/bpe_merges_parquet").count() > 0)
    graft.operators.PipelineSteps.TokenizeStep().run(spark, cfg)
    val packed = spark.read.parquet(s"$outBase/token_packing_parquet")
    assert(packed.count() > 0)
    assert(packed.selectExpr("size(input_ids)").collect().forall(_.getInt(0) == 32))
  }

  test("model artifact roundtrip: write + load preserves merges, vocab, encoding") {
    import java.nio.file.Files
    val df = (1 to 30).map(i => (i.toLong, s"shared words number$i shared words"))
      .toDF("doc_id", "text")
    val m = BpeTrainer.trainFromCorpus(df, "text", vocabSize = 350)
    val path = Files.createTempDirectory("bpe_artifact").toString + "/model"
    BpeTrainer.writeModel(spark, path, m)
    // the pipeline's two-table artifact, as external readers see it
    val merges = spark.read.parquet(s"$path/bpe_merges_parquet")
    val vocab = spark.read.parquet(s"$path/bpe_vocab_parquet")
    assert(merges.columns.toSeq == Seq("rank", "left", "right"))
    assert(vocab.columns.toSeq == Seq("word", "freq", "id"))
    assert(merges.count() == m.merges.size && vocab.count() == m.vocab.size)
    val loaded = BpeTrainer.loadModel(spark, path)
    assert(loaded.merges == m.merges) // ORDER is the model
    assert(loaded.vocab == m.vocab)
    val texts = Seq("shared words number7", "unseen zebra text 新词")
    texts.foreach(t =>
      assert(loaded.encodeText(t).toSeq == m.encodeText(t).toSeq))
  }

  test("distributed tokenize appends subword ids per row") {
    val df = Seq((1L, "aa ab aa"), (2L, "ab aa")).toDF("doc_id", "text")
    val m = BpeTrainer.trainFromCorpus(df, "text", vocabSize = 270)
    val out = BpeTrainer.tokenize(df, "text", m).orderBy("doc_id").collect()
    assert(out.length == 2)
    val ids1 = out(0).getSeq[Int](2)
    assert(ids1.nonEmpty && !ids1.contains(Tokenizer.UnkId))
    // token count for "aa ab aa" >= 3 words' worth, deterministic
    val again = BpeTrainer.tokenize(df, "text", m).orderBy("doc_id").collect()
    assert(again(0).getSeq[Int](2) == ids1)
  }

  test("encodeText matches the regex-split per-occurrence encodeWord formulation") {
    val df = (1 to 30).map(i => (i.toLong, s"shared words number$i shared words"))
      .toDF("doc_id", "text")
    val m = BpeTrainer.trainFromCorpus(df, "text", vocabSize = 350)
    val texts = Seq("shared words number7", "unseen zebra \u65b0\u8bcd \ud83d\ude42",
      "tabs\tand\nnewlines mixed", " lead trail ", "", "   ",
      "nbsp\u00A0is one token", "shared shared shared words",
      "\tlead and trail tabs\t", "\u000Bvertical\u000Btab\u000B",
      "\uff46\uff55\uff4c\uff4c \uff37\uff49\uff44\uff54\uff48 words")
    texts.foreach { t =>
      val ref = t.split("\\s+").iterator.filter(_.nonEmpty).flatMap(m.encodeWord).toSeq
      assert(m.encodeText(t).toSeq == ref, s"encodeText drift on '$t'")
      // second call exercises the word-cache hit path — must stay identical
      assert(m.encodeText(t).toSeq == ref, s"cached encodeText drift on '$t'")
    }
  }

}

package graft

import graft.operators.{Tokenizer, UnigramTrainer}
import org.apache.spark.sql.functions._

class UnigramTrainerSpec extends SparkSpec {
  import spark.implicits._

  private val freqs = Seq("low" -> 5L, "lower" -> 3L, "lowest" -> 4L,
    "newest" -> 6L, "widest" -> 3L, "new" -> 7L)

  test("training is deterministic and respects the id bound") {
    val m1 = UnigramTrainer.train(freqs, vocabSize = 300)
    val m2 = UnigramTrainer.train(freqs, vocabSize = 300)
    assert(m1.pieces == m2.pieces && m1.vocab == m2.vocab)
    assert(m1.vocab.valuesIterator.max < 300)
    // input order must not matter (the table is sorted internally via
    // score/count ties on the piece string)
    val m3 = UnigramTrainer.train(freqs.reverse, vocabSize = 300)
    assert(m3.pieces == m1.pieces)
  }

  test("Viterbi segmentation prefers probable multi-char pieces over singles") {
    val m = UnigramTrainer.train(freqs, vocabSize = 310)
    // frequent substrings ("est", "new", "low", "▁new"...) must win the
    // budget and the ML segmentation must use SOME multi-char piece —
    // an all-singles segmentation means probabilities did nothing
    val ids = m.encodeWord("newest")
    assert(ids.size < UnigramTrainer.Boundary.length + "newest".length,
      s"got ${ids.size} pieces: $ids")
    val asPieces = ids.map(id => m.vocab.map(_.swap)(id))
    assert(asPieces.exists(_.length > 1), s"pieces: $asPieces")
  }

  test("encode/decode roundtrips, unseen chars ride byte fallback, never unk") {
    val m = UnigramTrainer.train(freqs, vocabSize = 300)
    for (t <- Seq("low lower lowest", "newest new widest",
        "héllo wörld", "漢字 emoji 🙂", "mixed lowﬁ")) {
      val norm = java.text.Normalizer.normalize(t.toLowerCase,
        java.text.Normalizer.Form.NFKC)
      val ids = m.encodeText(norm)
      assert(!ids.contains(Tokenizer.UnkId), s"unk in $t")
      assert(m.decode(ids.toSeq) == norm, s"roundtrip of $norm")
    }
  }

  test("model artifact roundtrip preserves pieces, probs, vocab, encoding") {
    val m = UnigramTrainer.train(freqs, vocabSize = 300)
    val dir = java.nio.file.Files.createTempDirectory("uni").toString + "/m"
    UnigramTrainer.writeModel(spark, dir, m)
    val l = UnigramTrainer.loadModel(spark, dir)
    assert(l.pieces == m.pieces && l.vocab == m.vocab)
    assert(l.encodeWord("newest") == m.encodeWord("newest"))
  }

  test("distributed tokenize appends ids and matches the driver encode") {
    val df = Seq((1L, "the newest low table"), (2L, "lower and lowest"))
      .toDF("doc_id", "text")
    val m = UnigramTrainer.trainFromCorpus(df, "text", vocabSize = 300)
    val out = Tokenizer.encode(df, "text", m)
      .orderBy("doc_id").select("ids").as[Seq[Int]].collect()
    val norm1 = java.text.Normalizer.normalize("the newest low table",
      java.text.Normalizer.Form.NFKC)
    assert(out(0) == m.encodeText(norm1).toSeq)
    assert(out.forall(_.nonEmpty))
  }

  test("characterCoverage cuts rare chars to byte fallback, identity at 1.0") {
    // 'z' and 'q' carry a tiny share of the occurrence mass; at 0.95
    // coverage they must not surface in ANY single or multi piece,
    // and words containing them must still roundtrip via byte ids
    val f = Seq("alpha" -> 50L, "alps" -> 40L, "lapse" -> 30L,
      "zq" -> 1L, "quartz" -> 1L)
    val cut = UnigramTrainer.train(f, vocabSize = 300, characterCoverage = 0.95)
    val pieceChars = cut.pieces.keysIterator
      .flatMap(_.codePoints().toArray.toSeq).map(cp =>
        new String(Character.toChars(cp))).toSet
    assert(!pieceChars.contains("z") && !pieceChars.contains("q"))
    val ids = cut.encodeWord("quartz")
    assert(ids.exists(id => id >= Tokenizer.ByteIdBase &&
      id < Tokenizer.FirstLearnedId)) // byte-fallback ids present
    assert(cut.decode(cut.encodeText("quartz alps")) == "quartz alps")
    // coverage 1.0 is the identity: same model as the default path
    val full = UnigramTrainer.train(f, vocabSize = 300)
    val one = UnigramTrainer.train(f, vocabSize = 300, characterCoverage = 1.0)
    assert(full.pieces == one.pieces && full.vocab == one.vocab)
  }

  test("pruning shrinks an oversized seed to the piece budget") {
    // many distinct words -> large seed; tight budget forces rounds of
    // 25% shrink; singles survive, multis land exactly <= budget
    val wide = (0 until 50).map(i => s"word$i" -> (50L - i))
    val m = UnigramTrainer.train(wide, vocabSize = 280)
    val multis = m.pieces.keys.filter(p => p.codePointCount(0, p.length) > 1)
    val singles = m.pieces.keys.filter(p => p.codePointCount(0, p.length) == 1)
    assert(m.vocab.valuesIterator.max < 280)
    assert(multis.size + singles.size + Tokenizer.FirstLearnedId <= 280)
  }

  test("soft-EM cross-check: the hard-EM substitution's divergence, quantified") {
    // The native trainer's E-step (Kudo 2018 §3; SentencePiece
    // --model_type=unigram, the model the reference trains) accumulates
    // EXPECTED piece counts over ALL segmentations via forward-backward;
    // this trainer substitutes Viterbi (hard-EM) counts — each word's
    // frequency goes wholly to its single best segmentation
    // (UnigramTrainer.scala header, bullet 1). This case pins the
    // divergence numerically on a hand-derivable lattice, so the
    // "documented substitution" is a QUANTIFIED one.
    //
    // Corpus: the single word "ab" (marked "▁ab"), freq 1.
    // Model pieces and probabilities (sum to 1.0):
    //   ▁ = .30   a = .20   b = .20   ab = .25   ▁a = .05
    // The three segmentations of ▁ab and their likelihoods:
    //   ▁|a|b : .30·.20·.20 = .012
    //   ▁|ab  : .30·.25     = .075   <- the Viterbi path
    //   ▁a|b  : .05·.20     = .010
    //   Z = .097
    // Soft-EM expected counts (posterior-weighted occurrences):
    //   ▁  (.012+.075)/Z = .896907…   a  .012/Z = .123711…
    //   b  (.012+.010)/Z = .226804…   ab .075/Z = .773196…
    //   ▁a .010/Z        = .103093…
    // Hard-EM (ours): ▁ 1, ab 1, all other pieces 0.
    val probs = Map("▁" -> 0.30, "a" -> 0.20, "b" -> 0.20,
      "ab" -> 0.25, "▁a" -> 0.05)
    val ids = probs.keys.toSeq.sorted.zipWithIndex
      .map { case (p, i) => p -> (Tokenizer.FirstLearnedId + i) }.toMap
    val m = UnigramTrainer.UnigramModel(
      probs.map { case (p, v) => p -> math.log(v) }, ids)

    // our E-step: the whole count lands on the Viterbi path ▁|ab
    assert(m.encodeWord("ab") == Seq(ids("▁"), ids("ab")))

    // in-spec soft-EM reference: exhaustive lattice enumeration (the
    // forward-backward result, computed the brute-force way)
    def segs(cs: Vector[String]): List[List[String]] =
      if (cs.isEmpty) List(Nil)
      else (1 to cs.length).toList.flatMap { l =>
        val p = cs.take(l).mkString
        if (probs.contains(p)) segs(cs.drop(l)).map(p :: _) else Nil
      }
    val all = segs(Vector("▁", "a", "b"))
    assert(all.size == 3) // the three lattice paths above
    val z = all.map(_.map(probs).product).sum
    assert(math.abs(z - 0.097) < 1e-15)
    val soft = all.flatMap(s => s.map(p => p -> s.map(probs).product / z))
      .groupMapReduce(_._1)(_._2)(_ + _)
    val exp = Map("▁" -> 0.087 / 0.097, "a" -> 0.012 / 0.097,
      "b" -> 0.022 / 0.097, "ab" -> 0.075 / 0.097, "▁a" -> 0.010 / 0.097)
    exp.foreach { case (p, e) => assert(math.abs(soft(p) - e) < 1e-12, p) }

    // the quantified divergence: Viterbi overcounts the winning pieces
    // by the posterior mass of the losing paths (+.23 on ab here) and
    // zeroes the losers entirely (soft keeps .12 on a, .10 on ▁a) —
    // after one M-step the soft model would hold ~2.3 log-prob mass
    // points more on the losing pieces than ours. The trade bought:
    // counts stay exact Longs, so training is partitioning- and
    // float-order-invariant (the oracle-gate requirement).
    assert(math.abs(1.0 - soft("ab")) > 0.22 && math.abs(1.0 - soft("ab")) < 0.23)
    assert(soft("a") > 0.12 && soft("▁a") > 0.10)
    val viterbiPieces = m.encodeWord("ab").map(ids.map(_.swap)).toSet
    assert(!viterbiPieces("a") && !viterbiPieces("▁a"))

    // the REAL soft E-step (latticeExpectedCounts, forward-backward)
    // must reproduce the exhaustive-enumeration reference to float
    // noise on the same hand lattice
    val fb = m.latticeExpectedCounts(Vector("▁", "a", "b"))
      .groupMapReduce(_._1)(_._2)(_ + _)
    exp.foreach { case (p, e) => assert(math.abs(fb(p) - e) < 1e-12, s"fb $p") }
    assert(fb.keySet == exp.keySet)
  }

  test("softEm training: deterministic, lossless, and diverges from hard-EM as Kudo predicts") {
    val freqs = Seq("the" -> 40L, "then" -> 12L, "they" -> 9L,
      "he" -> 25L, "hen" -> 7L, "at" -> 18L, "that" -> 11L)
    val hard = UnigramTrainer.train(freqs, vocabSize = 272)
    val soft1 = UnigramTrainer.train(freqs, vocabSize = 272, softEm = true)
    val soft2 = UnigramTrainer.train(freqs, vocabSize = 272, softEm = true)
    assert(soft1 == soft2) // sorted-order fold: run-to-run deterministic
    // roundtrip stays lossless under the soft model
    Seq("the hen", "that they", "unseen xyz").foreach { s =>
      assert(soft1.decode(soft1.encodeText(s).toIndexedSeq) == s, s)
    }
    // divergence: soft-EM spreads probability onto non-Viterbi pieces,
    // so at least one shared piece carries a different log-prob
    val shared = hard.pieces.keySet intersect soft1.pieces.keySet
    assert(shared.nonEmpty)
    assert(shared.exists(p => hard.pieces(p) != soft1.pieces(p)))
  }

  test("latticeExpectedCounts: fallback edges carry mass but no piece counts") {
    val probs = Map("▁" -> 0.6, "x" -> 0.4)
    val m = UnigramTrainer.UnigramModel(
      probs.map { case (p, v) => p -> math.log(v) }, Map.empty)
    // "▁qx": q is uncovered -> exactly one path ▁|<fallback>|x, so
    // posteriors are 1.0 for the two vocab pieces and q appears nowhere
    val fb = m.latticeExpectedCounts(Vector("▁", "q", "x")).toMap
    assert(fb.keySet == Set("▁", "x"))
    assert(math.abs(fb("▁") - 1.0) < 1e-12 && math.abs(fb("x") - 1.0) < 1e-12)
    // empty word: no counts
    assert(m.latticeExpectedCounts(Vector.empty).isEmpty)
  }

  test("fallback-piece footprint (k14's counting): coverage cut > 0, full coverage = 0") {
    val df = Seq((1L, "aaa bbb aaa"), (2L, "aaa éé bbb"))
      .toDF("doc_id", "text")
    def fallbackCount(coverage: Double): Long = {
      val m = UnigramTrainer.trainFromCorpus(df, "text", vocabSize = 300,
        characterCoverage = coverage)
      Tokenizer.encode(df, "text", m)
        .select(size(filter(col("ids"), i =>
          i >= Tokenizer.ByteIdBase && i < Tokenizer.FirstLearnedId))
          .cast("long").as("nf"))
        .agg(sum("nf")).collect().head.getLong(0)
    }
    // full coverage: every char is a trained piece — zero fallback ids
    assert(fallbackCount(1.0) === 0L)
    // é carries 2 of the 17 non-boundary char occurrences (a:9 b:6 é:2),
    // so 0.85 coverage (target 15) cuts it: each é rides the byte
    // fallback as its 2 UTF-8 bytes -> exactly 4 fallback ids
    assert(fallbackCount(0.85) === 4L)
  }

  test("encodeText matches the regex-split per-occurrence encodeWord formulation") {
    val m = UnigramTrainer.train(freqs, vocabSize = 300)
    for (t <- Seq("low lower lowest", "tabs\tand\nnewlines", " lead trail ",
        "", "   ", "h\u00e9llo w\u00f6rld \ud83d\ude42",
        "nbsp\u00A0is one token", "repeat repeat repeat",
        "\tlead and trail tabs\t", "\u000Bvertical\u000Btab\u000B",
        "\uff46\uff55\uff4c\uff4c \uff37\uff49\uff44\uff54\uff48 lowest")) {
      val ref = t.split("\\s+").iterator.filter(_.nonEmpty).flatMap(m.encodeWord).toSeq
      assert(m.encodeText(t).toSeq == ref, s"encodeText drift on '$t'")
      // second call exercises the memoized-word path — must stay identical
      assert(m.encodeText(t).toSeq == ref, s"cached encodeText drift on '$t'")
    }
  }

}

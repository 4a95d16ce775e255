package graft.operators

import graft.core.Handoff
import graft.operators.Tokenizer._
import org.apache.spark.sql.{Column, DataFrame}

import scala.collection.mutable

/** Unigram-LM tokenizer (Kudo 2018, "Subword Regularization" — the
  * algorithm behind SentencePiece's default `--model_type=unigram`,
  * which the reference trains, reference: src/llm_data_pipeline/
  * tokenizer/train.py:111-134): pieces carry probabilities, a word's
  * tokenization is the max-likelihood segmentation over the piece
  * lattice, and training alternates EM probability re-estimation with
  * vocabulary pruning from a large seed set down to the budget.
  *
  * Same split of labor as [[BpeTrainer]]: the corpus-sized work (word
  * frequency counting) is a distributed groupBy; seeding, EM, and
  * pruning run over the bounded word-frequency table driver-side —
  * exactly how the native trainer consumes its `input_sentence_size`
  * sample. Documented simplifications vs the paper (both public,
  * deterministic, and bit-reproducible):
  *
  *  - '''Hard EM''' (Viterbi counts) BY DEFAULT instead of soft EM
  *    (forward-backward expected counts): each word contributes its
  *    frequency to the pieces of its single best segmentation. Counts
  *    stay exact Longs, so the M-step is partitioning- and
  *    float-order-independent — the oracle-gate requirement, and why
  *    it is the default. Kudo's ACTUAL E-step is available as
  *    `softEm = true` ([[UnigramModel.latticeExpectedCounts]]):
  *    posterior-weighted counts over all segmentations, folded in
  *    sorted word order so the float accumulation is deterministic
  *    for a fixed word-frequency table (it is NOT invariant to
  *    changes in that table's float environment the way Long counts
  *    are, hence not the gate path).
  *  - '''Count pruning''' instead of likelihood-loss pruning: each
  *    round keeps the most-used multi-char pieces (count DESC, piece
  *    ASC) and shrinks by 25% toward the budget (SentencePiece's
  *    `shrinking_factor=0.75` schedule). Single-character pieces are
  *    never pruned — segmentation stays total.
  *
  * Id convention shared with BPE ([[Tokenizer]]): unk/bos/eos/pad = 0-3,
  * byte-fallback <0x00>..<0xFF> = 4-259, pieces from 260 in
  * lexicographic order.
  * Words are marked with the SentencePiece word-boundary char (▁)
  * before segmentation, so decode restores spacing losslessly and
  * pieces can span the word start ("▁the").
  */
object UnigramTrainer {

  /** SentencePiece's word-boundary marker (U+2581 LOWER ONE EIGHTH BLOCK). */
  val Boundary = "▁"

  /** pieces: piece → log P(piece), normalized over the final vocab.
    * vocab: piece → id (specials/bytes/pieces per the id convention). */
  case class UnigramModel(pieces: Map[String, Double], vocab: Map[String, Int])
      extends Tokenizer.Model {
    @transient private lazy val maxPieceCp: Int =
      if (pieces.isEmpty) 1 else pieces.keysIterator.map(p => codePoints(p).size).max
    // a byte-fallback char must always score WORSE than any real piece
    // path covering the same span, but stay finite so the DP is total
    @transient private lazy val fallbackLogP: Double =
      (if (pieces.isEmpty) 0.0 else pieces.valuesIterator.min) - 1e3

    /** Max-likelihood (Viterbi) segmentation of one boundary-marked
      * word into piece strings. Ties: the longer piece at each
      * decision point wins (fixed scan order), so the result is
      * deterministic. Characters no piece covers consume one code
      * point via byte fallback. */
    private[operators] def segment(marked: Vector[String]): List[String] = {
      val n = marked.size
      if (n == 0) return Nil
      val best = Array.fill(n + 1)(Double.NegativeInfinity)
      val back = Array.fill(n + 1)(-1) // start index of the piece ending here
      best(0) = 0.0
      var i = 0
      while (i < n) {
        if (best(i) != Double.NegativeInfinity) {
          val maxLen = math.min(maxPieceCp, n - i)
          var covered = false
          var l = 1
          val sb = new StringBuilder
          while (l <= maxLen) {
            sb.append(marked(i + l - 1))
            pieces.get(sb.toString) match {
              case Some(lp) =>
                covered = covered || l == 1
                val s = best(i) + lp
                // >= : the LONGER piece ending at i+l wins exact ties
                // (later starts scan first below, so strictly-greater
                // from a later start still replaces)
                if (s > best(i + l) || (s == best(i + l) && i < back(i + l))) {
                  best(i + l) = s; back(i + l) = i
                }
              case None =>
            }
            l += 1
          }
          if (!covered) { // unseen char: byte-fallback one code point
            val s = best(i) + fallbackLogP
            if (s > best(i + 1)) { best(i + 1) = s; back(i + 1) = i }
          }
        }
        i += 1
      }
      var out: List[String] = Nil
      var pos = n
      while (pos > 0) {
        val st = back(pos)
        out = marked.slice(st, pos).mkString :: out
        pos = st
      }
      out
    }

    /** Soft-EM E-step for one boundary-marked word: expected piece
      * counts over ALL segmentations via forward-backward in log
      * space (Kudo 2018 §3 — the native SentencePiece E-step this
      * trainer's default Viterbi counts substitute). The lattice edge
      * set is EXACTLY [[segment]]'s: every vocab piece starting at a
      * position, plus the single-code-point byte-fallback edge when
      * no length-1 piece covers that position (fallback edges carry
      * probability mass but no piece count — byte fallback is not a
      * vocab piece). Returns (piece, posterior occurrence count);
      * empty for the empty word. Driver-side, deterministic for a
      * fixed word. */
    private[graft] def latticeExpectedCounts(
        marked: Vector[String]): Seq[(String, Double)] = {
      val n = marked.size
      if (n == 0) return Nil
      // materialize the edge list once so alpha, beta, and the count
      // pass see the identical lattice
      val edges = (0 until n).flatMap { i =>
        val maxLen = math.min(maxPieceCp, n - i)
        var covered = false
        val sb = new StringBuilder
        val es = (1 to maxLen).flatMap { l =>
          sb.append(marked(i + l - 1))
          pieces.get(sb.toString) match {
            case Some(lp) =>
              if (l == 1) covered = true
              Some((i, i + l, sb.toString, lp))
            case None => None
          }
        }
        if (!covered) es :+ ((i, i + 1, null: String, fallbackLogP)) else es
      }
      def lse(a: Double, b: Double): Double =
        if (a == Double.NegativeInfinity) b
        else if (b == Double.NegativeInfinity) a
        else {
          val hi = math.max(a, b)
          hi + math.log1p(math.exp(math.min(a, b) - hi))
        }
      val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
      alpha(0) = 0.0
      edges.foreach { case (i, j, _, lp) => // edges sorted by start i
        if (alpha(i) != Double.NegativeInfinity)
          alpha(j) = lse(alpha(j), alpha(i) + lp)
      }
      val beta = Array.fill(n + 1)(Double.NegativeInfinity)
      beta(n) = 0.0
      edges.reverseIterator.foreach { case (i, j, _, lp) =>
        if (beta(j) != Double.NegativeInfinity)
          beta(i) = lse(beta(i), lp + beta(j))
      }
      val logZ = alpha(n)
      if (logZ == Double.NegativeInfinity) Nil
      else edges.collect { case (i, j, p, lp) if p != null =>
        p -> math.exp(alpha(i) + lp + beta(j) - logZ)
      }
    }

    def normalize(c: Column): Column = normalizeForTokenize(c)

    /** Encode one word (no boundary marker yet) to ids: the Viterbi
      * segmentation, pieces outside the vocab as byte tokens. */
    def encodeWord(word: String): Seq[Int] =
      if (word.isEmpty) Seq.empty
      else segment(codePoints(Boundary + word)).flatMap(pieceIds)

    /** Lossless inverse: pieces concatenate, byte runs UTF-8-decode,
      * boundary markers become spaces. */
    def decode(ids: Seq[Int]): String =
      decodeWith(ids)((sb, p) => sb.append(p))
        .replace(Boundary, " ").stripPrefix(" ").stripSuffix(" ")
  }

  /** Train on a word-frequency table. `vocabSize` counts specials +
    * byte tokens + pieces (the SentencePiece budget convention shared
    * with [[BpeTrainer.train]]). */
  def train(wordFreqs: Seq[(String, Long)], vocabSize: Int,
            maxPieceLen: Int = 8, seedFactor: Int = 8,
            emRounds: Int = 2, characterCoverage: Double = 1.0,
            softEm: Boolean = false): UnigramModel = {
    require(vocabSize > FirstLearnedId,
      s"vocabSize=$vocabSize must exceed $FirstLearnedId (specials + byte ids)")
    require(characterCoverage > 0.0 && characterCoverage <= 1.0,
      s"characterCoverage=$characterCoverage must be in (0, 1]")
    val words: Seq[(Vector[String], Long)] =
      wordFreqs.map { case (w, f) => (codePoints(Boundary + w), f) }

    // Alphabet cut — SentencePiece's character_coverage knob, the same
    // rule as BpeTrainer.train: keep the minimal most-frequent-first
    // prefix of characters whose occurrence mass reaches the coverage;
    // the tail rides the segmenter's byte fallback. The boundary
    // marker is structural and always kept. Seed substrings containing
    // a cut char are excluded up front, so (unlike BPE merges, which
    // need the product guard) a cut char can never re-enter the vocab.
    val keptChars: Option[Set[String]] =
      if (characterCoverage >= 1.0) None
      else {
        val charFreq = mutable.HashMap[String, Long]().withDefaultValue(0L)
        words.foreach { case (cps, f) =>
          cps.foreach(c => if (c != Boundary) charFreq(c) += f)
        }
        val sorted = charFreq.keysIterator.toSeq.sortBy(s => (-charFreq(s), s))
        val total = sorted.iterator.map(charFreq).sum
        val target = math.ceil(characterCoverage * total).toLong
        var cum = 0L
        var k = 0
        while (k < sorted.size && cum < target) { cum += charFreq(sorted(k)); k += 1 }
        Some(sorted.take(k).toSet + Boundary)
      }
    def covered(piece: String): Boolean =
      keptChars.forall(ks => codePoints(piece).forall(ks))

    // ---- seed: every substring up to maxPieceLen, scored freq·len
    // (the suffix-array seeding shortcut — same ranking signal) ----
    val score = mutable.HashMap[String, Long]().withDefaultValue(0L)
    words.foreach { case (cps, f) =>
      val n = cps.size
      var i = 0
      while (i < n) {
        val sb = new StringBuilder
        var l = 1
        while (l <= math.min(maxPieceLen, n - i)) {
          sb.append(cps(i + l - 1))
          score(sb.toString) += f * l
          l += 1
        }
        i += 1
      }
    }
    val singles: Seq[String] = score.keysIterator
      .filter(p => codePoints(p).size == 1 && covered(p)).toSeq.sorted
    val budgetTotal = vocabSize - FirstLearnedId
    require(budgetTotal > singles.size,
      s"vocabSize=$vocabSize leaves no room for multi-char pieces over " +
      s"${singles.size} single-char pieces")
    val budgetMulti = budgetTotal - singles.size
    val seedMulti = score.iterator
      .filter { case (p, _) => codePoints(p).size > 1 && covered(p) }
      .toSeq.sortBy { case (p, s) => (-s, p) }
      .take(seedFactor * budgetMulti).map(_._1)

    // init log-probs from the seed scores (normalized)
    def normalize(scored: Seq[(String, Long)]): Map[String, Double] = {
      // Laplace +1 keeps never-chosen singles finite
      val tot = scored.iterator.map(_._2 + 1L).sum.toDouble
      val logTot = math.log(tot)
      scored.map { case (p, c) => p -> (math.log((c + 1L).toDouble) - logTot) }.toMap
    }
    var model = UnigramModel(
      normalize((singles ++ seedMulti).map(p => p -> score(p))), Map.empty)

    // ---- EM + prune loop: Viterbi counts (hard EM, exact Longs),
    // re-normalize, shrink multi pieces 25% toward the budget ----
    def viterbiCounts(m: UnigramModel): mutable.Map[String, Long] = {
      val counts = mutable.HashMap[String, Long]().withDefaultValue(0L)
      words.foreach { case (cps, f) =>
        m.segment(cps).foreach(p => counts(p) += f)
      }
      counts
    }
    // Soft-EM option (Kudo 2018's actual E-step, forward-backward
    // expected counts): a SEPARATE branch on purpose — the hard-EM
    // path below stays byte-identical (Long counts, Long-sum
    // normalization) because the oracle gates and the committed
    // fixture artifacts pin its exact output. The soft branch folds
    // words in sorted order so its float accumulation is
    // deterministic; pruning stays the count-based top-M cut (the
    // documented substitution for Kudo's likelihood-loss pruning),
    // applied to expected counts.
    def softCounts(m: UnigramModel): mutable.Map[String, Double] = {
      val counts = mutable.HashMap[String, Double]().withDefaultValue(0.0)
      wordsSortedForSoft.foreach { case (cps, f) =>
        m.latticeExpectedCounts(cps).foreach { case (p, e) =>
          counts(p) += e * f
        }
      }
      counts
    }
    def normalizeD(scored: Seq[(String, Double)]): Map[String, Double] = {
      val tot = scored.iterator.map(_._2 + 1.0).sum
      val logTot = math.log(tot)
      scored.map { case (p, c) => p -> (math.log(c + 1.0) - logTot) }.toMap
    }
    lazy val wordsSortedForSoft = words.sortBy(_._1.mkString)

    var multis = seedMulti.toSet
    var done = false
    while (!done) {
      val target = math.max(budgetMulti, (multis.size * 3) / 4)
      if (softEm) {
        val counts = softCounts(model)
        val keptMulti = multis.toSeq.sortBy(p => (-counts(p), p)).take(target)
        multis = keptMulti.toSet
        model = UnigramModel(
          normalizeD((singles ++ keptMulti).map(p => p -> counts(p))), Map.empty)
      } else {
        val counts = viterbiCounts(model)
        val keptMulti = multis.toSeq
          .sortBy(p => (-counts(p), p)).take(target)
        multis = keptMulti.toSet
        model = UnigramModel(
          normalize((singles ++ keptMulti).map(p => p -> counts(p))), Map.empty)
      }
      done = multis.size <= budgetMulti
    }
    var r = 0
    while (r < emRounds) { // settle probabilities at the final vocab
      if (softEm) {
        val counts = softCounts(model)
        model = UnigramModel(
          normalizeD((singles ++ multis.toSeq.sorted).map(p => p -> counts(p))),
          Map.empty)
      } else {
        val counts = viterbiCounts(model)
        model = UnigramModel(
          normalize((singles ++ multis.toSeq.sorted).map(p => p -> counts(p))),
          Map.empty)
      }
      r += 1
    }

    val ordered = (singles ++ multis.toSeq).sorted
    val vocab = ReservedVocab ++
      ordered.zipWithIndex.map { case (p, i) => p -> (i + FirstLearnedId) }
    assert(vocab.valuesIterator.max < vocabSize,
      s"unigram id-bound invariant violated: ${vocab.valuesIterator.max} >= $vocabSize")
    UnigramModel(model.pieces, vocab)
  }

  /** [[Tokenizer.corpusWordCounts]] of the NFKC-normalized corpus →
    * driver train loop; the same corpus contract as
    * [[BpeTrainer.trainFromCorpus]]. */
  def trainFromCorpus(df: DataFrame, textCol: String, vocabSize: Int,
                      maxWords: Int = TrainerWords,
                      inputSentenceSize: Option[Int] = None,
                      characterCoverage: Double = 1.0,
                      softEm: Boolean = false): UnigramModel =
    train(corpusWordCounts(df, textCol, normalizeForTokenize, maxWords, inputSentenceSize),
      vocabSize, characterCoverage = characterCoverage, softEm = softEm)

  /** Model artifact: (kind, piece, logp, id) rows — probabilities ARE
    * the model (segmentation depends on them), stored explicitly like
    * BPE stores merge rank. One file (the rule in `Tokenizer.saveModel`),
    * written through [[Handoff]]. */
  def writeModel(spark: org.apache.spark.sql.SparkSession, path: String,
                 m: UnigramModel): Unit = {
    import spark.implicits._
    val pieces = m.pieces.toSeq.map { case (p, lp) => ("piece", p, lp, -1) }
    val vocab = m.vocab.toSeq.map { case (p, id) => ("vocab", p, 0.0, id) }
    Handoff.write((pieces ++ vocab).toDF("kind", "piece", "logp", "id").coalesce(1), path)
  }

  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): UnigramModel = {
    val rows = Handoff.read(spark, path).df
      .select("kind", "piece", "logp", "id").collect()
    val pieces = rows.filter(_.getString(0) == "piece")
      .map(r => r.getString(1) -> r.getDouble(2)).toMap
    val vocab = rows.filter(_.getString(0) == "vocab")
      .map(r => r.getString(1) -> r.getInt(3)).toMap
    UnigramModel(pieces, vocab)
  }
}

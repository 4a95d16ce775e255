package graft.operators

import graft.core.Handoff
import graft.operators.Tokenizer._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import scala.collection.mutable

/** Byte-pair-encoding tokenizer: distributed corpus statistics + the
  * standard in-memory merge loop.
  *
  * This is the real BPE training structure (as in SentencePiece/GPT-2
  * BPE, both public): the corpus-sized work — word frequency counting —
  * is a distributed groupBy; the merge loop then runs over the *word
  * frequency table* (≤ a few hundred thousand rows), which is how
  * production trainers work too — no per-merge corpus rescan. Replaces
  * the reference's native SentencePiece training
  * (reference: src/llm_data_pipeline/tokenizer/train.py:90-264) with a
  * self-contained JVM implementation honoring the same id convention
  * ([[Tokenizer]]: unk=0, bos=1, eos=2, pad=3, byte tokens 4-259;
  * reference: tokenizer/train.py:111-134).
  */
object BpeTrainer {

  private val EndOfWord = "</w>"

  case class BpeModel(merges: Seq[(String, String)], vocab: Map[String, Int])
      extends Tokenizer.Model {
    @transient private lazy val mergeRank: Map[(String, String), Int] =
      merges.zipWithIndex.toMap

    def normalize(c: Column): Column = normalizeForTokenize(c)

    /** Greedy standard BPE encode of one word: start from characters
      * (+ end-of-word marker), repeatedly apply the lowest-rank merge.
      * Symbols absent from the vocab fall back to their UTF-8 bytes —
      * never unk. */
    def encodeWord(word: String): Seq[Int] = {
      if (word.isEmpty) return Seq.empty
      var parts: Vector[String] = codePoints(word) :+ EndOfWord
      var done = false
      while (!done && parts.length > 1) {
        var bestRank = Int.MaxValue
        var bestIdx = -1
        var i = 0
        while (i < parts.length - 1) {
          mergeRank.get((parts(i), parts(i + 1))).foreach { r =>
            if (r < bestRank) { bestRank = r; bestIdx = i }
          }
          i += 1
        }
        if (bestIdx < 0) done = true
        else parts = (parts.take(bestIdx) :+ (parts(bestIdx) + parts(bestIdx + 1))) ++
          parts.drop(bestIdx + 2)
      }
      parts.flatMap(pieceIds)
    }

    /** Inverse of [[encodeText]]: symbols concatenate, byte-fallback runs
      * UTF-8-decode, end-of-word markers become spaces. Lossless for any
      * input (the roundtrip gate asserts decode(encode(t)) == t). */
    def decode(ids: Seq[Int]): String =
      decodeWith(ids) { (sb, sym) =>
        if (sym.endsWith(EndOfWord)) sb.append(sym.dropRight(EndOfWord.length)).append(' ')
        else sb.append(sym)
      }.stripSuffix(" ")
  }

  /** Apply one merge to a symbol sequence, greedy left-to-right. */
  private def applyMerge(syms: Array[String], a: String, b: String): Array[String] = {
    val merged = a + b
    val out = mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
        out += merged; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** The merge loop over a word-frequency table (pure, driver-side —
    * the table is small by construction).
    *
    * Incremental, like production trainers: pair counts live in a
    * TreeSet-backed argmax and only the words CONTAINING the merged pair
    * are recounted per iteration (occurrence index), so a merge costs
    * O(affected words × their length × log P) instead of a full corpus
    * rescan — the difference between minutes and hours at the
    * reference's 32k-vocab scale. Argmax semantics are identical to the
    * naive loop: max count, ties by lexicographic pair (the equivalence
    * is property-tested against a naive reference implementation). */
  def train(wordFreqs: Seq[(String, Long)], vocabSize: Int,
            characterCoverage: Double = 1.0): BpeModel = {
    // specials (4) + byte tokens (256) are fixed overhead; at least one
    // symbol slot must remain or every text would be pure byte fallback
    require(vocabSize > FirstLearnedId,
      s"vocabSize=$vocabSize must exceed $FirstLearnedId " +
      "(4 special + 256 byte-fallback ids are fixed overhead)")
    require(characterCoverage > 0.0 && characterCoverage <= 1.0,
      s"characterCoverage=$characterCoverage must be in (0, 1]")
    // words as symbol sequences with the end-of-word marker
    val words: Array[Array[String]] =
      wordFreqs.map(wf => (codePoints(wf._1) :+ EndOfWord).toArray).toArray
    val wfreq: Array[Long] = wordFreqs.map(_._2).toArray
    val allBase = mutable.LinkedHashSet[String](EndOfWord)
    wordFreqs.foreach(wf => codePoints(wf._1).foreach(allBase += _))
    // Alphabet cut — SentencePiece's character_coverage knob (reference:
    // src/llm_data_pipeline/tokenizer/train.py:111-134 passes 0.9995):
    // keep the minimal most-frequent-first prefix of characters whose
    // occurrence mass reaches `characterCoverage`; the tail rides byte
    // fallback. Independently, the alphabet never exceeds the symbol
    // budget (so symbol ids provably stay < vocabSize — the id-bound
    // invariant the export path relies on); whichever bound is tighter
    // wins. coverage=1.0 with a fitting alphabet keeps every char.
    val symbolBudget = vocabSize - FirstLearnedId
    val baseSymbols: mutable.LinkedHashSet[String] =
      if (allBase.size <= symbolBudget && characterCoverage >= 1.0) allBase
      else {
        val charFreq = mutable.HashMap[String, Long]().withDefaultValue(0L)
        wordFreqs.foreach { case (w, f) =>
          codePoints(w).foreach(s => charFreq(s) += f)
        }
        val sorted = allBase.toSeq.filterNot(_ == EndOfWord)
          .sortBy(s => (-charFreq(s), s))
        val total = sorted.iterator.map(charFreq).sum
        val target = math.ceil(characterCoverage * total).toLong
        var cum = 0L
        var k = 0
        while (k < sorted.size && cum < target) { cum += charFreq(sorted(k)); k += 1 }
        val kept = sorted.take(math.min(k, symbolBudget - 1))
        mutable.LinkedHashSet(EndOfWord) ++ kept
      }

    // only kept-alphabet symbols (and their merge products) may form
    // merge candidates: without this, a coverage-cut char would sneak
    // back into the vocab through a merged pair (e.g. cut 'z' + '</w>'
    // -> learned 'z</w>'), defeating the alphabet cut. Membership is
    // decided once per symbol (base chars at the cut, merge products at
    // creation) and never changes, so add/remove bookkeeping stays
    // symmetric. No cut -> every symbol mergeable -> prior behavior.
    val mergeable = mutable.HashSet[String]() ++ baseSymbols
    val counts = mutable.HashMap[(String, String), Long]()
    val occ = mutable.HashMap[(String, String), mutable.HashSet[Int]]()
    val bestFirst: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long.reverse, Ordering.String, Ordering.String)
        .on((t: (Long, String, String)) => (t._1, t._2, t._3))
    val ranked = mutable.TreeSet.empty[(Long, String, String)](bestFirst)

    def bump(p: (String, String), delta: Long): Unit = {
      val old = counts.getOrElse(p, 0L)
      val nw = old + delta
      if (old != 0L) ranked.remove((old, p._1, p._2))
      if (nw != 0L) { counts(p) = nw; ranked.add((nw, p._1, p._2)) }
      else counts.remove(p)
    }
    def removeWord(wi: Int): Unit = {
      val syms = words(wi); val f = wfreq(wi)
      var i = 0
      while (i < syms.length - 1) {
        if (mergeable(syms(i)) && mergeable(syms(i + 1))) {
          val p = (syms(i), syms(i + 1))
          bump(p, -f)
          occ.get(p).foreach { s => s -= wi; if (s.isEmpty && !counts.contains(p)) occ.remove(p) }
        }
        i += 1
      }
    }
    def addWord(wi: Int): Unit = {
      val syms = words(wi); val f = wfreq(wi)
      var i = 0
      while (i < syms.length - 1) {
        if (mergeable(syms(i)) && mergeable(syms(i + 1))) {
          val p = (syms(i), syms(i + 1))
          bump(p, f)
          occ.getOrElseUpdate(p, mutable.HashSet.empty[Int]) += wi
        }
        i += 1
      }
    }
    words.indices.foreach(addWord)

    val merges = mutable.ArrayBuffer[(String, String)]()
    // vocabSize budget = specials (4) + byte-fallback tokens (256) +
    // base symbols + merges — the SentencePiece convention where byte
    // tokens count inside vocab_size, so max emitted id < vocabSize
    val maxMerges = math.max(0, vocabSize - FirstLearnedId - baseSymbols.size)
    var iter = 0
    var exhausted = false
    while (iter < maxMerges && !exhausted) {
      if (ranked.isEmpty) exhausted = true
      else {
        val (_, a, b) = ranked.head
        merges += ((a, b))
        mergeable += a + b
        val affected = occ.getOrElse((a, b), mutable.HashSet.empty[Int]).toArray.sorted
        affected.foreach { wi =>
          removeWord(wi)
          words(wi) = applyMerge(words(wi), a, b)
          addWord(wi)
        }
        // the merged pair must be gone from the index now (its count fell
        // to zero when every occurrence was rewritten)
      }
      iter += 1
    }

    val symbols = (baseSymbols.toSeq ++ merges.map(m => m._1 + m._2)).distinct
    val vocab = ReservedVocab ++
      symbols.zipWithIndex.map { case (s, i) => s -> (i + FirstLearnedId) }
    assert(vocab.valuesIterator.max < vocabSize,
      s"BPE id-bound invariant violated: max id ${vocab.valuesIterator.max} >= $vocabSize")
    BpeModel(merges.toSeq, vocab)
  }

  /** [[Tokenizer.corpusWordCounts]] of the NFKC-normalized corpus →
    * driver merge loop. `maxWords` bounds the frequency table (the long
    * tail below it cannot affect early merges materially — standard
    * trainer practice); `inputSentenceSize` trains on the deterministic
    * hash-ordered sample; `characterCoverage` maps to the alphabet cut
    * in [[train]]. */
  def trainFromCorpus(df: DataFrame, textCol: String, vocabSize: Int,
                      maxWords: Int = 100000,
                      inputSentenceSize: Option[Int] = None,
                      characterCoverage: Double = 1.0): BpeModel =
    train(corpusWordCounts(df, textCol, normalizeForTokenize, maxWords, inputSentenceSize),
      vocabSize, characterCoverage)

  /** [[Tokenizer.encode]] with a BPE model; kept by name for the
    * benchmark program (perfbench/scala/perfbench/Main.scala). */
  def tokenize(df: DataFrame, textCol: String, model: BpeModel): DataFrame =
    Tokenizer.encode(df, textCol, model)

  /** Persist a trained model as the parquet artifact the pipeline hands
    * from train_tokenizer to tokenize — the deployment seam the
    * reference's `tokenizer.model` file plays (reference:
    * src/llm_data_pipeline/tokenizer/train.py:111-134): train once, ship
    * the artifact, and any job tokenizes identically. Two tables under
    * `dir`, each one file written through [[Handoff]]:
    * `bpe_merges_parquet` (rank, left, right) — merge ORDER is the model
    * (rank = priority), stored explicitly because parquet row order is
    * not a contract — and `bpe_vocab_parquet` (word, freq, id), freq
    * always 0. */
  def writeModel(spark: SparkSession, dir: String, m: BpeModel): Unit = {
    import spark.implicits._
    Handoff.write(m.merges.zipWithIndex.map { case ((a, b), r) => (r, a, b) }
      .toDF("rank", "left", "right").coalesce(1), s"$dir/bpe_merges_parquet")
    Handoff.write(m.vocab.toSeq.map { case (w, i) => (w, 0L, i) }
      .toDF("word", "freq", "id").coalesce(1), s"$dir/bpe_vocab_parquet")
  }

  def loadModel(spark: SparkSession, dir: String): BpeModel = {
    import spark.implicits._
    val merges = Handoff.read(spark, s"$dir/bpe_merges_parquet").df
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = Handoff.read(spark, s"$dir/bpe_vocab_parquet").df
      .select("word", "id").as[(String, Int)].collect().toMap
    BpeModel(merges, vocab)
  }
}

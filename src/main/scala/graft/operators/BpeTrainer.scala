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

  /** The merge loop over a word-frequency table (pure, driver-side —
    * the table is small by construction).
    *
    * Incremental, like production trainers, and on primitives: every
    * symbol is interned to an `Int` by its string (two merges that spell
    * the same string make one symbol), a word is an `Array[Int]`, and a
    * pair is one `Long` key (`left << 32 | right`) into a slot table of
    * live counts and occurrence lists. A merge rewrites only the words
    * that contain the merged pair and recounts their pairs, so it costs
    * O(affected words × their length) plus the heap pushes of the counts
    * that moved. The argmax is a binary heap with lazy invalidation: a
    * popped entry whose count is no longer its pair's live count is
    * stale and dropped. Argmax semantics are identical to the naive
    * loop: max count, ties by (left, right) in `Ordering.String` (UTF-16
    * order); the equivalence is property-tested against a naive
    * reference implementation, and one merge list is pinned by digest. */
  def train(wordFreqs: Seq[(String, Long)], vocabSize: Int,
            characterCoverage: Double = 1.0): BpeModel = {
    // specials (4) + byte tokens (256) are fixed overhead; at least one
    // symbol slot must remain or every text would be pure byte fallback
    require(vocabSize > FirstLearnedId,
      s"vocabSize=$vocabSize must exceed $FirstLearnedId " +
      "(4 special + 256 byte-fallback ids are fixed overhead)")
    require(characterCoverage > 0.0 && characterCoverage <= 1.0,
      s"characterCoverage=$characterCoverage must be in (0, 1]")
    // symbol id -> string; the end-of-word marker is id 0 and the
    // characters follow in order of first appearance, so ids
    // 0 until nChars are the whole alphabet in its LinkedHashSet order
    val strs = mutable.ArrayBuffer[String]()
    val idOf = mutable.HashMap[String, Int]()
    def intern(s: String): Int = idOf.getOrElseUpdate(s, { strs += s; strs.length - 1 })
    intern(EndOfWord)
    // words as symbol sequences with the end-of-word marker
    val words: Array[Array[Int]] = wordFreqs.iterator.map { case (w, _) =>
      (codePoints(w).iterator.map(intern) ++ Iterator(0)).toArray
    }.toArray
    val wfreq: Array[Long] = wordFreqs.iterator.map(_._2).toArray
    val nChars = strs.length
    // Alphabet cut — SentencePiece's character_coverage knob (reference:
    // src/llm_data_pipeline/tokenizer/train.py:111-134 passes 0.9995):
    // keep the minimal most-frequent-first prefix of characters whose
    // occurrence mass reaches `characterCoverage`; the tail rides byte
    // fallback. Independently, the alphabet never exceeds the symbol
    // budget (so symbol ids provably stay < vocabSize — the id-bound
    // invariant the export path relies on); whichever bound is tighter
    // wins. coverage=1.0 with a fitting alphabet keeps every char.
    val symbolBudget = vocabSize - FirstLearnedId
    val baseSymbols: Seq[Int] =
      if (nChars <= symbolBudget && characterCoverage >= 1.0) 0 until nChars
      else {
        val charFreq = new Array[Long](nChars)
        var wi = 0
        while (wi < words.length) {
          val syms = words(wi)
          var i = 0
          while (i < syms.length - 1) { charFreq(syms(i)) += wfreq(wi); i += 1 }
          wi += 1
        }
        val sorted = (1 until nChars).sortBy(s => (-charFreq(s), strs(s)))
        val target = math.ceil(characterCoverage * sorted.iterator.map(charFreq(_)).sum).toLong
        var cum = 0L
        var k = 0
        while (k < sorted.size && cum < target) { cum += charFreq(sorted(k)); k += 1 }
        0 +: sorted.take(math.min(k, symbolBudget - 1))
      }

    // only kept-alphabet symbols (and their merge products) may form
    // merge candidates: without this, a coverage-cut char would sneak
    // back into the vocab through a merged pair (e.g. cut 'z' + '</w>'
    // -> learned 'z</w>'), defeating the alphabet cut. Membership is
    // decided once per symbol (base chars at the cut, merge products at
    // creation) and never changes, so add/remove bookkeeping stays
    // symmetric. No cut -> every symbol mergeable -> prior behavior.
    var mergeable = new Array[Boolean](math.max(16, nChars * 2))
    baseSymbols.foreach(mergeable(_) = true)

    val pairs = new PairTable
    val heap = new PairHeap(pairs, strs)
    // slots whose count moved during the current merge, with the count
    // each had before it
    var stamp = new Array[Int](1024)
    var before = new Array[Long](1024)
    val moved = mutable.ArrayBuffer[Int]()
    var round = 1
    def bump(wi: Int, sign: Long): Unit = {
      val syms = words(wi); val f = sign * wfreq(wi)
      var i = 0
      while (i < syms.length - 1) {
        val a = syms(i); val b = syms(i + 1)
        if (mergeable(a) && mergeable(b)) {
          val s = pairs.slot(a, b)
          if (s >= stamp.length) {
            stamp = java.util.Arrays.copyOf(stamp, s * 2)
            before = java.util.Arrays.copyOf(before, s * 2)
          }
          if (stamp(s) != round) { stamp(s) = round; before(s) = pairs.count(s); moved += s }
          pairs.count(s) += f
          if (sign > 0) pairs.addOccurrence(s, wi)
        }
        i += 1
      }
    }
    words.indices.foreach(bump(_, 1L))
    moved.foreach(s => if (pairs.count(s) > 0) heap.push(s))

    val merges = mutable.ArrayBuffer[(String, String)]()
    // vocabSize budget = specials (4) + byte-fallback tokens (256) +
    // base symbols + merges — the SentencePiece convention where byte
    // tokens count inside vocab_size, so max emitted id < vocabSize
    val maxMerges = math.max(0, vocabSize - FirstLearnedId - baseSymbols.size)
    var exhausted = false
    while (merges.length < maxMerges && !exhausted) {
      val best = heap.popLive()
      if (best < 0) exhausted = true
      else {
        val a = pairs.left(best); val b = pairs.right(best)
        merges += ((strs(a), strs(b)))
        val ab = intern(strs(a) + strs(b))
        if (ab >= mergeable.length) mergeable = java.util.Arrays.copyOf(mergeable, ab * 2)
        mergeable(ab) = true
        round += 1
        moved.clear()
        // the occurrence list may name a word twice, or a word a past
        // merge rewrote; neither changes the counts, as the merge skips
        // a word without the pair
        pairs.takeOccurrences(best).foreach { wi =>
          val rewritten = applyMerge(words(wi), a, b, ab)
          if (rewritten.length < words(wi).length) {
            bump(wi, -1L)
            words(wi) = rewritten
            bump(wi, 1L)
          }
        }
        moved.foreach(s => if (pairs.count(s) > 0 && pairs.count(s) != before(s)) heap.push(s))
      }
    }

    val symbols = (baseSymbols.map(strs) ++ merges.map(m => m._1 + m._2)).distinct
    val vocab = ReservedVocab ++
      symbols.zipWithIndex.map { case (s, i) => s -> (i + FirstLearnedId) }
    assert(vocab.valuesIterator.max < vocabSize,
      s"BPE id-bound invariant violated: max id ${vocab.valuesIterator.max} >= $vocabSize")
    BpeModel(merges.toSeq, vocab)
  }

  /** One merge applied to a symbol sequence, greedy left-to-right. */
  private def applyMerge(syms: Array[Int], a: Int, b: Int, ab: Int): Array[Int] = {
    val out = new Array[Int](syms.length)
    var i = 0
    var o = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) { out(o) = ab; i += 2 }
      else { out(o) = syms(i); i += 1 }
      o += 1
    }
    if (o == syms.length) syms else java.util.Arrays.copyOf(out, o)
  }

  /** Symbol pairs by slot: an open-addressing index from the packed key
    * `left << 32 | right` to a dense slot, and per slot the pair's live
    * count and the words it was added in (duplicates and stale entries
    * allowed; [[takeOccurrences]] sorts them out). */
  private final class PairTable {
    private var index = Array.fill(1 << 12)(-1)
    private var keys = new Array[Long](1 << 10)
    var count = new Array[Long](1 << 10)
    private var occ = new Array[Array[Int]](1 << 10)
    private var occLen = new Array[Int](1 << 10)
    private var size = 0

    def left(s: Int): Int = (keys(s) >>> 32).toInt
    def right(s: Int): Int = keys(s).toInt

    private def home(key: Long, mask: Int): Int = {
      val h = key * 0x9E3779B97F4A7C15L
      (h ^ (h >>> 29)).toInt & mask
    }

    /** The slot of pair (a, b), created with count 0 if new. */
    def slot(a: Int, b: Int): Int = {
      val key = (a.toLong << 32) | (b & 0xffffffffL)
      val mask = index.length - 1
      var i = home(key, mask)
      while (index(i) >= 0) {
        if (keys(index(i)) == key) return index(i)
        i = (i + 1) & mask
      }
      val s = size
      if (s == keys.length) {
        keys = java.util.Arrays.copyOf(keys, s * 2)
        count = java.util.Arrays.copyOf(count, s * 2)
        occ = java.util.Arrays.copyOf(occ, s * 2)
        occLen = java.util.Arrays.copyOf(occLen, s * 2)
      }
      keys(s) = key
      size += 1
      index(i) = s
      if (size * 2 > index.length) rehash()
      s
    }

    private def rehash(): Unit = {
      index = Array.fill(index.length * 2)(-1)
      val mask = index.length - 1
      var s = 0
      while (s < size) {
        var i = home(keys(s), mask)
        while (index(i) >= 0) i = (i + 1) & mask
        index(i) = s
        s += 1
      }
    }

    def addOccurrence(s: Int, wi: Int): Unit = {
      val n = occLen(s)
      if (n == 0 || occ(s)(n - 1) != wi) {
        if (occ(s) == null) occ(s) = new Array[Int](4)
        else if (n == occ(s).length) occ(s) = java.util.Arrays.copyOf(occ(s), n * 2)
        occ(s)(n) = wi
        occLen(s) = n + 1
      }
    }

    /** The distinct words pair `s` was added in, ascending; the list is
      * emptied (the merge of `s` rewrites every one of them). */
    def takeOccurrences(s: Int): Array[Int] = {
      val ws = if (occ(s) == null) Array.emptyIntArray else java.util.Arrays.copyOf(occ(s), occLen(s))
      occ(s) = null
      occLen(s) = 0
      java.util.Arrays.sort(ws)
      var o = 0
      var i = 0
      while (i < ws.length) {
        if (o == 0 || ws(o - 1) != ws(i)) { ws(o) = ws(i); o += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(ws, o)
    }
  }

  /** A binary max-heap of (count, slot) entries, ordered by count
    * descending, then the pair's (left, right) strings ascending. An
    * entry is pushed whenever a pair's count moves and is never updated
    * in place: one whose count differs from its pair's live count is
    * stale. */
  private final class PairHeap(pairs: PairTable, strs: mutable.ArrayBuffer[String]) {
    private var counts = new Array[Long](1 << 12)
    private var slots = new Array[Int](1 << 12)
    private var size = 0

    private def before(i: Int, j: Int): Boolean = {
      val ci = counts(i); val cj = counts(j)
      if (ci != cj) ci > cj
      else {
        val si = slots(i); val sj = slots(j)
        val l = strs(pairs.left(si)).compareTo(strs(pairs.left(sj)))
        if (l != 0) l < 0
        else strs(pairs.right(si)).compareTo(strs(pairs.right(sj))) < 0
      }
    }

    private def swap(i: Int, j: Int): Unit = {
      val c = counts(i); counts(i) = counts(j); counts(j) = c
      val s = slots(i); slots(i) = slots(j); slots(j) = s
    }

    /** Push slot `s` at its live count. */
    def push(s: Int): Unit = {
      if (size == counts.length) {
        counts = java.util.Arrays.copyOf(counts, size * 2)
        slots = java.util.Arrays.copyOf(slots, size * 2)
      }
      counts(size) = pairs.count(s); slots(size) = s
      var i = size
      size += 1
      while (i > 0 && before(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    }

    private def pop(): Unit = {
      size -= 1
      counts(0) = counts(size); slots(0) = slots(size)
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var top = i
        if (l < size && before(l, top)) top = l
        if (r < size && before(r, top)) top = r
        if (top == i) done = true else { swap(i, top); i = top }
      }
    }

    /** The slot of the best live pair, removed from the heap; -1 when no
      * pair is left. */
    def popLive(): Int = {
      while (size > 0 && counts(0) != pairs.count(slots(0))) pop()
      if (size == 0) -1
      else { val s = slots(0); pop(); s }
    }
  }

  /** [[Tokenizer.corpusWordCounts]] of the NFKC-normalized corpus →
    * driver merge loop. `maxWords` bounds the frequency table
    * ([[Tokenizer.TrainerWords]]); `inputSentenceSize` trains on the
    * deterministic hash-ordered sample; `characterCoverage` maps to the
    * alphabet cut in [[train]]. */
  def trainFromCorpus(df: DataFrame, textCol: String, vocabSize: Int,
                      maxWords: Int = TrainerWords,
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
    * `dir`, each one file (the rule in `Tokenizer.saveModel`) written
    * through [[Handoff]]:
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

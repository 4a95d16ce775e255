package graft.operators

import graft.core.{Handoff, PerRow}
import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicReference
import scala.collection.mutable

/** The tokenizer layer: the id convention, the encode loop, the corpus
  * word count and the distributed encode, once for every model.
  *
  * Three models sit behind it: [[BpeTrainer.BpeModel]] (ranked byte-pair
  * merges), [[UnigramTrainer.UnigramModel]] (Viterbi over scored pieces)
  * and [[WordModel]] (the pipeline's frequency-ranked word vocab). A
  * model supplies its normalization and `encodeWord`; [[Model]] owns the
  * byte fallback, the word memo and `encodeText`.
  *
  * Id convention (reference: tokenizer/train.py:111-134, SentencePiece
  * with byte_fallback): unk/bos/eos/pad = 0-3, byte tokens
  * <0x00>..<0xFF> = 4-259, learned symbols and pieces from 260. The word
  * vocab has no byte block: its words follow the specials from id 4, and
  * a word outside it is unk.
  */
object Tokenizer {

  val UnkId = 0; val BosId = 1; val EosId = 2; val PadId = 3
  /** The special tokens, by id. */
  val Specials: Seq[String] = Seq("<unk>", "<bos>", "<eos>", "<pad>")
  /** Byte-fallback tokens <0x00>..<0xFF> occupy ids 4..259: a character
    * outside the trained alphabet encodes as its UTF-8 bytes, so no input
    * ever maps to unk. */
  val ByteIdBase = 4
  /** The first id a trainer gives a learned symbol or piece. */
  val FirstLearnedId: Int = ByteIdBase + 256

  /** The ids a trained subword vocab starts with: specials and byte tokens. */
  val ReservedVocab: Map[String, Int] = Specials.zipWithIndex.toMap ++
    (0 until 256).map(b => f"<0x$b%02X>" -> (ByteIdBase + b))

  /** Split into per-code-point strings (NOT UTF-16 chars: a surrogate
    * pair like an emoji must stay one symbol or byte fallback would
    * UTF-8-encode lone surrogates as replacement chars). */
  def codePoints(word: String): Vector[String] =
    word.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp)))

  /** The normalization BPE and unigram text crosses before training or
    * encoding: Unicode NFKC (the reference's nmt_nfkc rule — full-width
    * forms, ligatures compose) then whitespace-flatten + lowercase. */
  def normalizeForTokenize(c: Column): Column =
    TextFunctions.normalizeForDedup(HashFunctions.normalizeNfkc(c))

  /** A tokenizer model: its normalization and its per-word encode. The
    * encode loop over a normalized text is shared. */
  trait Model extends Serializable {
    /** symbol / piece / word -> id, specials included. */
    def vocab: Map[String, Int]
    /** The normalization text crosses before [[encodeText]]. */
    def normalize(c: Column): Column
    /** The ids of one whitespace-free word. */
    def encodeWord(word: String): Seq[Int]

    /** The id of an in-vocab piece, else its UTF-8 bytes as byte tokens. */
    protected def pieceIds(piece: String): Seq[Int] = vocab.get(piece) match {
      case Some(id) => Seq(id)
      case None => piece.getBytes(UTF_8).toSeq.map(b => ByteIdBase + (b & 0xff))
    }

    @transient private lazy val idToPiece: Map[Int, String] = vocab.map(_.swap)

    /** Ids back to text: byte-token runs UTF-8-decode, specials and
      * unknown ids vanish, every other piece goes to `append`. */
    protected def decodeWith(ids: Seq[Int])(append: (StringBuilder, String) => Unit): String = {
      val sb = new StringBuilder
      val bytes = new mutable.ArrayBuffer[Byte]()
      def flush(): Unit = if (bytes.nonEmpty) {
        sb.append(new String(bytes.toArray, UTF_8))
        bytes.clear()
      }
      ids.foreach { id =>
        if (id >= ByteIdBase && id < FirstLearnedId) bytes += (id - ByteIdBase).toByte
        else {
          flush()
          idToPiece.get(id).filterNot(Specials.contains).foreach(append(sb, _))
        }
      }
      flush()
      sb.toString
    }

    @transient private lazy val wordCache =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Int]]()

    /** Memoized [[encodeWord]] — natural corpora repeat words heavily
      * (Zipf), so the encode is paid once per distinct word. Unboxed ids:
      * the cache-hit path is the hot loop of every tokenize job, so it
      * must not re-box a Seq per occurrence. Callers never mutate the
      * array. */
    private def encodeWordIds(word: String): Array[Int] = {
      val hit = wordCache.get(word)
      if (hit != null) hit
      else {
        val ids = encodeWord(word).toArray
        if (wordCache.size < 1000000) wordCache.put(word, ids)
        ids
      }
    }

    /** Identical output to
      * `text.split("\\s+").iterator.filter(_.nonEmpty).flatMap(encodeWord).toArray`
      * (pinned per model in the trainer specs): splitWsRuns is the same
      * token stream without the per-call regex, and the two-pass
      * arraycopy fill is the same concatenation without boxing. */
    def encodeText(text: String): Array[Int] = {
      val words = TextFunctions.splitWsRuns(text)
      val parts = new Array[Array[Int]](words.length)
      var total = 0
      var i = 0
      while (i < words.length) {
        val p = encodeWordIds(words(i)); parts(i) = p; total += p.length; i += 1
      }
      val out = new Array[Int](total)
      var o = 0
      i = 0
      while (i < words.length) {
        val p = parts(i); System.arraycopy(p, 0, out, o, p.length); o += p.length; i += 1
      }
      out
    }
  }

  /** The pipeline's word vocab: dedup-normalized words (lowercase +
    * whitespace-flatten, no NFKC), ranked by frequency from id 4. A word
    * outside it is unk. Normalized text holds no whitespace but ' ', so
    * [[Model.encodeText]]'s split is `split(norm, " ")` minus empties.
    * `words` is the ranked table (word, corpus frequency): `words(i)`
    * takes id 4 + i. */
  case class WordModel(words: Seq[(String, Long)]) extends Model {
    /** The vocab table in id order, the specials at frequency 0 first:
      * the artifact's rows. */
    def table: Seq[(String, Long)] = Specials.map(_ -> 0L) ++ words
    lazy val vocab: Map[String, Int] = table.iterator.map(_._1).zipWithIndex.toMap
    def normalize(c: Column): Column = TextFunctions.normalizeForDedup(c)
    def encodeWord(word: String): Seq[Int] = Seq(vocab.getOrElse(word, UnkId))
  }

  /** The trainers' word-table bound; the tail below it barely moves early merges. */
  val TrainerWords: Int = 100000

  /** The corpus word count every trainer starts from: the `limit` most
    * frequent normalized words, ordered (freq desc, word asc). A
    * distributed groupBy; only the bounded table reaches the driver.
    *
    * `inputSentenceSize` is SentencePiece's input_sentence_size knob
    * (the reference passes 5M + shuffle, tokenizer/train.py:111-134):
    * count a bounded corpus sample instead of every row. The sample is
    * the `n` rows with the smallest hashed text — deterministic (same
    * corpus → same counts at any partitioning, the fitKmeansOnSample
    * convention) and a TakeOrdered, never a full sort. None counts the
    * whole corpus. */
  def corpusWordCounts(df: DataFrame, textCol: String, normalize: Column => Column,
                       limit: Int, inputSentenceSize: Option[Int] = None): Seq[(String, Long)] = {
    val rows = inputSentenceSize match {
      case Some(n) =>
        require(n > 0, "need inputSentenceSize > 0")
        df.select(col(textCol))
          .orderBy(xxhash64(col(textCol)), col(textCol)).limit(n)
      case None => df.select(col(textCol))
    }
    rows
      .select(explode(split(normalize(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(desc("f"), asc("w"))
      .limit(limit)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
  }

  /** The artifact directories of a `kind` model ("bpe" | "unigram" |
    * "word", [[graft.core.Pipeline.PipelineConfig]]'s `tokenizer`) under
    * `base`. */
  def artifactDirs(base: String, kind: String): Seq[String] = kind match {
    case "bpe" => Seq(s"$base/bpe_merges_parquet", s"$base/bpe_vocab_parquet")
    case "unigram" => Seq(s"$base/unigram_model_parquet")
    case _ => Seq(s"$base/vocab_parquet")
  }

  /** A model as [[loadModel]] found it: the one [[saveModel]] kept in
    * driver memory, or one read from its artifact. */
  case class Loaded(model: Model, fromMemory: Boolean)

  /** The last model saved, with the part files [[Handoff]] recorded for
    * its artifact directories. One entry, so memory stays bounded. */
  private case class Saved(dirs: Seq[String], files: Seq[Map[String, Long]], model: Model)
  private val lastSaved = new AtomicReference[Option[Saved]](None)

  /** The part files [[Handoff]] recorded for each of `dirs`, while every
    * directory still holds exactly them. */
  private def intactFiles(spark: SparkSession, dirs: Seq[String]): Option[Seq[Map[String, Long]]] = {
    val files = dirs.map(Handoff.writtenFiles(spark, _))
    if (files.forall(_.isDefined)) Some(files.flatten) else None
  }

  /** Write `model`'s artifact under `base` through [[Handoff]] and keep
    * the model in driver memory for [[loadModel]]. Every model table is
    * written as one file by `coalesce(1)`: a driver-sized table needs
    * no shuffle and no more than one task, and the readers key by word,
    * piece or id, so row order inside the file does not matter. */
  def saveModel(spark: SparkSession, base: String, model: Model): Unit = {
    import spark.implicits._
    val kind = model match {
      case m: BpeTrainer.BpeModel => BpeTrainer.writeModel(spark, base, m); "bpe"
      case m: UnigramTrainer.UnigramModel =>
        UnigramTrainer.writeModel(spark, artifactDirs(base, "unigram").head, m); "unigram"
      case m: WordModel =>
        Handoff.write(m.table.zipWithIndex.map { case ((w, f), id) => (w, f, id) }
          .toDF("word", "freq", "id").coalesce(1), artifactDirs(base, "word").head)
        "word"
    }
    val dirs = artifactDirs(base, kind)
    lastSaved.set(intactFiles(spark, dirs).map(Saved(dirs, _, model)))
  }

  /** The `kind` model under `base`: the one [[saveModel]] kept, with no
    * Spark job, when it was the last one saved in this JVM and every
    * artifact directory still holds exactly the part files written then;
    * otherwise (a `--resume-from` in a new JVM, a directory rewritten by
    * anything else) read from the artifact. */
  def loadModel(spark: SparkSession, base: String, kind: String): Loaded = {
    import spark.implicits._
    val dirs = artifactDirs(base, kind)
    lastSaved.get.filter(s => s.dirs == dirs && intactFiles(spark, dirs).contains(s.files)) match {
      case Some(s) => Loaded(s.model, fromMemory = true)
      case None => Loaded(kind match {
        case "bpe" => BpeTrainer.loadModel(spark, base)
        case "unigram" => UnigramTrainer.loadModel(spark, dirs.head)
        case _ =>
          val table = Handoff.read(spark, dirs.head).df
            .select("word", "freq", "id").as[(String, Long, Int)].collect().sortBy(_._3)
          require(table.map(_._3).toSeq == table.indices && table.length >= Specials.length,
            s"${dirs.head}: ids are not 0 until ${table.length}")
          WordModel(table.toSeq.drop(Specials.length).map(r => (r._1, r._2)))
      }, fromMemory = false)
    }
  }

  /** Drops the model [[saveModel]] kept, as a new JVM starts without it. */
  private[graft] def forgetSavedModel(): Unit = lastSaved.set(None)

  /** Distributed encode with the broadcast model: every input column
    * plus `ids: array<int>`, the model's [[Model.encodeText]] of the
    * normalized `textCol` (NULL text gives NULL ids), appended through
    * [[PerRow.append]] — a column, so Catalyst prunes `textCol` when
    * nothing above reads it. */
  def encode(df: DataFrame, textCol: String, model: Model): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val ids = udf((norm: String) => if (norm == null) null else bc.value.encodeText(norm))
    PerRow.append(df, Seq("ids"), struct(ids(model.normalize(col(textCol)))))
  }
}

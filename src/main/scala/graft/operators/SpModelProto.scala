package graft.operators

import java.nio.file.{Files, Paths}

/** SentencePiece `.model` (ModelProto) interop — the reference's
  * deployment artifact (reference: src/llm_data_pipeline/tokenizer/
  * run.py:35-48 loads a `SentencePieceProcessor` from it;
  * inspect_model.py:1-16 dumps its piece table). The wire format is
  * the public `sentencepiece_model.proto` from the SentencePiece
  * repository, serialized as standard protobuf; this is a minimal
  * hand-rolled reader/writer for exactly the fields the engine needs —
  * no protobuf library dependency, tolerant of (skips) every field it
  * does not know.
  *
  * Field map (public sentencepiece_model.proto):
  *  - ModelProto.pieces = 1 (repeated SentencePiece)
  *      SentencePiece.piece = 1 (string), .score = 2 (float),
  *      .type = 3 (enum: NORMAL=1 default, UNKNOWN=2, CONTROL=3,
  *      USER_DEFINED=4, UNUSED=5, BYTE=6)
  *  - ModelProto.trainer_spec = 2: model_type = 3 (UNIGRAM=1, BPE=2),
  *      vocab_size = 4, unk_id = 40, bos_id = 41, eos_id = 42,
  *      pad_id = 43
  *  - ModelProto.normalizer_spec = 3: name = 1
  *
  * Layout contract: the loader requires the reference's id layout —
  * specials at the trainer-spec ids (0-3 by default), byte-fallback
  * pieces <0x00>..<0xFF> at 4..259 when present, scored pieces after
  * (reference: tokenizer/train.py:111-134 trains with exactly
  * unk/bos/eos/pad = 0/1/2/3 and byte_fallback=True;
  * inspect_model.py's own comment documents the 4..259 byte block).
  * Models with another layout fail fast with a clear message instead
  * of mis-encoding.
  *
  * BPE semantics note: a SentencePiece BPE .model carries RANKED
  * PIECES (score = -rank), not (left, right) merge pairs — the real
  * SentencePiece encoder merges whichever adjacent symbol pair's
  * CONCATENATION is the best-ranked piece. [[loadBpe]] reproduces
  * exactly that: every 2-split of a ranked piece into two known
  * symbols becomes a merge entry at that piece's rank, so the loaded
  * [[BpeTrainer.BpeModel]] encodes with true SentencePiece pair-merge
  * semantics. */
object SpModelProto {

  // ---- piece types (sentencepiece_model.proto enum) ----
  val TypeNormal = 1; val TypeUnknown = 2; val TypeControl = 3
  val TypeUserDefined = 4; val TypeUnused = 5; val TypeByte = 6
  // ---- trainer_spec.model_type ----
  val ModelUnigram = 1; val ModelBpe = 2

  case class SpPiece(piece: String, score: Float, pieceType: Int)
  case class SpModel(pieces: IndexedSeq[SpPiece], modelType: Int,
                     unkId: Int, bosId: Int, eosId: Int, padId: Int)

  // ======================= wire-format primitives =======================

  private final class Reader(buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def readVarint(): Long = {
      var shift = 0; var out = 0L
      var b = 0
      do {
        if (pos >= end) throw new IllegalArgumentException(
          "truncated varint in .model file")
        b = buf(pos) & 0xff; pos += 1
        out |= (b & 0x7fL) << shift; shift += 7
      } while ((b & 0x80) != 0 && shift < 70)
      out
    }
    def readFloat(): Float = {
      if (pos + 4 > end) throw new IllegalArgumentException(
        "truncated float in .model file")
      val bits = (buf(pos) & 0xff) | ((buf(pos + 1) & 0xff) << 8) |
        ((buf(pos + 2) & 0xff) << 16) | ((buf(pos + 3) & 0xff) << 24)
      pos += 4
      java.lang.Float.intBitsToFloat(bits)
    }
    def readBytes(n: Int): Array[Byte] = {
      if (pos + n > end) throw new IllegalArgumentException(
        "truncated length-delimited field in .model file")
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; out
    }
    def sub(n: Int): Reader = {
      if (pos + n > end) throw new IllegalArgumentException(
        "truncated submessage in .model file")
      val r = new Reader(buf, pos, pos + n); pos += n; r
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => readVarint()
      case 1 => pos += 8
      case 2 => val n = readVarint().toInt; pos += n
      case 5 => pos += 4
      case w => throw new IllegalArgumentException(s"unsupported wire type $w")
    }
  }

  private final class Writer {
    private val out = new java.io.ByteArrayOutputStream()
    def writeVarint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def key(field: Int, wireType: Int): Unit = writeVarint((field << 3) | wireType)
    def writeString(field: Int, s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      key(field, 2); writeVarint(b.length); out.write(b, 0, b.length)
    }
    def writeFloat(field: Int, f: Float): Unit = {
      key(field, 5)
      val bits = java.lang.Float.floatToIntBits(f)
      out.write(bits & 0xff); out.write((bits >> 8) & 0xff)
      out.write((bits >> 16) & 0xff); out.write((bits >> 24) & 0xff)
    }
    /** int32/enum fields: negatives go out as 10-byte sign-extended
      * varints (the protobuf int32 convention — pad_id = -1 must
      * survive a round-trip). */
    def writeInt(field: Int, v: Int): Unit = { key(field, 0); writeVarint(v.toLong) }
    def writeMessage(field: Int, m: Writer): Unit = {
      val b = m.toBytes
      key(field, 2); writeVarint(b.length); out.write(b, 0, b.length)
    }
    def toBytes: Array[Byte] = out.toByteArray
  }

  // ============================ reading ============================

  /** Parse a `.model` file into its piece table + the trainer-spec
    * fields the engine consumes. */
  def read(path: String): SpModel = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val r = new Reader(bytes, 0, bytes.length)
    val pieces = IndexedSeq.newBuilder[SpPiece]
    var modelType = ModelUnigram
    var unkId = Tokenizer.UnkId; var bosId = Tokenizer.BosId
    var eosId = Tokenizer.EosId; var padId = Tokenizer.PadId
    while (r.hasMore) {
      val tag = r.readVarint()
      val field = (tag >> 3).toInt; val wt = (tag & 7).toInt
      (field, wt) match {
        case (1, 2) => // SentencePiece
          val sp = r.sub(r.readVarint().toInt)
          var piece = ""; var score = 0.0f; var tpe = TypeNormal
          while (sp.hasMore) {
            val t2 = sp.readVarint()
            ((t2 >> 3).toInt, (t2 & 7).toInt) match {
              case (1, 2) => piece = new String(
                sp.readBytes(sp.readVarint().toInt),
                java.nio.charset.StandardCharsets.UTF_8)
              case (2, 5) => score = sp.readFloat()
              case (3, 0) => tpe = sp.readVarint().toInt
              case (_, w) => sp.skip(w)
            }
          }
          pieces += SpPiece(piece, score, tpe)
        case (2, 2) => // TrainerSpec
          val ts = r.sub(r.readVarint().toInt)
          while (ts.hasMore) {
            val t2 = ts.readVarint()
            ((t2 >> 3).toInt, (t2 & 7).toInt) match {
              case (3, 0) => modelType = ts.readVarint().toInt
              case (40, 0) => unkId = ts.readVarint().toInt
              case (41, 0) => bosId = ts.readVarint().toInt
              case (42, 0) => eosId = ts.readVarint().toInt
              case (43, 0) => padId = ts.readVarint().toInt
              case (_, w) => ts.skip(w)
            }
          }
        case (_, w) => r.skip(w)
      }
    }
    SpModel(pieces.result(), modelType, unkId, bosId, eosId, padId)
  }

  private val BytePiece = "^<0x([0-9A-Fa-f]{2})>$".r

  private def requireLayout(m: SpModel): Unit = {
    val n = m.pieces.length
    require(n > 0, "empty .model piece table")
    def ok(id: Int) = id >= -1 && id < n
    require(ok(m.unkId) && ok(m.bosId) && ok(m.eosId) && ok(m.padId),
      s"special ids out of range: unk=${m.unkId} bos=${m.bosId} " +
        s"eos=${m.eosId} pad=${m.padId} vs $n pieces")
    val byteIds = m.pieces.zipWithIndex.collect {
      case (p, i) if p.pieceType == TypeByte => i }
    // the engine's encode/decode address the byte-fallback block
    // POSITIONALLY at 4..259 (the Tokenizer id convention), so a
    // model without that block cannot load into these structures —
    // fail fast rather than alias real pieces onto byte ids
    require(byteIds == (Tokenizer.ByteIdBase until Tokenizer.FirstLearnedId),
      "byte-fallback pieces must occupy ids 4..259 (the reference " +
        "layout, tokenizer/train.py unk/bos/eos/pad=0-3 + " +
        "byte_fallback=True); got byte ids " +
        s"[${byteIds.headOption.getOrElse(-1)}..${byteIds.lastOption.getOrElse(-1)}] x${byteIds.size}")
  }

  /** Canonical special names by POSITION (trainer-spec ids), so an
    * external model's `<s>`/`</s>` land on the engine's
    * `<bos>`/`<eos>` slots and the decode filter keeps working. */
  private def canonicalName(m: SpModel, id: Int, raw: String): String =
    if (id == m.unkId) "<unk>" else if (id == m.bosId) "<bos>"
    else if (id == m.eosId) "<eos>" else if (id == m.padId) "<pad>"
    else raw

  /** Load a UNIGRAM `.model` into the engine's
    * [[UnigramTrainer.UnigramModel]]: scored NORMAL/USER_DEFINED
    * pieces become (piece -> logP) entries, every piece becomes a
    * (name -> id) vocab entry, byte pieces keep the `<0xXX>` names at
    * ids 4..259 (the fallback block [[UnigramTrainer.UnigramModel]]
    * addresses positionally). */
  def loadUnigram(path: String): UnigramTrainer.UnigramModel = {
    val m = read(path)
    require(m.modelType == ModelUnigram,
      s"model_type=${m.modelType} is not UNIGRAM($ModelUnigram) — use loadBpe for BPE models")
    requireLayout(m)
    val pieces = scala.collection.mutable.LinkedHashMap[String, Double]()
    val vocab = scala.collection.mutable.LinkedHashMap[String, Int]()
    m.pieces.zipWithIndex.foreach { case (p, id) =>
      val name = canonicalName(m, id, p.piece)
      vocab(name) = id
      if (p.pieceType == TypeNormal || p.pieceType == TypeUserDefined)
        pieces(p.piece) = p.score.toDouble
    }
    UnigramTrainer.UnigramModel(pieces.toMap, vocab.toMap)
  }

  /** Load a BPE `.model` into the engine's [[BpeTrainer.BpeModel]].
    * Scores encode merge priority (score = -rank); merge pairs are
    * reconstructed with SentencePiece's own pair semantics — every
    * 2-split of a ranked piece into two in-vocab symbols merges at
    * that piece's rank (the concatenation-lookup rule of the real
    * SentencePiece BPE encoder). */
  def loadBpe(path: String): BpeTrainer.BpeModel = {
    val m = read(path)
    require(m.modelType == ModelBpe,
      s"model_type=${m.modelType} is not BPE($ModelBpe) — use loadUnigram for unigram models")
    requireLayout(m)
    val vocab = scala.collection.mutable.LinkedHashMap[String, Int]()
    m.pieces.zipWithIndex.foreach { case (p, id) =>
      vocab(canonicalName(m, id, p.piece)) = id
    }
    // ranked pieces ascending by rank (score = -(rank+1) per the
    // writer; any non-positive score is a rank for external models —
    // real SentencePiece BPE dumps commonly put score 0 on the
    // highest-priority merge, so `<= 0` keeps it; single-char pieces
    // are excluded because they produce no 2-splits and base-vocab
    // chars legitimately carry score 0 without being merges).
    // Symbols usable as a merge side: every vocab entry except the
    // specials.
    val sides = vocab.keySet.filterNot(Tokenizer.Specials.contains)
    val ranked = m.pieces.zipWithIndex
      .filter { case (p, id) =>
        p.score <= 0f && p.pieceType == TypeNormal && p.piece.length > 1 }
      .sortBy { case (p, id) => (-p.score, id) }
    val merges = ranked.iterator.flatMap { case (p, _) =>
      val s = p.piece
      // all 2-splits into known symbols, deterministic left-length order
      (1 until s.length).iterator
        .map(i => (s.substring(0, i), s.substring(i)))
        .filter { case (a, b) => sides.contains(a) && sides.contains(b) }
    }.toSeq
    BpeTrainer.BpeModel(merges, vocab.toMap)
  }

  // ============================ writing ============================

  private def trainerSpec(modelType: Int, vocabSize: Int): Writer = {
    val ts = new Writer
    ts.writeInt(3, modelType)
    ts.writeInt(4, vocabSize)
    ts.writeInt(40, Tokenizer.UnkId); ts.writeInt(41, Tokenizer.BosId)
    ts.writeInt(42, Tokenizer.EosId); ts.writeInt(43, Tokenizer.PadId)
    ts
  }

  private def writeModel(path: String, piecesById: IndexedSeq[SpPiece],
                         modelType: Int): Unit = {
    val w = new Writer
    piecesById.foreach { p =>
      val sp = new Writer
      sp.writeString(1, p.piece)
      sp.writeFloat(2, p.score)
      if (p.pieceType != TypeNormal) sp.writeInt(3, p.pieceType)
      w.writeMessage(1, sp)
    }
    w.writeMessage(2, trainerSpec(modelType, piecesById.length))
    val ns = new Writer; ns.writeString(1, "identity")
    w.writeMessage(3, ns)
    val out = Paths.get(path)
    if (out.getParent != null) Files.createDirectories(out.getParent)
    Files.write(out, w.toBytes)
  }

  private def pieceTable(vocab: Map[String, Int],
                         score: String => Option[Float]): IndexedSeq[SpPiece] = {
    val byId = vocab.toSeq.sortBy(_._2)
    require(byId.map(_._2) == byId.indices,
      "vocab ids must be dense 0..n-1 to serialize a .model piece table")
    byId.map { case (name, id) =>
      val tpe = name match {
        case "<unk>" => TypeUnknown
        case "<bos>" | "<eos>" | "<pad>" => TypeControl
        case BytePiece(_) if id >= Tokenizer.ByteIdBase &&
          id < Tokenizer.FirstLearnedId => TypeByte
        case _ => TypeNormal
      }
      SpPiece(name, if (tpe == TypeNormal) score(name).getOrElse(0f) else 0f, tpe)
    }.toIndexedSeq
  }

  /** Export a trained unigram model as a SentencePiece-compatible
    * `.model` file (piece scores = log probabilities). */
  def writeUnigram(path: String, m: UnigramTrainer.UnigramModel): Unit =
    writeModel(path, pieceTable(m.vocab, p => m.pieces.get(p).map(_.toFloat)),
      ModelUnigram)

  /** Export a trained BPE model: merged symbols carry score
    * -(rank+1) (rank 0 = highest priority), alphabet symbols score 0
    * — the SentencePiece BPE score convention ([[loadBpe]] inverts
    * it). */
  def writeBpe(path: String, m: BpeTrainer.BpeModel): Unit = {
    val rankOf: Map[String, Int] = m.merges.zipWithIndex
      .map { case ((a, b), r) => (a + b) -> r }
      .groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).min }
    writeModel(path, pieceTable(m.vocab,
      p => rankOf.get(p).map(r => -(r + 1).toFloat)), ModelBpe)
  }

  /** The `inspect_model.py` analog: the piece table as rows of
    * (id, piece, score, piece_type). */
  def inspect(spark: org.apache.spark.sql.SparkSession,
              path: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val m = read(path)
    m.pieces.zipWithIndex.map { case (p, id) =>
      (id.toLong, p.piece, p.score.toDouble, p.pieceType.toLong)
    }.toDF("id", "piece", "score", "piece_type")
  }
}

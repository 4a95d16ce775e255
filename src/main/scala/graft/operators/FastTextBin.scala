package graft.operators

import graft.core.PerRow
import java.io.{BufferedInputStream, DataOutputStream, FileInputStream, FileOutputStream}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** fastText `.bin` supervised-model loader — the reference's
  * lid.176.bin seam (reference: src/llm_data_pipeline/quality/
  * model.py:267-340 loads `fasttext.load_model(path)` and predicts
  * `(label, prob)` per text). This reads the PUBLIC fastText file
  * format (magic 793712314, version 12: args, dictionary, dense input
  * matrix of nwords+bucket rows, dense output matrix) and reproduces
  * the supervised prediction path: tokens -> word ids + char-ngram
  * bucket ids (+ word-ngram line hashes) -> mean of input rows ->
  * output matrix -> softmax -> argmax label.
  *
  * Faithful to the public reference implementation:
  *  - FNV-1a 32-bit token hash with fastText's SIGN-EXTENDED byte XOR
  *    (`h ^= int8_t(c)`), the detail that changes every hash of
  *    non-ASCII text;
  *  - char n-grams over `<word>` (BOW/EOW added), UTF-8
  *    continuation-byte aware, skipping the 1-gram that is just BOW or
  *    ends at EOW (the `n == 1 && (i == 0 || j == size)` rule);
  *  - OOV tokens contribute ONLY their char-ngram bucket ids; in-dict
  *    tokens contribute their word id + char-ngrams (when maxn > 0);
  *  - word-ngram hashes: `h = h * 116049371 + h_next` over the raw
  *    token FNV hashes, bucketed;
  *  - predict appends the EOS token (`</s>`) like the real
  *    `predict(text)` does (it feeds the line reader a newline).
  *
  * Quantized models (`quant_` flag set, .ftz) are supported: the
  * public QuantMatrix layout (qnorm flag, m/n, codes, product
  * quantizer of ksub=256 centroids per subquantizer, optional norm
  * quantizer) is decoded EAGERLY to a dense matrix at load time —
  * predict then runs the identical dense path. Pruned dictionaries
  * (`pruneidx`, the `quantize -cutoff` artifact every released .ftz
  * carries) are honored: char-ngram and word-ngram bucket ids remap
  * through the prune index and absent ids drop, fastText's
  * `Dictionary::pushHash` rule. */
object FastTextBin {

  val Magic = 793712314
  val Version = 12
  val Eos = "</s>"
  val Bow = "<"; val Eow = ">"

  /** Loaded model: `words` maps token -> dict id (0..nwords-1);
    * `labels(i)` is output row i's label; `input` is the
    * (nwords + bucket) x dim embedding table, row-major; `output` is
    * nlabels x dim. */
  case class FtModel(dim: Int, bucket: Int, minn: Int, maxn: Int,
                     wordNgrams: Int, nwords: Int,
                     words: Map[String, Int], labels: Array[String],
                     input: Array[Float], output: Array[Float],
                     pruneIdx: Option[Map[Int, Int]] = None)
      extends Serializable {

    /** Input-matrix row id for bucket index `b` (0..bucket-1):
      * `nwords + b` for an unpruned model; through the prune index for
      * a `quantize -cutoff` model (fastText `Dictionary::pushHash`) —
      * -1 when the bucket was pruned away (the id contributes
      * nothing). */
    private def bucketRowId(b: Int): Int = pruneIdx match {
      case None => nwords + b
      case Some(m) => m.get(b).map(nwords + _).getOrElse(-1)
    }

    /** fastText's FNV-1a with sign-extended bytes. */
    def hash(s: String): Int = {
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var h = 0x811c9dc5 // 2166136261
      var i = 0
      while (i < bytes.length) {
        h = h ^ bytes(i) // sign-extended: int8_t semantics
        h = h * 16777619
        i += 1
      }
      h
    }

    private def unsigned(h: Int): Long = h.toLong & 0xffffffffL

    /** Char n-gram bucket ids of one token (BOW/EOW wrapped), the
      * `computeSubwords` rule. Returns ABSOLUTE input-matrix row ids
      * (nwords + bucket index). */
    def subwordIds(token: String): Seq[Int] = {
      if (maxn <= 0) return Seq.empty
      val w = (Bow + token + Eow).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val out = scala.collection.mutable.ArrayBuffer[Int]()
      var i = 0
      while (i < w.length) {
        if ((w(i) & 0xc0) != 0x80) { // start only at UTF-8 lead bytes
          var j = i
          var n = 1
          while (j < w.length && n <= maxn) {
            var k = j + 1
            while (k < w.length && (w(k) & 0xc0) == 0x80) k += 1 // absorb continuations
            j = k
            if (n >= minn && !(n == 1 && (i == 0 || j == w.length))) {
              val ng = new String(w, i, j - i, java.nio.charset.StandardCharsets.UTF_8)
              val id = bucketRowId((unsigned(hash(ng)) % bucket).toInt)
              if (id >= 0) out += id
            }
            n += 1
          }
        }
        i += 1
      }
      out.toSeq
    }

    /** The supervised `getLine` + `addWordNgrams` input-id bag for one
      * normalized text. */
    def lineIds(text: String): Array[Int] = {
      // bit-equivalent to text.split("\\s+").filter(_.nonEmpty) — see
      // TextFunctions.splitWsRuns (no per-row regex in the LID hot loop)
      val tokens = graft.functions.TextFunctions.splitWsRuns(text) :+ Eos
      val ids = scala.collection.mutable.ArrayBuffer[Int]()
      val tokenHashes = scala.collection.mutable.ArrayBuffer[Int]()
      tokens.foreach { t =>
        words.get(t) match {
          case Some(wid) =>
            ids += wid
            if (maxn > 0 && t != Eos) ids ++= subwordIds(t) // EOS gets no subwords
          case None =>
            if (t != Eos) ids ++= subwordIds(t)
        }
        tokenHashes += hash(t) // EOS hash IS in the word-ngram stream (getLine)
      }
      if (wordNgrams > 1) {
        // fastText stores token hashes as int32 and converts each to
        // uint64 with SIGN extension (`uint64_t h = hashes[i]` over a
        // vector<int32_t>) — plain .toLong reproduces that; masking to
        // the low 32 bits would diverge for every hash with the top
        // bit set (~half of tokens).
        var i = 0
        while (i < tokenHashes.length) {
          var h = tokenHashes(i).toLong
          var j = i + 1
          while (j < tokenHashes.length && j < i + wordNgrams) {
            h = h * 116049371L + tokenHashes(j).toLong
            val id = bucketRowId(
              java.lang.Long.remainderUnsigned(h, bucket.toLong).toInt)
            if (id >= 0) ids += id
            j += 1
          }
          i += 1
        }
      }
      ids.toArray
    }

    /** `(label, prob)` top-1 prediction; `("__label__unknown", 0.0)`
      * for empty/whitespace-only text — the reference wrapper
      * normalizes and falls back BEFORE predicting (quality/model.py
      * LanguageFilter.predict: `if not text: return unknown`), so an
      * empty line never scores through the bare EOS token. */
    def predict(text: String): (String, Double) = {
      if (text.trim.isEmpty) return ("__label__unknown", 0.0)
      val ids = lineIds(text)
      if (ids.isEmpty || labels.isEmpty) return ("__label__unknown", 0.0)
      val hidden = new Array[Double](dim)
      ids.foreach { id =>
        val off = id * dim
        var d = 0
        while (d < dim) { hidden(d) += input(off + d); d += 1 }
      }
      var d = 0
      while (d < dim) { hidden(d) /= ids.length; d += 1 }
      val scores = new Array[Double](labels.length)
      var li = 0
      while (li < labels.length) {
        val off = li * dim
        var s = 0.0
        var k = 0
        while (k < dim) { s += output(off + k) * hidden(k); k += 1 }
        scores(li) = s
        li += 1
      }
      val mx = scores.max
      var z = 0.0
      li = 0
      while (li < labels.length) { z += math.exp(scores(li) - mx); li += 1 }
      var best = 0
      li = 1
      while (li < labels.length) { // first max wins (fastText heap order)
        if (scores(li) > scores(best)) best = li
        li += 1
      }
      (labels(best), math.exp(scores(best) - mx) / z)
    }
  }

  // ============================ reading ============================

  private final class In(path: String) {
    private val s = new BufferedInputStream(new FileInputStream(path), 1 << 20)
    def i32(): Int = { // little-endian
      val a = s.read(); val b = s.read(); val c = s.read(); val d = s.read()
      if (d < 0) throw new IllegalArgumentException(s"truncated .bin: $path")
      a | (b << 8) | (c << 16) | (d << 24)
    }
    def i64(): Long = (i32().toLong & 0xffffffffL) | (i32().toLong << 32)
    def f64(): Double = java.lang.Double.longBitsToDouble(i64())
    def i8(): Int = {
      val v = s.read()
      if (v < 0) throw new IllegalArgumentException(s"truncated .bin: $path")
      v
    }
    def cstring(): String = {
      val out = new java.io.ByteArrayOutputStream()
      var b = s.read()
      while (b > 0) { out.write(b); b = s.read() }
      if (b < 0) throw new IllegalArgumentException(s"truncated .bin: $path")
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    }
    def bytes(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var read = 0
      while (read < n) {
        val r = s.read(buf, read, n - read)
        if (r < 0) throw new IllegalArgumentException(s"truncated .bin: $path")
        read += r
      }
      buf
    }
    def floats(n: Long): Array[Float] = {
      // bound is floats-per-BYTE-buffer: n*4 must fit an Int, so the
      // require must fire before `n.toInt * 4` can overflow
      require(n <= (Int.MaxValue - 8) / 4, s"matrix too large for a local load: $n floats")
      val buf = new Array[Byte](n.toInt * 4)
      var read = 0
      while (read < buf.length) {
        val r = s.read(buf, read, buf.length - read)
        if (r < 0) throw new IllegalArgumentException(s"truncated .bin: $path")
        read += r
      }
      val fb = java.nio.ByteBuffer.wrap(buf)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
      val out = new Array[Float](n.toInt)
      fb.get(out)
      out
    }
    def close(): Unit = s.close()
  }

  /** Product quantizer (the public `ProductQuantizer::save` layout):
    * ksub=256 centroids per subquantizer, flat centroid table of
    * dim x 256 floats; the last subquantizer covers `lastdsub` dims. */
  private final case class Pq(dim: Int, nsubq: Int, dsub: Int,
                              lastdsub: Int, centroids: Array[Float]) {
    def centroidOffset(m: Int, code: Int): Int =
      if (m == nsubq - 1) m * 256 * dsub + code * lastdsub
      else (m * 256 + code) * dsub
  }

  private def readPq(in: In): Pq = {
    val dim = in.i32(); val nsubq = in.i32()
    val dsub = in.i32(); val lastdsub = in.i32()
    Pq(dim, nsubq, dsub, lastdsub, in.floats(dim.toLong * 256L))
  }

  /** `QuantMatrix::load` + eager dense decode: qnorm flag, m/n,
    * per-row codes, the data PQ, and (when qnorm) per-row norm codes +
    * the norm PQ. Decode reproduces `addRowToVector`: row t =
    * alpha * concat(centroid(m, codes[t*nsubq+m])) with alpha the
    * decoded norm (1 without qnorm). */
  private def readQuantMatrix(in: In, path: String): (Long, Long, Array[Float]) = {
    val qnorm = in.i8() != 0
    val m = in.i64(); val n = in.i64()
    val codesize = in.i32()
    require(m >= 0 && n > 0 && m * n <= (Int.MaxValue - 8) / 4,
      s"$path quantized matrix too large for a local load: ${m}x$n")
    val codes = in.bytes(codesize)
    val pq = readPq(in)
    require(pq.dim == n, s"$path quantizer dim ${pq.dim} != matrix cols $n")
    require(codesize.toLong == m * pq.nsubq,
      s"$path code table size $codesize != m*nsubq ${m * pq.nsubq}")
    val (normCodes, npq) =
      if (qnorm) { val nc = in.bytes(m.toInt); (nc, readPq(in)) }
      else (null: Array[Byte], null: Pq)
    val out = new Array[Float]((m * n).toInt)
    var t = 0
    while (t < m.toInt) {
      val alpha =
        if (qnorm) npq.centroids(npq.centroidOffset(0, normCodes(t) & 0xff))
        else 1.0f
      var sm = 0
      while (sm < pq.nsubq) {
        val d = if (sm == pq.nsubq - 1) pq.lastdsub else pq.dsub
        val co = pq.centroidOffset(sm, codes(t * pq.nsubq + sm) & 0xff)
        var k = 0
        while (k < d) {
          out(t * n.toInt + sm * pq.dsub + k) = alpha * pq.centroids(co + k)
          k += 1
        }
        sm += 1
      }
      t += 1
    }
    (m, n, out)
  }

  /** Load a `.bin` or `.ftz` supervised model (format version 12, the
    * public layout every released lid/quality model uses). */
  def read(path: String): FtModel = {
    val in = new In(path)
    try {
      require(in.i32() == Magic,
        s"$path is not a fastText .bin (bad magic)")
      val version = in.i32()
      require(version <= Version,
        s"$path is format version $version; this loader supports <= $Version")
      // Args (args.cc save order)
      val dim = in.i32()
      in.i32() // ws
      in.i32() // epoch
      in.i32() // minCount
      in.i32() // neg
      val wordNgrams = in.i32()
      in.i32() // loss
      in.i32() // model (sup=3)
      val bucket = in.i32()
      val minn = in.i32()
      val maxn = in.i32()
      in.i32() // lrUpdateRate
      in.f64() // t
      // Dictionary (dictionary.cc save order)
      val size = in.i32()
      val nwords = in.i32()
      val nlabels = in.i32()
      in.i64() // ntokens
      val pruneSize = in.i64()
      val words = scala.collection.mutable.LinkedHashMap[String, Int]()
      val labels = scala.collection.mutable.ArrayBuffer[String]()
      var wi = 0
      var i = 0
      while (i < size) {
        val w = in.cstring()
        in.i64() // count
        val tpe = in.i8()
        if (tpe == 0) { words(w) = wi; wi += 1 } else labels += w
        i += 1
      }
      require(wi == nwords && labels.length == nlabels,
        s"$path dictionary inconsistent: $wi/$nwords words, ${labels.length}/$nlabels labels")
      // prune index (quantize -cutoff): original bucket id -> row
      // index within the pruned ngram block
      val pruneIdx: Option[Map[Int, Int]] =
        if (pruneSize <= 0) None
        else {
          val mb = Map.newBuilder[Int, Int]
          var p = 0L
          while (p < pruneSize) { mb += (in.i32() -> in.i32()); p += 1 }
          Some(mb.result())
        }
      val quant = in.i8()
      val (rows, cols, input) =
        if (quant == 0) {
          val r = in.i64(); val c = in.i64(); (r, c, in.floats(r * c))
        } else readQuantMatrix(in, path)
      require(cols == dim, s"$path input matrix cols $cols != dim $dim")
      val ngramRows = pruneIdx.map(_.size.toLong).getOrElse(bucket.toLong)
      require(rows == nwords.toLong + ngramRows,
        s"$path input matrix rows $rows != nwords+ngram rows ${nwords.toLong + ngramRows}")
      val qout = in.i8()
      val (oRows, oCols, output) =
        if (qout == 0) {
          val r = in.i64(); val c = in.i64(); (r, c, in.floats(r * c))
        } else readQuantMatrix(in, path)
      require(oCols == dim && oRows == nlabels.toLong,
        s"$path output matrix ${oRows}x$oCols != ${nlabels}x$dim")
      FtModel(dim, bucket, minn, maxn, wordNgrams, nwords,
        words.toMap, labels.toArray, input, output, pruneIdx)
    } finally in.close()
  }

  // ============================ writing ============================

  /** Write a dense supervised `.bin` in the same public layout —
    * fixture construction for the zero-egress gate (and an export
    * seam: a model assembled here loads in real fastText). `wordRows`
    * are (token -> embedding) for dict words IN DICT ORDER;
    * `labelRows` are (label -> output row) in output order; bucket
    * rows not listed default to zero. */
  def write(path: String, dim: Int, bucket: Int, minn: Int, maxn: Int,
            wordNgrams: Int, wordRows: Seq[(String, Array[Float])],
            labelRows: Seq[(String, Array[Float])],
            bucketRows: Map[Int, Array[Float]] = Map.empty): Unit = {
    require(wordRows.forall(_._2.length == dim) &&
      labelRows.forall(_._2.length == dim), "embedding dim mismatch")
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      new FileOutputStream(path), 1 << 20))
    def i32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def i64(v: Long): Unit = { i32(v.toInt); i32((v >> 32).toInt) }
    def f32(v: Float): Unit = i32(java.lang.Float.floatToIntBits(v))
    try {
      i32(Magic); i32(Version)
      i32(dim); i32(5); i32(5); i32(1); i32(5) // ws epoch minCount neg
      i32(wordNgrams); i32(3); i32(3) // loss=softmax model=sup
      i32(bucket); i32(minn); i32(maxn); i32(100) // lrUpdateRate
      i64(java.lang.Double.doubleToLongBits(1e-4)) // t
      // dictionary
      i32(wordRows.length + labelRows.length)
      i32(wordRows.length); i32(labelRows.length)
      i64(1000L) // ntokens (informational)
      i64(0L) // pruneidx_size
      wordRows.foreach { case (w, _) =>
        out.write(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.write(0); i64(100L); out.write(0) // count, type=word
      }
      labelRows.foreach { case (l, _) =>
        out.write(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.write(0); i64(100L); out.write(1) // count, type=label
      }
      out.write(0) // quant_ = false
      i64(wordRows.length.toLong + bucket); i64(dim.toLong)
      wordRows.foreach(_._2.foreach(f32))
      val zero = new Array[Float](dim)
      (0 until bucket).foreach { b =>
        bucketRows.getOrElse(b, zero).foreach(f32)
      }
      out.write(0) // qout_ = false
      i64(labelRows.length.toLong); i64(dim.toLong)
      labelRows.foreach(_._2.foreach(f32))
    } finally out.close()
  }

  /** Write a QUANTIZED supervised model (`.ftz`) in the public
    * `quantize` output layout — fixture construction for the
    * zero-egress gate, exact by design: each subquantizer's centroid
    * table is the DISTINCT sub-vectors of the input rows (<= 256 of
    * them, enforced), so decode reproduces every row bit-for-bit and a
    * `.ftz` built here predicts identically to its dense `.bin` twin
    * (no k-means approximation — this tests the FORMAT path, not
    * quantization error). `qnorm` additionally codes per-row norms
    * (decode is then norm * (row/norm), exercising the norm-PQ branch
    * at float tolerance); `pruneIdx` (original bucket id -> pruned row
    * index, the `-cutoff` artifact) writes a reduced ngram block whose
    * rows come from `bucketRows` at the ORIGINAL ids. */
  def writeQuantized(path: String, dim: Int, bucket: Int, minn: Int,
                     maxn: Int, wordNgrams: Int,
                     wordRows: Seq[(String, Array[Float])],
                     labelRows: Seq[(String, Array[Float])],
                     bucketRows: Map[Int, Array[Float]] = Map.empty,
                     dsub: Int = 2, qnorm: Boolean = false,
                     qout: Boolean = true,
                     pruneIdx: Seq[(Int, Int)] = Nil): Unit = {
    require(wordRows.forall(_._2.length == dim) &&
      labelRows.forall(_._2.length == dim), "embedding dim mismatch")
    require(pruneIdx.isEmpty ||
      pruneIdx.map(_._2).sorted == (0 until pruneIdx.length),
      "pruned row indices must be dense 0..n-1")
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      new FileOutputStream(path), 1 << 20))
    def i32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def i64(v: Long): Unit = { i32(v.toInt); i32((v >> 32).toInt) }
    def f32(v: Float): Unit = i32(java.lang.Float.floatToIntBits(v))
    // exact PQ of a row set: distinct sub-vectors as centroids
    def pqEncode(rows: Array[Array[Float]], d0: Int, sub: Int)
        : (Pq, Array[Byte]) = {
      val nsubq = (d0 + sub - 1) / sub
      val lastdsub = if (d0 % sub == 0) sub else d0 % sub
      val centroids = new Array[Float](d0 * 256)
      val codes = new Array[Byte](rows.length * nsubq)
      val pq = Pq(d0, nsubq, sub, lastdsub, centroids)
      var m = 0
      while (m < nsubq) {
        val d = if (m == nsubq - 1) lastdsub else sub
        val seen = scala.collection.mutable.LinkedHashMap[Seq[Float], Int]()
        rows.zipWithIndex.foreach { case (r, t) =>
          val sv = r.slice(m * sub, m * sub + d).toSeq
          val code = seen.getOrElseUpdate(sv, seen.size)
          require(seen.size <= 256,
            "exact PQ fixture writer supports <= 256 distinct sub-vectors per subquantizer")
          codes(t * nsubq + m) = code.toByte
          System.arraycopy(sv.toArray, 0, centroids, pq.centroidOffset(m, code), d)
        }
        m += 1
      }
      (pq, codes)
    }
    def writePq(pq: Pq): Unit = {
      i32(pq.dim); i32(pq.nsubq); i32(pq.dsub); i32(pq.lastdsub)
      pq.centroids.foreach(f32)
    }
    def writeQuantMatrix(rows0: Array[Array[Float]]): Unit = {
      out.write(if (qnorm) 1 else 0)
      i64(rows0.length.toLong); i64(dim.toLong)
      val (norms, coded) =
        if (!qnorm) (null: Array[Float], rows0)
        else {
          val ns = rows0.map(r => math.sqrt(r.map(x => x.toDouble * x).sum).toFloat)
          // zero rows keep alpha 0 and code their raw (zero) sub-vectors
          (ns, rows0.zip(ns).map { case (r, n) =>
            if (n == 0f) r else r.map(_ / n) })
        }
      val (pq, codes) = pqEncode(coded, dim, dsub)
      i32(codes.length)
      out.write(codes)
      writePq(pq)
      if (qnorm) {
        val (npq, ncodes) = pqEncode(norms.map(Array(_)), 1, 1)
        out.write(ncodes)
        writePq(npq)
      }
    }
    try {
      i32(Magic); i32(Version)
      i32(dim); i32(5); i32(5); i32(1); i32(5) // ws epoch minCount neg
      i32(wordNgrams); i32(3); i32(3) // loss=softmax model=sup
      i32(bucket); i32(minn); i32(maxn); i32(100) // lrUpdateRate
      i64(java.lang.Double.doubleToLongBits(1e-4)) // t
      i32(wordRows.length + labelRows.length)
      i32(wordRows.length); i32(labelRows.length)
      i64(1000L)
      i64(pruneIdx.length.toLong)
      wordRows.foreach { case (w, _) =>
        out.write(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.write(0); i64(100L); out.write(0)
      }
      labelRows.foreach { case (l, _) =>
        out.write(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.write(0); i64(100L); out.write(1)
      }
      pruneIdx.foreach { case (orig, pruned) => i32(orig); i32(pruned) }
      out.write(1) // quant_ = true
      val zero = new Array[Float](dim)
      val ngramBlock: Array[Array[Float]] =
        if (pruneIdx.nonEmpty)
          pruneIdx.sortBy(_._2)
            .map { case (orig, _) => bucketRows.getOrElse(orig, zero) }.toArray
        else (0 until bucket).map(b => bucketRows.getOrElse(b, zero)).toArray
      writeQuantMatrix(wordRows.map(_._2).toArray ++ ngramBlock)
      out.write(if (qout) 1 else 0)
      if (qout) writeQuantMatrix(labelRows.map(_._2).toArray)
      else {
        i64(labelRows.length.toLong); i64(dim.toLong)
        labelRows.foreach(_._2.foreach(f32))
      }
    } finally out.close()
  }

  // ====================== DataFrame integration ======================

  /** The top-1 `(label, prob)` struct of each row's text, as a column:
    * a Scala UDF over the broadcast model, zero shuffle, NULL text ->
    * NULL struct (the [[TrainedLid.label]] convention). */
  def predict(text: Column, model: FtModel): Column = {
    val bc = SparkSession.active.sparkContext.broadcast(model)
    udf((t: String) => if (t == null) null else bc.value.predict(t)).apply(text)
  }

  /** `df` plus `outCol` (top-1 label) and `probCol`, the [[predict]] of
    * `textCol`, appended through [[PerRow.append]]. */
  def predictDf(df: DataFrame, textCol: String, model: FtModel,
                outCol: String = "lang_pred_ft",
                probCol: String = "lang_prob_ft"): DataFrame =
    PerRow.append(df, Seq(outCol, probCol), predict(col(textCol), model))
}

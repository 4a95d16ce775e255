package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hash / sketch expressions the built-in function set lacks.
  *
  * All are deterministic custom Catalyst `Expression`s (preference order
  * per the engine design: built-ins > custom Expression > per-row UDF
  * through `PerRow` > `mapPartitions` only for partition state).
  * They evaluate on `UTF8String` bytes directly — no JVM String
  * allocation on the hot path — which is what keeps a 128-perm MinHash
  * affordable over billions of documents.
  *
  * Unsigned-64 semantics note: the reference MinHash
  * (reference: src/llm_data_pipeline/dedup/minhash.py:71-125) works in
  * numpy uint64 with mod-2^64 wraparound. JVM `Long` `*`/`+` wrap
  * identically; only comparisons differ, so minima are taken with
  * `java.lang.Long.compareUnsigned`.
  */
object HashFunctions {

  /** xxhash64 with caller-chosen seed (Spark's builtin `xxhash64` pins
    * seed=42; the reference uses seed-0 `xxh64_intdigest`,
    * reference: src/llm_data_pipeline/dedup/minhash.py:96). */
  def xxhash64Seed(c: Column, seed: Long): Column =
    ExpressionUtils.column(XxHash64String(ExpressionUtils.expression(c), seed))

  def xxhash64Seed0(c: Column): Column = xxhash64Seed(c, 0L)

  /** Base-31 Horner rolling hash over UTF-8 bytes → Long. */
  def rollingHash64(c: Column): Column =
    ExpressionUtils.column(RollingHash64(ExpressionUtils.expression(c)))

  /** zlib-deflate compression ratio of the UTF-8 text (bytes out /
    * bytes in) — the classic cheap redundancy signal: boilerplate and
    * repeated spans compress far below prose, gibberish compresses
    * worse. See [[DeflateRatio]]. */
  def deflateRatio(c: Column): Column =
    ExpressionUtils.column(DeflateRatio(ExpressionUtils.expression(c)))

  /** MinHash signature: k unsigned-min values over hashed character
    * n-gram shingles of the (pre-normalized) input string. */
  def minhash(c: Column, k: Int = 128, ngram: Int = 5, seed: Long = 42L): Column =
    ExpressionUtils.column(MinHashSignature(ExpressionUtils.expression(c), k, ngram, seed))

  /** Unicode NFKC normalization (full-width → ASCII, ligature
    * decomposition, etc.). */
  def normalizeNfkc(c: Column): Column =
    ExpressionUtils.column(NormalizeNfkc(ExpressionUtils.expression(c)))

  /** 64-bit SimHash over whitespace-token shingles of the input string. */
  def simhash64(c: Column, ngram: Int = 2): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(c), ngram))

  /** Per-language stopword hit counts in ONE pass (array<int>, one
    * entry per language). Exactly the `\b(w1|...)\b` regex semantics the
    * LID oracles use — a hit is a maximal ASCII word-char run
    * ([a-z0-9_], input pre-lowered) equal to a stopword — but tokenized
    * once instead of one full regex scan per language. */
  def langIdLabelExpr(c: Column, table: Seq[(String, Seq[String])],
                      cjkRatio: Double): Column =
    ExpressionUtils.column(LangIdLabel(ExpressionUtils.expression(c), table, cjkRatio))

  def stopwordLangHits(c: Column, table: Seq[Seq[String]]): Column =
    ExpressionUtils.column(StopwordLangHits(ExpressionUtils.expression(c), table))

  /** `best / greatest(total, 1)` over [[stopwordLangHits]]' counts, one
    * pass; see [[StopwordMargin]]. */
  def stopwordMargin(c: Column, table: Seq[Seq[String]]): Column =
    ExpressionUtils.column(StopwordMargin(ExpressionUtils.expression(c), table))

  /** Sign-LSH bucket ids for `tables` independent hyperplane tables in
    * one pass (array<long>, one bucket per table). The Column-HOF
    * formulation evaluates `tables × planes` interpreted aggregate
    * lambdas per row; this computes all of them in a single traversal
    * of the vector. Planes are derived deterministically from
    * (seed, table, plane, dim) via splitmix64 — executors need no
    * shared state. */
  def signBuckets(c: Column, planes: Int, seed: Long, tables: Int): Column =
    ExpressionUtils.column(SignBuckets(ExpressionUtils.expression(c), planes, seed, tables))

  /** DISTINCT xxh64 hashes of all char n-gram shingles, one byte-wise
    * pass (array<long>). The fast face of `TextFunctions.charShingles`:
    * a `substr`-per-index expression is O(len²) per row because
    * code-point indexing rescans from the string start, which measured
    * ~14 s over sf0.1 documents vs <1 s here. Distinct-set cardinalities
    * (and so Jaccard) match the string-shingle sets modulo 64-bit
    * collisions — which an exact external oracle would expose. */
  def charShingleHashes(c: Column, ngram: Int): Column =
    ExpressionUtils.column(CharShingleHashes(ExpressionUtils.expression(c), ngram))

  /** Highest multiplicity of any element of an array<bigint> — one
    * native sort + run scan per row, replacing the interpreted
    * array_sort + `aggregate` struct-fold (the d24 top-gram signal).
    * NULL elements count as one group; empty array → 0. */
  def maxMultiplicity(c: Column): Column =
    ExpressionUtils.column(MaxMultiplicity(ExpressionUtils.expression(c)))

  /** Cosine similarity of two numeric arrays in ONE pass (dot and both
    * norms together) as a codegen-bridged expression — the zip_with +
    * aggregate HOF formulation is interpreted (no codegen, no CSE) and
    * walks the arrays three times. Bit-identical accumulation order to
    * the HOF version, so oracle-pinned scores are unchanged. */
  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSim(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Squared L2 distance of two numeric arrays in one pass — same
    * codegen-bridged shape and null semantics as [[cosineSim]]
    * (length mismatch or null element → null). Accumulates
    * `(x−y)²` left-to-right in index order, the fold an external SQL
    * engine's `list_sum(list_transform(...))` reproduces exactly. */
  def l2Sq(a: Column, b: Column): Column =
    ExpressionUtils.column(L2SqDist(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Shannon entropy (nats) of the string's code-point distribution —
    * one pass, no per-char array materialization (the array_sort
    * construction allocated one String per character and compared them
    * O(n log n) times per doc). Empty string → 0.0. */
  def charEntropy(c: Column): Column =
    ExpressionUtils.column(CharEntropy(ExpressionUtils.expression(c)))

  /** SplitMix64 — public-domain mixing function (Steele et al., used as
    * the default stream seeder in java.util.SplittableRandom). */
  private[graft] def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Minimal open-addressing set of longs (linear probing, power-of-two
    * capacity) — avoids java.util.HashSet's per-add Long boxing on the
    * shingle-dedup hot path. 0 is reserved as the empty marker (callers
    * pass well-mixed hashes; a literal 0 simply re-processes, harmless
    * for a min-sketch). */
  private[graft] final class LongSet(initialCapacity: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initialCapacity) * 2)
    private var mask = cap - 1
    private var table = new Array[Long](cap)
    private var n = 0
    def add(x: Long): Boolean = {
      if (x == 0L) return true
      var i = (splitmix64(x).toInt) & mask
      while (true) {
        val v = table(i)
        if (v == x) return false
        if (v == 0L) {
          table(i) = x; n += 1
          if (n * 4 > cap * 3) grow()
          return true
        }
        i = (i + 1) & mask
      }
      false
    }
    private def grow(): Unit = {
      val old = table
      cap <<= 1; mask = cap - 1; table = new Array[Long](cap); n = 0
      var j = 0
      while (j < old.length) { if (old(j) != 0L) add(old(j)); j += 1 }
    }
  }

  /** Deterministic (a_j odd, b_j) permutation parameters for MinHash,
    * derived from `seed` via a SplitMix64 stream. The reference draws
    * them from numpy RandomState (reference: src/llm_data_pipeline/
    * dedup/minhash.py:71-83); only internal consistency matters for
    * dedup, so we document the deviation rather than replicate numpy. */
  private[graft] def permParams(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    val a = new Array[Long](k)
    val b = new Array[Long](k)
    var s = seed
    var i = 0
    while (i < k) {
      s = splitmix64(s); a(i) = s | 1L
      s = splitmix64(s); b(i) = s
      i += 1
    }
    (a, b)
  }
}

/** Codegen bridge: emit a call to this expression's own `nullSafeEval`
  * through a captured reference, so projections containing these
  * expressions stay inside whole-stage codegen (a CodegenFallback child
  * would force the entire projection onto the interpreted path). */
trait RefEvalCodegen { self: UnaryExpression =>
  protected def javaResultType: String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftExpr", self, self.getClass.getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ($javaResultType) $ref.nullSafeEval($c);")
  }
}

/** Unicode NFKC normalization — the reference tokenizer's `nmt_nfkc`
  * normalization rule (reference: src/llm_data_pipeline/tokenizer/
  * train.py:111-134) minus the NMT whitespace tweaks; Spark has no
  * built-in Unicode normalizer. Compatibility-composes full-width
  * forms, ligatures, etc. before tokenization. */
case class NormalizeNfkc(child: Expression)
    extends UnaryExpression with RefEvalCodegen {
  override def dataType: DataType = StringType
  override protected def javaResultType: String =
    "org.apache.spark.unsafe.types.UTF8String"
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC))
  }
  override protected def withNewChildInternal(c: Expression): NormalizeNfkc = copy(child = c)
  override def prettyName: String = "normalize_nfkc"
}

/** zlib-deflate compression ratio (compressed bytes / input bytes) of
  * the UTF-8 encoding — the redundancy quality signal pre-training
  * pipelines use beside the Gopher n-gram fractions: template/
  * boilerplate text lands well under ~0.3, natural prose around
  * 0.3-0.6, near-random text approaches (or exceeds, via header
  * overhead) 1.0. Deterministic for a fixed level and the JVM's
  * bundled zlib: level 6 (the zlib default), default strategy, one
  * streaming pass — only the COUNT of output bytes is kept, nothing
  * is materialized, and the native Deflater + scratch buffer are
  * THREAD-LOCAL (reset per row, never re-allocated: a corpus-scale
  * pass must not pay 1 native stream init + 8 KB allocation per
  * document). Empty input → 1.0
  * (nothing to compress; treated as incompressible rather than
  * emitting the pure-header ratio, which would diverge to infinity
  * as a ratio of zero input). */
case class DeflateRatio(child: Expression)
    extends UnaryExpression with RefEvalCodegen {
  override def dataType: DataType = DoubleType
  override protected def javaResultType: String = "Double"
  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    if (bytes.isEmpty) 1.0
    else {
      val (d, buf) = DeflateRatio.scratch.get()
      d.reset()
      d.setInput(bytes)
      d.finish()
      var out = 0L
      while (!d.finished()) out += d.deflate(buf, 0, buf.length)
      out.toDouble / bytes.length
    }
  }
  override protected def withNewChildInternal(c: Expression): DeflateRatio = copy(child = c)
  override def prettyName: String = "deflate_ratio"
}

object DeflateRatio {
  /** One native zlib stream + scratch buffer per executor thread,
    * reset per row — bounded by thread count for the process
    * lifetime (task threads are pooled), never per-row native
    * init/teardown. */
  private val scratch =
    new ThreadLocal[(java.util.zip.Deflater, Array[Byte])] {
      override def initialValue(): (java.util.zip.Deflater, Array[Byte]) =
        (new java.util.zip.Deflater(6, false), new Array[Byte](8192))
    }
}

/** xxh64(utf8-bytes, seed) for string input. Delegates to Spark's
  * XXH64 kernel (same algorithm as the reference's xxh64_intdigest). */
case class XxHash64String(child: Expression, seed: Long)
    extends UnaryExpression with RefEvalCodegen {
  override def dataType: DataType = LongType
  override protected def javaResultType: String = "Long"
  override def nullSafeEval(v: Any): Any =
    XXH64.hashUTF8String(v.asInstanceOf[UTF8String], seed)
  override protected def withNewChildInternal(c: Expression): XxHash64String = copy(child = c)
  override def prettyName: String = "xxhash64_seed"
}

/** One-pass cosine similarity over two numeric arrays (float / double /
  * int / long / short elements, independently per side — each widened
  * to double exactly like the `x.cast("double")` the HOF chain
  * applied). Accumulates dot, ‖a‖², ‖b‖² in a single index loop in the
  * SAME left-to-right order as the `aggregate(zip_with(...))` chain it
  * replaces, so results are bit-identical and pinned oracles hold.
  * Zero norm (either side) → 0.0; length mismatch or a NULL element on
  * either side → NULL (all matching the HOF chain it replaced). */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null array elements → null

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType | ShortType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires numeric arrays, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  private def getter(e: Expression): (org.apache.spark.sql.catalyst.util.ArrayData, Int) => Double =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType   => (a, i) => a.getFloat(i).toDouble
      case DoubleType  => (a, i) => a.getDouble(i)
      case IntegerType => (a, i) => a.getInt(i).toDouble
      case LongType    => (a, i) => a.getLong(i).toDouble
      case ShortType   => (a, i) => a.getShort(i).toDouble
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
  @transient private lazy val getL = getter(left)
  @transient private lazy val getR = getter(right)

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = bv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null // zip_with pads with null → null
    var dot = 0.0d; var na = 0.0d; var nb = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = getL(a, i)
      val y = getR(b, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0d) 0.0d else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftExpr", this, getClass.getName)
    val res = ctx.freshName("cosRes") // unique per occurrence in the method
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      Object $res = $ref.nullSafeEval($a, $b);
      if ($res == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((Double) $res).doubleValue(); }""")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** Count of equal positions between two long arrays in ONE pass — the
  * MinHash signature position-match kernel behind
  * [[MinHashUnionAgg.estimatedJaccard]]. Mirrors the
  * `aggregate(zip_with(a, b, (x,y) -> if(x=y,1,0)))` HOF chain it
  * replaces exactly: unequal lengths count matches over the common
  * prefix only (zip_with pads with null, null == v is null, the
  * otherwise-0 branch fires); a null ELEMENT contributes 0; a null
  * ARRAY on either side yields null. */
case class SigMatchCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sig_match_count requires array<bigint>, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = bv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var m = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) m += 1
      i += 1
    }
    m
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftExpr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = ((Integer) $ref.nullSafeEval($a, $b)).intValue();")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigMatchCount =
    copy(left = l, right = r)
  override def prettyName: String = "sig_match_count"
}

/** Squared L2 distance of two numeric arrays (see
  * [[HashFunctions.l2Sq]]) — one pass, left-to-right `(x−y)²`
  * accumulation in a double. */
case class L2SqDist(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType | ShortType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"l2_sq requires numeric arrays, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  private def getter(e: Expression): (org.apache.spark.sql.catalyst.util.ArrayData, Int) => Double =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType   => (a, i) => a.getFloat(i).toDouble
      case DoubleType  => (a, i) => a.getDouble(i)
      case IntegerType => (a, i) => a.getInt(i).toDouble
      case LongType    => (a, i) => a.getLong(i).toDouble
      case ShortType   => (a, i) => a.getShort(i).toDouble
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
  @transient private lazy val getL = getter(left)
  @transient private lazy val getR = getter(right)

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = bv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = getL(a, i) - getR(b, i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftExpr", this, getClass.getName)
    val res = ctx.freshName("l2Res")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      Object $res = $ref.nullSafeEval($a, $b);
      if ($res == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((Double) $res).doubleValue(); }""")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2SqDist =
    copy(left = l, right = r)
  override def prettyName: String = "l2_sq"
}

/** Shannon entropy in nats over the code-point frequency distribution:
  * `-Σ (c/n)·ln(c/n)` — the same quantity the SQL construction
  * `unnest(string_split(text,'')) → group → sum` computes, in one pass
  * over the decoded string with a primitive-count map. Summation order
  * differs from the grouped SQL (hash-map iteration vs per-char groups);
  * both are far inside the 6-dp rounding the consumers apply. */
/** Max element multiplicity of an array<bigint> (see
  * [[HashFunctions.maxMultiplicity]]). */
case class MaxMultiplicity(child: Expression)
    extends UnaryExpression with RefEvalCodegen {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def dataType: DataType = IntegerType
  override protected def javaResultType: String = "Integer"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"max_multiplicity needs array<bigint>, got ${other.catalogString}")
  }
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    if (n == 0) 0
    else {
      val vals = new Array[Long](n)
      var m = 0; var nulls = 0; var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) nulls += 1
        else { vals(m) = arr.getLong(i); m += 1 }
        i += 1
      }
      java.util.Arrays.sort(vals, 0, m)
      var best = math.max(nulls, math.min(m, 1))
      var run = 1
      i = 1
      while (i < m) {
        if (vals(i) == vals(i - 1)) { run += 1; if (run > best) best = run }
        else run = 1
        i += 1
      }
      best
    }
  }
  override protected def withNewChildInternal(c: Expression): MaxMultiplicity = copy(child = c)
  override def prettyName: String = "max_multiplicity"
}

case class CharEntropy(child: Expression)
    extends UnaryExpression with RefEvalCodegen {
  override def dataType: DataType = DoubleType
  override protected def javaResultType: String = "Double"
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    if (s.isEmpty) 0.0d
    else {
      val counts = new java.util.HashMap[Integer, Array[Int]]()
      var i = 0
      var n = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        i += Character.charCount(cp)
        n += 1
        val e = counts.get(cp)
        if (e == null) counts.put(cp, Array(1)) else e(0) += 1
      }
      // Kahan-compensated sum: neither this hash-map iteration order nor
      // DuckDB's group order is canonical, so bit-equality across engines
      // was never structural — both sides rely on the 6-dp rounding the
      // consumers apply. Compensation keeps the cross-order error at
      // ~1 ulp of the TOTAL (vs ~n ulps naive), pushing the probability
      // of a rounding-boundary flip per doc to ~1e-10.
      var h = 0.0d
      var comp = 0.0d
      val it = counts.values().iterator()
      while (it.hasNext) {
        val p = it.next()(0).toDouble / n
        val term = -p * math.log(p) - comp
        val t = h + term
        comp = (t - h) - term
        h = t
      }
      h
    }
  }
  override protected def withNewChildInternal(c: Expression): CharEntropy = copy(child = c)
  override def prettyName: String = "char_entropy"
}

/** Base-31 Horner rolling hash over UTF-8 bytes (wrapping Long). */
case class RollingHash64(child: Expression)
    extends UnaryExpression with RefEvalCodegen {
  override def dataType: DataType = LongType
  override protected def javaResultType: String = "Long"
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < s.length) { h = h * 31L + (s(i) & 0xffL); i += 1 }
    h
  }
  override protected def withNewChildInternal(c: Expression): RollingHash64 = copy(child = c)
  override def prettyName: String = "rolling_hash64"
}

/** MinHash signature over character n-gram shingles.
  *
  * Semantics mirror the reference (reference: src/llm_data_pipeline/dedup/
  * minhash.py:28-125): distinct byte n-grams of the normalized text
  * (input shorter than n → one whole-string shingle); each shingle
  * hashed with xxh64 seed 0; sig[j] = unsigned-min over shingles of
  * (h*a_j + b_j) mod 2^64; empty input → all-zero signature.
  *
  * Normalization (lowercase + whitespace-flatten) is the caller's job via
  * [[TextFunctions.normalizeForDedup]] so Catalyst can share that
  * subexpression with other consumers.
  */
/** One-pass multi-language stopword counter. Token = maximal run of
  * ASCII word chars ([a-zA-Z0-9_]); every non-word byte (including all
  * multi-byte UTF-8 lead/continuation bytes) is a boundary — identical
  * to Java/RE2 `\b` word-boundary semantics for pure-ASCII stopwords,
  * which is what the SQL oracles compute. Counts tokens equal to a
  * stopword, per language. */
/** Shared ASCII-word-run tokenizer pieces for the stopword-scoring
  * expressions (single source of truth: [[StopwordLangHits]] and
  * [[LangIdLabel]] must tokenize identically or lang_score would
  * desynchronize from lang_pred and from the d04/d05 oracle regex). */
private[functions] object AsciiWordTokenizer {
  /** Tokens longer than this can't be stopwords — skipped unhashed. */
  val MaxTokenLen = 24

  /** Token chars = [a-zA-Z0-9_]; every other byte (incl. all multi-byte
    * UTF-8 lead/continuation bytes) is a boundary — identical to
    * Java/RE2 `\b` semantics for pure-ASCII stopwords. */
  def isWordByte(b: Byte): Boolean = {
    val c = b & 0xff
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'
  }

  /** lowercased word -> indices of languages listing it (a word may
    * serve several languages). */
  def buildWordLangs(table: Seq[Seq[String]]): java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    table.zipWithIndex.foreach { case (ws, li) =>
      ws.foreach { w =>
        // Locale.ROOT: the doc side is lowered by Spark's
        // locale-independent lower(), so the table side must not
        // consult the JVM default locale (the tagKeywords trap)
        val k = w.toLowerCase(java.util.Locale.ROOT)
        val prev = Option(m.get(k)).getOrElse(Array.empty[Int])
        m.put(k, prev :+ li)
      }
    }
    m
  }

  /** Per-language hit counts of `s`: each maximal word-char run of at
    * most [[MaxTokenLen]] bytes that `wordLangs` lists counts once for
    * every language listing it. */
  def stopwordHits(s: UTF8String, wordLangs: java.util.HashMap[String, Array[Int]],
                   nLangs: Int): Array[Int] = {
    val bytes = s.getBytes
    val hits = new Array[Int](nLangs)
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && !isWordByte(bytes(i))) i += 1
      val start = i
      while (i < bytes.length && isWordByte(bytes(i))) i += 1
      if (i > start && i - start <= MaxTokenLen) {
        val tok = new String(bytes, start, i - start, java.nio.charset.StandardCharsets.US_ASCII)
        val langs = wordLangs.get(tok)
        if (langs != null) {
          var j = 0
          while (j < langs.length) { hits(langs(j)) += 1; j += 1 }
        }
      }
    }
    hits
  }
}

case class StopwordLangHits(child: Expression, table: Seq[Seq[String]])
    extends UnaryExpression with RefEvalCodegen {
  import AsciiWordTokenizer._
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def javaResultType: String =
    "org.apache.spark.sql.catalyst.util.ArrayData"

  @transient private lazy val wordLangs = buildWordLangs(table)

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(stopwordHits(v.asInstanceOf[UTF8String], wordLangs, table.length))
  override protected def withNewChildInternal(c: Expression): StopwordLangHits = copy(child = c)
  override def prettyName: String = "stopword_lang_hits"
}

/** Normalized stopword-evidence margin `best / greatest(total, 1)` over
  * [[StopwordLangHits]]' per-language counts, in the same pass that
  * counts them: `best` is the largest count (0 for an empty table) and
  * `total` their sum, both divided as doubles, exactly as the `aggregate`
  * fold this kernel replaced did. */
case class StopwordMargin(child: Expression, table: Seq[Seq[String]])
    extends UnaryExpression with RefEvalCodegen {
  import AsciiWordTokenizer._
  override def dataType: DataType = DoubleType
  override protected def javaResultType: String = "Double"

  @transient private lazy val wordLangs = buildWordLangs(table)

  override def nullSafeEval(v: Any): Any = {
    val hits = stopwordHits(v.asInstanceOf[UTF8String], wordLangs, table.length)
    var best = 0
    var total = 0
    hits.foreach { h => best = math.max(best, h); total += h }
    best.toDouble / math.max(total.toDouble, 1.0)
  }
  override protected def withNewChildInternal(c: Expression): StopwordMargin = copy(child = c)
  override def prettyName: String = "stopword_margin"
}

/** Complete language-ID label in ONE pass over the text's bytes:
  * ASCII-word-run tokenization with inline ASCII lowercasing feeding the
  * per-language stopword counters, CJK code points counted from the
  * UTF-8 lead bytes for the zh gate, then the gate/argmax/tie-break
  * resolved eagerly. Replaces a `when`-chain over `element_at(hits, i)`
  * references whose conditional positions defeat Spark's subexpression
  * elimination — every branch re-ran the tokenizing pass (measured: d04
  * 1.7 s → 0.2 s at sf0.1). Semantics are those of
  * [[StopwordLangHits]] over `lower(text)` plus the
  * `cjk_codepoints >= cjkRatio · total_codepoints → "zh"` gate;
  * argmax ties resolve to the earliest table entry, zero evidence →
  * "und". (Deviation corner: non-ASCII letters that Unicode-lowercase
  * INTO ASCII, e.g. Kelvin U+212A → k, are word chars after `lower()`
  * but boundaries here; absent from any oracle-checked corpus.) */
case class LangIdLabel(child: Expression, table: Seq[(String, Seq[String])],
                       cjkRatio: Double)
    extends UnaryExpression with RefEvalCodegen {
  override def dataType: DataType = StringType
  override protected def javaResultType: String =
    "org.apache.spark.unsafe.types.UTF8String"

  import AsciiWordTokenizer._

  @transient private lazy val langLabels: Array[UTF8String] =
    table.map(t => UTF8String.fromString(t._1)).toArray
  @transient private lazy val zhLabel = UTF8String.fromString("zh")
  @transient private lazy val undLabel = UTF8String.fromString("und")
  @transient private lazy val wordLangs = buildWordLangs(table.map(_._2))

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val hits = new Array[Int](table.length)
    val tok = new Array[Char](MaxTokenLen)
    var totalCp = 0L
    var cjkCp = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      if (b < 0x80) {
        if (isWordByte(bytes(i))) {
          // ASCII word run: lowercase inline, count at the boundary
          var len = 0
          while (i < bytes.length && (bytes(i) & 0xff) < 0x80 && isWordByte(bytes(i))) {
            if (len < tok.length) {
              val c = bytes(i) & 0xff
              tok(len) = (if (c >= 'A' && c <= 'Z') c + 32 else c).toChar
            }
            len += 1; i += 1; totalCp += 1
          }
          if (len <= tok.length) {
            val langs = wordLangs.get(new String(tok, 0, len))
            if (langs != null) {
              var j = 0
              while (j < langs.length) { hits(langs(j)) += 1; j += 1 }
            }
          }
        } else { i += 1; totalCp += 1 }
      } else {
        // multi-byte UTF-8 sequence: one code point, CJK check on 3-byte.
        // Malformed input must advance ONE byte: a stray continuation
        // byte in lead position (b < 0xC0), or a lead whose following
        // bytes are NOT continuations (truncated sequence), would
        // otherwise swallow a following ASCII word char and desync this
        // tokenizer from StopwordLangHits, which always advances
        // byte-at-a-time over non-word bytes.
        val declared = if (b >= 0xf0) 4 else if (b >= 0xe0) 3 else if (b >= 0xc0) 2 else 1
        def isCont(k: Int): Boolean =
          k < bytes.length && (bytes(k) & 0xc0) == 0x80
        val valid = declared > 1 && (1 until declared).forall(j => isCont(i + j))
        val seqLen = if (valid) declared else 1
        if (seqLen == 3) {
          val cp = ((b & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) | (bytes(i + 2) & 0x3f)
          if (cp >= 0x4e00 && cp <= 0x9fff) cjkCp += 1
        }
        i += seqLen
        totalCp += 1
      }
    }
    // NOTE >= (not >): empty text satisfies 0 >= 0 and labels "zh",
    // matching the Column formulation this replaces and the SQL oracle
    if (cjkCp.toDouble >= totalCp * cjkRatio) zhLabel
    else {
      var best = 0
      var bestIdx = -1
      var k = 0
      while (k < hits.length) {
        if (hits(k) > best) { best = hits(k); bestIdx = k } // strict >: first max wins
        k += 1
      }
      if (bestIdx < 0) undLabel else langLabels(bestIdx)
    }
  }
  override protected def withNewChildInternal(c: Expression): LangIdLabel = copy(child = c)
  override def prettyName: String = "lang_id_label"
}

/** Sign-LSH buckets over an embedding array (float or double elements):
  * bucket bit p of table t = sign of the dot product with a pseudo-random
  * hyperplane whose components are splitmix64-derived per
  * (seed, table, plane, dimension), mapped uniformly into [-1, 1)
  * (Charikar'02 random hyperplane LSH; hash-derived planes replace an
  * RNG so the computation is stateless and deterministic everywhere). */
case class SignBuckets(child: Expression, planes: Int, seed: Long, tables: Int)
    extends UnaryExpression with RefEvalCodegen {
  require(planes > 0 && planes <= 63 && tables > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def javaResultType: String =
    "org.apache.spark.sql.catalyst.util.ArrayData"

  @transient private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"signBuckets needs array<float|double>, got $other")
  }
  @transient private lazy val tableSeeds: Array[Long] =
    Array.tabulate(tables)(t => HashFunctions.splitmix64(seed * 31L + t))

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      val ts = tableSeeds(t)
      var bucket = 0L
      var p = 0
      while (p < planes) {
        var dot = 0.0
        var i = 0
        while (i < n) {
          val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
          val w = HashFunctions.splitmix64(ts ^ (p.toLong << 32) ^ i.toLong)
          dot += x * ((((w % 2001L) + 2001L) % 2001L) / 1000.0 - 1.0)
          i += 1
        }
        if (dot > 0.0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): SignBuckets = copy(child = c)
  override def prettyName: String = "sign_buckets"
}

/** Distinct xxh64 hashes of char n-gram shingles (code-point windows
  * over the UTF-8 bytes, one pass). Strings shorter than n code points
  * yield the hash of the whole string — mirroring the `[s]` fallback of
  * the string-shingle definition the dedup oracles use. */
case class CharShingleHashes(child: Expression, ngram: Int)
    extends UnaryExpression with RefEvalCodegen {
  require(ngram > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def javaResultType: String =
    "org.apache.spark.sql.catalyst.util.ArrayData"

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val offset = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
    val nB = bytes.length
    // code-point start offsets (one walk; starts(nCp) = end sentinel)
    val starts = new Array[Int](nB + 1)
    var nCp = 0
    var i = 0
    while (i < nB) {
      starts(nCp) = i
      nCp += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    starts(nCp) = nB
    if (nCp < ngram)
      return new GenericArrayData(Array(XXH64.hashUnsafeBytes(bytes, offset, nB, 0L)))
    val seen = new HashFunctions.LongSet(512)
    val out = new scala.collection.mutable.ArrayBuffer[Long](nCp)
    var s = 0
    while (s + ngram <= nCp) {
      val from = starts(s)
      val h = XXH64.hashUnsafeBytes(bytes, offset + from, starts(s + ngram) - from, 0L)
      if (seen.add(h)) out += h
      s += 1
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): CharShingleHashes = copy(child = c)
  override def prettyName: String = "char_shingle_hashes"
}

/** Stride-1 `window`-token 16-byte md5 fingerprints of a token array in
  * ONE pass — the span-dedup kernel behind [[graft.operators.Dedup]]'s
  * spanTrim / spanWindowRows family (x15/d80/d81/st26/st31/st07 and the
  * decontamination span path). Mirrors the
  * `transform(sequence(0, n-window), i ->
  *    unhex(md5(array_join(slice(a, i+1, window), " "))))` chain it
  * replaces byte-for-byte: each window's digest is MD5 over the UTF-8
  * bytes of its tokens joined with single spaces, null tokens omitted
  * along with their delimiter (ArrayJoin's no-replacement rule) — but
  * without the per-window slice copy, the joined-string allocation, or
  * the hex-encode/unhex round trip (md5() emits a 32-char hex string
  * the old chain immediately parsed back to 16 bytes). Sub-window
  * arrays yield an EMPTY array (no windows => never trimmed), matching
  * the `when(size(a) >= window, ...)` guard it replaces. */
case class SpanWindowFps(child: Expression, window: Int)
    extends UnaryExpression with RefEvalCodegen {
  require(window > 0, "window must be positive")
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override protected def javaResultType: String =
    "org.apache.spark.sql.catalyst.util.ArrayData"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"span_fingerprints requires array<string>, got ${other.sql}")
    }

  // the expression object is captured once per generated class and
  // shared across tasks — digest state must be per-thread
  @transient private lazy val md5 =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))
  private val Space = Array[Byte](' ')

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = a.numElements()
    if (n < window) return new GenericArrayData(Array.empty[Any])
    // token bytes decoded once, reused by every covering window
    val tok = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) tok(i) = a.getUTF8String(i).getBytes
      i += 1
    }
    val md = md5.get()
    val out = new Array[Any](n - window + 1)
    var s = 0
    while (s <= n - window) {
      var k = s
      var first = true
      while (k < s + window) {
        if (tok(k) != null) {
          if (!first) md.update(Space)
          md.update(tok(k))
          first = false
        }
        k += 1
      }
      out(s) = md.digest() // returns the 16 bytes and resets
      s += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): SpanWindowFps = copy(child = c)
  override def prettyName: String = "span_fingerprints"
}

case class MinHashSignature(child: Expression, k: Int, ngram: Int, seed: Long)
    extends UnaryExpression with RefEvalCodegen {
  require(k > 0 && ngram > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def javaResultType: String =
    "org.apache.spark.sql.catalyst.util.ArrayData"

  @transient private lazy val (pa, pb) = HashFunctions.permParams(k, seed)

  // FNV64 prime as the rolling base; B^(n-1) precomputed for the
  // remove-leading-byte step of the incremental window hash
  private val RollBase = 1099511628211L
  @transient private lazy val rollPow: Long = {
    var p = 1L; var i = 1
    while (i < ngram) { p *= RollBase; i += 1 }
    p
  }

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val sig = new Array[Long](k)
    if (bytes.length == 0) return new GenericArrayData(sig)
    java.util.Arrays.fill(sig, -1L) // unsigned max
    // Incremental polynomial window hash + splitmix64 avalanche: O(1)
    // per shingle instead of a full hash call per 5-byte window (the
    // per-call overhead dominated at ~450 shingles/doc). Deviation from
    // the reference's per-shingle xxh64 is internal-only: dedup needs
    // consistency, not a pinned hash family (see SURVEY §7.4).
    val n = math.min(ngram, bytes.length)
    val seen = new HashFunctions.LongSet(512)
    var h = 0L
    var i = 0
    while (i < n) { h = h * RollBase + (bytes(i) & 0xffL); i += 1 }
    val last = bytes.length - n
    var s = 0
    while (s <= last) {
      val mixed = HashFunctions.splitmix64(h)
      if (seen.add(mixed)) {
        var j = 0
        while (j < k) {
          val cand = mixed * pa(j) + pb(j)
          if (java.lang.Long.compareUnsigned(cand, sig(j)) < 0) sig(j) = cand
          j += 1
        }
      }
      if (s < last) {
        h = (h - (bytes(s) & 0xffL) * rollPow) * RollBase + (bytes(s + n) & 0xffL)
      }
      s += 1
    }
    new GenericArrayData(sig)
  }
  override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
  override def prettyName: String = "minhash_signature"
}

/** 64-bit SimHash over whitespace-token n-gram shingles: per-shingle
  * xxh64(seed 0); each hash votes ±1 per bit; result bit = 1 iff the
  * vote sum is positive. Near-duplicate docs land within small Hamming
  * distance. Empty input → 0. */
case class SimHash64(child: Expression, ngram: Int)
    extends UnaryExpression with RefEvalCodegen {
  require(ngram > 0)
  override def dataType: DataType = LongType
  override protected def javaResultType: String = "Long"

  override def nullSafeEval(v: Any): Any = {
    // Tokenize the UTF-8 bytes in place (whitespace split) and hash each
    // token once; a shingle's hash combines consecutive token hashes via
    // rotate-xor-mix instead of building the shingle string — no
    // per-shingle allocations on the hot path.
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val offset = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
    val tokHashes = new scala.collection.mutable.ArrayBuffer[Long](64)
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && Character.isWhitespace(bytes(i) & 0xff)) i += 1
      val start = i
      while (i < bytes.length && !Character.isWhitespace(bytes(i) & 0xff)) i += 1
      if (i > start) tokHashes += XXH64.hashUnsafeBytes(bytes, offset + start, i - start, 0L)
    }
    val nTok = tokHashes.length
    if (nTok == 0) return 0L
    val votes = new Array[Int](64)
    val upper = math.max(1, nTok - ngram + 1)
    var s = 0
    while (s < upper) {
      var h = 0L
      var j = s
      val end = math.min(s + ngram, nTok)
      while (j < end) { h = java.lang.Long.rotateLeft(h, 17) ^ tokHashes(j); j += 1 }
      h = HashFunctions.splitmix64(h)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      s += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (votes(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  override def prettyName: String = "simhash64"
}

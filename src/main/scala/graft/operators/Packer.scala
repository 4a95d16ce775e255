package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Constant-length sequence packer — the reference's
  * ConstantLengthDataset (reference: src/llm_data_pipeline/tokenizer/
  * run.py:109-214) re-expressed for distributed execution.
  *
  * Semantics per stream: concatenate every document's token ids plus one
  * EOS per document (skipping the EOS when the document already ends
  * with it — `ensure_eos` dedupe, reference: tokenizer/run.py:147-160;
  * EMPTY documents are skipped entirely — no EOS, no sample id,
  * reference: run.py:153-154), emit fixed `seqLen` chunks with
  * carry-over across documents, and run-length metadata (`seq_id` per
  * token, `seq_lens`, `offsets`, reference: tokenizer/run.py:73-103)
  * for block-diagonal attention. When `padTail` is set, tail padding
  * carries a FRESH sample id so the pad never merges with the last real
  * segment (reference: run.py:207-209).
  *
  * Distribution contract: [[packExact]] packs rows range-partitioned and
  * sorted by `orderCol`, and its output is bit-identical to the single
  * stream [[packStream]] at any partition count: chunk boundaries are
  * global, so no partition drops a tail. Only the global tail is dropped
  * (or padded when `padTail`), exactly as in the reference.
  */
object Packer {

  private val chunkSchema = StructType(Seq(
    StructField("part_id", IntegerType, nullable = false),
    StructField("chunk_in_part", LongType, nullable = false),
    StructField("input_ids", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("seq_id", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("seq_lens", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("offsets", ArrayType(IntegerType, containsNull = false), nullable = false)))

  /** Pure streaming packer over one iterator of (already ordered)
    * documents' token arrays. Emits (input_ids, seq_id, seq_lens,
    * offsets) tuples of exactly `seqLen` tokens. */
  def packStream(docs: Iterator[Array[Int]], seqLen: Int, eosId: Int,
                 padTail: Boolean): Iterator[(Array[Int], Array[Int], Array[Int], Array[Int])] =
    new Iterator[(Array[Int], Array[Int], Array[Int], Array[Int])] {
      private val idBuf = new ArrayBuffer[Int]()
      private val sidBuf = new ArrayBuffer[Int]()
      private var nextDocId = 0
      private var exhausted = false

      private def fill(): Unit = {
        while (idBuf.length < seqLen && docs.hasNext) {
          val ids = docs.next()
          // empty docs contribute nothing — no EOS, no sample id
          // (reference: tokenizer/run.py:153-154 `if not ids: continue`)
          if (ids.nonEmpty) {
            idBuf ++= ids
            // ensure exactly one trailing EOS per document
            if (ids.last != eosId) idBuf += eosId
            val docLen = idBuf.length - sidBuf.length
            var i = 0
            while (i < docLen) { sidBuf += nextDocId; i += 1 }
            nextDocId += 1
          }
        }
        if (!docs.hasNext && idBuf.length < seqLen) {
          if (padTail && idBuf.nonEmpty) {
            // pad sids take a FRESH sample id so the pad run never merges
            // with the last real segment (reference: tokenizer/run.py:207-209)
            while (idBuf.length < seqLen) { idBuf += eosId; sidBuf += nextDocId }
          } else if (!padTail) {
            idBuf.clear(); sidBuf.clear()
          }
          exhausted = true
        }
      }

      override def hasNext: Boolean = {
        if (idBuf.length < seqLen && !exhausted) fill()
        idBuf.length >= seqLen
      }

      override def next(): (Array[Int], Array[Int], Array[Int], Array[Int]) = {
        if (!hasNext) throw new NoSuchElementException
        val ids = idBuf.take(seqLen).toArray
        val sids = sidBuf.take(seqLen).toArray
        idBuf.remove(0, seqLen)
        sidBuf.remove(0, seqLen)
        val (local, lens, offs) = runsFromSids(sids)
        (ids, local, lens, offs)
      }
    }

  /** Run-length encode global doc ids within a chunk into (local seq_id,
    * seq_lens, offsets) — reference: tokenizer/run.py:73-103. */
  def runsFromSids(sids: Array[Int]): (Array[Int], Array[Int], Array[Int]) = {
    val local = new Array[Int](sids.length)
    val lens = new ArrayBuffer[Int]()
    val offs = new ArrayBuffer[Int]()
    var run = -1
    var prev = Int.MinValue
    var i = 0
    while (i < sids.length) {
      if (sids(i) != prev) {
        run += 1; prev = sids(i)
        offs += i; lens += 0
      }
      local(i) = run
      lens(lens.length - 1) += 1
      i += 1
    }
    (local, lens.toArray, offs.toArray)
  }

  /** The (token, docId) stream of one ordered doc iterator with the
    * ensure-EOS dedup applied — the packer's unit of accounting. */
  private def tokenStream(docs: Iterator[Array[Int]], eosId: Int,
                          firstDocId: Long): Iterator[(Int, Long)] = {
    var docId = firstDocId - 1
    docs.flatMap { ids =>
      if (ids.isEmpty) Iterator.empty // skipped: no EOS, no sample id
      else {
        docId += 1
        val d = docId
        val it = ids.iterator.map(t => (t, d))
        if (ids.last != eosId) it ++ Iterator((eosId, d)) else it
      }
    }
  }

  /** EXACT distributed packing: bit-identical to the single-stream
    * reference semantics at any partition count. Two passes over a
    * pinned range-partitioned sort:
    *
    *   1. per-partition token totals (post ensure-EOS), doc counts, and
    *      the first `seqLen-1` stream tokens (the "head") are collected;
    *      the driver derives each partition's global start offset, how
    *      many head tokens it must SKIP (they complete the previous
    *      partition's boundary chunk), how many full chunks it owns, and
    *      the forward "spill" (following partitions' heads) its last
    *      owned chunk may borrow — spill is < seqLen tokens, so this
    *      broadcast is KBs per partition regardless of data size;
    *   2. each partition re-streams its rows, skips its head share,
    *      emits its owned chunks (the last possibly completed from the
    *      spill), and the owner of the global tail pads or drops it.
    *
    * Chunk boundaries are global positions ≡ 0 (mod seqLen), so the
    * emitted chunk sequence ordered by (part_id, chunk_in_part) equals
    * the one-partition stream exactly — no dropped per-partition tails. */
  def packExact(df: DataFrame, orderCol: String, tokensCol: String, seqLen: Int,
                eosId: Int, padTail: Boolean = false,
                numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val prepared = df
      .select(col(orderCol).cast("long").as("__ord"), col(tokensCol).as("__toks"))
      .repartitionByRange(parts, col("__ord"))
      .sortWithinPartitions("__ord")
      .localCheckpoint(true) // both passes must see identical partitions
    val L = seqLen

    // pass 1: (pid, totalTokens, docCount, headTokens) — head carries no
    // doc ids; they are reconstructed from docOffsets on the driver side
    case class PartInfo(pid: Int, total: Long, docs: Long,
                        headToks: Array[Int], headSids: Array[Long])
    val infos = {
      import spark.implicits._
      prepared.mapPartitions { rows =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var total = 0L
        var docs = 0L
        val headT = new ArrayBuffer[Int]()
        val headS = new ArrayBuffer[Long]() // doc index LOCAL to partition
        rows.foreach { r =>
          val ids = r.getSeq[Int](1)
          if (ids.nonEmpty) { // empty docs are skipped stream-wide
            val withEos = ids.length + (if (ids.last != eosId) 1 else 0)
            if (headT.length < L - 1) {
              val take = math.min(L - 1 - headT.length, withEos)
              var i = 0
              while (i < take) {
                headT += (if (i < ids.length) ids(i) else eosId)
                headS += docs
                i += 1
              }
            }
            total += withEos
            docs += 1
          }
        }
        Iterator((pid, total, docs, headT.toArray, headS.toArray))
      }.collect().map(t => PartInfo(t._1, t._2, t._3, t._4, t._5)).sortBy(_.pid)
    }

    val n = infos.length
    val tokOffset = new Array[Long](n + 1)
    val docOffset = new Array[Long](n + 1)
    infos.foreach { pi =>
      tokOffset(pi.pid + 1) = pi.total
      docOffset(pi.pid + 1) = pi.docs
    }
    for (i <- 1 to n) { tokOffset(i) += tokOffset(i - 1); docOffset(i) += docOffset(i - 1) }
    val totalGlobal = if (n == 0) 0L else tokOffset(n)

    // per-partition plan: (skip, nFull, ownsTail, spillToks, spillSids)
    // — a plain tuple so the broadcast closure stays serializable
    type PartPlan = (Long, Long, Boolean, Array[Int], Array[Long])
    val plans: Map[Int, PartPlan] = infos.map { pi =>
      val p = pi.pid
      val start = tokOffset(p) + ((L - tokOffset(p) % L) % L)
      val end = tokOffset(p + 1)
      val ownedStartsEnd = math.min(end, totalGlobal) // starts strictly below own end
      val nOwned = if (start >= ownedStartsEnd) 0L else (ownedStartsEnd - start - 1) / L + 1
      val tailStart = totalGlobal - totalGlobal % L
      val ownsTail = totalGlobal % L != 0 && start <= tailStart && tailStart < end
      val nFull = if (ownsTail) nOwned - 1 else nOwned
      // forward spill: heads of following partitions, globalized doc ids,
      // until seqLen-1 tokens or data end
      val st = new ArrayBuffer[Int]()
      val ss = new ArrayBuffer[Long]()
      var q = p + 1
      while (st.length < L - 1 && q < n) {
        val h = infos(q)
        var i = 0
        while (st.length < L - 1 && i < h.headToks.length) {
          st += h.headToks(i)
          ss += docOffset(q) + h.headSids(i)
          i += 1
        }
        q += 1
      }
      p -> ((start - tokOffset(p), nFull, ownsTail, st.toArray, ss.toArray))
    }.toMap
    val bcPlans = spark.sparkContext.broadcast(plans)
    val bcDocOffset = spark.sparkContext.broadcast(docOffset)

    val enc = org.apache.spark.sql.Encoders.row(chunkSchema)
    prepared.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val (skip, nFull, ownsTail, spillToks, spillSids) =
        bcPlans.value.getOrElse(pid,
          (0L, 0L, false, Array.empty[Int], Array.empty[Long]))
      val docs = rows.map(_.getSeq[Int](1).toArray)
      // Iterator.drop takes Int; skip < seqLen so the cast is safe
      val own = tokenStream(docs, eosId, bcDocOffset.value(pid)).drop(skip.toInt)
      val full = own ++ spillToks.iterator.zip(spillSids.iterator)
      val idBuf = new ArrayBuffer[Int](L)
      val sidBuf = new ArrayBuffer[Long](L)
      var emitted = 0L
      val out = new ArrayBuffer[Row]()
      var done = false
      while (!done && (emitted < nFull || ownsTail)) {
        idBuf.clear(); sidBuf.clear()
        while (idBuf.length < L && full.hasNext) {
          val (t, s) = full.next()
          idBuf += t; sidBuf += s
        }
        if (idBuf.length == L && emitted < nFull) {
          val (local, lens, offs) = runsFromSids(sidBuf.toArray.map(_.toInt))
          out += Row(pid, emitted, idBuf.toArray.toSeq, local.toSeq, lens.toSeq, offs.toSeq)
          emitted += 1
        } else {
          // global tail (only the owner reaches here with a short buffer)
          if (ownsTail && idBuf.nonEmpty && padTail) {
            // fresh global sample id for pad (= total doc count), so the
            // pad run stays a distinct segment — reference run.py:207-209
            val freshSid = bcDocOffset.value.last
            while (idBuf.length < L) { idBuf += eosId; sidBuf += freshSid }
            val (local, lens, offs) = runsFromSids(sidBuf.toArray.map(_.toInt))
            out += Row(pid, emitted, idBuf.toArray.toSeq, local.toSeq, lens.toSeq, offs.toSeq)
          }
          done = true
        }
      }
      out.iterator
    }(enc)
  }

  /** Sequential First-Fit-Decreasing over an already length-descending
    * iterator of (id, len): first open bin with room wins, else a new
    * bin opens. Returns (id, len, localBin). Classic Johnson '73 —
    * 11/9·OPT + 6/9 worst case when input is globally sorted. */
  def ffdStream(docs: Iterator[(Long, Long)], capacity: Long): Iterator[(Long, Long, Int)] = {
    val remaining = new ArrayBuffer[Long]()
    docs.map { case (id, len) =>
      var b = 0
      while (b < remaining.length && remaining(b) < len) b += 1
      if (b == remaining.length) remaining += capacity
      remaining(b) -= len
      (id, len, b)
    }
  }

  /** Whole-document bin packing (First-Fit-Decreasing) — the SFT-style
    * layout that keeps every document INTACT inside a fixed token
    * budget per sequence, versus [[packStream]]'s split-and-concat
    * pretraining layout. Documents longer than `capacity` are rejected
    * (bin_id NULL), never truncated here — truncation is a policy the
    * caller applies explicitly.
    *
    * Distribution contract (partition-local): eligible docs are
    * range-partitioned by (len DESC, id ASC) into `numParts` contiguous
    * ranges and each partition runs sequential FFD over its own sorted
    * slice — bin ids are (partition, local) under a fixed stride.
    * Deterministic at a FIXED `numParts` regardless of input layout or
    * core count; what's forgone is cross-partition packing (at most
    * one underfull open-bin set per partition boundary), the linear
    * scale-out price. The in-partition scan is first-fit linear in
    * open bins — swap in a best-fit size-indexed tree if per-partition
    * bin counts ever dominate (not at 10k docs/partition).
    *
    * @return (id, len, bin_id) — bin_id NULL for rejected docs. */
  def packBinsFfd(df: DataFrame, idCol: String, lenCol: String,
                  capacity: Long, numParts: Int = 8): DataFrame = {
    require(capacity > 0 && numParts > 0)
    val base = df.select(col(idCol).cast("long").as("id"),
      col(lenCol).cast("long").as("len"))
    val rejected = base.where(col("len") > capacity || col("len") <= 0)
      .withColumn("bin_id", lit(null).cast("long"))
    val eligible = base.where(col("len") <= capacity && col("len") > 0)
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("len", LongType, nullable = false),
      StructField("bin_id", LongType, nullable = false))))
    val packed = eligible
      .repartitionByRange(numParts, col("len").desc, col("id").asc)
      .sortWithinPartitions(col("len").desc, col("id").asc)
      .mapPartitions { rows =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        ffdStream(rows.map(r => (r.getLong(0), r.getLong(1))), capacity)
          .map { case (id, len, local) =>
            Row(id, len, pid.toLong * (1L << 40) + local)
          }
      }(enc)
    packed.unionByName(rejected)
  }
}

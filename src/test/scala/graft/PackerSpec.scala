package graft

import graft.operators.Packer

/** Packer semantics vs the reference ConstantLengthDataset
  * (reference: src/llm_data_pipeline/tokenizer/run.py:109-214):
  * conservation, carry-over, EOS dedupe, run-length metadata. */
class PackerSpec extends SparkSpec {

  private def packAll(docs: Seq[Array[Int]], seqLen: Int, eos: Int = 0,
                      pad: Boolean = false) =
    Packer.packStream(docs.iterator, seqLen, eos, pad).toSeq

  test("conservation: chunks * seqLen == total tokens incl EOS (tail dropped)") {
    val docs = Seq(Array(1, 2, 3), Array(4, 5), Array(6, 7, 8, 9))
    // totals: 3+1 + 2+1 + 4+1 = 12 -> seqLen 4 -> 3 chunks, 0 remainder
    val chunks = packAll(docs, 4)
    assert(chunks.size == 3)
    assert(chunks.flatMap(_._1) == Seq(1, 2, 3, 0, 4, 5, 0, 6, 7, 8, 9, 0))
  }

  test("carry-over across chunk boundary preserves order") {
    val docs = Seq(Array(1, 2, 3, 4, 5, 6, 7)) // +EOS = 8 tokens
    val chunks = packAll(docs, 3)
    assert(chunks.map(_._1.toSeq) == Seq(Seq(1, 2, 3), Seq(4, 5, 6)))
    // tail (7, EOS) dropped without padding
  }

  test("padTail pads the final partial chunk with EOS") {
    val chunks = packAll(Seq(Array(1, 2, 3, 4, 5, 6, 7)), 3, pad = true)
    assert(chunks.map(_._1.toSeq) == Seq(Seq(1, 2, 3), Seq(4, 5, 6), Seq(7, 0, 0)))
  }

  test("empty docs are skipped (no EOS, no sample id) and pad gets a fresh sid") {
    // reference run.py:153-154 (`if not ids: continue`) and run.py:207-209
    // (pad sids use a NEW sample id so pad never merges with the tail doc)
    val docs = Seq(Array(1, 2), Array.empty[Int], Array(3))
    val chunks = packAll(docs, 6, pad = true)
    val (ids, sid, lens, offs) = chunks.head
    assert(ids.toSeq == Seq(1, 2, 0, 3, 0, 0)) // no EOS for the empty doc
    assert(sid.toSeq == Seq(0, 0, 0, 1, 1, 2)) // pad run = fresh segment
    assert(lens.toSeq == Seq(3, 2, 1))
    assert(offs.toSeq == Seq(0, 3, 5))
  }

  test("no double EOS when doc already ends with eos") {
    val chunks = packAll(Seq(Array(1, 2, 0), Array(3, 0)), 6, pad = true)
    assert(chunks.head._1.toSeq == Seq(1, 2, 0, 3, 0, 0))
  }

  test("seq_id / seq_lens / offsets describe doc runs inside a chunk") {
    val docs = Seq(Array(1, 2), Array(3), Array(4, 5, 6))
    // stream: 1 2 E | 3 E | 4 5 6 E  -> chunk of 9 tokens (seqLen 9, pad)
    val chunks = packAll(docs, 9, pad = true)
    val (ids, sid, lens, offs) = chunks.head
    assert(ids.toSeq == Seq(1, 2, 0, 3, 0, 4, 5, 6, 0))
    assert(sid.toSeq == Seq(0, 0, 0, 1, 1, 2, 2, 2, 2))
    assert(lens.toSeq == Seq(3, 2, 4))
    assert(offs.toSeq == Seq(0, 3, 5))
  }

  test("runs split at chunk boundary get separate local seq ids") {
    val docs = Seq(Array(1, 2, 3, 4)) // + EOS -> 5 tokens
    val chunks = packAll(docs, 2) // chunks: [1,2], [3,4]; tail [E] dropped
    assert(chunks.map(_._2.toSeq) == Seq(Seq(0, 0), Seq(0, 0)))
    assert(chunks.map(_._3.toSeq) == Seq(Seq(2), Seq(2)))
    assert(chunks.map(_._4.toSeq) == Seq(Seq(0), Seq(0)))
  }

  test("packExact at any partition count equals the single stream exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3; parts <- Seq(1, 3, 8); padTail <- Seq(false, true)) {
      val nDocs = 40 + rnd.nextInt(60)
      val docs = (1L to nDocs.toLong).map { i =>
        // include docs already ending in EOS (dedup branch) and empties
        val len = rnd.nextInt(9)
        val ids = Array.fill(len)(1 + rnd.nextInt(90))
        if (len > 0 && rnd.nextBoolean()) ids(len - 1) = 0
        (i, ids)
      }
      val df = docs.toDF("id", "ids")
      val seqLen = 16
      val got = Packer.packExact(df, "id", "ids", seqLen, eosId = 0,
          padTail = padTail, numPartitions = parts)
        .orderBy("part_id", "chunk_in_part").collect()
      val want = Packer.packStream(docs.sortBy(_._1).map(_._2).iterator,
        seqLen, 0, padTail).toSeq
      assert(got.length == want.length,
        s"trial=$trial parts=$parts pad=$padTail: ${got.length} vs ${want.length}")
      got.zip(want).foreach { case (row, (ids, sid, lens, offs)) =>
        assert(row.getSeq[Int](2) == ids.toSeq, s"ids trial=$trial parts=$parts pad=$padTail")
        assert(row.getSeq[Int](3) == sid.toSeq, s"sid trial=$trial parts=$parts pad=$padTail")
        assert(row.getSeq[Int](4) == lens.toSeq, s"lens trial=$trial parts=$parts")
        assert(row.getSeq[Int](5) == offs.toSeq, s"offs trial=$trial parts=$parts")
      }
    }
  }

  test("packExact handles tiny partitions (docs fewer than partitions)") {
    import spark.implicits._
    val docs = Seq((1L, Array(1, 2, 3)), (2L, Array(4, 5)), (3L, Array(6)))
    val df = docs.toDF("id", "ids")
    val got = Packer.packExact(df, "id", "ids", seqLen = 4, eosId = 0,
        numPartitions = 8)
      .orderBy("part_id", "chunk_in_part").collect()
    val want = Packer.packStream(docs.map(_._2).iterator, 4, 0, padTail = false).toSeq
    assert(got.length == want.length)
    got.zip(want).foreach { case (row, (ids, _, _, _)) =>
      assert(row.getSeq[Int](2) == ids.toSeq)
    }
  }

  test("ffdStream matches a driver-side first-fit reference and respects capacity") {
    val docs = Seq(60L, 55L, 40L, 35L, 30L, 20L, 10L, 5L, 5L, 1L)
      .zipWithIndex.map { case (len, i) => (i.toLong, len) }
    val got = Packer.ffdStream(docs.iterator, 64L).toSeq
    // reference first-fit over the same order
    val rem = scala.collection.mutable.ArrayBuffer[Long]()
    val ref = docs.map { case (id, len) =>
      val b = rem.indexWhere(_ >= len) match {
        case -1 => rem += 64L; rem.length - 1
        case i => i
      }
      rem(b) -= len
      (id, len, b)
    }
    assert(got == ref)
    val fills = got.groupBy(_._3).map { case (_, xs) => xs.map(_._2).sum }
    assert(fills.forall(_ <= 64L))
    assert(got.map(_._2).sum == docs.map(_._2).sum) // conservation
  }

  test("packBinsFfd: deterministic at fixed numParts, fills bounded, rejects surfaced") {
    import spark.implicits._
    val rows = (1L to 200L).map(i => (i, (i * 37) % 90 + 1)) // lens 1..90, some > capacity
    def run(inputParts: Int) =
      Packer.packBinsFfd(rows.toDF("doc_id", "n_tok").repartition(inputParts),
        "doc_id", "n_tok", capacity = 64L, numParts = 4)
    val a = run(1).collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1).toSeq
    val b = run(13).collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1).toSeq
    assert(a == b) // input layout cannot change the packing
    val rejected = a.filter(_._3 == -1L)
    assert(rejected.nonEmpty && rejected.forall(_._2 > 64L))
    val fills = a.filter(_._3 >= 0).groupBy(_._3).map { case (_, xs) => xs.map(_._2).sum }
    assert(fills.forall(_ <= 64L))
    // conservation: every eligible doc packed exactly once
    assert(a.count(_._3 >= 0) == rows.count(_._2 <= 64L))
  }
}

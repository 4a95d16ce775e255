package graft

import graft.functions.HashFunctions
import graft.operators.{AsOfJoin, Decontamination, Dedup, HeavyHitters, Sampling}
import graft.sources.WetSource
import org.apache.spark.sql.functions._

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.GZIPOutputStream
import scala.util.Random

/** Edge cases surfaced by review that deserve pinned behavior. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  test("wet maxDocsPerFile caps per-file emission") {
    val dir = Files.createTempDirectory("wetcap")
    val recs = (1 to 10).map { i =>
      val text = (1 to 40).map(j => s"w$i-$j filler words here").mkString(" ")
      val p = text.getBytes(StandardCharsets.UTF_8)
      s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: http://c/$i\r\n" +
        s"WARC-Date: 2025-01-01T00:00:00Z\r\nWARC-Record-ID: <urn:uuid:c$i>\r\n" +
        s"Content-Length: ${p.length}\r\n\r\n$text\r\n\r\n"
    }
    val os = new GZIPOutputStream(new FileOutputStream(dir.resolve("c.wet.gz").toFile))
    recs.foreach(r => os.write(r.getBytes(StandardCharsets.UTF_8)))
    os.close()
    val docs = WetSource.readDir(spark, dir.toString,
      WetSource.WetConfig(minChars = 50, maxDocsPerFile = 3))
    assert(docs.count() == 3)
  }

  test("heavy hitters on empty input returns empty frame, not a crash") {
    val empty = spark.emptyDataFrame.withColumn("w", lit("x")).filter(lit(false))
    assert(HeavyHitters.topK(empty, "w", 5).count() == 0)
  }

  test("heavy hitters merge preserves guarantee across many partitions") {
    val n = 3000
    val data = ((1 to n / 3).map(_ => "dominant") ++ (1 to n * 2 / 3).map(i => s"t$i"))
    val hh = HeavyHitters.topK(data.map(Tuple1(_)).toDF("w").repartition(16), "w", 20)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // any item with freq > N/k = 150 must survive; dominant has 1000
    assert(hh.contains("dominant"))
    assert(hh("dominant") <= n / 3)           // lower bound never overcounts
    assert(hh("dominant") > n / 3 - n / 20)   // undercount bounded by N/k
  }

  test("LongSet agrees with java HashSet on random streams") {
    val rnd = new Random(11)
    val ls = new HashFunctions.LongSet(16)
    val ref = scala.collection.mutable.Set[Long]()
    var agree = true
    (1 to 5000).foreach { _ =>
      val v = HashFunctions.splitmix64(rnd.nextLong()) | 1L // avoid reserved 0
      val a = ls.add(v)
      val b = ref.add(v)
      if (a != b) agree = false
    }
    assert(agree)
  }

  test("as-of join matches a brute-force reference on random data") {
    val rnd = new Random(5)
    val lefts = (1 to 120).map(i => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toLong))
    val rights = (1 to 80).map(i => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i * 1.5))
    val ldf = lefts.toDF("key", "ts", "lid")
    val rdf = rights.toDF("key", "qts", "v")
    val got = AsOfJoin.backward(ldf, rdf, "key", "ts", "qts", Seq("v"))
      .collect().map(r => r.getLong(2) -> Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    lefts.foreach { case (k, ts, lid) =>
      val cand = rights.filter(r => r._1 == k && r._2 <= ts)
      val want =
        if (cand.isEmpty) None
        else Some(cand.maxBy(r => (r._2, r._3))._3) // ties by payload (matchedCols order)
      assert(got(lid) == want, s"lid=$lid key=$k ts=$ts")
    }
  }

  test("stratified sample with frac=1.0 is the identity") {
    val df = (1L to 50L).map(i => (i, s"s${i % 3}")).toDF("id", "lang")
    val out = graft.operators.Sampling.stratifiedExact(df, "lang", 1.0, "id")
    assert(out.count() == 50)
  }

  test("as-of join with no matching key yields nulls, not dropped rows") {
    val l = Seq((9L, 100L, "orphan")).toDF("key", "ts", "tag")
    val r = Seq((1L, 50L, 1.0)).toDF("key", "qts", "v")
    val out = AsOfJoin.backward(l, r, "key", "ts", "qts", Seq("v")).collect()
    assert(out.length == 1)
    assert(out.head.isNullAt(3))
  }

  test("as-of join multiple left rows share one right match deterministically") {
    val l = (1 to 5).map(i => (1L, 100L + i, s"t$i")).toDF("key", "ts", "tag")
    val r = Seq((1L, 100L, 7.5)).toDF("key", "qts", "v")
    val out = AsOfJoin.backward(l, r, "key", "ts", "qts", Seq("v"))
      .orderBy("ts").collect()
    assert(out.forall(_.getDouble(3) == 7.5))
  }

  test("spanTrim is null-safe and empty-safe") {
    val df = Seq[(java.lang.Long, String)](
      (1L, null), (2L, ""), (3L, "   "),
      (4L, "a1 a2 a3 a4"), (5L, "a1 a2 a3 a4")
    ).toDF("doc_id", "text")
    val r = graft.operators.Dedup.spanTrim(df, "doc_id", "text", window = 3)
      .orderBy("doc_id").collect()
    // null/empty/blank all behave as the empty doc: 1 empty token,
    // no windows, nothing trimmed, nothing null in the output
    (0 to 2).foreach { i =>
      assert(r(i).getLong(1) == 1L && r(i).getLong(2) == 0L)
      assert(r(i).getString(3) == "")
    }
    assert(r(3).getString(3) == "a1 a2 a3 a4")
    assert(r(4).getString(3) == "" && r(4).getLong(2) == 4L)
  }

  test("lineDedup and dupPassageReport on empty input return empty, not crash") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.lineDedup(empty, "doc_id", "text").count() == 0)
    assert(Dedup.dupPassageReport(empty, "doc_id", "text").count() == 0)
  }

  test("lineDedup dedupes empty-text docs like any other line value") {
    val df = Seq((1L, ""), (2L, "")).toDF("doc_id", "text")
    val r = Dedup.lineDedup(df, "doc_id", "text").orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(3)))
    // both docs are the single line "": doc 1 wins it, doc 2 keeps nothing
    assert(r === Seq((1L, "", 1L), (2L, "", 0L)))
  }

  test("overlapReport with an empty eval set flags nothing") {
    val corpus = Seq((1L, "some words here for this document to use")).toDF("doc_id", "text")
    val r = Decontamination.overlapReport(corpus, corpus.limit(0), "doc_id", "text", 5)
      .collect()
    assert(r.length == 1 && r.head.getLong(1) == 0L && !r.head.getBoolean(2))
  }

  test("temperatureMixture keeps zero-token sources entirely") {
    val df = Seq((1L, "empty", 0L), (2L, "empty", 0L), (3L, "full", 100L))
      .toDF("doc_id", "source", "n_tok")
    val kept = Sampling.temperatureMixture(df, "source", col("n_tok"),
        "doc_id", tokenBudget = 1000.0)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.contains(1L) && kept.contains(2L))
  }

  test("dsirResample with an empty target domain still scores and selects") {
    // nT = 0: every target count is 0, weights are finite (add-one
    // smoothing), selection still picks nSelect docs deterministically
    val df = Seq((1L, "a b c"), (2L, "a b"), (3L, "c d e f"))
      .toDF("doc_id", "text")
    val r = graft.operators.TextAnalysis.dsirResample(
        df, "text", lit(false), vocabSize = 8, nSelect = 2)
      .orderBy("doc_id").collect()
    assert(r.length == 3)
    assert(r.forall(x => !x.isNullAt(2) && !x.getDouble(2).isNaN))
    assert(r.count(_.getBoolean(3)) == 2)
  }

  test("dsirResample on an empty corpus returns empty, not a crash") {
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    val r = graft.operators.TextAnalysis.dsirResample(
      empty, "text", lit(true), vocabSize = 8, nSelect = 5).collect()
    assert(r.isEmpty)
  }

  test("passageTrim: null and empty text rows survive with zero blocks kept") {
    val df = Seq((1L, "a b c d"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r = graft.operators.Dedup.passageTrim(df, "doc_id", "text", window = 2)
      .orderBy("doc_id").collect()
    assert(r(0).getString(1) == "a b c d")
    // empty text: one block containing "", kept (it is globally first)
    assert(r(1).getString(1) == "" && r(1).getLong(2) == 1L)
    // null text: explodes to nothing -> reported as empty with 0 blocks
    assert(r(2).getString(1) == "" && r(2).getLong(3) == 0L)
  }

  test("backoff LM trained on an empty corpus scores everything at the unk floor") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val lm = graft.operators.TextAnalysis.trainBackoffLm(empty, "text", 8)
    assert(lm.vocab.isEmpty && lm.total == 0L && lm.trigrams.isEmpty)
    // every position backs off to ln(0.16 * (0+1)/(0+0+1)) = ln(0.16)
    val r = graft.operators.TextAnalysis
      .backoffPerplexity(Seq((1L, "a b c d")).toDF("doc_id", "text"), "text", lm)
      .select("n_trigrams", "avg_logp").head()
    assert(r.getLong(0) == 2L)
    assert(r.getDouble(1) == math.rint(math.log(0.16) * 1e6) / 1e6)
  }

  test("preferencePairs and labelPropagation on empty inputs return empty frames") {
    val noDocs = Seq.empty[(Long, Long, Double)].toDF("p", "doc_id", "q")
    assert(graft.operators.Ranking
      .preferencePairs(noDocs, "p", col("q"), "doc_id", 0.0).count() == 0L)
    val noEdges = Seq.empty[(String, String)].toDF("src", "dst")
    assert(graft.operators.LabelPropagation.run(noEdges).count() == 0L)
  }

  test("overlapFlag on an empty corpus and on null text is total") {
    val evalG = Array(1L, 2L, 3L)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Decontamination.overlapFlag(empty, "doc_id", "text", 5, evalG).count() == 0L)
    // null text: null gram array -> the flag coalesces to clean
    // (overlapReport's left-join semantics), never null, never a crash
    val withNull = Seq((1L, null.asInstanceOf[String]), (2L, "x y")).toDF("doc_id", "text")
    val r = Decontamination.overlapFlag(withNull, "doc_id", "text", 5, evalG)
      .orderBy("doc_id").collect()
    assert(r.map(x => (x.getLong(1), x.getBoolean(2))).toSeq ==
      Seq((0L, false), (0L, false)))
  }

  test("fuzzy decon is total: empty eval suite, null text, corpus-empty") {
    val corpus = Seq((1L, "some words here"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val emptyEval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // empty eval: every doc clean, nothing dropped, no crash
    val rep = Decontamination.fuzzyOverlapReport(
        corpus, emptyEval, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(rep.map(x => (x.getLong(1), x.getBoolean(3))).toSeq ==
      Seq((0L, false), (0L, false)))
    assert(Decontamination.fuzzyDecontaminate(
      corpus, emptyEval, "doc_id", "text").count() == 2L)
    // empty corpus against a real eval suite
    val emptyCorpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Decontamination.fuzzyOverlapReport(
      emptyCorpus, corpus.limit(1), "doc_id", "text").isEmpty)
    // null-text corpus row vs itself as eval: must not throw; the null
    // row normalizes to no grams and stays clean
    val withSelf = Decontamination.fuzzyOverlapReport(
        corpus, corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(withSelf(0).getBoolean(3))      // real text convicts itself
    assert(!withSelf(1).getBoolean(3))     // null text stays clean
  }

  test("spanDecontaminate and provenance are total on null text and empty eval") {
    val corpus = Seq((1L, "a b c d e"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val emptyEval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val r = Decontamination.spanDecontaminate(corpus, emptyEval,
        "doc_id", "text", window = 3)
      .orderBy("doc_id").collect()
    assert(r.length == 2 && r.forall(_.getLong(2) == 0L))
    assert(Decontamination.spanDecontaminationProvenance(
      corpus, emptyEval, "doc_id", "text", window = 3).isEmpty)
  }

  test("kCore on an empty edge list returns empty at any k") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graft.operators.KCore.run(empty, k = 2, rounds = 3).isEmpty)
  }

  test("canonicalByScore with an empty pair set maps nobody") {
    val df = Seq((1L, "abc")).toDF("doc_id", "text")
    val noPairs = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Dedup.loserMap(df, "doc_id", noPairs,
      Some(struct(octet_length(col("text")).cast("long"), -col("doc_id")))).isEmpty)
  }
}

package graft

import graft.functions.{HashFunctions, TextFunctions}
import graft.operators.TextAnalysis
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

/** The Column-lambda formulations that [[TextFunctions.dupLineRatio]] and
  * [[TextAnalysis.langIdScore]] replaced with one codegen'd kernel each,
  * kept as the reference the kernels must match. */
object LambdaKernels {

  /** split on \n, trim, drop blanks, sort, count lines equal to a sorted
    * neighbour; <5 lines -> 0.0. */
  def dupLineRatio(c: Column): Column = {
    val lines = filter(transform(split(c, "\n"), l => trim(l)), l => length(l) > 0)
    val sorted = sort_array(lines)
    val n = size(sorted)
    val prev = concat(array(lit(null).cast("string")), slice(sorted, lit(1), n - 1))
    val next = concat(slice(sorted, lit(2), n), array(lit(null).cast("string")))
    val eqPrev = zip_with(sorted, prev, (a, b) => a <=> b)
    val eqNext = zip_with(sorted, next, (a, b) => a <=> b)
    val dupCount = aggregate(zip_with(eqPrev, eqNext, (a, b) => a || b),
      lit(0), (acc, x) => acc + when(x, 1).otherwise(0))
    when(n < 5, lit(0.0)).otherwise(dupCount.cast("double") / n)
  }

  /** best / greatest(total, 1) folded over the stopword hit counts. */
  def langIdScore(text: Column,
                  table: Seq[(String, Seq[String])] = TextAnalysis.LangStopwords): Column =
    aggregate(HashFunctions.stopwordLangHits(lower(text), table.map(_._2)),
      struct(lit(0).as("best"), lit(0).as("total")),
      (acc, h) => struct(greatest(acc.getField("best"), h).as("best"),
        (acc.getField("total") + h).as("total")),
      acc => round(acc.getField("best").cast("double") /
        greatest(acc.getField("total").cast("double"), lit(1.0)), 6))
}

class KernelEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  /** Kernel and reference agree on every row: both NULL, or the same
    * double bit for bit. */
  private def assertSame(texts: Seq[String], kernel: Column, reference: Column): Unit = {
    val rows = texts.toDF("t").select(col("t"), kernel, reference).collect()
    assert(rows.length == texts.length)
    rows.foreach { case Row(t, k, r) =>
      val what = String.valueOf(t).take(60)
      assert((k == null) == (r == null), s"null mismatch on '$what': $k vs $r")
      if (k != null)
        assert(java.lang.Double.doubleToRawLongBits(k.asInstanceOf[Double]) ==
          java.lang.Double.doubleToRawLongBits(r.asInstanceOf[Double]), s"'$what': $k vs $r")
    }
  }

  test("dupLineRatio kernel equals the lambda chain on adversarial rows") {
    val rnd = new scala.util.Random(7)
    val longDoc = (1 to 10000).map(_ => s"line ${rnd.nextInt(6000)}").mkString("\n")
    val texts = Seq(
      null,
      "",
      "\n\n\n\n\n\n",
      "a\nb\nc\na",                       // fewer than 5 lines
      "a\n\n   \nb\n \nc\n\n",            // blank and space-only lines
      "a\n\n   \nb\n \nc\nd\ne\na",
      "\tfoo\nfoo\n\tfoo\nbar\nbaz\nqux",  // trim keeps tabs
      "foo\t\nfoo\nx\ny\nz",
      "x  \nx\n  x\ny\nz\nw",             // duplicates up to leading/trailing spaces
      "\u00a0x\nx\nx \ny\nz\nw",          // a no-break space is not trimmed
      "a\r\na\nb\r\nc\nd\ne",             // \r stays in the line
      // CJK and non-BMP lines; U+FFFF sorts apart in UTF-8 and UTF-16
      "中文\n中文\n\ud83d\ude00\n\ud83d\ude00 \n\ud835\udd18\nabc\n\uffff\n\uffff",
      "same\nsame\nsame\nsame\nsame",
      "\nlead\nlead\nb\nc\nd\n",
      "q\nw\ne\nr\nt\ny",
      longDoc)
    assertSame(texts, TextFunctions.dupLineRatio(col("t")), LambdaKernels.dupLineRatio(col("t")))
    // the long doc is not a degenerate 0.0
    val r = Seq(longDoc).toDF("t").select(TextFunctions.dupLineRatio(col("t"))).head().getDouble(0)
    assert(r > 0.0 && r < 1.0, r)
  }

  test("langIdScore kernel equals the aggregate fold on adversarial rows") {
    val texts = Seq(
      null,
      "",
      "xyz qqq 123 ____",                    // no hits
      "the der",                             // tied languages
      "The AND of is",                       // a single language, mixed case
      "the der die",                         // 2 of 3: a repeating decimal
      "the_and the-and THE\tand\nder",       // word-char runs and boundaries
      "中文 the \ud83d\ude00 der la",
      "el los las es una que para " * 40 + "the")
    assertSame(texts, TextAnalysis.langIdScore(col("t")), LambdaKernels.langIdScore(col("t")))
    // a word two languages list counts for both; an empty table scores 0
    val shared = Seq("a" -> Seq("x", "y"), "b" -> Seq("x"))
    assertSame(Seq("x y", "x", "y y", null),
      TextAnalysis.langIdScore(col("t"), shared), LambdaKernels.langIdScore(col("t"), shared))
    assertSame(Seq("the", null),
      TextAnalysis.langIdScore(col("t"), Nil), LambdaKernels.langIdScore(col("t"), Nil))
  }
}

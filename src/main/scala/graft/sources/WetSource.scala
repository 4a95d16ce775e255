package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.io.{BufferedInputStream, ByteArrayOutputStream, FileInputStream, InputStream}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.zip.GZIPInputStream
import scala.collection.mutable.ArrayBuffer

/** WET (WARC conversion) file source.
  *
  * Spark has no built-in WARC reader, so this is a hand-rolled
  * gzip + record-splitter for the simple WET profile
  * (`WARC/1.0` header block, `Content-Length` payload), mirroring the
  * reference's extraction semantics (reference: src/llm_data_pipeline/
  * ingest/step.py:41-98): keep `WARC-Type: conversion` records, decode
  * UTF-8 with replacement, normalize newlines, drop docs shorter than
  * `minChars`, truncate above `maxChars`, cap docs per file, and derive
  * `doc_id` = sha1(source\nurl\ndate\nrecord_id)
  * (reference: ingest/step.py:35-38).
  *
  * `source` is the file path as listed, and [[discover]] lists
  * ABSOLUTE paths, so `doc_id` hashes where the corpus lies, as the
  * reference's does (SURVEY S3). The same corpus read from two
  * directories gets different doc ids, so a different packer order
  * (`xxhash64(doc_id)`) and different export bytes; exports compare
  * byte for byte only between runs that read the same directory.
  *
  * Distribution model = the reference's (S2/S3): the *file list* is the
  * parallel collection — `spark.createDataset(paths).flatMap(parse)` —
  * so each task streams one file; at 100 TB the unit of work is a file,
  * which is exactly how CommonCrawl shards.
  */
object WetSource {

  case class WetConfig(
      minChars: Int = 200,
      maxChars: Int = 200000,
      maxDocsPerFile: Int = Int.MaxValue,
      warcType: String = "conversion")

  case class WetDoc(doc_id: String, url: String, warc_date: String,
                    source_path: String, text: String)

  /** Normalize newlines exactly like the reference ingest
    * (reference: src/llm_data_pipeline/ingest/step.py:25-32). */
  def normalizeText(s: String): String =
    s.replace("\r\n", "\n").replace('\r', '\n')
      .trim.replaceAll("\n{3,}", "\n\n")

  def sha1Hex(s: String): String =
    MessageDigest.getInstance("SHA-1").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Parse one WET stream into documents. */
  def parseStream(in: InputStream, sourcePath: String, cfg: WetConfig): Iterator[WetDoc] = {
    val bis = new BufferedInputStream(in, 1 << 16)

    def readLine(): String = {
      val buf = new ByteArrayOutputStream(128)
      var c = bis.read()
      if (c == -1) return null
      while (c != -1 && c != '\n') { if (c != '\r') buf.write(c); c = bis.read() }
      new String(buf.toByteArray, StandardCharsets.UTF_8)
    }

    new Iterator[WetDoc] {
      private var nextDoc: WetDoc = _
      private var emitted = 0
      private var done = false

      private def advance(): Unit = {
        nextDoc = null
        if (done || emitted >= cfg.maxDocsPerFile) { done = true; return }
        while (nextDoc == null && !done) {
          // seek a version line
          var line = readLine()
          while (line != null && !line.startsWith("WARC/")) line = readLine()
          if (line == null) { done = true; return }
          // headers until blank line
          val headers = scala.collection.mutable.Map[String, String]()
          line = readLine()
          while (line != null && line.nonEmpty) {
            val i = line.indexOf(':')
            if (i > 0) headers(line.substring(0, i).trim.toLowerCase) = line.substring(i + 1).trim
            line = readLine()
          }
          if (line == null) { done = true; return }
          val len = headers.get("content-length").flatMap(_.toIntOption).getOrElse(0)
          val payload = new Array[Byte](len)
          var off = 0
          var truncated = false
          while (off < len) {
            val r = bis.read(payload, off, len - off)
            if (r == -1) { done = true; truncated = true; off = len } else off += r
          }
          // a payload cut off mid-record must not enter the corpus
          if (!truncated && headers.get("warc-type").contains(cfg.warcType)) {
            val text = normalizeText(new String(payload, StandardCharsets.UTF_8))
            if (text.length >= cfg.minChars) {
              val t = if (text.length > cfg.maxChars) text.substring(0, cfg.maxChars) else text
              val url = headers.getOrElse("warc-target-uri", "")
              val date = headers.getOrElse("warc-date", "")
              val rid = headers.getOrElse("warc-record-id", "")
              nextDoc = WetDoc(sha1Hex(s"$sourcePath\n$url\n$date\n$rid"), url, date, sourcePath, t)
              emitted += 1
            }
          }
        }
      }

      override def hasNext: Boolean = { if (nextDoc == null && !done) advance(); nextDoc != null }
      override def next(): WetDoc = {
        if (!hasNext) throw new NoSuchElementException
        val d = nextDoc; nextDoc = null; d
      }
    }
  }

  def parseFile(path: String, cfg: WetConfig): Iterator[WetDoc] = {
    val raw = new FileInputStream(path)
    val in = if (path.endsWith(".gz")) new GZIPInputStream(raw) else raw
    // close on task end (covers early abandonment by limit()/failures)
    // and eagerly once the iterator is exhausted
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => try in.close() catch { case _: Throwable => () }))
    val it = parseStream(in, path, cfg)
    new Iterator[WetDoc] {
      override def hasNext: Boolean = {
        val h = it.hasNext
        if (!h) try in.close() catch { case _: Throwable => () }
        h
      }
      override def next(): WetDoc = it.next()
    }
  }

  /** File list → distributed document table. */
  def read(spark: SparkSession, paths: Seq[String], cfg: WetConfig = WetConfig()): DataFrame = {
    import spark.implicits._
    val sorted = paths.sorted
    val ds: Dataset[String] =
      spark.createDataset(sorted).repartition(math.max(1, math.min(sorted.size, 256)))
    ds.flatMap(p => parseFile(p, cfg)).toDF()
  }

  /** Directory scan with the reference's listing semantics: recursive
    * glob, sorted, hidden files dropped, head-capped
    * (reference: src/llm_data_pipeline/ingest/run.py:26-43,96-97). */
  def discover(dir: String, suffix: String = ".wet.gz", maxFiles: Int = Int.MaxValue): Seq[String] = {
    val out = new ArrayBuffer[String]()
    def walk(f: java.io.File): Unit = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
      kids.sortBy(_.getName).foreach { k =>
        if (k.getName.startsWith(".")) ()
        else if (k.isDirectory) walk(k)
        else if (k.getName.endsWith(suffix)) out += k.getAbsolutePath
      }
    }
    walk(new java.io.File(dir))
    out.sorted.take(maxFiles).toSeq
  }

  def readDir(spark: SparkSession, dir: String, cfg: WetConfig = WetConfig(),
              maxFiles: Int = Int.MaxValue): DataFrame =
    read(spark, discover(dir, maxFiles = maxFiles), cfg)
}

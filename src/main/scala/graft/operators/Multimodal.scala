package graft.operators

import graft.core.PerRow
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Multimodal column operators: image/audio/video as opaque `binary`
  * columns with typed metadata, decoded one asset at a time.
  *
  * Image (PPM P6), audio (WAV PCM16) and video (YUV4MPEG2/C420) are
  * REAL codecs implemented dependency-free below — synthesis produces
  * valid files, decode parses them back, resize re-samples actual
  * pixels, and video features come from decoded frame lumas. (A
  * production build would swap in compressed codecs via JNI; the
  * formats here are the standard uncompressed interchange ones.)
  *
  * Scale design: each decoder is a stateless per-row Scala UDF over the
  * binary column, appended through [[graft.core.PerRow]], so it runs
  * once per asset and peak memory is one decoded asset per task.
  */
object Multimodal {

  // ---------------------------------------------------------------- PPM

  /** Encode an RGB image as binary PPM (P6), pixels row-major. */
  def encodePpm(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width * height * 3)
    val header = s"P6\n$width $height\n255\n".getBytes(StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(rgb, 0, out, header.length, rgb.length)
    out
  }

  case class PpmImage(width: Int, height: Int, rgb: Array[Byte])

  /** Decode a P6 PPM (ascii header, maxval 255, raw RGB). */
  def decodePpm(data: Array[Byte]): PpmImage = {
    var pos = 0
    def token(): String = {
      while (pos < data.length && Character.isWhitespace(data(pos))) pos += 1
      val start = pos
      while (pos < data.length && !Character.isWhitespace(data(pos))) pos += 1
      new String(data, start, pos - start, StandardCharsets.US_ASCII)
    }
    require(token() == "P6", "not a P6 PPM")
    val w = token().toInt; val h = token().toInt; val maxv = token().toInt
    require(maxv == 255, s"unsupported maxval $maxv")
    pos += 1 // single whitespace after maxval
    require(data.length >= pos + w * h * 3,
      s"truncated PPM: need ${pos + w * h * 3} bytes, have ${data.length}")
    val rgb = java.util.Arrays.copyOfRange(data, pos, pos + w * h * 3)
    PpmImage(w, h, rgb)
  }

  /** Nearest-neighbor resize of a PPM — a real pixel operation. */
  def resizePpm(img: PpmImage, outW: Int, outH: Int): PpmImage = {
    val out = new Array[Byte](outW * outH * 3)
    var y = 0
    while (y < outH) {
      val sy = y * img.height / outH
      var x = 0
      while (x < outW) {
        val sx = x * img.width / outW
        val si = (sy * img.width + sx) * 3
        val di = (y * outW + x) * 3
        out(di) = img.rgb(si); out(di + 1) = img.rgb(si + 1); out(di + 2) = img.rgb(si + 2)
        x += 1
      }
      y += 1
    }
    PpmImage(outW, outH, out)
  }

  // ---------------------------------------------------------------- WAV

  /** Encode PCM16 mono samples as a RIFF/WAVE file. */
  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(36 + dataLen); bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(16); bb.putShort(1); bb.putShort(1)
    bb.putInt(sampleRate); bb.putInt(sampleRate * 2); bb.putShort(2); bb.putShort(16)
    bb.put("data".getBytes); bb.putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  case class WavAudio(sampleRate: Int, samples: Array[Short])

  /** Decode a PCM16 mono RIFF/WAVE file (the layout encodeWav writes). */
  def decodeWav(data: Array[Byte]): WavAudio = {
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    require(data.length >= 44 && data(0) == 'R' && data(8) == 'W', "not RIFF/WAVE")
    bb.position(24)
    val rate = bb.getInt
    bb.position(40)
    val dataLen = bb.getInt
    val n = math.min(dataLen, data.length - 44) / 2
    val samples = new Array[Short](n)
    bb.position(44)
    var i = 0
    while (i < n) { samples(i) = bb.getShort; i += 1 }
    WavAudio(rate, samples)
  }

  // ---------------------------------------------------------------- Y4M

  /** Encode luma frames as YUV4MPEG2 / C420 (the mjpegtools y4m format —
    * a real, public, uncompressed video container): ascii stream header,
    * then per frame a `FRAME\n` marker + raw Y plane + quarter-size U
    * and V planes (neutral 128 here — grayscale video). */
  def encodeY4m(width: Int, height: Int, fpsNum: Int,
                frames: Seq[Array[Byte]]): Array[Byte] = {
    require(width % 2 == 0 && height % 2 == 0, "C420 needs even dimensions")
    frames.foreach(f => require(f.length == width * height, "bad Y plane size"))
    val header = s"YUV4MPEG2 W$width H$height F$fpsNum:1 Ip A1:1 C420\n"
      .getBytes(StandardCharsets.US_ASCII)
    val chroma = (width / 2) * (height / 2)
    val marker = "FRAME\n".getBytes(StandardCharsets.US_ASCII)
    val bb = ByteBuffer.allocate(
      header.length + frames.length * (marker.length + width * height + 2 * chroma))
    bb.put(header)
    frames.foreach { y =>
      bb.put(marker)
      bb.put(y)
      var i = 0
      while (i < 2 * chroma) { bb.put(128.toByte); i += 1 }
    }
    bb.array()
  }

  case class Y4mVideo(width: Int, height: Int, fpsNum: Int, frames: Seq[Array[Byte]])

  /** Decode a YUV4MPEG2 stream (the layout encodeY4m writes; tolerates
    * any parameter order in the header). Returns the Y planes. */
  def decodeY4m(data: Array[Byte]): Y4mVideo = {
    var pos = 0
    while (pos < data.length && data(pos) != '\n') pos += 1
    val header = new String(data, 0, pos, StandardCharsets.US_ASCII)
    require(header.startsWith("YUV4MPEG2"), "not a YUV4MPEG2 stream")
    pos += 1
    val params = header.split(' ').drop(1).map(p => p.head -> p.tail).toMap
    val w = params('W').toInt
    val h = params('H').toInt
    val fps = params.get('F').map(_.split(':')(0).toInt).getOrElse(25)
    val chroma = (w / 2) * (h / 2)
    val frames = Seq.newBuilder[Array[Byte]]
    while (pos < data.length) {
      var eol = pos
      while (eol < data.length && data(eol) != '\n') eol += 1
      require(new String(data, pos, eol - pos, StandardCharsets.US_ASCII)
        .startsWith("FRAME"), "bad frame marker")
      pos = eol + 1
      require(data.length >= pos + w * h + 2 * chroma, "truncated frame")
      frames += java.util.Arrays.copyOfRange(data, pos, pos + w * h)
      pos += w * h + 2 * chroma
    }
    Y4mVideo(w, h, fps, frames.result())
  }

  // ------------------------------------------------------------- schema

  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),      // image | audio | video
    StructField("data", BinaryType, nullable = false),       // encoded bytes (real PPM/WAV)
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true))), nullable = false)))

  /** Deterministic synthetic asset table with REAL payloads: 8x8 PPM
    * gradients for images, 256-sample PCM16 WAVs for audio, opaque bytes
    * for video. Exercises the full binary path without external files. */
  def synthesizeAssets(ids: DataFrame, idCol: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val enc = org.apache.spark.sql.Encoders.row(assetSchema)
    ids.select(col(idCol).cast("long").as("id")).as[Long].map { id =>
      (id % 3) match {
        case 0 => // image: 8x8 gradient seeded by id
          val rgb = new Array[Byte](8 * 8 * 3)
          var i = 0
          while (i < 64) {
            rgb(i * 3) = ((i * 4 + id) % 256).toByte
            rgb(i * 3 + 1) = ((i * 2 + id * 3) % 256).toByte
            rgb(i * 3 + 2) = ((i + id * 7) % 256).toByte
            i += 1
          }
          Row(id, "image", encodePpm(8, 8, rgb), Row(8, 8, null, null))
        case 1 => // audio: 256 samples of a deterministic waveform
          val samples = Array.tabulate(256)(i =>
            (math.sin((i + id) * 0.1) * 16000).toShort)
          Row(id, "audio", encodeWav(16000, samples), Row(null, null, 16000, null))
        case _ => // video: 4-frame 8x8 grayscale Y4M that brightens per
          // frame (saturating, not wrapping, so frame means differ)
          val frames = (0 until 4).map(f =>
            Array.tabulate(64)(i =>
              math.min(255, i * 3 + f * 20 + (id % 16)).toByte))
          Row(id, "video", encodeY4m(8, 8, 12, frames), Row(8, 8, null, 4: Integer))
      }
    }(enc)
  }

  /** Per-asset feature extraction: (asset_id, kind, n_bytes, features).
    * REAL decode for image (per-channel means + 2x2 block means from
    * actual pixels), audio (RMS, zero-crossing rate, mean from actual
    * samples) and video (mean luma of each of the first 4 frames). */
  def extractFeatures(assets: DataFrame): DataFrame =
    PerRow.append(assets.select("asset_id", "kind", "data"), Seq("n_bytes", "features"),
      struct(length(col("data")), udf(features _).apply(col("kind"), col("data"))))
      .drop("data")

  private def features(kind: String, data: Array[Byte]): Array[Float] = kind match {
    case "image" =>
      val img = decodePpm(data)
      val n = img.width * img.height
      val sums = new Array[Long](3)
      var i = 0
      while (i < n) {
        sums(0) += img.rgb(i * 3) & 0xff
        sums(1) += img.rgb(i * 3 + 1) & 0xff
        sums(2) += img.rgb(i * 3 + 2) & 0xff
        i += 1
      }
      // channel means + 2x2 grayscale block means
      val small = resizePpm(img, 2, 2)
      val blocks = (0 until 4).map { b =>
        ((small.rgb(b * 3) & 0xff) + (small.rgb(b * 3 + 1) & 0xff)
          + (small.rgb(b * 3 + 2) & 0xff)) / (3f * 255f)
      }
      Array(sums(0).toFloat / n / 255f, sums(1).toFloat / n / 255f,
        sums(2).toFloat / n / 255f) ++ blocks
    case "audio" =>
      val wav = decodeWav(data)
      val n = math.max(1, wav.samples.length)
      var sumSq = 0.0; var zc = 0; var sum = 0.0
      var i = 0
      while (i < wav.samples.length) {
        val s = wav.samples(i) / 32768.0
        sumSq += s * s; sum += s
        if (i > 0 && (wav.samples(i) >= 0) != (wav.samples(i - 1) >= 0)) zc += 1
        i += 1
      }
      Array(math.sqrt(sumSq / n).toFloat, zc.toFloat / n, (sum / n).toFloat,
        wav.sampleRate / 48000f)
    case _ => // video: REAL decode — mean luma of each frame
      val vid = decodeY4m(data)
      vid.frames.take(4).map { y =>
        var s = 0L; var i = 0
        while (i < y.length) { s += y(i) & 0xff; i += 1 }
        s.toFloat / math.max(1, y.length) / 255f
      }.toArray.padTo(4, 0f)
  }

  /** 63-bit average-hash (aHash) over a decoded image: bit i is set
    * iff pixel i's gray value strictly exceeds the image mean, in
    * integer form `gray_i * n > sum(gray)` (no float mean, so any
    * engine reproduces every bit). gray = r+g+b unscaled. Only 63
    * bits are used (pixel 63 of an 8x8 image is skipped) so the hash
    * rides signed-64 transport — SQL engines without unsigned BIGINT
    * rebuild it as a plain sum of powers of two. */
  def imagePhash(data: Array[Byte]): Long = {
    val img = decodePpm(data)
    val n = img.width * img.height
    val gray = new Array[Long](n)
    var s = 0L
    var i = 0
    while (i < n) {
      gray(i) = (img.rgb(i * 3) & 0xff) + (img.rgb(i * 3 + 1) & 0xff) +
        (img.rgb(i * 3 + 2) & 0xff)
      s += gray(i)
      i += 1
    }
    var h = 0L
    i = 0
    val bits = math.min(63, n)
    while (i < bits) {
      if (gray(i) * n > s) h |= (1L << i)
      i += 1
    }
    h
  }

  /** (id, sig) perceptual hashes for the image assets — the decode runs
    * once per image through [[PerRow.append]]. */
  def imagePhashes(assets: DataFrame): DataFrame =
    PerRow.append(
      assets.filter(col("kind") === "image").select(col("asset_id").as("id"), col("data")),
      Seq("sig"), struct(udf(imagePhash _).apply(col("data")))).drop("data")

  /** Public banding seam over phash signatures — (id, band_id,
    * band_hash) rows for a persistable image near-dup index (the
    * multimodal analogue of Dedup.bandIndex; st22 joins a stream of
    * new image hashes against it statelessly). */
  def phashBandRows(sigs: DataFrame, maxHamming: Int = 2): DataFrame =
    Dedup.simhashBandRows(sigs, maxHamming, maxHamming + 1)

  /** Perceptual near-duplicate image clusters: aHash signatures,
    * SimHash pigeonhole banding (recall-guaranteed at the Hamming
    * radius), bucket-local candidate pairs and the exact
    * `bit_count(xor)` verify — text SimHash dedup's (x02) one pair
    * build, [[Dedup.simhashPairs]] — then connected components.
    * Returns every image with its cluster id (component min) and
    * cluster size.
    *
    * Skew is killed BEFORE banding: identical signatures (distance 0 —
    * they always pass the verify) collapse to one representative per
    * distinct sig, connected by a streaming min-star with no cap, and
    * only representatives are banded. Real image corpora's mega-buckets
    * are overwhelmingly exact-duplicate hashes (boilerplate logos,
    * solid frames), so `maxBucket` binds on DISTINCT signatures per
    * band — component-identical to the full clique+verify (any
    * verified pair either shares a sig, reaching its rep by star, or
    * its reps form the same verified pair), unlike a star-over-raw-ids
    * shortcut, which would lose pairs whose bucket root fails the
    * Hamming verify. */
  def phashClusters(assets: DataFrame, maxHamming: Int = 2,
                    maxBucket: Int = 1000): DataFrame = {
    val sigs = imagePhashes(assets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact-duplicate collapse: min-agg + join (never a per-sig array)
    val reps = sigs.groupBy("sig").agg(min(col("id")).as("rep"))
    val exactStars = sigs.join(reps, "sig")
      .where(col("id") =!= col("rep"))
      .select(col("rep").as("src"), col("id").as("dst"))
    val nearPairs = Dedup.simhashPairs(reps.select(col("rep").as("id"), col("sig")),
      maxHamming, maxBucket, maxHamming + 1)
    val out = ConnectedComponents.labelRows(sigs.select(col("id"), col("sig")), "id",
        nearPairs.unionByName(exactStars))
      .select(col("id").as("asset_id"), col("sig").as("phash"), col("component").as("cluster_id"))
      // materialize before releasing the signature cache (this operator
      // owns the sigs lifecycle; callers only see checkpointed blocks)
      .localCheckpoint(true)
    sigs.unpersist()
    val sizes = out.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    out.join(sizes, "cluster_id")
      .select("asset_id", "phash", "cluster_id", "cluster_size")
  }

  /** Real image resize over the binary column: decode → nearest-neighbor
    * resample → re-encode, bounded by `maxSide` preserving aspect. */
  def resizeImages(assets: DataFrame, maxSide: Int): DataFrame = {
    val resize = udf { (data: Array[Byte]) =>
      val img = decodePpm(data)
      val scale = math.min(1.0, maxSide.toDouble / math.max(img.width, img.height))
      val (ow, oh) = (math.max(1, (img.width * scale).toInt),
        math.max(1, (img.height * scale).toInt))
      (encodePpm(ow, oh, resizePpm(img, ow, oh).rgb), ow, oh)
    }
    PerRow.append(assets.filter(col("kind") === "image").select("asset_id", "data"),
      Seq("data", "out_width", "out_height"), resize(col("data")))
  }

  /** Video frame sampling: explode `n_frames` metadata into every k-th
    * frame row — pure Column expressions; [[decodeY4m]] supplies the
    * actual frames when the payload is needed. */
  def sampleFrames(assets: DataFrame, everyK: Int = 30): DataFrame =
    assets.filter(col("kind") === "video")
      .select(col("asset_id"),
        explode(sequence(lit(0), col("meta.n_frames") - 1, lit(everyK))).as("frame_idx"))

  /** Audio-quality signals over WAV payloads — the clip-screening pass
    * an audio-curation pipeline runs before transcription: per asset,
    * the SILENCE ratio (|sample| <= `silenceEps` — dead air), the
    * CLIPPING ratio (|sample| >= `clipLevel` — saturated capture), and
    * the exact energy (sum of squared samples, an integer — callers
    * derive RMS; kept exact so external engines replay it
    * bit-for-bit). Pure per-row decode + one pass, no shuffle, no
    * state; ratios are rounded 6dp from exact integer counts. */
  def audioQuality(assets: DataFrame, silenceEps: Int = 0,
                   clipLevel: Int = 32760): DataFrame = {
    val quality = udf { (data: Array[Byte]) =>
      val w = decodeWav(data)
      val n = w.samples.length
      var nSil = 0L; var nClip = 0L; var sumSq = 0L
      var i = 0
      while (i < n) {
        val v = w.samples(i).toInt
        val a = math.abs(v)
        if (a <= silenceEps) nSil += 1
        if (a >= clipLevel) nClip += 1
        sumSq += v.toLong * v
        i += 1
      }
      (n.toLong, if (n == 0) 0.0 else round6(nSil.toDouble / n),
        if (n == 0) 0.0 else round6(nClip.toDouble / n), sumSq)
    }
    PerRow.append(assets.select(col("asset_id").cast("long"), col("data")),
      Seq("n_samples", "silence_ratio", "clipping_ratio", "sum_square"),
      quality(col("data"))).drop("data")
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Scene-cut detection over Y4M video payloads — the shot-boundary
    * pass a video-curation pipeline runs before captioning/frame
    * dedup: decode the Y planes, compute the mean absolute luma
    * difference between consecutive frames, and flag every boundary
    * whose difference reaches `threshold` (the classic pixel-domain
    * cut detector; a hard cut moves most pixels at once, motion moves
    * few by little). Per-row work only — decode + one pass over the
    * planes, no shuffle, no state; output is (asset_id, n_frames,
    * cut_frames as a ','-joined index list — frame f means the cut is
    * BETWEEN f-1 and f, max_diff rounded 6dp). */
  def sceneCuts(assets: DataFrame, threshold: Double): DataFrame = {
    val cuts = udf { (data: Array[Byte]) =>
      val v = decodeY4m(data)
      val diffs = v.frames.iterator.sliding(2).withPartial(false).map { w =>
        val (a, b) = (w.head, w(1))
        var s = 0L
        var i = 0
        while (i < a.length) { s += math.abs((a(i) & 0xff) - (b(i) & 0xff)); i += 1 }
        s.toDouble / a.length
      }.toArray
      val cutFrames = diffs.iterator.zipWithIndex
        .collect { case (d, i) if d >= threshold => (i + 1).toString }
        .mkString(",")
      (v.frames.length, cutFrames, round6(if (diffs.isEmpty) 0.0 else diffs.max))
    }
    PerRow.append(assets.select(col("asset_id").cast("long"), col("data")),
      Seq("n_frames", "cut_frames", "max_diff"), cuts(col("data"))).drop("data")
  }
}

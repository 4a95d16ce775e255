package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def assets = Multimodal.synthesizeAssets((0L until 30L).toDF("id"), "id")

  test("ppm codec roundtrips pixels exactly") {
    val rgb = Array.tabulate(4 * 2 * 3)(i => (i * 7 % 256).toByte)
    val img = Multimodal.decodePpm(Multimodal.encodePpm(4, 2, rgb))
    assert(img.width == 4 && img.height == 2)
    assert(img.rgb.toSeq == rgb.toSeq)
  }

  test("wav codec roundtrips samples exactly") {
    val samples = Array.tabulate(100)(i => (i * 321 - 16000).toShort)
    val wav = Multimodal.decodeWav(Multimodal.encodeWav(22050, samples))
    assert(wav.sampleRate == 22050)
    assert(wav.samples.toSeq == samples.toSeq)
  }

  test("nearest-neighbor resize picks real source pixels") {
    // 2x1 image: red pixel then blue pixel; upscale to 4x1
    val rgb = Array[Byte](255.toByte, 0, 0, 0, 0, 255.toByte)
    val out = Multimodal.resizePpm(Multimodal.PpmImage(2, 1, rgb), 4, 1)
    assert(out.rgb.grouped(3).map(_.toSeq).toSeq ==
      Seq(Seq(255.toByte, 0, 0), Seq(255.toByte, 0, 0), Seq(0, 0, 255.toByte), Seq(0, 0, 255.toByte)))
  }

  test("synthesized assets carry real decodable payloads") {
    val a = assets.collect()
    assert(a.length == 30)
    a.foreach { r =>
      val data = r.getAs[Array[Byte]]("data")
      r.getString(1) match {
        case "image" =>
          val img = Multimodal.decodePpm(data)
          assert(img.width == 8 && img.height == 8)
        case "audio" =>
          val wav = Multimodal.decodeWav(data)
          assert(wav.sampleRate == 16000 && wav.samples.length == 256)
        case "video" =>
          val vid = Multimodal.decodeY4m(data)
          assert(vid.width == 8 && vid.height == 8 && vid.frames.length == 4)
      }
    }
  }

  test("Y4M video codec roundtrips frames exactly") {
    val frames = (0 until 3).map(f => Array.tabulate(8 * 8)(i => ((i + f * 7) % 256).toByte))
    val encoded = Multimodal.encodeY4m(8, 8, 25, frames)
    val decoded = Multimodal.decodeY4m(encoded)
    assert(decoded.width == 8 && decoded.height == 8 && decoded.fpsNum == 25)
    assert(decoded.frames.length == 3)
    decoded.frames.zip(frames).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
  }

  test("feature extraction decodes real payloads") {
    val f1 = Multimodal.extractFeatures(assets).orderBy("asset_id").collect()
    assert(f1.length == 30)
    // image features are channel means in [0,1]
    val img = f1.find(_.getString(1) == "image").get.getSeq[Float](3)
    assert(img.length == 7 && img.forall(v => v >= 0f && v <= 1f))
    // audio RMS of a sine-ish wave is near 1/sqrt(2) * amplitude(0.49)
    val aud = f1.find(_.getString(1) == "audio").get.getSeq[Float](3)
    assert(aud.head > 0.2f && aud.head < 0.5f, s"rms=${aud.head}")
  }

  test("distributed image resize bounds the max side") {
    val resized = Multimodal.resizeImages(assets, maxSide = 4).collect()
    assert(resized.nonEmpty)
    resized.foreach { r =>
      assert(r.getInt(2) <= 4 && r.getInt(3) <= 4)
      val img = Multimodal.decodePpm(r.getAs[Array[Byte]](1))
      assert(img.width == r.getInt(2) && img.height == r.getInt(3))
    }
  }

  test("frame sampling explodes every k-th frame of videos only") {
    val frames = Multimodal.sampleFrames(assets, everyK = 3)
    val perAsset = frames.groupBy("asset_id").count().collect()
    assert(perAsset.forall(_.getLong(1) == 2)) // frames 0 and 3 of 4
    val nVideos = assets.filter($"kind" === "video").count()
    assert(perAsset.length == nVideos)
  }

  test("video features are decoded frame lumas, not hashes") {
    val feats = Multimodal.extractFeatures(assets).filter($"kind" === "video")
      .orderBy("asset_id").collect()
    assert(feats.nonEmpty)
    feats.foreach { r =>
      val f = r.getSeq[Float](3)
      assert(f.length == 4 && f.forall(v => v >= 0f && v <= 1f))
      // synthesized frames brighten with frame index (+16 luma per frame,
      // modulo wraps on a few pixels) — means must not all be equal
      assert(f.distinct.length > 1)
    }
  }

  test("audioQuality counts silence/clipping exactly; energy is the integer sum") {
    import spark.implicits._
    val samples: Array[Short] = Array[Short](0, 0, 100, -100, 32767, -32767, 5)
    val wavs = Seq((1L, Multimodal.encodeWav(8000, samples))).toDF("asset_id", "data")
    val r = Multimodal.audioQuality(wavs).collect().head
    assert(r.getLong(1) === 7L)
    assert(r.getDouble(2) === BigDecimal(2.0 / 7)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)  // two zeros
    assert(r.getDouble(3) === BigDecimal(2.0 / 7)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)  // +/- full scale
    assert(r.getLong(4) === (2L * 100 * 100 + 2L * 32767 * 32767 + 25L))
  }

  test("sceneCuts flags exactly the planted boundaries; still video has none") {
    import spark.implicits._
    def flat(v: Int) = Array.fill(64)(v.toByte)
    val vids = Seq(
      // two hard cuts: 10 -> 200 (between frames 1|2) and 200 -> 40 (3|4)
      (1L, Multimodal.encodeY4m(8, 8, 25,
        Seq(flat(10), flat(10), flat(200), flat(200), flat(40)))),
      // still: zero diffs everywhere
      (2L, Multimodal.encodeY4m(8, 8, 25, Seq(flat(99), flat(99), flat(99)))),
      // single frame: no boundary exists at all
      (3L, Multimodal.encodeY4m(8, 8, 25, Seq(flat(5))))
    ).toDF("asset_id", "data")
    val r = Multimodal.sceneCuts(vids, threshold = 30.0)
      .orderBy("asset_id").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getString(2), x.getDouble(3)))
    assert(r(0) === ((1L, 5, "2,4", 190.0)))
    assert(r(1) === ((2L, 3, "", 0.0)))
    assert(r(2) === ((3L, 1, "", 0.0)))
  }
}

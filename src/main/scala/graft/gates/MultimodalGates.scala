package graft
package gates

import graft.operators._
import org.apache.spark.sql.functions._
import Fixtures._

/** Multimodal gates (m01-m08): PPM/WAV/Y4M codecs, binary dedup,
  * pHash near-dup, scene cuts, audio quality. */
object MultimodalGates {
  val all: Seq[Gate] = Seq(
    Gate("m01_multimodal_features", (s, d) => {
      val assets = Multimodal.synthesizeAssets(docs(s, d).select("doc_id"), "doc_id")
      Multimodal.extractFeatures(assets)
        .groupBy("kind")
        .agg(count(lit(1)).as("n"), min("n_bytes").as("min_bytes"), max("n_bytes").as("max_bytes"))
        .orderBy("kind")
    },
      """SELECT kind, count(*) AS n,
              CAST(CASE kind WHEN 'image' THEN 203 WHEN 'audio' THEN 556 ELSE 443 END AS INTEGER) AS min_bytes,
              CAST(CASE kind WHEN 'image' THEN 203 WHEN 'audio' THEN 556 ELSE 443 END AS INTEGER) AS max_bytes
         FROM (SELECT CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
                           WHEN 1 THEN 'audio' ELSE 'video' END AS kind
               FROM documents)
         GROUP BY kind ORDER BY kind"""),

    Gate("m02_audio_features", (s, d) => {
      // per-asset audio features hash-checked against a from-scratch
      // SQL recomputation: the synth waveform is a closed-form
      // function of the id, so the oracle rebuilds the samples with
      // sin/trunc and replays RMS / zero-crossing rate / mean as
      // position-order folds — the row only matches if the WAV
      // encode→decode roundtrip is byte-exact AND the feature math is
      // bit-equal (double folds, float quantization, then 6dp).
      val assets = Multimodal.synthesizeAssets(docs(s, d).select("doc_id"), "doc_id")
      Multimodal.extractFeatures(assets.filter(col("kind") === "audio"))
        .select(col("asset_id"),
          round(element_at(col("features"), 1).cast("double"), 6).as("rms"),
          round(element_at(col("features"), 2).cast("double"), 6).as("zcr"),
          round(element_at(col("features"), 3).cast("double"), 6).as("mean_s"))
        .orderBy("asset_id")
    },
      // From-scratch replay of the audio synth + feature math: samples
      // are trunc(sin((i+id)*0.1)*16000)/32768 (the PCM16 short over the
      // full-scale divisor), folds run in position order, and each
      // feature passes through REAL (float) before the 6dp round — the
      // exact quantization the Scala path applies.
      """WITH a AS (SELECT doc_id AS asset_id FROM documents WHERE doc_id % 3 = 1),
         s AS (SELECT asset_id,
             list_transform(range(0, 256), i ->
               trunc(sin((i + asset_id) * 0.1) * 16000) / 32768.0) AS sm
           FROM a),
         agg AS (SELECT asset_id,
             list_reduce(list_transform(sm, x -> x * x), (p, q) -> p + q) AS sumsq,
             list_reduce(sm, (p, q) -> p + q) AS ssum,
             len(list_filter(range(1, 256), i -> (sm[i+1] >= 0) != (sm[i] >= 0))) AS zc
           FROM s)
         SELECT asset_id,
           round(CAST(CAST(sqrt(sumsq / 256.0) AS REAL) AS DOUBLE), 6) AS rms,
           round(CAST(CAST(CAST(zc AS DOUBLE) / 256.0 AS REAL) AS DOUBLE), 6) AS zcr,
           round(CAST(CAST(ssum / 256.0 AS REAL) AS DOUBLE), 6) AS mean_s
         FROM agg ORDER BY asset_id"""),

    Gate("m03_image_features", (s, d) => {
      // the image twin of m02: per-asset channel means checked against
      // a from-scratch SQL replay of the 8x8 gradient formula — PPM
      // encode→decode must be byte-exact and the mean's float-division
      // chain bit-equal (DuckDB FLOAT/FLOAT division stays FLOAT, the
      // same IEEE single op the Scala path runs).
      val assets = Multimodal.synthesizeAssets(docs(s, d).select("doc_id"), "doc_id")
      Multimodal.extractFeatures(assets.filter(col("kind") === "image"))
        .select(col("asset_id"),
          round(element_at(col("features"), 1).cast("double"), 6).as("r_mean"),
          round(element_at(col("features"), 2).cast("double"), 6).as("g_mean"),
          round(element_at(col("features"), 3).cast("double"), 6).as("b_mean"))
        .orderBy("asset_id")
    },
      // Channel sums replay the gradient formula ((i*4+id)%256 etc.)
      // as integer folds; the mean chain divides in REAL twice — the
      // exact float ops the Scala path applies — before the 6dp round.
      """WITH a AS (SELECT doc_id AS asset_id FROM documents WHERE doc_id % 3 = 0),
         px AS (SELECT asset_id,
             list_reduce(list_transform(range(0, 64), i -> (i*4 + asset_id) % 256), (p, q) -> p + q) AS rs,
             list_reduce(list_transform(range(0, 64), i -> (i*2 + asset_id*3) % 256), (p, q) -> p + q) AS gs,
             list_reduce(list_transform(range(0, 64), i -> (i + asset_id*7) % 256), (p, q) -> p + q) AS bs
           FROM a)
         SELECT asset_id,
           round(CAST(CAST(rs AS REAL) / 64 / 255 AS DOUBLE), 6) AS r_mean,
           round(CAST(CAST(gs AS REAL) / 64 / 255 AS DOUBLE), 6) AS g_mean,
           round(CAST(CAST(bs AS REAL) / 64 / 255 AS DOUBLE), 6) AS b_mean
         FROM px ORDER BY asset_id"""),

    Gate("m04_video_features", (s, d) => {
      // completes the codec trio (WAV m02, PPM m03): per-asset Y4M
      // frame luma means vs the SQL replay of the saturating
      // brighten-per-frame formula min(255, i*3 + f*20 + id%16) — the
      // C420 header/frame layout must decode byte-exactly.
      val assets = Multimodal.synthesizeAssets(docs(s, d).select("doc_id"), "doc_id")
      Multimodal.extractFeatures(assets.filter(col("kind") === "video"))
        .select(col("asset_id"),
          round(element_at(col("features"), 1).cast("double"), 6).as("f0_luma"),
          round(element_at(col("features"), 2).cast("double"), 6).as("f1_luma"),
          round(element_at(col("features"), 3).cast("double"), 6).as("f2_luma"),
          round(element_at(col("features"), 4).cast("double"), 6).as("f3_luma"))
        .orderBy("asset_id")
    },
      """WITH a AS (SELECT doc_id AS asset_id FROM documents WHERE doc_id % 3 = 2),
         fr AS (SELECT asset_id, f,
             list_reduce(list_transform(range(0, 64), i ->
               least(255, i*3 + f*20 + asset_id % 16)), (p, q) -> p + q) AS ls
           FROM a, (SELECT unnest(range(0, 4)) AS f)),
         pv AS (SELECT asset_id,
             max(CASE WHEN f = 0 THEN ls END) AS l0,
             max(CASE WHEN f = 1 THEN ls END) AS l1,
             max(CASE WHEN f = 2 THEN ls END) AS l2,
             max(CASE WHEN f = 3 THEN ls END) AS l3
           FROM fr GROUP BY asset_id)
         SELECT asset_id,
           round(CAST(CAST(l0 AS REAL) / 64 / 255 AS DOUBLE), 6) AS f0_luma,
           round(CAST(CAST(l1 AS REAL) / 64 / 255 AS DOUBLE), 6) AS f1_luma,
           round(CAST(CAST(l2 AS REAL) / 64 / 255 AS DOUBLE), 6) AS f2_luma,
           round(CAST(CAST(l3 AS REAL) / 64 / 255 AS DOUBLE), 6) AS f3_luma
         FROM pv ORDER BY asset_id"""),

    Gate("m05_binary_dedup", (s, d) => {
      // exact dedup over OPAQUE BINARY content — the multimodal twin of
      // d07 (text dedup): group by md5 of the raw bytes, first
      // occurrence (min id) survives, copies counted. The asset
      // dictionary is synthesized from doc_id % 48 so payloads
      // genuinely repeat, and the payload-per-seed table is joined back
      // BROADCAST (the dictionary is bounded; the corpus never
      // shuffles for the join — only the md5 group-by shuffles, on the
      // hash, which is uniform by construction). The oracle knows
      // nothing about bytes: it groups by the synthesis seed — the two
      // groupings agree ONLY if the codec output is byte-deterministic
      // and md5-over-binary separates every distinct payload.
      val seeds = docs(s, d)
        .select(pmod(col("doc_id"), lit(48)).cast("long").as("seed")).distinct()
      val dict = Multimodal.synthesizeAssets(seeds, "seed")
        .select(col("asset_id").as("seed"), col("kind"), col("data"))
      docs(s, d).select(col("doc_id"), pmod(col("doc_id"), lit(48)).as("seed"))
        .join(broadcast(dict), "seed")
        .groupBy(md5(col("data")).as("content_md5"), col("kind"))
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "kind", "n_copies")
        .orderBy("doc_id")
    },
      // The oracle never sees the bytes: it groups by the synthesis
      // seed. Agreement proves codec determinism + md5 separation.
      """SELECT min(doc_id) AS doc_id,
           CASE CAST(g % 3 AS INTEGER) WHEN 0 THEN 'image'
                WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           count(*) AS n_copies
         FROM (SELECT doc_id, doc_id % 48 AS g FROM documents)
         GROUP BY g ORDER BY doc_id"""),

    Gate("m06_phash_neardup", (s, d) => {
      // perceptual near-duplicate image detection — the multimodal
      // twin of SimHash text dedup (x02): 63-bit average-hash from the
      // REAL decoded pixels (bit i = gray_i above the image mean, in
      // integer arithmetic), pigeonhole-banded at Hamming radius 2
      // (recall-guaranteed), bucket-local pairs with the skew cap,
      // exact bit_count(xor) verify, distributed CC. The oracle
      // rebuilds the hash from the synthesis formulas, brute-forces
      // the Hamming graph, and closes it recursively — the Spark
      // banded path must reproduce the exact clusters.
      val assets = Multimodal.synthesizeAssets(docs(s, d).select("doc_id"), "doc_id")
      Multimodal.phashClusters(assets, maxHamming = 2)
        .orderBy("asset_id")
    },
      // Expected post-revision state recomputed from the raw table; a
      // static-overwrite regression loses the untouched partitions and
      // cannot match.
      // The hash is rebuilt from the image-synthesis formulas (m03's
      // convention), the Hamming-<=2 graph brute-forced, and the
      // closure taken recursively — banding on the Spark side must not
      // lose a single pair.
      s"""WITH RECURSIVE $phashCtesSql,
         e AS (SELECT a.id AS u, b.id AS w FROM h a JOIN h b ON a.id < b.id
           WHERE bit_count(xor(a.sig, b.sig)) <= 2),
         ed AS (SELECT u, w FROM e UNION SELECT w, u FROM e),
         reach AS (SELECT u, w FROM ed
           UNION SELECT r.u, ed.w FROM reach r JOIN ed ON r.w = ed.u WHERE ed.w != r.u),
         comp AS (SELECT u AS id, min(w) AS mn FROM reach GROUP BY u),
         lab AS (SELECT h.id AS asset_id, h.sig AS phash,
             CASE WHEN c.mn IS NULL OR c.mn > h.id THEN h.id ELSE c.mn END AS cluster_id
           FROM h LEFT JOIN comp c ON h.id = c.id),
         sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           FROM lab GROUP BY cluster_id)
         SELECT asset_id, phash, l.cluster_id, cluster_size
         FROM lab l JOIN sz USING (cluster_id) ORDER BY asset_id""",
      scaleTwin = Some(
        """WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 3 = 0),
         g AS (SELECT id, list_transform(range(0, 64), i ->
             ((i*4 + id) % 256) + ((i*2 + id*3) % 256) + ((i + id*7) % 256)) AS gray
           FROM ids),
         h AS (SELECT id, CAST(list_sum(list_transform(range(0, 63), i ->
             CASE WHEN gray[i+1] * 64 > list_sum(gray)
                  THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sig
           FROM g),
         lab AS (SELECT h.id AS asset_id, h.sig AS phash,
             CASE WHEN c.mn IS NULL OR c.mn > h.id THEN h.id ELSE c.mn END AS cluster_id
           FROM h LEFT JOIN tw_phash_comp c ON h.id = c.id),
         sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           FROM lab GROUP BY cluster_id)
         SELECT asset_id, phash, l.cluster_id, cluster_size
         FROM lab l JOIN sz USING (cluster_id) ORDER BY asset_id""")),

    Gate("m07_scene_cuts", (s, d) => {
      // shot-boundary detection over REAL Y4M payloads: each asset is
      // a 6-frame 8x8 video whose luma drifts +7/frame everywhere
      // (motion — mean diff exactly 7) with a planted +55 LEVEL SHIFT
      // at frame (id % 4) + 1 (the hard cut — mean diff exactly 62,
      // and exactly one boundary fires at threshold 30). Values stay
      // < 256 by construction, so every diff is integer-exact and the
      // oracle can state the planted truth directly: the gate proves
      // the C420 encode/decode roundtrip at 6 frames, the per-pixel
      // diff math, and the boundary flagging.
      import s.implicits._
      val vids = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val cut = (id % 4 + 1).toInt
        val frames = (0 until 6).map { f =>
          val shift = if (f >= cut) 55 else 0
          Array.tabulate(64)(i =>
            ((i * 2 + f * 7 + (id % 30).toInt + shift) & 0xff).toByte)
        }
        (id, Multimodal.encodeY4m(8, 8, 25, frames))
      }.toDF("asset_id", "data")
      Multimodal.sceneCuts(vids, threshold = 30.0)
        .orderBy("asset_id")
    },
      // The planted truth restated: drift diffs are exactly 7 (below
      // threshold), the level-shift boundary is exactly 62 — one cut at
      // id % 4 + 1, max_diff 62 for every asset.
      """SELECT doc_id AS asset_id, CAST(6 AS INT) AS n_frames,
           CAST(doc_id % 4 + 1 AS VARCHAR) AS cut_frames,
           CAST(62.0 AS DOUBLE) AS max_diff
         FROM documents ORDER BY asset_id"""),

    Gate("m08_audio_quality", (s, d) => {
      // clip screening over REAL PCM16 WAVs: 240-sample assets with a
      // planted dead-air run (30 + id%20 samples of 0 from t=40) and a
      // planted saturation run (10 + id%10 samples of 32767 from
      // t=150) inside an always-positive carrier ((t*37+id*13)%3999+1 —
      // never 0, never near full scale, so ONLY the plants count).
      // Silence/clipping ratios and the exact integer energy must
      // survive the WAV encode/decode roundtrip; the oracle replays
      // the synthesis formula and the counts in SQL.
      import s.implicits._
      val wavs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val silLen = (30 + id % 20).toInt
        val clipLen = (10 + id % 10).toInt
        val samples = Array.tabulate[Short](240) { t =>
          if (t >= 40 && t < 40 + silLen) 0
          else if (t >= 150 && t < 150 + clipLen) 32767
          else (((t * 37 + id * 13) % 3999) + 1).toShort
        }
        (id, Multimodal.encodeWav(16000, samples))
      }.toDF("asset_id", "data")
      Multimodal.audioQuality(wavs).orderBy("asset_id")
    },
      // The synthesis formula replayed sample-for-sample: plants decide
      // the silence/clipping counts, the carrier never contributes, and
      // the energy is an exact integer sum.
      """WITH t AS (SELECT doc_id AS asset_id, unnest(range(0, 240)) AS t
           FROM documents),
         s AS (SELECT asset_id, t,
             CASE WHEN t >= 40 AND t < 40 + 30 + asset_id % 20 THEN 0
                  WHEN t >= 150 AND t < 150 + 10 + asset_id % 10 THEN 32767
                  ELSE (t * 37 + asset_id * 13) % 3999 + 1 END AS v
           FROM t)
         SELECT asset_id, CAST(240 AS BIGINT) AS n_samples,
           round(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) / 240.0, 6)
             AS silence_ratio,
           round(sum(CASE WHEN v >= 32760 THEN 1 ELSE 0 END) / 240.0, 6)
             AS clipping_ratio,
           CAST(sum(v * v) AS BIGINT) AS sum_square
         FROM s GROUP BY asset_id ORDER BY asset_id""")
  )
}

package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Multimodal

/** Multimodal features: image, audio and video decoding and statistics
  * over the durably staged media fixtures.
  */
object MultimodalQueries extends Family {
  import Tables._

  // Durable-staged media fixtures — encode ONCE per (sf × testdata
  // fingerprint), read many. The PNG/WAV/GIF encode passes are the
  // most expensive per-row work in the whole suite (codec init, raster
  // build, container write); before staging, each media query re-ran
  // its encode from scratch (~12 s combined per suite run at sf0.1,
  // ~8 s of it redundant). This is the reference's own shape — media
  // is ingested/encoded once and queried many times (etl.py:114-179
  // runs one transform per poll cycle, never re-acquires) — and the
  // same checkpoint discipline the MinHash signature and rank-span
  // stages already use: at 100 TB the encoded corpus is a durable
  // table, and decode-side queries scan it.
  //
  // The encoders run inside `mapPartitions`, which no plan digest can
  // see, so each stage is keyed on its input (documents) alone: a
  // regenerated documents.parquet invalidates every staged payload,
  // and an edit to an encoder must bump `Stage.layoutVersion`.

  private def encoded(s: SparkSession, dir: String, name: String)
                     (encode: DataFrame => DataFrame): DataFrame = {
    val docs = t(s, dir, "documents")
    Stage.durableFrame(s, name, dir, inputs = Seq(docs))(encode(docs))
  }

  /** Grayscale PNG per doc (see [[Multimodal.fixtureFromDocuments]]). */
  private def png(s: SparkSession, dir: String): DataFrame =
    encoded(s, dir, "media-png")(Multimodal.fixtureFromDocuments)

  /** 8 kHz PCM WAV per doc (see [[Multimodal.audioFixtureFromDocuments]]). */
  private def wav(s: SparkSession, dir: String): DataFrame =
    encoded(s, dir, "media-wav")(Multimodal.audioFixtureFromDocuments)

  /** Animated GIF per doc (see [[Multimodal.videoFixtureFromDocuments]]). */
  private def gif(s: SparkSession, dir: String): DataFrame =
    encoded(s, dir, "media-gif")(Multimodal.videoFixtureFromDocuments)

  val judged: Seq[Judged] = Seq(
    // Multimodal: binary media column + metadata → per-partition REAL
    // PNG decode (javax.imageio) → features. The fixture encodes each
    // doc as a genuine (n_chars%64+1)×4 grayscale PNG whose pixels
    // cycle the 16 md5(text) bytes; PNG is lossless, so the decoded
    // raster — and thus every judged feature — is exactly reproducible
    // in SQL from md5(text) without parsing a container.
    Judged("e6_media_features", (s, dir) => {
      val fixture = png(s, dir)
      val features = Multimodal.extractFeatures(
        Multimodal.toMediaDataset(fixture), resizeStride = 4)
      features.toDF().select(
        col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
        col("mean_byte"),
        length(col("thumb")).cast("long").as("thumb_bytes"))
    },
      // decoded raster = 4·w pixels (w = n_chars%64+1) cycling the 16
      // md5(text) bytes: byte j (1-based) appears N//16 + (j<=N%16)
      // times; thumb = every 4th pixel of N=4w → w bytes
      """SELECT doc_id,
         CAST(4 * ((d.n_chars % 64) + 1) AS BIGINT) AS n_bytes,
         (SELECT CAST(SUM(CAST('0x' || substr(md5(d.text), 2*g.i - 1, 2)
                              AS BIGINT)
                  * ((4 * ((d.n_chars % 64) + 1)) // 16
                     + CASE WHEN g.i <= (4 * ((d.n_chars % 64) + 1)) % 16
                            THEN 1 ELSE 0 END)) AS DOUBLE)
                / (4 * ((d.n_chars % 64) + 1))
          FROM generate_series(1, 16) AS g(i)) AS mean_byte,
         CAST((d.n_chars % 64) + 1 AS BIGINT) AS thumb_bytes
         FROM documents d"""),

    // Integer-exact image statistics over REAL decoded pixels: min /
    // max / sum / sum-of-squares and the exact variance numerator
    // n·Σx² − (Σx)² — the per-image quality gate (blank / low-contrast
    // detection) of a media-curation pass, with zero floats in the
    // judged frame. PNG losslessness makes every column reproducible
    // from the fixture's md5 pixel layout.
    Judged("e94_image_stats", (s, dir) => {
      val fixture = png(s, dir)
      Multimodal.imageStats(Multimodal.toMediaDataset(fixture))
        .select(col("doc_id"),
          col("n_px").cast("long").as("n_px"),
          col("px_min").cast("long").as("px_min"),
          col("px_max").cast("long").as("px_max"),
          col("px_sum"), col("px_sumsq"),
          (col("n_px").cast("long") * col("px_sumsq") -
            col("px_sum") * col("px_sum")).as("var_num"))
    },
      // decoded raster stats from the md5 pixel cycle: byte j (1-based)
      // appears m_j = N//16 + (j<=N%16) times; min/max range over bytes
      // with m_j>0, the moments weight by m_j — all BIGINT-exact
      """WITH d AS (SELECT doc_id, md5(text) AS h,
              4 * ((n_chars % 64) + 1) AS N FROM documents),
          px AS (SELECT d.doc_id, d.N,
              CAST('0x' || substr(d.h, 2*g.i - 1, 2) AS BIGINT) AS b,
              (d.N // 16)
                + CASE WHEN g.i <= d.N % 16 THEN 1 ELSE 0 END AS m
            FROM d, generate_series(1, 16) AS g(i)),
          agg AS (SELECT doc_id, max(N) AS n_px,
              min(CASE WHEN m > 0 THEN b END) AS px_min,
              max(CASE WHEN m > 0 THEN b END) AS px_max,
              SUM(m * b) AS px_sum, SUM(m * b * b) AS px_sumsq
            FROM px GROUP BY doc_id)
          SELECT doc_id, CAST(n_px AS BIGINT) AS n_px,
            CAST(px_min AS BIGINT) AS px_min,
            CAST(px_max AS BIGINT) AS px_max,
            CAST(px_sum AS BIGINT) AS px_sum,
            CAST(px_sumsq AS BIGINT) AS px_sumsq,
            CAST(n_px * px_sumsq - px_sum * px_sum AS BIGINT) AS var_num
          FROM agg"""),

    // Multimodal frame sampling over DECODED pixels: width×4 raster →
    // 4-pixel frames (one per image column group), keep every 2nd —
    // the video keyframe-sampling shape, hex-encoded so the kept
    // frames themselves are value-judged
    Judged("e6_frame_sample", (s, dir) => {
      val fixture = png(s, dir)
      Multimodal.sampleFrameHex(Multimodal.toMediaDataset(fixture),
        frameSize = 4, everyK = 2)
        .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
          col("f0"), col("f1"))
    },
      // decoded pixels: N=4w → w frames of 4; everyK=2 keeps ceil(w/2);
      // frame 0 = pixels 0-3 = digest bytes 0-3 (hex chars 1-8), second
      // KEPT frame = frame 2 = pixels 8-11 = digest bytes 8-11 (hex
      // chars 17-24), present iff w >= 3
      """SELECT doc_id,
         CAST((((n_chars % 64) + 1) + 1) // 2 AS BIGINT) AS n_frames,
         substr(md5(text), 1, 8) AS f0,
         CASE WHEN (n_chars % 64) + 1 >= 3 THEN substr(md5(text), 17, 8)
              ELSE '' END AS f1
         FROM documents"""),

    // `e101_audio_stats` — the REAL audio-codec leg of the multimodal
    // surface: genuine PCM WAV containers decoded with JDK
    // `javax.sound.sampled`, integer-exact per-clip signal statistics (see
    // `Multimodal.AudioCodec`).
    //
    // REAL audio codec leg: documents → genuine 8 kHz PCM WAV payloads
    // (javax.sound.sampled, the audio analog of e94's javax.imageio
    // image leg) → per-partition batch decode → integer-exact signal
    // statistics (duration, peak, Σs, Σs², zero crossings). PCM
    // losslessness makes every judged column reproducible by the
    // oracle from md5(text) without parsing a container.
    Judged("e101_audio_stats", (s, dir) => {
      import graft.operators.Multimodal
      val fixture = wav(s, dir)
      Multimodal.audioStats(Multimodal.toMediaDataset(fixture))
        .select(col("doc_id"),
          col("n_samples").cast("long").as("n_samples"),
          col("rate").cast("long").as("rate"),
          col("duration_us"),
          col("peak").cast("long").as("peak"),
          col("s_sum"), col("s_sumsq"),
          col("zero_cross").cast("long").as("zero_cross"))
    },
      // decoded samples: n = (n_chars%96)+32 ∈ [32,127]; sample i =
      // md5-byte(i mod 16)·257 − 32768; fixed series 0..126 filtered to
      // i < n (DuckDB generate_series takes no correlated bound); peak /
      // moments / crossings all BIGINT-exact
      """WITH d AS (SELECT doc_id, md5(text) AS h,
              (n_chars % 96) + 32 AS n FROM documents),
          smp AS (SELECT d.doc_id, g.i,
              CAST('0x' || substr(d.h, 2*(g.i % 16)+1, 2) AS BIGINT)*257
                - 32768 AS s
            FROM d, generate_series(0, 126) AS g(i) WHERE g.i < d.n),
          lagged AS (SELECT doc_id, i, s,
              lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
            FROM smp)
          SELECT doc_id, count(*) AS n_samples,
            CAST(8000 AS BIGINT) AS rate,
            CAST(count(*) * 125 AS BIGINT) AS duration_us,
            CAST(max(abs(s)) AS BIGINT) AS peak,
            CAST(SUM(s) AS BIGINT) AS s_sum,
            CAST(SUM(s*s) AS BIGINT) AS s_sumsq,
            COUNT(*) FILTER (prev IS NOT NULL AND (prev < 0) <> (s < 0))
              AS zero_cross
          FROM lagged GROUP BY doc_id"""),

    // `e102_video_frames` — the REAL video-container leg: animated GIFs
    // (JDK imageio, lossless gray palette) decoded frame by frame,
    // every-2nd keyframe sampling, integer-exact per-frame moments (see
    // `Multimodal.VideoCodec`).
    //
    // REAL video container leg: documents → genuine animated GIFs
    // (multi-frame, JDK imageio GIF plugin, lossless on the gray
    // palette) → per-partition frame decode → keyframe sampling (every
    // 2nd frame) with integer-exact per-frame pixel moments. With this
    // all three media kinds (image/PNG, audio/WAV, video/GIF) run REAL
    // JDK codecs — no pass-through stub remains on the judged path.
    Judged("e102_video_frames", (s, dir) => {
      import graft.operators.Multimodal
      val fixture = gif(s, dir)
      Multimodal.videoFrameStats(
        Multimodal.toMediaDataset(fixture), everyK = 2)
        .select(col("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("n_px").cast("long").as("n_px"),
          col("f_sum"), col("f_sumsq"))
    },
      // decoded frame f (kept: f % 2 = 0, f < nf = (n_chars%6)+2) has
      // N = 4·((n_chars%16)+4) pixels, pixel i = md5-byte((i+3f) mod 16):
      // byte j appears N//16 + (1 if ((j-3f) mod 16) < N%16) times —
      // BIGINT-exact moments from the 16-byte multiset
      """WITH d AS (SELECT doc_id, md5(text) AS h,
              4 * ((n_chars % 16) + 4) AS N,
              (n_chars % 6) + 2 AS nf FROM documents),
          fr AS (SELECT doc_id, h, N, g.f AS frame_idx
            FROM d, generate_series(0, 7) AS g(f)
            WHERE g.f < nf AND g.f % 2 = 0),
          px AS (SELECT doc_id, frame_idx, N,
              CAST('0x' || substr(h, 2*g.j + 1, 2) AS BIGINT) AS b,
              (N // 16) + CASE
                WHEN ((g.j - 3*frame_idx) % 16 + 16) % 16 < N % 16
                THEN 1 ELSE 0 END AS m
            FROM fr, generate_series(0, 15) AS g(j))
          SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
            CAST(max(N) AS BIGINT) AS n_px,
            CAST(SUM(m * b) AS BIGINT) AS f_sum,
            CAST(SUM(m * b * b) AS BIGINT) AS f_sumsq
          FROM px GROUP BY doc_id, frame_idx"""),

    // `e120_phash_buckets` — perceptual difference-hash dedup over REAL
    // decoded rasters: gradient fingerprint per image
    // ([[Multimodal.dHash15]]), then dedup is a map-side-combinable groupBy
    // on the fingerprint — the standard stage-1 of image dedup at corpus
    // scale (no pairwise pixel comparison anywhere).
    //
    // Perceptual-hash image dedup, stage 1 — group REAL decoded
    // rasters by their gradient difference-hash
    // ([[Multimodal.dHash15]]): identical-looking images collide on
    // the fingerprint, so dedup is ONE map-side-combinable hash
    // aggregate over (fp) and never compares pixel pairs. The judged
    // frame is the duplicate-bucket report (every bucket of ≥ 2
    // images); the oracle re-derives each fingerprint from the
    // fixture's generative pixel formula, so the real PNG decode
    // path is value-judged end to end.
    Judged("e120_phash_buckets", (s, dir) => {
      Multimodal.dHash15(
          Multimodal.toMediaDataset(png(s, dir)))
        .groupBy("fp")
        .agg(count(lit(1)).as("n_images"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .where(col("n_images") >= 2)
    },
      // the fingerprint re-derived from the fixture's generative pixel
      // formula (pixels cycle the md5 bytes of the text — e94's
      // derivation): bit i set iff byte i > byte i+1, comparisons
      // defined for i ≤ min(N,16)−2.
      """WITH d AS (SELECT doc_id, md5(text) AS h,
             4 * ((n_chars % 64) + 1) AS N FROM documents),
         fp AS (
           SELECT d.doc_id,
             CAST(SUM(CASE WHEN g.i <= LEAST(d.N, 16) - 2 AND
                 CAST('0x' || substr(d.h, 2*g.i + 1, 2) AS BIGINT) >
                 CAST('0x' || substr(d.h, 2*g.i + 3, 2) AS BIGINT)
               THEN CAST(1 AS BIGINT) << g.i ELSE 0 END) AS BIGINT)
               AS fp
           FROM d, generate_series(0, 14) AS g(i)
           GROUP BY d.doc_id)
         SELECT fp, CAST(count(*) AS BIGINT) AS n_images,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM fp GROUP BY fp HAVING count(*) >= 2"""),

    // Voice-activity segmentation over REALLY decoded PCM
    // ([[Multimodal.audioVad]]) — the audio twin of e120's image
    // dedup stage: decode → fixed 8-sample frames → integer energy
    // gate → maximal voiced runs. Completes the audio family (e101
    // per-clip signal stats → this is the SEGMENT-level curation
    // report: how much of the clip is signal, in how many bursts).
    // The oracle re-derives frame energies from the fixture's
    // generative sample formula (md5-byte cycle), so the real WAV
    // container decode is value-judged end to end.
    Judged("e123_audio_vad", (s, dir) => {
      Multimodal.audioVad(
          Multimodal.toMediaDataset(wav(s, dir)))
        .select(col("doc_id"),
          col("n_frames").cast("long").as("n_frames"),
          col("voiced_frames").cast("long").as("voiced_frames"),
          col("n_segments").cast("long").as("n_segments"),
          col("longest_segment").cast("long").as("longest_segment"))
    },
      // frame energies re-derived from the fixture's generative sample
      // formula (sample i = md5-byte(i mod 16)·257 − 32768, e101's
      // derivation); segments via gaps-and-islands over voiced frames
      """WITH d AS (SELECT doc_id, md5(text) AS h,
             (n_chars % 96) + 32 AS n FROM documents),
         samp AS (
           SELECT d.doc_id, j.j, i.i,
             CAST('0x' || substr(d.h, 2*((8*j.j + i.i) % 16) + 1, 2)
               AS BIGINT) * 257 - 32768 AS s
           FROM d, generate_series(0, 14) AS j(j),
             generate_series(0, 7) AS i(i)
           WHERE j.j < d.n // 8),
         fr AS (
           SELECT doc_id, j,
             SUM(CAST(s AS HUGEINT) * s) >= 3000000000 AS voiced
           FROM samp GROUP BY 1, 2),
         runs AS (
           SELECT doc_id, j,
             j - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j)
               AS grp
           FROM fr WHERE voiced),
         seg AS (
           SELECT doc_id, grp, count(*) AS len
           FROM runs GROUP BY 1, 2)
         SELECT f.doc_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN f.voiced THEN 1 ELSE 0 END) AS BIGINT)
             AS voiced_frames,
           CAST(coalesce(max(sg.n_seg), 0) AS BIGINT) AS n_segments,
           CAST(coalesce(max(sg.longest), 0) AS BIGINT)
             AS longest_segment
         FROM fr f
         LEFT JOIN (SELECT doc_id, count(*) AS n_seg, max(len) AS longest
                    FROM seg GROUP BY 1) sg ON sg.doc_id = f.doc_id
         GROUP BY f.doc_id"""),

    // Scene-cut detection over REALLY decoded GIF frames
    // ([[Multimodal.videoSceneCuts]]) — completes the multimodal
    // curation triad (e120 image dedup, e123 audio VAD, this video
    // shot-boundary pass): consecutive-frame pixel-difference energy
    // against a per-pixel gate, scenes = cuts + 1. Oracle re-derives
    // every frame diff from the fixture's generative pixel formula
    // (frame f pixel i = md5-byte((i + 3f) mod 16)), so the real GIF
    // container decode is value-judged end to end.
    Judged("e124_scene_cuts", (s, dir) => {
      Multimodal.videoSceneCuts(
          Multimodal.toMediaDataset(gif(s, dir)))
        .select(col("doc_id"),
          col("n_frames").cast("long").as("n_frames"),
          col("n_cuts").cast("long").as("n_cuts"),
          col("n_scenes").cast("long").as("n_scenes"),
          col("max_diff"))
    },
      // consecutive-frame pixel diffs re-derived from the GIF fixture's
      // generative formula; (i + 3f − 3) ≥ 0 for f ≥ 1 so the cycle
      // index needs no negative-mod care
      """WITH d AS (SELECT doc_id, md5(text) AS h,
             (n_chars % 16) + 4 AS w, (n_chars % 6) + 2 AS nf
           FROM documents),
         px AS (
           SELECT d.doc_id, f.f,
             CAST('0x' || substr(d.h, 2*((i.i + 3*f.f) % 16) + 1, 2)
               AS BIGINT) AS b1,
             CAST('0x' || substr(d.h, 2*((i.i + 3*f.f - 3) % 16) + 1, 2)
               AS BIGINT) AS b0
           FROM d, generate_series(1, 6) AS f(f),
             generate_series(0, 79) AS i(i)
           WHERE f.f < d.nf AND i.i < 4 * d.w),
         fr AS (
           SELECT doc_id, f, SUM((b1 - b0) * (b1 - b0)) AS e,
             count(*) AS npx
           FROM px GROUP BY 1, 2),
         cut AS (
           SELECT doc_id,
             SUM(CASE WHEN e >= 10800 * npx THEN 1 ELSE 0 END) AS nc,
             max(e) AS mx
           FROM fr GROUP BY 1)
         SELECT d.doc_id, CAST(d.nf AS BIGINT) AS n_frames,
           CAST(c.nc AS BIGINT) AS n_cuts,
           CAST(c.nc + 1 AS BIGINT) AS n_scenes,
           CAST(c.mx AS BIGINT) AS max_diff
         FROM d JOIN cut c USING (doc_id)"""),

    // Clipping audit over REALLY decoded PCM
    // ([[Multimodal.audioClipping]]): samples at the int16 rails per
    // clip — the level-gain gate of the audio family (e101 signal
    // stats, e123 VAD segmentation, this distortion screen). The
    // oracle re-derives every sample from the fixture's generative
    // formula (md5-byte·257 − 32768: byte 0xff IS the positive rail,
    // 0x00 the negative), so the real WAV decode is value-judged.
    Judged("e128_audio_clipping", (s, dir) => {
      Multimodal.audioClipping(
          Multimodal.toMediaDataset(wav(s, dir)))
        .select(col("doc_id"),
          col("n_samples").cast("long").as("n_samples"),
          col("n_clipped").cast("long").as("n_clipped"),
          (col("n_clipped").cast("double") / col("n_samples"))
            .as("clip_frac"))
    },
      // samples re-derived from the audio fixture's generative formula
      // (e101/e123 pattern): sample i = md5-byte(i mod 16)·257 − 32768,
      // so clipped ⇔ the hex byte is 'ff' (+rail) or '00' (−rail)
      """WITH d AS (SELECT doc_id, md5(text) AS h,
             (n_chars % 96) + 32 AS n FROM documents),
         samp AS (
           SELECT d.doc_id, d.n,
             substr(d.h, 2 * (i.i % 16) + 1, 2) AS hb
           FROM d, generate_series(0, 126) AS i(i)
           WHERE i.i < d.n)
         SELECT doc_id,
           CAST(max(n) AS BIGINT) AS n_samples,
           CAST(count(*) FILTER (WHERE hb IN ('ff', '00')) AS BIGINT)
             AS n_clipped,
           CAST(count(*) FILTER (WHERE hb IN ('ff', '00')) AS DOUBLE)
             / max(n) AS clip_frac
         FROM samp GROUP BY doc_id"""))
}

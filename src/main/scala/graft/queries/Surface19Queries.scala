package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 third wave: behavioral attribution and corpus-concentration
  * reporting.
  *
  *  - `q109_attribution` — last-touch attribution: every purchase is
  *    credited to the latest strictly-earlier event of the same user
  *    (deterministic (ts, event_id) tie-break, house discipline from
  *    e5_sessionize/q103), then the credited touch types are rolled up
  *    into conversions + attributed revenue. ONE exchange on user_id
  *    feeds the per-user ordered walk (the window), and the rollup
  *    groups a 5-value domain — at 100 TB the sort is per-user-partition
  *    local and the report aggregate is a broadcast-sized frame.
  *    Purchases with no prior touch land in the '(none)' bucket, so the
  *    report is a partition of ALL purchases (auditable total).
  *  - `c32_stream_attribution` — the STREAMING form of the same
  *    report: per-user `GroupState` (one latest-touch record per user)
  *    through the real micro-batch engine over a deterministic
  *    ts-ordered file feed, judged against the identical oracle —
  *    stream/batch parity for the attribution semantic.
  *  - `e101_audio_stats` — the REAL audio-codec leg of the multimodal
  *    surface: genuine PCM WAV containers decoded with JDK
  *    `javax.sound.sampled`, integer-exact per-clip signal statistics
  *    (see `Multimodal.AudioCodec`).
  *  - `e102_video_frames` — the REAL video-container leg: animated
  *    GIFs (JDK imageio, lossless gray palette) decoded frame by
  *    frame, every-2nd keyframe sampling, integer-exact per-frame
  *    moments (see `Multimodal.VideoCodec`).
  *  - `e103_ks_pairs` — exact two-sample Kolmogorov–Smirnov distances
  *    between every event-type pair's value distributions: one
  *    distinct-value cumulative pass, integer cross-multiplied ECDF
  *    sup-gaps, a single final division per pair.
  *  - `e100_gini` — per-language Gini coefficient of character-volume
  *    concentration across sources, the curation inequality metric next
  *    to e17's balance and e84's source caps ("how dominated is my
  *    German split by one crawl?"). Sources are ranked by exact integer
  *    volume (ties → source name), and G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) /
  *    (n·Σxᵢ) is evaluated from integer-exact sums in ONE double
  *    division at the end, so the value is engine-reproducible with no
  *    float-summation order dependence. The heavy part (volume per
  *    (lang, source)) is a plain hash aggregate of the corpus; the
  *    ranking runs over the tiny (lang, source) domain.
  *
  * Reference parity: the reference (etl.py:1-246) has neither
  * attribution nor corpus reporting; both rows extend SURVEY §2.6's
  * analytics/curation axis.
  */
object Surface19Queries extends QuerySet {
  import Tables._

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q109_attribution" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
      val touched = events(s, dir)
        .withColumn("last_touch",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
      touched
        .where(col("event_type") === "purchase")
        .groupBy(coalesce(col("last_touch"), lit("(none)"))
          .as("touch_type"))
        .agg(count(lit(1)).as("conversions"),
          dsum(col("value"), 2).as("attributed_value"))
    }),

    // Streaming last-touch attribution through the REAL micro-batch
    // engine: the events table arrives as 3 ts-range chunks (pinned
    // mtimes — deterministic arrival, house discipline from c31), a
    // per-user GroupState carries the latest non-purchase touch across
    // batches, and each purchase emits its attributed row as it
    // arrives. Judged output = the same rollup as the batch
    // q109_attribution, against the SAME oracle — stream/batch parity
    // for the attribution semantic. State is one record per user
    // (scales with user cardinality, not event volume).
    "c32_stream_attribution" -> ((s, dir) =>
      // window = full span + 1s: every touch is in-window and no
      // timeout can fire mid-stream (touch_ts + w > hi0 ≥ any
      // watermark), so the rollup equals the unbounded batch oracle —
      // while still running the SAME TTL'd operator as c33 (no
      // NoTimeout code path exists)
      EventFeed.windowedAttributionRollup(s, dir, "graft-c32-",
        perCampaign = false,
        windowOf = (lo, hi) => (hi - lo) + 1000000L,
        sentinelGaps = Seq.empty)),

    // REAL audio codec leg: documents → genuine 8 kHz PCM WAV payloads
    // (javax.sound.sampled, the audio analog of e94's javax.imageio
    // image leg) → per-partition batch decode → integer-exact signal
    // statistics (duration, peak, Σs, Σs², zero crossings). PCM
    // losslessness makes every judged column reproducible by the
    // oracle from md5(text) without parsing a container.
    "e101_audio_stats" -> ((s, dir) => {
      import graft.operators.Multimodal
      val fixture = MediaFixtures.wav(s, dir)
      Multimodal.audioStats(Multimodal.toMediaDataset(fixture))
        .select(col("doc_id"),
          col("n_samples").cast("long").as("n_samples"),
          col("rate").cast("long").as("rate"),
          col("duration_us"),
          col("peak").cast("long").as("peak"),
          col("s_sum"), col("s_sumsq"),
          col("zero_cross").cast("long").as("zero_cross"))
    }),

    // REAL video container leg: documents → genuine animated GIFs
    // (multi-frame, JDK imageio GIF plugin, lossless on the gray
    // palette) → per-partition frame decode → keyframe sampling (every
    // 2nd frame) with integer-exact per-frame pixel moments. With this
    // all three media kinds (image/PNG, audio/WAV, video/GIF) run REAL
    // JDK codecs — no pass-through stub remains on the judged path.
    "e102_video_frames" -> ((s, dir) => {
      import graft.operators.Multimodal
      val fixture = MediaFixtures.gif(s, dir)
      Multimodal.videoFrameStats(
        Multimodal.toMediaDataset(fixture), everyK = 2)
        .select(col("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("n_px").cast("long").as("n_px"),
          col("f_sum"), col("f_sumsq"))
    }),

    // Exact two-sample Kolmogorov–Smirnov distance between the `value`
    // distributions of every event-type pair — the distribution-shift
    // test next to e78's chi-square drift. ONE pass builds per-type
    // cumulative counts over the UNION of distinct values (hash
    // aggregate + a single value-ordered window), then each of the 10
    // pairs takes max |cum_a·n_b − cum_b·n_a| — INTEGER-exact sup of
    // the ECDF gap (cross-multiplied, no per-row division); the only
    // double is the final D = num/(n_a·n_b). At 100 TB the aggregate
    // collapses rows to distinct values and the window runs over that
    // much smaller domain — same shape as q108's weighted median.
    "e103_ks_pairs" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pairs = for {
        i <- types.indices; j <- types.indices if i < j
      } yield (types(i), types(j))
      val counts = events(s, dir)
        .groupBy("value")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
      // (totals derived AFTER the cumulative pass below — max cum =
      // per-type n — so the corpus-scan pivot runs exactly once, into
      // the cumsum machinery's persisted range frame)
      // Range-partitioned cumulative pass (Rank.withGlobalCumsums):
      // the per-type ECDF counts accumulate in parallel partitions
      // with broadcast prefix offsets — no single-task
      // Window.orderBy anywhere, so the plan survives an
      // unbounded-domain value column unchanged (PlanAuditSpec
      // asserts no unpartitioned window here).
      val cums = graft.operators.Rank
        .withGlobalCumsums(counts, Seq(col("value")), types)
        .select(col("value") +: types.map(t => col(s"cum_$t")): _*)
      val totals = cums.agg(
        max(col(s"cum_${types.head}")).as(s"n_${types.head}"),
        types.tail.map(t => max(col(s"cum_$t")).as(s"n_$t")): _*)
      val gapped = cums.crossJoin(broadcast(totals))
      val maxima = gapped.agg(
        max(abs(col(s"cum_${pairs.head._1}") * col(s"n_${pairs.head._2}") -
          col(s"cum_${pairs.head._2}") * col(s"n_${pairs.head._1}")))
          .as(s"d_${pairs.head._1}_${pairs.head._2}"),
        pairs.tail.map { case (a, b) =>
          max(abs(col(s"cum_$a") * col(s"n_$b") -
            col(s"cum_$b") * col(s"n_$a"))).as(s"d_${a}_$b")
        } :+ first(col(s"n_${types.head}")).as(s"n_${types.head}") :++
          types.tail.map(t => first(col(s"n_$t")).as(s"n_$t")): _*)
      val stacked = maxima.selectExpr(
        s"stack(${pairs.length}, " + pairs.map { case (a, b) =>
          s"'$a', '$b', n_$a, n_$b, d_${a}_$b"
        }.mkString(", ") + ") as (type_a, type_b, n_a, n_b, d_num)")
      stacked.select(col("type_a"), col("type_b"), col("n_a"),
        col("n_b"), col("d_num"),
        (col("d_num").cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("d"))
    }),

    "e100_gini" -> ((s, dir) => {
      val vol = t(s, dir, "documents")
        .groupBy("lang", "source")
        .agg(sum(col("n_chars")).as("x"))
      val w = Window.partitionBy("lang").orderBy(col("x"), col("source"))
      val ranked = vol.withColumn("i", row_number().over(w))
      val agg = ranked.groupBy("lang")
        .agg(count(lit(1)).as("n_sources"),
          sum(col("x")).as("sx"),
          sum(col("i") * col("x")).as("six"))
      agg.select(col("lang"), col("n_sources"),
        ((lit(2) * col("six") - (col("n_sources") + lit(1)) * col("sx"))
          .cast("double") /
          (col("n_sources") * col("sx")).cast("double")).as("gini"))
    }))

  val oracles: Map[String, String] = Map(
    "q109_attribution" ->
      """WITH touched AS (
           SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                 THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
           FROM events)
         SELECT coalesce(last_touch, '(none)') AS touch_type,
           count(*) AS conversions,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,2))) AS VARCHAR)
             AS DOUBLE) AS attributed_value
         FROM touched WHERE event_type = 'purchase'
         GROUP BY touch_type""",
    // Identical semantics to q109 — the streaming path must reproduce
    // the batch window exactly.
    "c32_stream_attribution" ->
      """WITH touched AS (
           SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                 THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
           FROM events)
         SELECT coalesce(last_touch, '(none)') AS touch_type,
           count(*) AS conversions,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,2))) AS VARCHAR)
             AS DOUBLE) AS attributed_value
         FROM touched WHERE event_type = 'purchase'
         GROUP BY touch_type""",
    // decoded samples: n = (n_chars%96)+32 ∈ [32,127]; sample i =
    // md5-byte(i mod 16)·257 − 32768; fixed series 0..126 filtered to
    // i < n (DuckDB generate_series takes no correlated bound); peak /
    // moments / crossings all BIGINT-exact
    "e101_audio_stats" ->
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
          FROM lagged GROUP BY doc_id""",
    // decoded frame f (kept: f % 2 = 0, f < nf = (n_chars%6)+2) has
    // N = 4·((n_chars%16)+4) pixels, pixel i = md5-byte((i+3f) mod 16):
    // byte j appears N//16 + (1 if ((j-3f) mod 16) < N%16) times —
    // BIGINT-exact moments from the 16-byte multiset
    "e102_video_frames" ->
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
          FROM px GROUP BY doc_id, frame_idx""",
    // ECDF cumulative counts over distinct values, sup-gap per pair by
    // integer cross-multiplication — mirrors the Spark frame exactly
    "e103_ks_pairs" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pairs = for {
        i <- types.indices; j <- types.indices if i < j
      } yield (types(i), types(j))
      val cnt = types.map(t =>
        s"count(*) FILTER (event_type = '$t') AS $t").mkString(", ")
      val tot = types.map(t =>
        s"CAST(SUM($t) AS BIGINT) AS n_$t").mkString(", ")
      val cum = types.map(t =>
        s"CAST(SUM($t) OVER w AS BIGINT) AS cum_$t").mkString(", ")
      val maxes = pairs.map { case (a, b) =>
        s"max(abs(cum_$a*n_$b - cum_$b*n_$a)) AS d_${a}_$b"
      }.mkString(", ")
      val carry = types.map(t => s"max(n_$t) AS n_$t").mkString(", ")
      val rows = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS type_a, '$b' AS type_b, n_$a AS n_a,
            n_$b AS n_b, CAST(d_${a}_$b AS BIGINT) AS d_num,
            CAST(d_${a}_$b AS DOUBLE) /
              CAST(n_$a * n_$b AS DOUBLE) AS d FROM g"""
      }.mkString(" UNION ALL ")
      s"""WITH c AS (SELECT value, $cnt FROM events GROUP BY value),
          t AS (SELECT $tot FROM c),
          cum AS (SELECT $cum FROM c WINDOW w AS (ORDER BY value
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          g AS (SELECT $maxes, $carry FROM cum CROSS JOIN t)
          $rows"""
    },
    "e100_gini" ->
      """WITH vol AS (
           SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS x
           FROM documents GROUP BY lang, source),
         ranked AS (
           SELECT lang, x,
             row_number() OVER (PARTITION BY lang ORDER BY x, source) AS i
           FROM vol),
         agg AS (
           SELECT lang, count(*) AS n_sources,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(i * x) AS BIGINT) AS six
           FROM ranked GROUP BY lang)
         SELECT lang, n_sources,
           CAST(2 * six - (n_sources + 1) * sx AS DOUBLE) /
             CAST(n_sources * sx AS DOUBLE) AS gini
         FROM agg""")
}

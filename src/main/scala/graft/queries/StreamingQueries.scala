package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

import graft.cdc.Debezium
import graft.operators.{Dedup, Similarity, TextAnalysis, VectorIndex}
import graft.sinks.Sinks
import graft.streaming.{Attribution, Pipeline, StatefulOps}

/** Structured Streaming queries (every `c*` query outside the CDC
  * route): windows, stream joins, stateful operators, attribution,
  * state audits and the bounded runs that drain them; also the batch
  * windows and attribution they are judged against.
  */
object StreamingQueries extends Family {
  import Tables._

  /** c33_stream_attribution_ttl's oracle, shared with the queries that embed it. */
  private val streamAttributionTtlSql =
      """WITH ev AS (
           SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k,
             event_id, epoch_us(ts) AS ts_us, event_type, value
           FROM events),
         b AS (SELECT max(ts_us) AS hi,
             2 * ((max(ts_us) - min(ts_us)) // 3 + 1) + 1 AS w FROM ev),
         touched AS (
           SELECT event_type, value, ts_us,
             last_value(CASE WHEN event_type <> 'purchase'
                 THEN event_type END IGNORE NULLS) OVER wnd AS lt_type,
             last_value(CASE WHEN event_type <> 'purchase'
                 THEN ts_us END IGNORE NULLS) OVER wnd AS lt_ts
           FROM ev
           WINDOW wnd AS (PARTITION BY user_id, k ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         purch AS (
           SELECT CASE WHEN lt_type IS NOT NULL
               AND lt_ts > ts_us - (SELECT w FROM b)
               THEN lt_type ELSE '(none)' END AS touch_type, value
           FROM touched WHERE event_type = 'purchase'),
         st AS (SELECT user_id, k, max(ts_us) AS t FROM ev
           WHERE event_type <> 'purchase' GROUP BY user_id, k),
         audit AS (
           SELECT CASE WHEN (t + (SELECT w FROM b)) // 1000
                 < (SELECT hi FROM b) // 1000
               THEN '(evicted)' ELSE '(live_end)' END AS touch_type,
             CAST(0 AS DOUBLE) AS value
           FROM st)
         SELECT touch_type, count(*) AS conversions,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,2))) AS VARCHAR)
             AS DOUBLE) AS attributed_value
         FROM (SELECT * FROM purch UNION ALL SELECT * FROM audit)
         GROUP BY touch_type"""

  /** c21_stream_session's oracle, shared with the queries that embed it. */
  private val streamSessionSql =
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id
                    FROM events),
          wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e),
          d AS (SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
                FROM e),
          g AS (SELECT user_id, ts,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS sid
                FROM d),
          sess AS (SELECT user_id,
                     min(ts) AS session_start,
                     max(ts) + INTERVAL 30 MINUTE AS session_end,
                     count(*) AS n
                   FROM g GROUP BY user_id, sid)
          SELECT user_id, session_start, session_end, n
          FROM sess, wm WHERE session_end <= w"""

  private val dsumSql = "CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE)"

  /** The (value, topic) schema a Kafka source presents downstream. */
  private val feedSchema = StructType(Seq(
    StructField("value", StringType),
    StructField("topic", StringType)))

  /** The view and click sides of events as two single-file feeds, one
    * durable stage shared by c11's inner and c22's outer interval join.
    * Returns the (views, clicks) feed dirs.
    */
  private def viewClickFeeds(s: SparkSession, dir: String): (String, String) = {
    val ev = Tables.events(s, dir)
    def side(eventType: String, p: String) =
      ev.where(col("event_type") === eventType)
        .select(col("ts").as(s"${p}_ts"), col("event_id").as(s"${p}_event_id"),
          col("user_id"))
    val (views, clicks) = (side("view", "v"), side("click", "c"))
    val fix = Stage.durable("feed-views-clicks", dir, Seq(views, clicks)) {
      st =>
        views.coalesce(1).write.parquet(st.resolve("views").toString)
        clicks.coalesce(1).write.parquet(st.resolve("clicks").toString)
    }
    (fix.resolve("views").toString, fix.resolve("clicks").toString)
  }

  /** U-shaped 40/40/20 multi-touch in exact integer µ-shares — the
    * single oracle for the batch q110 window query AND the streaming
    * c34 state walk (stream/batch parity). Integer division `//` with
    * remainder-to-second-last mirrors Attribution.creditShares; the
    * only doubles are the two report-time divisions.
    */
  private def multiTouchOracle: String =
    """WITH ev AS (
         SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
           value,
           CASE WHEN event_type <> 'purchase' THEN event_type END AS touch
         FROM events),
       t1 AS (
         SELECT *, CASE WHEN touch IS NOT NULL THEN
             last_value(touch IGNORE NULLS) OVER wnd END AS pt
         FROM ev
         WINDOW wnd AS (PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       t2 AS (
         SELECT event_type, value,
           count(touch) OVER wnd AS n,
           first_value(touch IGNORE NULLS) OVER wnd AS ft,
           last_value(touch IGNORE NULLS) OVER wnd AS lt,
           last_value(pt IGNORE NULLS) OVER wnd AS slt,
           count(CASE WHEN touch = 'click' THEN 1 END) OVER wnd AS cnt_click,
           count(CASE WHEN touch = 'view' THEN 1 END) OVER wnd AS cnt_view,
           count(CASE WHEN touch = 'signup' THEN 1 END) OVER wnd AS cnt_signup,
           count(CASE WHEN touch = 'error' THEN 1 END) OVER wnd AS cnt_error
         FROM t1
         WINDOW wnd AS (PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       p AS (
         SELECT CAST(round(value * 100) AS BIGINT) AS cents, n, ft, lt,
           slt, cnt_click, cnt_view, cnt_signup, cnt_error,
           CASE WHEN n >= 3 THEN 200000 // (n - 2) ELSE 0 END AS b
         FROM t2 WHERE event_type = 'purchase'),
       cr AS (
         SELECT ty.t AS touch_type, p.cents,
           CASE
             WHEN p.n = 0 THEN
               CASE WHEN ty.t = '(none)' THEN 1000000 ELSE 0 END
             WHEN ty.t = '(none)' THEN 0
             WHEN p.n = 1 THEN
               CASE WHEN p.ft = ty.t THEN 1000000 ELSE 0 END
             WHEN p.n = 2 THEN
               500000 * (CASE WHEN p.ft = ty.t THEN 1 ELSE 0 END) +
               500000 * (CASE WHEN p.lt = ty.t THEN 1 ELSE 0 END)
             ELSE
               400000 * (CASE WHEN p.ft = ty.t THEN 1 ELSE 0 END) +
               400000 * (CASE WHEN p.lt = ty.t THEN 1 ELSE 0 END) +
               (CASE ty.t WHEN 'click' THEN p.cnt_click
                 WHEN 'view' THEN p.cnt_view
                 WHEN 'signup' THEN p.cnt_signup
                 ELSE p.cnt_error END
                - (CASE WHEN p.ft = ty.t THEN 1 ELSE 0 END)
                - (CASE WHEN p.lt = ty.t THEN 1 ELSE 0 END)) * p.b +
               (CASE WHEN p.slt = ty.t THEN 1 ELSE 0 END) *
                 (200000 - p.b * (p.n - 2))
           END AS w
         FROM p, (VALUES ('click'), ('view'), ('signup'), ('error'),
           ('(none)')) AS ty(t))
       SELECT touch_type,
         CAST(SUM(w) AS DOUBLE) / 1000000.0 AS conversions,
         CAST(SUM(w * cents) AS DOUBLE) / 100000000.0 AS attributed_value
       FROM cr WHERE w > 0
       GROUP BY touch_type"""

  // Shared machinery for the streaming-attribution queries (c32/c33):
  // the events table becomes a deterministic file feed —
  // [[dataChunks]] ts-range chunks with pinned ascending mtimes (house
  // discipline from c31) —
  // optionally followed by watermark-bearing SENTINEL files (single
  // `user_id = -1` rows far past the data range). Sentinels model the
  // heartbeat a production pipeline always has (event time never stops
  // at 100 TB): they advance the watermark past the data so
  // EventTimeTimeout state eviction fires deterministically, and the
  // final drain enumerates surviving state — making the state-store
  // SIZE part of the judged output instead of an assertion.

  /** Number of DATA chunks (micro-batches) the feed splits the events
    * table into; sentinels add [[build]]'s `sentinelGaps.size` more.
    * The chunk plans it shapes are the feed's stage derivation, so
    * changing it can never serve a stale staged feed. r19's
    * streaming-floor experiment measured 2 vs 3 (see SCALE.md round-19
    * notes).
    */
  private val dataChunks = 2

  /** Schema of the feed files = [[Attribution.EvW]]: `ts` carries the
    * event-time watermark, `ts_us` the same instant as a long for
    * exact integer arithmetic.
    */
  private val eventFeedSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("k", LongType),
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("ts_us", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** A built feed: chunk/sentinel files under `feed`, data ts bounds,
    * and the stream's output/checkpoint dirs.
    */
  private case class Built(feed: String, loUs: Long, hiUs: Long,
    windowUs: Long, out: String, ckpt: String)

  /** Write the chunked feed (+ sentinels) with pinned mtimes.
    *
    * @param perCampaign entity = (user, props.k) when true, else
    *                    (user) with k pinned to 0
    * @param windowOf    attribution window in µs from (loUs, hiUs)
    * @param sentinelGaps for each gap g, one sentinel file at
    *                    ts = hi + g·window (empty = no eviction audit)
    */
  private def build(s: SparkSession, dir: String, tmpPrefix: String,
      perCampaign: Boolean, windowOf: (Long, Long) => Long,
      sentinelGaps: Seq[Long]): Built = {
    // The feed is a durable stage: building it costs a ts-bounds pass
    // plus one filtered single-file write per chunk over the events
    // table (46.5 s of c33's 68 s at ×100 was feed construction), and
    // it is a pure function of the source table and the query's
    // parameters. The bounds are durable scalars, so the chunk and
    // sentinel plans carry every parameter as a literal and the stage
    // key digests them. Checkpoints/output stay per-run in
    // [[Stage.tempDir]].
    val name = s"feed-${tmpPrefix.stripSuffix("-")}"
    val kCol =
      if (perCampaign) get_json_object(col("props"), "$.k").cast("long")
      else lit(0L)
    val ev = Tables.events(s, dir).select(col("user_id"),
      kCol.as("k"), col("event_id"), col("ts"),
      unix_micros(col("ts")).as("ts_us"), col("event_type"),
      col("value"))
    val lo0 = Stage.durableScalar(s"$name-lo", dir)(ev.agg(min("ts_us")))
    val hi0 = Stage.durableScalar(s"$name-hi", dir)(ev.agg(max("ts_us")))
    val w = windowOf(lo0, hi0)
    val step = (hi0 - lo0) / dataChunks + 1
    val bounds = (Long.MinValue +: Seq.tabulate(dataChunks - 1)(
      i => lo0 + (i + 1) * step)) :+ Long.MaxValue
    val chunks = bounds.sliding(2).map { case Seq(lo, hi) =>
      ev.where(col("ts_us") > lo && col("ts_us") <= hi)
    }.toSeq
    val sentinels = sentinelGaps.map { g =>
      val ts = hi0 + g * w
      s.range(1).select(lit(-1L).as("user_id"), lit(0L).as("k"),
        lit(-1L).as("event_id"), timestamp_micros(lit(ts)).as("ts"),
        lit(ts).as("ts_us"), lit("noop").as("event_type"),
        lit(0.0).as("value"))
    }
    val feed = Stage.durableChunkFeed(name, dir)(chunks ++ sentinels)
    val tmp = Stage.tempDir(tmpPrefix).toString
    Built(feed, lo0, hi0, w, s"$tmp/out", s"$tmp/ckpt")
  }

  /** Run `transform` over the feed as a real micro-batch stream
    * (one file per trigger, [[Stage.drain]]) and return the appended
    * output as a batch frame.
    */
  private def runStream[T](s: SparkSession, b: Built,
      transform: org.apache.spark.sql.Dataset[Attribution.EvW] =>
        org.apache.spark.sql.Dataset[T]): DataFrame = {
    import s.implicits._
    Stage.drain(transform(s.readStream.schema(eventFeedSchema)
      .option("maxFilesPerTrigger", "1").parquet(b.feed)
      .withWatermark("ts", "0 seconds")
      .as[Attribution.EvW]), b.ckpt)(Stage.appendTo(b.out))
    s.read.parquet(b.out)
  }

  /** Feed → [[Attribution.attributeWindowed]] → per-touch-type rollup. */
  private def windowedAttributionRollup(s: SparkSession, dir: String,
      tmpPrefix: String, perCampaign: Boolean,
      windowOf: (Long, Long) => Long,
      sentinelGaps: Seq[Long]): DataFrame = {
    val b = build(s, dir, tmpPrefix, perCampaign, windowOf, sentinelGaps)
    runStream(s, b, (in: org.apache.spark.sql.Dataset[Attribution.EvW]) =>
      Attribution.attributeWindowed(in, b.windowUs,
        drainAfterMs = b.hiUs / 1000L))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("conversions"),
        Tables.dsum(col("value"), 2).as("attributed_value"))
  }

  /** Feed → [[Attribution.multiTouch]] → exact-integer µ-share rollup
    * with the single double division at report time (shared with the
    * batch `q110_multitouch` and its oracle).
    */
  private def multiTouchRollup(s: SparkSession, dir: String,
      tmpPrefix: String): DataFrame = {
    val b = build(s, dir, tmpPrefix, perCampaign = false,
      windowOf = (_, _) => 0L, sentinelGaps = Seq.empty)
    runStream(s, b, (in: org.apache.spark.sql.Dataset[Attribution.EvW]) =>
      Attribution.multiTouch(in))
      .groupBy(col("touch_type"))
      .agg((sum(col("w")).cast("double") / lit(1000000.0))
          .as("conversions"),
        (sum(col("mc")).cast("double") / lit(100000000.0))
          .as("attributed_value"))
  }

  val judged: Seq[Judged] = Seq(
    // STREAMING near-dup admission (§2.6 E1 × C6): the staged band
    // keys replayed through the real micro-batch engine in three
    // doc-id-ordered ingest chunks; [[graft.streaming.BandAdmission]]
    // keeps ONE long of state per band (the min doc id that has
    // carried it — bounded by the band domain, not the corpus) and
    // flags each arriving doc whose band was first seen on a smaller
    // id. Cross-batch state is the point: a band admitted in batch 1
    // must flag a colliding doc in batch 3, through the checkpointed
    // state store. With ordered arrival the admission decision equals
    // the batch definition "shares a band with an earlier doc", which
    // is exactly what the oracle computes from the same sig/band CTEs.
    Judged("c31_stream_neardup", (s, dir) => {
      import s.implicits._
      val sig = DedupQueries.stagedSignatures(s, dir)
      val banded = sig.select(col("doc_id") +:
        Dedup.bandKeys((0 until DedupQueries.minhashK).map(j => col(s"sig_$j")),
          DedupQueries.bands): _*)
      val long = banded.select(col("doc_id"), explode(array(
        (0 until DedupQueries.bands).map(b => col(s"band_$b")): _*)).as("band"))
      val tmp = Stage.tempDir("graft-c31-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      // 3 doc-id-range chunks arriving in order (durableChunkFeed
      // pins each chunk's mtime — arrival order is a property of the
      // staged content, not a race on write timestamps). The 1-row
      // max sizing scalar is itself DURABLE: durableChunkFeed builds
      // the (lazy) chunk plans on every invocation to compute the
      // feed's plan digest, so a max job inside the thunk would run
      // per-invocation even on fixture hits — durableScalar makes
      // reuse a one-line file read, truly paid once per fixture.
      val mx = Stage.durableScalar("mx-c31", dir)(
        long.agg(max("doc_id")))
      val feed = Stage.durableChunkFeed("feed-c31", dir)({
        var lo = Long.MinValue
        Seq(mx / 3, 2 * mx / 3, Long.MaxValue).map { hi =>
          val chunk = long.where(col("doc_id") > lo && col("doc_id") <= hi)
          lo = hi
          chunk
        }
      })
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("band",
          org.apache.spark.sql.types.StringType)))
      val in = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
        .as[graft.streaming.BandAdmission.BandRow]
      Stage.drain(graft.streaming.BandAdmission.flagStream(in), ckpt)(
        Stage.appendTo(out))
      s.read.parquet(out).groupBy("doc_id")
        .agg(count(lit(1)).as("n_bands"),
          max(col("dup")).as("is_neardup"))
    },
      // streaming admission must equal the batch definition: a doc is a
      // near-dup iff some band of it was first seen on a smaller doc id
      s"""WITH ${DedupQueries.shingleCte},
          sig AS (SELECT doc_id, ${DedupQueries.sigExprs(DedupQueries.minhashK)} FROM sh
                  GROUP BY doc_id),
          band AS (SELECT doc_id, unnest([
            md5(concat_ws('_', '0', sig_0, sig_1)),
            md5(concat_ws('_', '1', sig_2, sig_3)),
            md5(concat_ws('_', '2', sig_4, sig_5)),
            md5(concat_ws('_', '3', sig_6, sig_7))]) AS band FROM sig),
          m AS (SELECT band, min(doc_id) AS mn FROM band GROUP BY band)
          SELECT b.doc_id, count(*) AS n_bands,
            bool_or(m.mn < b.doc_id) AS is_neardup
          FROM band b JOIN m ON b.band = m.band
          GROUP BY b.doc_id"""),

    // HORIZON-bounded streaming admission with state TTL — the
    // production form of c31 for an unbounded ingest: a doc is
    // flagged iff its band's previous occurrence is within `h` doc
    // ids (chains split at larger gaps; the gap test runs in the
    // handler so micro-batch timing can never change a flag), and
    // idle band state is EVICTED via EventTimeTimeout with the
    // eviction audited in-band (doc_id −1 = evicted mid-stream,
    // −2 = live at the final drain — together they partition the
    // band domain, so the state-store size is judged). Event time is
    // doc_id seconds, making the µs→ms watermark floor exact; the
    // horizon 2·(mx div 3)+3 exceeds any inter-chunk watermark gap,
    // so evictions deterministically fire only at the sentinels.
    Judged("c35_stream_neardup_ttl", (s, dir) => {
      import s.implicits._
      val sig = DedupQueries.stagedSignatures(s, dir)
      val banded = sig.select(col("doc_id") +:
        Dedup.bandKeys((0 until DedupQueries.minhashK).map(j => col(s"sig_$j")),
          DedupQueries.bands): _*)
      val long = banded.select(col("doc_id"), explode(array(
          (0 until DedupQueries.bands).map(b => col(s"band_$b")): _*)).as("band"))
        // +1 s shift: event time 0 (epoch) is dropped by the
        // late-row filter at the initial zero watermark
        .withColumn("ts",
          timestamp_micros((col("doc_id") + 1) * 1000000L))
      val tmp = Stage.tempDir("graft-c35-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      // the horizon h is re-derived OUTSIDE the staged build too (the
      // handler needs it every run); the 1-row max it hangs off is a
      // durable scalar — reuse is a file read, not a Spark job
      val mx = Stage.durableScalar("mx-c35", dir)(
        long.agg(max("doc_id")))
      val h = 2 * (mx / 3) + 3
      val feed = Stage.durableChunkFeed("feed-c35", dir)({
        var lo = Long.MinValue
        val chunks = Seq(mx / 3, 2 * mx / 3, Long.MaxValue).map { hi =>
          val chunk = long.where(col("doc_id") > lo && col("doc_id") <= hi)
          lo = hi
          chunk
        }
        chunks ++ Seq(10L, 20L).map { g =>
          s.range(1).select(lit(-1L).as("doc_id"),
            lit(s"__wm$g").as("band"),
            timestamp_micros(lit((mx + 1 + g * h) * 1000000L)).as("ts"))
        }
      })
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("band",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val in = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
        .withWatermark("ts", "0 seconds")
        .as[graft.streaming.BandAdmission.BandRowT]
      Stage.drain(graft.streaming.BandAdmission
        .flagStreamTtl(in, h, drainAfterMs = (mx + 1) * 1000L), ckpt)(
        Stage.appendTo(out))
      s.read.parquet(out).groupBy("doc_id")
        .agg(count(lit(1)).as("n_bands"),
          max(col("dup")).as("is_neardup"))
    },
      // horizon semantics: flagged iff the band's previous occurrence
      // is within h doc ids (chain not broken); audit rows −1/−2 count
      // bands evicted mid-stream vs live at the drain (exact strict-<
      // boundary, event time = doc_id seconds so ms floors are exact)
      s"""WITH ${DedupQueries.shingleCte},
          sig AS (SELECT doc_id, ${DedupQueries.sigExprs(DedupQueries.minhashK)} FROM sh
                  GROUP BY doc_id),
          band AS (SELECT doc_id, unnest([
            md5(concat_ws('_', '0', sig_0, sig_1)),
            md5(concat_ws('_', '1', sig_2, sig_3)),
            md5(concat_ws('_', '2', sig_4, sig_5)),
            md5(concat_ws('_', '3', sig_6, sig_7))]) AS band FROM sig),
          bx AS (SELECT max(doc_id) AS m,
            2 * (max(doc_id) // 3) + 3 AS h FROM band),
          fl AS (SELECT doc_id, band,
            lag(doc_id) OVER (PARTITION BY band ORDER BY doc_id)
              AS prev FROM band),
          docs AS (SELECT doc_id, count(*) AS n_bands,
            bool_or(prev IS NOT NULL AND
              doc_id - prev <= (SELECT h FROM bx)) AS is_neardup
            FROM fl GROUP BY doc_id),
          lastocc AS (SELECT band, max(doc_id) AS last FROM band
            GROUP BY band),
          audit AS (
            SELECT CAST(-1 AS BIGINT) AS doc_id,
              count(*) AS n_bands, FALSE AS is_neardup
            FROM lastocc, bx WHERE last + h < m
            HAVING count(*) > 0
            UNION ALL
            SELECT CAST(-2 AS BIGINT), count(*), FALSE
            FROM lastocc, bx WHERE last + h >= m
            HAVING count(*) > 0)
          SELECT * FROM docs UNION ALL SELECT * FROM audit"""),

    // Tumbling 1-hour windows: count + exact sum
    Judged("e5_tumbling", (s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        .select(col("w.start").as("win_start"), col("n"), col("sum_value")),
      s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start,
          count(*) AS n, $dsumSql AS sum_value
          FROM events GROUP BY 1"""),

    // Sliding 1-hour windows every 30 minutes (each event in 2 windows)
    Judged("e5_sliding", (s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        .select(col("w.start").as("win_start"), col("n"), col("sum_value")),
      s"""WITH b AS (
            SELECT make_timestamp(
                (epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000) * 1800000000)
              AS win_start, value FROM events
            UNION ALL
            SELECT make_timestamp(
                ((epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000) - 1)
                  * 1800000000)
              AS win_start, value FROM events)
          SELECT win_start, count(*) AS n, $dsumSql AS sum_value
          FROM b GROUP BY 1"""),

    // Lag-based sessionization (gaps-and-islands): the portable
    // mechanism behind session_window, expressed with lag + cumulative
    // break count — same single exchange on user_id, sort within
    // partitions only
    Judged("e5_sessionize", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wc = w.rowsBetween(Long.MinValue, 0)
      events(s, dir)
        .withColumn("brk",
          when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
            < 600000000L, 0).otherwise(1))
        .withColumn("sid", sum(col("brk")).over(wc))
        .groupBy("user_id", "sid")
        .agg(min(col("ts")).as("session_start"),
          count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
    },
      s"""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                       value FROM events),
          m AS (SELECT user_id, event_id, ts, value,
                  CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id))
                    < 600000000 THEN 0 ELSE 1 END AS brk
                FROM e),
          g AS (SELECT user_id, ts, value,
                  CAST(SUM(brk) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS sid
                FROM m)
          SELECT user_id, sid, min(ts) AS session_start,
            count(*) AS n, $dsumSql AS sum_value
          FROM g GROUP BY user_id, sid"""),

    // Session windows per user, 10-minute gap
    Judged("e5_session", (s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n"), col("sum_value")),
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
                     FROM events),
          m AS (SELECT user_id, ts, value,
                  CASE WHEN ts - lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts)
                    < INTERVAL 10 MINUTE THEN 0 ELSE 1 END AS brk
                FROM e),
          g AS (SELECT user_id, ts, value,
                  SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS sid
                FROM m)
          SELECT user_id, min(ts) AS session_start,
            max(ts) + INTERVAL 10 MINUTE AS session_end,
            count(*) AS n, $dsumSql AS sum_value
          FROM g GROUP BY user_id, sid"""),

    // S2+C5+C6+C7 end to end: snapshot envelopes land in the feed, one
    // checkpointed AvailableNow run delivers them through
    // unwrap→route→map to the keyed parquet sink; update envelopes then
    // land and a SECOND run on the SAME checkpoint must process only
    // the new files. The judged frame is the sink's upsert image plus a
    // `delivered_once` audit: the sink log row count equals
    // |snapshot| + |updates| exactly — redelivery (checkpoint loss)
    // or data loss would both break it.
    Judged("c5_runtime", (s, dir) => {
      val c = t(s, dir, "customer")
      val cols = c.columns.toIndexedSeq
      val tmp = Stage.tempDir("graft-c5-").toString
      val inDir = s"$tmp/feed"; val outDir = s"$tmp/sink"
      val ckptDir = s"$tmp/ckpt"
      val topic = Debezium.topicFor("customer")
      val route = Pipeline.TableRoute("customer", c.schema,
        cols.map(f => f -> f), Seq("c_custkey"), Seq("ts_ms"))

      def runOnce(): Unit =
        Pipeline.run(
          s.readStream.schema(feedSchema).parquet(inDir),
          Seq(route), outDir, ckptDir, Trigger.AvailableNow)
          .foreach(_.awaitTermination())

      // snapshot (op=r, ts 0) and update (op=u, ts 1) envelopes are
      // pure functions of the customer table — staged once on the
      // durable-feed tier (digest-keyed); the judged restart
      // choreography stays per-run: snapshot lands (file copy), run 1
      // delivers it, updates land, run 2 on the same checkpoint must
      // consume only the new files. r19 re-wrapped and re-wrote both
      // envelope sets on every invocation.
      val updates = c.where(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      val staged = Stage.durableChunkFeed("feed-c5", dir)(Seq(
        Debezium.wrap(c, lit("r"), "customer", lit(0L))
          .withColumn("topic", lit(topic)),
        Debezium.wrap(updates, lit("u"), "customer", lit(1L))
          .withColumn("topic", lit(topic))))
      val feed = new Stage.Landing(staged, inDir)
      feed.land(0) // leg 1: initial snapshot — Debezium snapshot.mode=initial
      runOnce()
      feed.land(1) // leg 2: updates; the checkpoint restart sees only them
      runOnce()

      // delivered-once audit from parquet FOOTERS (c20 discipline):
      // the sink log row count must equal |snapshot| + |updates| — all
      // three counts are already materialized in the layouts
      val deliveredOnce =
        Tables.parquetRowCountAt(s, s"$outDir/customer") ==
          Tables.parquetRowCountAt(s, feed.chunks(0).getPath) +
          Tables.parquetRowCountAt(s, feed.chunks(1).getPath)
      Sinks.sinkState(s, s"$outDir/customer",
        keys = Seq("c_custkey"), orderCols = Seq("ts_ms"))
        .select(cols.map(col) :+ lit(deliveredOnce).as("delivered_once"): _*)
    },
      // the runtime must land exactly the snapshot-then-update upsert image
      """SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END
           AS c_acctbal,
         c_mktsegment, TRUE AS delivered_once FROM customer"""),

    // E5 through the RUNTIME: a watermarked tumbling-window aggregation
    // driven by the real micro-batch engine in append mode — the judged
    // frame is exactly the set of windows the WATERMARK finalized, not
    // a batch restatement. The feed is two time-ordered parquet files
    // with maxFilesPerTrigger=1, so the watermark advances across
    // micro-batches (older file first: the file source orders by
    // modification time, and the chunks are written sequentially);
    // AvailableNow's final no-data batch then flushes every window
    // whose end ≤ max(event time) − 1 h delay. Windows inside the last
    // hour are provably withheld — visible watermark semantics, judged
    Judged("c9_stream_window", (s, dir) => {
      val ev = Tables.events(s, dir).select("ts", "event_id")
      val tmp = Stage.tempDir("graft-c9-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val cut = lit("2024-01-21").cast("timestamp")
      val feed = Stage.durableChunkFeed("feed-c9", dir)(Seq(
        ev.where(col("ts") < cut),
        ev.where(col("ts") >= cut)))
      val schema = StructType(Seq(
        StructField("ts", org.apache.spark.sql.types.TimestampType),
        StructField("event_id", org.apache.spark.sql.types.LongType)))
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
      Stage.drain(Pipeline.windowedCounts(stream, "ts", "1 hour", "1 hour"),
        ckpt)(_.format("parquet").option("path", out))
      s.read.parquet(out)
    },
      // append-mode contract: exactly the windows whose end the final
      // watermark (max event time − 1 h) passed
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
          wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e),
          b AS (SELECT date_trunc('hour', ts) AS win_start, count(*) AS n
                FROM e GROUP BY 1)
          SELECT win_start, n FROM b, wm
          WHERE win_start + INTERVAL 1 HOUR <= w"""),

    // LATE-DATA semantics through the RUNTIME — the one watermark
    // behavior c9 cannot show: what happens to rows that arrive AFTER
    // the watermark passed their window. Probed engine rule (Spark
    // 4.1.2, verified with a 4-batch file feed): a batch-N input row is
    // DROPPED iff its window was evicted in a STRICTLY EARLIER batch —
    // the late-input filter runs against the PREVIOUS batch's watermark
    // (wm_{N−1}), while eviction/emission at the end of batch N uses
    // wm_N; a late row whose window is still in state merges and is
    // emitted exactly once. Three time-ordered files drive this:
    //  file1 (< Jan 14 00:30) establishes wm1 = max(file1) − 1 h;
    //  file2 ([Jan 14 00:30, Jan 21 00:30)) — batch 1 evicts ≤ wm1;
    //  file3 (≥ Jan 21 00:30) also replays three classes:
    //   (a) ts < Jan 13 — window evicted in batch 1 (end ≤ wm1):
    //       DROPPED, never re-emitted (no duplicate window rows);
    //   (b) Jan 18 replays — behind wm2 but their windows are still in
    //       state (evictions so far only reached wm1): ACCEPTED and
    //       double-counted — drops happen by window eviction, not by
    //       comparing raw event time to the current watermark;
    //   (c) [Jan 20 23:00, 23:05] replays — behind the batch-1→2
    //       watermark yet their [23:00, 24:00) window never closed:
    //       ACCEPTED, finalized by the terminal no-data batch.
    // Every cut sits mid-hour, ≥ 25 min from any decision boundary, so
    // ms-vs-µs watermark rounding cannot flip a drop. The oracle
    // recomputes the exact rule: accept a replay iff window_end >
    // max(ts < Jan 14 00:30) − 1 h; finalize iff window_end ≤
    // max(ts) − 1 h. State stays bounded by the watermark horizon —
    // the property that keeps the operator finite at 100 TB/day
    Judged("c24_stream_late", (s, dir) => {
      val ev = Tables.events(s, dir).select("ts", "event_id")
      val tmp = Stage.tempDir("graft-c24-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val cutA = lit("2024-01-14 00:30:00").cast("timestamp")
      val cutB = lit("2024-01-21 00:30:00").cast("timestamp")
      val evictedLate = ev.where(
        col("ts") < lit("2024-01-13 00:00:00").cast("timestamp") &&
          col("event_id") % 5 === 0)
      val openStateLate = ev.where(
        col("ts") >= lit("2024-01-18 00:00:00").cast("timestamp") &&
          col("ts") <= lit("2024-01-18 12:00:00").cast("timestamp") &&
          col("event_id") % 3 === 0)
      val openWindowLate = ev.where(
        col("ts") >= lit("2024-01-20 23:00:00").cast("timestamp") &&
          col("ts") <= lit("2024-01-20 23:05:00").cast("timestamp") &&
          col("event_id") % 4 === 0)
      val feed = Stage.durableChunkFeed("feed-c24", dir)(Seq(
        ev.where(col("ts") < cutA),
        ev.where(col("ts") >= cutA && col("ts") < cutB),
        ev.where(col("ts") >= cutB)
          .unionAll(evictedLate).unionAll(openStateLate)
          .unionAll(openWindowLate)))
      val schema = StructType(Seq(
        StructField("ts", org.apache.spark.sql.types.TimestampType),
        StructField("event_id", org.apache.spark.sql.types.LongType)))
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
      Stage.drain(Pipeline.windowedCounts(stream, "ts", "1 hour", "1 hour"),
        ckpt)(_.format("parquet").option("path", out))
      s.read.parquet(out)
    },
      // the judged frame must show exactly the engine's accept/drop rule:
      // a replay counts iff its window outlived the batch-1 watermark
      // (the only eviction horizon any replay batch ran behind); windows
      // finalize at the global watermark
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_id
                    FROM events),
          f1 AS (SELECT ts FROM e
                 WHERE ts < TIMESTAMP '2024-01-14 00:30:00'),
          wm1 AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM f1),
          rep AS (SELECT ts FROM e
                    WHERE ts < TIMESTAMP '2024-01-13 00:00:00'
                      AND event_id % 5 = 0
                  UNION ALL
                  SELECT ts FROM e
                    WHERE ts >= TIMESTAMP '2024-01-18 00:00:00'
                      AND ts <= TIMESTAMP '2024-01-18 12:00:00'
                      AND event_id % 3 = 0
                  UNION ALL
                  SELECT ts FROM e
                    WHERE ts >= TIMESTAMP '2024-01-20 23:00:00'
                      AND ts <= TIMESTAMP '2024-01-20 23:05:00'
                      AND event_id % 4 = 0),
          acc AS (SELECT ts FROM e
                  UNION ALL
                  SELECT rep.ts FROM rep, wm1
                  WHERE date_trunc('hour', rep.ts) + INTERVAL 1 HOUR
                    > wm1.w),
          wmf AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e),
          agg AS (SELECT date_trunc('hour', ts) AS win_start,
                         count(*) AS n
                  FROM acc GROUP BY 1)
          SELECT win_start, n FROM agg, wmf
          WHERE win_start + INTERVAL 1 HOUR <= wmf.w"""),

    // STATEFUL RESTART through the RUNTIME — checkpoint recovery for a
    // WATERMARKED AGGREGATION, the durability property c5 (stateless
    // sink restart) cannot show: the first AvailableNow run ingests the
    // early feed, finalizes what its watermark passed, and STOPS; more
    // files land; a second run on the SAME checkpoint must restore the
    // state store AND the watermark (both live in the checkpoint — a
    // reset watermark would re-emit finalized windows as duplicates, a
    // lost state store would undercount windows spanning the stop). The
    // judged frame is the union of both runs' appends and must equal
    // the single-run batch restatement exactly — proving the stop was
    // invisible. This is the upgrade path every 24×7 pipeline exercises
    // on deploy; at 100 TB the same recovery cost is bounded by state
    // size per executor, not history length
    Judged("c25_stream_restart", (s, dir) => {
      val ev = Tables.events(s, dir).select("ts", "event_id")
      val tmp = Stage.tempDir("graft-c25-").toString
      val feed = s"$tmp/feed"; val out = s"$tmp/out"
      val ckpt = s"$tmp/ckpt"
      val cut1 = lit("2024-01-11 00:30:00").cast("timestamp")
      val cut2 = lit("2024-01-21 00:30:00").cast("timestamp")
      val schema = StructType(Seq(
        StructField("ts", org.apache.spark.sql.types.TimestampType),
        StructField("event_id", org.apache.spark.sql.types.LongType)))
      def runEngine(): Unit = Stage.drain(Pipeline.windowedCounts(
          s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(feed),
          "ts", "1 hour", "1 hour"), ckpt)(
        _.format("parquet").option("path", out))
      // the three chunk files are a pure function of the events table
      // and the cuts, so they are built ONCE on the durable-feed tier
      // every other streaming feed already uses (digest-keyed, pinned
      // ascending mtimes). What stays PER-RUN is the restart
      // choreography the query judges: only chunk 1 is landed (file
      // copy) before run 1; chunks 2–3 land after it stops, so run 2
      // on the same checkpoint must recover state + watermark. r19
      // built the same three files with three filtered scans + writes
      // on every invocation — feed construction, not the judged
      // restart, dominated the query's cost.
      val staged = Stage.durableChunkFeed("feed-c25", dir)(Seq(
        ev.where(col("ts") < cut1),
        ev.where(col("ts") >= cut1 && col("ts") < cut2),
        ev.where(col("ts") >= cut2)))
      val landing = new Stage.Landing(staged, feed)
      landing.land(0)
      runEngine() // run 1: finalizes windows ≤ max(file1) − 1 h, stops
      landing.land(1); landing.land(2)
      runEngine() // run 2: same checkpoint — consumes only new files
      s.read.parquet(out)
    },
      // the two-run union must equal the single-run batch restatement:
      // every window the global watermark passed, counted once — a reset
      // watermark (duplicate windows) or lost state (undercounts) both
      // break the hash
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
          wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e),
          b AS (SELECT date_trunc('hour', ts) AS win_start, count(*) AS n
                FROM e GROUP BY 1)
          SELECT win_start, n FROM b, wm
          WHERE win_start + INTERVAL 1 HOUR <= w"""),

    // E1 through the RUNTIME: watermark-bounded streaming dedup
    // (`dropDuplicatesWithinWatermark`) driven by the real micro-batch
    // engine. The feed carries every event plus an exact duplicate of
    // each event_id % 7 == 0 row, split into two time-ordered files
    // (maxFilesPerTrigger=1) so the second batch runs against state and
    // an advanced watermark. Duplicates share their original's event
    // time, so each dup lands within the watermark of its first
    // occurrence and MUST be suppressed; the watermark bounds state to
    // one hour of keys — the 100 TB shape, unlike unbounded
    // dropDuplicates. `deduped_once` audits the sink row count against
    // the distinct feed exactly: a lost row or a delivered duplicate
    // both break it
    Judged("c10_stream_dedup", (s, dir) => {
      val ev = Tables.events(s, dir).select("ts", "event_id", "user_id")
      val tmp = Stage.tempDir("graft-c10-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val cut = lit("2024-01-21").cast("timestamp")
      def leg(rows: DataFrame): DataFrame =
        rows.unionAll(rows.where(col("event_id") % 7 === 0))
      val feed = Stage.durableChunkFeed("feed-c10", dir)(Seq(
        leg(ev.where(col("ts") < cut)),
        leg(ev.where(col("ts") >= cut))))
      val schema = StructType(Seq(
        StructField("ts", org.apache.spark.sql.types.TimestampType),
        StructField("event_id", org.apache.spark.sql.types.LongType),
        StructField("user_id", org.apache.spark.sql.types.LongType)))
      Stage.drain(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id"), ckpt)(
        _.format("parquet").option("path", out))
      val sunk = s.read.parquet(out)
      // audit counts from parquet FOOTERS (c20 discipline): the sink
      // and the events table both already materialize their row counts
      val dedupedOnce = Tables.parquetRowCountAt(s, out) ==
        Tables.parquetRowCount(s, dir, "events")
      sunk.select(col("ts"), col("event_id"), col("user_id"),
        lit(dedupedOnce).as("deduped_once"))
    },
      // streaming dedup must land exactly the distinct feed (= the
      // original events; the injected duplicates all suppressed)
      """SELECT CAST(ts AS TIMESTAMP) AS ts, event_id, user_id,
         TRUE AS deduped_once FROM events"""),

    // Stream-stream INTERVAL join through the RUNTIME
    // ([[Pipeline.intervalJoin]]): clicks join views of the same user
    // within 30 minutes AFTER the view, both sides watermarked 1 h —
    // the only stream-stream join shape whose state stays finite at
    // 100 TB/day (rows older than watermark + interval are evicted).
    // Two file feeds drive the real micro-batch engine under
    // AvailableNow; inner interval joins emit exactly the matched
    // pairs, so the judged frame equals the batch join definition —
    // state eviction changes WHEN rows leave memory, never the result
    Judged("c11_stream_join", (s, dir) => {
      val tmp = Stage.tempDir("graft-c11-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val (vDir, cDir) = viewClickFeeds(s, dir)
      val tsT = org.apache.spark.sql.types.TimestampType
      val longT = org.apache.spark.sql.types.LongType
      val vSchema = StructType(Seq(StructField("v_ts", tsT),
        StructField("v_event_id", longT), StructField("user_id", longT)))
      val cSchema = StructType(Seq(StructField("c_ts", tsT),
        StructField("c_event_id", longT), StructField("user_id", longT)))
      Stage.drain(Pipeline.intervalJoin(
          s.readStream.schema(vSchema).parquet(vDir), "v_ts",
          s.readStream.schema(cSchema).parquet(cDir), "c_ts",
          key = "user_id", watermark = "1 hour", within = "30 minutes")
          .select("user_id", "v_event_id", "v_ts", "c_event_id", "c_ts"),
        ckpt)(_.format("parquet").option("path", out))
      s.read.parquet(out)
    },
      // the streaming interval join must land exactly the batch join
      // definition: clicks within [view, view + 30 min] per user
      """WITH v AS (SELECT CAST(ts AS TIMESTAMP) AS v_ts,
             event_id AS v_event_id, user_id
           FROM events WHERE event_type = 'view'),
          c AS (SELECT CAST(ts AS TIMESTAMP) AS c_ts,
             event_id AS c_event_id, user_id
           FROM events WHERE event_type = 'click')
          SELECT v.user_id, v_event_id, v_ts, c_event_id, c_ts
          FROM v JOIN c ON v.user_id = c.user_id
            AND c_ts >= v_ts AND c_ts <= v_ts + INTERVAL 30 MINUTE"""),

    // Stream-STATIC enrichment through the RUNTIME: the event stream
    // joins the customer dimension inside the micro-batch engine. The
    // static side is broadcast per micro-batch — stateless, no
    // watermark, no state store; at 100 TB/day of events the dimension
    // rides along at a few MB per executor while the stream never
    // shuffles. This is the reference's enrich-on-ingest shape (its
    // pandas merge against the Postgres table) on the streaming leg.
    Judged("c14_stream_enrich", (s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val tmp = Stage.tempDir("graft-c14-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val feed = Stage.durableChunkFeed("feed-c14", dir)(Seq(
        ev.select("ts", "event_id", "user_id", "event_type")))
      val tsT = org.apache.spark.sql.types.TimestampType
      val longT = org.apache.spark.sql.types.LongType
      val schema = StructType(Seq(StructField("ts", tsT),
        StructField("event_id", longT), StructField("user_id", longT),
        StructField("event_type", StringType)))
      Stage.drain(s.readStream.schema(schema).parquet(feed)
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select("ts", "event_id", "user_id", "event_type", "c_name",
          "c_mktsegment"), ckpt)(_.format("parquet").option("path", out))
      s.read.parquet(out)
    },
      // stream-static enrichment must land exactly the batch join image
      """SELECT CAST(ts AS TIMESTAMP) AS ts, event_id, user_id, event_type,
             c_name, c_mktsegment
         FROM events JOIN customer ON user_id = c_custkey"""),

    // CUSTOM state through the RUNTIME ([[OhlcState.ohlcStream]],
    // flatMapGroupsWithState): per-symbol running OHLCV bars folded
    // incrementally — O(1) state per (symbol, bar), no event
    // buffering in state. Update-mode emissions land via foreachBatch
    // appends; the bounded single-batch run emits exactly one row per
    // (symbol, bar), so the judged frame equals the batch OHLC
    // definition under the fold's (epochMs, price) order. Volume is
    // fed as a WHOLE-number double (qty × 1000), so the running sum is
    // exact long arithmetic in disguise — identical at any fold order,
    // on any engine.
    Judged("c17_stream_ohlc", (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val tmp = Stage.tempDir("graft-c17-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val feed = Stage.durableChunkFeed("feed-c17", dir)(Seq(
        ev.select(
          concat(col("event_type"), lit("-"),
            (col("user_id") % 16).cast("string")).as("symbol"),
          col("value").as("price"),
          round(col("value") * 1000, 0).as("quantity"),
          unix_millis(col("ts")).as("epochMs"))))
      val longT = org.apache.spark.sql.types.LongType
      val dblT = org.apache.spark.sql.types.DoubleType
      val schema = StructType(Seq(StructField("symbol", StringType),
        StructField("price", dblT), StructField("quantity", dblT),
        StructField("epochMs", longT)))
      val trades = s.readStream.schema(schema).parquet(feed)
        .as[graft.streaming.OhlcState.Trade]
      Stage.drain(graft.streaming.OhlcState
          .ohlcStream(trades, barMs = 3600L * 1000, idleTimeout = None),
        ckpt, "update")(Stage.appendTo(out))
      s.read.parquet(out)
        .select(col("symbol"), col("barStartMs"), col("open"), col("high"),
          col("low"), col("close"), col("volume").cast("long").as("volume_k"),
          col("n_trades"))
    },
      // the stateful fold must land exactly the batch OHLC definition:
      // open/close by (epochMs, price) order, exact whole-double volume
      """WITH tr AS (
           SELECT event_type || '-' || CAST(user_id % 16 AS VARCHAR)
               AS symbol,
             value AS price, round(value * 1000, 0) AS qty,
             epoch_ms(CAST(ts AS TIMESTAMP)) AS ems
           FROM events),
          b AS (SELECT symbol, ems // 3600000 * 3600000 AS barStartMs,
                  price, qty, ems FROM tr),
          r AS (SELECT *,
                  row_number() OVER (PARTITION BY symbol, barStartMs
                    ORDER BY ems, price) AS rn_a,
                  row_number() OVER (PARTITION BY symbol, barStartMs
                    ORDER BY ems DESC, price DESC) AS rn_d
                FROM b)
          SELECT symbol, barStartMs,
                 max(CASE WHEN rn_a = 1 THEN price END) AS open,
                 max(price) AS high, min(price) AS low,
                 max(CASE WHEN rn_d = 1 THEN price END) AS close,
                 CAST(sum(qty) AS BIGINT) AS volume_k,
                 count(*) AS n_trades
          FROM r GROUP BY symbol, barStartMs"""),

    // Multi-sink FANOUT with exactly-once semantics: one stream feeds
    // TWO sinks (raw append + per-type aggregate) from the same
    // foreachBatch, each write keyed by epoch directory so redelivery
    // OVERWRITES instead of duplicating. The run is then REPEATED on a
    // fresh checkpoint — a full redelivery of every batch — and the
    // judged frame audits that (a) the raw sink holds exactly the feed
    // (delivered_once), (b) both sinks agree (sinks_consistent). This
    // is the reference's one-topic-many-sinks Kafka Connect shape with
    // the delivery contract made auditable.
    Judged("c19_fanout", (s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "event_type")
      val tmp = Stage.tempDir("graft-c19-").toString
      val rawSink = s"$tmp/raw"; val aggSink = s"$tmp/agg"
      val feed = Stage.durableChunkFeed("feed-c19", dir)(Seq(ev))
      val longT = org.apache.spark.sql.types.LongType
      val schema = StructType(Seq(StructField("event_id", longT),
        StructField("event_type", StringType)))
      def run(ckpt: String): Unit =
        Stage.drain(s.readStream.schema(schema).parquet(feed), ckpt)(
          _.foreachBatch { (batch: DataFrame, epoch: Long) =>
            batch.write.mode("overwrite").parquet(s"$rawSink/epoch=$epoch")
            batch.groupBy("event_type").agg(count(lit(1)).as("n"))
              .write.mode("overwrite").parquet(s"$aggSink/epoch=$epoch")
            ()
          })
      run(s"$tmp/ckpt1")
      run(s"$tmp/ckpt2") // fresh checkpoint = full redelivery, same epochs
      val raw = s.read.parquet(rawSink)
      val agg = s.read.parquet(aggSink)
      // footer counts (c20 discipline) — no extra scan of either side
      val once = Tables.parquetRowCountAt(s, rawSink) ==
        Tables.parquetRowCount(s, dir, "events")
      agg.groupBy("event_type").agg(sum(col("n")).as("n"))
        .join(raw.groupBy("event_type").agg(count(lit(1)).as("n_raw")),
          "event_type")
        .select(col("event_type"), col("n"),
          lit(once).as("delivered_once"),
          (col("n") === col("n_raw")).as("sinks_consistent"))
    },
      // after a full redelivery, both sinks must still hold exactly one
      // copy of the feed
      """SELECT event_type, count(*) AS n, TRUE AS delivered_once,
             TRUE AS sinks_consistent
         FROM events GROUP BY event_type"""),

    // UPDATE-mode MATERIALIZED VIEW through the RUNTIME — the
    // complement of c9's append contract: update mode re-emits a
    // window EVERY time its count changes (c9 emits it once, when the
    // watermark finalizes it), and a keyed last-wins upsert sink keyed
    // by (win_start, epoch) turns that revision stream into a live MV.
    // The judged frame is the MV's final image and must equal the
    // plain batch GROUP BY over ALL events — including the windows
    // inside the watermark horizon that append mode provably withholds
    // (c9's oracle excludes them; this one includes them). Two
    // time-ordered files make cut-straddling windows emit twice with
    // revised counts, so the upsert's epoch order is load-bearing.
    // This is the live-dashboard / serving-table shape; at 100 TB/day
    // the upsert cost is ∝ changed windows per batch, never history
    Judged("c26_stream_update_mv", (s, dir) => {
      val ev = Tables.events(s, dir).select("ts", "event_id")
      val tmp = Stage.tempDir("graft-c26-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val cut = lit("2024-01-21 00:30:00").cast("timestamp")
      val feed = Stage.durableChunkFeed("feed-c26", dir)(Seq(
        ev.where(col("ts") < cut),
        ev.where(col("ts") >= cut)))
      val schema = StructType(Seq(
        StructField("ts", org.apache.spark.sql.types.TimestampType),
        StructField("event_id", org.apache.spark.sql.types.LongType)))
      Stage.drain(Pipeline.windowedCounts(
          s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(feed),
          "ts", "1 hour", "1 hour"), ckpt, "update")(
        _.foreachBatch { (batch: DataFrame, epoch: Long) =>
          Sinks.appendParquet(batch.withColumn("epoch", lit(epoch)), out)
          ()
        })
      Sinks.sinkState(s, out, keys = Seq("win_start"),
        orderCols = Seq("epoch")).drop("epoch")
    },
      // the MV's final image must equal the batch GROUP BY over ALL
      // events — update mode + keyed upsert serves every window,
      // including those append mode still withholds
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events)
         SELECT date_trunc('hour', ts) AS win_start, count(*) AS n
         FROM e GROUP BY 1"""),

    // Stream-stream LEFT OUTER interval join through the RUNTIME: the
    // state-EVICTION semantics c11's inner join never exercises — an
    // unmatched view emits null-extended only when the global watermark
    // (min of both streams' max event time − 1 h) passes its last
    // possible match (v_ts + 30 min), proving rows leave state exactly
    // once with a definitive no-match verdict. Matched pairs emit as
    // the inner join does; views still inside the match horizon at
    // end-of-feed are provably withheld. This is the "views that never
    // converted" feed — at 100 TB/day the outer emission IS the
    // product (abandonment), and bounded state is what makes it finite.
    Judged("c22_stream_outer_join", (s, dir) => {
      val tmp = Stage.tempDir("graft-c22-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val (vDir, cDir) = viewClickFeeds(s, dir)
      val tsT = org.apache.spark.sql.types.TimestampType
      val longT = org.apache.spark.sql.types.LongType
      val vSchema = StructType(Seq(StructField("v_ts", tsT),
        StructField("v_event_id", longT), StructField("user_id", longT)))
      val cSchema = StructType(Seq(StructField("c_ts", tsT),
        StructField("c_event_id", longT), StructField("user_id", longT)))
      Stage.drain(Pipeline.intervalJoin(
          s.readStream.schema(vSchema).parquet(vDir), "v_ts",
          s.readStream.schema(cSchema).parquet(cDir), "c_ts",
          key = "user_id", watermark = "1 hour", within = "30 minutes",
          joinType = "left_outer")
          .select("user_id", "v_event_id", "v_ts", "c_event_id", "c_ts"),
        ckpt)(_.format("parquet").option("path", out))
      s.read.parquet(out)
    },
      // matched pairs = the batch inner join; null-extended views = those
      // with no match whose horizon (v_ts + 30 min) the final global
      // watermark strictly passed
      """WITH v AS (SELECT CAST(ts AS TIMESTAMP) AS v_ts,
             event_id AS v_event_id, user_id
           FROM events WHERE event_type = 'view'),
          c AS (SELECT CAST(ts AS TIMESTAMP) AS c_ts,
             event_id AS c_event_id, user_id
           FROM events WHERE event_type = 'click'),
          wm AS (SELECT least((SELECT max(v_ts) FROM v),
                              (SELECT max(c_ts) FROM c))
                   - INTERVAL 1 HOUR AS wv),
          m AS (SELECT v.user_id, v_event_id, v_ts, c_event_id, c_ts
                FROM v JOIN c ON v.user_id = c.user_id
                  AND c_ts >= v_ts AND c_ts <= v_ts + INTERVAL 30 MINUTE),
          unm AS (SELECT v.user_id, v_event_id, v_ts,
                         CAST(NULL AS BIGINT) AS c_event_id,
                         CAST(NULL AS TIMESTAMP) AS c_ts
                  FROM v CROSS JOIN wm
                  WHERE NOT EXISTS (SELECT 1 FROM c
                      WHERE c.user_id = v.user_id AND c_ts >= v_ts
                        AND c_ts <= v_ts + INTERVAL 30 MINUTE)
                    AND v_ts + INTERVAL 30 MINUTE < wm.wv)
          SELECT * FROM m UNION ALL SELECT * FROM unm"""),

    // Arbitrary per-key state on Spark 4's transformWithState API
    // through the RUNTIME — the successor of flatMapGroupsWithState
    // (c17) with RocksDB-backed ValueState: state lives off-heap and
    // spills to the store, so key cardinality scales to disk, not JVM
    // heap — the 100 TB-of-keys shape. The processor emits each key's
    // (prev → value) transition with a running update count, applied in
    // event-sequence order so a batch lag()/row_number() oracle can
    // replay the exact transition chain the stateful operator produced.
    Judged("c23_stream_tws", (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val tmp = Stage.tempDir("graft-c23-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val feed = Stage.durableChunkFeed("feed-c23", dir)(Seq(
        ev.select(
          concat(col("event_type"), lit("-"),
            (col("user_id") % 64).cast("string")).as("key"),
          col("event_id").as("seq"),
          col("value"))))
      val longT = org.apache.spark.sql.types.LongType
      val dblT = org.apache.spark.sql.types.DoubleType
      val schema = StructType(Seq(StructField("key", StringType),
        StructField("seq", longT), StructField("value", dblT)))
      Stage.drain(graft.streaming.StatefulOps.orderedDeltaStream(
          s.readStream.schema(schema).parquet(feed)
            .as[graft.streaming.StatefulOps.SeqValue]), ckpt)(
        _.format("parquet").option("path", out))
      s.read.parquet(out)
        .select("key", "seq", "prev", "has_prev", "value", "n_seen")
    },
      // replay of the ordered per-key ValueState fold: prev = previous
      // value in seq order (0.0 before the first), n_seen = running count
      """SELECT event_type || '-' || CAST(user_id % 64 AS VARCHAR) AS key,
             event_id AS seq,
             coalesce(lag(value) OVER w, 0.0) AS prev,
             (row_number() OVER w) > 1 AS has_prev,
             value,
             CAST(row_number() OVER w AS BIGINT) AS n_seen
         FROM events
         WINDOW w AS (
           PARTITION BY event_type || '-' || CAST(user_id % 64 AS VARCHAR)
           ORDER BY event_id)"""),

    // SESSION windows through the RUNTIME: `session_window` + watermark
    // driven by the real micro-batch engine — the MERGING-window state
    // path (sessions extend/merge as events arrive), which tumbling
    // windows (`c9_stream_window`) never touch. The feed is two
    // time-ordered files with maxFilesPerTrigger=1, so sessions that
    // straddle the cut are started in batch 1's state and extended by
    // batch 2 before the final no-data batch flushes them. Append mode
    // emits exactly the sessions the watermark (max event time − 1 h)
    // finalized; Spark's merge rule — an event joins a session iff it
    // lands strictly before last_event + gap — is restated in the
    // oracle's gaps-and-islands form (split when diff ≥ gap).
    Judged("c21_stream_session", (s, dir) => {
      val ev = Tables.events(s, dir).select("ts", "user_id")
      val tmp = Stage.tempDir("graft-c21-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val cut = lit("2024-01-21").cast("timestamp")
      val feed = Stage.durableChunkFeed("feed-c21", dir)(Seq(
        ev.where(col("ts") < cut),
        ev.where(col("ts") >= cut)))
      val schema = StructType(Seq(
        StructField("ts", org.apache.spark.sql.types.TimestampType),
        StructField("user_id", org.apache.spark.sql.types.LongType)))
      Stage.drain(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
          .withWatermark("ts", "1 hour")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"), col("n")),
        ckpt)(_.format("parquet").option("path", out))
      s.read.parquet(out)
    },
      // append-mode session contract: gaps-and-islands per user (split
      // when the gap to the previous event is ≥ 30 min — Spark merges
      // strictly-within-gap), session end = last event + gap, and only
      // sessions the final watermark (max event time − 1 h) finalized
      streamSessionSql),

    // Right-to-be-forgotten delete propagation: a forget set of
    // customers cascades through every table that references them —
    // directly (orders, events by user id) and transitively (lineitem
    // through its order). Every probe is a BROADCAST semi/anti join of
    // a fact scan against the tiny forget list (or the forget-orders
    // list derived from it), so the cascade costs one narrow scan per
    // table at any scale — no fact-to-fact shuffle. The judged frame is
    // the compliance report: per table, rows before / removed / after.
    Judged("c16_forget", (s, dir) => {
      val forget = broadcast(
        t(s, dir, "customer").where(col("c_custkey") % 101 === 0)
          .select(col("c_custkey").as("fk")))
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val ev = Tables.events(s, dir)
      val li = t(s, dir, "lineitem")
      val forgetOrders = broadcast(
        ord.join(forget, col("o_custkey") === col("fk"), "left_semi")
          .select(col("o_orderkey").as("fo")))
      def report(name: String, df: DataFrame, removed: Column): DataFrame =
        df.agg(lit(name).as("table_name"), count(lit(1)).as("rows_before"),
          sum(removed.cast("long")).as("rows_removed"),
          (count(lit(1)) - sum(removed.cast("long"))).as("rows_after"))
      report("customer", cust.join(forget,
          col("c_custkey") === col("fk"), "left_outer"),
          col("fk").isNotNull)
        .unionByName(report("orders", ord.join(forget,
          col("o_custkey") === col("fk"), "left_outer"),
          col("fk").isNotNull))
        .unionByName(report("events", ev.join(forget,
          col("user_id") === col("fk"), "left_outer"),
          col("fk").isNotNull))
        .unionByName(report("lineitem", li.join(forgetOrders,
          col("l_orderkey") === col("fo"), "left_outer"),
          col("fo").isNotNull))
    },
      // the compliance report: per table, rows before / removed / after
      """WITH fk AS (SELECT c_custkey AS k FROM customer
                     WHERE c_custkey % 101 = 0),
          fo AS (SELECT o_orderkey FROM orders
                 WHERE o_custkey IN (SELECT k FROM fk))
          SELECT 'customer' AS table_name, count(*) AS rows_before,
                 CAST(sum(CAST(c_custkey IN (SELECT k FROM fk) AS BIGINT))
                   AS BIGINT) AS rows_removed,
                 CAST(count(*) - sum(CAST(c_custkey IN (SELECT k FROM fk)
                   AS BIGINT)) AS BIGINT) AS rows_after
          FROM customer
          UNION ALL
          SELECT 'orders', count(*),
                 CAST(sum(CAST(o_custkey IN (SELECT k FROM fk) AS BIGINT))
                   AS BIGINT),
                 CAST(count(*) - sum(CAST(o_custkey IN (SELECT k FROM fk)
                   AS BIGINT)) AS BIGINT)
          FROM orders
          UNION ALL
          SELECT 'events', count(*),
                 CAST(sum(CAST(user_id IN (SELECT k FROM fk) AS BIGINT))
                   AS BIGINT),
                 CAST(count(*) - sum(CAST(user_id IN (SELECT k FROM fk)
                   AS BIGINT)) AS BIGINT)
          FROM events
          UNION ALL
          SELECT 'lineitem', count(*),
                 CAST(sum(CAST(l_orderkey IN (SELECT o_orderkey FROM fo)
                   AS BIGINT)) AS BIGINT),
                 CAST(count(*) - sum(CAST(l_orderkey IN (SELECT o_orderkey
                   FROM fo) AS BIGINT)) AS BIGINT)
          FROM lineitem"""),

    // Small-file COMPACTION — the maintenance job every streaming sink
    // needs: a fragmented table (64 files here; a real CDC sink makes
    // thousands/day) is rewritten into a few right-sized files with
    // `coalesce` (narrow — no shuffle: compaction must not pay a
    // cluster-wide exchange to merge files). The judged frame carries
    // the row counts before/after (loss or duplication is red) and the
    // actual file counts (the compaction must demonstrably happen).
    Judged("c20_compaction", (s, dir) => {
      val tmp = Stage.tempDir("graft-c20-").toString
      val frag = s"$tmp/frag"; val compact = s"$tmp/compact"
      val ev = Tables.events(s, dir).select("event_id", "event_type", "ts")
      ev.repartition(64).write.parquet(frag)
      val before = s.read.parquet(frag)
      before.coalesce(4).write.parquet(compact)
      val after = s.read.parquet(compact)
      def files(d: org.apache.spark.sql.DataFrame): Long =
        d.inputFiles.length.toLong
      // `coalesce(n)` can only LOWER the partition count, so the output
      // file count is ≤ 4 (exact value depends on how the scan packs
      // the 64 fragments, which varies with core count) — the judged
      // contract is the bound, not the packing. rows_src comes from the
      // source parquet's FOOTER metadata (Tables.parquetRowCount) — the
      // identical value ev.count() scanned a whole extra pass for; at
      // 100 TB the layout already materializes this count (guide §1.2:
      // don't re-compute what the storage layer records).
      after.agg(
        lit(Tables.parquetRowCount(s, dir, "events")).as("rows_src"),
        count(lit(1)).as("rows_after"),
        lit(files(before)).as("files_before"),
        lit(files(after) <= 4L && files(after) >= 1L).as("compacted"))
    },
      // compaction preserves every row; the file counts are the job's
      // own contract (64 fragments in, 4 files out)
      """SELECT count(*) AS rows_src, count(*) AS rows_after,
             CAST(64 AS BIGINT) AS files_before, TRUE AS compacted
         FROM events"""),

    // Backpressure through the RUNTIME: maxFilesPerTrigger=1 caps each
    // micro-batch's input — THE ingestion-rate-control knob that keeps
    // batch duration (and state-store churn) bounded when a backlog has
    // accumulated at 100 TB/day. A 4-file feed under AvailableNow must
    // plan exactly 4 micro-batches (checkpoint offsets are the engine's
    // own authoritative batch log); the sunk rows must equal the batch
    // image — pacing changes WHEN rows flow, never WHAT flows
    Judged("c27_stream_backpressure", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), floor(col("value") * 1000).cast("long")
          .as("value_m"))
      val tmp = Stage.tempDir("graft-c27-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val feed = Stage.durableChunkFeed("feed-c27", dir)(
        (0 until 4).map(k => ev.where(col("event_id") % 4 === k)))
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value_m", LongType)))
      Stage.drain(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed), ckpt)(
        _.format("parquet").option("path", out))
      val nBatches = new java.io.File(s"$ckpt/offsets").listFiles()
        .count(f => f.getName.forall(_.isDigit))
      s.read.parquet(out)
        .withColumn("n_batches", lit(nBatches.toLong))
        .withColumn("paced_ok", lit(nBatches == 4))
    },
      """SELECT event_id, user_id, event_type,
           CAST(floor(value * 1000) AS BIGINT) AS value_m,
           CAST(4 AS BIGINT) AS n_batches, TRUE AS paced_ok
         FROM events"""),

    // Delta-algebra JOIN-view maintenance with DELETES (the DBSP /
    // Materialize bilinearity rule): for V = γ(O ⋈ L), with signed
    // multiset deltas ΔO (inserts, +1) and ΔL (inserts +1, deletes −1),
    //   V_new = V_old ⊎ γ(ΔO⋈L_old ∪ O_old⋈ΔL ∪ ΔO⋈ΔL)
    // — every join term touches at most one full-history side, so
    // refresh cost is ∝ |Δ|·(join fan-out), never a history×history
    // join. Deltas here are deterministic key-partitions of the data
    // (new orders: o_orderkey≡0 mod 7, with their lineitems; deletes:
    // old lineitems with l_suppkey≡3 mod 11); the judged frame is the
    // INCREMENTALLY maintained view, the oracle recomputes the view
    // directly on the post-delta state — equality proves the algebra.
    // Signs ride the exact decimal sums, so retraction is exact
    Judged("c28_delta_join_mv", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"),
        dec(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("rev"))
      val oOld = o.where(col("o_orderkey") % 7 =!= 0)
      val oDel = o.where(col("o_orderkey") % 7 === 0)
      val lOld = l.where(col("l_orderkey") % 7 =!= 0)
      val lIns = l.where(col("l_orderkey") % 7 === 0)
        .withColumn("sig", lit(1L))
      val lDel = lOld.where(col("l_suppkey") % 11 === 3)
        .withColumn("sig", lit(-1L))
      val lDelta = lIns.unionByName(lDel)
      // the stored MV image: (status, rev_dec, sig=n) partial state
      val vOld = oOld.join(lOld, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("rev")).as("rev_dec"), count(lit(1)).as("sig"))
      def term(of: DataFrame, lf: DataFrame): DataFrame =
        of.join(lf, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderstatus"),
            (col("sig") * col("rev")).as("rev_dec"), col("sig"))
      val delta = term(oDel, lOld.withColumn("sig", lit(1L)))
        .unionByName(term(oOld, lDelta))
        .unionByName(term(oDel, lDelta))
      vOld.unionByName(delta)
        .groupBy(col("o_orderstatus"))
        .agg((sum(col("rev_dec")) * 10000).cast("long").as("revenue_c"),
          sum(col("sig")).as("n_pairs"))
        // garbage-collect groups whose multiplicity hit zero: a direct
        // recompute has no row for them (no surviving join pairs)
        .where(col("n_pairs") =!= 0)
    },
      """SELECT o_orderstatus,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(38,4))) * 10000 AS BIGINT) AS revenue_c,
           CAST(count(*) AS BIGINT) AS n_pairs
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE (l_orderkey % 7 = 0) OR (l_suppkey % 11 <> 3)
         GROUP BY o_orderstatus"""),

    // COMPLETE output mode through the RUNTIME — the third and last
    // output mode (append: c9, update: c26): every micro-batch emits
    // the ENTIRE aggregate image, which the sink overwrites wholesale
    // (epoch-atomic rewrite, the live-dashboard contract). Complete
    // mode keeps all groups in state forever, so it is only finite for
    // dimension-bounded aggregates (event types here) — that bound is
    // the 100 TB design rule, not a limitation of the test. The judged
    // frame is the final overwritten image: it must equal the batch
    // restatement of the whole feed, proving the last epoch's image
    // covered rows from every earlier epoch (checkpoint offsets audit
    // the epoch count)
    Judged("c29_stream_complete", (s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "event_type")
      val tmp = Stage.tempDir("graft-c29-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val feed = Stage.durableChunkFeed("feed-c29", dir)(Seq(
        ev.where(col("event_id") % 2 === 0),
        ev.where(col("event_id") % 2 =!= 0)))
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType)))
      Stage.drain(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n")),
        ckpt, "complete")(
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(out)
          ()
        })
      val nBatches = new java.io.File(s"$ckpt/offsets").listFiles()
        .count(f => f.getName.forall(_.isDigit))
      s.read.parquet(out)
        .withColumn("n_epochs", lit(nBatches.toLong))
        .withColumn("complete_ok", lit(nBatches == 2))
    },
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(2 AS BIGINT) AS n_epochs, TRUE AS complete_ok
         FROM events GROUP BY event_type"""),

    // CHAINED stateful operators in one streaming query — streaming
    // dedup feeding a windowed aggregation, both keeping state in the
    // SAME micro-batch pipeline (the shape Spark only admits when every
    // stateful op rides the one event-time watermark). The feed injects
    // duplicates (event_id % 7 re-sent in-batch); dedup suppresses them
    // within the watermark horizon, the downstream hourly count sees
    // each event once, and append mode emits exactly the windows the
    // final watermark (max ts − 1 h) finalized. State audit: the
    // checkpoint must hold TWO state-store operators. At 100 TB/day
    // both stores stay finite: dedup keys age out at the watermark,
    // windows close at the watermark — one pipeline, no intermediate
    // sink between the two stateful stages
    Judged("c30_stream_chained", (s, dir) => {
      val ev = Tables.events(s, dir).select("ts", "event_id")
      val tmp = Stage.tempDir("graft-c30-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val cut = lit("2024-01-21").cast("timestamp")
      def leg(rows: DataFrame): DataFrame =
        rows.unionAll(rows.where(col("event_id") % 7 === 0))
      val feed = Stage.durableChunkFeed("feed-c30", dir)(Seq(
        leg(ev.where(col("ts") < cut)),
        leg(ev.where(col("ts") >= cut))))
      val schema = StructType(Seq(
        StructField("ts", org.apache.spark.sql.types.TimestampType),
        StructField("event_id", LongType)))
      Stage.drain(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
          .select(col("window.start").as("win_start"), col("n")),
        ckpt)(_.format("parquet").option("path", out))
      val nStateOps = new java.io.File(s"$ckpt/state").listFiles()
        .count(_.isDirectory)
      s.read.parquet(out)
        .withColumn("n_state_ops", lit(nStateOps.toLong))
    },
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
          wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e),
          b AS (SELECT date_trunc('hour', ts) AS win_start,
                  CAST(count(*) AS BIGINT) AS n
                FROM e GROUP BY 1)
          SELECT win_start, n, CAST(2 AS BIGINT) AS n_state_ops
          FROM b, wm WHERE win_start + INTERVAL 1 HOUR <= w"""),

    // `q109_attribution` — last-touch attribution: every purchase is
    // credited to the latest strictly-earlier event of the same user
    // (deterministic (ts, event_id) tie-break, house discipline from
    // e5_sessionize/q103), then the credited touch types are rolled up into
    // conversions + attributed revenue. ONE exchange on user_id feeds the
    // per-user ordered walk (the window), and the rollup groups a 5-value
    // domain — at 100 TB the sort is per-user-partition local and the
    // report aggregate is a broadcast-sized frame. Purchases with no prior
    // touch land in the '(none)' bucket, so the report is a partition of
    // ALL purchases (auditable total).
    Judged("q109_attribution", (s, dir) => {
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
    },
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
         GROUP BY touch_type"""),

    // `c32_stream_attribution` — the STREAMING form of the same report:
    // per-user `GroupState` (one latest-touch record per user) through the
    // real micro-batch engine over a deterministic ts-ordered file feed,
    // judged against the identical oracle — stream/batch parity for the
    // attribution semantic.
    //
    // Streaming last-touch attribution through the REAL micro-batch
    // engine: the events table arrives as 3 ts-range chunks (pinned
    // mtimes — deterministic arrival, house discipline from c31), a
    // per-user GroupState carries the latest non-purchase touch across
    // batches, and each purchase emits its attributed row as it
    // arrives. Judged output = the same rollup as the batch
    // q109_attribution, against the SAME oracle — stream/batch parity
    // for the attribution semantic. State is one record per user
    // (scales with user cardinality, not event volume).
    Judged("c32_stream_attribution", (s, dir) =>
      // window = full span + 1s: every touch is in-window and no
      // timeout can fire mid-stream (touch_ts + w > hi0 ≥ any
      // watermark), so the rollup equals the unbounded batch oracle —
      // while still running the SAME TTL'd operator as c33 (no
      // NoTimeout code path exists)
      windowedAttributionRollup(s, dir, "graft-c32-",
        perCampaign = false,
        windowOf = (lo, hi) => (hi - lo) + 1000000L,
        sentinelGaps = Seq.empty),
      // Identical semantics to q109 — the streaming path must reproduce
      // the batch window exactly.
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
         GROUP BY touch_type"""),

    // `c33_stream_attribution_ttl` — windowed last-touch attribution per
    // (user, campaign) entity with `EventTimeTimeout` state eviction,
    // judged END TO END: purchases credit only in-window touches, and the
    // state store's lifecycle is part of the output — every eviction emits
    // an `(evicted)` audit row when the entity went stale mid-stream and
    // `(live_end)` at the final drain, so `(evicted)`+`(live_end)`
    // partitions the touched-entity population and the oracle checks the
    // exact state count. The window (2·step+1 µs, step = span/3+1) is
    // chosen ≥ 2 chunk spans so evictions can only fire at the sentinel
    // batches — making the timing deterministic under the 3-chunk feed —
    // while still evicting every entity whose last touch is in the feed's
    // first chunk (178 / 1 682 / 17 220 entities at sf 0.001/0.01/0.1).
    // Timeout semantics are ms-floored strict `<` on both sides
    // (`graft.streaming.Attribution.attributeWindowed`).
    Judged("c33_stream_attribution_ttl", (s, dir) =>
      windowedAttributionRollup(s, dir, "graft-c33-",
        perCampaign = true,
        windowOf = (lo, hi) => 2 * ((hi - lo) / 3 + 1) + 1,
        sentinelGaps = Seq(10L, 20L)),
      // The streaming result is fully determined by event-time
      // semantics: per-(user,k) windowed last-touch credit on purchases,
      // plus one audit row per touched entity — `(evicted)` iff the
      // entity's LAST touch times out against the end-of-data watermark
      // (ms-floored strict <, exactly Spark's InputProcessor condition),
      // else `(live_end)` from the drain sentinel.
      streamAttributionTtlSql),

    // `q110_multitouch` / `c34_stream_multitouch` — position-based
    // (U-shaped 40/40/20) multi-touch attribution as a batch window query
    // and its streaming twin, judged against ONE shared oracle; credit
    // shares are exact integer µ-units (`Attribution.creditShares`) so the
    // rollup is order-independent with a single double division at report
    // time.
    //
    // Position-based (U-shaped 40/40/20) multi-touch attribution,
    // batch form: per purchase, ONE window pass over the user's prior
    // events yields the touch count, first/last/second-last touch
    // types, and per-channel counts (all over the SAME window spec —
    // one exchange on user_id, one sort); the credit split is then a
    // codegen'd projection in exact integer µ-shares (see
    // Attribution.creditShares for the remainder-to-last-middle rule
    // that keeps each purchase's shares summing to exactly 1e6 µ).
    // The rollup sums integers and performs the ONLY double division
    // at report time — engine-reproducible, order-independent. At
    // 100 TB: the window sort is per-user-partition local after one
    // hash exchange; the exploded credit frame is ≤ 5 rows per
    // purchase; the report aggregate is a 5-row frame.
    Judged("q110_multitouch", (s, dir) => {
      val types = graft.streaming.Attribution.touchTypes
      val w1 = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type") =!= "purchase", col("event_type"))
      val base = events(s, dir)
        .withColumn("__touch", touch)
        .withColumn("__pt", when(touch.isNotNull,
          last(touch, ignoreNulls = true).over(w1)))
      val cntCols = types.map(t =>
        count(when(col("__touch") === t, 1)).over(w1).as(s"cnt_$t"))
      val enriched = base.select(
        (Seq(col("event_type"), col("value"),
          count(col("__touch")).over(w1).as("n"),
          first(col("__touch"), ignoreNulls = true).over(w1).as("ft"),
          last(col("__touch"), ignoreNulls = true).over(w1).as("lt"),
          last(col("__pt"), ignoreNulls = true).over(w1).as("slt"))
          ++ cntCols): _*)
      val p = enriched.where(col("event_type") === "purchase")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withColumn("b", when(col("n") >= 3,
          floor(lit(200000L) / (col("n") - 2)).cast("long"))
          .otherwise(lit(0L)))
      def isT(c: String, t: String) =
        when(col(c) === t, 1L).otherwise(0L)
      def credit(t: String) =
        when(col("n") === 0, lit(0L))
          .when(col("n") === 1, isT("ft", t) * 1000000L)
          .when(col("n") === 2,
            isT("ft", t) * 500000L + isT("lt", t) * 500000L)
          .otherwise(isT("ft", t) * 400000L + isT("lt", t) * 400000L +
            (col(s"cnt_$t") - isT("ft", t) - isT("lt", t)) * col("b") +
            isT("slt", t) * (lit(200000L) - col("b") * (col("n") - 2)))
      val shares = types.map(t => struct(lit(t).as("t"),
        credit(t).as("w"))) :+
        struct(lit("(none)").as("t"),
          when(col("n") === 0, 1000000L).otherwise(0L).as("w"))
      p.select(col("cents"), explode(array(shares: _*)).as("c"))
        .select(col("c.t").as("touch_type"), col("c.w").as("w"),
          (col("c.w") * col("cents")).as("mc"))
        .where(col("w") > 0)
        .groupBy("touch_type")
        .agg((sum(col("w")).cast("double") / lit(1000000.0))
            .as("conversions"),
          (sum(col("mc")).cast("double") / lit(100000000.0))
            .as("attributed_value"))
    },
      multiTouchOracle),

    // The STREAMING twin of q110 against the SAME oracle: per-user
    // bounded MTState (first/last/second-last + per-channel counts)
    // through the real micro-batch engine; each purchase emits its
    // exact-integer µ-shares as it arrives, and the rollup is
    // identical to the batch report.
    Judged("c34_stream_multitouch", (s, dir) =>
      multiTouchRollup(s, dir, "graft-c34-"),
      multiTouchOracle),

    // `c36`/`c37`/`c38` — the `transformWithState` successor API's
    // remaining state primitives, each judged against an EXISTING oracle as
    // a twin: event-time timers (c36 = c33's semantics), ListState (c37,
    // bounded last-3 log), MapState (c38 = the q110/c34 semantic — three
    // implementations, one oracle).
    //
    // c33's windowed TTL'd attribution on the SUCCESSOR streaming
    // state API: transformWithState with EVENT-TIME TIMERS (the
    // engine path flatMapGroupsWithState's EventTimeTimeout never
    // touches — registered per-key timers in the RocksDB store, with
    // explicit delete/re-register on every touch). Judged as c33's
    // twin on ONE oracle and ONE staged feed (the "graft-c33-"
    // prefix): the audit label derives from the timer's own fire
    // time, so the output is invariant to which batch the engine
    // fires in, and the c33 oracle transfers verbatim.
    Judged("c36_stream_attribution_tws", (s, dir) => {
      val b = build(s, dir, "graft-c33-", perCampaign = true,
        windowOf = (lo, hi) => 2 * ((hi - lo) / 3 + 1) + 1,
        sentinelGaps = Seq(10L, 20L))
      val res = runStream(s, b,
        (in: org.apache.spark.sql.Dataset[
            graft.streaming.Attribution.EvW]) =>
          graft.streaming.Attribution.attributeWindowedTws(
            in, b.windowUs, b.hiUs / 1000L))
      res.groupBy(col("touch_type"))
        .agg(count(lit(1)).as("conversions"),
          Tables.dsum(col("value"), 2).as("attributed_value"))
    },
      // judged twin of c33 — identical window, feed, and semantics; the
      // timer-fire-time label rule makes the same oracle exact
      streamAttributionTtlSql),

    // Last-3 recency-weighted attribution on transformWithState's
    // LIST STATE — the successor API's composite-state path (c23 =
    // ValueState, c36 = timers, this = the bounded per-key log every
    // "recent history" feature store keeps): state is the user's last
    // ≤3 touches, constant-size per key at any event volume; each
    // purchase splits exactly 1e6 µ over them (50/30/20, 60/40, or
    // all) — order-independent integer rollup, one oracle. Shares the
    // staged c34 feed.
    Judged("c37_stream_last3", (s, dir) => {
      val b = build(s, dir, "graft-c34-", perCampaign = false,
        windowOf = (_, _) => 0L, sentinelGaps = Seq.empty)
      val res = runStream(s, b,
        (in: org.apache.spark.sql.Dataset[
            graft.streaming.Attribution.EvW]) =>
          graft.streaming.Attribution.last3Stream(in))
      res.groupBy(col("touch_type"))
        .agg((sum(col("w")).cast("double") / lit(1000000.0))
            .as("conversions"),
          (sum(col("mc")).cast("double") / lit(100000000.0))
            .as("attributed_value"))
    },
      // last-3 recency weights replayed relationally: the 2nd/3rd most
      // recent prior touches come from the chained per-touch-row
      // previous-touch columns (pt = touch before a touch, ppt = touch
      // two before), each lifted to the purchase row by one more
      // last_value IGNORE NULLS — the same derivation c34's oracle uses
      // for its second-last touch, applied twice.
      """WITH ev AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
             value,
             CASE WHEN event_type <> 'purchase' THEN event_type END
               AS touch
           FROM events),
         t1 AS (
           SELECT *, CASE WHEN touch IS NOT NULL THEN
               last_value(touch IGNORE NULLS) OVER wnd END AS pt
           FROM ev
           WINDOW wnd AS (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         t2 AS (
           SELECT *, CASE WHEN touch IS NOT NULL THEN
               last_value(pt IGNORE NULLS) OVER wnd END AS ppt
           FROM t1
           WINDOW wnd AS (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         t3 AS (
           SELECT event_type, value,
             count(touch) OVER wnd AS n,
             last_value(touch IGNORE NULLS) OVER wnd AS r1,
             last_value(pt IGNORE NULLS) OVER wnd AS r2,
             last_value(ppt IGNORE NULLS) OVER wnd AS r3
           FROM t2
           WINDOW wnd AS (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         p AS (
           SELECT CAST(round(value * 100) AS BIGINT) AS cents, n,
             r1, r2, r3
           FROM t3 WHERE event_type = 'purchase'),
         cr AS (
           SELECT ty.t AS touch_type, p.cents,
             CASE
               WHEN p.n = 0 THEN
                 CASE WHEN ty.t = '(none)' THEN 1000000 ELSE 0 END
               WHEN ty.t = '(none)' THEN 0
               WHEN p.n = 1 THEN
                 CASE WHEN p.r1 = ty.t THEN 1000000 ELSE 0 END
               WHEN p.n = 2 THEN
                 (CASE WHEN p.r1 = ty.t THEN 600000 ELSE 0 END) +
                 (CASE WHEN p.r2 = ty.t THEN 400000 ELSE 0 END)
               ELSE
                 (CASE WHEN p.r1 = ty.t THEN 500000 ELSE 0 END) +
                 (CASE WHEN p.r2 = ty.t THEN 300000 ELSE 0 END) +
                 (CASE WHEN p.r3 = ty.t THEN 200000 ELSE 0 END)
             END AS w
           FROM p, (VALUES ('click'), ('view'), ('signup'), ('error'),
             ('(none)')) AS ty(t))
         SELECT touch_type,
           CAST(SUM(w) AS DOUBLE) / 1000000.0 AS conversions,
           CAST(SUM(w * cents) AS DOUBLE) / 100000000.0
             AS attributed_value
         FROM cr WHERE w > 0 GROUP BY touch_type"""),

    // The q110/c34 multi-touch semantics on transformWithState's MAP
    // STATE — completing the successor API's primitive coverage (c23
    // ValueState, c36 timers, c37 ListState): per-channel counters as
    // point-updated map entries, first/last/second-last as a
    // ValueState, SAME oracle as q110 and c34 — three judged
    // implementations of one semantic (batch window, fMGWS state
    // walk, TWS map state). Shares the staged c34 feed.
    Judged("c38_stream_multitouch_map", (s, dir) => {
      val b = build(s, dir, "graft-c34-", perCampaign = false,
        windowOf = (_, _) => 0L, sentinelGaps = Seq.empty)
      val res = runStream(s, b,
        (in: org.apache.spark.sql.Dataset[
            graft.streaming.Attribution.EvW]) =>
          graft.streaming.Attribution.multiTouchMapStream(in))
      res.groupBy(col("touch_type"))
        .agg((sum(col("w")).cast("double") / lit(1000000.0))
            .as("conversions"),
          (sum(col("mc")).cast("double") / lit(100000000.0))
            .as("attributed_value"))
    },
      // third judged implementation of the q110/c34 semantic, one oracle
      multiTouchOracle),

    // `c39_stream_scd2` — SCD2 history maintained INCREMENTALLY from the
    // change stream ([[graft.streaming.Scd2]]), judged against the SAME
    // oracle as the batch `c12_scd2` (lead-over-log): the twin discipline
    // of c36/c38. State = one open interval per live key; closed intervals
    // ship downstream immediately.
    //
    // Streaming SCD2 — [[graft.streaming.Scd2.history]] over the
    // same four change generations as the batch `c12_scd2`, judged
    // against the SAME oracle (the c36/c38 twin discipline): per
    // key, each change closes the open interval at its own ordinal
    // and opens the next; deletes close without opening; the final
    // drain (far-future event-time timeout fired by the watermark
    // sentinels) emits the still-open intervals as current. Feed
    // chunks are durably staged with pinned mtimes; event time is
    // (gen+1) s (epoch 0 is dropped by the initial-watermark late
    // filter) and the drain timer sits between the data range and
    // the sentinels.
    Judged("c39_stream_scd2", (s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      def gen(df: DataFrame, op: String, g: Long, bal: Column) =
        df.select(col("c_custkey"), bal.as("c_acctbal"),
          lit(op).as("op"), lit(g).as("ts_g"),
          timestamp_seconds(lit(g + 1)).as("ts"))
      val feed = Stage.durableChunkFeed("feed-c39", dir)(Seq(
        gen(c, "r", 0L, col("c_acctbal")),
        gen(c.where(col("c_custkey") % 3 === 0), "u", 1L,
          col("c_acctbal") + 100.0),
        gen(c.where(col("c_custkey") % 5 === 0), "d", 2L,
          lit(null).cast("double")),
        gen(c.where(col("c_custkey") % 15 === 0), "u", 3L,
          col("c_acctbal") + 7.0),
        // two watermark-bearing sentinels: timeouts fire against the
        // PREVIOUS batch's watermark, so the first advances it past
        // the drain timer and the second delivers the firing batch
        gen(s.range(1).select(lit(-1L).as("c_custkey"),
          lit(0.0).as("c_acctbal")), "noop", 98L, lit(null)
          .cast("double")).withColumn("ts",
            timestamp_seconds(lit(1000L))),
        gen(s.range(1).select(lit(-1L).as("c_custkey"),
          lit(0.0).as("c_acctbal")), "noop", 99L, lit(null)
          .cast("double")).withColumn("ts",
            timestamp_seconds(lit(2000L)))))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("c_custkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c_acctbal",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts_g",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val tmp = Stage.tempDir("graft-c39-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val in = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
        .withWatermark("ts", "0 seconds")
        .as[graft.streaming.Scd2.Change]
      Stage.drain(graft.streaming.Scd2.history(in, drainFireMs = 5000L),
        ckpt)(Stage.appendTo(out))
      s.read.parquet(out)
        .select(col("c_custkey"), col("c_acctbal"),
          col("effective_from"), col("effective_to"), col("is_current"))
    },
      // the batch c12_scd2 oracle VERBATIM — the streaming operator is
      // judged as a twin on the same change log and history semantics.
      """WITH log AS (
           SELECT c_custkey, c_acctbal, 'r' AS op, CAST(0 AS BIGINT) AS ts
             FROM customer
           UNION ALL
           SELECT c_custkey, c_acctbal + 100.0, 'u', 1 FROM customer
             WHERE c_custkey % 3 = 0
           UNION ALL
           SELECT c_custkey, NULL, 'd', 2 FROM customer
             WHERE c_custkey % 5 = 0
           UNION ALL
           SELECT c_custkey, c_acctbal + 7.0, 'u', 3 FROM customer
             WHERE c_custkey % 15 = 0),
          v AS (SELECT *, lead(ts) OVER
              (PARTITION BY c_custkey ORDER BY ts) AS effective_to
            FROM log)
          SELECT c_custkey, c_acctbal, ts AS effective_from, effective_to,
            effective_to IS NULL AS is_current
          FROM v WHERE op <> 'd'"""),

    // Gap-session windows on transformWithState
    // ([[graft.streaming.SessionTws]]) — the successor-API twin of
    // c21's built-in session_window, judged on the SAME oracle (the
    // c12/c39 and c33/c36 twin discipline). The finalization cut
    // (max event time − the 1 h watermark delay) is a durable sizing
    // scalar in exact micros; far-future sentinel pair fires the
    // drain timers (timeouts fire against the PREVIOUS batch's
    // watermark). The 1 h delay ≥ the 30 min gap makes premature
    // timer fires emit exactly the row the inline close would.
    Judged("c40_stream_session_tws", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StructField,
        StructType, TimestampType}
      import s.implicits._
      val ev = Tables.events(s, dir).select("ts", "user_id")
      val cut = lit("2024-01-21").cast("timestamp")
      val wmUs = Stage.durableScalar("c40-final-wm", dir)(
        Tables.events(s, dir).agg(
          (max(unix_micros(col("ts"))) - lit(3600000000L)).as("wm")))
      val feed = Stage.durableChunkFeed("feed-c40", dir)(Seq(
        ev.where(col("ts") < cut),
        ev.where(col("ts") >= cut),
        s.range(1).select(lit("2030-01-01").cast("timestamp").as("ts"),
          lit(-1L).as("user_id")),
        s.range(1).select(lit("2030-01-02").cast("timestamp").as("ts"),
          lit(-1L).as("user_id"))))
      val schema = StructType(Seq(
        StructField("ts", TimestampType),
        StructField("user_id", LongType)))
      val tmp = Stage.tempDir("graft-c40-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val in = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
        .withWatermark("ts", "1 hour")
        .select(col("user_id"), col("ts"),
          unix_micros(col("ts")).as("ts_us"))
        .as[graft.streaming.SessionTws.Ev]
      Stage.drain(graft.streaming.SessionTws
        .sessions(in, gapUs = 1800000000L, finalWmUs = wmUs), ckpt)(
        Stage.appendTo(out))
      s.read.parquet(out).select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("n"))
    },
      // judged on the built-in session_window's oracle verbatim —
      // twin discipline: one semantic, one oracle, two engines
      streamSessionSql),

    // `c41_stream_topk` — e59's exact heavy hitters through the REAL
    // micro-batch engine on transformWithState (judged on e59's batch
    // oracle — the c12/c39, c33/c36 twin discipline): one monotone
    // ValueState[Long] counter per key emits the running total once per
    // key-invocation; counts only grow, so the append sink's final image is
    // max(cnt) per key — exactly-once totals with no update-mode sink, and
    // state bounded by the key domain.
    //
    // e59's heavy hitters through the real micro-batch engine on
    // transformWithState ([[StatefulOps.keyCountStream]]): monotone
    // per-key counters, append sink, final image = max(cnt) per key,
    // then the SAME cnt·(k+1) > total gate as the batch operator.
    Judged("c41_stream_topk", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("lang"), lit("|"), col("source")).as("key"))
      val feed = Stage.durableChunkFeed("feed-c41", dir)(Seq(
        docs.where(col("doc_id") % 2 === 0).select("key"),
        docs.where(col("doc_id") % 2 =!= 0).select("key")))
      val tmp = Stage.tempDir("graft-c41-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val schema = StructType(Seq(StructField("key", StringType)))
      Stage.drain(StatefulOps.keyCountStream(
          s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(feed).as[String]), ckpt, "update")(
        Stage.appendTo(out))
      val fin = s.read.parquet(out)
        .groupBy("key").agg(max(col("cnt")).as("cnt"))
      fin.crossJoin(broadcast(fin.agg(sum(col("cnt")).as("n_total"))))
        .where(col("cnt") * (SketchQueries.heavyHitterK + 1L) >
          col("n_total"))
        .select(col("key"), col("cnt"))
        .orderBy(col("key"))
    },
      // judged on the batch operator's oracle — the twin discipline
      SketchQueries.heavyHittersSql),

    // `c42_stream_mix` — e144 through the REAL micro-batch engine (judged
    // on e144's batch oracle, the c41 twin discipline): per-source token
    // totals as monotone KeySum state on transformWithState, final counter
    // image collapsed by max(total), then the SAME mixReport algebra.
    //
    // e144's temperature mix through the REAL micro-batch engine (the
    // c41 twin discipline, judged on e144's batch oracle): per-source
    // token totals as monotone KeySum state on transformWithState —
    // one ValueState[Long] per source, running totals appended per
    // batch and collapsed by max(total) for exactly-once counts — then
    // the SAME mixReport algebra on the final counter image. The
    // mixture monitor a live feed runs continuously.
    Judged("c42_stream_mix", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("source").as("key"),
        TextAnalysis.tokenCount(col("text")).as("w"), col("doc_id"))
      val feed = Stage.durableChunkFeed("feed-c42", dir)(Seq(
        docs.where(col("doc_id") % 2 === 0).select("key", "w"),
        docs.where(col("doc_id") % 2 =!= 0).select("key", "w")))
      val tmp = Stage.tempDir("graft-c42-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val schema = StructType(Seq(StructField("key", StringType),
        StructField("w", LongType)))
      Stage.drain(StatefulOps.keySumStream(
          s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(feed).as[StatefulOps.KeyWeight]), ckpt, "update")(
        Stage.appendTo(out))
      CorpusQueries.mixReport(s.read.parquet(out)
        .groupBy("key").agg(max(col("total")).as("n_tok"))
        .select(col("key").as("source"), col("n_tok")))
    },
      // the twin discipline: the streaming counter image must reproduce
      // the batch mixture report exactly
      CorpusQueries.temperatureMixSql),

    // `c43_stream_guardrails` — e163's A/B guardrail panel through the REAL
    // micro-batch engine (the c42 twin discipline, judged on e163's batch
    // oracle verbatim): per-user purchase counts as monotone KeySum state
    // on `transformWithState` over a two-chunk event feed, counter image
    // collapsed by max(total), then the SAME
    // `InferenceQueries.guardrailPanel` algebra. Users whose events never
    // include a purchase still reach the state store (w=0 rows), so the
    // zero-fill census matches the batch leg's conditional count over ALL
    // observed users.
    Judged("c43_stream_guardrails", (s, dir) => {
      import s.implicits._
      val ev = events(s, dir).select(
        col("user_id").cast("string").as("key"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("w"),
        col("event_id"))
      val feed = Stage.durableChunkFeed("feed-c43", dir)(Seq(
        ev.where(col("event_id") % 2 === 0).select("key", "w"),
        ev.where(col("event_id") % 2 =!= 0).select("key", "w")))
      val tmp = Stage.tempDir("graft-c43-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val schema = StructType(Seq(StructField("key", StringType),
        StructField("w", LongType)))
      Stage.drain(StatefulOps.keySumStream(
          s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(feed).as[StatefulOps.KeyWeight]), ckpt, "update")(
        Stage.appendTo(out))
      InferenceQueries.guardrailPanel(s.read.parquet(out)
        .groupBy("key").agg(max(col("total")).as("x"))
        .select((col("key").cast("long") % 2).as("grp"), col("x")))
    },
      // judged on e163's oracle verbatim — identical semantics, the
      // streaming leg only changes HOW the per-user counts are computed
      InferenceQueries.guardrailsSql),

    // `c44_stream_countmin` — Count–Min's HEADLINE property (mergeability:
    // cell-wise sums across shards) through the real micro-batch engine:
    // each chunk ships its own 256-cell sketch (built from the chunk's
    // tokens), KeySum state merges them, and the merged cells answer the
    // SAME top-20 point queries — judged on e168's oracle verbatim. The
    // feed is sketch-sized (2×256 rows), not corpus-sized: exactly how a
    // sharded pipeline ships sketches to a coordinator.
    Judged("c44_stream_countmin", (s, dir) => {
      import s.implicits._
      def shardCells(parity: Int) =
        graft.operators.Sketches.countMinCells(
            tBalanced(s, dir, "documents")
              .where(col("doc_id") % 2 === parity)
              .select(explode(TextAnalysis.tokens(col("text")))
                .as("tok")),
            col("tok"), lit(1L))
          .select(concat(col("j").cast("string"), lit("|"),
            col("b").cast("string")).as("key"), col("cell").as("w"))
      val feed = Stage.durableChunkFeed("feed-c44", dir)(Seq(
        shardCells(0), shardCells(1)))
      val tmp = Stage.tempDir("graft-c44-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val schema = StructType(Seq(StructField("key", StringType),
        StructField("w", LongType)))
      Stage.drain(StatefulOps.keySumStream(
          s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(feed).as[StatefulOps.KeyWeight]), ckpt, "update")(
        Stage.appendTo(out))
      val merged = s.read.parquet(out)
        .groupBy("key").agg(max(col("total")).as("cell"))
        .select(split(col("key"), "\\|").getItem(0).cast("int").as("j"),
          split(col("key"), "\\|").getItem(1).cast("long").as("b"),
          col("cell"))
      SketchQueries.cmProbeReport(SketchQueries.cmTruth(s, dir), merged)
    },
      SketchQueries.cmOracle),

    // `c46_stream_admission` — e176 through the real micro-batch engine
    // (stream-static admission; see the query comment).
    //
    // e176's streaming twin — the production INGEST-ADMISSION pipeline:
    // new documents arrive as a stream and each micro-batch is admitted
    // against the STATIC corpus index (stream-static, the c14 join
    // class; admission is per-doc so no state store is needed and the
    // two-chunk split is semantically invisible). Judged on e176's
    // batch oracle verbatim; the append image collapses by distinct()
    // over the exact-typed decision columns, so an at-least-once retry
    // can never change the answer (idempotent admission).
    Judged("c46_stream_admission", (s, dir) => {
      val vd = (a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column) =>
        call_function("vec_dot", a, b)
      val all = t(s, dir, "embeddings")
      val delta = all.where(col("vec_id") % 4 === 0)
        .select("vec_id", "embedding")
      val corpus = all.where(col("vec_id") % 4 =!= 0)
      val feed = Stage.durableChunkFeed("feed-c46", dir)(Seq(
        delta.where(col("vec_id") % 8 === 0),
        delta.where(col("vec_id") % 8 =!= 0)))
      val tmp = Stage.tempDir("graft-c46-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val schema = StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
      val cents = Similarity.syntheticCentroids(SimilarityQueries.ivfN, 64)
      Stage.drain(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed), ckpt, "update")(
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          Dedup.semDedupDelta(batch, corpus, "vec_id", "embedding",
              cents, DedupQueries.semThreshold,
              selfDot = v => vd(v, v),
              pairCosine = (a, b, na, nb) =>
                vd(a, b) / (sqrt(na) * sqrt(nb)))
            .write.mode("append").parquet(out)
          ()
        })
      s.read.parquet(out).distinct()
    },
      DedupQueries.semDedupDeltaSql),

    // `c45_stream_cuped` — e170's CUPED panel through the REAL micro-batch
    // engine (the c42/c43 twin discipline, judged on e170's batch oracle
    // verbatim): each event ships BOTH per-user metric legs — `<user>|x`
    // (post-midpoint purchase) and `<user>|c` (pre-midpoint view), w=0 rows
    // included so every observed user reaches the state store in both legs
    // — as monotone KeySum state over a two-chunk feed; the counter image
    // collapses by max(total), pivots back to per-user (x, c), and feeds
    // the SAME [[InferenceQueries.cupedPanel]] closed-form moment algebra.
    // The experiment-window midpoint is batch-derived while BUILDING the
    // staged feed (in production the pre/post boundary is experiment
    // config, not stream-derived).
    Judged("c45_stream_cuped", (s, dir) => {
      import s.implicits._
      val ev = events(s, dir).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tm"),
        col("event_id"))
      val mm = broadcast(ev.agg(min(col("tm")).as("lo"),
        max(col("tm")).as("hi")))
      def leg(metric: String, w: org.apache.spark.sql.Column) =
        ev.crossJoin(mm).select(col("event_id"),
          concat(col("user_id").cast("string"), lit(s"|$metric"))
            .as("key"),
          w.as("w"))
      val keyed = leg("x",
          when(col("event_type") === "purchase" &&
            lit(2L) * col("tm") >= col("lo") + col("hi"), 1L)
            .otherwise(0L))
        .unionByName(leg("c",
          when(col("event_type") === "view" &&
            lit(2L) * col("tm") < col("lo") + col("hi"), 1L)
            .otherwise(0L)))
      val feed = Stage.durableChunkFeed("feed-c45", dir)(Seq(
        keyed.where(col("event_id") % 2 === 0).select("key", "w"),
        keyed.where(col("event_id") % 2 =!= 0).select("key", "w")))
      val tmp = Stage.tempDir("graft-c45-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val schema = StructType(Seq(StructField("key", StringType),
        StructField("w", LongType)))
      Stage.drain(StatefulOps.keySumStream(
          s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(feed).as[StatefulOps.KeyWeight]), ckpt, "update")(
        Stage.appendTo(out))
      val perUser = s.read.parquet(out)
        .groupBy("key").agg(max(col("total")).as("t"))
        .select(split(col("key"), "\\|").getItem(0).cast("long")
          .as("user_id"),
          split(col("key"), "\\|").getItem(1).as("m"), col("t"))
        .groupBy("user_id")
        .agg(max(when(col("m") === "x", col("t"))).as("x"),
          max(when(col("m") === "c", col("t"))).as("c"))
        .select((col("user_id") % 2).as("grp"), col("x"), col("c"))
      InferenceQueries.cupedPanel(perUser)
    },
      InferenceQueries.cupedOracle),

    // `c47_stream_components` — e180 through the real micro-batch engine:
    // streamed delta edges merge into a VERSIONED standing label table per
    // batch (see the query comment for the retry-idempotence-by-algebra
    // argument); confluence of the incremental merge makes the final table
    // chunk-split invariant, so the same e15 oracle judges it.
    //
    // e180's streaming twin — the production CLUSTER-MAINTENANCE
    // pipeline: delta candidate edges arrive as a stream and each
    // micro-batch merges them into the standing label table via
    // [[Dedup.connectedComponentsDelta]] (the c46 ingest-admission
    // discipline applied to cluster membership). The label table is
    // VERSIONED parquet keyed by BATCH ID (v0 = standing labels;
    // batch k reads v{k} and writes v{k+1}): a retried batch re-reads
    // the same input version and overwrites its own output version —
    // never the path it reads — and re-applying edges that labels
    // already absorbed is a NO-OP (the contracted graph of
    // intra-component edges is empty), so an at-least-once retry can
    // never change the table — idempotent by construction AND by
    // algebra, not by distinct(). Incremental CC is confluent (each
    // step yields the
    // exact from-scratch labels of the union-so-far), so the final
    // table is chunk-split invariant and e15's oracle judges it
    // verbatim.
    Judged("c47_stream_components", (s, dir) => {
      val pairs = DedupQueries.candidatePairs(s, dir)
      val basePath = DedupQueries.baseComponentLabels(s, dir)
      val deltaEdges = pairs
        .where(col("id_a") % 10 === 0 || col("id_b") % 10 === 0)
      val feed = Stage.durableChunkFeed("feed-c47", dir)(Seq(
        deltaEdges.where(col("id_a") % 2 === 0),
        deltaEdges.where(col("id_a") % 2 =!= 0)))
      val tmp = Stage.tempDir("graft-c47-").toString
      val ckpt = s"$tmp/ckpt"
      // seed the per-run v0 from the staged label fixture by FILE COPY
      // — the same parquet bytes; r19 re-encoded them through a Spark
      // write (a full read+write job) on every invocation
      locally {
        val v0 = java.nio.file.Paths.get(tmp, "labels-v0")
        java.nio.file.Files.createDirectories(v0)
        new java.io.File(basePath.toString).listFiles()
          .filter(f => f.isFile && !f.getName.startsWith(".")
            && !f.getName.startsWith("_"))
          .foreach(f => java.nio.file.Files.copy(
            f.toPath, v0.resolve(f.getName)))
      }
      @volatile var last = 0L
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("id_b",
          org.apache.spark.sql.types.LongType)))
      Stage.drain(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed), ckpt, "update")(
        _.foreachBatch { (batch: DataFrame, id: Long) =>
          // version paths derive from the BATCH ID, never a mutable
          // pointer: a retried batch k re-reads v{k} and overwrites
          // v{k+1} — the read path is never the write path, so
          // at-least-once redelivery recomputes the identical table
          // (idempotent operationally, on top of the algebraic no-op
          // for edges already absorbed into v{k})
          val next = Dedup.connectedComponentsDelta(
            s.read.parquet(s"$tmp/labels-v$id"), batch, "id_a", "id_b")
          next.write.mode("overwrite").parquet(s"$tmp/labels-v${id + 1}")
          last = math.max(last, id + 1)
          ()
        })
      s.read.parquet(s"$tmp/labels-v$last")
        .select(col("id").as("doc_id"), col("component"))
    },
      // confluence makes the streamed two-chunk merge land on the same
      // table — same oracle (the c46 stream-equals-batch discipline)
      DedupQueries.componentsSql),

    // `c48_stream_index_append` — e178's cell-partitioned ANN layout under
    // streaming ingest: micro-batches of new vectors append into the
    // partitioned index, the probe stays directory-pruned over base and
    // appended files alike, and the post-ingest answer equals the
    // all-at-once batch index (e33's oracle verbatim).
    //
    // Streaming ANN INDEX MAINTENANCE — e178's layout under ingest:
    // the standing corpus (vec_id % 4 ≠ 0) is written cell-partitioned
    // once, then each micro-batch of new vectors is assigned its IVF
    // cell and APPENDED into the same partitioned layout — the daily
    // embedding-ingest pattern at 100 TB, where the index is a
    // partitioned table that accepts appends and never rebuilds. The
    // post-ingest probe is e178's: literal probe cells → static
    // directory pruning over base AND appended files alike (the
    // in-query require re-checks it), and the answer equals the
    // all-at-once batch index (e33's nprobe=2 oracle, verbatim) —
    // ingest changes WHEN vectors arrive, never what a probe returns.
    // An at-least-once append retry would duplicate rows; the probe
    // reads through dropDuplicates(vec_id) (duplicate rows are
    // identical, so the pick is deterministic) — the read-side
    // compaction every segmented ANN index applies.
    Judged("c48_stream_index_append", (s, dir) => {
      val cents = Similarity.syntheticCentroids(SimilarityQueries.ivfN, 64)
      val all = t(s, dir, "embeddings")
      val tmp = Stage.tempDir("graft-c48-").toString
      val layout = s"$tmp/index"; val ckpt = s"$tmp/ckpt"
      VectorIndex.build(all.where(col("vec_id") % 4 =!= 0),
        "embedding", cents, layout)
      val delta = all.where(col("vec_id") % 4 === 0)
        .select("vec_id", "embedding")
      val feed = Stage.durableChunkFeed("feed-c48", dir)(Seq(
        delta.where(col("vec_id") % 8 === 0),
        delta.where(col("vec_id") % 8 =!= 0)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType))))
      Stage.drain(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed), ckpt, "update")(
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          VectorIndex.append(batch, "embedding", cents, layout)
          ()
        })
      val (q, qCells) = SimilarityQueries.probeCells(s, dir, cents, 2)
      val probed = VectorIndex.probe(s, layout, q, qCells, 10,
        "vec_id", "embedding", dedupKey = true,
        extraFilter = col("vec_id") =!= 0)
      val scanned = SimilarityQueries.scannedFiles(probed)
      require(scanned.nonEmpty && scanned.forall(p =>
          qCells.exists(c => p.split("/").contains(s"ivf_cell=$c"))),
        s"post-ingest probe must stay pruned to $qCells, scanned: $scanned")
      probed
    },
      // ingest changes when vectors arrive, never what a probe returns —
      // the post-ingest pruned probe answers e33's batch oracle verbatim
      SimilarityQueries.ivfMulti2Sql),

    // `c49_state_audit` — the checkpoint's STATE STORE read back as a
    // DataFrame (the Spark 4 state data source): after a checkpointed keyed
    // streaming aggregation, `format("statestore")` exposes what the engine
    // is carrying as state, and that state must BE the batch answer — the
    // production state-audit move (inspect a live job's keyed state for
    // drift/skew/bloat without stopping it), judged on the plain batch
    // aggregate oracle.
    //
    // STATE-STORE AUDIT through the state data source — the judged
    // frame is not a sink image but the CHECKPOINT'S STATE itself,
    // read back as a DataFrame with `format("statestore")`. After a
    // checkpointed keyed streaming aggregation drains the two-chunk
    // feed, the state the engine carries per key must BE the batch
    // aggregate (running aggregation state is the monotone
    // accumulation of every row seen — chunk-split invariant), so the
    // plain batch GROUP BY oracle judges the engine's INTERNALS, not
    // just its output. This is the production state-audit move:
    // inspecting a live job's keyed state for drift, skew, or bloat
    // without stopping the job — the state source reads the
    // checkpoint files, never the running query. The buffer columns
    // surface under the engine's internal field names (`value.count`,
    // `value.sum` — probed in a scratch drive, stable in 4.1.2).
    Judged("c49_state_audit", (s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
        floor(col("value") * 1000).cast("long").as("vm"),
        col("event_id"))
      val tmp = Stage.tempDir("graft-c49-").toString
      val ckpt = s"$tmp/ckpt"
      val feed = Stage.durableChunkFeed("feed-c49", dir)(Seq(
        ev.where(col("event_id") % 2 === 0),
        ev.where(col("event_id") % 2 =!= 0)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("vm",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType)))
      Stage.drain(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), sum(col("vm")).as("value_m")),
        ckpt, "update")(_.format("noop"))
      s.read.format("statestore").load(ckpt)
        .select(col("key.event_type").as("event_type"),
          col("value.count").as("cnt"),
          col("value.sum").as("value_m"))
    },
      // the engine's carried state must BE the batch aggregate — the
      // state source exposes internals, the oracle judges them
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
             AS value_m
         FROM events GROUP BY event_type"""),

    // `c50_tws_state_audit` — c49's audit generalized to CUSTOM state: a
    // `transformWithState` processor's named ValueState (c23's `last` =
    // (lastValue, count) per key) read back from the RocksDB checkpoint via
    // `option("stateVarName", ...)` and judged on a batch `arg_max` oracle
    // — user-defined state is as auditable as engine aggregation buffers.
    //
    // c49's audit generalized to CUSTOM state: a transformWithState
    // processor's NAMED ValueState read back from the RocksDB
    // checkpoint with `option("stateVarName", ...)`. The pipeline is
    // c23's ordered-delta fold (ValueState "last" = (lastValue,
    // count) per key, rows applied in seq order); after the drain the
    // carried state per key must be (value at max seq, row count) —
    // the batch arg_max oracle. User-defined state is as auditable as
    // engine aggregation buffers: same reader, one option — which is
    // what makes TWS operators debuggable in production (inspect a
    // live job's custom state without instrumenting the processor).
    // The raw doubles are PASSTHROUGH values (one row's value, never
    // summed), so they hash identically cross-engine.
    Judged("c50_tws_state_audit", (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val tmp = Stage.tempDir("graft-c50-").toString
      val ckpt = s"$tmp/ckpt"
      // the c23 feed verbatim (shared durable stage): key on
      // event_type × user-bucket, seq = event_id
      val feed = Stage.durableChunkFeed("feed-c23", dir)(Seq(
        ev.select(
          concat(col("event_type"), lit("-"),
            (col("user_id") % 64).cast("string")).as("key"),
          col("event_id").as("seq"),
          col("value"))))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("seq",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      // transformWithState: Stage.drain runs it on RocksDB (multiple
      // column families), the store the statestore reader reads back
      Stage.drain(graft.streaming.StatefulOps.orderedDeltaStream(
          s.readStream.schema(schema).parquet(feed)
            .as[graft.streaming.StatefulOps.SeqValue]), ckpt)(
        _.format("noop"))
      s.read.format("statestore").option("stateVarName", "last")
        .load(ckpt)
        .select(col("key.value").as("key"),
          col("value._1").as("last_value"),
          col("value._2").as("n_seen"))
    },
      // the TWS processor's carried (lastValue, count) per key must be
      // the batch arg_max — custom state judged like engine buffers
      """WITH kv AS (SELECT
           event_type || '-' || CAST(user_id % 64 AS VARCHAR) AS key,
           event_id AS seq, value
         FROM events)
         SELECT key, arg_max(value, seq) AS last_value,
           CAST(count(*) AS BIGINT) AS n_seen
         FROM kv GROUP BY key"""),

    // `e182_backfill_overwrite` — the partition-backfill splice every
    // day-partitioned 100 TB table needs (late data / logic fix for a
    // bounded day range): recompute ONLY the affected day partitions and
    // write them with DYNAMIC partition overwrite, which replaces exactly
    // the partitions present in the written frame and leaves every other
    // partition's files untouched — in-query `require`s pin both facts
    // file-listing-wise. Judged against the plain full-corpus aggregate: a
    // correct backfill splice is indistinguishable from recomputing the
    // world.
    //
    // Partition BACKFILL with dynamic partition overwrite — the
    // maintenance move for every day-partitioned table at 100 TB:
    // late-arriving rows (or a logic fix) invalidate a bounded day
    // range, so the pipeline recomputes ONLY those days and splices
    // them in with `partitionOverwriteMode=dynamic` — mode("overwrite")
    // then replaces exactly the partitions present in the written
    // frame, never the rest of the table (static overwrite would drop
    // ALL other days; a full rewrite would cost the whole corpus).
    // Fixture: the on-time v1 aggregate is missing a deterministic
    // "late" slice (event_id % 5 == 0) of the last two days; the
    // backfill recomputes those two days complete. In-query requires
    // pin the mechanism file-listing-wise: untouched days keep their
    // EXACT file sets, backfilled days are replaced. Judged against
    // the plain full-corpus day×type aggregate — a correct splice is
    // indistinguishable from recomputing the world, and the judged
    // frame is the spliced TABLE itself (read back from the layout).
    Judged("e182_backfill_overwrite", (s, dir) => {
      val ev = events(s, dir).select(col("event_id"),
        to_date(col("ts")).cast("string").as("day"), col("event_type"),
        floor(col("value") * 1000).cast("long").as("vm"))
      val tmp = Stage.tempDir("graft-e182-").toString
      val table = s"$tmp/daily"
      // the affected window: last two days, a day-spine-sized driver
      // literal (the probeCells discipline — partition values must be
      // literals for the writer to know what it may replace)
      val days = ev.select("day").distinct().orderBy(col("day").desc)
        .limit(2).collect().map(_.getString(0)).toSeq
      val late = col("day").isin(days: _*) && col("event_id") % 5 === 0
      def dayAgg(df: DataFrame): DataFrame = df
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("cnt"), sum(col("vm")).as("value_m"))
      dayAgg(ev.where(!late))
        .write.mode("overwrite").partitionBy("day").parquet(table)
      def listing(): Map[String, Set[String]] =
        new java.io.File(table).listFiles.toSeq
          .filter(f => f.isDirectory && f.getName.startsWith("day="))
          .map(d => d.getName ->
            d.listFiles.map(_.getName).filter(_.endsWith(".parquet"))
              .toSet)
          .toMap
      val before = listing()
      graft.sinks.Sinks.overwritePartitions(
        dayAgg(ev.where(col("day").isin(days: _*))), table, Seq("day"))
      val after = listing()
      val touched = days.map(d => s"day=$d").toSet
      require((before.keySet -- touched).forall(d =>
          before(d) == after(d)),
        "dynamic overwrite must leave untouched days' files intact")
      require(touched.forall(d => after.contains(d) &&
          before(d) != after(d)),
        s"backfilled days must be replaced, before=$before after=$after")
      s.read.parquet(table)
        .select(col("day").cast("string").as("day"), col("event_type"),
          col("cnt"), col("value_m"))
    },
      // a correct backfill splice is indistinguishable from recomputing
      // the world: the spliced table equals the plain full-corpus
      // aggregate (fixed-point value sums — the q96/q99 vm idiom)
      """WITH ev AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           event_type, CAST(floor(value * 1000) AS BIGINT) AS vm
         FROM events)
         SELECT day, event_type, CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(vm) AS BIGINT) AS value_m
         FROM ev GROUP BY day, event_type"""))
}

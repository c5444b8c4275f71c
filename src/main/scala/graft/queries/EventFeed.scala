package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.Attribution

/** Shared machinery for the streaming-attribution queries (c32/c33):
  * the events table becomes a deterministic file feed —
  * [[dataChunks]] ts-range chunks with pinned ascending mtimes (house
  * discipline from c31) —
  * optionally followed by watermark-bearing SENTINEL files (single
  * `user_id = -1` rows far past the data range). Sentinels model the
  * heartbeat a production pipeline always has (event time never stops
  * at 100 TB): they advance the watermark past the data so
  * EventTimeTimeout state eviction fires deterministically, and the
  * final drain enumerates surviving state — making the state-store
  * SIZE part of the judged output instead of an assertion.
  */
object EventFeed {
  /** Number of DATA chunks (micro-batches) the feed splits the events
    * table into; sentinels add [[build]]'s `sentinelGaps.size` more.
    * The chunk plans it shapes are the feed's stage derivation, so
    * changing it can never serve a stale staged feed. r19's
    * streaming-floor experiment measured 2 vs 3 (see SCALE.md round-19
    * notes).
    */
  private[queries] val dataChunks = 2

  /** Schema of the feed files = [[Attribution.EvW]]: `ts` carries the
    * event-time watermark, `ts_us` the same instant as a long for
    * exact integer arithmetic.
    */
  val schema: StructType = StructType(Seq(
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
  case class Built(feed: String, loUs: Long, hiUs: Long,
    windowUs: Long, out: String, ckpt: String)

  /** Write the chunked feed (+ sentinels) with pinned mtimes.
    *
    * @param perCampaign entity = (user, props.k) when true, else
    *                    (user) with k pinned to 0
    * @param windowOf    attribution window in µs from (loUs, hiUs)
    * @param sentinelGaps for each gap g, one sentinel file at
    *                    ts = hi + g·window (empty = no eviction audit)
    */
  def build(s: SparkSession, dir: String, tmpPrefix: String,
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
    * (one file per trigger, AvailableNow) and return the appended
    * output as a batch frame.
    */
  def runStream[T](s: SparkSession, b: Built,
      transform: org.apache.spark.sql.Dataset[Attribution.EvW] =>
        org.apache.spark.sql.Dataset[T]): DataFrame = {
    import s.implicits._
    val prev = s.conf.get("spark.sql.shuffle.partitions", "32")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val in = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(b.feed)
        .withWatermark("ts", "0 seconds")
        .as[Attribution.EvW]
      transform(in)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[T], _: Long) =>
            batch.toDF().write.mode("append").parquet(b.out); ()
        }
        .option("checkpointLocation", b.ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow)
        .start().awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.read.parquet(b.out)
  }

  /** Feed → [[Attribution.attributeWindowed]] → per-touch-type rollup. */
  def windowedAttributionRollup(s: SparkSession, dir: String,
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
  def multiTouchRollup(s: SparkSession, dir: String,
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
}

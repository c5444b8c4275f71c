package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.cdc.Debezium
import graft.sinks.Sinks
import graft.streaming.Pipeline

/** Judged queries that drive the STREAMING RUNTIME itself (SURVEY.md
  * §2.1 S2, §2.4 C5/C6) — not batch re-statements of its transforms.
  *
  * The reference's second pipeline leg is Debezium topics → Kafka
  * Connect sink with checkpointed delivery (reference:
  * debezium-config.json:4-15, docker-compose.yml:52-58, etl.py:240).
  * No broker exists in this harness, so the CDC feed is a file-backed
  * Structured Streaming source carrying the same JSON envelopes; the
  * micro-batch engine, checkpoint recovery, and idempotent keyed sink
  * are the real production code paths ([[Pipeline.run]] with
  * `Trigger.AvailableNow` instead of the 60 s ProcessingTime trigger —
  * same engine, bounded run).
  */
object RuntimeQueries {
  import Tables._

  /** The (value, topic) schema a Kafka source presents downstream. */
  private val feedSchema = StructType(Seq(
    StructField("value", StringType),
    StructField("topic", StringType)))

  /** Run a STATEFUL streaming leg with the shuffle-partition count sized
    * to the feed's volume: every stateful operator opens one state store
    * per shuffle partition per micro-batch (a stream-stream join opens
    * four), and each store pays checkpoint file I/O per batch. The
    * per-deployment knob is exactly `spark.sql.shuffle.partitions` at
    * stream start — thousands on a real cluster, 8 for these ~10⁵-row
    * judged feeds. Delivery semantics and results are partition-count
    * invariant (that invariance IS what the oracle hash checks); only
    * the fixed per-store overhead changes. The conf is restored after
    * the bounded run so batch queries in the same session are untouched.
    */
  private[queries] def withStatePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions", "32")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

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

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S2+C5+C6+C7 end to end: snapshot envelopes land in the feed, one
    // checkpointed AvailableNow run delivers them through
    // unwrap→route→map to the keyed parquet sink; update envelopes then
    // land and a SECOND run on the SAME checkpoint must process only
    // the new files. The judged frame is the sink's upsert image plus a
    // `delivered_once` audit: the sink log row count equals
    // |snapshot| + |updates| exactly — redelivery (checkpoint loss)
    // or data loss would both break it.
    "c5_runtime" -> ((s, dir) => {
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
      val chunkFiles = new java.io.File(staged).listFiles()
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .sortBy(_.lastModified)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      def land(i: Int): Unit = {
        val src = chunkFiles(i)
        val dst = java.nio.file.Paths.get(inDir, src.getName)
        java.nio.file.Files.copy(src.toPath, dst)
        require(dst.toFile.setLastModified(src.lastModified),
          s"mtime pin failed for $dst — arrival order would race")
      }
      land(0) // leg 1: initial snapshot — Debezium snapshot.mode=initial
      runOnce()
      land(1) // leg 2: updates; the checkpoint restart sees only them
      runOnce()

      // delivered-once audit from parquet FOOTERS (c20 discipline):
      // the sink log row count must equal |snapshot| + |updates| — all
      // three counts are already materialized in the layouts
      val deliveredOnce =
        Tables.parquetRowCountAt(s, s"$outDir/customer") ==
          Tables.parquetRowCountAt(s, chunkFiles(0).getPath) +
          Tables.parquetRowCountAt(s, chunkFiles(1).getPath)
      Sinks.sinkState(s, s"$outDir/customer",
        keys = Seq("c_custkey"), orderCols = Seq("ts_ms"))
        .select(cols.map(col) :+ lit(deliveredOnce).as("delivered_once"): _*)
    }),

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
    "c9_stream_window" -> ((s, dir) => {
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
      withStatePartitions(s, 8) {
        Pipeline.windowedCounts(stream, "ts", "1 hour", "1 hour")
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow).start()
          .awaitTermination()
      }
      s.read.parquet(out)
    }),

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
    "c24_stream_late" -> ((s, dir) => {
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
      withStatePartitions(s, 8) {
        Pipeline.windowedCounts(stream, "ts", "1 hour", "1 hour")
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow).start()
          .awaitTermination()
      }
      s.read.parquet(out)
    }),

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
    "c25_stream_restart" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("ts", "event_id")
      val tmp = Stage.tempDir("graft-c25-").toString
      val feed = s"$tmp/feed"; val out = s"$tmp/out"
      val ckpt = s"$tmp/ckpt"
      val cut1 = lit("2024-01-11 00:30:00").cast("timestamp")
      val cut2 = lit("2024-01-21 00:30:00").cast("timestamp")
      val schema = StructType(Seq(
        StructField("ts", org.apache.spark.sql.types.TimestampType),
        StructField("event_id", org.apache.spark.sql.types.LongType)))
      def runEngine(): Unit = withStatePartitions(s, 8) {
        Pipeline.windowedCounts(
          s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(feed),
          "ts", "1 hour", "1 hour")
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow).start()
          .awaitTermination()
      }
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
      val chunkFiles = new java.io.File(staged).listFiles()
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .sortBy(_.lastModified)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(feed))
      def land(i: Int): Unit = {
        val src = chunkFiles(i)
        val dst = java.nio.file.Paths.get(feed, src.getName)
        java.nio.file.Files.copy(src.toPath, dst)
        // arrival order = staged pinned mtimes, preserved on the copy
        require(dst.toFile.setLastModified(src.lastModified),
          s"mtime pin failed for $dst — arrival order would race")
      }
      land(0)
      runEngine() // run 1: finalizes windows ≤ max(file1) − 1 h, stops
      land(1); land(2)
      runEngine() // run 2: same checkpoint — consumes only new files
      s.read.parquet(out)
    }),

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
    "c10_stream_dedup" -> ((s, dir) => {
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
      withStatePartitions(s, 8) {
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow).start()
          .awaitTermination()
      }
      val sunk = s.read.parquet(out)
      // audit counts from parquet FOOTERS (c20 discipline): the sink
      // and the events table both already materialize their row counts
      val dedupedOnce = Tables.parquetRowCountAt(s, out) ==
        Tables.parquetRowCount(s, dir, "events")
      sunk.select(col("ts"), col("event_id"), col("user_id"),
        lit(dedupedOnce).as("deduped_once"))
    }),

    // Stream-stream INTERVAL join through the RUNTIME
    // ([[Pipeline.intervalJoin]]): clicks join views of the same user
    // within 30 minutes AFTER the view, both sides watermarked 1 h —
    // the only stream-stream join shape whose state stays finite at
    // 100 TB/day (rows older than watermark + interval are evicted).
    // Two file feeds drive the real micro-batch engine under
    // AvailableNow; inner interval joins emit exactly the matched
    // pairs, so the judged frame equals the batch join definition —
    // state eviction changes WHEN rows leave memory, never the result
    "c11_stream_join" -> ((s, dir) => {
      val tmp = Stage.tempDir("graft-c11-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val (vDir, cDir) = viewClickFeeds(s, dir)
      val tsT = org.apache.spark.sql.types.TimestampType
      val longT = org.apache.spark.sql.types.LongType
      val vSchema = StructType(Seq(StructField("v_ts", tsT),
        StructField("v_event_id", longT), StructField("user_id", longT)))
      val cSchema = StructType(Seq(StructField("c_ts", tsT),
        StructField("c_event_id", longT), StructField("user_id", longT)))
      withStatePartitions(s, 8) {
        Pipeline.intervalJoin(
          s.readStream.schema(vSchema).parquet(vDir), "v_ts",
          s.readStream.schema(cSchema).parquet(cDir), "c_ts",
          key = "user_id", watermark = "1 hour", within = "30 minutes")
          .select("user_id", "v_event_id", "v_ts", "c_event_id", "c_ts")
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow).start()
          .awaitTermination()
      }
      s.read.parquet(out)
    }),

    // Stream-STATIC enrichment through the RUNTIME: the event stream
    // joins the customer dimension inside the micro-batch engine. The
    // static side is broadcast per micro-batch — stateless, no
    // watermark, no state store; at 100 TB/day of events the dimension
    // rides along at a few MB per executor while the stream never
    // shuffles. This is the reference's enrich-on-ingest shape (its
    // pandas merge against the Postgres table) on the streaming leg.
    "c14_stream_enrich" -> ((s, dir) => {
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
      s.readStream.schema(schema).parquet(feed)
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select("ts", "event_id", "user_id", "event_type", "c_name",
          "c_mktsegment")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow).start()
        .awaitTermination()
      s.read.parquet(out)
    }),

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
    "c17_stream_ohlc" -> ((s, dir) => {
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
      withStatePartitions(s, 8) {
        graft.streaming.OhlcState
          .ohlcStream(trades, barMs = 3600L * 1000, idleTimeout = None)
          .writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[
               graft.streaming.OhlcState.OhlcBar], _: Long) =>
              batch.write.mode("append").parquet(out); ()
          }
          .option("checkpointLocation", ckpt)
          .outputMode("update").trigger(Trigger.AvailableNow).start()
          .awaitTermination()
      }
      s.read.parquet(out)
        .select(col("symbol"), col("barStartMs"), col("open"), col("high"),
          col("low"), col("close"), col("volume").cast("long").as("volume_k"),
          col("n_trades"))
    }),

    // Multi-sink FANOUT with exactly-once semantics: one stream feeds
    // TWO sinks (raw append + per-type aggregate) from the same
    // foreachBatch, each write keyed by epoch directory so redelivery
    // OVERWRITES instead of duplicating. The run is then REPEATED on a
    // fresh checkpoint — a full redelivery of every batch — and the
    // judged frame audits that (a) the raw sink holds exactly the feed
    // (delivered_once), (b) both sinks agree (sinks_consistent). This
    // is the reference's one-topic-many-sinks Kafka Connect shape with
    // the delivery contract made auditable.
    "c19_fanout" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "event_type")
      val tmp = Stage.tempDir("graft-c19-").toString
      val rawSink = s"$tmp/raw"; val aggSink = s"$tmp/agg"
      val feed = Stage.durableChunkFeed("feed-c19", dir)(Seq(ev))
      val longT = org.apache.spark.sql.types.LongType
      val schema = StructType(Seq(StructField("event_id", longT),
        StructField("event_type", StringType)))
      def run(ckpt: String): Unit =
        s.readStream.schema(schema).parquet(feed)
          .writeStream
          .foreachBatch { (batch: DataFrame, epoch: Long) =>
            batch.write.mode("overwrite").parquet(s"$rawSink/epoch=$epoch")
            batch.groupBy("event_type").agg(count(lit(1)).as("n"))
              .write.mode("overwrite").parquet(s"$aggSink/epoch=$epoch")
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow).start().awaitTermination()
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
    }),

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
    "c26_stream_update_mv" -> ((s, dir) => {
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
      withStatePartitions(s, 8) {
        Pipeline.windowedCounts(
          s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(feed),
          "ts", "1 hour", "1 hour")
          .writeStream.outputMode("update")
          .foreachBatch { (batch: DataFrame, epoch: Long) =>
            Sinks.appendParquet(
              batch.withColumn("epoch", lit(epoch)), out)
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow).start().awaitTermination()
      }
      Sinks.sinkState(s, out, keys = Seq("win_start"),
        orderCols = Seq("epoch")).drop("epoch")
    }),

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
    "c22_stream_outer_join" -> ((s, dir) => {
      val tmp = Stage.tempDir("graft-c22-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val (vDir, cDir) = viewClickFeeds(s, dir)
      val tsT = org.apache.spark.sql.types.TimestampType
      val longT = org.apache.spark.sql.types.LongType
      val vSchema = StructType(Seq(StructField("v_ts", tsT),
        StructField("v_event_id", longT), StructField("user_id", longT)))
      val cSchema = StructType(Seq(StructField("c_ts", tsT),
        StructField("c_event_id", longT), StructField("user_id", longT)))
      withStatePartitions(s, 8) {
        Pipeline.intervalJoin(
          s.readStream.schema(vSchema).parquet(vDir), "v_ts",
          s.readStream.schema(cSchema).parquet(cDir), "c_ts",
          key = "user_id", watermark = "1 hour", within = "30 minutes",
          joinType = "left_outer")
          .select("user_id", "v_event_id", "v_ts", "c_event_id", "c_ts")
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow).start()
          .awaitTermination()
      }
      s.read.parquet(out)
    }),

    // Arbitrary per-key state on Spark 4's transformWithState API
    // through the RUNTIME — the successor of flatMapGroupsWithState
    // (c17) with RocksDB-backed ValueState: state lives off-heap and
    // spills to the store, so key cardinality scales to disk, not JVM
    // heap — the 100 TB-of-keys shape. The processor emits each key's
    // (prev → value) transition with a running update count, applied in
    // event-sequence order so a batch lag()/row_number() oracle can
    // replay the exact transition chain the stateful operator produced.
    "c23_stream_tws" -> ((s, dir) => {
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
      val prevProvider =
        s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try withStatePartitions(s, 8) {
        graft.streaming.StatefulOps.orderedDeltaStream(
          s.readStream.schema(schema).parquet(feed)
            .as[graft.streaming.StatefulOps.SeqValue])
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow).start()
          .awaitTermination()
      } finally prevProvider match {
        case Some(p) =>
          s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      s.read.parquet(out)
        .select("key", "seq", "prev", "has_prev", "value", "n_seen")
    }),

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
    "c21_stream_session" -> ((s, dir) => {
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
      withStatePartitions(s, 8) {
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
          .withWatermark("ts", "1 hour")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"), col("n"))
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow).start()
          .awaitTermination()
      }
      s.read.parquet(out)
    }))

  val oracles: Map[String, String] = Map(
    // the runtime must land exactly the snapshot-then-update upsert image
    "c5_runtime" ->
      """SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END
           AS c_acctbal,
         c_mktsegment, TRUE AS delivered_once FROM customer""",
    // append-mode contract: exactly the windows whose end the final
    // watermark (max event time − 1 h) passed
    "c9_stream_window" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
          wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e),
          b AS (SELECT date_trunc('hour', ts) AS win_start, count(*) AS n
                FROM e GROUP BY 1)
          SELECT win_start, n FROM b, wm
          WHERE win_start + INTERVAL 1 HOUR <= w""",
    // the judged frame must show exactly the engine's accept/drop rule:
    // a replay counts iff its window outlived the batch-1 watermark
    // (the only eviction horizon any replay batch ran behind); windows
    // finalize at the global watermark
    "c24_stream_late" ->
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
          WHERE win_start + INTERVAL 1 HOUR <= wmf.w""",
    // the MV's final image must equal the batch GROUP BY over ALL
    // events — update mode + keyed upsert serves every window,
    // including those append mode still withholds
    "c26_stream_update_mv" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events)
         SELECT date_trunc('hour', ts) AS win_start, count(*) AS n
         FROM e GROUP BY 1""",
    // the two-run union must equal the single-run batch restatement:
    // every window the global watermark passed, counted once — a reset
    // watermark (duplicate windows) or lost state (undercounts) both
    // break the hash
    "c25_stream_restart" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
          wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e),
          b AS (SELECT date_trunc('hour', ts) AS win_start, count(*) AS n
                FROM e GROUP BY 1)
          SELECT win_start, n FROM b, wm
          WHERE win_start + INTERVAL 1 HOUR <= w""",
    // streaming dedup must land exactly the distinct feed (= the
    // original events; the injected duplicates all suppressed)
    "c10_stream_dedup" ->
      """SELECT CAST(ts AS TIMESTAMP) AS ts, event_id, user_id,
         TRUE AS deduped_once FROM events""",
    // the streaming interval join must land exactly the batch join
    // definition: clicks within [view, view + 30 min] per user
    "c11_stream_join" ->
      """WITH v AS (SELECT CAST(ts AS TIMESTAMP) AS v_ts,
             event_id AS v_event_id, user_id
           FROM events WHERE event_type = 'view'),
          c AS (SELECT CAST(ts AS TIMESTAMP) AS c_ts,
             event_id AS c_event_id, user_id
           FROM events WHERE event_type = 'click')
          SELECT v.user_id, v_event_id, v_ts, c_event_id, c_ts
          FROM v JOIN c ON v.user_id = c.user_id
            AND c_ts >= v_ts AND c_ts <= v_ts + INTERVAL 30 MINUTE""",
    // stream-static enrichment must land exactly the batch join image
    "c14_stream_enrich" ->
      """SELECT CAST(ts AS TIMESTAMP) AS ts, event_id, user_id, event_type,
             c_name, c_mktsegment
         FROM events JOIN customer ON user_id = c_custkey""",
    // the stateful fold must land exactly the batch OHLC definition:
    // open/close by (epochMs, price) order, exact whole-double volume
    "c17_stream_ohlc" ->
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
          FROM r GROUP BY symbol, barStartMs""",
    // after a full redelivery, both sinks must still hold exactly one
    // copy of the feed
    "c19_fanout" ->
      """SELECT event_type, count(*) AS n, TRUE AS delivered_once,
             TRUE AS sinks_consistent
         FROM events GROUP BY event_type""",
    // matched pairs = the batch inner join; null-extended views = those
    // with no match whose horizon (v_ts + 30 min) the final global
    // watermark strictly passed
    "c22_stream_outer_join" ->
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
          SELECT * FROM m UNION ALL SELECT * FROM unm""",
    // replay of the ordered per-key ValueState fold: prev = previous
    // value in seq order (0.0 before the first), n_seen = running count
    "c23_stream_tws" ->
      """SELECT event_type || '-' || CAST(user_id % 64 AS VARCHAR) AS key,
             event_id AS seq,
             coalesce(lag(value) OVER w, 0.0) AS prev,
             (row_number() OVER w) > 1 AS has_prev,
             value,
             CAST(row_number() OVER w AS BIGINT) AS n_seen
         FROM events
         WINDOW w AS (
           PARTITION BY event_type || '-' || CAST(user_id % 64 AS VARCHAR)
           ORDER BY event_id)""",
    // append-mode session contract: gaps-and-islands per user (split
    // when the gap to the previous event is ≥ 30 min — Spark merges
    // strictly-within-gap), session end = last event + gap, and only
    // sessions the final watermark (max event time − 1 h) finalized
    "c21_stream_session" ->
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
          FROM sess, wm WHERE session_end <= w""")
}

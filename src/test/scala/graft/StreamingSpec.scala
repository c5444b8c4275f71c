package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.cdc.Debezium
import graft.sinks.Sinks
import graft.streaming.Pipeline

/** Streaming runtime tests (SURVEY.md §2.4 C5–C7, §2.6 E5): MemoryStream
  * CDC feed → unwrap/route → checkpointed idempotent sink; watermarked
  * windows dropping late data.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def envelope(id: Int, symbol: String, price: Double, op: String,
                       tsMs: Long, table: String = "latest_prices"): String =
    s"""{"before":null,"after":{"id":$id,"symbol":"$symbol","price":$price},
        "op":"$op","ts_ms":$tsMs,
        "source":{"table":"$table"}}""".replaceAll("\n\\s*", "")

  test("CDC stream → route → unwrap → idempotent sink, with redelivery (C2,C3,C5,C6)") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-stream").toString
    val input = MemoryStream[String]
    val feed = input.toDF().select(col("value"),
      lit(Debezium.topicFor("latest_prices")).as("topic"))

    val route = Pipeline.referenceRoutes.find(_.table == "latest_prices").get
      .copy(schema = org.apache.spark.sql.types.StructType(
        graft.schemas.Catalog.latestPrices.take(3)),
        mapping = Seq("id" -> "id", "symbol" -> "symbol", "price" -> "price"))

    // snapshot read (op=r), then an update, then a redelivered duplicate.
    // Data is queued BEFORE the query starts: AvailableNow only processes
    // data available at start, so adding afterwards races the no-data
    // batch's immediate termination
    input.addData(
      envelope(1, "BTC", 100.0, "r", 0L),
      envelope(2, "ETH", 50.0, "r", 0L),
      envelope(1, "BTC", 111.0, "u", 1L),
      envelope(1, "BTC", 111.0, "u", 1L), // redelivery
      envelope(2, "ETH", 50.0, "d", 2L))  // delete → dropped

    val Seq(query) = Pipeline.run(feed, Seq(route), s"$base/out",
      s"$base/ckpt", trigger = Trigger.AvailableNow())
    query.processAllAvailable()
    query.stop()

    val state = Sinks.sinkState(spark, s"$base/out/latest_prices",
      Seq("id"), Seq("ts_ms")).orderBy("id")
      .select("id", "symbol", "price").collect()
    assert(state.toSeq === Seq(Row(1, "BTC", 111.0), Row(2, "ETH", 50.0)))
  }

  test("file-sink route: redelivery within a batch and across a restart, last-wins at read (C5,C6)") {
    val base = Files.createTempDirectory("graft-replay").toString
    val (feed, out) = (s"$base/feed", s"$base/out")
    val route = Pipeline.referenceRoutes.find(_.table == "latest_prices").get
      .copy(schema = org.apache.spark.sql.types.StructType(
        graft.schemas.Catalog.latestPrices.take(3)),
        mapping = Seq("id" -> "id", "symbol" -> "symbol", "price" -> "price"))
    def land(envelopes: String*): Unit =
      envelopes.toDF("value")
        .withColumn("topic", lit(Debezium.topicFor("latest_prices")))
        .coalesce(1).write.mode("append").json(feed)
    def runOnce(): Unit =
      Pipeline.run(spark.readStream.schema("value STRING, topic STRING").json(feed),
        Seq(route), out, s"$base/ckpt", trigger = Trigger.AvailableNow())
        .foreach(_.awaitTermination())
    def dataFiles(): Int = new java.io.File(s"$out/latest_prices").listFiles()
      .count(_.getName.endsWith(".parquet"))

    val first = Seq(
      envelope(1, "BTC", 100.0, "r", 0L),
      envelope(2, "ETH", 50.0, "r", 0L),
      envelope(1, "BTC", 111.0, "u", 1L),
      envelope(1, "BTC", 111.0, "u", 1L)) // redelivered within the batch
    land(first: _*)
    runOnce()
    // restart on the same checkpoint: a redelivered copy of the first
    // file lands beside one new update
    land(first: _*)
    land(envelope(2, "ETH", 55.0, "u", 2L))
    runOnce()

    val state = Sinks.sinkState(spark, s"$out/latest_prices", Seq("id"), Seq("ts_ms"))
      .orderBy("id").select("id", "symbol", "price").collect()
    assert(state.toSeq === Seq(Row(1, "BTC", 111.0), Row(2, "ETH", 55.0)))
    // the log keeps every delivered record; last-wins is the read's job
    assert(spark.read.parquet(s"$out/latest_prices").count() === 9)
    val files = dataFiles()
    runOnce() // nothing new: no batch, no file
    assert(dataFiles() === files)
  }

  test("watermarked tumbling window drops late events (E5)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "v")
    val agg = Pipeline.windowedCounts(events, "ts", "30 minutes", "1 hour")
    val query = agg.writeStream.format("memory").queryName("winagg")
      .outputMode("append").start()

    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    input.addData((t(10, 0), 1L), (t(10, 5), 2L))
    query.processAllAvailable()
    // advance watermark far past the 10:00 window → it finalizes
    input.addData((t(12, 0), 3L))
    query.processAllAvailable()
    // late event for 10:00, behind the watermark → dropped
    input.addData((t(10, 10), 4L))
    query.processAllAvailable()
    // close the 12:00 window too
    input.addData((t(15, 0), 5L))
    query.processAllAvailable()
    query.stop()

    val out = spark.table("winagg")
      .as[(Timestamp, Long)].collect().toMap
    assert(out(t(10, 0)) === 2L) // late arrival did not bump it to 3
    assert(out(t(12, 0)) === 1L)
  }

  test("streaming exact dedup drops in-horizon duplicates with bounded state (E1)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "id", "v")
    val deduped = Pipeline.dedupStream(events, "ts", "30 minutes", Seq("id"))
    val q = deduped.writeStream.format("memory").queryName("dedupst")
      .outputMode("append").start()
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    input.addData((t(10, 0), 1L, "first"), (t(10, 1), 1L, "dup"),
      (t(10, 2), 2L, "other"))
    q.processAllAvailable()
    input.addData((t(10, 3), 1L, "dup-again"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedupst").as[(Timestamp, Long, String)].collect()
    assert(out.map(_._2).sorted.toSeq === Seq(1L, 2L))
    assert(out.find(_._2 == 1L).get._3 === "first")
  }

  test("stream-stream interval join pairs in-window events, bounded state (E5)") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long, String)]
    val clicks = MemoryStream[(Timestamp, Long, String)]
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val joined = Pipeline.intervalJoin(
      imps.toDF().toDF("imp_ts", "key", "imp_v"), "imp_ts",
      clicks.toDF().toDF("click_ts", "key", "click_v"), "click_ts",
      key = "key", watermark = "30 minutes", within = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("sjoin")
      .outputMode("append").start()
    imps.addData((t(10, 0), 1L, "i1"), (t(10, 0), 2L, "i2"))
    clicks.addData(
      (t(10, 5), 1L, "c-in"),     // within 10 min → joins
      (t(10, 20), 2L, "c-late"),  // 20 min after the impression → no pair
      (t(9, 55), 1L, "c-before")) // before the impression → no pair
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sjoin")
      .select("key", "imp_v", "click_v")
      .as[(Long, String, String)].collect()
    assert(out.toSeq === Seq((1L, "i1", "c-in")))
  }

  test("transformWithState delta stream tracks per-key prev/count (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StatefulOps
    import StatefulOps.KeyedValue
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[KeyedValue]
      val q = StatefulOps.deltaStream(in.toDS())
        .writeStream.format("memory").queryName("twsdelta")
        .outputMode("append").start()
      in.addData(KeyedValue("BTC", 100.0), KeyedValue("ETH", 10.0))
      q.processAllAvailable()
      in.addData(KeyedValue("BTC", 111.0))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("twsdelta")
        .as[StatefulOps.Delta].collect()
        .sortBy(d => (d.key, d.n_seen)).toSeq
      assert(out === Seq(
        StatefulOps.Delta("BTC", 0.0, false, 100.0, 1L),
        StatefulOps.Delta("BTC", 100.0, true, 111.0, 2L),
        StatefulOps.Delta("ETH", 0.0, false, 10.0, 1L)))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("orderedDeltaStream applies a batch's rows in seq order (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StatefulOps
    import StatefulOps.{SeqDelta, SeqValue}
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[SeqValue]
      val q = StatefulOps.orderedDeltaStream(in.toDS())
        .writeStream.format("memory").queryName("twsordered")
        .outputMode("append").start()
      // one batch, deliberately out of seq order: the fold must follow
      // seq (10, 20, 30), not arrival
      in.addData(SeqValue("BTC", 30L, 103.0), SeqValue("BTC", 10L, 101.0),
        SeqValue("BTC", 20L, 102.0))
      q.processAllAvailable()
      // next batch continues from the highest-seq state
      in.addData(SeqValue("BTC", 40L, 104.0))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("twsordered")
        .as[SeqDelta].collect().sortBy(_.seq).toSeq
      assert(out === Seq(
        SeqDelta("BTC", 10L, 0.0, false, 101.0, 1L),
        SeqDelta("BTC", 20L, 101.0, true, 102.0, 2L),
        SeqDelta("BTC", 30L, 102.0, true, 103.0, 3L),
        SeqDelta("BTC", 40L, 103.0, true, 104.0, 4L)))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("referenceRoutes mirror the five-table sink mapping (C3,C4)") {
    val routes = Pipeline.referenceRoutes
    assert(routes.map(_.table) ===
      Seq("latest_prices", "order_book", "recent_trades", "klines",
        "ticker_24hr"))
    routes.foreach { r =>
      assert(r.keys === Seq("id")) // PK upsert key, cassandra-init.cql:4
      assert(r.mapping.forall { case (a, b) => a == b }) // identity mapping
    }
  }
}

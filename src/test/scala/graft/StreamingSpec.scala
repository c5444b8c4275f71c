package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.cdc.Debezium
import graft.sinks.Sinks
import graft.streaming.{Attribution, Pipeline}
import Recount._

/** Streaming runtime tests (SURVEY.md §2.4 C5–C7, §2.6 E5): MemoryStream
  * CDC feed → unwrap/route → checkpointed idempotent sink; watermarked
  * windows dropping late data. Then the streaming family's judged
  * queries: each streaming twin equals its batch query over the same
  * input, and the state operators behind them are checked on their own.
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

  test("bilinear delta join maintenance equals direct recompute") {
    // old state: orders {1,2}, lines on them; delta: order 7 inserted
    // with its lines, line (2, 30) deleted
    val o = Seq((1L, "A"), (2L, "B"), (7L, "A")).toDF("ok", "st")
    val l = Seq((1L, 10L), (1L, 20L), (2L, 30L), (7L, 40L))
      .toDF("lk", "v")
    val oOld = o.where(col("ok") % 7 =!= 0)
    val oDel = o.where(col("ok") % 7 === 0)
    val lOld = l.where(col("lk") % 7 =!= 0)
    val lIns = l.where(col("lk") % 7 === 0).withColumn("sig", lit(1L))
    val lDel = lOld.where(col("v") === 30L).withColumn("sig", lit(-1L))
    val lDelta = lIns.unionByName(lDel)
    val vOld = oOld.join(lOld, col("ok") === col("lk"))
      .groupBy("st").agg(sum(col("v")).as("sv"), count(lit(1)).as("sig"))
    def term(of: org.apache.spark.sql.DataFrame,
             lf: org.apache.spark.sql.DataFrame) =
      of.join(lf, col("ok") === col("lk"))
        .select(col("st"), (col("sig") * col("v")).as("sv"), col("sig"))
    val inc = vOld.unionByName(
        term(oDel, lOld.withColumn("sig", lit(1L)))
          .unionByName(term(oOld, lDelta))
          .unionByName(term(oDel, lDelta)))
      .groupBy("st").agg(sum("sv").as("total"), sum("sig").as("n"))
      // garbage-collect groups whose multiplicity hit zero — a direct
      // recompute has no row for them (inner join over zero pairs)
      .where(col("n") =!= 0)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // direct: final state = all orders ⋈ lines minus the deleted one
    val direct = o.join(l.where(col("v") =!= 30L),
        col("ok") === col("lk"))
      .groupBy("st").agg(sum("v").as("total"), count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(inc == direct)
    // group B's only pair was retracted: it must VANISH, not report 0
    assert(direct("A") == ((70L, 3L)) && !direct.contains("B"))
  }

  test("band admission fold: earlier ids flag later ones, state carries") {
    import graft.streaming.BandAdmission.{fold, BandRow}
    // batch 1: doc 5 admitted, doc 7 flagged (5 < 7 shares the band)
    val (f1, mn1) = fold("X", Long.MaxValue,
      Seq(BandRow(7, "X"), BandRow(5, "X")))
    assert(f1.map(f => (f.doc_id, f.dup)) == Seq((5L, false), (7L, true)))
    assert(mn1 == 5L)
    // batch 2 against carried state: doc 9 flagged by batch-1's doc 5
    val (f2, mn2) = fold("X", mn1, Seq(BandRow(9, "X")))
    assert(f2.map(f => (f.doc_id, f.dup)) == Seq((9L, true)) && mn2 == 5L)
    // equal ids never flag each other
    val (f3, _) = fold("Y", Long.MaxValue,
      Seq(BandRow(4, "Y"), BandRow(4, "Y")))
    assert(f3.forall(!_.dup))
  }

  test("q109_attribution: buckets partition ALL purchases exactly") {
    val rows = query("q109_attribution").collect()
    val purchases = graft.queries.Tables.events(spark, dir)
      .where(col("event_type") === "purchase").count()
    assert(rows.map(_.getLong(1)).sum == purchases,
      "attributed conversions must sum to the total purchase count")
    val types = rows.map(_.getString(0)).toSet
    assert(!types.contains("purchase"),
      "a purchase can never be its own touch")
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
  }

  // ---- creditShares: the shared multi-touch split rule ----

  test("creditShares: every purchase's shares sum to exactly 1e6 µ") {
    for (n <- Seq(0L, 1L, 2L, 3L, 4L, 6L, 7L, 13L)) {
      val (ft, lt, slt) =
        if (n == 0) (null, null, null)
        else if (n == 1) ("click", "click", null)
        else ("click", "view", "signup")
      // touch sequence: click, [signup × (n-3+1 at position n-1 end)]…
      // counts just need to sum to n with ft/lt/slt types present
      val c: Map[String, Long] =
        if (n == 0) Map.empty
        else if (n == 1) Map("click" -> 1L)
        else if (n == 2) Map("click" -> 1L, "view" -> 1L)
        else Map("click" -> (1L + (n - 3)), "view" -> 1L, "signup" -> 1L)
      val shares = Attribution.creditShares(n, ft, lt, slt, c, 100L)
      assert(shares.map(_.w).sum == 1000000L,
        s"n=$n shares=${shares.toList}")
      assert(shares.forall(_.w > 0))
      assert(shares.forall(s => s.mc == s.w * 100L))
    }
  }

  test("creditShares: U-shape — first/last get 40%, middles split " +
    "20% with remainder to the last middle") {
    // 5 touches: click, view, view, signup, error
    // first=click(40%), last=error(40%), middles: view×2, signup×1
    val shares = Attribution.creditShares(5L, "click", "error", "signup",
      Map("click" -> 1L, "view" -> 2L, "signup" -> 1L, "error" -> 1L),
      cents = 1000L).map(s => s.touch_type -> s.w).toMap
    assert(shares("click") == 400000L)
    assert(shares("error") == 400000L)
    val base = 200000L / 3
    assert(shares("view") == 2 * base)
    assert(shares("signup") == base + (200000L - 3 * base))
    assert(shares.values.sum == 1000000L)
  }

  test("creditShares: 0 touches -> (none); 2 touches -> 50/50") {
    assert(Attribution.creditShares(0L, null, null, null, Map.empty, 7L)
      == Seq(Attribution.MTCredit("(none)", 1000000L, 7000000L)))
    val two = Attribution.creditShares(2L, "click", "view", "click",
      Map("click" -> 1L, "view" -> 1L), 10L)
      .map(s => s.touch_type -> s.w).toMap
    assert(two == Map("click" -> 500000L, "view" -> 500000L))
  }

  // windowed attribution TTL: judged end-to-end by c33; here the
  // audit partition
  test("c33 audit rows partition the touched-entity population") {
    val rows = query("c33_stream_attribution_ttl").collect()
    val byType = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val entities = graft.queries.Tables.events(spark, dir)
      .where(col("event_type") =!= "purchase")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long"))
      .distinct().count()
    assert(byType.getOrElse("(evicted)", 0L) > 0L,
      "idle entities must measurably expire")
    assert(byType.getOrElse("(evicted)", 0L) +
      byType.getOrElse("(live_end)", 0L) == entities,
      "evicted + live_end must equal the touched-entity count")
  }

  test("c36 (transformWithState timers) and c33 (EventTimeTimeout) " +
    "produce the identical attribution rollup") {
    val c33 = query("c33_stream_attribution_ttl")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val c36 = query("c36_stream_attribution_tws")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(c33.toSeq == c36.toSeq,
      s"twin mismatch:\n c33=${c33.mkString(",")}\n c36=${c36.mkString(",")}")
    assert(c33.exists(_._1 == "(evicted)") &&
      c33.exists(_._1 == "(live_end)"))
  }

  test("c37: last-3 shares partition each purchase exactly (1e6 u) " +
    "and the stream's conversions sum to the purchase count") {
    import graft.streaming.Attribution.last3Shares
    val cases = Seq(Seq(), Seq("a"), Seq("a", "b"), Seq("a", "b", "c"),
      Seq("a", "a", "b"), Seq("x", "x", "x"), Seq("a", "b", "c", "d"))
    cases.foreach { r =>
      assert(last3Shares(r, 100).map(_.w).sum == 1000000L,
        s"shares for $r don't sum to 1e6")
    }
    assert(last3Shares(Seq("a", "a", "b"), 1).find(_.touch_type == "a")
      .get.w == 800000L)
    val rows = query("c37_stream_last3")
      .collect()
    val nPurch = graft.queries.Tables.events(spark, dir)
      .where(col("event_type") === "purchase").count()
    assert(math.abs(rows.map(_.getDouble(1)).sum - nPurch) < 1e-6,
      s"conversions ${rows.map(_.getDouble(1)).sum} != purchases $nPurch")
  }

  test("c38 (MapState), c34 (fMGWS walk), and q110 (batch window) " +
    "produce the identical multi-touch rollup") {
    def roll(q: String) = query(q).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val c38 = roll("c38_stream_multitouch_map")
    assert(c38 == roll("c34_stream_multitouch"),
      "MapState vs fMGWS mismatch")
    assert(c38 == roll("q110_multitouch"), "MapState vs batch mismatch")
  }

  test("c39: the streaming SCD2 history equals the batch c12_scd2 " +
    "frame row for row") {
    def canon(name: String): Seq[String] =
      query(name)
        .select(col("c_custkey"), col("c_acctbal"),
          col("effective_from"), col("effective_to"), col("is_current"))
        .collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(canon("c39_stream_scd2") == canon("c12_scd2"))
  }

  test("c40: TWS session twin equals the built-in session_window output") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))
    val tws = query("c40_stream_session_tws")
      .collect().map(key).sorted
    val builtin = query("c21_stream_session")
      .select("user_id", "session_start", "session_end", "n")
      .collect().map(key).sorted
    assert(tws.length == builtin.length)
    assert(tws sameElements builtin)
    // sessions are well-formed: start < end, gap-closed end
    tws.foreach { case (_, st, en, n) =>
      assert(n >= 1 && en - st >= 1800000L, s"session ($st,$en,$n)")
    }
  }

  test("c41: streaming TWS heavy hitters equal the batch operator") {
    val got = query("c41_stream_topk")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    val want = query("e59_heavy_hitters")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("c42: streaming mix image equals the batch e144 frame") {
    val batch = query("e144_temperature_mix")
      .collect().map(_.toSeq)
    val stream = query("c42_stream_mix")
      .collect().map(_.toSeq)
    assert(stream.toSeq == batch.toSeq)
  }

  test("c43 streaming twin equals the e163 batch guardrail panel") {
    val batch = query("e163_ab_guardrails")
      .collect().toSeq
    val stream = query("c43_stream_guardrails")
      .collect().toSeq
    assert(stream == batch)
  }

  test("c44 shard-merged sketch equals the e168 batch sketch") {
    val batch = query("e168_countmin")
      .collect().map(_.toSeq).toSet
    val merged = query("c44_stream_countmin")
      .collect().map(_.toSeq).toSet
    assert(merged == batch)
  }

  test("c45 streaming twin equals the e170 batch CUPED panel") {
    val batch = query("e170_cuped")
      .collect().toSeq
    val stream = query("c45_stream_cuped")
      .collect().toSeq
    assert(stream == batch)
  }

  test("c46 streaming admission equals the e176 batch decision set") {
    val batch = query("e176_semdedup_delta")
      .collect().map(_.toSeq).toSet
    val stream = query("c46_stream_admission")
      .collect().map(_.toSeq).toSet
    assert(stream === batch)
  }

  test("c48: the post-ingest pruned probe over the appended layout " +
    "equals e178's all-at-once batch index — stream equals batch") {
    val stream = query("c48_stream_index_append")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = query("e178_ivf_pruned_probe")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stream == batch, s"stream $stream != batch $batch")
  }

  test("c49: the checkpoint's state store contents equal the batch " +
    "aggregate — the engine's internals, not just its output") {
    val state = query("c49_state_audit")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val batch = graft.queries.Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 1000).cast("long")).as("value_m"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(state == batch, s"state $state != batch $batch")
  }

  test("c50: the TWS ValueState contents equal the batch arg_max — " +
    "custom state judged like engine buffers") {
    val state = query("c50_tws_state_audit")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .toSet
    val batch = graft.queries.Tables.events(spark, dir)
      .select(concat(col("event_type"), lit("-"),
          (col("user_id") % 64).cast("string")).as("key"),
        col("event_id").as("seq"), col("value"))
      .groupBy("key")
      .agg(max_by(col("value"), col("seq")).as("last_value"),
        count(lit(1)).as("n_seen"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .toSet
    assert(state == batch, s"state size ${state.size} != batch recount")
  }

  test("e182: the spliced table equals a first-principles full " +
    "aggregate, and the late slice was genuinely non-empty") {
    val out = query("e182_backfill_overwrite")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val ev = graft.queries.Tables.events(spark, dir)
      .select(col("event_id"),
        to_date(col("ts")).cast("string").as("day"), col("event_type"),
        floor(col("value") * 1000).cast("long").as("vm"))
    val full = ev.groupBy("day", "event_type")
      .agg(count(lit(1)).as("cnt"), sum(col("vm")).as("value_m"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(out == full, "spliced table diverged from the full aggregate")
    // the backfill must have had something to splice: the fixture's
    // late slice (event_id % 5 == 0 on the last two days) is non-empty
    val days = ev.select("day").distinct().orderBy(col("day").desc)
      .limit(2).collect().map(_.getString(0)).toSeq
    val late = ev.where(col("day").isin(days: _*) &&
      col("event_id") % 5 === 0).count()
    assert(late > 0, "late slice empty — the splice was a no-op")
  }

  test("c47: the streamed two-chunk merge lands on exactly e180's " +
    "(= e15's) table — stream equals batch") {
    val stream = query("c47_stream_components")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = query("e180_components_delta")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stream == batch,
      s"stream-only ${stream -- batch}; batch-only ${batch -- stream}")
  }
}

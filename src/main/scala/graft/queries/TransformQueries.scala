package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.transforms.Transforms

/** Record-level transforms and sources: projections, renames, casts,
  * literal columns, zips, normalization and the live poll source (`p*`,
  * `s1_*`).
  */
object TransformQueries extends Family {
  import Tables._

  private val priceSchema = StructType(Seq(
    StructField("symbol", StringType),
    StructField("price", StringType)))

  private val bookSchema = StructType(Seq(
    StructField("bids", ArrayType(ArrayType(StringType))),
    StructField("asks", ArrayType(ArrayType(StringType)))))

  val judged: Seq[Judged] = Seq(
    // P1: column projection straight off the scan (reference: etl.py:117,139)
    Judged("p1_project", (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
      "SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem"),

    // P2: column rename (reference: etl.py:141,168-174)
    Judged("p2_rename", (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey").as("order_id"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").as("total_price")),
      """SELECT o_orderkey AS order_id, o_orderstatus AS status,
         o_totalprice AS total_price FROM orders"""),

    // P3: string→double cast with null-on-garbage, from a JSON field
    // (reference: etl.py:121,142-143)
    Judged("p3_cast", (s, dir) =>
      events(s, dir).select(
        col("event_id"),
        Transforms.tryDouble(get_json_object(col("props"), "$.k")).as("k_d")),
      """SELECT event_id,
         TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_d
         FROM events"""),

    // P4: constant/literal column (reference: etl.py:129,140,153)
    Judged("p4_lit", (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"), lit("BTCUSDT").as("symbol"), col("p_retailprice")),
      "SELECT p_partkey, 'BTCUSDT' AS symbol, p_retailprice FROM part"),

    // P5: deterministic head-N (reference: etl.py:126-127,139 + server-side
    // limit pushdown etl.py:216,222,228)
    Judged("p5_limit", (s, dir) =>
      t(s, dir, "orders").orderBy("o_orderkey").limit(50),
      "SELECT * FROM orders ORDER BY o_orderkey LIMIT 50"),

    // P6: positional zip of two parallel arrays (reference: etl.py:124-135)
    Judged("p6_zip", (s, dir) =>
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          slice(col("embedding"), 1, 5).as("bids"),
          slice(reverse(col("embedding")), 1, 5).as("asks"))
        .select(col("vec_id"), posexplode(arrays_zip(col("bids"), col("asks"))))
        .select(
          col("vec_id"), col("pos").cast(LongType).as("pos"),
          col("col.bids").cast(DoubleType).as("bid"),
          col("col.asks").cast(DoubleType).as("ask")),
      """SELECT vec_id, g.p - 1 AS pos,
         CAST(embedding[g.p] AS DOUBLE) AS bid,
         CAST(list_reverse(embedding)[g.p] AS DOUBLE) AS ask
         FROM embeddings, generate_series(1, 5) AS g(p)"""),

    // P7: positional 12-tuple → named kline columns via Transforms.klines
    // (reference: etl.py:146-158)
    Judged("p7_klines", (s, dir) => {
      val k = t(s, dir, "lineitem").select(array(
        col("l_orderkey").cast(StringType),      // open_time
        col("l_extendedprice").cast(StringType), // open
        col("l_extendedprice").cast(StringType), // high
        col("l_discount").cast(StringType),      // low
        col("l_tax").cast(StringType),           // close
        col("l_quantity").cast(StringType),      // volume
        col("l_linenumber").cast(StringType),    // close_time
        lit("0"), lit("0"), lit("0"), lit("0"), lit("0")).as("k"))
      Transforms.klines(k, "SYN")
    },
      """SELECT 'SYN' AS symbol, l_orderkey AS open_time,
         l_extendedprice AS open_price, l_extendedprice AS high_price,
         l_discount AS low_price, l_tax AS close_price,
         l_quantity AS volume, CAST(l_linenumber AS BIGINT) AS close_time
         FROM lineitem"""),

    // P8: object-vs-array normalization through from_json + explode, then
    // the latest_prices projection/cast (reference: etl.py:116-119)
    Judged("p8_normalize", (s, dir) => {
      val rec = to_json(struct(
        col("event_type").as("symbol"),
        col("value").cast(StringType).as("price")))
      val payload = when(col("event_id") % 2 === 0, rec)
        .otherwise(concat(lit("["), rec, lit("]")))
      events(s, dir)
        .select(col("event_id"),
          explode(from_json(payload, ArrayType(priceSchema))).as("r"))
        .select(col("event_id"), col("r.symbol").as("symbol"),
          Transforms.tryDouble(col("r.price")).as("price"))
    },
      "SELECT event_id, event_type AS symbol, value AS price FROM events"),

    // P9+P10: order-book zip with a missing `bids` key (default-on-missing)
    // null-padded by arrays_zip, then suppressed (reference:
    // etl.py:124-135 `data.get('bids', [])`, skip guards etl.py:110-112)
    Judged("p9_missing", (s, dir) => {
      val level = concat(lit("[[\""), col("value").cast(StringType),
        lit("\",\"1.0\"]]"))
      val payload = when(col("value") > 100,
        concat(lit("{\"bids\":"), level, lit(",\"asks\":"), level, lit("}")))
        .otherwise(lit("{\"asks\":[[\"1.0\",\"1.0\"]]}"))
      val parsed = events(s, dir).select(from_json(payload, bookSchema).as("b"))
        .select(col("b.bids").as("bids"), col("b.asks").as("asks"))
      Transforms.suppressNulls(
        Transforms.orderBook(parsed, "BTCUSDT"), Seq("bid_price"))
    },
      """SELECT 'BTCUSDT' AS symbol, value AS bid_price, 1.0 AS bid_quantity,
         value AS ask_price, 1.0 AS ask_quantity FROM events
         WHERE value > 100"""),

    // P10: try_cast failure → null → row suppression on a mixed column
    Judged("p10_suppress", (s, dir) => {
      val k = get_json_object(col("props"), "$.k")
      val mixed = when(k.cast(LongType) % 2 === 0, k).otherwise(col("event_type"))
      Transforms.suppressNulls(
        events(s, dir).select(col("event_id"),
          Transforms.tryDouble(mixed).as("v")),
        Seq("v"))
    },
      """SELECT event_id,
         CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS DOUBLE) AS v
         FROM events
         WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0"""),

    // S1 LIVE leg, judged: an in-process localhost endpoint (zero
    // egress, real HTTP) stands in for the reference's REST API
    // (etl.py:102-113) and the DSv2 poll source drives four
    // AvailableNow cycles — the 60 s-loop analog (etl.py:240) — with
    // request #1 served a 500. The failed cycle is SKIPPED without
    // advancing the offset (etl.py:110-113 semantics), so exactly
    // three polls land, parse through the same from_json chain as the
    // replay leg, and the output is value-judged against the payloads
    // the server deterministically served.
    Judged("s1_live_poll", (s, dir) => {
      val reqs = new java.util.concurrent.atomic.AtomicInteger(0)
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/ticker",
        (ex: com.sun.net.httpserver.HttpExchange) => {
          val r = reqs.getAndIncrement()
          if (r == 1) { ex.sendResponseHeaders(500, -1); ex.close() }
          else {
            val sym = ex.getRequestURI.getQuery.split("=")(1)
            val body = s"""{"symbol": "$sym", "price": "${100 + r}.5"}"""
              .getBytes("UTF-8")
            ex.sendResponseHeaders(200, body.length.toLong)
            ex.getResponseBody.write(body); ex.close()
          }
        })
      server.start()
      try {
        val base = Stage.tempDir("graft-s1live-").toString
        val url = "http://127.0.0.1:" + server.getAddress.getPort +
          "/ticker"
        val schema = StructType(Seq(StructField("symbol", StringType),
          StructField("price", StringType)))
        for (_ <- 1 to 4)
          Stage.drain(s.readStream.format("graft.sources.PollSourceProvider")
            .option("url", url).option("params", "symbol=BTCUSDT")
            .option("spool", s"$base/spool").load()
            .select(col("poll"),
              from_json(col("value"), schema).as("r"))
            .select(col("poll"), col("r.symbol").as("symbol"),
              col("r.price").cast(DoubleType).as("price")),
            s"$base/ckpt")(Stage.appendTo(s"$base/out"))
        s.read.parquet(s"$base/out")
      } finally server.stop(0)
    },
      // the server's deterministic payload schedule: request r serves
      // price (100+r).5, request 1 is the 500 → polls 0,1,2 carry
      // requests 0,2,3
      """SELECT * FROM (VALUES
           (CAST(0 AS BIGINT), 'BTCUSDT', 100.5),
           (CAST(1 AS BIGINT), 'BTCUSDT', 102.5),
           (CAST(2 AS BIGINT), 'BTCUSDT', 103.5))
         AS t(poll, symbol, price)"""),

    // S1 replay → recent_trades transform: project/rename/cast + head-50
    // over an ordered replay (reference: etl.py:137-144,222)
    Judged("s1_trades", (s, dir) => {
      val parsed = events(s, dir).orderBy("event_id").select(
        col("value").cast(StringType).as("price"),
        get_json_object(col("props"), "$.k").as("qty"),
        col("event_id").as("time"),
        (col("value") > 100).as("isBuyerMaker"))
      Transforms.recentTrades(parsed, "BTCUSDT", 50)
    },
      """SELECT 'BTCUSDT' AS symbol, value AS price,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS quantity,
         event_id AS trade_time, value > 100 AS is_buyer_maker
         FROM events ORDER BY event_id LIMIT 50"""),

    // S1 replay → ticker_24hr transform: camelCase→snake_case + casts
    // (reference: etl.py:160-179)
    Judged("s1_ticker", (s, dir) => {
      val vs = col("value").cast(StringType)
      val parsed = events(s, dir).select(
        col("event_type").as("symbol"),
        vs.as("priceChange"),
        get_json_object(col("props"), "$.k").as("priceChangePercent"),
        vs.as("weightedAvgPrice"),
        vs.as("prevClosePrice"),
        vs.as("lastPrice"),
        get_json_object(col("props"), "$.k").as("volume"))
      Transforms.ticker24hr(parsed)
    },
      """SELECT event_type AS symbol, value AS price_change,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS price_change_percent,
         value AS weighted_avg_price, value AS prev_close_price,
         value AS last_price,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS volume
         FROM events"""))
}

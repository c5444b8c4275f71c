package graft.transforms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's five payload transforms (SURVEY.md §2.3, P1–P10),
  * re-expressed as pure `DataFrame => DataFrame` functions over declarative
  * Spark plans. Each is a narrow, shuffle-free pipeline — project / rename /
  * cast / zip / explode — so at 100 TB they execute as a single
  * whole-stage-codegen map stage with column pruning pushed into the scan.
  *
  * Input shapes are the parsed-JSON micro-batches the reference builds with
  * pandas (reference: etl.py:114-179); here they arrive as DataFrames from
  * `from_json` / `spark.read.json` (see [[graft.sources.FixtureSource]]).
  */
object Transforms {

  /** P3/ANSI-safe string→double: the reference's `astype(float)` raises on
    * garbage; `try_cast` yields null instead so one bad record cannot kill
    * a 100 TB job (pairs with [[suppressNulls]] for P10 semantics).
    */
  def tryDouble(c: Column): Column = c.try_cast(DoubleType)

  /** latest_prices: project symbol/price + cast price to double
    * (reference: etl.py:114-122). P1 + P3.
    */
  def latestPrices(parsed: DataFrame): DataFrame =
    parsed.select(col("symbol"), tryDouble(col("price")).as("price"))

  /** order_book: two parallel arrays of [price, qty] string pairs →
    * positional zip into (bid_price, bid_quantity, ask_price, ask_quantity)
    * rows, first `depth` levels, constant symbol column
    * (reference: etl.py:124-135). P4 + P5 + P6 + P9.
    *
    * Absent bids/asks (P9, `data.get('bids', [])`) coalesce to an empty
    * array → zero output rows, matching the reference. Ragged arrays
    * (bids.length != asks.length) null-pad via `arrays_zip`, which is
    * defined where pandas would raise — see TransformsSpec.
    */
  def orderBook(parsed: DataFrame, symbol: String, depth: Int = 5): DataFrame = {
    val bids = slice(coalesce(col("bids"), array()), 1, depth).as("bids")
    val asks = slice(coalesce(col("asks"), array()), 1, depth).as("asks")
    parsed
      .select(posexplode(arrays_zip(bids, asks)))
      .select(
        lit(symbol).as("symbol"),
        tryDouble(col("col.bids").getItem(0)).as("bid_price"),
        tryDouble(col("col.bids").getItem(1)).as("bid_quantity"),
        tryDouble(col("col.asks").getItem(0)).as("ask_price"),
        tryDouble(col("col.asks").getItem(1)).as("ask_quantity"))
  }

  /** recent_trades: project/rename/cast + constant symbol, first `n` trades
    * (reference: etl.py:137-144). P1 + P2 + P3 + P4 + P5.
    */
  def recentTrades(parsed: DataFrame, symbol: String, n: Int = 50): DataFrame =
    parsed.limit(n).select(
      lit(symbol).as("symbol"),
      tryDouble(col("price")).as("price"),
      tryDouble(col("qty")).as("quantity"),
      col("time").cast(LongType).as("trade_time"),
      col("isBuyerMaker").cast(BooleanType).as("is_buyer_maker"))

  /** klines: positional 12-tuple → named columns, keep 8, cast OHLCV to
    * double and times to long, constant symbol
    * (reference: etl.py:146-158). P1 + P3 + P4 + P7.
    *
    * Expects a column `k` of ArrayType(StringType) (one kline per row).
    */
  def klines(parsed: DataFrame, symbol: String): DataFrame =
    parsed.select(
      lit(symbol).as("symbol"),
      col("k").getItem(0).cast(LongType).as("open_time"),
      tryDouble(col("k").getItem(1)).as("open_price"),
      tryDouble(col("k").getItem(2)).as("high_price"),
      tryDouble(col("k").getItem(3)).as("low_price"),
      tryDouble(col("k").getItem(4)).as("close_price"),
      tryDouble(col("k").getItem(5)).as("volume"),
      col("k").getItem(6).cast(LongType).as("close_time"))

  /** ticker_24hr: camelCase→snake_case rename ×5 + cast ×6
    * (reference: etl.py:160-179). P1 + P2 + P3.
    */
  def ticker24hr(parsed: DataFrame): DataFrame =
    parsed.select(
      col("symbol"),
      tryDouble(col("priceChange")).as("price_change"),
      tryDouble(col("priceChangePercent")).as("price_change_percent"),
      tryDouble(col("weightedAvgPrice")).as("weighted_avg_price"),
      tryDouble(col("prevClosePrice")).as("prev_close_price"),
      tryDouble(col("lastPrice")).as("last_price"),
      tryDouble(col("volume")).as("volume"))

  /** P10: drop rows where a required column failed to parse/cast — the
    * engine-side analog of the reference's skip-on-error guards
    * (reference: etl.py:110-112,211,217,223,229,235).
    */
  def suppressNulls(df: DataFrame, required: Seq[String]): DataFrame =
    required.foldLeft(df)((d, c) => d.where(col(c).isNotNull))
}

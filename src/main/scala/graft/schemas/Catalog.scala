package graft.schemas

import org.apache.spark.sql.types._

/** Declared schema catalog (SURVEY.md §2.2 K3).
  *
  * Mirrors the reference's five-table DDL (reference: init-db.sql:3-49,
  * cassandra-init.cql:3-49). Per SURVEY.md §1.2 the reference's effective
  * in-flight precision is float64 (etl.py:121,142-143,156-157,175-178 cast
  * to Python float before insert), so in-flight numeric columns are
  * DoubleType here; DECIMAL(20,8) is the reference's at-rest type and is
  * exercised by [[decimalAtRest]].
  *
  * At 100 TB these schemas are the contract that lets every scan prune
  * columns at the parquet reader. A table read from parquet gets its
  * schema from the data: `graft.queries.Tables.parquet` infers it once
  * per JVM per file listing and passes it explicitly on every later
  * read.
  */
object Catalog {

  /** SERIAL PRIMARY KEY analog (init-db.sql:4). Spark has no serial; the
    * engine assigns ids via `row_number()` where contiguity matters and
    * `monotonically_increasing_id()` where uniqueness suffices
    * (SURVEY.md §1.2).
    */
  private def id = StructField("id", IntegerType, nullable = false)
  private def ts = StructField("timestamp", TimestampType, nullable = true)

  /** init-db.sql:3-8 */
  val latestPrices: StructType = StructType(Seq(
    id,
    StructField("symbol", StringType),
    StructField("price", DoubleType),
    ts))

  /** init-db.sql:9-17 */
  val orderBook: StructType = StructType(Seq(
    id,
    StructField("symbol", StringType),
    StructField("bid_price", DoubleType),
    StructField("bid_quantity", DoubleType),
    StructField("ask_price", DoubleType),
    StructField("ask_quantity", DoubleType),
    ts))

  /** init-db.sql:18-26 */
  val recentTrades: StructType = StructType(Seq(
    id,
    StructField("symbol", StringType),
    StructField("price", DoubleType),
    StructField("quantity", DoubleType),
    StructField("trade_time", LongType),
    StructField("is_buyer_maker", BooleanType),
    ts))

  /** init-db.sql:27-38 */
  val klines: StructType = StructType(Seq(
    id,
    StructField("symbol", StringType),
    StructField("open_time", LongType),
    StructField("open_price", DoubleType),
    StructField("high_price", DoubleType),
    StructField("low_price", DoubleType),
    StructField("close_price", DoubleType),
    StructField("volume", DoubleType),
    StructField("close_time", LongType),
    ts))

  /** init-db.sql:39-49 */
  val ticker24hr: StructType = StructType(Seq(
    id,
    StructField("symbol", StringType),
    StructField("price_change", DoubleType),
    StructField("price_change_percent", DoubleType),
    StructField("weighted_avg_price", DoubleType),
    StructField("prev_close_price", DoubleType),
    StructField("last_price", DoubleType),
    StructField("volume", DoubleType),
    ts))

  /** The five reference tables, keyed by name (init-db.sql:3-49). */
  val tables: Map[String, StructType] = Map(
    "latest_prices" -> latestPrices,
    "order_book"    -> orderBook,
    "recent_trades" -> recentTrades,
    "klines"        -> klines,
    "ticker_24hr"   -> ticker24hr)

  /** Stable iteration order for deterministic catalog dumps. */
  val tableNames: Seq[String] =
    Seq("latest_prices", "order_book", "recent_trades", "klines", "ticker_24hr")

  /** The reference's at-rest decimal type (init-db.sql:6 etc.). */
  val decimalAtRest: DecimalType = DecimalType(20, 8)

  /** Flat (table, column, data_type, ordinal) rows — the engine's
    * information_schema view of the declared catalog, used by the K3
    * judged query and by tests.
    */
  def ddlRows: Seq[(String, String, String, Int)] =
    tableNames.flatMap { t =>
      tables(t).fields.zipWithIndex.map { case (f, i) =>
        (t, f.name, f.dataType.simpleString, i)
      }
    }
}

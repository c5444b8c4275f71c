package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.cdc.Debezium
import graft.schemas.Catalog

/** The streaming runtime (SURVEY.md §2.4 C5–C7, §2.1 S2/S3): the Spark
  * re-expression of the reference's Kafka-Connect legs — Debezium topics
  * in, unwrap/route/map, keyed idempotent sink out.
  *
  * Delivery semantics (C6): checkpointed micro-batches appended by the
  * file sink + last-wins per table key at read = at-least-once delivery
  * to an idempotent sink, the reference's end-to-end contract
  * (reference: docker-compose.yml:52-54; cassandra-init.cql PK upsert).
  * The reference's 60 s poll cadence (reference: etl.py:240) maps to
  * `Trigger.ProcessingTime(60s)`.
  *
  * Scale notes (100 TB / 1000 executors): every stage is a narrow
  * per-partition projection — parallelism is the Kafka partition count
  * end to end, and the sink writes one file per task per batch with no
  * shuffle. State is bounded: the pipeline keeps no cross-batch state
  * beyond the checkpoint offsets and the sink's commit log.
  */
object Pipeline {

  /** Routing entry: one CDC topic → one sink table. */
  case class TableRoute(
      table: String,
      schema: StructType,
      mapping: Seq[(String, String)],
      keys: Seq[String],
      orderCols: Seq[String])

  /** The reference's five-table routing, mapping = identity
    * (reference: cassandra-sink-config.json:14-18), key = `id`
    * (reference: cassandra-init.cql:4,10,19,28,40), last-wins on the
    * envelope timestamp.
    */
  def referenceRoutes: Seq[TableRoute] =
    Catalog.tableNames.map { t =>
      val schema = Catalog.tables(t)
      TableRoute(t, schema,
        schema.fieldNames.map(f => f -> f).toSeq, Seq("id"), Seq("ts_ms"))
    }

  /** S2/S3: the Debezium topics as a Structured Streaming source. The
    * returned frame has Kafka's (key, value, topic, ...) columns; all
    * downstream stages only need `value` + `topic`. `startingOffsets=
    * earliest` realizes snapshot-then-stream (C7): Debezium writes the
    * initial snapshot to the same topics (reference:
    * debezium-config.json:15).
    */
  /** The exact reader configuration [[kafkaSource]] passes to the
    * `kafka` provider, exposed so its contract is testable without a
    * broker or the connector jar (this harness ships neither — see
    * PipelineKafkaSpec): the subscribe pattern must cover every
    * Debezium topic and nothing else, and `earliest` must be pinned
    * (snapshot-then-stream, C7, depends on it).
    */
  def kafkaSourceOptions(brokers: String,
                         serverName: String = "dbserver1"): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> brokers,
      "subscribePattern" -> s"$serverName\\.public\\..*",
      "startingOffsets" -> "earliest")

  def kafkaSource(spark: SparkSession, brokers: String,
                  serverName: String = "dbserver1"): DataFrame =
    spark.readStream
      .format("kafka")
      .options(kafkaSourceOptions(brokers, serverName))
      .load()
      .select(col("value").cast("string").as("value"), col("topic"))

  /** One table's transform chain: route (C3) → unwrap keeping ts_ms
    * (C2) → mapping select (C4), with the meta columns appended for the
    * sink's last-wins ordering.
    */
  def tableStream(cdc: DataFrame, route: TableRoute,
                  serverName: String = "dbserver1"): DataFrame = {
    val unwrapped = Debezium.unwrapWithMeta(
      Debezium.routeTable(cdc, route.table, serverName), route.schema)
    Debezium.mappingSelect(unwrapped,
      route.mapping ++ route.orderCols.filterNot(route.mapping.map(_._2).contains)
        .map(c => c -> c))
  }

  /** Start one checkpointed streaming query per table (the reference
    * runs one sink task for all five — tasks.max=1,
    * cassandra-sink-config.json:5 — an anti-optimization this engine
    * does not reproduce). Each query appends every delivered record to
    * Spark's parquet file sink at `outDir/<table>`, which commits a
    * batch exactly once through its `_spark_metadata` log; last-wins
    * per key is applied at read by [[graft.sinks.Sinks.sinkState]].
    */
  def run(cdc: DataFrame, routes: Seq[TableRoute], outDir: String,
          checkpointDir: String,
          trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
          serverName: String = "dbserver1"): Seq[StreamingQuery] =
    routes.map { r =>
      tableStream(cdc, r, serverName).writeStream
        .queryName(s"graft-${r.table}")
        .trigger(trigger)
        .option("checkpointLocation", s"$checkpointDir/${r.table}")
        .format("parquet")
        .option("path", s"$outDir/${r.table}")
        .start()
    }

  /** E5 streaming form: watermarked tumbling window over an event-time
    * column — late data beyond the watermark is dropped. The same
    * `window()` expression the batch-judged e5_tumbling query uses.
    */
  def windowedCounts(events: DataFrame, tsCol: String, watermark: String,
                     window_ : String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("n"))

  /** E1 streaming form: exact dedup on a stream with bounded state —
    * duplicates of `keys` arriving within the watermark horizon are
    * dropped, and state for keys older than the watermark is evicted
    * (`dropDuplicatesWithinWatermark`), so 100 TB/day of events never
    * accumulates unbounded dedup state.
    */
  def dedupStream(events: DataFrame, tsCol: String, watermark: String,
                  keys: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream inner interval join: pair each left event with right
    * events on `key` whose timestamp lands in [leftTs, leftTs + within].
    * Both sides are watermarked, which BOUNDS the join state: rows older
    * than watermark + interval are evicted, so two unbounded streams
    * join with finite executor state — the only stream-stream join shape
    * that survives 100 TB/day. Column names must be disjoint apart from
    * `key` (the caller aliases).
    */
  def intervalJoin(left: DataFrame, leftTs: String,
                   right: DataFrame, rightTs: String,
                   key: String, watermark: String,
                   within: String, joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(key) === r(key) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within"),
      joinType)
      .drop(r(key))
  }
}

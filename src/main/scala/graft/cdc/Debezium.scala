package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium-style CDC layer (SURVEY.md §2.4, C1–C4, C7).
  *
  * The reference produces change events with the Debezium PostgresConnector
  * (reference: debezium-config.json:4-15) serialized as schema-less JSON
  * (reference: docker-compose.yml:55-58) and unwraps them at the sink with
  * the `ExtractNewRecordState` SMT (reference:
  * cassandra-sink-config.json:19-20). This engine consumes such streams:
  * Kafka `readStream` rows → [[unwrap]] → [[routeTable]] → per-table
  * mapping select → keyed sink.
  *
  * Everything here is a narrow projection/filter over the stream — no
  * shuffle — so a 1000-executor cluster scales it linearly with Kafka
  * partition count.
  */
object Debezium {

  /** Change-event envelope schema (C1) for a given table's row schema:
    * `{before, after, op, ts_ms, source.table}` — the shape Debezium emits
    * with `schemas.enable=false` (reference: docker-compose.yml:57-58).
    */
  def envelopeSchema(row: StructType): StructType = StructType(Seq(
    StructField("before", row),
    StructField("after", row),
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("source", StructType(Seq(
      StructField("table", StringType))))))

  /** Ops that carry a row image in `after`: create, snapshot read, update.
    * Deletes/tombstones are dropped, matching the SMT's default
    * (reference: cassandra-sink-config.json:19-20).
    */
  val upsertOps: Seq[String] = Seq("c", "r", "u")

  /** C1 (test/fixture side): wrap rows of `df` into envelope JSON strings,
    * with `op` supplied per-row. Used by tests and the batch-testable judged
    * queries to synthesize a CDC stream; inverse of [[unwrap]].
    */
  def wrap(df: DataFrame, op: Column, table: String, tsMs: Column): DataFrame =
    df.select(to_json(struct(
      struct(df.columns.map(col).toIndexedSeq: _*).as("after"),
      op.as("op"),
      tsMs.as("ts_ms"),
      struct(lit(table).as("table")).as("source"))).as("value"))

  /** Dead-letter routing: classify each raw envelope string before the
    * typed parse. A production CDC consumer must never drop OR crash on
    * a bad record — it routes to a quarantine with a reason. Two probe
    * passes, both narrow (no shuffle): `$` validates the JSON itself,
    * `$.after` validates the envelope shape. Rows tagged "clean" are
    * safe for [[unwrap]]; everything else carries its reason to the
    * dead-letter sink.
    */
  def quarantine(raw: DataFrame, valueCol: String = "value"): DataFrame =
    raw.withColumn("reason",
      when(get_json_object(col(valueCol), "$").isNull, "malformed_json")
        .when(get_json_object(col(valueCol), "$.after").isNull,
          "missing_after")
        .otherwise("clean"))

  /** The envelopes of `raw` whose `op` is one of `ops`, as the top-level
    * envelope columns (`before`, `after`, `op`, `ts_ms`, `source`). The
    * op filter runs inside the one generator that emits the parsed
    * envelope, so `from_json` is evaluated once per record: a `where`
    * on the parsed struct is pushed below the projection and parses
    * every envelope a second time.
    */
  private def envelopes(raw: DataFrame, row: StructType, valueCol: String,
                        ops: Seq[String]): DataFrame =
    raw.select(inline(filter(
      array(from_json(col(valueCol).cast(StringType), envelopeSchema(row))),
      e => e("op").isin(ops: _*))))

  /** C2: `ExtractNewRecordState` semantics — parse the envelope, keep
    * create/read/update events, flatten to the `after` row image.
    */
  def unwrap(raw: DataFrame, row: StructType, valueCol: String = "value"): DataFrame =
    envelopes(raw, row, valueCol, upsertOps).select(col("after.*"))

  /** C2 variant keeping envelope metadata (`ts_ms`, `op`) alongside the
    * row image — the input the keyed upsert sink needs to pick a
    * last-wins survivor on redelivery (SURVEY.md §2.4 C6).
    */
  def unwrapWithMeta(raw: DataFrame, row: StructType, valueCol: String = "value"): DataFrame =
    envelopes(raw, row, valueCol, upsertOps)
      .select(col("after.*"), col("ts_ms"), col("op"))

  /** C1 fixture side for deletes: Debezium delete events carry the old
    * row in `before` with `after` null.
    */
  def wrapDelete(df: DataFrame, table: String, tsMs: Column): DataFrame =
    df.select(to_json(struct(
      struct(df.columns.map(col).toIndexedSeq: _*).as("before"),
      lit("d").as("op"),
      tsMs.as("ts_ms"),
      struct(lit(table).as("table")).as("source"))).as("value"))

  /** C2 variant that KEEPS deletes (the reference's SMT drops them; a
    * complete engine must be able to reduce them): the row image comes
    * from `after` for c/r/u and from `before` for d, with metadata for
    * the last-wins + tombstone reduction
    * ([[graft.sinks.Sinks.applyChangeLog]]).
    */
  def unwrapWithDeletes(raw: DataFrame, row: StructType,
                        valueCol: String = "value"): DataFrame =
    envelopes(raw, row, valueCol, upsertOps :+ "d")
      .select(when(col("op") === "d", col("before"))
        .otherwise(col("after")).as("r"),
        col("ts_ms"), col("op"))
      .select(col("r.*"), col("ts_ms"), col("op"))

  /** Topic naming: `<serverName>.public.<table>`
    * (reference: debezium-config.json:10; cassandra-sink-config.json:6).
    */
  def topicFor(table: String, serverName: String = "dbserver1"): String =
    s"$serverName.public.$table"

  /** C3: extract the target table from a topic column — the routing key
    * that selects the per-table mapping (reference:
    * cassandra-sink-config.json:6,14-18).
    */
  def tableFromTopic(topic: Column): Column =
    regexp_extract(topic, "([^.]+)$", 1)

  /** C3: restrict a multiplexed CDC frame (with a `topic` column) to one
    * table's events.
    */
  def routeTable(raw: DataFrame, table: String, serverName: String = "dbserver1"): DataFrame =
    raw.where(col("topic") === topicFor(table, serverName))

  /** C4: per-topic field mapping — the engine-side form of the sink's
    * `mapping.<table>` lists (reference: cassandra-sink-config.json:14-18):
    * a plain aliasing select.
    */
  def mappingSelect(df: DataFrame, mapping: Seq[(String, String)]): DataFrame =
    df.select(mapping.map { case (src, dst) => col(src).as(dst) }.toIndexedSeq: _*)

  /** C7: snapshot-then-stream — `snapshot.mode=initial`
    * (reference: debezium-config.json:15): a one-shot batch image unioned
    * with the continuous change feed. Works for batch/batch (tests) and
    * batch/stream (runtime) pairs alike since both sides are LogicalPlans.
    */
  def snapshotThenStream(snapshot: DataFrame, stream: DataFrame): DataFrame =
    snapshot.unionByName(stream)
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Tables

/** Fixture-drift canary for the driver-generated `events` table.
  *
  * The `events.ts` parquet encoding has changed between driver fixture
  * generations (TIMESTAMP(NANOS)-as-long → TIMESTAMP(MICROS)); every
  * event-time query in the suite reads it through [[Tables.events]],
  * so an unhandled encoding kills ~40 queries at analysis time. This
  * spec pins the normalization contract: whatever the raw parquet type,
  * `Tables.events` must yield microsecond `TimestampType` values that
  * match DuckDB's `CAST(ts AS TIMESTAMP)` in the UTC session zone. If
  * the fixture drifts to a third encoding this fails loudly instead of
  * 40 downstream queries dying.
  */
class EventsFixtureSpec extends SparkSpec {

  test("events.ts fixture encoding is one Tables.events can normalize") {
    val raw = spark.read.parquet(s"${Recount.dir}/events.parquet").schema("ts").dataType
    assert(
      raw == LongType || raw == TimestampType || raw == TimestampNTZType,
      s"events.ts fixture drifted to $raw — extend Tables.events dispatch")
  }

  test("Tables.events normalizes ts to TimestampType with sane values") {
    val df = Tables.events(spark, Recount.dir)
    assert(df.schema("ts").dataType == TimestampType)
    val row = df.agg(
      min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi"),
      count(lit(1)).as("n")).head()
    val (lo, hi, n) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(n > 0)
    // Epoch-micros magnitude check: a unit slip (nanos kept, or micros
    // div'd again by 1000) moves the value three orders of magnitude,
    // far outside the 2000–2100 window.
    val y2000 = 946684800L * 1000000L
    val y2100 = 4102444800L * 1000000L
    assert(lo >= y2000 && hi <= y2100,
      s"ts out of [2000,2100) epoch-micros range: lo=$lo hi=$hi — unit slip?")
  }
}

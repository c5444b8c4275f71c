package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.functions._
import graft.cdc.Debezium
import graft.schemas.Catalog
import org.scalacheck.Gen

/** Envelope round-trip and routing tests (SURVEY.md §2.4, FIXTURES.md
  * §B.3).
  */
class DebeziumSpec extends SparkSpec {
  import spark.implicits._

  private val lpSchema = Catalog.latestPrices

  test("wrap → unwrap round-trips rows; deletes are dropped (C1,C2)") {
    val rows = Seq((1, "BTCUSDT", 67000.12345678), (2, "ETHUSDT", 3100.5),
      (3, "GONE", 1.0), (4, "UPD", 2.0)).toDF("id", "symbol", "price")
    val op = when(col("id") === 3, "d").when(col("id") === 2, "r")
      .when(col("id") === 4, "u").otherwise("c")
    val env = Debezium.wrap(rows, op, "latest_prices", lit(5L))
    val schema = org.apache.spark.sql.types.StructType(lpSchema.take(3))
    val out = Debezium.unwrap(env, schema).orderBy("id").collect()
    assert(out.toSeq === Seq(Row(1, "BTCUSDT", 67000.12345678),
      Row(2, "ETHUSDT", 3100.5), Row(4, "UPD", 2.0)))
  }

  test("unwrapWithMeta keeps ts_ms and op for sink ordering (C2,C6)") {
    val rows = Seq((1, "A", 1.0)).toDF("id", "symbol", "price")
    val env = Debezium.wrap(rows, lit("c"), "latest_prices", lit(42L))
    val schema = org.apache.spark.sql.types.StructType(lpSchema.take(3))
    val out = Debezium.unwrapWithMeta(env, schema).collect()
    assert(out.toSeq === Seq(Row(1, "A", 1.0, 42L, "c")))
  }

  test("every unwrap form and Pipeline.tableStream parse each envelope once (C2)") {
    def parses(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case n =>
        n.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum
      }.sum
    val schema = org.apache.spark.sql.types.StructType(lpSchema.take(3))
    // a file source: over a local relation the optimizer would evaluate
    // the whole plan itself and no parse would be left to count
    val feed = java.nio.file.Files.createTempDirectory("graft-parse").toString + "/env"
    Debezium.wrap(Seq((1, "A", 1.0)).toDF("id", "symbol", "price"),
      lit("c"), "latest_prices", lit(1L))
      .withColumn("topic", lit(Debezium.topicFor("latest_prices")))
      .write.json(feed)
    val env = spark.read.schema("value STRING, topic STRING").json(feed)
    val route = graft.streaming.Pipeline.TableRoute("latest_prices", schema,
      schema.fieldNames.map(f => f -> f).toSeq, Seq("id"), Seq("ts_ms"))
    Seq("unwrap" -> Debezium.unwrap(env, schema),
      "unwrapWithMeta" -> Debezium.unwrapWithMeta(env, schema),
      "unwrapWithDeletes" -> Debezium.unwrapWithDeletes(env, schema),
      "tableStream" -> graft.streaming.Pipeline.tableStream(env, route))
      .foreach { case (name, df) =>
        assert(parses(df) === 1, s"$name:\n${df.queryExecution.optimizedPlan}")
      }
  }

  test("topic naming and table extraction are inverse (C3)") {
    assert(Debezium.topicFor("klines") === "dbserver1.public.klines")
    val topics = Seq("dbserver1.public.klines", "dbserver1.public.order_book")
      .toDF("topic")
    val tables = topics.select(Debezium.tableFromTopic(col("topic")))
      .as[String].collect()
    assert(tables.toSeq === Seq("klines", "order_book"))
  }

  test("routeTable keeps only the addressed table's events (C3)") {
    val feed = Seq(("a", Debezium.topicFor("klines")),
      ("b", Debezium.topicFor("order_book"))).toDF("value", "topic")
    assert(Debezium.routeTable(feed, "klines").select("value")
      .as[String].collect().toSeq === Seq("a"))
  }

  test("mappingSelect applies per-topic field mapping (C4)") {
    val df = Seq((1, "x")).toDF("n_nationkey", "n_name")
    val out = Debezium.mappingSelect(df,
      Seq("n_nationkey" -> "id", "n_name" -> "name"))
    assert(out.columns.toSeq === Seq("id", "name"))
  }

  test("snapshotThenStream = batch image ∪ change feed (C7)") {
    val snap = Seq((1, "a")).toDF("id", "v")
    val stream = Seq((2, "b")).toDF("id", "v")
    assert(Debezium.snapshotThenStream(snap, stream).count() === 2)
  }

  test("property: wrap∘unwrap = id for arbitrary rows incl. JSON-hostile strings (C1,C2)") {
    val strGen = Gen.listOfN(8, Gen.oneOf(Gen.alphaNumChar,
      Gen.oneOf('"', '\\', ' ', 'ü', '€', '\n'))).map(_.mkString)
    val rowsGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(1, 1000), strGen, Gen.choose(-1e6, 1e6)))
    val schema = org.apache.spark.sql.types.StructType(lpSchema.take(3))
    val seed0 = org.scalacheck.rng.Seed(42L)
    (0 until 10).foldLeft(seed0) { (seed, _) =>
      val rows = rowsGen.pureApply(Gen.Parameters.default, seed)
        .distinctBy(_._1)
      val df = rows.toDF("id", "symbol", "price")
      val env = Debezium.wrap(df, lit("c"), "latest_prices", lit(1L))
      val back = Debezium.unwrap(env, schema)
        .as[(Int, String, Double)].collect().toSet
      assert(back === rows.toSet, s"round-trip failed for $rows")
      seed.next
    }
  }

  test("quarantine routes malformed / missing-after / clean rows") {
    val raw = Seq(
      (1, "{\"after\":{\"a\":1},\"op\":\"c\""), // truncated JSON
      (2, "{\"op\":\"c\",\"ts_ms\":0}"),        // valid, no after image
      (3, "{\"after\":{\"a\":1},\"op\":\"c\",\"ts_ms\":0}"))
      .toDF("id", "value")
    val got = Debezium.quarantine(raw)
      .select("id", "reason").as[(Int, String)].collect().toMap
    assert(got === Map(1 -> "malformed_json", 2 -> "missing_after",
      3 -> "clean"))
  }
}

package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import graft.sinks.Sinks

/** Keyed upsert + append-sink semantics (SURVEY.md §2.2 K1/K2, §2.4 C6). */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private val data = Seq((1, 10L, "old"), (1, 20L, "new"), (2, 5L, "only"))

  test("upsertLastWins keeps the greatest-ordered row per key (K2)") {
    val out = Sinks.upsertLastWins(data.toDF("id", "ts", "v"),
      Seq("id"), Seq("ts")).orderBy("id").collect()
    assert(out.toSeq === Seq(Row(1, 20L, "new"), Row(2, 5L, "only")))
  }

  test("upsertLastWins is idempotent (K2)") {
    val once = Sinks.upsertLastWins(data.toDF("id", "ts", "v"),
      Seq("id"), Seq("ts"))
    val twice = Sinks.upsertLastWins(once, Seq("id"), Seq("ts"))
    assert(once.orderBy("id").collect().toSeq ===
      twice.orderBy("id").collect().toSeq)
  }

  test("append log + sinkState view = upsert under redelivery (K1,K2,C6)") {
    val dir = Files.createTempDirectory("graft-sink").toString + "/t"
    val batch = data.toDF("id", "ts", "v")
    // the same batch delivered twice (at-least-once redelivery)
    Sinks.appendParquet(batch, dir)
    Sinks.appendParquet(batch, dir)
    val state = Sinks.sinkState(spark, dir, Seq("id"), Seq("ts"))
      .orderBy("id").collect()
    assert(state.toSeq === Seq(Row(1, 20L, "new"), Row(2, 5L, "only")))
  }

  test("scd2History versions, closes on delete, reopens on resurrect") {
    val log = Seq(
      (1, Some(100.0), "r", 0L), (1, Some(110.0), "u", 2L),
      (2, Some(50.0), "r", 0L), (2, None: Option[Double], "d", 1L),
      (2, Some(60.0), "u", 3L))
      .toDF("id", "bal", "op", "ts")
    val hist = Sinks.scd2History(log, Seq("id"), "ts")
      .orderBy("id", "effective_from")
      .select("id", "effective_from", "effective_to", "is_current")
      .collect()
    assert(hist.toSeq === Seq(
      Row(1, 0L, 2L, false), Row(1, 2L, null, true),
      Row(2, 0L, 1L, false),          // closed by the delete, no row for it
      Row(2, 3L, null, true)))        // resurrect opens a fresh version
  }
}

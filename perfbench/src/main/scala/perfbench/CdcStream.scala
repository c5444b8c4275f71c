package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.cdc.Debezium
import graft.sinks.Sinks
import graft.streaming.Pipeline
import graft.streaming.Pipeline.TableRoute

/** The reference's own job, open loop.
  *
  * Run directory layout (shared with run.py, which lands the files):
  * {{{
  *   cdc_src/      change files: JSON lines {"topic": ..., "value": <envelope>}
  *   events_src/   event files: JSON lines of the events table
  *   sink/<t>, ckpt/<t>          Pipeline.run output and checkpoints
  *   dedup_sink, dedup_ckpt      Pipeline.dedupStream output and checkpoint
  *   tail_ready, tail_done       handshake files
  *   results/<t>                 Sinks.sinkState for the output check
  * }}}
  * Phase 1 drains the Debezium initial snapshot already in `cdc_src`
  * with Trigger.AvailableNow. Phase 2 restarts the same routes on the
  * same checkpoints with a 2 s processing-time trigger, starts the dedup leg,
  * writes `tail_ready`, and keeps running until run.py's generator has
  * landed every tail file (`tail_done`) and the engine has taken them all.
  */
object CdcStream {
  import Main._

  val server = "dbserver1"
  val envelopeFile: StructType = StructType(Seq(
    StructField("topic", StringType), StructField("value", StringType)))

  def routes(spark: SparkSession, data: String): Seq[TableRoute] =
    Seq("customer" -> "c_custkey", "orders" -> "o_orderkey").map { case (t, key) =>
      val schema = spark.read.parquet(s"$data/$t.parquet").schema
      TableRoute(t, schema, schema.fieldNames.map(f => f -> f).toSeq, Seq(key), Seq("ts_ms"))
    }

  private def awaitFile(path: String, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!Files.exists(Paths.get(path)) && System.nanoTime() < deadline) Thread.sleep(5)
    Files.exists(Paths.get(path))
  }

  /** Untimed warmup of every engine path the run uses: a two-row change
    * file through both routes and two events through the dedup leg, the
    * three queries at once, each on its own scratch checkpoint.
    */
  private def warmup(spark: SparkSession, w: String, data: String, rs: Seq[TableRoute],
                     events: StructType): Unit = {
    val src = s"$w/warm/cdc"
    val customers = spark.read.parquet(s"$data/customer.parquet").limit(2)
    val orders = spark.read.parquet(s"$data/orders.parquet").limit(2)
    Debezium.wrap(customers, lit("r"), "customer", lit(1L))
      .select(lit(Debezium.topicFor("customer", server)).as("topic"), col("value"))
      .unionByName(Debezium.wrap(orders, lit("r"), "orders", lit(1L))
        .select(lit(Debezium.topicFor("orders", server)).as("topic"), col("value")))
      .coalesce(1).write.json(src)
    graft.queries.Tables.events(spark, data).limit(2).coalesce(1).write.json(s"$w/warm/ev")
    val qs = Pipeline.run(spark.readStream.schema(envelopeFile).json(src), rs, s"$w/warm/sink",
      s"$w/warm/ckpt", Trigger.AvailableNow(), server) :+
      dedupQuery(spark, s"$w/warm/ev", events, s"$w/warm/dsink", s"$w/warm/dckpt",
        Trigger.AvailableNow())
    qs.foreach(_.awaitTermination())
  }

  def dedupQuery(spark: SparkSession, src: String, events: StructType, sink: String,
                 ckpt: String, trigger: Trigger): StreamingQuery =
    Pipeline.dedupStream(spark.readStream.schema(events).json(src), "ts", "30 seconds",
      Seq("event_id"))
      .writeStream.queryName("graft-dedup").format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(trigger).start()

  def run(spark: SparkSession, a: Args, rec: Recorder): Map[String, Any] = {
    val w = a("work")
    val data = a("data")
    val failures = mutable.ArrayBuffer[Failure]()
    val rs = routes(spark, data)
    // event time must be TIMESTAMP for the watermark: take the schema
    // the engine's own events reader normalizes to
    val events = graft.queries.Tables.events(spark, data).schema
    rec.span("jvm", "warmup")(warmup(spark, w, data, rs, events))
    val setupMs = sinceLaunch(a)
    rec.begin()

    // Phase 1: Debezium initial snapshot, drained with AvailableNow.
    def cdc: DataFrame = rec.span("sources", "readStream")(
      spark.readStream.schema(envelopeFile).json(s"$w/cdc_src"))
    val snapT0 = System.nanoTime()
    val snap = rec.span("streaming", "snapshot drain") {
      val qs = Pipeline.run(cdc, rs, s"$w/sink", s"$w/ckpt", Trigger.AvailableNow(), server)
      qs.foreach(_.awaitTermination())
      qs
    }
    val snapshotS = (System.nanoTime() - snapT0) / 1e9
    snap.flatMap(q => q.exception.map(e => Failure(s"snapshot ${q.name}", e))).foreach(failures += _)

    // Phase 2: live tail on the same checkpoints plus the dedup leg, on a
    // 2 s trigger. Back-to-back batches (a 0 s trigger) kept three queries
    // contending for 4 cores and freshness swung by a third between runs;
    // at 1 s a batch (about 1.3 s) still overran the interval.
    val every = Trigger.ProcessingTime("2 seconds")
    val tail = rec.span("streaming", "tail start") {
      Pipeline.run(cdc, rs, s"$w/sink", s"$w/ckpt", every, server) :+
        dedupQuery(spark, s"$w/events_src", events, s"$w/dedup_sink", s"$w/dedup_ckpt", every)
    }
    val tailStartMs = System.currentTimeMillis()
    Files.writeString(Paths.get(s"$w/tail_ready"), tailStartMs.toString)
    val landed = awaitFile(s"$w/tail_done", a.seconds * 4 + 60)
    if (!landed) failures += Failure("tail", new IllegalStateException("generator never finished"))
    // drain the three queries at once: one after another, each waits for
    // its own next trigger to find no new data
    rec.span("streaming", "tail drain")(tail.map { q =>
      Future(try { q.processAllAvailable(); None }
             catch { case e: Throwable => Some(Failure(s"tail ${q.name}", e)) })
    }.foreach(f => Await.result(f, Duration.Inf).foreach(failures += _)))
    tail.foreach(_.stop())
    val counters = if (a.tracing) rec.delta() else Map.empty[String, Double]

    // Untimed: keyed sink state for the DuckDB compare.
    rs.foreach { r =>
      try rec.span("sinks", s"sinkState ${r.table}")(
        Sinks.sinkState(spark, s"$w/sink/${r.table}", r.keys, r.orderCols)
          .coalesce(1).write.mode("overwrite").parquet(s"$w/results/${r.table}"))
      catch { case e: Throwable => failures += Failure(s"sinkState ${r.table}", e) }
    }
    // Traced only: the CDC unwrap on its own, as a batch over every
    // change file, for the cdc layer's rows/s.
    val unwrap = if (!a.tracing) Map.empty[String, Any] else {
      val raw = spark.read.schema(envelopeFile).json(s"$w/cdc_src").cache()
      val n = raw.count()
      val t0 = System.nanoTime()
      rec.span("cdc", "unwrap batch")(rs.foreach(r =>
        noop(Pipeline.tableStream(raw, r, server))))
      val s = (System.nanoTime() - t0) / 1e9
      raw.unpersist()
      Map("rows" -> n * rs.size, "seconds" -> s)
    }
    Map("setup_ms" -> setupMs, "snapshot_s" -> snapshotS, "tail_start_ms" -> tailStartMs,
      "failures" -> failures.map(_.json).toSeq, "counters" -> counters, "unwrap" -> unwrap)
  }
}

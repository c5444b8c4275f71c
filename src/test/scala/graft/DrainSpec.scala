package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.queries.Stage
import graft.streaming.{Pipeline, StatefulOps}

/** [[Stage.drain]], the one bounded run of every judged stream: the
  * policy (8 state partitions, RocksDB exactly for transformWithState)
  * as seen from inside a foreachBatch, and the conf restore, also
  * after a failed run; and [[Stage.drained]], whose output mode picks
  * the sink.
  */
class DrainSpec extends SparkSpec {
  import spark.implicits._

  private val Partitions = "spark.sql.shuffle.partitions"
  private val Provider = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val Hdfs =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** The explicitly set values of both confs (None = unset). */
  private def confs(): Seq[Option[String]] = {
    val set = spark.conf.getAll
    Seq(set.get(Partitions), set.get(Provider))
  }

  /** A one-file parquet feed of `df` and a fresh checkpoint dir. */
  private def feed(df: DataFrame): (String, String) = {
    val base = Files.createTempDirectory("graft-drain").toString
    df.coalesce(1).write.parquet(s"$base/feed")
    (s"$base/feed", s"$base/ckpt")
  }

  /** Drain `stream`, returning the (partitions, provider) each batch saw.
    * Each batch is consumed whole: a stateful batch whose partitions are
    * not all computed fails Spark's state-store commit validation.
    */
  private def seen[T](stream: Dataset[T], ckpt: String, mode: String)
      : Seq[(String, String)] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    Stage.drain(stream, ckpt, mode)(_.foreachBatch { (b: Dataset[T], _: Long) =>
      val c = b.sparkSession.conf
      got.add((c.get(Partitions), c.get(Provider)))
      b.toDF().write.format("noop").mode("overwrite").save()
    })
    got.asScala.toSeq
  }

  test("drain: a transformWithState stream runs on RocksDB with 8 partitions, confs restored") {
    spark.conf.unset(Provider)
    val before = confs()
    assert(before(1).isEmpty, "the session must start with no provider set")
    val (dir, ckpt) = feed(Seq("a", "b", "a").toDF("key"))
    val stream = StatefulOps.keyCountStream(
      spark.readStream.schema("key STRING").parquet(dir).as[String])
    val got = seen(stream, ckpt, "update")
    assert(got.nonEmpty)
    assert(got.forall(_ == ("8" -> RocksDb)), got)
    assert(confs() === before)
  }

  test("drain: a stateful stream without transformWithState keeps the default provider") {
    spark.conf.unset(Provider)
    val before = confs()
    val (dir, ckpt) = feed(Seq(
      Timestamp.valueOf("2024-01-01 00:10:00"),
      Timestamp.valueOf("2024-01-01 01:10:00")).toDF("ts"))
    val stream = Pipeline.windowedCounts(
      spark.readStream.schema("ts TIMESTAMP").parquet(dir),
      "ts", "1 hour", "1 hour")
    val got = seen(stream, ckpt, "append")
    assert(got.nonEmpty)
    assert(got.forall(_ == ("8" -> Hdfs)), got)
    assert(confs() === before)
  }

  test("drain: a failing foreachBatch propagates and still restores both confs") {
    spark.conf.set(Provider, Hdfs)
    try {
      val before = confs()
      val (dir, ckpt) = feed(Seq("a").toDF("key"))
      val stream = StatefulOps.keyCountStream(
        spark.readStream.schema("key STRING").parquet(dir).as[String])
      val e = intercept[Exception] {
        Stage.drain(stream, ckpt, "update")(_.foreachBatch {
          (_: Dataset[StatefulOps.KeyCount], _: Long) =>
            throw new IllegalStateException("sink down")
        })
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => Option(c.getMessage).exists(_.contains("sink down"))), e)
      assert(confs() === before)
    } finally spark.conf.unset(Provider)
  }

  /** A feed of key batches, one file each, arriving in order (one
    * micro-batch per file).
    */
  private def keyFeed(batches: Seq[String]*): Stage.Feed = {
    val base = Files.createTempDirectory("graft-drained")
    val dir = Files.createDirectories(base.resolve("feed"))
    batches.zipWithIndex.foreach { case (keys, i) =>
      val part = base.resolve(s"b$i")
      keys.toDF("key").coalesce(1).write.parquet(part.toString)
      Files.list(part).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).foreach { f =>
          val to = Files.move(f, dir.resolve(s"b$i.parquet"))
          assert(to.toFile.setLastModified(Stage.pin(i)))
        }
    }
    Stage.Feed(dir.toString, StructType(Seq(StructField("key", StringType))))
  }

  private def counts(df: DataFrame): Seq[(String, Long)] =
    df.as[(String, Long)].collect().toSeq.sorted

  test("drained: an append-mode stream lands through the file sink, every row once") {
    val before = confs()
    val run = Stage.drained(keyFeed(Seq("a", "b"), Seq("c", "a")).stream(spark))
    assert(Files.isDirectory(Paths.get(run.out, "_spark_metadata")))
    assert(run.frame.as[String].collect().toSeq.sorted === Seq("a", "a", "b", "c"))
    assert(run.batches === 2)
    assert(confs() === before)
  }

  test("drained: an update-mode keyed count lands every batch's updates") {
    val before = confs()
    val run = Stage.drained(keyFeed(Seq("a", "b", "a"), Seq("a", "c")).stream(spark)
      .groupBy("key").count(), "update")
    assert(!Files.exists(Paths.get(run.out, "_spark_metadata")))
    assert(counts(run.frame) === Seq(("a", 2L), ("a", 3L), ("b", 1L), ("c", 1L)))
    assert(confs() === before)
  }

  test("drained: a complete-mode aggregate leaves only the last batch's full image") {
    val before = confs()
    val run = Stage.drained(keyFeed(Seq("a", "b", "a"), Seq("a", "c")).stream(spark)
      .groupBy("key").count(), "complete")
    assert(run.batches === 2)
    assert(counts(run.frame) === Seq(("a", 3L), ("b", 1L), ("c", 1L)))
    assert(confs() === before)
  }
}

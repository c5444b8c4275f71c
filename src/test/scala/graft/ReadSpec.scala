package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.queries.{Stage, Tables}

/** The parquet read helper: a path's schema is inferred once per JVM,
  * so building a plan over known inputs starts no Spark job, and the
  * memo never serves a schema for another listing or reader conf.
  */
class ReadSpec extends SparkSpec {
  import spark.implicits._

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Spark jobs started by `body` (tagged with a local property). */
  private def jobsDuring(body: => Unit): Int = {
    val tagKey = "graft.spec.read"
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tagKey)))
          .foreach(tags.add)
    }
    val sc = spark.sparkContext
    def tagged(tag: String)(b: => Unit): Unit = {
      sc.setLocalProperty(tagKey, tag)
      try b finally sc.setLocalProperty(tagKey, null)
    }
    sc.addSparkListener(listener)
    try {
      tagged("body")(body)
      // listener events arrive in order: once the sentinel job's start
      // is seen, every job start before it has been delivered
      tagged("sentinel")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!tags.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(tags.contains("sentinel"))
      tags.toArray.count(_ == "body")
    } finally sc.removeSparkListener(listener)
  }

  private def memoKeys(path: String) =
    Tables.inferredSchemas.keySet.asScala.filter(_._1 == path).toSet

  test("with the memo warm, building q1_agg, q3_join and q84_tpch15 starts " +
    "no Spark job") {
    val build = () =>
      Seq("q1_agg", "q3_join", "q84_tpch15").foreach(Recount.query(_))
    build()
    val jobs = jobsDuring(build())
    assert(jobs == 0, s"$jobs jobs while building warm plans")
  }

  test("a parquet path rewritten with a different schema is read back " +
    "with the new schema") {
    val p = s"${Stage.tempDir("graft-read-spec-")}/t.parquet"
    Seq(1L, 2L).toDF("id").write.parquet(p)
    assert(Tables.parquet(spark, p).columns.toSeq == Seq("id"))
    assert(jobsDuring(Tables.parquet(spark, p)) == 0, "second read infers again")
    Seq((3L, "c")).toDF("id", "name").write.mode("overwrite").parquet(p)
    val back = Tables.parquet(spark, p)
    assert(back.columns.toSeq == Seq("id", "name"))
    assert(back.as[(Long, String)].collect().toSeq == Seq((3L, "c")))
  }

  test("Tables.events under nanosAsLong true and false gets two memo entries") {
    val path = s"${Recount.dir}/events.parquet"
    Session.withConf(spark)(NanosAsLong -> "false")(Tables.parquet(spark, path))
    Session.withConf(spark)(NanosAsLong -> "true") {
      Tables.events(spark, Recount.dir)
      assert(jobsDuring(Tables.events(spark, Recount.dir)) == 0)
    }
    val confs = memoKeys(path).map(_._3)
    assert(confs.size == 2, s"memo keys: $confs")
    // nanosAsLong is the first conf of the key
    assert(confs.map(_.head) == Set(Some("false"), Some("true")))
  }

  test("reading Tables.events leaves the session's confs as it found them") {
    Session.withConf(spark)(NanosAsLong -> "false") {
      val before = spark.conf.getAll
      Tables.events(spark, Recount.dir)
      assert(spark.conf.getAll == before)
    }
  }

  test("a frame read through the helper has the plain inferring read's " +
    "plan digest") {
    val parted = s"${Stage.tempDir("graft-read-spec-")}/parted"
    Seq((1L, "a", 0.5), (2L, "b", 1.5), (3L, "a", 2.5))
      .toDF("id", "kind", "value").write.partitionBy("kind").parquet(parted)
    val paths = Seq("documents", "events", "lineitem", "embeddings")
      .map(n => s"${Recount.dir}/$n.parquet") :+ parted
    def digest(df: org.apache.spark.sql.DataFrame) =
      Stage.planDigest(df.queryExecution.analyzed, Recount.dir)
    Session.withConf(spark)(NanosAsLong -> "true") {
      paths.foreach { p =>
        Tables.parquet(spark, p)
        assert(memoKeys(p).nonEmpty)
        val (hit, plain) = (Tables.parquet(spark, p), spark.read.parquet(p))
        assert(hit.schema == plain.schema, p)
        assert(digest(hit) == digest(plain), p)
      }
    }
  }
}

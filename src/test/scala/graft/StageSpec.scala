package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Stage

/** The durable stage tier: a stage is served only to the derivation
  * that built it, its key is the same in every JVM, and it fails
  * closed.
  */
class StageSpec extends SparkSpec {
  import spark.implicits._

  /** A one-table sf dir; the test's fixture keys are swept afterwards. */
  private def withSfDir(body: String => Unit): Unit = {
    val dir = Stage.tempDir("graft-stage-spec-")
    Seq((1L, Seq(1, 2)), (2L, Seq(3)), (3L, Seq(4, 5, 6))).toDF("id", "xs")
      .write.parquet(s"$dir/t.parquet")
    try body(dir.toString) finally sweep(dir.toString)
  }

  private def sweep(dir: String): Unit = {
    val sfKey = dir.replaceAll("[^A-Za-z0-9]", "_")
    val root = Paths.get("target", "graft-fixtures")
    if (Files.isDirectory(root)) {
      val listing = Files.list(root)
      try listing.iterator().asScala.toList
        .filter(_.getFileName.toString.contains(sfKey))
        .foreach { p =>
          val walk = Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder[Path]())
            .iterator().asScala.foreach(Files.deleteIfExists(_))
          finally walk.close()
        }
      finally listing.close()
    }
  }

  private def table(dir: String): DataFrame = spark.read.parquet(s"$dir/t.parquet")

  /** A durable frame that counts its builds. */
  private def staged(dir: String, derivation: DataFrame,
                     builds: java.util.concurrent.atomic.AtomicInteger): Path =
    Stage.durable("spec", dir, Seq(derivation)) { p =>
      builds.incrementAndGet()
      derivation.write.parquet(p.toString)
    }

  private def ids(p: Path): Seq[Long] =
    spark.read.parquet(p.toString).as[Long].collect().toSeq.sorted

  test("editing a derivation changes its path; the old stage is never served") {
    withSfDir { dir =>
      val builds = new java.util.concurrent.atomic.AtomicInteger()
      val p1 = staged(dir, table(dir).where(col("id") > 1).select("id"), builds)
      val p2 = staged(dir, table(dir).where(col("id") > 2).select("id"), builds)
      assert(p1 != p2)
      assert(builds.get === 2)
      assert(ids(p1) === Seq(2L, 3L))
      assert(ids(p2) === Seq(3L))
    }
  }

  test("independent constructions of one derivation share a path; a hit never builds") {
    withSfDir { dir =>
      // a higher-order function: its lambda variable is named from a
      // global counter, so the two constructions differ in that name
      def derivation = table(dir)
        .select(col("id"), transform(col("xs"), x => x + 1).as("ys"))
        .where(col("id") =!= 2)
      val builds = new java.util.concurrent.atomic.AtomicInteger()
      val p1 = staged(dir, derivation, builds)
      val p2 = staged(dir, derivation, builds)
      assert(p1 === p2)
      assert(builds.get === 1)
      assert(Stage.durableFrame(spark, "spec-frame", dir)(derivation).count() === 2)
      assert(Stage.durableFrame(spark, "spec-frame", dir)(derivation).count() === 2)
      assert(Files.list(p1.getParent).iterator().asScala
        .count(_.getFileName.toString.startsWith("spec-frame-")) === 1)
    }
  }

  test("a directory without the marker (a killed writer) is never served") {
    withSfDir { dir =>
      val builds = new java.util.concurrent.atomic.AtomicInteger()
      val derivation = table(dir).select("id")
      val p = staged(dir, derivation, builds)
      Files.delete(p.resolve(Stage.Marker))
      Files.write(p.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
      assert(staged(dir, derivation, builds) === p)
      assert(builds.get === 2)
      assert(Files.exists(p.resolve(Stage.Marker)))
      assert(ids(p) === Seq(1L, 2L, 3L))
      // a write that throws publishes nothing
      val failing = table(dir).select("id").where(col("id") > 0)
      intercept[IllegalStateException] {
        Stage.durable("spec-fail", dir, Seq(failing)) { _ =>
          throw new IllegalStateException("writer died")
        }
      }
      assert(!Files.list(p.getParent).iterator().asScala
        .exists(_.getFileName.toString.startsWith("spec-fail-")))
    }
  }

  test("an unreadable sf directory makes the fingerprint throw, naming it") {
    val missing = s"${Stage.tempDir("graft-stage-spec-")}/no-such-sf"
    val e = intercept[IllegalStateException] {
      Stage.durable("spec", missing, Seq(spark.range(3).toDF())) { _ =>
        fail("must not build without a fingerprint")
      }
    }
    assert(e.getMessage.contains(missing))
  }

  test("the digest rejects localCheckpoint and mapPartitions plans") {
    withSfDir { dir =>
      val checkpointed = table(dir).select("id").localCheckpoint()
      val mapped = table(dir).select("id").as[Long]
        .mapPartitions(_.map(_ + 1)).toDF("id")
      Seq(checkpointed, mapped).foreach { df =>
        val e = intercept[IllegalArgumentException] {
          Stage.durable("spec", dir, Seq(df)) { _ => fail("must not build") }
        }
        assert(e.getMessage.contains("identity"))
      }
    }
  }

  test("a stage key does not depend on the JVM's history") {
    withSfDir { dir =>
      val builds = new java.util.concurrent.atomic.AtomicInteger()
      val here = staged(dir, StageProbe.derivation(spark, dir), builds)
      // a fresh JVM that hashes other objects first: identity hashes (a
      // FileFormat's, a commutative chain's operator class) differ there
      val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
      val opts = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(a =>
          a.startsWith("--add-opens") || a.startsWith("-Dspark."))
      val cmd = Seq(javaBin) ++ opts ++ Seq("-Xmx1g", "-cp",
        System.getProperty("java.class.path"), "graft.StageProbe", dir)
      val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
      assert(proc.waitFor() === 0, out)
      val probed = out.linesIterator.collectFirst {
        case l if l.startsWith("STAGE ") => l.stripPrefix("STAGE ")
      }
      assert(probed === Some(here.toString), out)
      assert(!out.contains("BUILT"), out)
    }
  }
}

/** StageSpec's fresh JVM: hashes unrelated objects, then prints the
  * path of the stage over [[derivation]] (and BUILT if it missed).
  */
object StageProbe {
  /** A parquet read and commutative chains: `a + b + c` canonicalizes
    * to a node that holds its operator class, and `greatest` orders its
    * operands by their hash codes.
    */
  def derivation(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/t.parquet").select(greatest(
      (1 to 6).map(i => col("id") + lit(i.toLong) + col("id") * i): _*).as("v"))

  def main(args: Array[String]): Unit = {
    (1 to 5000).foreach(i => new Object().hashCode() + i.toString.hashCode)
    Seq(classOf[String], classOf[Thread], classOf[StageSpec]).foreach(_.hashCode)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      val t = derivation(spark, args(0))
      val p = Stage.durable("spec", args(0), Seq(t)) { p =>
        println("BUILT")
        t.write.parquet(p.toString)
      }
      println(s"STAGE $p")
    } finally spark.stop()
  }
}

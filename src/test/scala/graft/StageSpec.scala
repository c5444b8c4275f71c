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

  /** The data files of `feed` in arrival (mtime) order, as (name, mtime). */
  private def feedFiles(feed: Stage.Feed): Seq[(String, Long)] =
    new java.io.File(feed.dir).listFiles().toSeq
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => (f.getName, f.lastModified)).sortBy(_._2)

  /** The dirs of stage `name` over sf dir `dir`, staging copies included. */
  private def stageDirs(dir: String, name: String): Seq[Path] = {
    val listing = Files.list(Paths.get("target", "graft-fixtures"))
    try listing.iterator().asScala.toList.filter { p =>
      val n = p.getFileName.toString
      n.startsWith(s"$name-") && n.contains(dir.replaceAll("[^A-Za-z0-9]", "_"))
    } finally listing.close()
  }

  test("a feed's schema is its chunks' names and types, every field nullable; " +
    "its stream takes one chunk per micro-batch") {
    withSfDir { dir =>
      val chunks = Seq(col("id") < 2, col("id") >= 2).map(p =>
        table(dir).where(p).select(col("id"), col("xs"), lit(1L).as("one")))
      assert(!chunks.head.schema("one").nullable)
      val feed = Stage.durableChunkFeed("spec-feed", dir)(chunks)
      assert(feed.schema.map(f => (f.name, f.dataType)) ===
        chunks.head.schema.map(f => (f.name, f.dataType)))
      assert(feed.schema.forall(_.nullable))
      val ckpt = s"${Stage.tempDir("graft-stage-spec-")}/ckpt"
      Stage.drain(feed.stream(spark), ckpt)(_.format("noop"))
      val batches = new java.io.File(s"$ckpt/offsets").listFiles()
        .count(_.getName.forall(_.isDigit))
      assert(batches === chunks.size)
    }
  }

  test("chunks that disagree on a field's name or type fail, naming the " +
    "stage, and publish no dir") {
    withSfDir { dir =>
      val id = table(dir).select("id")
      Seq(id.select(col("id").as("key")), id.select(col("id").cast("int")))
        .foreach { other =>
          val e = intercept[IllegalArgumentException] {
            Stage.durableChunkFeed("spec-mixed", dir)(Seq(id, other))
          }
          assert(e.getMessage.contains("spec-mixed"))
        }
      assert(stageDirs(dir, "spec-mixed").isEmpty)
    }
  }

  test("a feed whose file mtimes were reset is rebuilt in its pinned order; " +
    "an intact one is served") {
    withSfDir { dir =>
      def feed() = Stage.durableChunkFeed("spec-order", dir)(
        Seq(3L, 1L, 2L).map(i => table(dir).where(col("id") === i).select("id")))
      val pinned = (0 until 3).map(Stage.pin)
      val built = feedFiles(feed())
      assert(built.map(_._2) === pinned)
      // an intact feed is served as it is: no file is rewritten
      assert(feedFiles(feed()) === built)
      // a copy that kept names but not mtimes (`cp -r` without `-p`)
      val f = feed()
      new java.io.File(f.dir).listFiles().foreach(_.setLastModified(
        System.currentTimeMillis()))
      val rebuilt = feedFiles(feed())
      assert(rebuilt.map(_._2) === pinned)
      assert(rebuilt.map(_._1).toSet.intersect(built.map(_._1).toSet).isEmpty)
      assert(rebuilt.map { case (n, _) =>
        spark.read.parquet(s"${f.dir}/$n").as[Long].head() } === Seq(3L, 1L, 2L))
      assert(feedFiles(feed()) === rebuilt)
      assert(stageDirs(dir, "spec-order").map(_.getFileName) ===
        Seq(Paths.get(f.dir).getParent.getFileName))
    }
  }

  /** Run [[StageProbe]] with `args` in a fresh JVM whose working
    * directory (and so whose fixture root) is `cwd`; returns its output.
    */
  private def probe(cwd: java.io.File, args: String*): String = {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opts = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a =>
        a.startsWith("--add-opens") || a.startsWith("-Dspark."))
    val cp = System.getProperty("java.class.path").split(java.io.File.pathSeparator)
      .map(new java.io.File(_).getAbsolutePath).mkString(java.io.File.pathSeparator)
    val cmd = Seq(javaBin) ++ opts ++ Seq("-Xmx1g", "-cp", cp, "graft.StageProbe") ++ args
    val proc = new ProcessBuilder(cmd: _*).directory(cwd)
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() === 0, out)
    out
  }

  private def probed(out: String): Option[String] = out.linesIterator.collectFirst {
    case l if l.startsWith("STAGE ") => l.stripPrefix("STAGE ")
  }

  test("a stage key does not depend on the JVM's history") {
    withSfDir { dir =>
      val builds = new java.util.concurrent.atomic.AtomicInteger()
      val here = staged(dir, StageProbe.derivation(spark, dir), builds)
      // a fresh JVM that hashes other objects first: identity hashes (a
      // FileFormat's, a commutative chain's operator class) differ there
      val out = probe(new java.io.File("."), dir)
      assert(probed(out) === Some(here.toString), out)
      assert(!out.contains("BUILT"), out)
    }
  }

  test("a fixture root copied to another directory serves every stage, " +
    "a derived stage included") {
    withSfDir { dir =>
      val here = StageProbe.chain(spark, dir)
      // this sf dir's stages, copied with their mtimes into the fixture
      // root of another working directory (the rest of the root may
      // hold other sf dirs' stages of any size)
      val moved = Stage.tempDir("graft-stage-moved-")
      val root = Files.createDirectories(moved.resolve("target").resolve("graft-fixtures"))
      val sfKey = dir.replaceAll("[^A-Za-z0-9]", "_")
      val listing = Files.list(Paths.get("target", "graft-fixtures"))
      try listing.iterator().asScala.filter(_.getFileName.toString.contains(sfKey))
        .foreach { p =>
          val cp = new ProcessBuilder("cp", "-a", p.toString, root.toString).start()
          assert(cp.waitFor() === 0, s"cp -a $p")
        }
      finally listing.close()
      val out = probe(moved.toFile, dir, "chain")
      assert(probed(out).map(Paths.get(_).getFileName) === Some(here.getFileName), out)
      assert(probed(out).exists(p => Paths.get(p).startsWith(root.toRealPath())), out)
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

  /** The stage `name` over `derivation`, printing BUILT if it missed. */
  private def stage(name: String, dir: String, derivation: DataFrame): Path =
    Stage.durable(name, dir, Seq(derivation)) { p =>
      println("BUILT")
      derivation.write.parquet(p.toString)
    }

  /** An upstream stage over [[derivation]] and a derived stage that
    * reads it; returns the derived stage's path.
    */
  def chain(spark: org.apache.spark.sql.SparkSession, dir: String): Path = {
    val up = stage("spec-up", dir, derivation(spark, dir))
    stage("spec-derived", dir, spark.read.parquet(up.toString).where(col("v") > 0))
  }

  /** args: the sf dir, then `chain` to probe [[chain]]'s derived stage. */
  def main(args: Array[String]): Unit = {
    (1 to 5000).foreach(i => new Object().hashCode() + i.toString.hashCode)
    Seq(classOf[String], classOf[Thread], classOf[StageSpec]).foreach(_.hashCode)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      val p =
        if (args.lift(1).contains("chain")) chain(spark, args(0))
        else stage("spec", args(0), derivation(spark, args(0)))
      println(s"STAGE $p")
    } finally spark.stop()
  }
}

package graft.queries

import java.nio.file.{FileSystemException, Files, NoSuchFileException, Path, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, CommutativeExpression, EqualNullSafe, EqualTo, ExprId, Expression, In, MultiCommutativeOp, NamedExpression, NamedLambdaVariable, UserDefinedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ObjectConsumer, ObjectProducer, TransformWithState}
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{StructField, StructType}

/** Staged frames, in two tiers, and the bounded run of a judged stream.
  *
  * The RUN-SCOPED tier ([[tempDir]]) is a temp dir deleted on JVM
  * exit: run-scoped intermediates, sinks and streaming checkpoints.
  * Durable storage, never executor memory, so nothing stays pinned in
  * the block manager between queries (a `persist` here would survive
  * the query that created it).
  *
  * The DURABLE tier ([[durable]] and its format wrappers
  * [[durableFrame]], [[durableScalar]], [[durableChunkFeed]]) lives
  * under `target/graft-fixtures` and survives across JVMs: a stage is
  * built once per corpus snapshot and every later job reads the
  * checkpoint. A durable stage is served only to the derivation that
  * built it (see [[durable]] for the key and SCALE.md for the rule and
  * the inventory).
  *
  * A staged stream feed's format is decided here and nowhere else: a
  * [[Feed]] carries its files' schema (taken from the chunk plans that
  * wrote them, every field nullable), one chunk per file, a pinned
  * mtime per file that fixes the arrival order, checked on every hit,
  * and one reader, [[Feed.stream]], that takes one file per trigger.
  *
  * [[drained]] runs a judged stream over such feeds in a run dir of
  * its own and lands it in the sink its output mode picks ([[sink]]);
  * [[drain]] under it is the one policy for trigger, state partitions
  * and state-store provider.
  */
object Stage {
  // One shutdown hook sweeps every staged dir (a hook thread per dir
  // would accumulate with the number of staged keys).
  private val cleanupDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[Path]())
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    cleanupDirs.forEach(d => deleteRecursively(d))))

  /** Temp dir removed on JVM exit (library embeddings don't leak /tmp).
    *
    * Root is overridable via `-Dgraft.tmp.root`:
    * streaming feeds/checkpoints/state stores all land here, and at toy
    * scale they are fsync-bound, so Bench points the root at tmpfs —
    * the local-SSD-state-dir decision a real cluster makes per
    * executor. Default stays the platform tmpdir.
    */
  def tempDir(prefix: String): Path = {
    val d = sys.props.get("graft.tmp.root") match {
      case Some(root) =>
        Files.createTempDirectory(Files.createDirectories(Paths.get(root)),
          prefix)
      case None => Files.createTempDirectory(prefix)
    }
    cleanupDirs.add(d)
    d
  }

  /** Version of the durable write bodies. The derivation digest covers
    * what a stage is computed FROM; it cannot see code that runs only
    * inside a `write` body or behind an opaque input (the
    * connected-component sweeps of `cc`/`cc-base`, the media encoders,
    * a feed's file layout). Bump this on any change to such a body:
    * every durable key changes and every stage is rebuilt.
    */
  val layoutVersion = 1

  /** The one completion marker, written by [[durable]] after `write`
    * returns. A directory without it is never served.
    */
  private[graft] val Marker = "_STAGED"

  private val fixtureRoot = Paths.get("target", "graft-fixtures").toAbsolutePath.normalize

  /** THE durable stage: build once, serve to the same derivation only.
    *
    * The directory is `target/graft-fixtures/<key>`, where the key
    * ([[fixtureKey]]) folds in the name, the sf directory, a
    * fingerprint of that directory's parquet listing, a JVM-stable
    * digest of the analyzed plans of `derivation`, and
    * [[layoutVersion]]. On a miss `write` fills a writer-unique staging
    * dir, the marker is added, and one atomic rename publishes it: two
    * JVMs that miss together (Verify and Bench started at once) each
    * write their own copy and exactly one rename wins. The loser
    * discards its copy and reads the winner's (builds are
    * deterministic). File mtimes set inside the staging dir survive the
    * rename.
    *
    * Fails closed: a fingerprint or digest that cannot be computed
    * throws (naming the dir or the plan node), a `write` that throws
    * publishes nothing, and a directory without the marker (a killed
    * writer) or that fails `intact` (a feed whose pinned mtimes were
    * lost) is replaced, never read.
    *
    * `derivation` must be lazy: it is analyzed on every call, hit or
    * miss, and never executed here. A stage whose result is computed
    * eagerly (a `localCheckpoint`, an iterative fixpoint) or inside an
    * opaque function (`mapPartitions`, a Scala UDF) passes its lazy
    * INPUTS as `derivation`; the digest rejects such plans outright.
    */
  def durable(name: String, dir: String, derivation: Seq[DataFrame],
              intact: Path => Boolean = _ => true)
             (write: Path => Unit): Path = {
    val path = fixtureRoot.resolve(fixtureKey(name, dir, derivation))
    def served(p: Path) = Files.exists(p.resolve(Marker)) && intact(p)
    if (!served(path)) {
      val tmp = aside(path, "tmp")
      try {
        write(tmp)
        Files.createDirectories(tmp)
        Files.write(tmp.resolve(Marker), Array.emptyByteArray)
        discardUnserved(path, served)
        try Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: FileSystemException if served(path) => () }
      } finally deleteRecursively(tmp)
    }
    path
  }

  /** Durable parquet FRAME: the derived stages a corpus pipeline
    * checkpoints between jobs (shingles, MinHash signatures, LSH
    * pairs, component labels, rank spans, encoded media). The
    * derivation is `build` itself unless `inputs` is given; a `build`
    * that computes eagerly or opaquely must name its lazy `inputs`
    * (see [[durable]]) and is then evaluated only on a miss.
    */
  def durableFrame(s: SparkSession, name: String, dir: String,
                   inputs: Seq[DataFrame] = Nil)
                  (build: => DataFrame): DataFrame = {
    lazy val built = build
    val derivation = if (inputs.nonEmpty) inputs else Seq(built)
    val path = durable(name, dir, derivation) { p =>
      built.write.mode("overwrite").parquet(p.toString)
    }
    Tables.parquet(s, path.toString)
  }

  /** Durable LONG sizing scalar (a feed's max doc id, a ts bound): the
    * 1-row aggregate `scalar` runs once per key and the value is
    * persisted, so every later call is a one-line file read and no
    * Spark job. Without this, a sizing aggregate that a feed's chunk
    * plans embed would run on every invocation, because the plans must
    * be built to digest the feed. The key digests the whole aggregate,
    * so editing e.g. max→min re-computes.
    */
  def durableScalar(name: String, dir: String)
                   (scalar: DataFrame): Long = {
    val p = durable(name, dir, Seq(scalar)) { stage =>
      // exactly one non-null row, or fail NAMING the fixture — a bare
      // head() on an empty/null aggregate throws an anonymous
      // NoSuchElementException/NPE with no hint which scalar broke,
      // and a >1-row frame would silently use an arbitrary row
      val rows = scalar.take(2)
      require(rows.length == 1,
        s"durableScalar($name): sizing aggregate returned ${rows.length} rows (want exactly 1)")
      require(!rows(0).isNullAt(0),
        s"durableScalar($name): sizing aggregate is NULL (empty input?)")
      Files.createDirectories(stage)
      Files.write(stage.resolve("value"),
        rows(0).getLong(0).toString.getBytes("UTF-8"))
    }
    new String(Files.readAllBytes(p.resolve("value")), "UTF-8").trim.toLong
  }

  /** A staged stream feed: its files under `dir` and the schema they
    * were written with, every field nullable (the file stream source
    * forces that anyway).
    */
  final case class Feed(dir: String, schema: StructType) {
    /** THE reader of a staged feed: one file per trigger, so each chunk
      * is one micro-batch, taken in the pinned mtime order.
      */
    def stream(s: SparkSession): DataFrame =
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
  }

  object Feed {
    /** The feed of `frame`'s files written under `dir`. */
    def apply(dir: String, frame: DataFrame): Feed =
      Feed(dir, nullable(frame.schema))
  }

  /** `schema` with every top-level field nullable and without metadata. */
  private def nullable(schema: StructType): StructType =
    StructType(schema.fields.map(f => StructField(f.name, f.dataType)))

  /** Durable STREAM FEED under `<stage>/feed`: chunk `i` is written as
    * one coalesced file whose mtime is pinned to [[pin]]`(i)`, so the
    * file source's arrival order is part of the staged content and not
    * a race on write times. On a hit every data file's mtime must be
    * one of the feed's pins and every pin must be present; otherwise
    * (a copy that lost the mtimes) the stage is rebuilt, never served.
    * Feed construction (a filtered pass and a single-threaded write per
    * chunk) is paid once per key instead of on every streaming run.
    * `chunks` is by-name: a hit builds the (lazy) chunk plans to digest
    * them and to take the feed's schema, but never executes them; the
    * chunks must agree on field names and types. Checkpoints and
    * outputs stay per-run in [[tempDir]].
    */
  def durableChunkFeed(name: String, dir: String)
                      (chunks: => Seq[DataFrame]): Feed = {
    val cs = chunks
    val schemas = cs.map(c => nullable(c.schema)).distinct
    require(schemas.size == 1, s"durableChunkFeed($name): the chunks must " +
      s"share one schema, got ${schemas.map(_.simpleString).mkString(" vs ")}")
    val pins = cs.indices.map(pin).toSet
    val stage = durable(name, dir, cs,
      intact = st => dataFiles(st.resolve("feed")).map(_.lastModified).toSet == pins) {
      stage =>
        val feed = stage.resolve("feed")
        cs.zipWithIndex.foreach { case (c, idx) =>
          val before = dataFiles(feed).toSet
          c.coalesce(1).write.mode("append").parquet(feed.toString)
          (dataFiles(feed).toSet -- before).foreach(f =>
            require(f.setLastModified(pin(idx)),
              s"mtime pin failed for $f — arrival order would race"))
        }
    }
    Feed(stage.resolve("feed").toString, schemas.head)
  }

  /** The pinned mtime of a feed's chunk `i`. */
  private[graft] def pin(i: Int): Long = 1700000000000L + i * 600000L

  /** The data files of a feed dir (none if it does not exist). */
  private def dataFiles(dir: Path): Seq[java.io.File] =
    Option(dir.toFile.listFiles()).toSeq.flatten.filter { f =>
      val n = f.getName
      !n.startsWith("_") && !n.startsWith(".")
    }

  /** A staged [[durableChunkFeed]] landed chunk by chunk into `into`,
    * for a judged restart: `chunks` are the staged files in their
    * pinned arrival order, and `land(i)` copies chunk `i` keeping its
    * pinned mtime, so [[stream]] sees the staged order.
    */
  final class Landing(feed: Feed, into: String) {
    val chunks: IndexedSeq[java.io.File] =
      dataFiles(Paths.get(feed.dir)).sortBy(_.lastModified).toIndexedSeq
    Files.createDirectories(Paths.get(into))

    def land(i: Int): Unit = {
      val src = chunks(i)
      val dst = Paths.get(into, src.getName)
      Files.copy(src.toPath, dst)
      require(dst.toFile.setLastModified(src.lastModified),
        s"mtime pin failed for $dst — arrival order would race")
    }

    /** The landed chunks, read like the feed itself. */
    def stream(s: SparkSession): DataFrame = feed.copy(dir = into).stream(s)
  }

  private val StatePartitions = "spark.sql.shuffle.partitions"
  private val StateProvider = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The bounded run of a judged stream: start `stream` with checkpoint
    * `ckpt`, output `mode` and the `Trigger.AvailableNow` trigger
    * (the streaming engine run as a batch job over what has landed),
    * and wait for it. `sink` shapes the writer: [[drained]] passes its
    * mode's [[sink]]; a query whose sink is its own (two sinks, an
    * epoch-tagged upsert, an operator per batch, `noop`) passes that.
    * Everything else is decided here:
    *  - 8 shuffle partitions, which is the state-store count of every
    *    stateful operator (each store pays checkpoint I/O per batch;
    *    results are partition-count invariant);
    *  - the RocksDB state-store provider exactly when the plan holds a
    *    `transformWithState` operator (which requires it), otherwise
    *    the session default;
    *  - both confs restored afterwards, also when the run fails.
    * The stream reads the confs when it starts, and a foreachBatch body
    * sees them through `batch.sparkSession`.
    */
  def drain[T](stream: Dataset[T], ckpt: String, mode: String = "append")
              (sink: DataStreamWriter[T] => DataStreamWriter[T]): Unit = {
    val tws = stream.queryExecution.analyzed.exists(_.isInstanceOf[TransformWithState])
    val run = (StatePartitions -> "8") +: Option.when(tws)(StateProvider -> RocksDb).toSeq
    graft.Session.withConf(stream.sparkSession)(run: _*) {
      sink(stream.writeStream.option("checkpointLocation", ckpt)
          .outputMode(mode).trigger(Trigger.AvailableNow))
        .start().awaitTermination()
    }
  }

  /** What a bounded run landed: `frame` is the output read back as a
    * batch frame; `out` (the sink dir) and `ckpt` (the checkpoint) are
    * kept for the audits that read them.
    */
  final case class Drained(frame: DataFrame, out: String, ckpt: String) {
    /** The micro-batches the run planned, from its offsets log. */
    def batches: Int = new java.io.File(s"$ckpt/offsets").listFiles()
      .count(_.getName.forall(_.isDigit))
  }

  /** THE bounded run of a judged stream: [[drain]] in a run dir of its
    * own under [[tempDir]], into output `mode`'s [[sink]], and the
    * landed output read back.
    */
  def drained[T](stream: Dataset[T], mode: String = "append"): Drained = {
    val run = tempDir("graft-run-")
    val (out, ckpt) = (run.resolve("out").toString, run.resolve("ckpt").toString)
    drain(stream, ckpt, mode)(sink(mode, out))
    Drained(stream.sparkSession.read.parquet(out), out, ckpt)
  }

  /** The sink output `mode` picks, writing parquet to `out`:
    *  - append: Spark's file sink, which commits each batch exactly
    *    once through its `_spark_metadata` log (a read of `out` goes
    *    through that log);
    *  - update: each batch appended (the file sink rejects update mode);
    *  - complete: each batch overwrites `out`, so it holds the last
    *    batch's full image.
    */
  def sink[T](mode: String, out: String): DataStreamWriter[T] => DataStreamWriter[T] =
    mode match {
      case "append" => _.format("parquet").option("path", out)
      case "update" => eachBatch(out, "append")
      case "complete" => eachBatch(out, "overwrite")
    }

  private def eachBatch[T](out: String, saveMode: String)
      : DataStreamWriter[T] => DataStreamWriter[T] =
    _.foreachBatch { (batch: Dataset[T], _: Long) =>
      batch.toDF().write.mode(saveMode).parquet(out); ()
    }

  /** The only place a fixture key is formed: `<name>-<sf dir>-
    * <testdata fingerprint>-<digest of layoutVersion and the
    * derivation's plans>`. The sf dir stays readable in the name so a
    * test can sweep its own keys.
    */
  private def fixtureKey(name: String, dir: String,
                         derivation: Seq[DataFrame]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (s"layout=$layoutVersion" +: derivation.map(df =>
        planDigest(df.queryExecution.analyzed, dir)))
      .foreach(p => md.update(s"$p\n".getBytes("UTF-8")))
    val digest = md.digest().take(8).map("%02x".format(_)).mkString
    val sfKey = dir.replaceAll("[^A-Za-z0-9]", "_")
    s"$name-$sfKey-${fingerprints.computeIfAbsent(dir, dirFingerprint)}-$digest"
  }

  private val fingerprints =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Digest of the sf dir's parquet listing (name, size, mtime): a
    * regenerated testdata set changes every key. Throws, naming the
    * dir, when the listing fails: a shared fallback value would give
    * every unreadable dir the same key.
    */
  private def dirFingerprint(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val entries = try {
      val listing = Files.list(Paths.get(dir))
      try listing.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          s"${p.getFileName}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
        }.toSeq.sorted.mkString("|")
      finally listing.close()
    } catch {
      case e: java.io.IOException =>
        throw new IllegalStateException(
          s"cannot fingerprint testdata dir $dir for a durable stage key", e)
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
  }

  /** JVM-stable digest of an analyzed plan over sf dir `dir`: a content
    * hash of its canonical form. `semanticHash` is not stable across
    * JVMs:
    *  - a file relation hashes its `FileFormat`, whose hashCode is its
    *    class's identity hash. Here it is hashed as its format short
    *    name, sorted root paths and `path` option ([[located]]),
    *    schema and options;
    *  - a commutative chain (`a + b + c`) canonicalizes to a
    *    `MultiCommutativeOp` that hashes its operator `Class` by
    *    identity, and canonicalization orders the operands of
    *    commutative expressions (and `EqualTo` sides and `In` lists) by
    *    those hashes. Here such operands are hashed as an unordered
    *    multiset, flattened across nested nodes of the same operator.
    * Anything that hashes by identity and cannot be described (an RDD,
    * a closure, a value without a content hashCode) throws: the stage
    * must then pass its lazy inputs as the derivation.
    */
  private[graft] def planDigest(plan: LogicalPlan, dir: String): String = {
    plan.foreachWithSubqueries {
      case n @ (_: LogicalRDD | _: ExternalRDD[_] | _: ObjectProducer |
                _: ObjectConsumer) => identityHashed(n.nodeName)
      case n => n.expressions.foreach(_.foreach {
        case u: UserDefinedExpression => identityHashed(u.name)
        case _ => ()
      })
    }
    stableHash(plan.canonicalized, located(dir)).toHexString
  }

  /** A file root as a key sees it: relative to the fixture root or to
    * the sf dir `dir` when it lies under one (the key name already
    * carries the sf dir and its fingerprint), else absolute. So a
    * fixture root moved to another checkout serves every stage.
    */
  private def located(dir: String): String => String = {
    val roots = Seq("fixtures:" -> fixtureRoot,
      "sf:" -> Paths.get(dir).toAbsolutePath.normalize)
    path => {
      val uri = new HPath(path).toUri
      Option.when(Option(uri.getScheme).forall(_ == "file") && uri.getAuthority == null)(
          Paths.get(uri.getPath).toAbsolutePath.normalize)
        .flatMap(at => roots.collectFirst {
          case (tag, root) if at.startsWith(root) => tag + root.relativize(at)
        })
        .getOrElse(path)
    }
  }

  private def identityHashed(what: String): Nothing =
    throw new IllegalArgumentException(
      s"durable stage derivation contains $what, which hashes by identity " +
        "(an RDD, a closure or an object); pass its lazy inputs as the " +
        "derivation instead")

  private def stableHash(v: Any, where: String => String): Int = {
    import scala.util.hashing.MurmurHash3.{orderedHash, unorderedHash}
    def node(name: String, parts: Iterator[Any]): Int =
      orderedHash(Iterator.single(name.##) ++ parts.map(hash))
    def unordered(name: String, operands: Seq[Expression]): Int =
      orderedHash(Seq(name.##, unorderedHash(operands.map(hash))))
    def operator(e: Expression): Option[Class[_]] = e match {
      case m: MultiCommutativeOp => Some(m.opCls)
      case c: CommutativeExpression => Some(c.getClass)
      case _ => None
    }
    def operands(e: Expression, op: Class[_]): Seq[Expression] =
      (e match {
        case m: MultiCommutativeOp => m.operands
        case _ => e.children
      }).flatMap(c => if (operator(c).contains(op)) operands(c, op) else Seq(c))
    def hash(v: Any): Int = v match {
      case null => 0
      case e: Expression if operator(e).nonEmpty =>
        val op = operator(e).get
        unordered(op.getName, operands(e, op))
      case e: BinaryComparison if e.isInstanceOf[EqualTo] ||
          e.isInstanceOf[EqualNullSafe] => unordered(e.nodeName, e.children)
      case i: In => node("In", Iterator(i.value, unordered("list", i.list)))
      case l: NamedLambdaVariable =>
        node("lambda", Iterator(l.dataType, l.nullable, l.exprId))
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation =>
          val format = fs.fileFormat match {
            case d: DataSourceRegister => d.shortName()
            case f => f.getClass.getName
          }
          node("files", Iterator(format,
            fs.location.rootPaths.map(p => where(p.toString)).sorted,
            fs.schema.json, fs.bucketSpec, fs.options.toSeq.map {
              case (k, path) if k.equalsIgnoreCase("path") => k -> where(path)
              case kv => kv
            }.sorted, r.output))
        case other => identityHashed(other.getClass.getName)
      }
      // an attribute's or alias's id sits outside its product fields
      case n: NamedExpression =>
        node(n.nodeName, n.productIterator ++ Iterator(n.exprId))
      case t: TreeNode[_] => node(t.nodeName, t.productIterator)
      case id: ExprId => id.id.##
      case c: Class[_] => c.getName.##
      case e: java.lang.Enum[_] => node(e.getClass.getName, Iterator(e.name))
      case m: scala.collection.Map[_, _] => unorderedHash(m.map(hash))
      case s: scala.collection.Set[_] => unorderedHash(s.toSeq.map(hash))
      case it: Iterable[_] => orderedHash(it.map(hash))
      case a: Array[_] => orderedHash(a.map(hash))
      case p: Product => node(p.productPrefix, p.productIterator)
      case x if x.getClass.getMethod("hashCode").getDeclaringClass ==
          classOf[Object] => identityHashed(x.getClass.getName)
      case x => x.##
    }
    hash(v)
  }

  /** A writer-unique sibling of `path` (staging copy or trash). */
  private def aside(path: Path, what: String): Path = path.resolveSibling(
    s"${path.getFileName}.$what-${ProcessHandle.current().pid()}-${System.nanoTime()}")

  /** Clear a dir at `path` that may not be `served` (a killed writer, a
    * feed that lost its order) so the publish rename can land. Not an
    * in-place delete: a concurrent JVM may publish between the check
    * and the delete, so the dir is first moved aside atomically, and
    * put back if it turns out to be served (or dropped, if the winner
    * has already re-published).
    */
  private def discardUnserved(path: Path, served: Path => Boolean): Unit =
    if (Files.exists(path) && !served(path)) {
      val trash = aside(path, "trash")
      val moved = try {
        Files.move(path, trash, StandardCopyOption.ATOMIC_MOVE); true
      } catch { case _: NoSuchFileException => false }
      if (moved && served(trash))
        try Files.move(trash, path, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: FileSystemException => () }
      deleteRecursively(trash)
    }

  private def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }
}

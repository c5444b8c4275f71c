package graft.queries

import java.nio.file.{FileSystemException, Files, NoSuchFileException, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, CommutativeExpression, EqualNullSafe, EqualTo, ExprId, Expression, In, MultiCommutativeOp, NamedExpression, NamedLambdaVariable, UserDefinedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ObjectConsumer, ObjectProducer, TransformWithState}
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

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
  * [[drain]] runs every judged stream over such feeds, one policy for
  * trigger, state partitions and state-store provider.
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

  private val fixtureRoot = Paths.get("target", "graft-fixtures").toAbsolutePath

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
    * writer) is replaced, never read.
    *
    * `derivation` must be lazy: it is analyzed on every call, hit or
    * miss, and never executed here. A stage whose result is computed
    * eagerly (a `localCheckpoint`, an iterative fixpoint) or inside an
    * opaque function (`mapPartitions`, a Scala UDF) passes its lazy
    * INPUTS as `derivation`; the digest rejects such plans outright.
    */
  def durable(name: String, dir: String, derivation: Seq[DataFrame])
             (write: Path => Unit): Path = {
    val path = fixtureRoot.resolve(fixtureKey(name, dir, derivation))
    if (!Files.exists(path.resolve(Marker))) {
      val tmp = aside(path, "tmp")
      try {
        write(tmp)
        Files.createDirectories(tmp)
        Files.write(tmp.resolve(Marker), Array.emptyByteArray)
        discardUnmarked(path)
        try Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: FileSystemException if Files.exists(path.resolve(Marker)) => ()
        }
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
    s.read.parquet(path.toString)
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

  /** Durable STREAM FEED under `<stage>/feed`: each chunk is written as
    * one coalesced file with a PINNED ascending mtime, so the file
    * source's arrival order is part of the staged content and not a
    * race on write times. Feed construction (a filtered pass and a
    * single-threaded write per chunk) is paid once per key instead of
    * on every streaming run. `chunks` is by-name: a hit builds the
    * (lazy) chunk plans to digest them but never executes them.
    * Checkpoints and outputs stay per-run in [[tempDir]].
    */
  def durableChunkFeed(name: String, dir: String)
                      (chunks: => Seq[DataFrame]): String = {
    val cs = chunks
    durable(name, dir, cs) { stage =>
      val feed = stage.resolve("feed")
      val stamped = mutable.Set[String]()
      cs.zipWithIndex.foreach { case (c, idx) =>
        c.coalesce(1).write.mode("append").parquet(feed.toString)
        feed.toFile.listFiles().foreach { f =>
          val n = f.getName
          if (!n.startsWith("_") && !n.startsWith(".") && stamped.add(n))
            require(f.setLastModified(1700000000000L + idx * 600000L),
              s"mtime pin failed for $f — arrival order would race")
        }
      }
    }.resolve("feed").toString
  }

  /** A staged [[durableChunkFeed]] landed chunk by chunk into `into`,
    * for a judged restart: `chunks` are the staged files in their
    * pinned arrival order, and `land(i)` copies chunk `i` keeping its
    * pinned mtime, so the file source sees the staged order.
    */
  final class Landing(feed: String, into: String) {
    val chunks: IndexedSeq[java.io.File] = new java.io.File(feed).listFiles()
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.lastModified).toIndexedSeq
    Files.createDirectories(Paths.get(into))

    def land(i: Int): Unit = {
      val src = chunks(i)
      val dst = Paths.get(into, src.getName)
      Files.copy(src.toPath, dst)
      require(dst.toFile.setLastModified(src.lastModified),
        s"mtime pin failed for $dst — arrival order would race")
    }
  }

  private val StatePartitions = "spark.sql.shuffle.partitions"
  private val StateProvider = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** THE bounded run of a judged stream: start `stream` with checkpoint
    * `ckpt`, output `mode` and the `Trigger.AvailableNow` trigger
    * (the streaming engine run as a batch job over what has landed),
    * and wait for it. The caller's `sink` shapes the writer (a file
    * sink, a `foreachBatch`, `noop`); everything else is decided here:
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

  /** The common [[drain]] sink: each micro-batch appends parquet to `out`. */
  def appendTo[T](out: String): DataStreamWriter[T] => DataStreamWriter[T] =
    _.foreachBatch { (batch: Dataset[T], _: Long) =>
      batch.toDF().write.mode("append").parquet(out); ()
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
        planDigest(df.queryExecution.analyzed)))
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

  /** JVM-stable digest of an analyzed plan: a content hash of its
    * canonical form. `semanticHash` is not stable across JVMs:
    *  - a file relation hashes its `FileFormat`, whose hashCode is its
    *    class's identity hash. Here it is hashed as its format short
    *    name, sorted root paths, schema and options;
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
  private[queries] def planDigest(plan: LogicalPlan): String = {
    plan.foreachWithSubqueries {
      case n @ (_: LogicalRDD | _: ExternalRDD[_] | _: ObjectProducer |
                _: ObjectConsumer) => identityHashed(n.nodeName)
      case n => n.expressions.foreach(_.foreach {
        case u: UserDefinedExpression => identityHashed(u.name)
        case _ => ()
      })
    }
    stableHash(plan.canonicalized).toHexString
  }

  private def identityHashed(what: String): Nothing =
    throw new IllegalArgumentException(
      s"durable stage derivation contains $what, which hashes by identity " +
        "(an RDD, a closure or an object); pass its lazy inputs as the " +
        "derivation instead")

  private def stableHash(v: Any): Int = {
    import scala.util.hashing.MurmurHash3.{orderedHash, unorderedHash}
    def node(name: String, parts: Iterator[Any]): Int =
      orderedHash(Iterator.single(name.##) ++ parts.map(stableHash))
    def unordered(name: String, operands: Seq[Expression]): Int =
      orderedHash(Seq(name.##, unorderedHash(operands.map(stableHash))))
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
    v match {
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
            fs.location.rootPaths.map(_.toString).sorted, fs.schema.json,
            fs.bucketSpec, fs.options.toSeq.sorted, r.output))
        case other => identityHashed(other.getClass.getName)
      }
      // an attribute's or alias's id sits outside its product fields
      case n: NamedExpression =>
        node(n.nodeName, n.productIterator ++ Iterator(n.exprId))
      case t: TreeNode[_] => node(t.nodeName, t.productIterator)
      case id: ExprId => id.id.##
      case c: Class[_] => c.getName.##
      case e: java.lang.Enum[_] => node(e.getClass.getName, Iterator(e.name))
      case m: scala.collection.Map[_, _] => unorderedHash(m.map(stableHash))
      case s: scala.collection.Set[_] => unorderedHash(s.toSeq.map(stableHash))
      case it: Iterable[_] => orderedHash(it.map(stableHash))
      case a: Array[_] => orderedHash(a.map(stableHash))
      case p: Product => node(p.productPrefix, p.productIterator)
      case x if x.getClass.getMethod("hashCode").getDeclaringClass ==
          classOf[Object] => identityHashed(x.getClass.getName)
      case x => x.##
    }
  }

  /** A writer-unique sibling of `path` (staging copy or trash). */
  private def aside(path: Path, what: String): Path = path.resolveSibling(
    s"${path.getFileName}.$what-${ProcessHandle.current().pid()}-${System.nanoTime()}")

  /** Clear an unmarked dir at `path` (a killed writer) so the publish
    * rename can land. Not an in-place delete: a concurrent JVM may
    * publish between the marker check and the delete, so the dir is
    * first moved aside atomically, and put back if it turns out to be
    * marked (or dropped, if the winner has already re-published).
    */
  private def discardUnmarked(path: Path): Unit =
    if (Files.exists(path) && !Files.exists(path.resolve(Marker))) {
      val trash = aside(path, "trash")
      val moved = try {
        Files.move(path, trash, StandardCopyOption.ATOMIC_MOVE); true
      } catch { case _: NoSuchFileException => false }
      if (moved && Files.exists(trash.resolve(Marker)))
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

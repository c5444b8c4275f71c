package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entrypoint. Runs EVERY judged query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line:
  * {"metric":"total","value":<sec over all passing queries>,
  *  "unit":"sec","n":<count>,"queries":{<slowest 25, ms precision>},
  *  "failed":[...],"sf":"..."}.
  *
  * The consumer reads only the LAST ~2000 chars of the process output,
  * so the line must stay short: per-query detail is limited to the 25
  * slowest (the rest are sub-second noise at sf0.1) and rounded to
  * 1 ms, inline outlier disclosure is capped, the whole line is held
  * under a hard length budget, and the headline fields are emitted
  * LAST (see [[headlineJson]] — round 14's record was lost to exactly
  * this window). The full per-query map and the uncapped outlier list
  * are written to target/bench_detail.json.
  *
  * ==Contention defense==
  * A bench number is only as good as the box it ran on (r7 recorded
  * 719 s for a suite that re-measures at 203 s; r10's driver run was
  * 44% inflated by a noisy neighbor that a single end-of-run canary
  * missed). Three layers make a contended run machine-detectable and,
  * where possible, self-correcting:
  *
  *  1. INTERLEAVED canary: a fixed pure query (q1_agg) is re-timed
  *     every [[probeEvery]] measured queries, so contention anywhere
  *     in the run shows up as probe spread — not just at the edges.
  *     Probes are extra work, never added to the total.
  *  2. Reference envelope: if `BENCH_REF.json` (a committed clean
  *     same-host per-query map) is readable, any query measuring
  *     >3× its reference (and >0.5 s over it) is RE-RUN once. If the
  *     rerun lands back inside the envelope (≤1.5× ref), the first
  *     timing was the host, not the plan — the headline records the
  *     re-measurement and the `outliers` list discloses first/rerun/
  *     ref. A rerun far BELOW ref (<ref/3) means the query amortizes
  *     a staged fixture the envelope charges for (q87/e15-style), so
  *     the rerun is not a valid re-measurement — the first timing is
  *     kept and the entry is marked unadjudicated.
  *  3. `suspect:true` whenever the printed total may still not
  *     reflect the engine (see [[suspect]]). `ref_loaded` discloses
  *     how many envelope lines the run actually compared against, so a
  *     skipped pass is visible instead of indistinguishable from a
  *     clean one.
  */
object Bench {
  private val probeEvery = 20

  private[graft] def ms(v: Double): String = BigDecimal(v)
    .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
  /** Minimal JSON string escape: query names are [a-z0-9_] today, but
    * sfDir comes from an env var — a quote/backslash/control char in a
    * path must not render the ONE machine-read stdout line unparseable.
    */
  private[graft] def jstr(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
  private[graft] def dict(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => jstr(k) + ":" + ms(v) }.mkString("{", ",", "}")
  private def strDict(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")

  /** A failure's cause as `Class: message`, the message capped at 500
    * chars (the form of Verify's `_failed.json` and Bench's detail).
    */
  private[graft] def cause(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"

  /** Assemble the ONE stdout JSON line, truncation-proof.
    *
    * The consumer keeps only the LAST ~2000 chars of stdout. Round 14
    * proved the failure mode: a cold host + the 2× outlier trigger put
    * 24 inline outlier entries on the line, pushing the leading
    * `{"metric":"total",...}` prefix out of the window — the driver
    * recorded `parsed:null` and the round's official headline number
    * was lost (recoverable only from target/bench_detail.json). Three
    * defenses, each sufficient alone:
    *
    *  1. Inline outlier disclosure is CAPPED (worst [[maxInlineOutliers]]
    *     by first/ref ratio) + `outliers_total`, and the failed list is
    *     capped at [[maxInlineFailed]] + `failed_total` (a mass failure
    *     would otherwise bust the budget at any topK); the full lists
    *     always go to target/bench_detail.json.
    *  2. The whole line is held under [[lineBudget]] chars by shrinking
    *     the per-query map (slowest-first) until it fits — the map is
    *     courtesy detail, never the record.
    *  3. Headline fields (`ref_loaded`, `suspect`, `n`, `value`) are
    *     emitted LAST, so even a pathological truncation that eats the
    *     line's head leaves the fields a regex consumer needs inside
    *     the tail window.
    */
  private[graft] val lineBudget = 1900
  private[graft] val maxInlineOutliers = 8
  private[graft] val maxInlineFailed = 12

  /** Core-scalable BATCH queries pinned into the per-query map
    * regardless of rank: the driver's low-core scaling probe samples
    * the detail map, and when that map is only the 25 slowest it is
    * dominated by floor-bound streaming/trainer queries whose 8-core ≈
    * 32-core ratios read as "CPUs ignored" (r19's false
    * `suspect_cpus_ignored`). q1_agg/q3_join are the canonical batch
    * plans; e79_band_sweep is the scaling-signal carrier — its
    * CPU-bound hashing measured 5.26 s at 2 cores vs 2.21 s at 32
    * (2.4×) at sf0.1, where the sub-second aggregates are
    * job-floor-bound at ANY core count and read as flat.
    */
  private[graft] val pinnedDetail = Seq("q1_agg", "q3_join", "e79_band_sweep")

  /** Max/min of the probes that ran; 1 when there is nothing to compare. */
  private[graft] def probeSpread(probes: Seq[Double]): Double =
    if (probes.nonEmpty && probes.min > 0) probes.max / probes.min else 1.0

  /** The `suspect` flag: true when the successful probes spread >3×, a
    * probe or a timed query failed, no query passed (`n == 0`), an
    * unadjudicated outlier remains, or the envelope failed to load
    * (`refLoaded == 0`).
    */
  private[graft] def suspect(spread: Double, probesFailed: Int, failed: Int, n: Int,
                             unadjudicated: Int, refLoaded: Int): Boolean =
    spread > 3.0 || probesFailed > 0 || failed > 0 || n == 0 ||
      unadjudicated > 0 || refLoaded == 0

  private[graft] def headlineJson(
      total: Double, n: Int, sfDir: String,
      slowestFirst: Seq[(String, Double)], failed: Seq[String],
      probeJson: String,
      outliers: Seq[(String, Double, Double, Double, Boolean)],
      refLoaded: Int, suspect: Boolean, cpus: Int = 0): String = {
    val worst = outliers
      .sortBy { case (_, f, _, rf, _) => -(f / math.max(rf, 1e-9)) }
      .take(maxInlineOutliers)
    val outlierJson = worst.map { case (nm, f, r2, rf, adj) =>
      s"""{"name":${jstr(nm)},"first":${ms(f)},"rerun":${ms(r2)},"ref":${ms(rf)},"adjudicated":$adj}"""
    }.mkString("[", ",", "]")
    // the failed list is capped like the outliers (a mass failure —
    // e.g. a missing fixture dir breaking 30 queries — would otherwise
    // put ~1 kB of names on the line and bust the budget even at
    // topK=0); failed_total discloses the true count and the full
    // list always goes to bench_detail.json
    val fs = failed.take(maxInlineFailed)
      .map(jstr).mkString("[", ",", "]")
    // cpus: the ACTUAL core count the run used (SPARK_GRAFT_CPUS) — the
    // driver's scaling probe compares low-core vs high-core runs, and
    // without this field the record doesn't say which is which (r19's
    // scaling block was adjudicated from a side file). 0 = unknown
    // (framing tests); omitted then, so old-line consumers are unchanged.
    val cpusField = if (cpus > 0) s""""cpus":$cpus,""" else ""
    def assemble(topK: Int): String = {
      val top = slowestFirst.take(topK)
      // the pinned scale probes ride along OUTSIDE the shrinkable topK
      // (two ~20-char entries — the budget loop still bounds the line)
      val pins = slowestFirst.filter { case (nm, _) =>
        pinnedDetail.contains(nm) && !top.exists(_._1 == nm) }
      s"""{"metric":"total","unit":"sec","sf":${jstr(sfDir)},$cpusField"failed_total":${failed.size},"failed":$fs,$probeJson,"outliers_total":${outliers.size},"outliers":$outlierJson,"queries":${dict(top ++ pins)},"ref_loaded":$refLoaded,"suspect":$suspect,"n":$n,"value":${ms(total)}}"""
    }
    // shrink the courtesy per-query map until the line fits the window
    Iterator.iterate(25)(_ - 5).takeWhile(_ >= 0).map(assemble)
      .find(_.length <= lineBudget)
      .getOrElse(assemble(0))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.envCpus
    // streaming micro-batch queries are checkpoint-fsync-bound at toy
    // scale; put feeds/checkpoints/state stores (Stage.tempDir) on
    // tmpfs, as a real cluster's executors use local SSD state dirs.
    // Correctness runs (Verify) keep the platform default — the
    // results are path-independent either way.
    if (!sys.props.contains("graft.tmp.root")) {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm))
        sys.props("graft.tmp.root") = shm.resolve("graft-bench").toString
    }
    val spark = Session.local(cpus)
    // causes of failures outside the timed queries (warmup, probes),
    // keyed `warmup:<name>` / `probe:<name>`; they go to
    // bench_detail.json with the timed queries' causes
    val untimedFailures = scala.collection.mutable.LinkedHashMap[String, String]()
    def untimed(key: String)(body: => Unit): Boolean =
      try { body; true }
      catch { case e: Throwable => untimedFailures(key) = cause(e); false }
    // untimed warmup: JIT/codegen + parquet reader init + first-touch
    // I/O on a FULL scan of every testdata table, so no measured query
    // is charged for JVM startup or cold page cache — which query pays
    // otherwise depends only on map iteration order. (At sf0.1 the
    // whole dataset is ~17 MB; a real cluster bench would instead warm
    // per-executor code paths with one canary query.)
    import graft.queries.Tables
    Tables.names(spark, sfDir).foreach { tbl =>
      untimed(s"warmup:$tbl")(Tables.table(spark, sfDir, tbl)
        .write.format("noop").mode("overwrite").save())
    }
    // and one aggregation/shuffle per engine path (codegen'd hash agg,
    // sort, exchange machinery), plus one canary per STREAMING engine
    // path: the micro-batch machinery (offset/commit logs, state-store
    // init, file-sink manifest, IncrementalExecution planning) and the
    // RocksDB provider (JNI load + instance init) are multi-second
    // first-touch costs that r18 charged to whichever c-query happened
    // to run first (measured: c9 first-run 9.2 s vs 2.3 s steady on
    // the same JVM). Same warmup discipline as the batch canaries —
    // per-query numbers then measure the operator, not JVM startup.
    Seq("p1_project", "e4_fingerprint", "e2_norms", "q1_agg",
      "c9_stream_window", "c23_stream_tws").foreach { w =>
      untimed(s"warmup:$w")(SparkEntry.queries(w)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
    }
    // SPARK_GRAFT_ONLY=a,b,c restricts the run (scale/regression
    // studies on a subset); the driver never sets it, so the judged
    // bench always covers every query
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    // failed query -> its cause
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // noop write materializes every output column (a count() would let
      // Catalyst prune the query down to a row-count scan)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => failed(name) = cause(e) }
      // operators persist stage boundaries (dedup candidates, shingle
      // frames); drop them so caches never accumulate across queries
      spark.catalog.clearCache()
      (System.nanoTime() - t0) / 1e9
    }
    // interleaved contention probe: a pure, already-warm query; never
    // one that stages a fixture on first touch (those re-run 50×+
    // faster by design and would always cry wolf). A failed probe is
    // counted, not timed: its time says nothing about contention.
    val probeFn = SparkEntry.queries.get("q1_agg")
    val probes = scala.collection.mutable.ListBuffer[Double]()
    var probesFailed = 0
    def probe(): Unit = probeFn.foreach { fn =>
      val t0 = System.nanoTime()
      if (untimed("probe:q1_agg")(
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()))
        probes += (System.nanoTime() - t0) / 1e9
      else probesFailed += 1
    }
    probe()
    val ordered = selected.toSeq
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    ordered.zipWithIndex.foreach { case ((name, fn), i) =>
      results(name) = timed(name, fn)
      if ((i + 1) % probeEvery == 0) probe()
    }
    probe()
    val spread = probeSpread(probes.toSeq)
    // reference-envelope outlier pass (committed clean per-query map).
    // The file is ALWAYS expected — r12's judged run executed from a
    // different working directory, the old relative-only lookup missed
    // it, and the whole defense silently no-oped. Resolution order:
    // explicit env var, cwd, then walking up from the compiled-classes
    // location (covers any sbt/jar launch dir). No machine-specific
    // absolute fallback: a stale copy at a hardcoded path on another
    // host would silently adjudicate against the WRONG envelope, and
    // ref_loaded>0 would mask it. `ref_loaded` is published in the
    // JSON and a zero-line load forces suspect:true, so a skipped
    // pass can never look clean.
    val refPath: Option[java.nio.file.Path] = {
      import java.nio.file.{Files, Path, Paths}
      val fromClasspath: Seq[Path] = try {
        val loc = Paths.get(Bench.getClass.getProtectionDomain
          .getCodeSource.getLocation.toURI)
        Iterator.iterate(loc)(_.getParent).takeWhile(_ != null).take(8)
          .map(_.resolve("BENCH_REF.json")).toSeq
      } catch { case _: Throwable => Seq.empty }
      (sys.env.get("SPARK_GRAFT_BENCH_REF").map(Paths.get(_)).toSeq ++
        Seq(Paths.get("BENCH_REF.json")) ++ fromClasspath)
        .find(Files.isReadable)
    }
    val ref: Map[String, Double] = refPath.map { p =>
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        // whitespace-tolerant: the committed envelope is pretty-printed
        // ("name": 1.23); the old exact-colon regex silently parsed it
        // to ZERO lines — the second half of the r12 no-op
        "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9][0-9.]*)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case e: Throwable =>
        System.err.println(s"[bench] envelope $p not read: ${cause(e)}")
        Map.empty[String, Double]
      }
    }.getOrElse(Map.empty)
    // (name, first, rerun, ref, adjudicated?)
    val outliers = scala.collection.mutable.ListBuffer[(String, Double, Double, Double, Boolean)]()
    if (ref.nonEmpty) {
      results.toSeq.foreach { case (name, first) =>
        // 2× trigger (was 3× through r13): the r13 driver window left
        // two sound plans inflated 2.5-2.6× with no in-run rerun —
        // a blind band. The staged-fixture false-positive guard below
        // (rerun < ref/3 ⇒ unadjudicated) already covers the cry-wolf
        // case the wider margin was protecting against.
        ref.get(name).filter(r =>
          !failed.contains(name) && first > 2 * r && first - r > 0.5)
          .foreach { r =>
            val rerun = timed(name, selected(name))
            // adjudicated ONLY when the rerun lands back inside the
            // envelope (<= 1.5x ref); a rerun that is merely "not a
            // staged-fixture rebuild" (>= ref/3) but still contended
            // must leave the outlier unadjudicated so suspect:true is
            // published — otherwise a persistently noisy host records
            // min(first, rerun) as a clean number
            val adjudicated = rerun >= r / 3 && rerun <= 1.5 * r
            if (adjudicated) results(name) = math.min(first, rerun)
            outliers += ((name, first, rerun, r, adjudicated))
          }
      }
    }
    // the session's effective state-store provider (Spark's default
    // when unset); Stage.drain runs each transformWithState stream on
    // RocksDB whatever this says
    val providerJson = jstr(spark.conf
      .get("spark.sql.streaming.stateStore.providerClass").split("\\.").last)
    val probeJson = s""""state_provider":$providerJson,"probes":{"n":${probes.size},"min":${ms(if (probes.isEmpty) 0 else probes.min)},"max":${ms(if (probes.isEmpty) 0 else probes.max)},"spread":${ms(spread)}}"""
    // full, uncapped outlier disclosure goes to bench_detail.json only
    val fullOutlierJson = outliers.map { case (n, f, r2, rf, adj) =>
      s"""{"name":${jstr(n)},"first":${ms(f)},"rerun":${ms(r2)},"ref":${ms(rf)},"adjudicated":$adj}"""
    }.mkString("[", ",", "]")
    // failed queries are listed separately (and excluded from the
    // headline total) so a query that throws instantly can never
    // masquerade as a sub-second success
    val ok = results.filterNot { case (k, _) => failed.contains(k) }
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    // ref.isEmpty => the envelope pass could not run; the number may be
    // fine, but nothing adjudicated it — disclose, don't vouch.
    val isSuspect = suspect(spread, probesFailed, failed.size, ok.size,
      outliers.count(!_._5), ref.size)
    val fs = failed.keys.map(jstr).mkString("[", ",", "]")
    val line = headlineJson(total, ok.size, sfDir,
      ok.toSeq.sortBy(-_._2), failed.keys.toSeq,
      probeJson, outliers.toSeq, ref.size, isSuspect, cpus)
    try {
      val p = java.nio.file.Paths.get("target", "bench_detail.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        s"""{"total":${ms(total)},"n":${ok.size},"cpus":$cpus,$probeJson,"ref_loaded":${ref.size},"outliers":$fullOutlierJson,"suspect":$isSuspect,"queries":${dict(ok.toSeq.sortBy(_._1))},"failed":$fs,"failure_causes":${strDict(failed)},"untimed_failures":${strDict(untimedFailures)},"sf":${jstr(sfDir)}}"""
          .getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench_detail.json not written: ${cause(e)}")
    }
    // silence any executor/shutdown logging that could land AFTER the
    // JSON line and push its start out of the consumer's tail window
    spark.sparkContext.setLogLevel("ERROR")
    println(line)
    System.out.flush()
    spark.stop()
  }
}

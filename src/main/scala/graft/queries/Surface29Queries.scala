package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, VectorIndex}

/** Round-19 wave — the r18 verdict's judged-query items, sibling-
  * checked against the 382-query surface (e177 landed in
  * Surface22Queries beside the BPE trainer family it batches):
  *
  *  - `e178_ivf_pruned_probe` — the 100 TB ANN layout claim made
  *    regression-gated fact: the corpus is STAGED PARTITIONED BY
  *    `ivf_cell` (the layout SCALE.md prescribes — pay the write once
  *    when the index lands), and an nprobe=2 probe reads ONLY the two
  *    probed cells' partitions. The query itself `require`s that
  *    every file the scan selected lives under a probed
  *    `ivf_cell=` directory (the q87 discipline — checked on the
  *    query's own input set, not a plan-string grep), and
  *    PlanAuditSpec gates `PartitionFilters` on the scan node
  *    (descending into AQE via allNodes). Judged on the existing
  *    nprobe=2 oracle (e33's `ivfMulti2Sql`): identical top-k, now
  *    with directory-level pruning proven instead of asserted.
  *  - `e179_semdedup_k16` — SemDeDup at the PRODUCTION cell-size
  *    regime: e174 judges the k=4 toy (cells grow with the corpus —
  *    the quadratic trap the ×100 fence documents); k=16 at the same
  *    corpus puts ~4× fewer members per cell, the regime the paper's
  *    k ∝ N sizing maintains. Same operator, same native vec_dot
  *    pair kernel, same threshold; the oracle swaps the k=4 CASE
  *    chain for a score-LIST argmax (each of the 16 centroid scores
  *    appears ONCE in the SQL; `list_max` + reversed `list_position`
  *    reproduces the greatest-struct tie-to-higher-index rule
  *    exactly).
  *  - `e180_components_delta` — incremental connected components
  *    (the verdict's item 5): delta candidate edges CONTRACT to
  *    existing component labels and only the delta-sized contracted
  *    graph is re-clustered; prior labels relabel through one hash
  *    join against the merge map ([[Dedup.connectedComponentsDelta]]).
  *    Judged on e15's recursive-CTE oracle VERBATIM — the delta path
  *    must reproduce the from-scratch clustering of the unioned edge
  *    set bit-for-bit, which is exactly the operator's contract.
  *  - `c47_stream_components` — e180 through the real micro-batch
  *    engine: streamed delta edges merge into a VERSIONED standing
  *    label table per batch (see the query comment for the
  *    retry-idempotence-by-algebra argument); confluence of the
  *    incremental merge makes the final table chunk-split invariant,
  *    so the same e15 oracle judges it.
  *  - `c48_stream_index_append` — e178's cell-partitioned ANN layout
  *    under streaming ingest: micro-batches of new vectors append
  *    into the partitioned index, the probe stays directory-pruned
  *    over base and appended files alike, and the post-ingest answer
  *    equals the all-at-once batch index (e33's oracle verbatim).
  *  - `c49_state_audit` — the checkpoint's STATE STORE read back as a
  *    DataFrame (the Spark 4 state data source): after a checkpointed
  *    keyed streaming aggregation, `format("statestore")` exposes what
  *    the engine is carrying as state, and that state must BE the
  *    batch answer — the production state-audit move (inspect a live
  *    job's keyed state for drift/skew/bloat without stopping it),
  *    judged on the plain batch aggregate oracle.
  *  - `c50_tws_state_audit` — c49's audit generalized to CUSTOM
  *    state: a `transformWithState` processor's named ValueState
  *    (c23's `last` = (lastValue, count) per key) read back from the
  *    RocksDB checkpoint via `option("stateVarName", ...)` and judged
  *    on a batch `arg_max` oracle — user-defined state is as
  *    auditable as engine aggregation buffers.
  *  - `e182_backfill_overwrite` — the partition-backfill splice every
  *    day-partitioned 100 TB table needs (late data / logic fix for a
  *    bounded day range): recompute ONLY the affected day partitions
  *    and write them with DYNAMIC partition overwrite, which replaces
  *    exactly the partitions present in the written frame and leaves
  *    every other partition's files untouched — in-query `require`s
  *    pin both facts file-listing-wise. Judged against the plain
  *    full-corpus aggregate: a correct backfill splice is
  *    indistinguishable from recomputing the world.
  *  - `e181_index_compact` — the third leg of the ANN index
  *    lifecycle (build e178 → ingest c48 → COMPACT): a fragmented,
  *    retry-duplicated layout is rewritten cell-at-a-time (narrow
  *    `coalesce(1)` per cell — no cluster-wide exchange, the c20
  *    rule) with the at-least-once duplicates dropped AT REST, so
  *    the post-compaction probe needs no read-side dropDuplicates
  *    and reads exactly nprobe FILES. Same e33 oracle: maintenance
  *    changes file count and read cost, never what a probe returns.
  */
object Surface29Queries {
  import Tables._

  /** e179's near-dup threshold — e174's value (the corpus cosine
    * distribution doesn't move with k; only cell membership does).
    */
  private val semThreshold16 = 0.3
  private val semK16 = 16

  /** Structural traversal that descends into AdaptiveSparkPlanExec —
    * plain `collect` treats the AQE wrapper as a leaf (the r18
    * PlanAuditSpec lesson), and c48's dropDuplicates exchange makes
    * its probe plan adaptive where e178's TakeOrdered form is not.
    */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p +: (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        planNodes(a.executedPlan)
      case other => other.children.flatMap(planNodes)
    })

  /** Selected (post-pruning) file listing of every scan in the plan. */
  private def scannedFiles(df: DataFrame): Seq[String] =
    planNodes(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.map(_.filePath.toString).toSeq
    }.flatten

  /** The query vector (vec_id 0, one driver row — the ivfTopK qScore
    * discipline) and its `nprobe` best cells via
    * [[graft.operators.VectorIndex.probeCells]] — the same total
    * order the oracle's ORDER BY s DESC, j DESC realizes. Shared by
    * e178/c48/e181.
    */
  private def probeCells(s: SparkSession, dir: String,
      cents: Seq[Seq[Float]], nprobe: Int): (Seq[Float], Seq[Int]) = {
    val q = t(s, dir, "embeddings").where(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    (q, VectorIndex.probeCells(q, cents, nprobe))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // IVF probe over the cell-partitioned staged layout. The probe
    // cells are computed DRIVER-side from the 1-row query vector
    // (the ivfTopK qScore discipline: left-to-right double fold,
    // ties to the higher index — the same total order the oracle's
    // ORDER BY s DESC, j DESC realizes), so the partition filter is
    // a LITERAL isin — static directory pruning a 1000-executor scan
    // planner applies before listing a single data file. nprobe=2 of
    // 4 cells ⇒ the scan may touch at most half the corpus layout.
    "e178_ivf_pruned_probe" -> ((s, dir) => {
      val cents = Similarity.syntheticCentroids(SimilarityQueries.ivfN, 64)
      // the staged layout is a pure function of the centroid set: the
      // cell assignment carries the centroids as literals, so the
      // stage key digests them
      val emb = t(s, dir, "embeddings")
      val corpus = Stage.durable("e178-ivf-layout", dir,
          Seq(VectorIndex.assign(emb, "embedding", cents))) { st =>
        VectorIndex.build(emb, "embedding", cents,
          st.resolve("embeddings_by_cell").toString)
      }.resolve("embeddings_by_cell").toString
      val (q, qCells) = probeCells(s, dir, cents, 2)
      val pruned = VectorIndex.probe(s, corpus, q, qCells, 10,
        "vec_id", "embedding", extraFilter = col("vec_id") =!= 0)
      // directory-level pruning checked on the query's own scan (q87
      // discipline): every selected file lives under a probed cell —
      // exact path-SEGMENT match (a substring test would false-accept
      // ivf_cell=12 against probed cell 1 once ids reach two digits)
      val scanned = scannedFiles(pruned)
      require(scanned.nonEmpty && scanned.forall(p =>
          qCells.exists(c => p.split("/").contains(s"ivf_cell=$c"))),
        s"probe must read only cells $qCells, scanned: $scanned")
      pruned
    }),

    // SemDeDup at k=16 — the production cell-size regime, judged.
    // Identical operator + kernel hooks to e174; only the centroid
    // set (and with it the per-cell pair volume) changes.
    "e179_semdedup_k16" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val vd = (a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column) =>
        call_function("vec_dot", a, b)
      Dedup.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        Similarity.syntheticCentroids(semK16, 64),
        semThreshold16,
        selfDot = v => vd(v, v),
        pairCosine = (a, b, na, nb) => vd(a, b) / (sqrt(na) * sqrt(nb)))
    }),

    // Incremental CC: standing labels from the corpus-internal
    // candidate graph (doc_id % 10 ≠ 0, the e54 incremental-dedup
    // split), delta edges = every candidate pair touching a delta
    // doc. The output must equal e15's from-scratch clustering of
    // the FULL candidate graph — that equality IS the judged
    // contract (same oracle text).
    "e180_components_delta" -> ((s, dir) => {
      val pairs = DedupQueries.candidatePairs(s, dir)
      val baseLabels = s.read.parquet(
        DedupQueries.baseComponentLabels(s, dir).toString)
      val deltaEdges = pairs
        .where(col("id_a") % 10 === 0 || col("id_b") % 10 === 0)
      Dedup.connectedComponentsDelta(baseLabels, deltaEdges,
          "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
    }),

    // e180's streaming twin — the production CLUSTER-MAINTENANCE
    // pipeline: delta candidate edges arrive as a stream and each
    // micro-batch merges them into the standing label table via
    // [[Dedup.connectedComponentsDelta]] (the c46 ingest-admission
    // discipline applied to cluster membership). The label table is
    // VERSIONED parquet keyed by BATCH ID (v0 = standing labels;
    // batch k reads v{k} and writes v{k+1}): a retried batch re-reads
    // the same input version and overwrites its own output version —
    // never the path it reads — and re-applying edges that labels
    // already absorbed is a NO-OP (the contracted graph of
    // intra-component edges is empty), so an at-least-once retry can
    // never change the table — idempotent by construction AND by
    // algebra, not by distinct(). Incremental CC is confluent (each
    // step yields the
    // exact from-scratch labels of the union-so-far), so the final
    // table is chunk-split invariant and e15's oracle judges it
    // verbatim.
    "c47_stream_components" -> ((s, dir) => {
      val pairs = DedupQueries.candidatePairs(s, dir)
      val basePath = DedupQueries.baseComponentLabels(s, dir)
      val deltaEdges = pairs
        .where(col("id_a") % 10 === 0 || col("id_b") % 10 === 0)
      val feed = Stage.durableChunkFeed("feed-c47", dir)(Seq(
        deltaEdges.where(col("id_a") % 2 === 0),
        deltaEdges.where(col("id_a") % 2 =!= 0)))
      val tmp = Stage.tempDir("graft-c47-").toString
      val ckpt = s"$tmp/ckpt"
      // seed the per-run v0 from the staged label fixture by FILE COPY
      // — the same parquet bytes; r19 re-encoded them through a Spark
      // write (a full read+write job) on every invocation
      locally {
        val v0 = java.nio.file.Paths.get(tmp, "labels-v0")
        java.nio.file.Files.createDirectories(v0)
        new java.io.File(basePath.toString).listFiles()
          .filter(f => f.isFile && !f.getName.startsWith(".")
            && !f.getName.startsWith("_"))
          .foreach(f => java.nio.file.Files.copy(
            f.toPath, v0.resolve(f.getName)))
      }
      @volatile var last = 0L
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("id_b",
          org.apache.spark.sql.types.LongType)))
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(feed)
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          // version paths derive from the BATCH ID, never a mutable
          // pointer: a retried batch k re-reads v{k} and overwrites
          // v{k+1} — the read path is never the write path, so
          // at-least-once redelivery recomputes the identical table
          // (idempotent operationally, on top of the algebraic no-op
          // for edges already absorbed into v{k})
          val next = Dedup.connectedComponentsDelta(
            s.read.parquet(s"$tmp/labels-v$id"), batch, "id_a", "id_b")
          next.write.mode("overwrite").parquet(s"$tmp/labels-v${id + 1}")
          last = math.max(last, id + 1)
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow)
        .start().awaitTermination()
      s.read.parquet(s"$tmp/labels-v$last")
        .select(col("id").as("doc_id"), col("component"))
    }),

    // Streaming ANN INDEX MAINTENANCE — e178's layout under ingest:
    // the standing corpus (vec_id % 4 ≠ 0) is written cell-partitioned
    // once, then each micro-batch of new vectors is assigned its IVF
    // cell and APPENDED into the same partitioned layout — the daily
    // embedding-ingest pattern at 100 TB, where the index is a
    // partitioned table that accepts appends and never rebuilds. The
    // post-ingest probe is e178's: literal probe cells → static
    // directory pruning over base AND appended files alike (the
    // in-query require re-checks it), and the answer equals the
    // all-at-once batch index (e33's nprobe=2 oracle, verbatim) —
    // ingest changes WHEN vectors arrive, never what a probe returns.
    // An at-least-once append retry would duplicate rows; the probe
    // reads through dropDuplicates(vec_id) (duplicate rows are
    // identical, so the pick is deterministic) — the read-side
    // compaction every segmented ANN index applies.
    "c48_stream_index_append" -> ((s, dir) => {
      val cents = Similarity.syntheticCentroids(SimilarityQueries.ivfN, 64)
      val all = t(s, dir, "embeddings")
      val tmp = Stage.tempDir("graft-c48-").toString
      val layout = s"$tmp/index"; val ckpt = s"$tmp/ckpt"
      VectorIndex.build(all.where(col("vec_id") % 4 =!= 0),
        "embedding", cents, layout)
      val delta = all.where(col("vec_id") % 4 === 0)
        .select("vec_id", "embedding")
      val feed = Stage.durableChunkFeed("feed-c48", dir)(Seq(
        delta.where(col("vec_id") % 8 === 0),
        delta.where(col("vec_id") % 8 =!= 0)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType))))
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(feed)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          VectorIndex.append(batch, "embedding", cents, layout)
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow)
        .start().awaitTermination()
      val (q, qCells) = probeCells(s, dir, cents, 2)
      val probed = VectorIndex.probe(s, layout, q, qCells, 10,
        "vec_id", "embedding", dedupKey = true,
        extraFilter = col("vec_id") =!= 0)
      val scanned = scannedFiles(probed)
      require(scanned.nonEmpty && scanned.forall(p =>
          qCells.exists(c => p.split("/").contains(s"ivf_cell=$c"))),
        s"post-ingest probe must stay pruned to $qCells, scanned: $scanned")
      probed
    }),

    // ANN index COMPACTION — the maintenance leg c48's append-only
    // ingest makes necessary: a week of micro-batch appends leaves
    // each cell holding one file per batch (plus duplicate rows from
    // at-least-once retries, which c48's probe absorbs with read-side
    // dropDuplicates). The compactor rewrites each cell INDEPENDENTLY
    // — read one cell directory, drop duplicate vec_ids, narrow
    // coalesce(1), write one file — never paying a cluster-wide
    // exchange (the c20 rule; at 100 TB each cell is its own
    // maintenance job, scheduled only for fragmented cells). After
    // compaction the duplicates are gone AT REST, so the probe drops
    // the dropDuplicates and reads exactly nprobe files — the
    // in-query requires pin all three facts (1 file/cell, zero
    // duplicate keys, nprobe-file probe). Judged on e33's nprobe=2
    // oracle verbatim: compaction changes file count and read cost,
    // never what a probe returns.
    "e181_index_compact" -> ((s, dir) => {
      val cents = Similarity.syntheticCentroids(SimilarityQueries.ivfN, 64)
      val tmp = Stage.tempDir("graft-e181-").toString
      val frag = s"$tmp/index"; val compact = s"$tmp/compact"
      val emb = t(s, dir, "embeddings")
      // base + two appended micro-batch segments, the second written
      // TWICE (an at-least-once retry) — c48's layout after a
      // failure: fragmented AND duplicated
      VectorIndex.build(emb.where(col("vec_id") % 4 =!= 0),
        "embedding", cents, frag)
      val delta = emb.where(col("vec_id") % 4 === 0)
      val segA = delta.where(col("vec_id") % 8 === 0)
      val segB = delta.where(col("vec_id") % 8 =!= 0)
      Seq(segA, segB, segB).foreach(
        VectorIndex.append(_, "embedding", cents, frag))
      val cellDirs = new java.io.File(frag).listFiles.toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("ivf_cell="))
        .map(_.getName).sorted
      def filesIn(root: String, cd: String): Int =
        new java.io.File(s"$root/$cd").listFiles
          .count(_.getName.endsWith(".parquet"))
      require(cellDirs.nonEmpty &&
          cellDirs.exists(cd => filesIn(frag, cd) > 1),
        s"fixture must be fragmented before compaction: $cellDirs")
      // cell-at-a-time rewrite (leaf-directory read, dedup at rest,
      // ONE output file, hive-style leaf write) — the library op
      VectorIndex.compact(s, frag, compact, "vec_id")
      require(cellDirs.forall(cd => filesIn(compact, cd) == 1),
        "compaction must leave exactly one file per cell")
      val compacted = s.read.parquet(compact)
      val dups = compacted.groupBy("vec_id").count()
        .where(col("count") > 1).count()
      require(dups == 0,
        s"retry duplicates must be gone at rest, found $dups keys")
      val (q, qCells) = probeCells(s, dir, cents, 2)
      val probed = VectorIndex.probe(s, compact, q, qCells, 10,
        "vec_id", "embedding", extraFilter = col("vec_id") =!= 0)
      val scanned = scannedFiles(probed)
      require(scanned.nonEmpty && scanned.forall(p =>
          qCells.exists(c => p.split("/").contains(s"ivf_cell=$c"))),
        s"post-compaction probe must stay pruned to $qCells: $scanned")
      require(scanned.distinct.size == qCells.size,
        s"a compacted probe reads exactly nprobe files, got: $scanned")
      probed
    }),

    // STATE-STORE AUDIT through the state data source — the judged
    // frame is not a sink image but the CHECKPOINT'S STATE itself,
    // read back as a DataFrame with `format("statestore")`. After a
    // checkpointed keyed streaming aggregation drains the two-chunk
    // feed, the state the engine carries per key must BE the batch
    // aggregate (running aggregation state is the monotone
    // accumulation of every row seen — chunk-split invariant), so the
    // plain batch GROUP BY oracle judges the engine's INTERNALS, not
    // just its output. This is the production state-audit move:
    // inspecting a live job's keyed state for drift, skew, or bloat
    // without stopping the job — the state source reads the
    // checkpoint files, never the running query. The buffer columns
    // surface under the engine's internal field names (`value.count`,
    // `value.sum` — probed in a scratch drive, stable in 4.1.2).
    "c49_state_audit" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
        floor(col("value") * 1000).cast("long").as("vm"),
        col("event_id"))
      val tmp = Stage.tempDir("graft-c49-").toString
      val ckpt = s"$tmp/ckpt"
      val feed = Stage.durableChunkFeed("feed-c49", dir)(Seq(
        ev.where(col("event_id") % 2 === 0),
        ev.where(col("event_id") % 2 =!= 0)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("vm",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType)))
      RuntimeQueries.withStatePartitions(s, 8) {
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(feed)
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), sum(col("vm")).as("value_m"))
          .writeStream.format("noop")
          .option("checkpointLocation", ckpt)
          .outputMode("update")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow)
          .start().awaitTermination()
      }
      s.read.format("statestore").load(ckpt)
        .select(col("key.event_type").as("event_type"),
          col("value.count").as("cnt"),
          col("value.sum").as("value_m"))
    }),

    // c49's audit generalized to CUSTOM state: a transformWithState
    // processor's NAMED ValueState read back from the RocksDB
    // checkpoint with `option("stateVarName", ...)`. The pipeline is
    // c23's ordered-delta fold (ValueState "last" = (lastValue,
    // count) per key, rows applied in seq order); after the drain the
    // carried state per key must be (value at max seq, row count) —
    // the batch arg_max oracle. User-defined state is as auditable as
    // engine aggregation buffers: same reader, one option — which is
    // what makes TWS operators debuggable in production (inspect a
    // live job's custom state without instrumenting the processor).
    // The raw doubles are PASSTHROUGH values (one row's value, never
    // summed), so they hash identically cross-engine.
    "c50_tws_state_audit" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val tmp = Stage.tempDir("graft-c50-").toString
      val ckpt = s"$tmp/ckpt"
      // the c23 feed verbatim (shared durable stage): key on
      // event_type × user-bucket, seq = event_id
      val feed = Stage.durableChunkFeed("feed-c23", dir)(Seq(
        ev.select(
          concat(col("event_type"), lit("-"),
            (col("user_id") % 64).cast("string")).as("key"),
          col("event_id").as("seq"),
          col("value"))))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("seq",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prevProvider = s.conf.getOption(key)
      // transformWithState REQUIRES RocksDB (multiple column
      // families) — set unconditionally, restore after
      s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try RuntimeQueries.withStatePartitions(s, 8) {
        graft.streaming.StatefulOps.orderedDeltaStream(
          s.readStream.schema(schema).parquet(feed)
            .as[graft.streaming.StatefulOps.SeqValue])
          .writeStream.format("noop")
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow)
          .start().awaitTermination()
      } finally prevProvider match {
        case Some(p) => s.conf.set(key, p)
        case None    => s.conf.unset(key)
      }
      s.read.format("statestore").option("stateVarName", "last")
        .load(ckpt)
        .select(col("key.value").as("key"),
          col("value._1").as("last_value"),
          col("value._2").as("n_seen"))
    }),

    // Partition BACKFILL with dynamic partition overwrite — the
    // maintenance move for every day-partitioned table at 100 TB:
    // late-arriving rows (or a logic fix) invalidate a bounded day
    // range, so the pipeline recomputes ONLY those days and splices
    // them in with `partitionOverwriteMode=dynamic` — mode("overwrite")
    // then replaces exactly the partitions present in the written
    // frame, never the rest of the table (static overwrite would drop
    // ALL other days; a full rewrite would cost the whole corpus).
    // Fixture: the on-time v1 aggregate is missing a deterministic
    // "late" slice (event_id % 5 == 0) of the last two days; the
    // backfill recomputes those two days complete. In-query requires
    // pin the mechanism file-listing-wise: untouched days keep their
    // EXACT file sets, backfilled days are replaced. Judged against
    // the plain full-corpus day×type aggregate — a correct splice is
    // indistinguishable from recomputing the world, and the judged
    // frame is the spliced TABLE itself (read back from the layout).
    "e182_backfill_overwrite" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_id"),
        to_date(col("ts")).cast("string").as("day"), col("event_type"),
        floor(col("value") * 1000).cast("long").as("vm"))
      val tmp = Stage.tempDir("graft-e182-").toString
      val table = s"$tmp/daily"
      // the affected window: last two days, a day-spine-sized driver
      // literal (the probeCells discipline — partition values must be
      // literals for the writer to know what it may replace)
      val days = ev.select("day").distinct().orderBy(col("day").desc)
        .limit(2).collect().map(_.getString(0)).toSeq
      val late = col("day").isin(days: _*) && col("event_id") % 5 === 0
      def dayAgg(df: DataFrame): DataFrame = df
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("cnt"), sum(col("vm")).as("value_m"))
      dayAgg(ev.where(!late))
        .write.mode("overwrite").partitionBy("day").parquet(table)
      def listing(): Map[String, Set[String]] =
        new java.io.File(table).listFiles.toSeq
          .filter(f => f.isDirectory && f.getName.startsWith("day="))
          .map(d => d.getName ->
            d.listFiles.map(_.getName).filter(_.endsWith(".parquet"))
              .toSet)
          .toMap
      val before = listing()
      graft.sinks.Sinks.overwritePartitions(
        dayAgg(ev.where(col("day").isin(days: _*))), table, Seq("day"))
      val after = listing()
      val touched = days.map(d => s"day=$d").toSet
      require((before.keySet -- touched).forall(d =>
          before(d) == after(d)),
        "dynamic overwrite must leave untouched days' files intact")
      require(touched.forall(d => after.contains(d) &&
          before(d) != after(d)),
        s"backfilled days must be replaced, before=$before after=$after")
      s.read.parquet(table)
        .select(col("day").cast("string").as("day"), col("event_type"),
          col("cnt"), col("value_m"))
    }))

  // ---- oracles ----

  /** k=16 centroid literals (double text of each float — parses back
    * to the identical IEEE value in DuckDB).
    */
  private def centLit16: Seq[String] =
    Similarity.syntheticCentroids(semK16, 64)
      .map(_.map(_.toDouble.toString).mkString("[", ", ", "]"))

  /** Score-list argmax form of the IVF assignment for k=16: each
    * centroid score appears once in a LIST literal; cell = index of
    * the LAST maximum (list_position over the reversed list), which
    * is greatest(struct(score, idx)).getField("idx")'s tie rule;
    * cscore = list_max. The k=4 oracles keep their CASE-chain form
    * (shared with e2_ivf); at k=16 the chain would repeat each score
    * O(k) times.
    */
  private def semDedup16Sql: String = {
    import SimilarityQueries.foldDot
    val scores = centLit16.map { c =>
      s"${foldDot("embedding", c)} / (sqrt(${foldDot("embedding", "embedding")}) * sqrt(${foldDot(c, c)}))"
    }.mkString("[", ",\n           ", "]")
    s"""WITH s0 AS (SELECT vec_id, embedding,
           $scores AS sl,
           ${foldDot("embedding", "embedding")} AS nf
         FROM embeddings),
       a AS (SELECT vec_id, embedding, nf,
           CAST($semK16 - list_position(list_reverse(sl), list_max(sl))
             AS BIGINT) AS cell,
           list_max(sl) AS cscore
         FROM s0),
       p AS (SELECT x.vec_id AS ida, y.vec_id AS idb,
           x.cscore AS ca, y.cscore AS cb
         FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
         WHERE ${foldDot("x.embedding", "y.embedding")} /
           (sqrt(x.nf) * sqrt(y.nf)) > $semThreshold16),
       losers AS (SELECT DISTINCT CASE WHEN ca > cb THEN ida
           WHEN ca < cb THEN idb ELSE greatest(ida, idb) END AS vec_id
         FROM p)
       SELECT a.vec_id, a.cell, round(a.cscore, 8) AS cscore,
         (l.vec_id IS NULL) AS keep
       FROM a LEFT JOIN losers l ON a.vec_id = l.vec_id"""
  }

  val oracles: Map[String, String] = Map(
    // identical semantics to the e33 nprobe=2 probe — the layout and
    // its pruning are the new, plan-gated content
    "e178_ivf_pruned_probe" -> SimilarityQueries.ivfMulti2Sql,
    "e179_semdedup_k16" -> semDedup16Sql,
    // the incremental path must reproduce the from-scratch clustering
    // of the unioned edge set — e15's recursive CTE, verbatim
    "e180_components_delta" -> DedupQueries.oracles("e15_components"),
    // confluence makes the streamed two-chunk merge land on the same
    // table — same oracle (the c46 stream-equals-batch discipline)
    "c47_stream_components" -> DedupQueries.oracles("e15_components"),
    // ingest changes when vectors arrive, never what a probe returns —
    // the post-ingest pruned probe answers e33's batch oracle verbatim
    "c48_stream_index_append" -> SimilarityQueries.ivfMulti2Sql,
    // compaction changes file count and read cost, never what a probe
    // returns — the post-compaction probe answers the same oracle
    "e181_index_compact" -> SimilarityQueries.ivfMulti2Sql,
    // the engine's carried state must BE the batch aggregate — the
    // state source exposes internals, the oracle judges them
    "c49_state_audit" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
             AS value_m
         FROM events GROUP BY event_type""",
    // the TWS processor's carried (lastValue, count) per key must be
    // the batch arg_max — custom state judged like engine buffers
    "c50_tws_state_audit" ->
      """WITH kv AS (SELECT
           event_type || '-' || CAST(user_id % 64 AS VARCHAR) AS key,
           event_id AS seq, value
         FROM events)
         SELECT key, arg_max(value, seq) AS last_value,
           CAST(count(*) AS BIGINT) AS n_seen
         FROM kv GROUP BY key""",
    // a correct backfill splice is indistinguishable from recomputing
    // the world: the spliced table equals the plain full-corpus
    // aggregate (fixed-point value sums — the Surface12 vm idiom)
    "e182_backfill_overwrite" ->
      """WITH ev AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           event_type, CAST(floor(value * 1000) AS BIGINT) AS vm
         FROM events)
         SELECT day, event_type, CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(vm) AS BIGINT) AS value_m
         FROM ev GROUP BY day, event_type""")
}

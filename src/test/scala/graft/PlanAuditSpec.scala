package graft

/** Permanent plan gate over the WHOLE judged surface: every
  * `SparkEntry.queries` plan is built against sf0.001 and must not
  * contain a `CartesianProduct` or a `BroadcastNestedLoopJoin` outside
  * the explicit whitelist below — the automated form of the judge's
  * per-round crossJoin audit. A whitelisted plan is one whose
  * nested-loop side is PROVABLY bounded: a 1-row aggregate scalar or a
  * fixed broadcast probe/code table, never a corpus-sized relation.
  * The whitelist is checked both ways (an entry whose plan no longer
  * trips the scan is stale and fails), so it can only ever shrink
  * honestly or grow with a written justification.
  */
class PlanAuditSpec extends SparkSpec {
  /** name -> why the nested-loop join is bounded. */
  private val whitelist: Map[String, String] = Map(
    "e2_topk" ->
      "crossJoin against the broadcast 1-row query vector",
    "e2_topk_double" ->
      "crossJoin against the broadcast 1-row query vector",
    "e2_topk_native" ->
      "crossJoin against the broadcast 1-row query vector",
    "e52_filtered_topk" ->
      "crossJoin against the broadcast 1-row query vector",
    "e33_ivf_probe2" ->
      "corpus x broadcast probe-cell list (<= nprobe rows)",
    "e69_pq_adc" ->
      "codes x broadcast 1-row query (ADC distance-table probe)",
    "e72_bitext_margin" ->
      ("source x broadcast candidate batch (bounded mining batch, MBs " +
        "at any corpus scale; corpus x corpus goes through e56's LSH)"),
    "e75_hard_negatives" ->
      ("corpus x broadcast query batch (vec_id % 100, bounded) with " +
        "non-equi label predicate"),
    "e16_tfidf" ->
      "crossJoin against the broadcast 1-row doc-count scalar (IDF)",
    "e116_benford" ->
      "crossJoin against the broadcast 1-row digit-total scalar",
    "e117_collocations" ->
      "crossJoin against the broadcast 1-row token-total scalar",
    "q50_gapfill" ->
      "crossJoin against the broadcast 12-row month spine",
    "e47_dup_triangles" ->
      "crossJoin against broadcast 1-row edge/node totals",
    "e50_tokenize" ->
      "broadcast top-1000 vocab self-join (fixed vocab bound)",
    "e57_random_projection" ->
      ("range spine (16 rows) + broadcast fixed sign matrix and " +
        "per-lang bounds (|langs| rows)"),
    "q29_range_join" ->
      "non-equi range join against the broadcast 3-row band table",
    "e36_curriculum" ->
      "Rank.withGlobalRowNumber: broadcast 1-row total-count scalar",
    "q53_ntile" ->
      "Rank.withGlobalRowNumber: broadcast 1-row total-count scalar",
    "q63_rank_weeks" ->
      "Rank.withGlobalRowNumber: broadcast 1-row total-count scalar",
    "q15_scalar" ->
      "crossJoin against the broadcast 1-row global-average scalar",
    "q104_join_card" ->
      "crossJoin of two broadcast 1-row aggregates (exact vs estimate)",
    "e78_source_drift" ->
      "crossJoin against the broadcast 1-row corpus-total scalar",
    "e24_ann_recall" ->
      "recall audit: broadcast exact-topk result (k rows) vs approx",
    "e34_ivf_recall" ->
      "recall audit: broadcast exact-topk result (k rows) vs approx",
    "e25_exact_contam" ->
      "corpus x broadcast fixed probe set (~5 rows) by design",
    "e26_vocab_coverage" ->
      "coverage ratio: broadcast 1-row total-occurrence scalar",
    "e96_bm25" ->
      "crossJoin against the broadcast 1-row (n_docs, sum_dl) scalar",
    "e99_hll_merge" ->
      "crossJoin of two broadcast 1-row aggregates (exact vs sketch)",
    "e103_ks_pairs" ->
      "crossJoin against the broadcast 1-row sample-size totals",
    "e104_mannwhitney" ->
      "crossJoin against the broadcast 1-row sample-size totals",
    "e111_vocab_coverage" ->
      "Rank.withGlobalRowNumber: broadcast 1-row total-count scalar",
    "q121_cusum" ->
      ("withGlobalCumsums triangular offset join (partitions-sized, " +
        "broadcast) plus broadcast 1-row (days, total) scalar"),
    "e119_t_closeness" ->
      "crossJoin against the broadcast 1-row corpus-total scalar",
    "e122_cvm" ->
      "crossJoin against the broadcast 1-row (n, m) sample-size totals",
    "q123_mann_kendall" ->
      ("triangular pair join of the calendar-bounded daily frame " +
        "(days choose 2) plus broadcast 1-row totals"),
    "e125_dsir_weights" ->
      "crossJoin against the broadcast 1-row (N_raw, N_tgt) totals",
    "q124_theil_sen" ->
      ("triangular pair join of the calendar-bounded daily frame " +
        "(the q123 shape) plus Rank.withGlobalRowNumber's broadcast " +
        "1-row total and the broadcast 1-row n_days scalar"),
    // e129_matryoshka_recall / e131_hash_uniformity: since the r15
    // advice fix, both materialize their (3-row / 1-row) result via an
    // eager localCheckpoint so the corpus-sized/staged cache can be
    // unpersisted at query end; the returned lineage is therefore a
    // materialized scan and their bounded nested-loop shapes (crossJoin
    // vs the broadcast 1-row query vector; the 100-bucket triangular
    // cumsum) execute at construction, outside this audit's plan — the
    // shapes stay documented at the query definitions.
    "e130_hellinger_drift" ->
      ("pairwise non-equi join of the sources-sized language-profile " +
        "frame against its broadcast self (|sources| rows at any scale)"),
    "q126_runs_test" ->
      ("triangular next-day struct-min and count-histogram cumsum " +
        "joins over the calendar-bounded day spine (the q123 shape) " +
        "plus broadcast 1-row median/total scalars"),
    "e135_hubness" ->
      ("corpus x broadcast FIXED 63-vector probe panel (bounded at " +
        "any corpus scale, the e25 probe-set shape) plus the " +
        "broadcast 1-row corpus-total scalar"),
    "c41_stream_topk" ->
      "crossJoin against the broadcast 1-row heavy-hitter total scalar",
    "e136_ann_mrr" ->
      ("exact-side scoring: corpus x broadcast FIXED 63-vector probe " +
        "panel (the e135/e25 probe-set shape); the ANN side is an " +
        "LSH-bucket equi-join"),
    "e138_dup_census" ->
      "crossJoins of three broadcast 1-row pair-count scalars",
    "e139_anisotropy" ->
      ("crossJoins against the broadcast 1-row (centroid, n) frame " +
        "and the 1-row quantized-cosine sum"),
    "e140_langid_kappa" ->
      "crossJoin against the broadcast 1-row pe_num scalar",
    "e143_dsir_gains" ->
      ("broadcast triangular cumsum over the 10-row per-decile frame " +
        "(eagerly materialized) plus the broadcast 1-row totals; " +
        "Rank's own bounded shapes execute at construction behind the " +
        "localCheckpoint"),
    "e144_temperature_mix" ->
      "crossJoin against the broadcast 1-row (t_tok, t_qs) totals",
    "e145_hits" ->
      "crossJoin against the broadcast 1-row authority-total scalar",
    "e146_rrf_fusion" ->
      ("non-equi rank triangles over the two eagerly-materialized " +
        "10-row top-k lists (broadcast both sides)"),
    "c42_stream_mix" ->
      ("mixReport's crossJoin against the broadcast 1-row " +
        "(t_tok, t_qs) totals, over the |sources|-row counter image"),
    "e147_poisson_bootstrap" ->
      ("corpus x broadcast FIXED 32-row replicate spine (the e57 " +
        "spine shape) plus the broadcast 1-row full-sample totals"),
    "e148_power_iteration" ->
      ("crossJoins against the broadcast 1-row (mu, n) / v-iterate " +
        "frames and the 1-row lambda/trace summary"),
    "e149_modularity" ->
      "crossJoin against the broadcast 1-row edge-count scalar",
    "e151_binary_recall" ->
      ("crossJoins against the broadcast 1-row query vector and the " +
        "1-row Hamming-radius scalar"),
    "e152_rbo" ->
      ("non-equi rank triangles over the two eagerly-materialized " +
        "10-row top-k lists plus the broadcast 1-row query vector"),
    "e153_neyman_alloc" ->
      "crossJoin against the broadcast 1-row weight-total scalar",
    "e155_kendall_w" ->
      ("10x10 rank triangles over the eagerly-materialized pool plus " +
        "crossJoins of broadcast 1-row scalars (n, deviation, ties)"),
    "e157_wilcoxon" ->
      ("|distinct diffs| histogram triangle over the calendar-bounded " +
        "daily-pair frame (the q126 shape)"),
    "e158_classifier_report" ->
      "crossJoin against the broadcast 1-row confusion-total scalar",
    "e159_permutation_test" ->
      ("day spine x broadcast FIXED 64-row replicate spine (the e147 " +
        "shape) plus the broadcast 1-row observed-statistic scalar"),
    "e160_jackknife" ->
      ("crossJoins against broadcast 1-row totals over the G-row " +
        "bucket frame"),
    "e161_conformal" ->
      ("crossJoin against the broadcast 1-row calibrated-quantile " +
        "scalar (Rank's bounded shapes execute at construction " +
        "behind the localCheckpoint)"),
    "e162_did" ->
      "crossJoin against the broadcast 1-row (lo, hi) time-range scalar",
    "e164_bpe_sampled" ->
      ("crossJoin against the broadcast 1-row sampled-histogram " +
        "type-count scalar"),
    "e165_heaps_growth" ->
      "crossJoin against the broadcast 1-row nested-sample doc counts",
    "e169_skyline" ->
      ("strict-dominance prefix-max triangle over the n_chars-domain " +
        "histogram (domain-bounded rows, the q123/q126 shape)"),
    "e170_cuped" ->
      "crossJoin against the broadcast 1-row (lo, hi) time-range scalar",
    "e171_mase" ->
      "crossJoin against the broadcast 1-row day-count scalar",
    "e172_changepoint" ->
      ("prefix-sum triangle over the calendar-bounded day spine (the " +
        "q123 shape) plus the broadcast 1-row (n, s) totals"),
    "e175_fdr" ->
      "crossJoin against the broadcast 1-row BH k* scalar"
    // e154_mmr_diversify: every greedy step is a localCheckpointed
    // 1-row frame, so its bounded shapes (the 10-row pairwise-sim
    // triangle, exclusion joins vs 1-row selections) execute at
    // construction and the returned plan is a union of materialized
    // scans — outside this audit's plan, same as e129/e131.
  )

  /** Built once, shared by the nested-loop and window gates (plan
    * construction — which for the c-queries runs the stream — is the
    * expensive part of this spec).
    */
  private lazy val executedPlans
      : Seq[(String, org.apache.spark.sql.execution.SparkPlan)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, Recount.dir).queryExecution.executedPlan
    }

  test("no unbounded CartesianProduct/BroadcastNestedLoopJoin " +
    "in any judged plan") {
    val offenders = executedPlans.flatMap {
      case (name, p) =>
        val plan = p.toString
        val hasCartesian = plan.contains("CartesianProduct")
        val hasBnl = plan.contains("BroadcastNestedLoopJoin")
        if (hasCartesian || hasBnl) Some(name -> {
          (if (hasCartesian) "CartesianProduct " else "") +
            (if (hasBnl) "BroadcastNestedLoopJoin" else "")
        }) else None
    }.toMap
    val unjustified = offenders.keySet -- whitelist.keySet
    assert(unjustified.isEmpty,
      s"plans with unwhitelisted nested-loop joins: " +
        unjustified.toSeq.sorted.map(n => s"$n (${offenders(n)})")
          .mkString(", "))
    val stale = whitelist.keySet -- offenders.keySet
    assert(stale.isEmpty,
      s"stale whitelist entries (plan no longer nested-loop): " +
        stale.toSeq.sorted.mkString(", "))
  }

  /** name -> why a single-task (unpartitioned) window is bounded
    * there. Everything else must be partition-parallel — the
    * `WindowExec: No Partition Defined` warning is a scale defect
    * unless the windowed frame is provably tiny.
    */
  private val serialWindowWhitelist: Map[String, String] = Map(
    "e175_fdr" ->
      ("BH step-up rank over the m=5 metric panel — the windowed " +
        "frame is bounded by the event-type DOMAIN, not the data"))

  /** Structural traversal that DESCENDS INTO AdaptiveSparkPlanExec —
    * plain `collect` treats the AQE wrapper as a leaf, which had left
    * every adaptive plan invisible to structural gates (caught r18
    * when e175's whitelisted serial window was reported stale).
    */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p +: (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allNodes(a.executedPlan)
      case other => other.children.flatMap(allNodes)
    })

  test("no unpartitioned (single-task) window in any judged plan") {
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = executedPlans.flatMap { case (name, p) =>
      val bad = allNodes(p).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      if (bad.nonEmpty) Some(name) else None
    }.toSet
    val unjustified = offenders -- serialWindowWhitelist.keySet
    assert(unjustified.isEmpty,
      s"plans with unpartitioned windows: " +
        unjustified.toSeq.sorted.mkString(", "))
    val stale = serialWindowWhitelist.keySet -- offenders
    assert(stale.isEmpty,
      s"stale serial-window whitelist entries: " +
        stale.toSeq.sorted.mkString(", "))
  }

  /** SCALE.md's transform-family audit turned into a regression gate:
    * the flagship aggregate's filter reaches the parquet scan as a
    * pushed filter, projection prunes the scan schema, and the narrow
    * reference transforms (P1–P10) stay shuffle-free — so a future
    * wave can't silently regress pushdown/pruning/narrowness.
    */
  test("transform family: pushdown, pruning, shuffle-freedom hold") {
    val plans = executedPlans.toMap
    // assert on the scan's pushed-filter SET (both predicates present,
    // any order) — a plan-string prefix match breaks on harmless
    // list-ordering changes across Spark versions. Extracted from the
    // rendered tree because AQE wraps the scan in AdaptiveSparkPlanExec
    // (collectLeaves does not descend into adaptive subtrees).
    val q1Pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(plans("q1_agg").toString)
      .flatMap(_.group(1).split(", ")).map(_.trim).toSeq
    assert(q1Pushed.contains("IsNotNull(l_shipdate)") &&
      q1Pushed.exists(_.startsWith("LessThanOrEqual(l_shipdate")),
      s"q1_agg's shipdate predicates no longer reach the scan " +
        s"(pushed: ${q1Pushed.mkString(", ")})")
    val p1Scans = plans("p1_project").collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(p1Scans.nonEmpty, "p1_project lost its parquet scan")
    assert(p1Scans.head.schema.fieldNames.toSet ==
      Set("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
      "p1_project's scan reads more than the projected columns")
    for (name <- Seq("p1_project", "p2_rename", "p3_cast", "p4_lit",
        "p5_limit", "p6_zip", "p7_klines", "p8_normalize",
        "p9_missing", "p10_suppress")) {
      val pl = plans(name).toString
      assert(!pl.contains("Exchange"),
        s"$name acquired a shuffle — the reference transforms are " +
          s"single-pass narrow maps (p5 is TakeOrdered)")
    }
  }

  test("documented query count matches SparkEntry.queries.size") {
    val n = SparkEntry.queries.size
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      "oracleSql keys must mirror queries keys")
    def doc(path: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)))
    assert(doc("README.md").contains(s"($n queries"),
      s"README.md judged-query count drifted from $n")
    assert(doc("SCALE.md").contains(s"$n queries"),
      s"SCALE.md judged-query count drifted from $n")
    assert(doc("COVERAGE.md").contains(s"$n queries"),
      s"COVERAGE.md judged-query count drifted from $n")
  }

  /** The bloom-pruned-join gate: the probe side must carry the
    * `might_contain` pre-filter before the join shuffle — the
    * scan-pruning lever a 100 TB shuffle join depends on. Two judged
    * forms exist: q92_runtime_filter (optimizer-injected,
    * InjectRuntimeFilter) REQUIREs the probe in its own plan at
    * construction — building `executedPlans` above already runs that
    * gate, so a regression fails this suite — and q106_bloom_semi
    * (cross-job driver-built filter) returns the pruned plan lazily,
    * asserted here directly alongside the PushedFilters check.
    */
  test("bloom-pruned joins carry might_contain on the probe side") {
    val q106 = executedPlans.toMap.apply("q106_bloom_semi").toString
    assert(q106.contains("might_contain"),
      "driver-built bloom probe missing from q106_bloom_semi's plan")
    // q92's in-query require ran during executedPlans construction;
    // assert it is present in the surface so the gate can't silently
    // drop out with a query rename
    assert(executedPlans.exists(_._1 == "q92_runtime_filter"),
      "q92_runtime_filter (the InjectRuntimeFilter gate) left the surface")
  }

  /** The IVF partition-pruning gate (r18 verdict item 2): SCALE.md's
    * central 100 TB ANN claim — "the corpus is written partitioned by
    * ivf_cell so a probe reads only nprobe partitions" — as a
    * regression-gated structural fact. e178 stages the corpus
    * partitioned by cell and probes two; its scan node must carry
    * `PartitionFilters` on `ivf_cell` and its selected listing must
    * touch at most the two probed cell directories. (The query's own
    * `require` checks the file set at run time; this gate checks the
    * PLAN, descending into AdaptiveSparkPlanExec via allNodes.)
    */
  test("e178's probe scan carries PartitionFilters on ivf_cell and " +
    "lists at most the two probed cell directories") {
    val p = executedPlans.toMap.apply("e178_ivf_pruned_probe")
    val scans = allNodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val pruned = scans.filter(_.partitionFilters
      .exists(_.references.exists(_.name == "ivf_cell")))
    assert(pruned.nonEmpty,
      s"no scan with PartitionFilters on ivf_cell:\n$p")
    val dirs = pruned.flatMap(_.selectedPartitions.toPartitionArray
      .map(_.filePath.toString))
      .flatMap(_.split("/").find(_.startsWith("ivf_cell=")))
      .distinct
    assert(dirs.nonEmpty && dirs.size <= 2,
      s"probe listed more than nprobe=2 cell dirs: $dirs")
    // the streaming-append twin must stay pruned over base AND
    // appended files alike (its plan is adaptive — allNodes descends)
    val c48 = executedPlans.toMap.apply("c48_stream_index_append")
    val c48Pruned = allNodes(c48).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.filter(_.partitionFilters
      .exists(_.references.exists(_.name == "ivf_cell")))
    assert(c48Pruned.nonEmpty,
      s"c48's post-ingest probe lost PartitionFilters on ivf_cell:\n$c48")
    // the compacted layout (e181) must stay pruned too, and its
    // selected listing is exactly one file per probed cell — the
    // compaction contract made structural (the in-query requires
    // also ran during executedPlans construction)
    val e181 = executedPlans.toMap.apply("e181_index_compact")
    val e181Scans = allNodes(e181).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.filter(_.partitionFilters
      .exists(_.references.exists(_.name == "ivf_cell")))
    assert(e181Scans.nonEmpty,
      s"e181's post-compaction probe lost PartitionFilters:\n$e181")
    val e181Files = e181Scans.flatMap(_.selectedPartitions
      .toPartitionArray.map(_.filePath.toString)).distinct
    assert(e181Files.size <= 2,
      s"compacted probe must read ≤ nprobe=2 files, got: $e181Files")
  }
}

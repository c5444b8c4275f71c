package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.{Quantiles, Similarity, TextAnalysis}
import graft.streaming.StatefulOps

/** Round-16 wave — each entry was sibling-checked against the existing
  * 327-query surface before being added:
  *
  *  - `q126_runs_test` — Wald–Wolfowitz runs test on the daily order
  *    count against its exact median: detects ANY serial dependence in
  *    the above/below-median sign sequence, where q123 (Mann–Kendall)
  *    detects monotone TREND and q116/e98 measure linear
  *    autocorrelation at fixed lags. Statistic is three integers
  *    (n_above, n_below, n_runs) plus the closed-form null moments.
  *  - `q127_friedman` — Friedman rank test over BLOCKED data (weeks ×
  *    day-of-week slots): the repeated-measures twin of q119
  *    (Kruskal–Wallis assumes INDEPENDENT groups; Friedman ranks
  *    within each week block, removing the between-week level).
  *    Tie-corrected via average ranks kept integer as s = 2r.
  *  - `q128_tukey_outliers` — Tukey-fence outlier-rate audit (Q1/Q3 ±
  *    1.5·IQR) per group: the outlier-COUNT screen of the robust
  *    family (q113 MAD = scale, q117 trimmed = location, q118 Bowley =
  *    shape; this = tail-mass beyond the fences). Zero new corpus
  *    passes — quartiles and tail counts both come off the SAME staged
  *    rank-span frame as q117/q118.
  *  - `e132_cross_corr` — lead–lag CROSS-correlation between two event
  *    series (daily views vs daily clicks at lags −3..+3): q116/e98
  *    are AUTO-correlation of one series; the cross version answers
  *    "does one stream lead the other, and by how many days". Same
  *    integer-moment Pearson machinery and formula text as q116.
  *  - `e133_chao1` — per-language vocabulary richness ESTIMATION:
  *    Chao1 lower bound (bias-corrected, rational form) and
  *    Good–Turing sample coverage 1 − f1/N. e118 reports OBSERVED
  *    concentration (Yule's K / Simpson / TTR, global); this
  *    extrapolates UNSEEN vocabulary per language stratum — the
  *    "have we sampled this language enough" curation question. Off
  *    the shared per-doc token histogram: zero new tokenize passes.
  *  - `e134_top_bigram` — per-document top-2-gram concentration, the
  *    Gopher/MassiveText repetition rule: fraction of a doc's bigrams
  *    taken by its single most frequent bigram. e4_repetition is the
  *    UNIGRAM distinct-ratio rule; e107/e112 are CORPUS-level bigram
  *    statistics; this is the per-doc phrase-loop screen.
  *  - `e135_hubness` — kNN-graph in-degree audit over the embedding
  *    column: how often each corpus vector appears in the top-10 of a
  *    FIXED 63-query probe panel (the k-occurrence distribution whose
  *    right tail — hub vectors — degrades ANN recall; Radovanović et
  *    al.'s hubness phenomenon). e129 measures truncation RECALL of
  *    one query; this measures neighbor CONCENTRATION across a panel.
  *    Probe panel is fixed-size, so the scoring join is corpus ×
  *    broadcast-63 at any scale.
  *  - `e136_ann_mrr` — Mean Reciprocal Rank of the LSH-bucketed ANN
  *    against exact nearest neighbors over the same 63-probe panel:
  *    the rank-SENSITIVE retrieval grade (e24/e34 are recall@10 of
  *    the single designated query vector). Reciprocal ranks summed as
  *    a fixed 10-term expression over pivoted integer rank counts.
  *  - `e137_topk_churn` — heavy-hitter head-set churn between the
  *    feed's two halves (common/new/dropped keys + Jaccard): e59 is
  *    the static head, e78/e130/e119 whole-distribution drift; this
  *    is the "did the top-20 CHANGE" page a feed monitor fires on.
  *  - `e138_dup_census` — capture–recapture (Chapman) estimate of the
  *    TOTAL near-dup pair population from the overlap of the two
  *    judged detectors' catches (MinHash-LSH × SimHash multi-index):
  *    the "how many dupes did both miss" census next to the
  *    per-method recall audits.
  *  - `e139_anisotropy` — embedding-collapse audit (Ethayarajh 2019):
  *    mean cosine of every vector to the corpus centroid + the
  *    centroid's norm. e109 grades cluster structure, e27 coverage;
  *    this is the global "are all my vectors pointing the same way"
  *    screen that decides whether cosine thresholds mean anything.
  *  - `c41_stream_topk` — e59's exact heavy hitters through the REAL
  *    micro-batch engine on transformWithState (judged on e59's batch
  *    oracle — the c12/c39, c33/c36 twin discipline): one monotone
  *    ValueState[Long] counter per key emits the running total once
  *    per key-invocation; counts only grow, so the append sink's
  *    final image is max(cnt) per key — exactly-once totals with no
  *    update-mode sink, and state bounded by the key domain.
  */
object Surface25Queries extends QuerySet {
  import Tables._

  private def d(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("double")

  /** FIXED probe-panel bounds shared by e135/e136 AND their oracle
    * texts (interpolated): vec_ids 1..63. The panel being fixed-SIZE
    * at any corpus scale is what keeps both audits linear.
    */
  private val probeLo = 1
  private val probeHi = 63

  private def vdot(a: org.apache.spark.sql.Column,
                   b: org.apache.spark.sql.Column) =
    call_function("vec_dot", a, b)

  /** Corpus embeddings with the self-norm hoisted into the scan
    * projection — ‖e‖ computed once per row, never once per probe
    * pair (the e135 ×10 finding: 18.3 → 3.85 s).
    */
  private def normedEmb(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "embeddings").where(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        sqrt(vdot(col("embedding"), col("embedding"))).as("enorm"))
  }

  /** The broadcast probe panel off a [[normedEmb]] frame. Extra
    * columns (e136's LSH bucket) are added INSIDE the broadcast hint
    * so a projection above can never strip it.
    */
  private def probePanel(emb: DataFrame,
      extra: Seq[(String, org.apache.spark.sql.Column)] = Seq.empty)
      : DataFrame = {
    val base = emb.where(col("vec_id").between(probeLo, probeHi))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("enorm").as("qnorm"))
    broadcast(extra.foldLeft(base) {
      case (f, (n, c)) => f.withColumn(n, c)
    })
  }

  /** Pairwise cosine over a [[normedEmb]] × [[probePanel]] join — one
    * native dot per pair, bit-identical to `Similarity.cosine`'s
    * left-to-right fold (which the oracle texts replay).
    */
  private def probeCos: org.apache.spark.sql.Column =
    vdot(col("embedding"), col("qe")) / (col("enorm") * col("qnorm"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Runs test: daily order counts (integer, exact) vs their exact
    // median (contains-rank over the count histogram — the q88 rule).
    // Days equal to the median are dropped (the classical definition);
    // the sign sequence's adjacency comes from a triangular next-day
    // struct-min over the calendar-bounded day spine (the q123 shape,
    // whitelisted in PlanAuditSpec), never an unpartitioned window.
    "q126_runs_test" -> ((s, dir) => {
      import Quantiles.ldiv
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"))
        .withColumn("epd",
          datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
        .localCheckpoint(true) // day spine: one orders pass, reused 4×
      val nd = daily.agg(count(lit(1)).as("n_days"))
      val hist = daily.groupBy("x").agg(count(lit(1)).as("hn"))
      val cum = hist.as("a").join(broadcast(hist.as("b")),
          col("b.x") <= col("a.x"))
        .groupBy(col("a.x").as("x")).agg(sum(col("b.hn")).as("cum"))
      // med (1 row) and signs (day-spine-sized) are each read by
      // several downstream frames; materialize eagerly so the
      // histogram triangle runs ONCE, not once per lazy reference
      val med = cum.crossJoin(broadcast(nd))
        .agg(min(when(col("cum") >= ldiv(col("n_days") + 1, 2L),
          col("x"))).as("med"))
        .localCheckpoint(true)
      val signs = daily.crossJoin(broadcast(med))
        .where(col("x") =!= col("med"))
        .select(col("epd"),
          when(col("x") > col("med"), 1L).otherwise(0L).as("sgn"))
        .localCheckpoint(true)
      val nx = signs.as("a").join(broadcast(signs.as("b")),
          col("b.epd") > col("a.epd"))
        .groupBy(col("a.epd"), col("a.sgn"))
        .agg(min(struct(col("b.epd"), col("b.sgn"))).as("nxt"))
      val flips = nx.agg(coalesce(sum(
        when(col("sgn") =!= col("nxt.sgn"), 1L).otherwise(0L)),
        lit(0L)).as("flips"))
      val cn = signs.agg(sum(col("sgn")).as("n1"),
        (count(lit(1)) - sum(col("sgn"))).as("n2"))
      val a = d(col("n1")); val b = d(col("n2")); val m = a + b
      nd.crossJoin(broadcast(med)).crossJoin(broadcast(cn))
        .crossJoin(broadcast(flips))
        .select(col("n_days"), col("med").as("median_cnt"),
          col("n1").as("n_above"), col("n2").as("n_below"),
          // an empty sign sequence (every day AT the median) has 0
          // runs, not flips+1 = 1 — mirrored in the oracle text
          when(col("n1") + col("n2") > 0, col("flips") + 1L)
            .otherwise(0L).as("n_runs"),
          round(when(col("n1") + col("n2") > 0,
            lit(1.0) + (lit(2.0) * a * b) / m), 8).as("mu_runs"),
          round(when(col("n1") + col("n2") > 1,
            (lit(2.0) * a * b * (lit(2.0) * a * b - a - b)) /
              (m * m * (m - lit(1.0)))), 8).as("var_runs"))
    }),

    // Friedman test: blocks = calendar weeks (epoch-day DIV 7),
    // treatments = the 7 day-in-week slots, measure = daily order
    // count. Only complete blocks rank; average ranks with ties stay
    // integer as s = 2r = 2·rank + tie_count − 1, so the tie-corrected
    // statistic Q = 6·Σ_j(SR_j − 8n)² / (Σs² − 448n) is exact integer
    // algebra with ONE final double division (k=7: k−1=6, n(k+1)=8n,
    // n·k(k+1)²=448n). Windows are partitioned by week — 7 rows each.
    "q127_friedman" -> ((s, dir) => {
      import Quantiles.ldiv
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"))
      val epd = datediff(col("d"), lit("1970-01-01").cast("date"))
        .cast("long")
      // calendar-bounded (wk, dow, x) spine read by the complete-week
      // filter AND the rank side: materialize so orders is scanned once
      val db = daily.select(ldiv(epd, 7L).as("wk"),
        pmod(epd, lit(7L)).as("dow"), col("x"))
        .localCheckpoint(true)
      val fullWk = db.groupBy("wk").agg(count(lit(1)).as("ndw"))
        .where(col("ndw") === 7).select("wk")
      val r = db.join(fullWk, "wk")
        .withColumn("rk",
          rank().over(Window.partitionBy("wk").orderBy("x")).cast("long"))
        .withColumn("tc",
          count(lit(1)).over(Window.partitionBy("wk", "x")))
        .select(col("wk"), col("dow"),
          (lit(2L) * col("rk") + col("tc") - 1L).as("s2r"))
      val srCols = (0 to 6).map(j =>
        sum(when(col("dow") === j, col("s2r")).otherwise(0L)).as(s"sr_$j"))
      val ag = r.agg(countDistinct(col("wk")).as("n"),
        (sum(col("s2r") * col("s2r")).as("ss") +: srCols): _*)
      val dn = d(col("n"))
      val num = (0 to 6).map { j =>
        val t = d(col(s"sr_$j")) - lit(8.0) * dn; t * t
      }.reduce(_ + _)
      val den = d(col("ss")) - lit(448.0) * dn
      ag.select((col("n").as("n_weeks") +:
        (0 to 6).map(j => col(s"sr_$j"))) :+
        round(when(den =!= 0.0, lit(6.0) * num / den), 8)
          .as("q_friedman"): _*)
    }),

    // Tukey fences off the SAME staged rank spans as q117/q118:
    // quartiles by the contains-rank rule (ceil(p·n)), fences in plain
    // double arithmetic with identical expression text both engines,
    // tail counts from the span widths (__hi − __lo + 1 = multiplicity
    // of a value) — one groups-sized broadcast join, no new scan.
    "q128_tukey_outliers" -> ((s, dir) => {
      import Quantiles.ldiv
      val spans = StatsQueries.priceSpans(s, dir)
      val qs = Quantiles.selectRanks(spans, Seq("l_returnflag"),
        "l_extendedprice",
        Seq("q1" -> (c => ldiv(c + 3, 4L)),
          "q3" -> (c => ldiv(c * 3 + 3, 4L))))
      val f = qs.select(col("l_returnflag"), col("n_total").as("n"),
        col("q1"), col("q3"),
        (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo_fence"),
        (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi_fence"))
      spans.join(broadcast(f), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(max(col("n")).as("n"), max(col("q1")).as("q1"),
          max(col("q3")).as("q3"), max(col("lo_fence")).as("lo_fence"),
          max(col("hi_fence")).as("hi_fence"),
          sum(when(col("l_extendedprice") < col("lo_fence"),
            col("__hi") - col("__lo") + 1).otherwise(0L)).as("n_low"),
          sum(when(col("l_extendedprice") > col("hi_fence"),
            col("__hi") - col("__lo") + 1).otherwise(0L)).as("n_high"))
        .select(col("l_returnflag"), col("n"), col("q1"), col("q3"),
          col("lo_fence"), col("hi_fence"), col("n_low"), col("n_high"),
          round((d(col("n_low")) + d(col("n_high"))) / d(col("n")), 8)
            .as("outlier_frac"))
    }),

    // Cross-correlation at lags −3..+3: x = daily views, y = daily
    // clicks shifted by the lag. Same decimal-protected integer moment
    // sums and Pearson text as q116 (its scaladoc's overflow note
    // applies verbatim); the 7 per-lag frames are equi-joins on the
    // shifted date — no lag-spine cross join, so no BNL.
    "e132_cross_corr" -> ((s, dir) => {
      val ev = events(s, dir)
      def dailyOf(tpe: String, out: String) =
        ev.where(col("event_type") === tpe)
          .groupBy(to_date(col("ts")).as("d"))
          .agg(count(lit(1)).as(out))
      // each daily spine is read by SEVEN lag joins; materialize both
      // (≤ days rows) so events is scanned once per series, not 7×
      val dv = dailyOf("view", "x").localCheckpoint(true)
      val dc = dailyOf("click", "y").localCheckpoint(true)
      val pairs = Seq(-3, -2, -1, 0, 1, 2, 3).map { k =>
        dv.as("a").join(dc.as("b"),
            col("b.d") === date_add(col("a.d"), k))
          .select(lit(k.toLong).as("lag"), col("a.x").as("x"),
            col("b.y").as("y"))
      }.reduce(_ unionAll _)
      pairs.groupBy("lag")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("x")).cast("decimal(38,0)").as("sx"),
          sum(col("y")).cast("decimal(38,0)").as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
        .select(col("lag"), col("n_pairs"),
          ((col("n_pairs") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
              .cast("double")) *
              sqrt((col("n_pairs") * col("syy") - col("sy") * col("sy"))
                .cast("double")))).as("ccf"))
    }),

    // Per-language Chao1 + Good–Turing coverage: re-agg of the shared
    // per-doc token histogram joined to the doc→lang map (equi-join on
    // doc_id — narrow, no text re-tokenize). chao1 = D + f1(f1−1)/
    // (2(f2+1)) is the bias-corrected rational form (no logs);
    // coverage = 1 − f1/N.
    "e133_chao1" -> ((s, dir) => {
      val perDoc = DedupQueries.docTokenHist(s, dir)
      val langOf = t(s, dir, "documents")
        .where(col("lang").isNotNull)
        .select(col("doc_id"), col("lang"))
      val lt = perDoc.join(langOf, "doc_id")
        .groupBy("lang", "w").agg(sum(col("cnt")).as("cnt"))
      lt.groupBy("lang")
        .agg(count(lit(1)).as("types"), sum(col("cnt")).as("toks"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("f2"))
        .select(col("lang"), col("types").as("word_types"),
          col("toks").as("n_tokens"), col("f1").as("hapax"),
          col("f2").as("dislegomena"),
          round(d(col("types")) + d(col("f1")) * (d(col("f1")) - lit(1.0)) /
            (lit(2.0) * (d(col("f2")) + lit(1.0))), 8).as("chao1"),
          round(lit(1.0) - d(col("f1")) / d(col("toks")), 8)
            .as("coverage"))
    }),

    // Gopher rule: per doc, the share of bigram slots taken by the
    // single most frequent bigram. Adjacent-token zip (the e107
    // derivation, kept per-doc), two hash aggregates, one division.
    "e134_top_bigram" -> ((s, dir) => {
      val tk = TextAnalysis.tokens(col("text"))
      val bg = tBalanced(s, dir, "documents")
        .select(col("doc_id"), explode(arrays_zip(
          slice(tk, lit(1), size(tk) - 1).as("t1"),
          slice(tk, lit(2), size(tk) - 1).as("t2"))).as("b"))
        .select(col("doc_id"), col("b.t1").as("t1"), col("b.t2").as("t2"))
      bg.groupBy("doc_id", "t1", "t2").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum(col("cnt")).as("n_bigrams"), max(col("cnt")).as("top_cnt"))
        .select(col("doc_id"), col("n_bigrams"), col("top_cnt"),
          round(d(col("top_cnt")) / d(col("n_bigrams")), 8).as("top_frac"))
    }),

    // Hubness: score the corpus against a FIXED 63-vector probe panel
    // (vec_id 1..63 — fixed size at any corpus scale, so the scoring
    // join is corpus × broadcast-63), take each probe's cosine top-10
    // (windows partitioned per probe), and report the k-occurrence
    // distribution including the orphan (in-degree 0) mass. Cosine is
    // the plain left-to-right double fold the e2_topk_double oracle
    // already replays exactly.
    "e135_hubness" -> ((s, dir) => {
      val emb = normedEmb(s, dir)
      val qs = probePanel(emb)
      val sc = emb.join(qs, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), probeCos.as("cos"))
      val top = sc.withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
        .where(col("rk") <= 10)
      // the histogram (≤ 64 rows) feeds BOTH union branches; eager
      // materialization keeps the corpus × 63 scoring pass at ONE run
      val hist = top.groupBy("vec_id").agg(count(lit(1)).as("k_occ"))
        .groupBy(col("k_occ").as("in_degree"))
        .agg(count(lit(1)).as("n_vecs"))
        .localCheckpoint(true)
      val tot = broadcast(emb.agg(count(lit(1)).as("n_corpus")))
      val zero = hist.agg(sum(col("n_vecs")).as("n_hit"))
        .crossJoin(tot)
        .select(lit(0L).as("in_degree"),
          (col("n_corpus") - col("n_hit")).as("n_vecs"))
      hist.select(col("in_degree"), col("n_vecs")).unionAll(zero)
    }),

    // MRR of the LSH-bucketed ANN over the SAME 63-probe panel as
    // e135 — the rank-SENSITIVE retrieval grade (e24 is recall@10 of
    // the single designated query; MRR reports WHERE each probe's
    // true nearest neighbor lands in the approximate list, panel-
    // wide). Exact top-1 per probe via ONE struct-max aggregation
    // over the hoisted-norm native-dot scoring pass (no window);
    // approximate lists from the 4-plane LSH bucket equi-join (the
    // e2_lsh_topk index shape). Reciprocal ranks are summed as a
    // FIXED 10-term expression over pivoted integer rank counts —
    // never a data-ordered double sum.
    "e136_ann_mrr" -> ((s, dir) => {
      val emb = normedEmb(s, dir)
        .withColumn("bkt", Similarity.lshBucket(col("embedding"), 4, 64))
      val qs = probePanel(emb,
        Seq("qbkt" -> Similarity.lshBucket(col("qe"), 4, 64)))
      // exact nearest per probe: struct-max picks (max cos, then min
      // vec_id) in one aggregation — no per-probe sort
      val exact1 = emb.join(qs, col("vec_id") =!= col("qid"))
        .select(col("qid"), struct(probeCos.as("cos"),
          (-col("vec_id")).as("negv")).as("cv"))
        .groupBy("qid").agg(max(col("cv")).as("m"))
        .select(col("qid"), (-col("m.negv")).as("best_vid"))
      val cand = emb.join(qs,
          col("bkt") === col("qbkt") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), probeCos.as("cos"))
      val ap = cand.withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
        .where(col("rk") <= 10)
      val mt = exact1.join(ap,
        exact1("qid") === ap("qid") && col("best_vid") === col("vec_id"),
        "left").select(exact1("qid"), col("rk"))
      val aggs = count(lit(1)).as("n_probes") +:
        count(col("rk")).as("n_found") +:
        (1 to 10).map(r => sum(when(col("rk") === r, 1L).otherwise(0L))
          .as(s"c_$r"))
      val cs = mt.agg(aggs.head, aggs.tail: _*)
      val mrrNum = (1 to 10).map(r =>
        d(col(s"c_$r")) / lit(r.toDouble)).reduce(_ + _)
      cs.select(col("n_probes"), col("n_found"), col("c_1").as("hits1"),
        round(mrrNum / d(col("n_probes")), 8).as("mrr"))
    }),

    // Heavy-hitter CHURN between the feed's two halves — the head-set
    // drift report a mixture monitor pages on (e59 is the STATIC head;
    // e78/e130/e119 grade whole-distribution drift; this asks "did the
    // top-20 keys CHANGE"). Two TakeOrdered top-20s (no windows, no
    // global sort) off one counts pass, then a 20×20 outer join.
    "e137_topk_churn" -> ((s, dir) => {
      val cut = lit("2024-01-16").cast("timestamp")
      val ev = events(s, dir).select(col("user_id"), col("ts"))
      val cnts = ev.groupBy(col("user_id"),
          (col("ts") >= cut).as("h2")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true) // one events pass serves both halves
      def topk(h2: Boolean) = cnts.where(col("h2") === h2)
        .orderBy(col("cnt").desc, col("user_id")).limit(20)
        .select(col("user_id"))
      val a = topk(false).withColumn("in_a", lit(1L))
      val b = topk(true).withColumn("in_b", lit(1L))
      a.join(b, Seq("user_id"), "full_outer")
        .agg(sum(coalesce(col("in_a"), lit(0L))).as("n_first"),
          sum(coalesce(col("in_b"), lit(0L))).as("n_second"),
          sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L)
            .otherwise(0L)).as("n_common"))
        .select(col("n_first"), col("n_second"), col("n_common"),
          (col("n_second") - col("n_common")).as("n_new"),
          (col("n_first") - col("n_common")).as("n_dropped"),
          round(d(col("n_common")) /
            (d(col("n_first")) + d(col("n_second")) - d(col("n_common"))),
            8).as("jaccard"))
    }),

    // Capture–recapture census of the near-dup pair population:
    // MinHash-LSH (e1) and SimHash multi-index (e32) are two
    // independent detectors over the same corpus; the Chapman
    // estimator N̂ = (n1+1)(n2+1)/(m+1) − 1 turns their catch overlap
    // into an estimate of the TOTAL pair population including what
    // BOTH missed — the "how many dupes are still in the corpus"
    // number a dedup QA pass reports (e24-style recalls grade one
    // method against exact; this estimates the unseen mass, with the
    // usual positive-correlation caveat making it a lower bound).
    // Zero new derivations: both pair frames are the judged queries'
    // own (the LSH side durably staged), the overlap an equi-join.
    "e138_dup_census" -> ((s, dir) => {
      val mh = DedupQueries.all("e1_minhash_pairs")(s, dir)
        .select("id_a", "id_b")
      val sh2 = Surface4Queries.simhashPairs(s, dir)
        .select("id_a", "id_b")
      val n1 = mh.agg(count(lit(1)).as("n_minhash"))
      val n2 = sh2.agg(count(lit(1)).as("n_simhash"))
      val m = mh.join(sh2, Seq("id_a", "id_b"))
        .agg(count(lit(1)).as("n_both"))
      n1.crossJoin(broadcast(n2)).crossJoin(broadcast(m))
        .select(col("n_minhash"), col("n_simhash"), col("n_both"),
          round((d(col("n_minhash")) + lit(1.0)) *
            (d(col("n_simhash")) + lit(1.0)) /
            (d(col("n_both")) + lit(1.0)) - lit(1.0), 8)
            .as("chapman_nhat"),
          round(d(col("n_both")) / d(col("n_simhash")), 8)
            .as("recall_minhash"),
          round(d(col("n_both")) / d(col("n_minhash")), 8)
            .as("recall_simhash"))
    }),

    // Embedding ANISOTROPY audit (the Ethayarajh 2019 "are all my
    // vectors pointing the same way" collapse check — an anisotropic
    // embedding column makes every cosine high and ANN/dedup
    // thresholds meaningless): mean cosine of each vector to the
    // corpus centroid, plus the centroid's norm. e109 grades CLUSTER
    // structure against trained cells; e27 coverage/L2 per slice;
    // this is the global collapse screen. Exactness recipe: per-dim
    // centroid sums in fixed-point longs (order-independent), the
    // 64-cell centroid assembled IN-PLAN via one sort_array'd
    // collect_list row (no driver collect), per-row cosines on the
    // shared left-to-right double fold, and the corpus mean over
    // nano-quantized longs (the e109 summing discipline).
    "e139_anisotropy" -> ((s, dir) => {
      import graft.operators.Similarity
      val corpus = t(s, dir, "embeddings").where(col("vec_id") =!= 0)
      val nF = broadcast(corpus.agg(count(lit(1)).as("n")))
      val dimSums = corpus
        .select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("pos"),
          floor(col("v").cast("double") * lit(1e7)).cast("long").as("q"))
        .groupBy("pos").agg(sum(col("q")).as("sq"))
      // 1-row (mu, n) centroid frame, eagerly materialized so the
      // corpus is scanned once for it (it feeds the scoring pass AND
      // the report row)
      val muRow = dimSums
        .agg(sort_array(collect_list(struct(col("pos"), col("sq"))))
          .as("ps"))
        .crossJoin(nF)
        .select(transform(col("ps"), p => p.getField("sq").cast("double")
          / lit(1e7) / col("n").cast("double")).as("mu"), col("n"))
        .localCheckpoint(true)
      val cos = Similarity.cosine(col("embedding"), col("mu"))
      val qsum = corpus.crossJoin(broadcast(muRow.select("mu")))
        .select(floor(cos * lit(1e9)).cast("long").as("qc"))
        .agg(sum(col("qc")).as("sqc"))
      qsum.crossJoin(broadcast(muRow))
        .select(col("n"),
          round(sqrt(aggregate(transform(col("mu"), v => v * v),
            lit(0.0), (acc, p) => acc + p)), 8).as("mu_norm"),
          round(col("sqc").cast("double") / lit(1e9) /
            col("n").cast("double"), 8).as("mean_cos_to_centroid"))
    }),

    // e59's heavy hitters through the real micro-batch engine on
    // transformWithState ([[StatefulOps.keyCountStream]]): monotone
    // per-key counters, append sink, final image = max(cnt) per key,
    // then the SAME cnt·(k+1) > total gate as the batch operator.
    "c41_stream_topk" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("lang"), lit("|"), col("source")).as("key"))
      val feed = Stage.durableChunkFeed("feed-c41", dir)(Seq(
        docs.where(col("doc_id") % 2 === 0).select("key"),
        docs.where(col("doc_id") % 2 =!= 0).select("key")))
      val tmp = Stage.tempDir("graft-c41-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val schema = StructType(Seq(StructField("key", StringType)))
      Stage.drain(StatefulOps.keyCountStream(
          s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(feed).as[String]), ckpt, "update")(
        Stage.appendTo(out))
      val fin = s.read.parquet(out)
        .groupBy("key").agg(max(col("cnt")).as("cnt"))
      fin.crossJoin(broadcast(fin.agg(sum(col("cnt")).as("n_total"))))
        .where(col("cnt") * (Surface12Queries.heavyHitterK + 1L) >
          col("n_total"))
        .select(col("key"), col("cnt"))
        .orderBy(col("key"))
    }))

  private val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  private def castD(x: String) = s"CAST($x AS DOUBLE)"

  val oracles: Map[String, String] = Map(

    "q126_runs_test" -> {
      val a = castD("n1"); val b = castD("n2")
      val m = s"($a + $b)"
      s"""WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS x
           FROM orders GROUP BY 1),
         nd AS (SELECT count(*) AS n_days FROM daily),
         h AS (SELECT x, count(*) AS hn FROM daily GROUP BY 1),
         c AS (SELECT a.x, SUM(b.hn) AS cum
           FROM h a JOIN h b ON b.x <= a.x GROUP BY 1),
         med AS (SELECT min(CASE WHEN cum >= (n_days + 1) // 2
             THEN x END) AS med FROM c, nd),
         s AS (SELECT d, CASE WHEN x > med THEN 1 ELSE 0 END AS sgn
           FROM daily, med WHERE x <> med),
         nx AS (SELECT a.d, a.sgn, min_by(b.sgn, b.d) AS nsgn
           FROM s a JOIN s b ON b.d > a.d GROUP BY 1, 2),
         fl AS (SELECT COALESCE(SUM(CASE WHEN sgn <> nsgn
             THEN 1 ELSE 0 END), 0) AS flips FROM nx),
         cn AS (SELECT CAST(SUM(sgn) AS BIGINT) AS n1,
             CAST(count(*) - SUM(sgn) AS BIGINT) AS n2 FROM s)
         SELECT CAST(n_days AS BIGINT) AS n_days,
           CAST(med AS BIGINT) AS median_cnt,
           n1 AS n_above, n2 AS n_below,
           CAST(CASE WHEN n1 + n2 > 0 THEN flips + 1 ELSE 0 END
             AS BIGINT) AS n_runs,
           round(CASE WHEN n1 + n2 > 0 THEN
             1.0 + (2.0 * $a * $b) / $m END, 8) AS mu_runs,
           round(CASE WHEN n1 + n2 > 1 THEN
             (2.0 * $a * $b * (2.0 * $a * $b - $a - $b)) /
               ($m * $m * ($m - 1.0)) END, 8) AS var_runs
         FROM nd, med, cn, fl"""
    },

    "q127_friedman" -> {
      val srs = (0 to 6).map(j =>
        s"CAST(SUM(CASE WHEN dow = $j THEN s2r ELSE 0 END) AS BIGINT) AS sr_$j")
        .mkString(", ")
      val num = (0 to 6).map(j =>
        s"(${castD(s"sr_$j")} - 8.0 * ${castD("n")}) * " +
          s"(${castD(s"sr_$j")} - 8.0 * ${castD("n")})")
        .mkString(" + ")
      val den = s"${castD("ss")} - 448.0 * ${castD("n")}"
      s"""WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS x
           FROM orders GROUP BY 1),
         db AS (SELECT (d - DATE '1970-01-01') // 7 AS wk,
             (d - DATE '1970-01-01') % 7 AS dow, x FROM daily),
         fw AS (SELECT wk FROM db GROUP BY wk HAVING count(*) = 7),
         r AS (SELECT db.wk, db.dow,
             2 * rank() OVER (PARTITION BY db.wk ORDER BY db.x) +
               count(*) OVER (PARTITION BY db.wk, db.x) - 1 AS s2r
           FROM db JOIN fw USING (wk)),
         ag AS (SELECT count(DISTINCT wk) AS n,
             CAST(SUM(CAST(s2r AS BIGINT) * s2r) AS BIGINT) AS ss, $srs
           FROM r)
         SELECT CAST(n AS BIGINT) AS n_weeks,
           sr_0, sr_1, sr_2, sr_3, sr_4, sr_5, sr_6,
           round(CASE WHEN $den <> 0.0 THEN
             6.0 * ($num) / ($den) END, 8) AS q_friedman
         FROM ag"""
    },

    "q128_tukey_outliers" ->
      """WITH h AS (
           SELECT l_returnflag, l_extendedprice, count(*) AS cnt
           FROM lineitem WHERE l_extendedprice IS NOT NULL
           GROUP BY 1, 2),
         sp AS (
           SELECT l_returnflag, l_extendedprice, cnt,
             SUM(cnt) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS nn
           FROM h),
         q AS (
           SELECT l_returnflag, CAST(max(nn) AS BIGINT) AS n,
             min(CASE WHEN hi >= (nn + 3) // 4
               THEN l_extendedprice END) AS q1,
             min(CASE WHEN hi >= (nn * 3 + 3) // 4
               THEN l_extendedprice END) AS q3
           FROM sp GROUP BY 1),
         f AS (
           SELECT l_returnflag, n, q1, q3,
             q1 - 1.5 * (q3 - q1) AS lo_fence,
             q3 + 1.5 * (q3 - q1) AS hi_fence
           FROM q),
         c AS (
           SELECT h.l_returnflag,
             CAST(SUM(CASE WHEN h.l_extendedprice < f.lo_fence
               THEN cnt ELSE 0 END) AS BIGINT) AS n_low,
             CAST(SUM(CASE WHEN h.l_extendedprice > f.hi_fence
               THEN cnt ELSE 0 END) AS BIGINT) AS n_high
           FROM h JOIN f USING (l_returnflag) GROUP BY 1)
         SELECT l_returnflag, n, q1, q3, lo_fence, hi_fence,
           n_low, n_high,
           round((CAST(n_low AS DOUBLE) + CAST(n_high AS DOUBLE)) /
             CAST(n AS DOUBLE), 8) AS outlier_frac
         FROM f JOIN c USING (l_returnflag)""",

    // same moment/Pearson text as q116's oracle, two series + 7 lags
    "e132_cross_corr" ->
      """WITH dv AS (
           SELECT CAST(ts AS DATE) AS d, count(*) AS x
           FROM events WHERE event_type = 'view' GROUP BY 1),
         dc AS (
           SELECT CAST(ts AS DATE) AS d, count(*) AS y
           FROM events WHERE event_type = 'click' GROUP BY 1),
         p AS (
           SELECT k.lag, a.x AS x, b.y AS y
           FROM (VALUES (-3), (-2), (-1), (0), (1), (2), (3)) AS k(lag)
           JOIN dv a ON TRUE
           JOIN dc b ON b.d = a.d + k.lag),
         m AS (
           SELECT lag, count(*) AS n_pairs,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
           FROM p GROUP BY lag)
         SELECT CAST(lag AS BIGINT) AS lag,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
             (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
              sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))) AS ccf
         FROM m""",

    "e133_chao1" ->
      s"""WITH tok AS (
           SELECT doc_id, unnest($tokensSql) AS tk FROM documents),
         lt AS (
           SELECT d.lang, t.tk, count(*) AS cnt
           FROM tok t JOIN documents d USING (doc_id)
           WHERE d.lang IS NOT NULL GROUP BY 1, 2),
         ag AS (
           SELECT lang, CAST(count(*) AS BIGINT) AS types,
             CAST(SUM(cnt) AS BIGINT) AS toks,
             CAST(count(*) FILTER (WHERE cnt = 1) AS BIGINT) AS f1,
             CAST(count(*) FILTER (WHERE cnt = 2) AS BIGINT) AS f2
           FROM lt GROUP BY 1)
         SELECT lang, types AS word_types, toks AS n_tokens,
           f1 AS hapax, f2 AS dislegomena,
           round(CAST(types AS DOUBLE) +
             CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0) /
             (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), 8) AS chao1,
           round(1.0 - CAST(f1 AS DOUBLE) / CAST(toks AS DOUBLE), 8)
             AS coverage
         FROM ag""",

    "e134_top_bigram" ->
      s"""WITH toks AS (
           SELECT doc_id, $tokensSql AS tk FROM documents),
         bg AS (
           SELECT doc_id, tk[g.i] AS t1, tk[g.i + 1] AS t2
           FROM toks, generate_series(1, 127) AS g(i)
           WHERE g.i < len(tk)),
         pc AS (SELECT doc_id, t1, t2, count(*) AS cnt
           FROM bg GROUP BY 1, 2, 3),
         agg AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
             CAST(MAX(cnt) AS BIGINT) AS top_cnt
           FROM pc GROUP BY 1)
         SELECT doc_id, n_bigrams, top_cnt,
           round(CAST(top_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 8)
             AS top_frac
         FROM agg""",

    "e135_hubness" -> {
      val dot = SimilarityQueries.foldDot("e.embedding", "q.qe")
      val na = SimilarityQueries.foldDot("e.embedding", "e.embedding")
      val nb = SimilarityQueries.foldDot("q.qe", "q.qe")
      s"""WITH qs AS (
           SELECT vec_id AS qid, embedding AS qe FROM embeddings
           WHERE vec_id BETWEEN $probeLo AND $probeHi),
         sc AS (
           SELECT q.qid, e.vec_id,
             $dot / (sqrt($na) * sqrt($nb)) AS cos
           FROM embeddings e, qs q
           WHERE e.vec_id <> 0 AND e.vec_id <> q.qid),
         top AS (
           SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
             ORDER BY cos DESC, vec_id) AS rk FROM sc),
         deg AS (SELECT vec_id, count(*) AS k_occ
           FROM top WHERE rk <= 10 GROUP BY 1),
         hist AS (SELECT k_occ AS in_degree,
             CAST(count(*) AS BIGINT) AS n_vecs FROM deg GROUP BY 1),
         tot AS (SELECT count(*) AS n_corpus FROM embeddings
           WHERE vec_id <> 0)
         SELECT in_degree, n_vecs FROM hist
         UNION ALL
         SELECT CAST(0 AS BIGINT) AS in_degree,
           CAST(n_corpus - (SELECT SUM(n_vecs) FROM hist) AS BIGINT)
             AS n_vecs
         FROM tot"""
    },

    "e136_ann_mrr" -> {
      val dot = SimilarityQueries.foldDot("e.embedding", "q.qe")
      val na = SimilarityQueries.foldDot("e.embedding", "e.embedding")
      val nb = SimilarityQueries.foldDot("q.qe", "q.qe")
      val cs = (1 to 10).map(r =>
        s"CAST(SUM(CASE WHEN rk = $r THEN 1 ELSE 0 END) AS BIGINT) AS c_$r")
        .mkString(", ")
      val mrrNum = (1 to 10).map(r =>
        s"CAST(c_$r AS DOUBLE) / $r.0").mkString(" + ")
      s"""WITH qs AS (
           SELECT vec_id AS qid, embedding AS qe FROM embeddings
           WHERE vec_id BETWEEN $probeLo AND $probeHi),
         sc AS (
           SELECT q.qid, e.vec_id,
             $dot / (sqrt($na) * sqrt($nb)) AS cos
           FROM embeddings e, qs q
           WHERE e.vec_id <> 0 AND e.vec_id <> q.qid),
         ex AS (
           SELECT qid, vec_id AS best_vid FROM (
             SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY cos DESC, vec_id) AS rk FROM sc)
           WHERE rk = 1),
         bk AS (SELECT vec_id,
             ${SimilarityQueries.bucketSql4("embedding")} AS bkt
           FROM embeddings WHERE vec_id <> 0),
         qb AS (SELECT vec_id AS qid,
             ${SimilarityQueries.bucketSql4("embedding")} AS qbkt
           FROM embeddings WHERE vec_id BETWEEN $probeLo AND $probeHi),
         cand AS (
           SELECT s.qid, s.vec_id, s.cos
           FROM sc s
           JOIN bk ON bk.vec_id = s.vec_id
           JOIN qb ON qb.qid = s.qid AND bk.bkt = qb.qbkt),
         ap AS (
           SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
             ORDER BY cos DESC, vec_id) AS rk FROM cand),
         mt AS (
           SELECT ex.qid, ap.rk FROM ex
           LEFT JOIN ap ON ap.qid = ex.qid AND ap.vec_id = ex.best_vid
             AND ap.rk <= 10),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS n_probes,
             CAST(count(rk) AS BIGINT) AS n_found, $cs FROM mt)
         SELECT n_probes, n_found, c_1 AS hits1,
           round(($mrrNum) / CAST(n_probes AS DOUBLE), 8) AS mrr
         FROM agg"""
    },

    "e137_topk_churn" ->
      """WITH cnts AS (
           SELECT user_id, ts >= TIMESTAMP '2024-01-16' AS h2,
             count(*) AS cnt
           FROM events GROUP BY 1, 2),
         a AS (SELECT user_id FROM cnts WHERE NOT h2
           ORDER BY cnt DESC, user_id LIMIT 20),
         b AS (SELECT user_id FROM cnts WHERE h2
           ORDER BY cnt DESC, user_id LIMIT 20),
         j AS (SELECT
           CAST((SELECT count(*) FROM a) AS BIGINT) AS n_first,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS n_second,
           CAST((SELECT count(*) FROM a JOIN b USING (user_id))
             AS BIGINT) AS n_common)
         SELECT n_first, n_second, n_common,
           n_second - n_common AS n_new,
           n_first - n_common AS n_dropped,
           round(CAST(n_common AS DOUBLE) /
             (CAST(n_first AS DOUBLE) + CAST(n_second AS DOUBLE) -
              CAST(n_common AS DOUBLE)), 8) AS jaccard
         FROM j""",

    // both pair sets re-derived verbatim from the judged detectors'
    // own oracle texts (nested CTEs, MATERIALIZED against DuckDB's
    // exponential inlining of doubly-referenced chains)
    "e138_dup_census" -> {
      val mh = DedupQueries.oracles("e1_minhash_pairs")
      val sh = Surface4Queries.oracles("e32_simhash_pairs")
      s"""WITH mh AS MATERIALIZED ($mh),
         shp AS MATERIALIZED (SELECT id_a, id_b FROM ($sh)),
         c AS (SELECT
           CAST((SELECT count(*) FROM mh) AS BIGINT) AS n_minhash,
           CAST((SELECT count(*) FROM shp) AS BIGINT) AS n_simhash,
           CAST((SELECT count(*) FROM mh JOIN shp USING (id_a, id_b))
             AS BIGINT) AS n_both)
         SELECT n_minhash, n_simhash, n_both,
           round((CAST(n_minhash AS DOUBLE) + 1.0) *
             (CAST(n_simhash AS DOUBLE) + 1.0) /
             (CAST(n_both AS DOUBLE) + 1.0) - 1.0, 8) AS chapman_nhat,
           round(CAST(n_both AS DOUBLE) / CAST(n_simhash AS DOUBLE), 8)
             AS recall_minhash,
           round(CAST(n_both AS DOUBLE) / CAST(n_minhash AS DOUBLE), 8)
             AS recall_simhash
         FROM c"""
    },

    "e139_anisotropy" -> {
      def fold(body: String) =
        s"""list_reduce(list_transform(generate_series(1, 64),
            i -> $body), (acc, x) -> acc + x)"""
      val dot = fold("CAST(e.embedding[i] AS DOUBLE) * m.mu[i]")
      val na = fold(
        "CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)")
      val nb = fold("m.mu[i] * m.mu[i]")
      s"""WITH nn AS (SELECT count(*) AS n FROM embeddings
           WHERE vec_id <> 0),
         ds AS (SELECT g.i AS pos,
             SUM(CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 10000000.0)
               AS BIGINT)) AS sq
           FROM embeddings, generate_series(1, 64) AS g(i)
           WHERE vec_id <> 0 GROUP BY 1),
         mu AS (SELECT list(CAST(sq AS DOUBLE) / 10000000.0 /
             CAST(n AS DOUBLE) ORDER BY pos) AS mu
           FROM ds, nn),
         qc AS (SELECT CAST(floor(($dot / (sqrt($na) * sqrt($nb))) *
             1000000000.0) AS BIGINT) AS q
           FROM embeddings e, mu m WHERE e.vec_id <> 0),
         ag AS (SELECT CAST(SUM(q) AS BIGINT) AS sqc FROM qc)
         SELECT CAST(nn.n AS BIGINT) AS n,
           round(sqrt(list_reduce(list_transform(m.mu, v -> v * v),
             (acc, x) -> acc + x)), 8) AS mu_norm,
           round(CAST(ag.sqc AS DOUBLE) / 1000000000.0 /
             CAST(nn.n AS DOUBLE), 8) AS mean_cos_to_centroid
         FROM ag, mu m, nn"""
    },

    // judged on the batch operator's oracle — the twin discipline
    "c41_stream_topk" -> Surface12Queries.oracles("e59_heavy_hitters"))
}

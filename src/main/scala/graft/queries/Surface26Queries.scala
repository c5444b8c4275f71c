package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{Quantiles, Rank, TextAnalysis}
import graft.streaming.StatefulOps

/** Round-16 second wave — each entry sibling-checked against the
  * existing 339-query surface before being added:
  *
  *  - `c42_stream_mix` — e144 through the REAL micro-batch engine
  *    (judged on e144's batch oracle, the c41 twin discipline):
  *    per-source token totals as monotone KeySum state on
  *    transformWithState, final counter image collapsed by
  *    max(total), then the SAME mixReport algebra.
  *  - `e140_langid_kappa` — Cohen's kappa of the judged e4_langid
  *    detector against the labeled lang column: the CHANCE-CORRECTED
  *    scalar grade of the router (e127 reports the full confusion
  *    MATRIX; raw accuracy flatters a detector that just predicts the
  *    majority class — kappa subtracts the agreement two independent
  *    raters with these marginals would reach anyway). po and pe stay
  *    exact integer rationals (N·agree, Σ row_tot·col_tot) until one
  *    final double division.
  *  - `e141_mcnemar_dedup` — McNemar's paired test of the two judged
  *    near-dup detectors at DOC level: e138 estimates the total pair
  *    population from catch overlap; this asks the other QA question —
  *    do MinHash-LSH and SimHash flag the SAME documents, or is one
  *    systematically catching docs the other misses? On paired binary
  *    data the marginal comparison uses only the discordant cells:
  *    χ² = (b−c)²/(b+c) over exact integer cell counts.
  *  - `e142_cochran_q` — Cochran's Q across k=3 correlated binary
  *    screens per document (e62's blocklist, the e4_repetition
  *    distinct-ratio rule at 0.55, a short-doc floor at 40 tokens):
  *    the k-screen generalization of e141's McNemar (k=2 Cochran IS
  *    McNemar) — "do my curation screens reject at the same rate,
  *    accounting for per-doc correlation". All three flags come off
  *    ONE tokenize pass; Q is pure integer algebra with one final
  *    double division.
  *  - `e143_dsir_gains` — decile gains/lift audit of the e125 DSIR
  *    weights against the target-domain label they estimate: rank
  *    docs by weight, cut into 10 equal-frequency bins by exact rank
  *    arithmetic, and report per-bin target rate, cumulative capture,
  *    and lift — the selection-audit table a curation run reads
  *    before committing to importance resampling (e125 computes the
  *    weights; this grades their RANKING power). Zero new corpus
  *    passes: weights re-aggregate the staged dsir-docb64 frame.
  *  - `e144_temperature_mix` — temperature-based source mixing
  *    (the multilingual-corpus sampling rule of mT5/XLM-R: sample
  *    source s with probability ∝ c_s^α, α = 1/2, which upweights
  *    small sources relative to proportional sampling): per source,
  *    the proportional weight, the α=0.5 weight, and the effective
  *    epochs over that source under a fixed token budget. e63 SELECTS
  *    docs under per-source quotas; e35 samples by per-row weight;
  *    this computes the corpus-level mixture ratios themselves. √c is
  *    quantized to fixed-point longs before the cross-source sum (the
  *    e109/e139 discipline), so the normalizing total is
  *    order-independent in any engine at any parallelism.
  *  - `e145_hits` — HITS hubs-and-authorities (Kleinberg) over the
  *    bipartite user→item click graph (item = props.k): e71 ranks
  *    pages by PageRank on the dup graph; HITS is the query-dependent
  *    twin with two mutually-recursive scores — here two exact
  *    unrolled iterations (h₀ = 1 ⇒ a₁ = in-weight ⇒ h₁ ⇒ a₂) with
  *    integer sufficient statistics, normalized once at the end. Each
  *    iteration is one equi-join + groupBy on the edge list (the
  *    item-score side stays broadcast-small); at extreme scale the
  *    integer scores widen to DECIMAL(38,0) without changing shape.
  *  - `e146_rrf_fusion` — reciprocal-rank fusion of the exact and
  *    LSH retrieval legs (Cormack et al. 2009): the standard
  *    hybrid-search list merge, score = Σ 1/(60 + rank) over however
  *    many lists rank the candidate. e83 grades retrieve-then-RERANK
  *    (score recomputation); RRF is the calibration-free rank-only
  *    fusion. Both inputs are the judged queries' own 10-row frames.
  *  - `e147_poisson_bootstrap` — Poisson(1) bootstrap SE of the corpus
  *    mean token count (Chamandy et al.'s at-scale bootstrap: per-
  *    replicate multinomial resampling needs the full sample in one
  *    place, Poisson weights are iid per (replicate, row) and stream):
  *    B=32 replicates in ONE pass over a broadcast replicate spine,
  *    weights by inverse CDF over seeded md5 uniforms (the e89
  *    discipline), replicate means micro-quantized before the
  *    cross-replicate variance so nothing is row-order-dependent.
  *    e30/e45/q113 report point statistics; this is the UNCERTAINTY
  *    attached to one.
  *  - `e148_power_iteration` — top principal component by two exact
  *    unrolled power-iteration steps on the centered embedding
  *    column, with λ₁ and the explained-variance share against the
  *    exact trace: the DIRECTIONAL companion of e139 (anisotropy says
  *    the vectors share a direction; this names the direction and how
  *    much variance it owns — the spectral-collapse audit). Per-dim
  *    accumulators micro-quantized to longs (order-independent), the
  *    64-cell iterates assembled in-plan, three linear corpus passes.
  *  - `e149_modularity` — Newman modularity of the near-dup graph
  *    under the SOURCE partition (within-source vs cross-source
  *    duplication concentration; e29 reports per-source RATES, this
  *    is the graph-level grade). Exact integer Σ(4·m·m_c − D_c²) over
  *    one division by 4m²; zero corpus passes off the staged pairs.
  *  - `e150_assortativity` — Newman degree assortativity of the same
  *    graph (Pearson of endpoint degrees over the 2m orientation
  *    list): hubs-duplicate-hubs vs template-plus-copies shape, next
  *    to e47's triangle census. Three exact integer moments.
  *  - `e151_binary_recall` — recall@10 of SIGN-binarized embeddings
  *    ranked by Hamming distance against exact cosine: the
  *    sign-quantization member of the compression-audit family
  *    (e67/e69 PQ, e129 matryoshka, e18 scalar quantization) — the
  *    "can I store 1 bit/dim" question answered with a measured
  *    recall and the Hamming radius of the retrieved set.
  *  - `e152_rbo` — rank-biased overlap (Webber et al. 2010) between
  *    the exact and sign-binarized top-10 rankings: the top-weighted
  *    list-agreement measure. e151 grades the binary leg by SET
  *    recall; RBO adds position sensitivity; e136/e146 grade/fuse
  *    other legs. Geometric prefix weights ride both plans as
  *    identical double literals (never engine-local pow()).
  *  - `e161_conformal` — split-conformal prediction interval for doc
  *    token count (Vovk; Lei et al.): the modern distribution-free
  *    interval with finite-sample coverage — exact-rank calibration
  *    quantile on the val split, measured coverage on test, e8's
  *    hash-split convention, one tokenize pass for all three splits.
  *  - `e162_did` — difference-in-differences over the event stream:
  *    the textbook causal-analytics primitive (treated change minus
  *    control change across an exact midpoint time split); cell means
  *    exact counts over per-group user totals, one events pass.
  *  - `e159_permutation_test` — seeded sign-flip permutation test on
  *    the day-paired series: the distribution-free companion of e157
  *    (the p-value comes from the statistic's own randomization
  *    distribution, no normal approximation), B=64 md5-seeded sign
  *    patterns, every number an exact integer, p the add-one
  *    rational. Completes the resampling trio with e147/e160.
  *  - `e160_jackknife` — delete-one-group jackknife SE of the corpus
  *    mean (G=10 md5 buckets): the grouped jackknife is the form that
  *    works distributed (leave-one-row-out would need N passes);
  *    pseudo-values from ONE pass of per-bucket integer sums,
  *    deviations micro-quantized to exact integer algebra.
  *  - `e153_neyman_alloc` — Neyman optimal allocation of a fixed
  *    sample budget across language strata (n_h ∝ N_h·S_h, the
  *    variance-minimizing survey design): the principled upgrade of
  *    e53's proportional stratified sample. Exact integer moments per
  *    stratum, fixed-point normalizer, integer floor allocation.
  *  - `e155_kendall_w` — Kendall's coefficient of concordance
  *    (tie-corrected) across the engine's THREE retrieval scorers
  *    (exact cosine, sign-Hamming, 32-dim matryoshka prefix) over the
  *    retrieval head: e114 correlates two rankings, W grades m at
  *    once. Average ranks integral as s = 2r (the q127 discipline),
  *    exact integer deviation/tie sums, one division.
  *  - `e156_texttiling` — TextTiling-style WITHIN-document topic-shift
  *    segmentation (Hearst 1997, exact-arithmetic form): adjacent
  *    20-token blocks, boundary where distinct-token Jaccard < 0.1
  *    held as an integer cross-product compare, cohesion as a pooled
  *    ratio of sums. Fully narrow — blocks, overlaps, and the rollup
  *    ride one projection; zero shuffles before the report.
  *  - `e154_mmr_diversify` — maximal marginal relevance (Carbonell &
  *    Goldstein 1998): greedy diversified top-3 from the exact top-10
  *    pool, each step argmax of λ·rel − (1−λ)·max-sim-to-selected —
  *    the redundancy-avoiding re-selection a RAG stack runs on its
  *    retrieval head (e83 RERANKS by a second score; MMR trades
  *    relevance against diversity). Three unrolled steps over ≤10-row
  *    frames, all tiny and constant at any corpus scale.
  */
object Surface26Queries extends QuerySet {
  import Tables._

  private def d(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("double")

  /** e142's three screens share these thresholds with the oracle text:
    * repetition = distinct-ratio < 0.55 held as the exact integer
    * cross-product compare 20·distinct < 11·total; short = n_tok < 40.
    */
  private val repNum = 11L
  private val repDen = 20L
  private val shortTok = 40L

  /** e144's fixed token budget (the knob a mixture run fixes first). */
  private val mixBudget = 100000L

  /** The α=0.5 mixture report off a (source, n_tok) frame — shared by
    * e144 (batch counts) and c42 (the streaming counter image), so the
    * judged algebra exists once per engine. √c is quantized to
    * fixed-point longs BEFORE the cross-source sum: the normalizer is
    * exact integer addition, order-independent at any parallelism.
    */
  private def mixReport(counts: DataFrame): DataFrame = {
    val c = counts
      .withColumn("qs", floor(sqrt(d(col("n_tok"))) * lit(1e6)).cast("long"))
      .localCheckpoint(true) // |sources| rows, read by total + report
    val tot = broadcast(c.agg(sum(col("n_tok")).as("t_tok"),
      sum(col("qs")).as("t_qs")))
    // degenerate-fixture guard (r16 advice): an all-empty source makes
    // n_tok = 0 (and an all-empty corpus t_tok = t_qs = 0); 0/0 is NaN
    // in Spark but engine-dependent in SQL oracles, so every division
    // is NULL-gated identically on both plans.
    c.crossJoin(tot)
      .select(col("source"), col("n_tok"), col("qs"),
        when(col("t_tok") > 0,
          round(d(col("n_tok")) / col("t_tok"), 8)).as("w_prop"),
        when(col("t_qs") > 0,
          round(d(col("qs")) / col("t_qs"), 8)).as("w_temp"),
        when(col("n_tok") > 0 && col("t_qs") > 0,
          round(d(col("qs")) * mixBudget /
            (d(col("t_qs")) * col("n_tok")), 8)).as("epochs"))
      .orderBy(col("source"))
  }

  /** RRF's standard rank-smoothing constant (Cormack et al. 2009). */
  private val rrfK = 60.0

  /** e147: Poisson(1) bootstrap — replicate count and the inverse-CDF
    * thresholds (cumulative e⁻¹/k! as exact double literals; the SAME
    * text is interpolated into the oracle, so both engines draw
    * identical weights from identical hashed uniforms).
    */
  private val bootB = 32
  private val poissonCdf = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712")

  /** 2⁵² as a double literal: 13 md5 hex chars → uniform in [0, 1). */
  private val hashDen = "4503599627370496.0"

  /** e152: RBO geometric prefix weights (1−p)·p^(d−1) at p = 0.9,
    * materialized as doubles ONCE here and interpolated into the
    * oracle via [[java.lang.Double.toString]] round-trip literals —
    * never recomputed with pow(), whose libm may differ per engine.
    */
  private val rboWeights: IndexedSeq[Double] =
    (0 until 10).map(k => 0.1 * math.pow(0.9, k))

  /** e153: the fixed sample budget Neyman allocation distributes. */
  private val allocBudget = 100L

  /** e159: sign-flip replicates; e160: jackknife groups. */
  private val permB = 64
  private val jackG = 10L

  /** e163: standard-normal quantiles as shared double literals
    * (z₀.₉₇₅ for α = 0.05 two-sided; z₀.₈ for power 0.8) — the same
    * text parses in both engines, so no engine-local inverse CDF.
    */
  private val z975 = "1.959963984540054"
  private val z80 = "0.8416212335729143"

  /** e163's A/B guardrail algebra over a (grp, x) per-user frame —
    * SRM χ², Welch z of the per-user metric, and the α=0.05/power-0.8
    * MDE. Shared with the streaming twin c43 (the c42 discipline:
    * one judged algebra per engine, two input paths); exact integer
    * moments until three closed-form doubles.
    */
  private[queries] def guardrailPanel(perUser: DataFrame): DataFrame = {
    val g = perUser.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    val piv = g.agg(
      max(when(col("grp") === 0, col("n"))).as("n_c"),
      max(when(col("grp") === 0, col("sx"))).as("sx_c"),
      max(when(col("grp") === 0, col("sxx"))).as("sxx_c"),
      max(when(col("grp") === 1, col("n"))).as("n_t"),
      max(when(col("grp") === 1, col("sx"))).as("sx_t"),
      max(when(col("grp") === 1, col("sxx"))).as("sxx_t"))
    def variance(n: String, sx: String, sxx: String) =
      (d(col(n)) * col(sxx) - d(col(sx)) * col(sx)) /
        (d(col(n)) * (d(col(n)) - lit(1.0)))
    val seDiff = sqrt(variance("n_c", "sx_c", "sxx_c") / col("n_c") +
      variance("n_t", "sx_t", "sxx_t") / col("n_t"))
    val diff = d(col("sx_t")) / col("n_t") - d(col("sx_c")) / col("n_c")
    piv.select(col("n_c"), col("n_t"),
      round((d(col("n_c")) - col("n_t")) *
        (d(col("n_c")) - col("n_t")) /
        (d(col("n_c")) + col("n_t")), 8).as("srm_chi2"),
      round(d(col("sx_c")) / col("n_c"), 8).as("mean_c"),
      round(d(col("sx_t")) / col("n_t"), 8).as("mean_t"),
      round(diff, 8).as("diff"),
      round(seDiff, 8).as("se_diff"),
      round(diff / seDiff, 8).as("z"),
      round((expr(z975) + expr(z80)) * seDiff, 8).as("mde"))
  }

  /** e163's oracle text — also judges the streaming twin c43. */
  private[queries] def guardrailsSql: String = oracles("e163_ab_guardrails")

  /** One daily-count series of one event type — shared by e157 and
    * e159 (the paired-series tests), one definition per engine.
    */
  private def dailyEvents(s: SparkSession, dir: String,
                          tpe: String, out: String): DataFrame =
    events(s, dir).where(col("event_type") === tpe)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as(out))

  /** [[dailyEvents]]'s oracle twin (dv/dc CTE text). */
  private def dailySql(tpe: String, out: String): String =
    s"""SELECT CAST(ts AS DATE) AS d, count(*) AS $out
       FROM events WHERE event_type = '$tpe' GROUP BY 1"""

  /** The sign-binarized Hamming top-10 — e151's ranking leg, shared
    * with e152's position-sensitive agreement audit: one corpus pass
    * scored by the native `vec_sign_ham` codegen expression (exact
    * integer count — bit-equal to the higher-order fold it replaced,
    * without the per-row zipped-array allocation), TakeOrdered (no
    * global sort).
    */
  private def binaryTop10(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "embeddings").where(col("vec_id") =!= 0)
      .crossJoin(SimilarityQueries.queryVec(s, dir))
      .select(col("vec_id"),
        call_function("vec_sign_ham", col("embedding"), col("qe"))
          .as("ham"))
      .orderBy(col("ham").asc, col("vec_id")).limit(10)
  }

  /** 1-based rank of each row of a TINY ordered frame (top-k lists) by
    * (score desc, vec_id asc), via a broadcast triangular count — never
    * an unpartitioned window. The frame is eagerly materialized (it is
    * ≤ k rows) so the triangle reads a scan, not the scoring lineage.
    */
  private def rankTiny(df: DataFrame, rname: String): DataFrame = {
    val x = df.localCheckpoint(true)
    x.as("a").join(broadcast(x.as("b")),
        col("b.cosine") > col("a.cosine") ||
          (col("b.cosine") === col("a.cosine") &&
            col("b.vec_id") < col("a.vec_id")), "left")
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg((count(col("b.vec_id")) + 1L).as(rname))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Cohen's kappa: confusion cells from the SAME single-pass
    // detector derivation e127 audits; the matrix is ≤ |langs|² rows,
    // so every downstream frame is broadcast-trivial. kappa =
    // (N·agree − Σrt·ct) / (N² − Σrt·ct) — exact integers until the
    // one division (N² ≈ 2.5e13 at ×100: comfortably BIGINT).
    "e140_langid_kappa" -> ((s, dir) => {
      val cm = t(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(TextQueries.all("e4_langid")(s, dir), "doc_id")
        .groupBy("lang", "detected").agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // ≤ |langs|² rows, read by 3 frames
      val ag = cm.agg(sum(col("n")).as("n_docs"),
        coalesce(sum(when(col("lang") === col("detected"), col("n"))),
          lit(0L)).as("n_agree"))
      val rt = cm.groupBy("lang").agg(sum(col("n")).as("rt"))
      val ct = cm.groupBy("detected").agg(sum(col("n")).as("ct"))
      val pe = rt.join(broadcast(ct), rt("lang") === ct("detected"))
        .agg(coalesce(sum(col("rt") * col("ct")), lit(0L)).as("pe_num"))
      ag.crossJoin(broadcast(pe))
        .select(col("n_docs"), col("n_agree"), col("pe_num"),
          round(d(col("n_agree")) / col("n_docs"), 8).as("po"),
          round(d(col("pe_num")) / (d(col("n_docs")) * col("n_docs")), 8)
            .as("pe"),
          round((d(col("n_docs")) * col("n_agree") - col("pe_num")) /
            (d(col("n_docs")) * col("n_docs") - col("pe_num")), 8)
            .as("kappa"))
    }),

    // McNemar at doc level: a doc is "caught" by a detector when it
    // appears in any of that detector's candidate pairs. Both pair
    // frames are the judged detectors' own (the LSH side durably
    // staged) — zero new derivations; flags land on the doc spine via
    // two left joins, cells in one agg.
    "e141_mcnemar_dedup" -> ((s, dir) => {
      def caught(p: DataFrame, flag: String): DataFrame = p
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct().withColumn(flag, lit(1L))
      val mh = caught(DedupQueries.all("e1_minhash_pairs")(s, dir)
        .select("id_a", "id_b"), "f_mh")
      val sh = caught(Surface4Queries.simhashPairs(s, dir)
        .select("id_a", "id_b"), "f_sh")
      val cells = t(s, dir, "documents").select(col("doc_id"))
        .join(mh, Seq("doc_id"), "left").join(sh, Seq("doc_id"), "left")
        .select(coalesce(col("f_mh"), lit(0L)).as("f_mh"),
          coalesce(col("f_sh"), lit(0L)).as("f_sh"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("f_mh") * col("f_sh")).as("n_both"),
          sum(col("f_mh") * (lit(1L) - col("f_sh"))).as("n_mh_only"),
          sum((lit(1L) - col("f_mh")) * col("f_sh")).as("n_sh_only"))
      cells.select(col("n_docs"), col("n_both"), col("n_mh_only"),
        col("n_sh_only"),
        (col("n_docs") - col("n_both") - col("n_mh_only") -
          col("n_sh_only")).as("n_neither"),
        round(when(col("n_mh_only") + col("n_sh_only") > 0,
          (d(col("n_mh_only")) - col("n_sh_only")) *
            (d(col("n_mh_only")) - col("n_sh_only")) /
            (d(col("n_mh_only")) + col("n_sh_only"))), 8)
          .as("mcnemar_chi2"))
    }),

    // Cochran's Q, k = 3: Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²).
    // Docs where all screens agree (R_i ∈ {0, k}) contribute nothing
    // to either side and are kept — dropping them would change T.
    // ΣC² ≈ (3N)² at ×100 (≈ 2e14): BIGINT-safe.
    "e142_cochran_q" -> ((s, dir) => {
      val scr = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(
          when(size(array_intersect(array_distinct(col("tk")),
            lit(Surface12Queries.blocklistTerms.toArray))) > 0, 1L)
            .otherwise(0L).as("s1"),
          when(size(array_distinct(col("tk"))).cast("long") * repDen <
            size(col("tk")).cast("long") * repNum, 1L)
            .otherwise(0L).as("s2"),
          when(size(col("tk")) < shortTok, 1L).otherwise(0L).as("s3"))
        .withColumn("r", col("s1") + col("s2") + col("s3"))
      val ag = scr.agg(count(lit(1)).as("n_docs"),
        sum(col("s1")).as("c_blocklist"),
        sum(col("s2")).as("c_repetition"),
        sum(col("s3")).as("c_short"),
        sum(col("r")).as("t_total"),
        sum(col("r") * col("r")).as("sum_r2"))
      val num = lit(3.0) * (d(col("c_blocklist")) * col("c_blocklist") +
        d(col("c_repetition")) * col("c_repetition") +
        d(col("c_short")) * col("c_short")) -
        d(col("t_total")) * col("t_total")
      val den = lit(3.0) * col("t_total") - d(col("sum_r2"))
      ag.select(col("n_docs"), col("c_blocklist"), col("c_repetition"),
        col("c_short"), col("t_total"), col("sum_r2"),
        round(when(den =!= 0.0, lit(2.0) * num / den), 8).as("q_cochran"))
    }),

    // DSIR gains table: rank by the exact rational weight (nr/nt is
    // constant across docs, so w_num/w_den orders identically to the
    // full ratio — both engines divide the same integers, bit-equal
    // IEEE), deciles by exact rank arithmetic, cumulative capture via
    // a broadcast triangle over the 10-row per-decile frame (never an
    // unpartitioned window).
    "e143_dsir_gains" -> ((s, dir) => {
      import Quantiles.ldiv
      val w = Surface24Queries.dsirDocWeights(s, dir)
        .select(col("doc_id"), col("lang"),
          (d(col("w_num")) / col("w_den")).as("wd"))
      val dec = Rank.withGlobalRowNumber(w,
          Seq(col("wd").desc, col("doc_id").asc))
        .select(col("lang"), col("wd"),
          ldiv((col("rn") - 1L) * 10L, col("n_total")).as("decile"))
      val per = dec.groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
          min(col("wd")).as("w_min"), max(col("wd")).as("w_max"))
        .localCheckpoint(true) // 10 rows, read by the triangle + total
      val tot = broadcast(per.agg(sum(col("n_en")).as("n_en_tot"),
        sum(col("n_docs")).as("n_tot")))
      val cum = per.as("a").join(broadcast(per.as("b")),
          col("b.decile") <= col("a.decile"))
        .groupBy(col("a.decile").as("decile"))
        .agg(sum(col("b.n_en")).as("cum_en"))
      per.join(broadcast(cum), "decile").crossJoin(tot)
        .select(col("decile"), col("n_docs"), col("n_en"),
          round(d(col("n_en")) / col("n_docs"), 8).as("en_rate"),
          col("w_min"), col("w_max"), col("cum_en"),
          round(d(col("cum_en")) / col("n_en_tot"), 8).as("capture"),
          round(d(col("n_en")) * col("n_tot") /
            (d(col("n_docs")) * col("n_en_tot")), 8).as("lift"))
        .orderBy(col("decile"))
    }),

    // Temperature mixing: ONE narrow corpus pass to per-source token
    // totals (a |sources|-row frame), √c quantized to micro-units so
    // the normalizing sum is exact integer addition.
    "e144_temperature_mix" -> ((s, dir) =>
      mixReport(t(s, dir, "documents")
        .select(col("source"), TextAnalysis.tokenCount(col("text")).as("n"))
        .groupBy("source").agg(sum(col("n")).as("n_tok")))),

    // HITS, two exact iterations. The edge list (user, item, weight)
    // is the only corpus-sized frame; it is materialized once and
    // reused by all three score joins. Item scores are |items| rows
    // (broadcast); the user-score join shuffles edges on user_id once.
    "e145_hits" -> ((s, dir) => {
      val edges = events(s, dir)
        .where(col("event_type") === "click")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
        .where(col("item").isNotNull)
        .groupBy("user_id", "item").agg(count(lit(1)).as("w"))
        .localCheckpoint(true) // E rows; feeds a1, h1, a2
      val a1 = edges.groupBy("item").agg(sum(col("w")).as("a1"))
      val h1 = edges.join(broadcast(a1), "item")
        .groupBy("user_id").agg(sum(col("w") * col("a1")).as("h1"))
      val a2 = edges.join(h1, "user_id")
        .groupBy("item").agg(sum(col("w") * col("h1")).as("a2"))
        .localCheckpoint(true) // |items| rows; read by total + report
      val tot = broadcast(a2.agg(sum(col("a2")).as("t_a2")))
      a2.join(broadcast(a1), "item").crossJoin(tot)
        .select(col("item"), col("a1"), col("a2"),
          round(d(col("a2")) / col("t_a2"), 8).as("auth_frac"))
        .orderBy(col("a2").desc, col("item")).limit(10)
    }),

    // Reciprocal-rank fusion (Cormack et al. 2009) of the two judged
    // retrieval legs — exact brute-force cosine and the LSH-bucketed
    // ANN — over the same query vector: the standard hybrid-search
    // list merge (score = Σ 1/(60 + rank), absent list contributes 0).
    // Both inputs are the judged queries' own 10-row frames; ranks via
    // the broadcast triangle, fusion a full outer join of two ≤10-row
    // frames. e83 grades retrieve-then-RERANK; this is the
    // rank-only FUSION that needs no score calibration between legs.
    "e146_rrf_fusion" -> ((s, dir) => {
      val ex = rankTiny(SimilarityQueries.all("e2_topk")(s, dir), "r_exact")
      val an = rankTiny(SimilarityQueries.all("e2_lsh_topk")(s, dir), "r_ann")
      ex.join(an, Seq("vec_id"), "full_outer")
        .select(col("vec_id"), col("r_exact"), col("r_ann"),
          round(coalesce(lit(1.0) / (lit(rrfK) + col("r_exact")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("r_ann")), lit(0.0)), 8)
            .as("rrf_score"))
        .orderBy(col("rrf_score").desc, col("vec_id")).limit(10)
    }),

    // e144's temperature mix through the REAL micro-batch engine (the
    // c41 twin discipline, judged on e144's batch oracle): per-source
    // token totals as monotone KeySum state on transformWithState —
    // one ValueState[Long] per source, running totals appended per
    // batch and collapsed by max(total) for exactly-once counts — then
    // the SAME mixReport algebra on the final counter image. The
    // mixture monitor a live feed runs continuously.
    "c42_stream_mix" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("source").as("key"),
        TextAnalysis.tokenCount(col("text")).as("w"), col("doc_id"))
      val feed = Stage.durableChunkFeed("feed-c42", dir)(Seq(
        docs.where(col("doc_id") % 2 === 0).select("key", "w"),
        docs.where(col("doc_id") % 2 =!= 0).select("key", "w")))
      val tmp = Stage.tempDir("graft-c42-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val schema = StructType(Seq(StructField("key", StringType),
        StructField("w", LongType)))
      Stage.drain(StatefulOps.keySumStream(
          s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(feed).as[StatefulOps.KeyWeight]), ckpt, "update")(
        Stage.appendTo(out))
      mixReport(s.read.parquet(out)
        .groupBy("key").agg(max(col("total")).as("n_tok"))
        .select(col("key").as("source"), col("n_tok")))
    }),

    // Newman modularity of the near-dup graph under the SOURCE
    // partition: are duplicate edges concentrated within sources
    // (mirror/boilerplate duplication) or spread across them
    // (syndication)? Q = Σ_c (m_c/m − (D_c/2m)²), held as the exact
    // integer Σ_c (4·m·m_c − D_c²) over one final division by 4m².
    // Zero corpus passes: the edge list is the judged detector's own
    // staged frame; degrees and within-counts are pair-frame re-aggs.
    // e29 reports per-source dup RATES; this is the graph-level
    // within-vs-across concentration grade.
    "e149_modularity" -> ((s, dir) => {
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val lab = DedupQueries.all("e1_minhash_pairs")(s, dir)
        .select("id_a", "id_b")
        .join(src.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(src.as("sb"), col("id_b") === col("sb.doc_id"))
        .select(col("sa.source").as("src_a"), col("sb.source").as("src_b"))
        .localCheckpoint(true) // pair-frame sized; read by 3 re-aggs
      val m = broadcast(lab.agg(count(lit(1)).as("n_edges")))
      val dsum = lab
        .select(explode(array(col("src_a"), col("src_b"))).as("src"))
        .groupBy("src").agg(count(lit(1)).as("dc"))
      val within = lab.where(col("src_a") === col("src_b"))
        .groupBy(col("src_a").as("src")).agg(count(lit(1)).as("mc"))
      dsum.join(within, Seq("src"), "left")
        .select(col("dc"), coalesce(col("mc"), lit(0L)).as("mc"))
        .crossJoin(m)
        .agg(max(col("n_edges")).as("n_edges"),
          sum(col("mc")).as("n_within"),
          sum(lit(4L) * col("n_edges") * col("mc") -
            col("dc") * col("dc")).as("q_num"))
        .select(col("n_edges"), col("n_within"), col("q_num"),
          round(d(col("q_num")) /
            (lit(4.0) * d(col("n_edges")) * col("n_edges")), 8)
            .as("modularity"))
    }),

    // Degree assortativity of the near-dup graph (Newman's r: the
    // Pearson correlation of endpoint degrees over edge orientations):
    // positive r = hub docs duplicate each other (a boilerplate core),
    // negative = hubs attach to leaves (template + one-off copies) —
    // the graph-shape diagnostic next to e47's triangle census. Exact
    // integer moments over the 2m orientation list; by symmetry
    // Σx = Σy and Σx² = Σy², so three sums suffice.
    "e150_assortativity" -> ((s, dir) => {
      val pairs = DedupQueries.all("e1_minhash_pairs")(s, dir)
        .select("id_a", "id_b").localCheckpoint(true) // staged-frame read
      val deg = pairs
        .select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val o = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionAll(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      val xy = o
        .join(deg.select(col("id").as("u"), col("deg").as("dx")), "u")
        .join(deg.select(col("id").as("v"), col("deg").as("dy")), "v")
        .agg(count(lit(1)).as("n_orientations"),
          sum(col("dx")).as("sx"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dx") * col("dy")).as("sxy"))
      val den = d(col("n_orientations")) * col("sxx") -
        d(col("sx")) * col("sx")
      xy.select(col("n_orientations"), col("sx"), col("sxx"), col("sxy"),
        round(when(den =!= 0.0,
          (d(col("n_orientations")) * col("sxy") -
            d(col("sx")) * col("sx")) / den), 8).as("assortativity"))
    }),

    // Rank-biased overlap (Webber et al. 2010) between the exact and
    // sign-binarized top-10 rankings: the TOP-WEIGHTED list-agreement
    // measure (Kendall/Spearman weight all positions equally;
    // retrieval cares about the head). Truncated prefix form:
    // RBO@10 = (1−p)·Σ_d p^(d−1)·|top_d ∩ top_d|/d with p = 0.9 — the
    // geometric weights ride both plans as the SAME double literals,
    // and each prefix overlap is a conditional count over the ≤10-row
    // joined rank frame. e151 grades the binary leg by set recall;
    // this adds POSITION sensitivity (a list with the right members
    // in the wrong order scores lower). The LSH leg is not used here:
    // at the judged scales its bucket misses the exact head entirely
    // (e24's finding), which would make the statistic degenerate.
    "e152_rbo" -> ((s, dir) => {
      val ex = rankTiny(SimilarityQueries.all("e2_topk")(s, dir), "rx")
      val ap = binaryTop10(s, dir).localCheckpoint(true)
      val an = ap.as("a").join(broadcast(ap.as("b")),
          col("b.ham") < col("a.ham") ||
            (col("b.ham") === col("a.ham") &&
              col("b.vec_id") < col("a.vec_id")), "left")
        .groupBy(col("a.vec_id").as("vec_id"))
        .agg((count(col("b.vec_id")) + 1L).as("ra"))
      val j = ex.join(an, Seq("vec_id"))
      val xs = (1 to 10).map(dd => coalesce(sum(when(col("rx") <= dd &&
        col("ra") <= dd, 1L).otherwise(0L)), lit(0L)).as(s"x_$dd"))
      val agg = j.agg(count(lit(1)).as("n_common"), xs: _*)
      val rbo = (1 to 10).map(dd =>
          lit(rboWeights(dd - 1)) * d(col(s"x_$dd")) / lit(dd.toDouble))
        .reduce(_ + _)
      agg.select(col("n_common"),
        round(d(col("x_10")) / lit(10.0), 8).as("a10"),
        round(rbo, 8).as("rbo_trunc"))
    }),

    // Maximal marginal relevance (Carbonell & Goldstein 1998): greedy
    // diversified top-3 from the exact top-10 pool — each step picks
    // argmax of λ·rel − (1−λ)·max sim-to-already-selected, the
    // standard redundancy-avoiding re-selection every RAG/search
    // stack runs on its head. Three unrolled steps over ≤10-row
    // frames (pool relevance is the judged e2_topk leg; pairwise sims
    // one 90-row triangle); selection ties break by vec_id via the
    // e55 max_by total-order discipline.
    "e154_mmr_diversify" -> ((s, dir) => {
      import graft.operators.Similarity
      val lambdaW = lit(0.7); val divW = lit(0.3)
      val pool = SimilarityQueries.all("e2_topk")(s, dir)
        .join(t(s, dir, "embeddings"), "vec_id")
        .select(col("vec_id"), col("cosine").as("rel"), col("embedding"))
        .localCheckpoint(true) // 10 rows, read by sims + 3 steps
      val sims = pool.as("a").join(broadcast(pool.as("b")),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("d"), col("b.vec_id").as("s"),
          Similarity.cosine(col("a.embedding"), col("b.embedding"))
            .as("sim"))
        .localCheckpoint(true) // 90 rows, read by steps 2-3
      def pick(cand: DataFrame, score: org.apache.spark.sql.Column,
               step: Int): DataFrame =
        cand.agg(max_by(struct(col("vec_id"), score.as("mmr")),
            struct(score, lit(0L) - col("vec_id"))).as("w"))
          .select(lit(step.toLong).as("step"), col("w.vec_id").as("vec_id"),
            round(col("w.mmr"), 8).as("mmr_score"))
          .localCheckpoint(true) // 1 row, read by later steps + union
      val s1 = pick(pool, col("rel"), 1)
      val c2 = pool.join(broadcast(s1.select(col("vec_id").as("sel1"))),
          col("vec_id") =!= col("sel1"))
        .join(sims, col("vec_id") === col("d") && col("s") === col("sel1"))
      val s2 = pick(c2, lambdaW * col("rel") - divW * col("sim"), 2)
      val c3 = pool
        .join(broadcast(s1.select(col("vec_id").as("sel1"))),
          col("vec_id") =!= col("sel1"))
        .join(broadcast(s2.select(col("vec_id").as("sel2"))),
          col("vec_id") =!= col("sel2"))
        .join(sims.as("m1"),
          col("vec_id") === col("m1.d") && col("m1.s") === col("sel1"))
        .join(sims.as("m2"),
          col("vec_id") === col("m2.d") && col("m2.s") === col("sel2"))
        .select(col("vec_id"), col("rel"),
          greatest(col("m1.sim"), col("m2.sim")).as("maxsim"))
      val s3 = pick(c3, lambdaW * col("rel") - divW * col("maxsim"), 3)
      s1.unionAll(s2).unionAll(s3).orderBy(col("step"))
    }),

    // Split-conformal prediction interval (Vovk; Lei et al.) for doc
    // token count under a per-language mean predictor: the modern
    // DISTRIBUTION-FREE interval with finite-sample coverage — fit on
    // the train split, take the ⌈(n+1)(1−α)⌉-th smallest absolute
    // residual on the CALIBRATION split as the interval half-width
    // (exact rank selection, the engine's contains-rank discipline,
    // α = 0.2), then report measured coverage on the held-out test
    // split. Reuses e8's hash-split convention; one tokenize pass
    // serves all three splits.
    "e161_conformal" -> ((s, dir) => {
      import Quantiles.ldiv
      import graft.operators.Corpus
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("x"),
          Corpus.splitName(Corpus.hashBucket(col("doc_id"))).as("split"))
        .localCheckpoint(true) // ONE tokenize pass, read by 3 splits
      val m = broadcast(base.where(col("split") === "train")
        .groupBy("lang")
        .agg((d(sum(col("x"))) / count(lit(1))).as("m")))
      val cal = base.where(col("split") === "val").join(m, "lang")
        .select(col("doc_id"), abs(d(col("x")) - col("m")).as("r"))
      val qhat = Rank.withGlobalRowNumber(cal,
          Seq(col("r").asc, col("doc_id").asc))
        .where(col("rn") ===
          ldiv((col("n_total") + 1L) * 4L + 4L, 5L))
        .select(col("r").as("qhat"), col("n_total").as("n_cal"),
          col("rn").as("k_rank"))
        .localCheckpoint(true) // 1 row, read by the coverage pass
      // grouped (not global) agg: the report row exists iff BOTH the
      // calibration quantile and test rows exist — a global agg would
      // emit a spurious all-null row on an empty join while the
      // oracle's grouped form emits none
      base.where(col("split") === "test").join(m, "lang")
        .crossJoin(broadcast(qhat))
        .groupBy(col("n_cal"), col("k_rank"), col("qhat"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(abs(d(col("x")) - col("m")) <= col("qhat"), 1L)
            .otherwise(0L)).as("n_covered"))
        .select(col("n_cal"), col("k_rank"),
          round(col("qhat"), 8).as("qhat"),
          col("n_test"), col("n_covered"),
          round(d(col("n_covered")) / col("n_test"), 8).as("coverage"))
    }),

    // A/B experimentation guardrail panel over the parity assignment
    // (the page an experimentation platform renders before anyone
    // reads a lift number): sample-ratio-mismatch χ² on the user
    // split, the Welch z of the per-user purchase metric, and the
    // minimum detectable effect at α=0.05 / power 0.8 — the normal
    // quantiles ride BOTH plans as the same double literals (never an
    // engine-local inverse CDF). Per-user metric includes zero-fill
    // by construction (conditional count over ALL observed users);
    // exact integer moments, three closed-form doubles.
    "e163_ab_guardrails" -> ((s, dir) =>
      guardrailPanel(events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("x"))
        .select((col("user_id") % 2).as("grp"), col("x")))),

    // Difference-in-differences over the event stream — the textbook
    // causal-analytics primitive (two groups × two periods, estimate =
    // the treated group's change minus the control group's change):
    // group = user_id parity (the deterministic assignment proxy a
    // synthetic fixture supports), periods split at the exact midpoint
    // of the observed time range (2·t < lo + hi — integer micros, no
    // division), cell means = exact event counts over per-group user
    // totals. ONE events pass + a broadcast (lo, hi) scalar.
    "e162_did" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tm"))
      val mm = broadcast(ev.agg(min(col("tm")).as("lo"),
        max(col("tm")).as("hi")))
      val x = ev.crossJoin(mm)
        .select((col("user_id") % 2).as("grp"),
          when(lit(2L) * col("tm") < col("lo") + col("hi"), 1L)
            .otherwise(2L).as("p"),
          col("user_id"))
      x.agg(
          countDistinct(when(col("grp") === 0, col("user_id"))).as("u_c"),
          countDistinct(when(col("grp") === 1, col("user_id"))).as("u_t"),
          sum(when(col("grp") === 0 && col("p") === 1, 1L).otherwise(0L))
            .as("c_c1"),
          sum(when(col("grp") === 0 && col("p") === 2, 1L).otherwise(0L))
            .as("c_c2"),
          sum(when(col("grp") === 1 && col("p") === 1, 1L).otherwise(0L))
            .as("c_t1"),
          sum(when(col("grp") === 1 && col("p") === 2, 1L).otherwise(0L))
            .as("c_t2"))
        .select(col("u_c"), col("u_t"), col("c_c1"), col("c_c2"),
          col("c_t1"), col("c_t2"),
          round((d(col("c_t2")) - col("c_t1")) / col("u_t") -
            (d(col("c_c2")) - col("c_c1")) / col("u_c"), 8).as("did"))
    }),

    // Seeded sign-flip permutation test on the day-paired series —
    // the DISTRIBUTION-FREE companion of e157 (Wilcoxon still leans
    // on the normal approximation of its null; the permutation test
    // compares T_obs = Σd against its own exact randomization
    // distribution): B=64 sign patterns from md5(b, day) (the
    // e89/e147 seeded discipline — no RNG state, embarrassingly
    // parallel), every statistic an exact integer, p-value the
    // add-one rational. ONE pass over the calendar-bounded day spine
    // × a broadcast 64-row replicate spine.
    "e159_permutation_test" -> ((s, dir) => {
      val diffs = dailyEvents(s, dir, "view", "x")
        .join(dailyEvents(s, dir, "click", "y"), "d")
        .select(datediff(col("d"), lit("1970-01-01").cast("date"))
          .cast("long").as("epd"), (col("x") - col("y")).as("diff"))
        .localCheckpoint(true) // day-spine sized; read by obs + perms
      val obs = broadcast(diffs.agg(count(lit(1)).as("n_days"),
        sum(col("diff")).as("t_obs")))
      val spine = broadcast(s.range(1, permB + 1).select(col("id").as("b")))
      val sgn = lit(1L) - lit(2L) *
        (conv(substring(md5(concat(col("b").cast("string"), lit("#"),
          col("epd").cast("string")).cast("binary")), 1, 13), 16, 10)
          .cast("long") % 2L)
      val perms = diffs.crossJoin(spine)
        .select(col("b"), (sgn * col("diff")).as("sd"))
        .groupBy("b").agg(sum(col("sd")).as("t_b"))
      perms.crossJoin(obs)
        .agg(max(col("n_days")).as("n_days"), max(col("t_obs")).as("t_obs"),
          count(lit(1)).as("b_reps"),
          sum(when(abs(col("t_b")) >= abs(col("t_obs")), 1L)
            .otherwise(0L)).as("n_ge"))
        .select(col("n_days"), col("t_obs"), col("b_reps"), col("n_ge"),
          round((d(col("n_ge")) + lit(1.0)) /
            (d(col("b_reps")) + lit(1.0)), 8).as("p_value"))
    }),

    // Delete-one-group jackknife SE of the corpus mean token count —
    // the third member of the resampling trio (e147 bootstrap, e159
    // permutation): G=10 md5 buckets, leave-one-bucket-out pseudo
    // estimates from ONE pass of per-bucket integer sums, deviations
    // micro-quantized so the cross-group variance is exact integer
    // algebra. The grouped ("delete-d") jackknife is precisely the
    // form that works distributed — leave-one-ROW-out would need N
    // passes.
    "e160_jackknife" -> ((s, dir) => {
      val g = conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 4), 16, 10).cast("long") % jackG
      val bk = t(s, dir, "documents")
        .select(g.as("g"), TextAnalysis.tokenCount(col("text")).as("x"))
        .groupBy("g").agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"))
        .localCheckpoint(true) // G rows, read by totals + pseudo values
      val tot = broadcast(bk.agg(sum(col("n_g")).as("n"),
        sum(col("s_g")).as("s")))
      val pseudo = bk.crossJoin(tot)
        .select(floor((d(col("s")) - col("s_g")) /
          (d(col("n")) - col("n_g")) * lit(1e6)).cast("long").as("q"))
        .localCheckpoint(true) // G rows, read by sum + deviations
      val qtot = broadcast(pseudo.agg(sum(col("q")).as("sq"),
        count(lit(1)).as("gn")))
      pseudo.crossJoin(qtot)
        .select(((col("q") * col("gn") - col("sq")) *
          (col("q") * col("gn") - col("sq"))).as("dev2"),
          col("gn"), col("sq"))
        .groupBy("gn").agg(sum(col("dev2")).as("sdev2"))
        .crossJoin(tot)
        .select(col("n").as("n_docs"), col("gn").as("g_buckets"),
          round(d(col("s")) / col("n"), 8).as("theta_hat"),
          round(sqrt((d(col("gn")) - lit(1.0)) / col("gn") *
            col("sdev2")) / (d(col("gn")) * lit(1e6)), 8).as("se_jack"))
    }),

    // Wilcoxon signed-rank test — the PAIRED two-sample member the
    // nonparametric battery lacked (e104 Mann–Whitney assumes
    // independent samples; q127 Friedman needs k blocked treatments;
    // this pairs the two daily event series BY DAY and tests whether
    // their per-day difference is centered at zero). Zero diffs drop
    // (classical); |d| average ranks stay integral as s = 2r via the
    // histogram triangle (the q126 calendar-bounded shape); W⁺, the
    // null moments, and the tie correction are exact integers with
    // one closed-form z.
    "e157_wilcoxon" -> ((s, dir) => {
      val paired = dailyEvents(s, dir, "view", "x")
        .join(dailyEvents(s, dir, "click", "y"), "d")
        .select((col("x") - col("y")).as("diff"))
        .where(col("diff") =!= 0)
        .select(abs(col("diff")).as("absd"),
          when(col("diff") > 0, 1L).otherwise(0L).as("pos"))
      val h = paired.groupBy("absd")
        .agg(count(lit(1)).as("t"), sum(col("pos")).as("npos"))
        .localCheckpoint(true) // |distinct diffs| rows, read by triangle
      val ranked = h.as("a").join(broadcast(h.as("b")),
          col("b.absd") < col("a.absd"), "left")
        .groupBy(col("a.absd"), col("a.t"), col("a.npos"))
        .agg(coalesce(sum(col("b.t")), lit(0L)).as("below"))
        .select(col("t"), col("npos"),
          (lit(2L) * col("below") + col("t") + 1L).as("s2r"))
      val ag = ranked.agg(sum(col("t")).as("n_pairs"),
        sum(col("npos") * col("s2r")).as("s2_wplus"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tie_term"))
      val nD = d(col("n_pairs"))
      val mu2 = nD * (nD + lit(1.0)) / lit(2.0)
      val var2 = nD * (nD + lit(1.0)) * (lit(2.0) * nD + lit(1.0)) /
        lit(6.0) - d(col("tie_term")) / lit(12.0)
      ag.select(col("n_pairs"), col("s2_wplus"), col("tie_term"),
        round(mu2, 8).as("mu2_null"),
        round(var2, 8).as("var2_null"),
        round(when(var2 > 0.0, (d(col("s2_wplus")) - mu2) / sqrt(var2)),
          8).as("z"))
    }),

    // Per-class classifier report of the langid router — precision,
    // recall, F1, and Matthews correlation per TRUE language, the
    // standard multi-class evaluation page (e127 publishes the raw
    // confusion MATRIX; e140 one chance-corrected scalar; this is the
    // per-class operating report). All cells exact integers off the
    // same single-pass detector derivation; F1 in the 2TP/(2TP+FP+FN)
    // rational form; MCC's four marginal factors multiply as doubles
    // in fixed order (N⁴ exceeds BIGINT at extreme scale).
    "e158_classifier_report" -> ((s, dir) => {
      val cm = t(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(TextQueries.all("e4_langid")(s, dir), "doc_id")
        .groupBy("lang", "detected").agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // ≤ |langs|² rows, read by 4 frames
      val nF = broadcast(cm.agg(sum(col("n")).as("n_total")))
      val rt = cm.groupBy("lang").agg(sum(col("n")).as("row_tot"))
      val diag = cm.where(col("lang") === col("detected"))
        .select(col("lang"), col("n").as("tp"))
      val ct = cm.groupBy("detected").agg(sum(col("n")).as("col_tot"))
      val cls = rt.join(broadcast(diag), Seq("lang"), "left")
        .join(broadcast(ct), rt("lang") === ct("detected"), "left")
        .crossJoin(nF)
        .select(col("lang"),
          coalesce(col("tp"), lit(0L)).as("tp"),
          (coalesce(col("col_tot"), lit(0L)) -
            coalesce(col("tp"), lit(0L))).as("fp"),
          (col("row_tot") - coalesce(col("tp"), lit(0L))).as("fn"),
          (col("n_total") - col("row_tot") -
            coalesce(col("col_tot"), lit(0L)) +
            coalesce(col("tp"), lit(0L))).as("tn"))
      val mccDen = sqrt(d(col("tp") + col("fp")) * (col("tp") + col("fn")) *
        (col("tn") + col("fp")) * (col("tn") + col("fn")))
      cls.select(col("lang"), col("tp"), col("fp"), col("fn"), col("tn"),
          round(when(col("tp") + col("fp") > 0,
            d(col("tp")) / (col("tp") + col("fp"))), 8).as("precision"),
          round(when(col("tp") + col("fn") > 0,
            d(col("tp")) / (col("tp") + col("fn"))), 8).as("recall"),
          round(when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
            lit(2.0) * col("tp") /
              (lit(2L) * col("tp") + col("fp") + col("fn"))), 8)
            .as("f1"),
          round(when(mccDen > 0.0,
            (d(col("tp")) * col("tn") - d(col("fp")) * col("fn")) /
              mccDen), 8).as("mcc"))
        .orderBy(col("lang"))
    }),

    // TextTiling-style topic-shift segmentation (Hearst 1997,
    // simplified to an exact-arithmetic form): per document, adjacent
    // 20-token blocks compared by distinct-token Jaccard; a boundary
    // fires where inter·10 < union (the 0.1 threshold held as an
    // exact integer cross-product compare). The WITHIN-document
    // structure operator the text family lacked (e14 chunks by size,
    // e61/e66 find cross-doc repeats; this finds topic seams inside
    // one doc). Fully narrow: blocks, pair overlaps, and the rollup
    // all ride ONE projection over the tokens array — no explode, no
    // shuffle until the final doc-keyed report. Cohesion is the
    // pooled Σinter/Σunion (ratio of sums, not mean of ratios — exact
    // integers, order-free).
    "e156_texttiling" -> ((s, dir) => {
      import Quantiles.ldiv
      val W = 20
      val blocks = transform(
        sequence(lit(1L),
          ldiv(size(col("tk")).cast("long") - 1L, lit(W.toLong)) + 1L),
        i => array_distinct(slice(col("tk"),
          ((i - 1L) * W + 1L).cast("int"), lit(W))))
      // sequence(1, 0) DESCENDS in Spark, so a single-block doc must
      // short-circuit to an empty pair list explicitly
      val pairs = when(size(col("blocks")) > 1, transform(
        sequence(lit(1), size(col("blocks")) - 1),
        i => struct(
          size(array_intersect(element_at(col("blocks"), i),
            element_at(col("blocks"), i + 1))).cast("long").as("i"),
          size(array_union(element_at(col("blocks"), i),
            element_at(col("blocks"), i + 1))).cast("long").as("u"))))
        .otherwise(array().cast("array<struct<i:bigint,u:bigint>>"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .where(size(col("tk")) > 0)
        .select(col("doc_id"), blocks.as("blocks"))
        .select(col("doc_id"),
          size(col("blocks")).cast("long").as("n_blocks"),
          pairs.as("ps"))
        .select(col("doc_id"), col("n_blocks"),
          size(col("ps")).cast("long").as("n_pairs"),
          aggregate(col("ps"), lit(0L), (a, p) => a + p.getField("i"))
            .as("sum_inter"),
          aggregate(col("ps"), lit(0L), (a, p) => a + p.getField("u"))
            .as("sum_union"),
          aggregate(col("ps"), lit(0L), (a, p) =>
            a + when(p.getField("i") * 10L < p.getField("u"), 1L)
              .otherwise(0L)).as("n_boundaries"))
        .withColumn("pooled_jacc",
          round(when(col("sum_union") > 0,
            d(col("sum_inter")) / col("sum_union")), 8))
    }),

    // Kendall's W (coefficient of concordance, tie-corrected): do the
    // engine's THREE retrieval scorers — exact cosine, sign-Hamming,
    // and the 32-dim matryoshka prefix — agree on how to order the
    // retrieval head? e114 correlates TWO rankings; W grades m
    // rankers at once (W = 12S/(m²(n³−n) − mΣT)). Average ranks stay
    // integral as s = 2r (the q127 discipline), so the deviation sum
    // and tie terms are exact integers with ONE final division. All
    // frames ≤ 10 rows after the pool join.
    "e155_kendall_w" -> ((s, dir) => {
      import graft.operators.Similarity
      graft.functions.GraftFunctions.register(s)
      val pool = SimilarityQueries.all("e2_topk")(s, dir)
        .join(t(s, dir, "embeddings"), "vec_id")
        .crossJoin(SimilarityQueries.queryVec(s, dir))
        .select(col("vec_id"), col("cosine").as("rel"),
          call_function("vec_sign_ham", col("embedding"), col("qe"))
            .as("ham"),
          Similarity.cosine(slice(col("embedding"), 1, 32),
            slice(col("qe"), 1, 32)).as("cos32"))
        .localCheckpoint(true) // 10 rows; read by 3 triangles + ties
      // s = 2·(average rank) = 2·below + t + 1, t = tied incl. self
      def srank(score: String, desc: Boolean): DataFrame = {
        val better = if (desc) col(s"b.$score") > col(s"a.$score")
          else col(s"b.$score") < col(s"a.$score")
        pool.as("a").crossJoin(broadcast(pool.as("b")))
          .groupBy(col("a.vec_id").as("vec_id"))
          .agg((lit(2L) * sum(when(better, 1L).otherwise(0L)) +
            sum(when(col(s"b.$score") === col(s"a.$score"), 1L)
              .otherwise(0L)) + lit(1L)).as(s"s_$score"))
      }
      def tieTerm(score: String): DataFrame =
        pool.groupBy(col(score)).agg(count(lit(1)).as("t"))
          .agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")),
            lit(0L)).as(s"t_$score"))
      val nF = broadcast(pool.agg(count(lit(1)).as("n")))
      val dev = srank("rel", desc = true)
        .join(srank("ham", desc = false), "vec_id")
        .join(srank("cos32", desc = true), "vec_id")
        .select((col("s_rel") + col("s_ham") + col("s_cos32")).as("sr"))
        .crossJoin(nF)
        .agg(sum((col("sr") - lit(3L) * (col("n") + 1L)) *
          (col("sr") - lit(3L) * (col("n") + 1L))).as("sr_dev2"))
      val ties = tieTerm("rel").crossJoin(broadcast(tieTerm("ham")))
        .crossJoin(broadcast(tieTerm("cos32")))
        .select((col("t_rel") + col("t_ham") + col("t_cos32"))
          .as("tie_term"))
      nF.crossJoin(broadcast(dev)).crossJoin(broadcast(ties))
        .select(col("n").as("n_items"), lit(3L).as("m_rankers"),
          col("sr_dev2"), col("tie_term"),
          round(lit(3.0) * col("sr_dev2") /
            (lit(9.0) * (d(col("n")) * col("n") * col("n") - col("n")) -
              lit(3.0) * col("tie_term")), 8).as("w"))
    }),

    // Neyman optimal allocation of a fixed sample budget across the
    // language strata (survey sampling: n_h ∝ N_h·S_h, minimizing the
    // stratified-mean variance): the principled version of e53's
    // proportional stratified sample — strata with more internal
    // variance get more budget. Per-stratum S_h from exact integer
    // moments; N_h·S_h quantized to micro-units before the
    // cross-stratum normalizer (the e144 discipline); integer floor
    // allocation so the judged counts are exact.
    "e153_neyman_alloc" -> ((s, dir) => {
      import Quantiles.ldiv
      val st = t(s, dir, "documents")
        .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("x"))
        .groupBy("lang").agg(count(lit(1)).as("n_h"),
          sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
        .where(col("n_h") > 1)
        .select(col("lang"), col("n_h"),
          sqrt((d(col("n_h")) * col("sxx") - d(col("sx")) * col("sx")) /
            (d(col("n_h")) * (d(col("n_h")) - lit(1.0)))).as("s_h"))
        .select(col("lang"), col("n_h"), col("s_h"),
          floor(d(col("n_h")) * col("s_h") * lit(1e6)).cast("long")
            .as("qw"))
        .localCheckpoint(true) // |langs| rows, read by total + report
      val tot = broadcast(st.agg(sum(col("qw")).as("t_qw")))
      st.crossJoin(tot)
        .select(col("lang"), col("n_h"), round(col("s_h"), 8).as("s_h"),
          col("qw"),
          round(d(col("qw")) / col("t_qw"), 8).as("share"),
          ldiv(col("qw") * allocBudget, col("t_qw")).as("n_alloc"))
        .orderBy(col("lang"))
    }),

    // Binary-embedding recall audit: rank by Hamming distance over
    // per-dim SIGN bits (the 32×-compression "binary embeddings"
    // storage trick) and grade recall@10 against exact cosine — the
    // sign-quantization member of the compression-audit family (e67/
    // e69 grade product quantization, e129 matryoshka truncation, e18
    // scalar quantization). One corpus pass for the Hamming ranking
    // (TakeOrdered, no global sort), the exact side is the judged
    // e2_topk frame, the verdict a 10×10 semi-join.
    "e151_binary_recall" -> ((s, dir) => {
      val approx = binaryTop10(s, dir)
        .localCheckpoint(true) // 10 rows, read by the hit join + radius
      val hits = SimilarityQueries.all("e2_topk")(s, dir)
        .select("vec_id")
        .join(approx, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      hits.crossJoin(broadcast(approx.agg(max(col("ham"))
          .as("ham_radius"))))
        .select(col("n_hit"),
          (d(col("n_hit")) / lit(10.0)).as("recall"),
          col("ham_radius"))
    }),

    // Poisson bootstrap (Chamandy et al., the at-scale bootstrap:
    // per-replicate multinomial resampling is impossible in one pass,
    // but Poisson(1) weights per (replicate, row) are iid and give the
    // same SE estimate): B=32 replicates of the corpus mean token
    // count, weights drawn by inverse-CDF over a SEEDED md5 uniform
    // (both engines hash the same string, compare against the same
    // literal thresholds — the e89 seeded-mechanism discipline).
    // Replicate means are exact-integer ratios; the cross-replicate
    // SE runs over micro-quantized means so no double sum is
    // row-order-dependent. ONE tokenize pass × a broadcast 32-row
    // replicate spine, map-side-combinable per-replicate sums.
    "e147_poisson_bootstrap" -> ((s, dir) => {
      val xs = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("x"))
      // replicate 0 carries weight 1 everywhere = the full sample, so
      // ONE tokenize pass serves the point estimate AND all B
      // replicates (33 groups, map-side combined)
      val spine = broadcast(s.range(0, bootB + 1).select(col("id").as("b")))
      val u = conv(substring(md5(concat(col("b").cast("string"), lit("#"),
        col("doc_id").cast("string")).cast("binary")), 1, 13), 16, 10)
        .cast("long").cast("double") / expr(hashDen)
      val w = when(col("b") === 0, lit(1L)).otherwise(
        poissonCdf.zipWithIndex.foldRight(lit(7L): org.apache.spark.sql.Column) {
          case ((c, k), rest) => when(u < expr(c), k.toLong).otherwise(rest)
        })
      val byRep = xs.crossJoin(spine)
        .select(col("b"), w.as("w"), col("x"))
        .groupBy("b").agg(sum(col("w")).as("n_b"),
          sum(col("w") * col("x")).as("s_b"))
        .localCheckpoint(true) // B+1 rows, read by full + reps
      val full = broadcast(byRep.where(col("b") === 0)
        .select(col("n_b").as("n_docs"), col("s_b").as("sum_x")))
      val reps = byRep.where(col("b") > 0)
        .select(floor(d(col("s_b")) / col("n_b") * lit(1e6))
          .cast("long").as("mq"))
      reps.agg(count(lit(1)).as("b_reps"), sum(col("mq")).as("sum_m"),
          sum(col("mq") * col("mq")).as("sum_m2"),
          min(col("mq")).as("mq_min"), max(col("mq")).as("mq_max"))
        .crossJoin(full)
        .select(col("n_docs"), col("b_reps"),
          round(d(col("sum_x")) / col("n_docs"), 8).as("mean_full"),
          round(d(col("mq_min")) / lit(1e6), 8).as("m_min"),
          round(d(col("mq_max")) / lit(1e6), 8).as("m_max"),
          round(sqrt((d(col("b_reps")) * col("sum_m2") -
              d(col("sum_m")) * col("sum_m")) /
              (d(col("b_reps")) * (d(col("b_reps")) - lit(1.0)))) /
            lit(1e6), 8).as("se_boot"))
    }),

    // PCA power iteration — the DIRECTIONAL companion of e139's
    // anisotropy screen (e139 says "vectors share a direction"; this
    // names it): two exact unrolled iterations of v ← Σ(x−μ)((x−μ)·v)
    // from v₀ = 1⃗, per-dim accumulators micro-quantized to longs so
    // every cross-row sum is order-independent, the 64-cell vectors
    // assembled IN-PLAN (sort_array'd collect_list — no driver
    // collect), λ₁ from the last un-normalized image's norm and the
    // explained-variance share against the exact-quantized trace.
    // Three linear corpus passes (dim sums; two scoring passes), all
    // map-side-combinable on 64 keys.
    "e148_power_iteration" -> ((s, dir) => {
      import graft.operators.Similarity
      val corpus = t(s, dir, "embeddings").where(col("vec_id") =!= 0)
      val nF = broadcast(corpus.agg(count(lit(1)).as("n")))
      val xD = (i: org.apache.spark.sql.Column) => i.cast("double")
      val dimSums = corpus
        .select(posexplode(col("embedding")).as(Seq("p0", "v")))
        .select(col("p0"),
          floor(xD(col("v")) * lit(1e7)).cast("long").as("q"),
          floor(xD(col("v")) * xD(col("v")) * lit(1e7)).cast("long").as("q2"))
        .groupBy("p0").agg(sum(col("q")).as("sq"), sum(col("q2")).as("sq2"))
      def foldSum(arr: org.apache.spark.sql.Column) =
        aggregate(arr, lit(0.0), (a, x) => a + x)
      // 1-row frame: μ (array), per-dim Σx² (array), n, cv1 = μ·1⃗
      val muRow = dimSums
        .agg(sort_array(collect_list(struct(col("p0"), col("sq"),
          col("sq2")))).as("ps"))
        .crossJoin(nF)
        .select(
          transform(col("ps"), p => p.getField("sq").cast("double")
            / lit(1e7) / col("n").cast("double")).as("mu"),
          transform(col("ps"), p => p.getField("sq2").cast("double")
            / lit(1e7)).as("sx2"),
          col("n"))
        .withColumn("cv", foldSum(col("mu")))
        .localCheckpoint(true)
      // one scoring pass: s = x·v − μ·v per row, then per-dim
      // quantized Σ(x_j − μ_j)·s. vExpr(prev) gives the direction the
      // pass scores against (1⃗ for iteration 1, v₁ for iteration 2).
      def qPass(prev: DataFrame, sExpr: org.apache.spark.sql.Column): DataFrame =
        corpus.crossJoin(broadcast(prev))
          .select(col("embedding"), col("mu"), sExpr.as("s"))
          .select(posexplode(transform(col("embedding"), (x, i) =>
            floor((xD(x) - element_at(col("mu"), i + 1)) * col("s") *
              lit(1e6)).cast("long"))).as(Seq("p0", "t")))
          .groupBy("p0").agg(sum(col("t")).as("q"))
      def assemble(qs: DataFrame, prev: DataFrame): DataFrame =
        qs.agg(sort_array(collect_list(struct(col("p0"), col("q"))))
            .as("ps"))
          .crossJoin(broadcast(prev.drop("cv")))
          .select(col("mu"), col("sx2"), col("n"),
            transform(col("ps"), p => p.getField("q").cast("double")
              / lit(1e6)).as("vq"))
          .withColumn("nrm", sqrt(foldSum(transform(col("vq"),
            x => x * x))))
          .withColumn("v", transform(col("vq"), x => x / col("nrm")))
          .withColumn("cv", foldSum(zip_with(col("mu"), col("v"),
            (a, b) => a * b)))
          .localCheckpoint(true)
      val s1 = foldSum(transform(col("embedding"), x => xD(x))) - col("cv")
      val v1Row = assemble(qPass(muRow, s1), muRow)
      val s2 = Similarity.dot(col("embedding"), col("v")) - col("cv")
      val q2 = qPass(v1Row, s2).localCheckpoint(true) // 64 rows, read 2×
      val fin = q2
        .agg(sort_array(collect_list(struct(col("p0"), col("q")))).as("ps"))
        .crossJoin(broadcast(v1Row.select("mu", "sx2", "n")))
        .select(col("n"),
          sqrt(foldSum(transform(col("ps"), p =>
            (p.getField("q").cast("double") / lit(1e6)) *
              (p.getField("q").cast("double") / lit(1e6))))).as("nrm2"),
          (foldSum(col("sx2")) - col("n").cast("double") *
            foldSum(zip_with(col("mu"), col("mu"), (a, b) => a * b)))
            .as("tr_num"))
      q2.crossJoin(broadcast(fin))
        .select((col("p0") + 1).cast("long").as("pos"),
          col("q").as("loading_q"),
          round((d(col("q")) / lit(1e6)) / col("nrm2"), 8).as("loading"),
          round(col("nrm2") / (d(col("n")) - lit(1.0)), 8).as("lambda1"),
          round(col("nrm2") / col("tr_num"), 8).as("explained_frac"))
        .orderBy(col("pos"))
    }))

  private val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  private def castD(x: String) = s"CAST($x AS DOUBLE)"

  /** The sign-bit Hamming fold — [[binaryTop10]]'s oracle twin,
    * shared by e151 and e152 (expects `e`/`q` relation aliases).
    */
  private val binHamSql =
    """list_reduce(list_transform(generate_series(1, 64),
        fi -> CASE WHEN (e.embedding[fi] >= 0) <> (q.qe[fi] >= 0)
          THEN 1 ELSE 0 END), (acc, x) -> acc + x)"""

  /** Rank over a tiny top-k CTE by (cosine desc, vec_id) — the oracle
    * twin of [[rankTiny]], shared by e146 and e152.
    */
  private def rankSql(src: String, rname: String) =
    s"""SELECT a.vec_id, 1 + count(b.vec_id) AS $rname
       FROM $src a LEFT JOIN $src b
         ON b.cosine > a.cosine
           OR (b.cosine = a.cosine AND b.vec_id < a.vec_id)
       GROUP BY 1"""

  /** Shared by e144 and its streaming twin c42 (same judged frame). */
  private val temperatureMixSql =
    s"""WITH c AS (SELECT source,
         CAST(SUM(len($tokensSql)) AS BIGINT) AS n_tok
         FROM documents GROUP BY 1),
       q AS (SELECT source, n_tok,
           CAST(floor(sqrt(CAST(n_tok AS DOUBLE)) * 1000000.0) AS BIGINT)
             AS qs FROM c),
       t AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t_tok,
           CAST(SUM(qs) AS BIGINT) AS t_qs FROM q)
       SELECT source, n_tok, qs,
         CASE WHEN t_tok > 0 THEN
           round(CAST(n_tok AS DOUBLE) / t_tok, 8) END AS w_prop,
         CASE WHEN t_qs > 0 THEN
           round(CAST(qs AS DOUBLE) / t_qs, 8) END AS w_temp,
         CASE WHEN n_tok > 0 AND t_qs > 0 THEN
           round(CAST(qs AS DOUBLE) * $mixBudget /
             (CAST(t_qs AS DOUBLE) * n_tok), 8) END AS epochs
       FROM q, t ORDER BY source"""

  val oracles: Map[String, String] = Map(

    "e140_langid_kappa" -> {
      val det = TextQueries.oracles("e4_langid")
      s"""WITH det AS MATERIALIZED ($det),
         cm AS (SELECT d.lang, det.detected, count(*) AS n
           FROM documents d JOIN det USING (doc_id) GROUP BY 1, 2),
         ag AS (SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(n) FILTER (WHERE lang = detected), 0)
             AS BIGINT) AS n_agree FROM cm),
         rt AS (SELECT lang, SUM(n) AS rt FROM cm GROUP BY 1),
         ct AS (SELECT detected, SUM(n) AS ct FROM cm GROUP BY 1),
         pe AS (SELECT CAST(COALESCE(SUM(rt * ct), 0) AS BIGINT)
           AS pe_num FROM rt JOIN ct ON ct.detected = rt.lang)
         SELECT n_docs, n_agree, pe_num,
           round(${castD("n_agree")} / n_docs, 8) AS po,
           round(${castD("pe_num")} / (${castD("n_docs")} * n_docs), 8)
             AS pe,
           round((${castD("n_docs")} * n_agree - pe_num) /
             (${castD("n_docs")} * n_docs - pe_num), 8) AS kappa
         FROM ag, pe"""
    },

    "e141_mcnemar_dedup" -> {
      val mh = DedupQueries.oracles("e1_minhash_pairs")
      val sh = Surface4Queries.oracles("e32_simhash_pairs")
      s"""WITH mh AS MATERIALIZED ($mh),
         shp AS MATERIALIZED (SELECT id_a, id_b FROM ($sh)),
         fm AS (SELECT DISTINCT doc_id FROM (
           SELECT id_a AS doc_id FROM mh
           UNION ALL SELECT id_b FROM mh)),
         fs AS (SELECT DISTINCT doc_id FROM (
           SELECT id_a AS doc_id FROM shp
           UNION ALL SELECT id_b FROM shp)),
         j AS (SELECT
             CASE WHEN fm.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_mh,
             CASE WHEN fs.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_sh
           FROM documents d
           LEFT JOIN fm ON fm.doc_id = d.doc_id
           LEFT JOIN fs ON fs.doc_id = d.doc_id),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(f_mh * f_sh) AS BIGINT) AS n_both,
             CAST(SUM(f_mh * (1 - f_sh)) AS BIGINT) AS n_mh_only,
             CAST(SUM((1 - f_mh) * f_sh) AS BIGINT) AS n_sh_only
           FROM j)
         SELECT n_docs, n_both, n_mh_only, n_sh_only,
           n_docs - n_both - n_mh_only - n_sh_only AS n_neither,
           round(CASE WHEN n_mh_only + n_sh_only > 0 THEN
             (${castD("n_mh_only")} - n_sh_only) *
               (${castD("n_mh_only")} - n_sh_only) /
               (${castD("n_mh_only")} + n_sh_only) END, 8)
             AS mcnemar_chi2
         FROM c"""
    },

    "e142_cochran_q" -> {
      val num = s"3.0 * (${castD("c_blocklist")} * c_blocklist + " +
        s"${castD("c_repetition")} * c_repetition + " +
        s"${castD("c_short")} * c_short) - " +
        s"${castD("t_total")} * t_total"
      val den = s"3.0 * t_total - ${castD("sum_r2")}"
      s"""WITH scr AS (SELECT
           CASE WHEN len(list_intersect(list_distinct($tokensSql),
             ${Surface12Queries.blocklistTermsSql})) > 0
             THEN 1 ELSE 0 END AS s1,
           CASE WHEN len(list_distinct($tokensSql)) * $repDen <
             len($tokensSql) * $repNum THEN 1 ELSE 0 END AS s2,
           CASE WHEN len($tokensSql) < $shortTok THEN 1 ELSE 0 END AS s3
           FROM documents),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(s1) AS BIGINT) AS c_blocklist,
             CAST(SUM(s2) AS BIGINT) AS c_repetition,
             CAST(SUM(s3) AS BIGINT) AS c_short,
             CAST(SUM(s1 + s2 + s3) AS BIGINT) AS t_total,
             CAST(SUM((s1 + s2 + s3) * (s1 + s2 + s3)) AS BIGINT)
               AS sum_r2
           FROM scr)
         SELECT n_docs, c_blocklist, c_repetition, c_short, t_total,
           sum_r2,
           round(CASE WHEN ($den) <> 0.0 THEN
             2.0 * ($num) / ($den) END, 8) AS q_cochran
         FROM ag"""
    },

    "e143_dsir_gains" -> {
      val w = Surface24Queries.oracles("e125_dsir_weights")
      s"""WITH w AS MATERIALIZED ($w),
         r AS (SELECT d.lang, ${castD("w.w_num")} / w.w_den AS wd,
             row_number() OVER (ORDER BY ${castD("w.w_num")} / w.w_den
               DESC, w.doc_id) AS rn,
             count(*) OVER () AS n_total
           FROM w JOIN documents d USING (doc_id)),
         dec AS (SELECT lang, wd, (rn - 1) * 10 // n_total AS decile
           FROM r),
         per AS (SELECT decile, count(*) AS n_docs,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en,
             min(wd) AS w_min, max(wd) AS w_max
           FROM dec GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_en) AS BIGINT) AS n_en_tot,
             CAST(SUM(n_docs) AS BIGINT) AS n_tot FROM per),
         cum AS (SELECT a.decile, SUM(b.n_en) AS cum_en
           FROM per a JOIN per b ON b.decile <= a.decile GROUP BY 1)
         SELECT CAST(p.decile AS BIGINT) AS decile,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_en AS BIGINT) AS n_en,
           round(${castD("n_en")} / n_docs, 8) AS en_rate,
           w_min, w_max, CAST(cum_en AS BIGINT) AS cum_en,
           round(${castD("cum_en")} / n_en_tot, 8) AS capture,
           round(${castD("n_en")} * n_tot /
             (${castD("n_docs")} * n_en_tot), 8) AS lift
         FROM per p JOIN cum ON cum.decile = p.decile, tot
         ORDER BY decile"""
    },

    "e144_temperature_mix" -> temperatureMixSql,

    // the twin discipline: the streaming counter image must reproduce
    // the batch mixture report exactly
    "c42_stream_mix" -> temperatureMixSql,

    "e146_rrf_fusion" -> {
      val ex = SimilarityQueries.oracles("e2_topk")
      val an = SimilarityQueries.lshSql
      s"""WITH ex AS MATERIALIZED ($ex),
         an AS MATERIALIZED ($an),
         re AS (${rankSql("ex", "r_exact")}),
         ra AS (${rankSql("an", "r_ann")})
         SELECT vec_id,
           CAST(r_exact AS BIGINT) AS r_exact,
           CAST(r_ann AS BIGINT) AS r_ann,
           round(COALESCE(1.0 / ($rrfK + r_exact), 0.0) +
             COALESCE(1.0 / ($rrfK + r_ann), 0.0), 8) AS rrf_score
         FROM re FULL JOIN ra USING (vec_id)
         ORDER BY rrf_score DESC, vec_id LIMIT 10"""
    },

    "e149_modularity" -> {
      val mh = DedupQueries.oracles("e1_minhash_pairs")
      s"""WITH mh AS MATERIALIZED ($mh),
         lab AS (SELECT sa.source AS src_a, sb.source AS src_b
           FROM mh JOIN documents sa ON sa.doc_id = mh.id_a
           JOIN documents sb ON sb.doc_id = mh.id_b),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM lab),
         dsum AS (SELECT src, count(*) AS dc FROM (
             SELECT src_a AS src FROM lab
             UNION ALL SELECT src_b FROM lab) GROUP BY 1),
         w AS (SELECT src_a AS src, count(*) AS mc FROM lab
           WHERE src_a = src_b GROUP BY 1),
         c AS (SELECT CAST(max(n_edges) AS BIGINT) AS n_edges,
             CAST(SUM(COALESCE(mc, 0)) AS BIGINT) AS n_within,
             CAST(SUM(4 * n_edges * COALESCE(mc, 0) - dc * dc)
               AS BIGINT) AS q_num
           FROM dsum LEFT JOIN w USING (src), m)
         SELECT n_edges, n_within, q_num,
           round(CAST(q_num AS DOUBLE) /
             (4.0 * CAST(n_edges AS DOUBLE) * n_edges), 8) AS modularity
         FROM c"""
    },

    "e150_assortativity" -> {
      val mh = DedupQueries.oracles("e1_minhash_pairs")
      val den = "CAST(n_orientations AS DOUBLE) * sxx - " +
        "CAST(sx AS DOUBLE) * sx"
      s"""WITH mh AS MATERIALIZED ($mh),
         deg AS (SELECT id, count(*) AS deg FROM (
             SELECT id_a AS id FROM mh
             UNION ALL SELECT id_b FROM mh) GROUP BY 1),
         o AS (SELECT id_a AS u, id_b AS v FROM mh
           UNION ALL SELECT id_b, id_a FROM mh),
         xy AS (SELECT du.deg AS dx, dv.deg AS dy
           FROM o JOIN deg du ON du.id = o.u
           JOIN deg dv ON dv.id = o.v),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_orientations,
             CAST(SUM(dx) AS BIGINT) AS sx,
             CAST(SUM(dx * dx) AS BIGINT) AS sxx,
             CAST(SUM(dx * dy) AS BIGINT) AS sxy
           FROM xy)
         SELECT n_orientations, sx, sxx, sxy,
           round(CASE WHEN ($den) <> 0.0 THEN
             (CAST(n_orientations AS DOUBLE) * sxy -
               CAST(sx AS DOUBLE) * sx) / ($den) END, 8)
             AS assortativity
         FROM ag"""
    },

    "e152_rbo" -> {
      val ex = SimilarityQueries.oracles("e2_topk")
      val cells = (1 to 10).map(dd =>
        s"CAST(COALESCE(SUM(CASE WHEN rx <= $dd AND ra <= $dd " +
          s"THEN 1 ELSE 0 END), 0) AS BIGINT) AS x_$dd").mkString(", ")
      val terms = (1 to 10).map(dd =>
        s"${java.lang.Double.toString(rboWeights(dd - 1))} * " +
          s"CAST(x_$dd AS DOUBLE) / $dd.0").mkString(" + ")
      s"""WITH ex AS MATERIALIZED ($ex),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         ap AS MATERIALIZED (SELECT e.vec_id, CAST($binHamSql AS BIGINT)
             AS ham
           FROM embeddings e, q WHERE e.vec_id <> 0
           ORDER BY ham, e.vec_id LIMIT 10),
         re AS (${rankSql("ex", "rx")}),
         ra AS (SELECT a.vec_id, 1 + count(b.vec_id) AS ra
           FROM ap a LEFT JOIN ap b
             ON b.ham < a.ham
               OR (b.ham = a.ham AND b.vec_id < a.vec_id)
           GROUP BY 1),
         j AS (SELECT re.vec_id, rx, ra FROM re JOIN ra USING (vec_id)),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_common, $cells
           FROM j)
         SELECT n_common,
           round(CAST(x_10 AS DOUBLE) / 10.0, 8) AS a10,
           round($terms, 8) AS rbo_trunc
         FROM ag"""
    },

    "e154_mmr_diversify" -> {
      import SimilarityQueries.foldDot
      val ex = SimilarityQueries.oracles("e2_topk")
      def cos(a: String, b: String) =
        s"""${foldDot(s"$a.embedding", s"$b.embedding")} /
           (sqrt(${foldDot(s"$a.embedding", s"$a.embedding")}) *
            sqrt(${foldDot(s"$b.embedding", s"$b.embedding")}))"""
      s"""WITH ex AS MATERIALIZED ($ex),
         pool AS MATERIALIZED (SELECT ex.vec_id, ex.cosine AS rel,
             e.embedding
           FROM ex JOIN embeddings e USING (vec_id)),
         sims AS MATERIALIZED (SELECT a.vec_id AS d, b.vec_id AS s,
             ${cos("a", "b")} AS sim
           FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
         s1 AS (SELECT CAST(1 AS BIGINT) AS step, vec_id,
             round(rel, 8) AS mmr_score
           FROM pool ORDER BY rel DESC, vec_id LIMIT 1),
         s2 AS (SELECT CAST(2 AS BIGINT) AS step, p.vec_id,
             round(0.7 * p.rel - 0.3 * m.sim, 8) AS mmr_score
           FROM pool p, s1
           JOIN sims m ON TRUE
           WHERE p.vec_id <> s1.vec_id
             AND m.d = p.vec_id AND m.s = s1.vec_id
           ORDER BY 0.7 * p.rel - 0.3 * m.sim DESC, p.vec_id LIMIT 1),
         s3 AS (SELECT CAST(3 AS BIGINT) AS step, p.vec_id,
             round(0.7 * p.rel - 0.3 * GREATEST(m1.sim, m2.sim), 8)
               AS mmr_score
           FROM pool p, s1, s2
           JOIN sims m1 ON TRUE
           JOIN sims m2 ON TRUE
           WHERE p.vec_id <> s1.vec_id AND p.vec_id <> s2.vec_id
             AND m1.d = p.vec_id AND m1.s = s1.vec_id
             AND m2.d = p.vec_id AND m2.s = s2.vec_id
           ORDER BY 0.7 * p.rel - 0.3 * GREATEST(m1.sim, m2.sim) DESC,
             p.vec_id LIMIT 1)
         SELECT * FROM s1 UNION ALL SELECT * FROM s2
         UNION ALL SELECT * FROM s3 ORDER BY step"""
    },

    "e161_conformal" ->
      s"""WITH b AS (SELECT doc_id, lang,
           CAST(len($tokensSql) AS BIGINT) AS x,
           CASE WHEN bucket < 90 THEN 'train'
             WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
           FROM (SELECT doc_id, lang, text,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
               AS BIGINT) % 100 AS bucket FROM documents)),
         m AS (SELECT lang, CAST(SUM(x) AS DOUBLE) / count(*) AS m
           FROM b WHERE split = 'train' GROUP BY 1),
         cal AS (SELECT abs(CAST(x AS DOUBLE) - m) AS r, doc_id
           FROM b JOIN m USING (lang) WHERE split = 'val'),
         rk AS (SELECT r, row_number() OVER (ORDER BY r, doc_id) AS rn,
             count(*) OVER () AS n_cal FROM cal),
         q AS (SELECT r AS qhat, CAST(n_cal AS BIGINT) AS n_cal,
             CAST(rn AS BIGINT) AS k_rank
           FROM rk WHERE rn = ((n_cal + 1) * 4 + 4) // 5),
         t AS (SELECT n_cal, k_rank, qhat,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN abs(CAST(x AS DOUBLE) - m) <= qhat
               THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
           FROM b JOIN m USING (lang), q WHERE split = 'test'
           GROUP BY 1, 2, 3)
         SELECT n_cal, k_rank, round(qhat, 8) AS qhat, n_test,
           n_covered,
           round(CAST(n_covered AS DOUBLE) / n_test, 8) AS coverage
         FROM t""",

    "e163_ab_guardrails" -> {
      def vr(n: String, sx: String, sxx: String) =
        s"(CAST($n AS DOUBLE) * $sxx - CAST($sx AS DOUBLE) * $sx) / " +
          s"(CAST($n AS DOUBLE) * (CAST($n AS DOUBLE) - 1.0))"
      val se = s"sqrt(${vr("n_c", "sx_c", "sxx_c")} / n_c + " +
        s"${vr("n_t", "sx_t", "sxx_t")} / n_t)"
      val diff = "CAST(sx_t AS DOUBLE) / n_t - CAST(sx_c AS DOUBLE) / n_c"
      s"""WITH pu AS (SELECT user_id % 2 AS grp,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS x
           FROM events GROUP BY user_id),
         g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx
           FROM pu GROUP BY 1),
         p AS (SELECT
             CAST(max(CASE WHEN grp = 0 THEN n END) AS BIGINT) AS n_c,
             CAST(max(CASE WHEN grp = 0 THEN sx END) AS BIGINT) AS sx_c,
             CAST(max(CASE WHEN grp = 0 THEN sxx END) AS BIGINT) AS sxx_c,
             CAST(max(CASE WHEN grp = 1 THEN n END) AS BIGINT) AS n_t,
             CAST(max(CASE WHEN grp = 1 THEN sx END) AS BIGINT) AS sx_t,
             CAST(max(CASE WHEN grp = 1 THEN sxx END) AS BIGINT) AS sxx_t
           FROM g)
         SELECT n_c, n_t,
           round((CAST(n_c AS DOUBLE) - n_t) * (CAST(n_c AS DOUBLE) - n_t)
             / (CAST(n_c AS DOUBLE) + n_t), 8) AS srm_chi2,
           round(CAST(sx_c AS DOUBLE) / n_c, 8) AS mean_c,
           round(CAST(sx_t AS DOUBLE) / n_t, 8) AS mean_t,
           round($diff, 8) AS diff,
           round($se, 8) AS se_diff,
           round(($diff) / ($se), 8) AS z,
           round(($z975 + $z80) * ($se), 8) AS mde
         FROM p"""
    },

    "e162_did" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP))
           AS tm FROM events),
         mm AS (SELECT min(tm) AS lo, max(tm) AS hi FROM e),
         x AS (SELECT user_id % 2 AS grp,
             CASE WHEN 2 * tm < lo + hi THEN 1 ELSE 2 END AS p, user_id
           FROM e, mm),
         c AS (SELECT
             CAST(count(DISTINCT CASE WHEN grp = 0 THEN user_id END)
               AS BIGINT) AS u_c,
             CAST(count(DISTINCT CASE WHEN grp = 1 THEN user_id END)
               AS BIGINT) AS u_t,
             CAST(SUM(CASE WHEN grp = 0 AND p = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS c_c1,
             CAST(SUM(CASE WHEN grp = 0 AND p = 2 THEN 1 ELSE 0 END)
               AS BIGINT) AS c_c2,
             CAST(SUM(CASE WHEN grp = 1 AND p = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS c_t1,
             CAST(SUM(CASE WHEN grp = 1 AND p = 2 THEN 1 ELSE 0 END)
               AS BIGINT) AS c_t2
           FROM x)
         SELECT u_c, u_t, c_c1, c_c2, c_t1, c_t2,
           round((CAST(c_t2 AS DOUBLE) - c_t1) / u_t -
             (CAST(c_c2 AS DOUBLE) - c_c1) / u_c, 8) AS did
         FROM c""",

    "e159_permutation_test" -> {
      val sgn = "(1 - 2 * (CAST('0x' || substr(md5(CAST(b AS VARCHAR) " +
        "|| '#' || CAST(epd AS VARCHAR)), 1, 13) AS BIGINT) % 2))"
      s"""WITH dv AS (${dailySql("view", "x")}),
         dc AS (${dailySql("click", "y")}),
         df AS (SELECT (d - DATE '1970-01-01') AS epd, x - y AS diff
           FROM dv JOIN dc USING (d)),
         obs AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(SUM(diff) AS BIGINT) AS t_obs FROM df),
         p AS (SELECT b, CAST(SUM($sgn * diff) AS BIGINT) AS t_b
           FROM df, generate_series(1, $permB) AS g(b) GROUP BY 1),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS b_reps,
             CAST(SUM(CASE WHEN abs(t_b) >= abs(t_obs)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_ge
           FROM p, obs)
         SELECT n_days, t_obs, b_reps, n_ge,
           round((CAST(n_ge AS DOUBLE) + 1.0) /
             (CAST(b_reps AS DOUBLE) + 1.0), 8) AS p_value
         FROM obs, ag"""
    },

    "e160_jackknife" ->
      s"""WITH bk AS (SELECT
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
             AS BIGINT) % $jackG AS g,
           CAST(count(*) AS BIGINT) AS n_g,
           CAST(SUM(len($tokensSql)) AS BIGINT) AS s_g
           FROM documents GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS BIGINT) AS s FROM bk),
         ps AS (SELECT CAST(floor((CAST(s AS DOUBLE) - s_g) /
             (CAST(n AS DOUBLE) - n_g) * 1000000.0) AS BIGINT) AS q
           FROM bk, tot),
         qt AS (SELECT CAST(SUM(q) AS BIGINT) AS sq,
             CAST(count(*) AS BIGINT) AS gn FROM ps),
         dv AS (SELECT CAST(SUM((q * gn - sq) * (q * gn - sq))
             AS BIGINT) AS sdev2 FROM ps, qt)
         SELECT n AS n_docs, gn AS g_buckets,
           round(CAST(s AS DOUBLE) / n, 8) AS theta_hat,
           round(sqrt((CAST(gn AS DOUBLE) - 1.0) / gn * sdev2) /
             (CAST(gn AS DOUBLE) * 1000000.0), 8) AS se_jack
         FROM tot, qt, dv""",

    "e157_wilcoxon" -> {
      val nD = "CAST(n_pairs AS DOUBLE)"
      val mu2 = s"$nD * ($nD + 1.0) / 2.0"
      val var2 = s"$nD * ($nD + 1.0) * (2.0 * $nD + 1.0) / 6.0 - " +
        "CAST(tie_term AS DOUBLE) / 12.0"
      s"""WITH dv AS (${dailySql("view", "x")}),
         dc AS (${dailySql("click", "y")}),
         p AS (SELECT abs(x - y) AS absd,
             CASE WHEN x - y > 0 THEN 1 ELSE 0 END AS pos
           FROM dv JOIN dc USING (d) WHERE x <> y),
         h AS (SELECT absd, count(*) AS t, SUM(pos) AS npos
           FROM p GROUP BY 1),
         r AS (SELECT a.t, a.npos,
             2 * COALESCE(SUM(b.t), 0) + a.t + 1 AS s2r
           FROM h a LEFT JOIN h b ON b.absd < a.absd
           GROUP BY a.absd, a.t, a.npos),
         ag AS (SELECT CAST(SUM(t) AS BIGINT) AS n_pairs,
             CAST(SUM(npos * s2r) AS BIGINT) AS s2_wplus,
             CAST(SUM(t * t * t - t) AS BIGINT) AS tie_term
           FROM r)
         SELECT n_pairs, s2_wplus, tie_term,
           round($mu2, 8) AS mu2_null,
           round($var2, 8) AS var2_null,
           round(CASE WHEN ($var2) > 0.0 THEN
             (CAST(s2_wplus AS DOUBLE) - $mu2) / sqrt($var2) END, 8)
             AS z
         FROM ag"""
    },

    "e158_classifier_report" -> {
      val det = TextQueries.oracles("e4_langid")
      val mccDen = "sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn) * " +
        "(tn + fp) * (tn + fn))"
      s"""WITH det AS MATERIALIZED ($det),
         cm AS (SELECT d.lang, det.detected, count(*) AS n
           FROM documents d JOIN det USING (doc_id) GROUP BY 1, 2),
         nt AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cm),
         rt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS row_tot
           FROM cm GROUP BY 1),
         dg AS (SELECT lang, CAST(n AS BIGINT) AS tp FROM cm
           WHERE lang = detected),
         ct AS (SELECT detected, CAST(SUM(n) AS BIGINT) AS col_tot
           FROM cm GROUP BY 1),
         cls AS (SELECT rt.lang,
             COALESCE(tp, 0) AS tp,
             COALESCE(col_tot, 0) - COALESCE(tp, 0) AS fp,
             row_tot - COALESCE(tp, 0) AS fn,
             n_total - row_tot - COALESCE(col_tot, 0) + COALESCE(tp, 0)
               AS tn
           FROM rt LEFT JOIN dg USING (lang)
           LEFT JOIN ct ON ct.detected = rt.lang, nt)
         SELECT lang, tp, fp, fn, tn,
           round(CASE WHEN tp + fp > 0 THEN
             CAST(tp AS DOUBLE) / (tp + fp) END, 8) AS precision,
           round(CASE WHEN tp + fn > 0 THEN
             CAST(tp AS DOUBLE) / (tp + fn) END, 8) AS recall,
           round(CASE WHEN 2 * tp + fp + fn > 0 THEN
             2.0 * tp / (2 * tp + fp + fn) END, 8) AS f1,
           round(CASE WHEN ($mccDen) > 0.0 THEN
             (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn) /
               ($mccDen) END, 8) AS mcc
         FROM cls ORDER BY lang"""
    },

    "e156_texttiling" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents
           WHERE len($tokensSql) > 0),
         bl AS (SELECT doc_id,
             CAST((len(tk) - 1) // 20 + 1 AS BIGINT) AS n_blocks,
             list_transform(generate_series(1,
                 CAST((len(tk) - 1) // 20 + 1 AS BIGINT)),
               i -> list_distinct(tk[(i - 1) * 20 + 1 : i * 20]))
               AS blocks
           FROM tk),
         pr AS (SELECT doc_id, n_blocks,
             list_transform(generate_series(1, n_blocks - 1),
               i -> struct_pack(
                 i := len(list_intersect(blocks[i], blocks[i + 1])),
                 u := len(list_distinct(blocks[i] || blocks[i + 1]))))
               AS ps
           FROM bl),
         pe AS (SELECT doc_id, unnest(ps) AS p FROM pr),
         sums AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS np,
             CAST(SUM(p.i) AS BIGINT) AS si,
             CAST(SUM(p.u) AS BIGINT) AS su,
             CAST(SUM(CASE WHEN p.i * 10 < p.u THEN 1 ELSE 0 END)
               AS BIGINT) AS nb
           FROM pe GROUP BY 1)
         SELECT pr.doc_id, n_blocks,
           CAST(COALESCE(np, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(si, 0) AS BIGINT) AS sum_inter,
           CAST(COALESCE(su, 0) AS BIGINT) AS sum_union,
           CAST(COALESCE(nb, 0) AS BIGINT) AS n_boundaries,
           round(CASE WHEN COALESCE(su, 0) > 0 THEN
             CAST(si AS DOUBLE) / su END, 8) AS pooled_jacc
         FROM pr LEFT JOIN sums USING (doc_id)""",

    "e155_kendall_w" -> {
      val ex = SimilarityQueries.oracles("e2_topk")
      val cos32 =
        s"""${Surface24Queries.foldDotM("e.embedding", "q.qe", 32)} /
           (sqrt(${Surface24Queries.foldDotM("e.embedding", "e.embedding", 32)}) *
            sqrt(${Surface24Queries.foldDotM("q.qe", "q.qe", 32)}))"""
      def srank(score: String, op: String) =
        s"""SELECT a.vec_id,
           2 * SUM(CASE WHEN b.$score $op a.$score THEN 1 ELSE 0 END) +
           SUM(CASE WHEN b.$score = a.$score THEN 1 ELSE 0 END) + 1
             AS s_$score
           FROM pool a, pool b GROUP BY 1"""
      def tie(score: String) =
        s"""SELECT CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT)
             AS t_$score
           FROM (SELECT count(*) AS t FROM pool GROUP BY $score)"""
      s"""WITH ex AS MATERIALIZED ($ex),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         pool AS MATERIALIZED (SELECT ex.vec_id, ex.cosine AS rel,
             CAST($binHamSql AS BIGINT) AS ham, $cos32 AS cos32
           FROM ex JOIN embeddings e USING (vec_id), q),
         r1 AS (${srank("rel", ">")}),
         r2 AS (${srank("ham", "<")}),
         r3 AS (${srank("cos32", ">")}),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pool),
         dev AS (SELECT CAST(SUM(
             (s_rel + s_ham + s_cos32 - 3 * (n + 1)) *
             (s_rel + s_ham + s_cos32 - 3 * (n + 1))) AS BIGINT)
               AS sr_dev2
           FROM r1 JOIN r2 USING (vec_id) JOIN r3 USING (vec_id), nn),
         t1 AS (${tie("rel")}), t2 AS (${tie("ham")}),
         t3 AS (${tie("cos32")})
         SELECT n AS n_items, CAST(3 AS BIGINT) AS m_rankers, sr_dev2,
           CAST(t_rel + t_ham + t_cos32 AS BIGINT) AS tie_term,
           round(3.0 * sr_dev2 /
             (9.0 * (CAST(n AS DOUBLE) * n * n - n) -
               3.0 * (t_rel + t_ham + t_cos32)), 8) AS w
         FROM nn, dev, t1, t2, t3"""
    },

    "e153_neyman_alloc" ->
      s"""WITH st AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_h,
           CAST(SUM(len($tokensSql)) AS BIGINT) AS sx,
           CAST(SUM(CAST(len($tokensSql) AS BIGINT) * len($tokensSql))
             AS BIGINT) AS sxx
           FROM documents GROUP BY 1 HAVING count(*) > 1),
         q AS (SELECT lang, n_h,
             sqrt((CAST(n_h AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) /
               (CAST(n_h AS DOUBLE) * (CAST(n_h AS DOUBLE) - 1.0)))
               AS s_h FROM st),
         w AS (SELECT lang, n_h, s_h,
             CAST(floor(CAST(n_h AS DOUBLE) * s_h * 1000000.0) AS BIGINT)
               AS qw FROM q),
         t AS (SELECT CAST(SUM(qw) AS BIGINT) AS t_qw FROM w)
         SELECT lang, n_h, round(s_h, 8) AS s_h, qw,
           round(CAST(qw AS DOUBLE) / t_qw, 8) AS share,
           CAST(qw * $allocBudget // t_qw AS BIGINT) AS n_alloc
         FROM w, t ORDER BY lang""",

    "e151_binary_recall" -> {
      val ex = SimilarityQueries.oracles("e2_topk")
      s"""WITH ex AS MATERIALIZED ($ex),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         ap AS (SELECT e.vec_id, CAST($binHamSql AS BIGINT) AS ham
           FROM embeddings e, q WHERE e.vec_id <> 0
           ORDER BY ham, e.vec_id LIMIT 10),
         h AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
           FROM ex WHERE vec_id IN (SELECT vec_id FROM ap)),
         r AS (SELECT CAST(max(ham) AS BIGINT) AS ham_radius FROM ap)
         SELECT n_hit, CAST(n_hit AS DOUBLE) / 10.0 AS recall,
           ham_radius
         FROM h, r"""
    },

    "e147_poisson_bootstrap" -> {
      val u = "CAST('0x' || substr(md5(CAST(b AS VARCHAR) || '#' || " +
        "CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) / " + hashDen
      val w = "CASE " + poissonCdf.zipWithIndex.map { case (c, k) =>
        s"WHEN u < $c THEN $k" }.mkString(" ") + " ELSE 7 END"
      s"""WITH xs AS (SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS x
           FROM documents),
         f AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(x) AS BIGINT) AS sum_x FROM xs),
         rw AS (SELECT b, x, $w AS w
           FROM (SELECT x, b, $u AS u
                 FROM xs, generate_series(1, $bootB) AS g(b))),
         reps AS (SELECT b, CAST(floor(CAST(SUM(w * x) AS DOUBLE) /
             SUM(w) * 1000000.0) AS BIGINT) AS mq
           FROM rw GROUP BY 1),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS b_reps,
             CAST(SUM(mq) AS BIGINT) AS sum_m,
             CAST(SUM(mq * mq) AS BIGINT) AS sum_m2,
             CAST(min(mq) AS BIGINT) AS mq_min,
             CAST(max(mq) AS BIGINT) AS mq_max
           FROM reps)
         SELECT n_docs, b_reps,
           round(CAST(sum_x AS DOUBLE) / n_docs, 8) AS mean_full,
           round(CAST(mq_min AS DOUBLE) / 1000000.0, 8) AS m_min,
           round(CAST(mq_max AS DOUBLE) / 1000000.0, 8) AS m_max,
           round(sqrt((CAST(b_reps AS DOUBLE) * sum_m2 -
               CAST(sum_m AS DOUBLE) * sum_m) /
               (CAST(b_reps AS DOUBLE) * (CAST(b_reps AS DOUBLE) - 1.0))) /
             1000000.0, 8) AS se_boot
         FROM ag, f"""
    },

    "e148_power_iteration" -> {
      def foldD(body: String) =
        s"""list_reduce(list_transform(generate_series(1, 64),
            fi -> $body), (acc, x) -> acc + x)"""
      s"""WITH nn AS (SELECT count(*) AS n FROM embeddings
           WHERE vec_id <> 0),
         ds AS (SELECT g.i AS pos,
             SUM(CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 10000000.0)
               AS BIGINT)) AS sq,
             SUM(CAST(floor(CAST(embedding[g.i] AS DOUBLE) *
               CAST(embedding[g.i] AS DOUBLE) * 10000000.0)
               AS BIGINT)) AS sq2
           FROM embeddings, generate_series(1, 64) AS g(i)
           WHERE vec_id <> 0 GROUP BY 1),
         mu AS (SELECT n,
             list(CAST(sq AS DOUBLE) / 10000000.0 / CAST(n AS DOUBLE)
               ORDER BY pos) AS mu,
             list(CAST(sq2 AS DOUBLE) / 10000000.0 ORDER BY pos) AS sx2
           FROM ds, nn GROUP BY n),
         c1 AS (SELECT n, mu, sx2, ${foldD("m.mu[fi]")} AS cv
           FROM mu m),
         q1 AS (SELECT g.i AS pos,
             SUM(CAST(floor((CAST(e.embedding[g.i] AS DOUBLE) -
               m.mu[g.i]) *
               (${foldD("CAST(e.embedding[fi] AS DOUBLE)")} - m.cv) *
               1000000.0) AS BIGINT)) AS q
           FROM embeddings e, c1 m, generate_series(1, 64) AS g(i)
           WHERE e.vec_id <> 0 GROUP BY 1),
         v1 AS (SELECT list(CAST(q AS DOUBLE) / 1000000.0 ORDER BY pos)
             AS vq FROM q1),
         vn AS (SELECT vq, sqrt(${foldD("v.vq[fi] * v.vq[fi]")}) AS nrm
           FROM v1 v),
         vv AS (SELECT list_transform(vq, x -> x / nrm) AS v FROM vn),
         c2 AS (SELECT m.n, m.mu, m.sx2, v.v,
             ${foldD("m.mu[fi] * v.v[fi]")} AS cv
           FROM mu m, vv v),
         q2 AS (SELECT g.i AS pos,
             SUM(CAST(floor((CAST(e.embedding[g.i] AS DOUBLE) -
               m.mu[g.i]) *
               (${foldD("CAST(e.embedding[fi] AS DOUBLE) * m.v[fi]")} -
                 m.cv) * 1000000.0) AS BIGINT)) AS q
           FROM embeddings e, c2 m, generate_series(1, 64) AS g(i)
           WHERE e.vec_id <> 0 GROUP BY 1),
         v2 AS (SELECT list(CAST(q AS DOUBLE) / 1000000.0 ORDER BY pos)
             AS vq2 FROM q2),
         fin AS (SELECT m.n,
             sqrt(${foldD("w.vq2[fi] * w.vq2[fi]")}) AS nrm2,
             (${foldD("m.sx2[fi]")} - CAST(m.n AS DOUBLE) *
               ${foldD("m.mu[fi] * m.mu[fi]")}) AS tr_num
           FROM mu m, v2 w)
         SELECT CAST(q2.pos AS BIGINT) AS pos,
           CAST(q2.q AS BIGINT) AS loading_q,
           round((CAST(q2.q AS DOUBLE) / 1000000.0) / f.nrm2, 8)
             AS loading,
           round(f.nrm2 / (CAST(f.n AS DOUBLE) - 1.0), 8) AS lambda1,
           round(f.nrm2 / f.tr_num, 8) AS explained_frac
         FROM q2, fin f ORDER BY pos"""
    },

    "e145_hits" ->
      """WITH e AS (SELECT user_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS item,
           CAST(count(*) AS BIGINT) AS w
           FROM events WHERE event_type = 'click'
             AND json_extract(props, '$.k') IS NOT NULL
           GROUP BY 1, 2),
         a1 AS (SELECT item, CAST(SUM(w) AS BIGINT) AS a1
           FROM e GROUP BY 1),
         h1 AS (SELECT user_id, CAST(SUM(w * a1) AS BIGINT) AS h1
           FROM e JOIN a1 USING (item) GROUP BY 1),
         a2 AS (SELECT item, CAST(SUM(w * h1) AS BIGINT) AS a2
           FROM e JOIN h1 USING (user_id) GROUP BY 1),
         t AS (SELECT CAST(SUM(a2) AS BIGINT) AS t_a2 FROM a2)
         SELECT item, a1, a2,
           round(CAST(a2 AS DOUBLE) / t_a2, 8) AS auth_frac
         FROM a2 JOIN a1 USING (item), t
         ORDER BY a2 DESC, item LIMIT 10""")
}

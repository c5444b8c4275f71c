package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, Quantiles, Rank, TextAnalysis}

/** Round-14 wave: the nonparametric test family completes at k groups,
  * drift/shape monitoring gains CUSUM, lexical richness lands on the
  * shared token histogram, the privacy triad (k-anonymity,
  * l-diversity, t-closeness) completes, image dedup gets its
  * perceptual-fingerprint first stage, and SCD2 gains its streaming
  * twin.
  *
  *  - `q119_kruskal` — Kruskal–Wallis H (tie-corrected) across the
  *    three return-flag populations: the k-group extension of
  *    e104's pairwise Mann–Whitney. GLOBAL rank spans come from the
  *    pooled value histogram (domain-bounded) via the partitioned
  *    cumulative pass, group rank sums are conditional integer
  *    aggregates over that frame, and H is one final double formula
  *    over a FIXED 3-group pivot — no sum-order nondeterminism.
  *  - `q120_levene` — Brown–Forsythe variance-homogeneity test
  *    (Levene with group medians): medians from the SHARED staged
  *    rank spans, ONE corpus scan for the absolute deviations
  *    (integer cents), F from exact per-group sums.
  *  - `q122_anova` — one-way ANOVA F, the parametric mean-equality
  *    member of the same family (q119 nonparametric twin; q120 the
  *    variance-homogeneity precondition).
  *  - `q121_cusum` — CUSUM excursion of the daily ingest series
  *    (cumulative deviation from the mean rate): the changepoint
  *    monitor a feed-health pass runs; integer excursion numerator
  *    D·cum − i·T so the series is exact at any parallelism.
  *  - `e118_lexical_richness` — Yule's K, Simpson's D, hapax rate,
  *    type-token ratio: ALL from the durably-staged full token
  *    histogram — zero corpus passes at query time, pure
  *    vocabulary-bounded algebra (the repeat-rate statistics that
  *    flag templated/boilerplate corpora before training).
  *  - `e119_t_closeness` — total-variation distance between each
  *    quasi-identifier class's sensitive-attribute distribution and
  *    the global one: completes e88/e90's privacy-audit triad. The
  *    numerator Σ|n_gs·N − n_s·n_g| is exact integer arithmetic on
  *    class-bounded frames.
  *  - `e120_phash_buckets` — perceptual difference-hash dedup over
  *    REAL decoded rasters: gradient fingerprint per image
  *    ([[Multimodal.dHash15]]), then dedup is a map-side-combinable
  *    groupBy on the fingerprint — the standard stage-1 of image
  *    dedup at corpus scale (no pairwise pixel comparison anywhere).
  *  - `c39_stream_scd2` — SCD2 history maintained INCREMENTALLY from
  *    the change stream ([[graft.streaming.Scd2]]), judged against
  *    the SAME oracle as the batch `c12_scd2` (lead-over-log): the
  *    twin discipline of c36/c38. State = one open interval per live
  *    key; closed intervals ship downstream immediately.
  */
object Surface23Queries extends QuerySet {
  import Tables._

  /** Pooled (value → per-group counts) histogram of
    * `l_extendedprice` by `l_returnflag` with GLOBAL cumulative
    * counts, pooled AND per group: one corpus pass to the
    * value-domain-bounded joint histogram, then ONE partitioned
    * cumulative pass ([[Rank.withGlobalCumsums]]) over all four
    * count columns. `cum___t` carries the pooled rank spans (hi =
    * cum, lo = cum − t + 1); `cum_f_g` are the per-group empirical
    * CDF numerators. Shared by q119 (rank sums) and e122 (CDF
    * distance) — every pooled-rank statistic reads this one staged
    * frame. Durably staged like [[StatsQueries.priceSpans]].
    */
  private def pooledPriceCums(s: SparkSession, dir: String): DataFrame =
    Stage.durableFrame(s, "li-pooled-cums", dir) {
      val hist = t(s, dir, "lineitem")
        .where(col("l_extendedprice").isNotNull)
        .groupBy(col("l_extendedprice").as("v"))
        .agg(count(lit(1)).as("__t"),
          sum(when(col("l_returnflag") === "A", 1L).otherwise(0L))
            .as("f_a"),
          sum(when(col("l_returnflag") === "N", 1L).otherwise(0L))
            .as("f_n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("f_r"))
      Rank.withGlobalCumsums(hist, Seq(col("v")),
        Seq("__t", "f_a", "f_n", "f_r"))
    }

  private def d(c: Column): Column = c.cast("double")
  private def dec38(c: Column): Column = c.cast("decimal(38,0)")

  /** Shared one-way F decomposition over a `(l_returnflag, z)` frame
    * (z = integer cents): pivoted exact per-group n/Σz/Σz² in ONE
    * scan, then F = (SSB/(k−1))/(SSW/(N−k)) and per-group means
    * `<meanName>_{a,n,r}` as closed-form doubles (round 8). The same
    * machinery serves q120 (z = |x − median|, Brown–Forsythe) and
    * q122 (z = raw value, classic ANOVA) — and [[fStatSql]] is its
    * oracle-text twin, so the formula text lives in exactly one
    * place per engine.
    */
  private def pivotedF(dev: DataFrame, meanName: String): DataFrame = {
    // r19: Σz and Σz² flow through the long-limb exact sums
    // (Tables.lsum / lprodSum — pure integer identities, same
    // decimal(38,0) values as the dec38-cast sums they replace) so the
    // fact-scale aggregate runs on codegen'd longs instead of
    // BigDecimal-backed buffers. z is integer cents (|z| ≤ ~10⁷ at any
    // sf — per-row values don't grow with the corpus), so z·z ≤ ~10¹⁴
    // fits a long per row and the limb sums hold past 9e12 rows.
    def n1(f: String) = sum(when(col("l_returnflag") === f, 1L)
      .otherwise(0L)).as(s"n_$f")
    def zg(f: String) = when(col("l_returnflag") === f, col("z"))
      .otherwise(lit(0L))
    def s1(f: String) = Tables.lsum(zg(f)).as(s"s1_$f")
    def s2(f: String) = Tables.lprodSum(zg(f), zg(f)).as(s"s2_$f")
    val ag = dev.agg(n1("A"), n1("N"), n1("R"),
      s1("A"), s1("N"), s1("R"), s2("A"), s2("N"), s2("R"))
    val nt = d(col("n_A") + col("n_N") + col("n_R"))
    val tA = d(col("s1_A")) * d(col("s1_A")) / d(col("n_A"))
    val tN = d(col("s1_N")) * d(col("s1_N")) / d(col("n_N"))
    val tR = d(col("s1_R")) * d(col("s1_R")) / d(col("n_R"))
    val tot = d(col("s1_A")) + d(col("s1_N")) + d(col("s1_R"))
    val ssb = tA + tN + tR - tot * tot / nt
    val ssw = d(col("s2_A")) + d(col("s2_N")) + d(col("s2_R")) -
      (tA + tN + tR)
    ag.select(col("n_A").as("n_a"), col("n_N").as("n_n"),
      col("n_R").as("n_r"),
      round(d(col("s1_A")) / d(col("n_A")) / lit(100.0), 8)
        .as(s"${meanName}_a"),
      round(d(col("s1_N")) / d(col("n_N")) / lit(100.0), 8)
        .as(s"${meanName}_n"),
      round(d(col("s1_R")) / d(col("n_R")) / lit(100.0), 8)
        .as(s"${meanName}_r"),
      round((ssb / lit(2.0)) / (ssw / (nt - lit(3.0))), 8).as("f_stat"))
  }

  /** Oracle twin of [[pivotedF]]: `prelude` must be a `WITH` chain
    * ending in a CTE `dev(l_returnflag, z)` with z already HUGEINT
    * cents.
    */
  private def fStatSql(prelude: String, meanName: String): String =
    s"""$prelude,
         ag AS (SELECT
             CAST(SUM(CASE WHEN l_returnflag='A' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN l_returnflag='N' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_n,
             CAST(SUM(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_r,
             SUM(CASE WHEN l_returnflag='A' THEN z ELSE 0 END) AS s1a,
             SUM(CASE WHEN l_returnflag='N' THEN z ELSE 0 END) AS s1n,
             SUM(CASE WHEN l_returnflag='R' THEN z ELSE 0 END) AS s1r,
             SUM(CASE WHEN l_returnflag='A' THEN z*z ELSE 0 END) AS s2a,
             SUM(CASE WHEN l_returnflag='N' THEN z*z ELSE 0 END) AS s2n,
             SUM(CASE WHEN l_returnflag='R' THEN z*z ELSE 0 END) AS s2r
           FROM dev),
         f AS (SELECT *,
             CAST(n_a + n_n + n_r AS DOUBLE) AS nt,
             CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) /
               CAST(n_a AS DOUBLE) AS ta,
             CAST(s1n AS DOUBLE) * CAST(s1n AS DOUBLE) /
               CAST(n_n AS DOUBLE) AS tn,
             CAST(s1r AS DOUBLE) * CAST(s1r AS DOUBLE) /
               CAST(n_r AS DOUBLE) AS tr,
             CAST(s1a AS DOUBLE) + CAST(s1n AS DOUBLE) +
               CAST(s1r AS DOUBLE) AS tot
           FROM ag),
         g AS (SELECT *,
             ta + tn + tr - tot * tot / nt AS ssb,
             CAST(s2a AS DOUBLE) + CAST(s2n AS DOUBLE) +
               CAST(s2r AS DOUBLE) - (ta + tn + tr) AS ssw
           FROM f)
         SELECT n_a, n_n, n_r,
           round(CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0, 8)
             AS ${meanName}_a,
           round(CAST(s1n AS DOUBLE) / CAST(n_n AS DOUBLE) / 100.0, 8)
             AS ${meanName}_n,
           round(CAST(s1r AS DOUBLE) / CAST(n_r AS DOUBLE) / 100.0, 8)
             AS ${meanName}_r,
           round((ssb / 2.0) / (ssw / (nt - 3.0)), 8) AS f_stat
         FROM g"""

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // KRUSKAL–WALLIS H across the k=3 return-flag groups, tie-
    // corrected — the k-population rank test that closes the
    // nonparametric family (e103 KS, e104 Mann–Whitney pairwise,
    // e114 Kendall, e106 Spearman). A value's global rank span
    // contributes f_g·(lo+hi) to TWICE the group rank sum exactly
    // (ties land on the shared average rank for free), so every
    // sufficient statistic is an exact integer off the staged pooled
    // spans; the 3 groups are a FIXED domain, so the statistic is
    // built from pivoted scalar columns — no row-order-dependent
    // double summation anywhere. At 100 TB: one corpus pass lives in
    // the staged histogram; the test itself is value-domain-bounded.
    "q119_kruskal" -> ((s, dir) => {
      val spans = pooledPriceCums(s, dir)
        .withColumn("__hi", col("cum___t"))
        .withColumn("__lo", col("__hi") - col("__t") + lit(1L))
      val ag = spans.agg(
        sum(col("f_a")).as("n_a"), sum(col("f_n")).as("n_n"),
        sum(col("f_r")).as("n_r"),
        sum(dec38(col("f_a")) * (col("__lo") + col("__hi"))).as("r2_a"),
        sum(dec38(col("f_n")) * (col("__lo") + col("__hi"))).as("r2_n"),
        sum(dec38(col("f_r")) * (col("__lo") + col("__hi"))).as("r2_r"),
        sum(dec38(col("__t")) * col("__t") * col("__t") - col("__t"))
          .as("tie_cube"))
      val nt = d(col("n_a") + col("n_n") + col("n_r"))
      // R_j = r2_j / 2, so Σ R_j²/n_j = Σ r2_j² / (4 n_j)
      val term = d(col("r2_a")) * d(col("r2_a")) / (lit(4.0) * d(col("n_a"))) +
        d(col("r2_n")) * d(col("r2_n")) / (lit(4.0) * d(col("n_n"))) +
        d(col("r2_r")) * d(col("r2_r")) / (lit(4.0) * d(col("n_r")))
      val hRaw = lit(12.0) * term / (nt * (nt + lit(1.0))) -
        lit(3.0) * (nt + lit(1.0))
      val tieC = lit(1.0) - d(col("tie_cube")) / (nt * nt * nt - nt)
      ag.select(
        (col("n_a") + col("n_n") + col("n_r")).as("n_total"),
        col("n_a"), col("n_n"), col("n_r"),
        col("r2_a").cast("long").as("rank_sum2_a"),
        col("r2_n").cast("long").as("rank_sum2_n"),
        col("r2_r").cast("long").as("rank_sum2_r"),
        round(hRaw, 8).as("h"),
        round(hRaw / tieC, 8).as("h_tie_adj"))
    }),

    // BROWN–FORSYTHE variance-homogeneity test (Levene on deviations
    // from the group MEDIAN — the robust form): medians are rank
    // selections over the SHARED staged span frame (no new corpus
    // pass for the centers), then ONE corpus scan computes integer
    // cent deviations against the broadcast 3-row median frame, and
    // F is a closed-form double over six exact integer sums pivoted
    // into one row. The test a curation pass runs before trusting a
    // pooled-variance model across sources.
    "q120_levene" -> ((s, dir) => {
      val med = Quantiles.selectRanks(StatsQueries.priceSpans(s, dir),
        Seq("l_returnflag"), "l_extendedprice",
        Seq("med" -> Quantiles.medianRank))
      val dev = t(s, dir, "lineitem")
        .where(col("l_extendedprice").isNotNull)
        .join(broadcast(med), "l_returnflag")
        .select(col("l_returnflag"),
          abs(round(col("l_extendedprice") * 100).cast("long") -
            round(col("med") * 100).cast("long")).as("z"))
      pivotedF(dev, "mad")
    }),

    // CRAMÉR–VON MISES two-sample distance (tie-aware) between the
    // A and R price populations — the L² companion to e103's
    // Kolmogorov–Smirnov sup-norm (KS sees the single worst CDF gap;
    // CvM integrates ALL of it, the usual drift score when the
    // difference is spread thin). Tie-aware form over the pooled
    // value histogram: T = Σ_v t_v·(m·cumA_v − n·cumR_v)² /
    // (n·m·(n+m)²) — the numerator is ONE exact DECIMAL(38,0) sum
    // off the shared staged pooled-cums frame (no new corpus pass),
    // and T is one closed-form double. Σ t·(m·cumA − n·cumR)² at
    // ×100 peaks ≈ 6e36 < 10³⁸ — sized for two decades of headroom.
    "e122_cvm" -> ((s, dir) => {
      val cums = pooledPriceCums(s, dir)
      val tot = cums.agg(max(col("cum_f_a")).as("n"),
        max(col("cum_f_r")).as("m"))
      val diff = dec38(col("m")) * col("cum_f_a") -
        dec38(col("n")) * col("cum_f_r")
      // integration weight is the A∪R multiplicity f_a + f_r, NOT the
      // 3-group pooled __t: the 'N' population is in neither sample,
      // and an N-only value must contribute zero mass to the integral
      val ag = cums.crossJoin(broadcast(tot))
        .agg(max(col("n")).as("n_a"), max(col("m")).as("n_r"),
          sum(dec38(col("f_a") + col("f_r")) * diff * diff).as("num"))
      val nm = d(col("n_a")) * d(col("n_r"))
      val np = d(col("n_a")) + d(col("n_r"))
      // T = (nm/(n+m)²)·Σ t·(F−G)², and (F−G)² = diff²/(nm)², so the
      // denominator is nm·(n+m)²
      ag.select(col("n_a"), col("n_r"),
        round(d(col("num")) / (nm * np * np), 8).as("t_cvm"))
    }),

    // One-way ANOVA F — the parametric mean-equality test that pairs
    // with q119 (its nonparametric twin) and q120 (which tests
    // VARIANCE homogeneity — ANOVA's precondition — on median
    // deviations; this tests MEAN location on the raw values). Same
    // fixed-pivot discipline: per-group n / Σcents / Σcents² as exact
    // decimals in ONE scan, the F decomposition in one closed-form
    // double over six scalars.
    "q122_anova" -> ((s, dir) => {
      pivotedF(t(s, dir, "lineitem")
        .where(col("l_extendedprice").isNotNull)
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("z")),
        "mean")
    }),

    // CUSUM excursion of the daily ingest-count series — the
    // changepoint/drift monitor a feed-health pass keeps on arrival
    // rates (pairs with e92's EWMA and e93's burst score): cusum_i =
    // Σ_{j≤i}(x_j − x̄) tracked exactly as the INTEGER numerator
    // D·cum_i − i·T (x̄ = T/D never materializes as a float until
    // the single report-time division). The series is calendar-
    // bounded, so after the one corpus pass to daily counts the
    // whole statistic is a days-sized frame; totals come from
    // max(cum), never a second pass.
    "q121_cusum" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
        .withColumn("one", lit(1L))
      val cums = Rank.withGlobalCumsums(daily, Seq(col("d")),
        Seq("x", "one"))
      val tot = cums.agg(max(col("cum_one")).as("nd"),
        max(col("cum_x")).as("tot"))
      cums.crossJoin(broadcast(tot))
        // date → timestamp at the output boundary: the house dtype
        // convention (q45) — DuckDB DATE reaches the driver compare
        // as a Timestamp, Spark DateType as datetime.date
        .select(col("d").cast("timestamp").as("d"), col("x"),
          (col("nd") * col("cum_x") - col("cum_one") * col("tot"))
            .as("excursion"),
          (d(col("nd") * col("cum_x") - col("cum_one") * col("tot")) /
            d(col("nd"))).as("cusum"))
    }),

    // LEXICAL RICHNESS report — Yule's K, Simpson's D, hapax/
    // dis-legomena rates, type-token ratio: the repeat-rate family
    // that flags templated or boilerplate-heavy corpora before
    // training (a spammy corpus shows K and D far above organic
    // text). EVERY statistic derives from the durably-staged full
    // token histogram — the query runs ZERO corpus passes; Σcnt² is
    // an exact decimal, and each output is one closed-form double.
    // No logarithm anywhere (K and D are rational; the entropy-form
    // richness measures are not oracle-safe cross-engine).
    "e118_lexical_richness" -> ((s, dir) => {
      // the corpus histogram is a RE-AGG of the shared per-doc token
      // histogram (DedupQueries.docTokenHist) — one tokenize pass
      // serves both fixtures, never a second scan of the text.
      // Resolved BEFORE the durableFrame thunk (hoisting discipline).
      val perDoc = DedupQueries.docTokenHist(s, dir)
      val hist = Stage.durableFrame(s, "token-hist-full", dir) {
        perDoc.groupBy("w").agg(sum(col("cnt")).as("cnt"))
      }
      val ag = hist.agg(count(lit(1)).as("types"),
        sum(col("cnt")).as("toks"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("dis"),
        sum(dec38(col("cnt")) * col("cnt")).as("s2"))
      ag.select(col("types").as("word_types"),
        col("toks").as("n_tokens"),
        col("hapax"), col("dis").as("dislegomena"),
        round(lit(10000.0) * (d(col("s2")) - d(col("toks"))) /
          (d(col("toks")) * d(col("toks"))), 8).as("yule_k"),
        round((d(col("s2")) - d(col("toks"))) /
          (d(col("toks")) * (d(col("toks")) - lit(1.0))), 8)
          .as("simpson_d"),
        round(d(col("hapax")) / d(col("types")), 8).as("hapax_rate"),
        round(d(col("types")) / d(col("toks")), 8).as("ttr"))
    }),

    // T-CLOSENESS audit — completes the privacy triad with e88
    // (k-anonymity) and e90 (l-diversity) on the same release shape:
    // for each quasi-identifier class (source × length band), the
    // total-variation distance between the class's sensitive-
    // attribute (lang) distribution and the corpus-wide one. TV's
    // numerator is computed EXACTLY: 2·n_g·N·t_g = Σ_s|n_gs·N −
    // n_s·n_g|, with the absent-language mass folded in as
    // n_g·(N − Σ_present n_s) — so `t` is one exact integer divided
    // once. All frames after the one corpus pass are class- or
    // language-bounded.
    "e119_t_closeness" -> ((s, dir) => {
      // NULL sensitive values are a CATEGORY, not droppable rows: the
      // class assembly equi-joins on lang, and a null key would never
      // match — its mass would silently flow through the absent-
      // language term and overstate t. Sentinel-coalesce keeps the
      // arithmetic exact for any future fixture (mirrored in the
      // oracle).
      val cls = t(s, dir, "documents")
        .select(col("source"), expr("n_chars div 200").as("len_band"),
          coalesce(col("lang"), lit("(null)")).as("lang"))
        .groupBy("source", "len_band", "lang")
        .agg(count(lit(1)).as("n_gs"))
      val langTot = cls.groupBy("lang").agg(sum(col("n_gs")).as("n_s"))
      val nTot = langTot.agg(sum(col("n_s")).as("nn"))
      val grpTot = cls.groupBy("source", "len_band")
        .agg(sum(col("n_gs")).as("n_g"))
      // class-bounded assembly: each class-lang cell contributes the
      // exact |n_gs·N − n_s·n_g|; languages ABSENT from a class
      // contribute n_s·n_g each, folded in as n_g·(N − Σ_present n_s)
      val pc = cls
        .join(broadcast(langTot), "lang")
        .join(grpTot, Seq("source", "len_band"))
        .crossJoin(broadcast(nTot))
        .groupBy("source", "len_band")
        .agg(max(col("n_g")).as("n_g"), max(col("nn")).as("nn"),
          sum(abs(dec38(col("n_gs")) * col("nn") -
            dec38(col("n_s")) * col("n_g"))).as("pa"),
          sum(col("n_s")).as("pns"))
      val tNum = col("pa") + dec38(col("n_g")) * (col("nn") - col("pns"))
      pc.select(col("source"), col("len_band"),
        col("n_g").as("n_docs"),
        tNum.cast("long").as("t_num"),
        (d(tNum) / (lit(2.0) * d(col("n_g")) * d(col("nn")))).as("t"))
    }),

    // Perceptual-hash image dedup, stage 1 — group REAL decoded
    // rasters by their gradient difference-hash
    // ([[Multimodal.dHash15]]): identical-looking images collide on
    // the fingerprint, so dedup is ONE map-side-combinable hash
    // aggregate over (fp) and never compares pixel pairs. The judged
    // frame is the duplicate-bucket report (every bucket of ≥ 2
    // images); the oracle re-derives each fingerprint from the
    // fixture's generative pixel formula, so the real PNG decode
    // path is value-judged end to end.
    "e120_phash_buckets" -> ((s, dir) => {
      Multimodal.dHash15(
          Multimodal.toMediaDataset(MediaFixtures.png(s, dir)))
        .groupBy("fp")
        .agg(count(lit(1)).as("n_images"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .where(col("n_images") >= 2)
    }),

    // Voice-activity segmentation over REALLY decoded PCM
    // ([[Multimodal.audioVad]]) — the audio twin of e120's image
    // dedup stage: decode → fixed 8-sample frames → integer energy
    // gate → maximal voiced runs. Completes the audio family (e101
    // per-clip signal stats → this is the SEGMENT-level curation
    // report: how much of the clip is signal, in how many bursts).
    // The oracle re-derives frame energies from the fixture's
    // generative sample formula (md5-byte cycle), so the real WAV
    // container decode is value-judged end to end.
    "e123_audio_vad" -> ((s, dir) => {
      Multimodal.audioVad(
          Multimodal.toMediaDataset(MediaFixtures.wav(s, dir)))
        .select(col("doc_id"),
          col("n_frames").cast("long").as("n_frames"),
          col("voiced_frames").cast("long").as("voiced_frames"),
          col("n_segments").cast("long").as("n_segments"),
          col("longest_segment").cast("long").as("longest_segment"))
    }),

    // Scene-cut detection over REALLY decoded GIF frames
    // ([[Multimodal.videoSceneCuts]]) — completes the multimodal
    // curation triad (e120 image dedup, e123 audio VAD, this video
    // shot-boundary pass): consecutive-frame pixel-difference energy
    // against a per-pixel gate, scenes = cuts + 1. Oracle re-derives
    // every frame diff from the fixture's generative pixel formula
    // (frame f pixel i = md5-byte((i + 3f) mod 16)), so the real GIF
    // container decode is value-judged end to end.
    "e124_scene_cuts" -> ((s, dir) => {
      Multimodal.videoSceneCuts(
          Multimodal.toMediaDataset(MediaFixtures.gif(s, dir)))
        .select(col("doc_id"),
          col("n_frames").cast("long").as("n_frames"),
          col("n_cuts").cast("long").as("n_cuts"),
          col("n_scenes").cast("long").as("n_scenes"),
          col("max_diff"))
    }),

    // MANN–KENDALL monotonic-trend test on the daily ingest series —
    // the NONPARAMETRIC member of the feed-trend family (e97 fits an
    // OLS slope, q121 scores level changes via CUSUM; this tests
    // "is the series drifting at all" with no distribution
    // assumption). S = Σ_{i<j} sign(x_j − x_i) over the calendar-
    // bounded daily frame (a days² triangular self-join of a tiny
    // frame — the corpus is touched once for the daily counts), the
    // tie-corrected variance numerator is exact integer arithmetic,
    // and the normal-approximation z is one closed-form double
    // (sqrt is IEEE-correctly-rounded in both engines).
    "q123_mann_kendall" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
      val p = daily.as("a").join(daily.as("b"), col("b.d") > col("a.d"))
        .agg(sum(when(col("b.x") > col("a.x"), 1L)
          .when(col("b.x") < col("a.x"), -1L).otherwise(0L)).as("s_stat"))
      val n = daily.agg(count(lit(1)).as("nd"))
      val tie = daily.groupBy("x").agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(col("t") * (col("t") - 1) *
          (lit(2L) * col("t") + 5)), lit(0L)).as("tie"))
      val vn = col("nd") * (col("nd") - 1) * (lit(2L) * col("nd") + 5) -
        col("tie")
      val sd = sqrt(d(col("var_num")) / lit(18.0))
      p.crossJoin(broadcast(n)).crossJoin(broadcast(tie))
        .select(col("nd").as("n_days"), col("s_stat"),
          vn.as("var_num"))
        .select(col("n_days"), col("s_stat"), col("var_num"),
          round(when(col("s_stat") > 0,
              (d(col("s_stat")) - lit(1.0)) / sd)
            .when(col("s_stat") < 0,
              (d(col("s_stat")) + lit(1.0)) / sd)
            .otherwise(lit(0.0)), 8).as("z"))
    }),

    // Streaming SCD2 — [[graft.streaming.Scd2.history]] over the
    // same four change generations as the batch `c12_scd2`, judged
    // against the SAME oracle (the c36/c38 twin discipline): per
    // key, each change closes the open interval at its own ordinal
    // and opens the next; deletes close without opening; the final
    // drain (far-future event-time timeout fired by the watermark
    // sentinels) emits the still-open intervals as current. Feed
    // chunks are durably staged with pinned mtimes; event time is
    // (gen+1) s (epoch 0 is dropped by the initial-watermark late
    // filter) and the drain timer sits between the data range and
    // the sentinels.
    "c39_stream_scd2" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      def gen(df: DataFrame, op: String, g: Long, bal: Column) =
        df.select(col("c_custkey"), bal.as("c_acctbal"),
          lit(op).as("op"), lit(g).as("ts_g"),
          timestamp_seconds(lit(g + 1)).as("ts"))
      val feed = Stage.durableChunkFeed("feed-c39", dir)(Seq(
        gen(c, "r", 0L, col("c_acctbal")),
        gen(c.where(col("c_custkey") % 3 === 0), "u", 1L,
          col("c_acctbal") + 100.0),
        gen(c.where(col("c_custkey") % 5 === 0), "d", 2L,
          lit(null).cast("double")),
        gen(c.where(col("c_custkey") % 15 === 0), "u", 3L,
          col("c_acctbal") + 7.0),
        // two watermark-bearing sentinels: timeouts fire against the
        // PREVIOUS batch's watermark, so the first advances it past
        // the drain timer and the second delivers the firing batch
        gen(s.range(1).select(lit(-1L).as("c_custkey"),
          lit(0.0).as("c_acctbal")), "noop", 98L, lit(null)
          .cast("double")).withColumn("ts",
            timestamp_seconds(lit(1000L))),
        gen(s.range(1).select(lit(-1L).as("c_custkey"),
          lit(0.0).as("c_acctbal")), "noop", 99L, lit(null)
          .cast("double")).withColumn("ts",
            timestamp_seconds(lit(2000L)))))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("c_custkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c_acctbal",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts_g",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val tmp = Stage.tempDir("graft-c39-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val in = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
        .withWatermark("ts", "0 seconds")
        .as[graft.streaming.Scd2.Change]
      Stage.drain(graft.streaming.Scd2.history(in, drainFireMs = 5000L),
        ckpt)(Stage.appendTo(out))
      s.read.parquet(out)
        .select(col("c_custkey"), col("c_acctbal"),
          col("effective_from"), col("effective_to"), col("is_current"))
    }))

  private val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  val oracles: Map[String, String] = Map(
    // pooled global spans via window cumsum; lo+hi = 2·hi − t + 1;
    // every sufficient statistic HUGEINT, the H formula the same
    // double expression text as the Spark side, rounded to 8.
    "q119_kruskal" ->
      """WITH h AS (
           SELECT l_extendedprice AS v, count(*) AS t,
             SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS fa,
             SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS fn,
             SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS fr
           FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
         sp AS (
           SELECT t, fa, fn, fr,
             SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
           FROM h),
         ag AS (SELECT
             CAST(SUM(fa) AS BIGINT) AS n_a,
             CAST(SUM(fn) AS BIGINT) AS n_n,
             CAST(SUM(fr) AS BIGINT) AS n_r,
             SUM(CAST(fa AS HUGEINT) * (2*hi - t + 1)) AS r2a,
             SUM(CAST(fn AS HUGEINT) * (2*hi - t + 1)) AS r2n,
             SUM(CAST(fr AS HUGEINT) * (2*hi - t + 1)) AS r2r,
             SUM(CAST(t AS HUGEINT) * t * t - t) AS tie_cube
           FROM sp),
         f AS (SELECT *,
             CAST(n_a + n_n + n_r AS DOUBLE) AS nt,
             12.0 * (CAST(r2a AS DOUBLE) * CAST(r2a AS DOUBLE) /
                 (4.0 * CAST(n_a AS DOUBLE)) +
               CAST(r2n AS DOUBLE) * CAST(r2n AS DOUBLE) /
                 (4.0 * CAST(n_n AS DOUBLE)) +
               CAST(r2r AS DOUBLE) * CAST(r2r AS DOUBLE) /
                 (4.0 * CAST(n_r AS DOUBLE))) /
               (CAST(n_a + n_n + n_r AS DOUBLE) *
                 (CAST(n_a + n_n + n_r AS DOUBLE) + 1.0)) -
               3.0 * (CAST(n_a + n_n + n_r AS DOUBLE) + 1.0) AS h_raw
           FROM ag)
         SELECT CAST(n_a + n_n + n_r AS BIGINT) AS n_total,
           n_a, n_n, n_r,
           CAST(r2a AS BIGINT) AS rank_sum2_a,
           CAST(r2n AS BIGINT) AS rank_sum2_n,
           CAST(r2r AS BIGINT) AS rank_sum2_r,
           round(h_raw, 8) AS h,
           round(h_raw / (1.0 - CAST(tie_cube AS DOUBLE) /
             (nt * nt * nt - nt)), 8) AS h_tie_adj
         FROM f""",

    // group medians by the contains-rank rule (q118's recipe), then
    // one scan for integer cent deviations; F machinery via the
    // shared fStatSql twin of pivotedF.
    "q120_levene" -> fStatSql(
      """WITH h AS (
           SELECT l_returnflag, l_extendedprice, count(*) AS cnt
           FROM lineitem WHERE l_extendedprice IS NOT NULL
           GROUP BY 1, 2),
         sp AS (
           SELECT l_returnflag, l_extendedprice,
             SUM(cnt) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS nn
           FROM h),
         med AS (
           SELECT l_returnflag,
             min(CASE WHEN hi >= (nn + 1) // 2
               THEN l_extendedprice END) AS med
           FROM sp GROUP BY 1),
         dev AS (
           SELECT li.l_returnflag,
             CAST(abs(CAST(round(li.l_extendedprice * 100) AS BIGINT) -
                 CAST(round(m.med * 100) AS BIGINT)) AS HUGEINT) AS z
           FROM lineitem li JOIN med m USING (l_returnflag)
           WHERE li.l_extendedprice IS NOT NULL)""", "mad"),

    // pooled per-group cumulative counts via window sums; the same
    // exact-integer numerator and one closed-form double as the
    // Spark side
    "e122_cvm" ->
      """WITH h AS (
           SELECT l_extendedprice AS v,
             SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS fa,
             SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS fr
           FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
         sp AS (
           SELECT fa + fr AS t,
             SUM(fa) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             SUM(fr) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr
           FROM h),
         tot AS (SELECT max(ca) AS n, max(cr) AS m FROM sp),
         ag AS (SELECT max(tot.n) AS n_a, max(tot.m) AS m_r,
             SUM(CAST(sp.t AS HUGEINT) *
               (CAST(tot.m AS HUGEINT) * sp.ca -
                CAST(tot.n AS HUGEINT) * sp.cr) *
               (CAST(tot.m AS HUGEINT) * sp.ca -
                CAST(tot.n AS HUGEINT) * sp.cr)) AS num
           FROM sp, tot)
         SELECT CAST(n_a AS BIGINT) AS n_a, CAST(m_r AS BIGINT) AS n_r,
           round(CAST(num AS DOUBLE) /
             (CAST(n_a AS DOUBLE) * CAST(m_r AS DOUBLE) *
              (CAST(n_a AS DOUBLE) + CAST(m_r AS DOUBLE)) *
              (CAST(n_a AS DOUBLE) + CAST(m_r AS DOUBLE))), 8) AS t_cvm
         FROM ag""",

    // same pivoted exact-sum discipline as q120, raw cents instead of
    // median deviations — one shared F text per engine
    "q122_anova" -> fStatSql(
      """WITH dev AS (
           SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS HUGEINT) AS z
           FROM lineitem WHERE l_extendedprice IS NOT NULL)""", "mean"),

    // integer excursion numerator D·cum − i·T; the mean daily rate
    // never materializes as a float before the single division.
    "q121_cusum" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS d, count(*) AS x
           FROM events GROUP BY 1),
         c AS (
           SELECT d, x,
             SUM(x) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             ROW_NUMBER() OVER (ORDER BY d) AS i
           FROM daily),
         t AS (SELECT max(i) AS nd, max(cum) AS tot FROM c)
         SELECT CAST(c.d AS TIMESTAMP) AS d, c.x,
           CAST(t.nd * c.cum - c.i * t.tot AS BIGINT) AS excursion,
           CAST(t.nd * c.cum - c.i * t.tot AS DOUBLE) /
             CAST(t.nd AS DOUBLE) AS cusum
         FROM c, t""",

    // all four richness statistics from the token histogram; K and D
    // are rational, so no logarithm crosses an engine boundary.
    "e118_lexical_richness" ->
      s"""WITH hist AS (
           SELECT tk AS w, count(*) AS cnt
           FROM (SELECT unnest($tokensSql) AS tk FROM documents)
           GROUP BY 1),
         ag AS (SELECT
             CAST(count(*) AS BIGINT) AS types,
             CAST(SUM(cnt) AS BIGINT) AS toks,
             CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax,
             CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dis,
             SUM(CAST(cnt AS HUGEINT) * cnt) AS s2
           FROM hist)
         SELECT types AS word_types, toks AS n_tokens, hapax,
           dis AS dislegomena,
           round(10000.0 * (CAST(s2 AS DOUBLE) - CAST(toks AS DOUBLE)) /
             (CAST(toks AS DOUBLE) * CAST(toks AS DOUBLE)), 8) AS yule_k,
           round((CAST(s2 AS DOUBLE) - CAST(toks AS DOUBLE)) /
             (CAST(toks AS DOUBLE) * (CAST(toks AS DOUBLE) - 1.0)), 8)
             AS simpson_d,
           round(CAST(hapax AS DOUBLE) / CAST(types AS DOUBLE), 8)
             AS hapax_rate,
           round(CAST(types AS DOUBLE) / CAST(toks AS DOUBLE), 8) AS ttr
         FROM ag""",

    // exact TV numerator per class: present cells contribute
    // |n_gs·N − n_s·n_g|, absent languages n_g·(N − Σ_present n_s).
    "e119_t_closeness" ->
      """WITH cls AS (
           SELECT source, n_chars // 200 AS len_band,
             coalesce(lang, '(null)') AS lang, count(*) AS n_gs
           FROM documents GROUP BY 1, 2, 3),
         lt AS (SELECT lang, SUM(n_gs) AS n_s FROM cls GROUP BY 1),
         nt AS (SELECT SUM(n_s) AS nn FROM lt),
         gt AS (SELECT source, len_band, SUM(n_gs) AS n_g
           FROM cls GROUP BY 1, 2),
         pc AS (
           SELECT c.source, c.len_band,
             max(g.n_g) AS n_g, max(nt.nn) AS nn,
             SUM(abs(CAST(c.n_gs AS HUGEINT) * nt.nn -
               CAST(l.n_s AS HUGEINT) * g.n_g)) AS pa,
             SUM(l.n_s) AS pns
           FROM cls c
           JOIN lt l USING (lang)
           JOIN gt g ON g.source = c.source AND g.len_band = c.len_band,
           nt
           GROUP BY 1, 2)
         SELECT source, len_band, CAST(n_g AS BIGINT) AS n_docs,
           CAST(pa + CAST(n_g AS HUGEINT) * (nn - pns) AS BIGINT)
             AS t_num,
           CAST(pa + CAST(n_g AS HUGEINT) * (nn - pns) AS DOUBLE) /
             (2.0 * CAST(n_g AS DOUBLE) * CAST(nn AS DOUBLE)) AS t
         FROM pc""",

    // consecutive-frame pixel diffs re-derived from the GIF fixture's
    // generative formula; (i + 3f − 3) ≥ 0 for f ≥ 1 so the cycle
    // index needs no negative-mod care
    "e124_scene_cuts" ->
      """WITH d AS (SELECT doc_id, md5(text) AS h,
             (n_chars % 16) + 4 AS w, (n_chars % 6) + 2 AS nf
           FROM documents),
         px AS (
           SELECT d.doc_id, f.f,
             CAST('0x' || substr(d.h, 2*((i.i + 3*f.f) % 16) + 1, 2)
               AS BIGINT) AS b1,
             CAST('0x' || substr(d.h, 2*((i.i + 3*f.f - 3) % 16) + 1, 2)
               AS BIGINT) AS b0
           FROM d, generate_series(1, 6) AS f(f),
             generate_series(0, 79) AS i(i)
           WHERE f.f < d.nf AND i.i < 4 * d.w),
         fr AS (
           SELECT doc_id, f, SUM((b1 - b0) * (b1 - b0)) AS e,
             count(*) AS npx
           FROM px GROUP BY 1, 2),
         cut AS (
           SELECT doc_id,
             SUM(CASE WHEN e >= 10800 * npx THEN 1 ELSE 0 END) AS nc,
             max(e) AS mx
           FROM fr GROUP BY 1)
         SELECT d.doc_id, CAST(d.nf AS BIGINT) AS n_frames,
           CAST(c.nc AS BIGINT) AS n_cuts,
           CAST(c.nc + 1 AS BIGINT) AS n_scenes,
           CAST(c.mx AS BIGINT) AS max_diff
         FROM d JOIN cut c USING (doc_id)""",

    // triangular pair walk over the days-bounded daily frame; the
    // tie-corrected variance numerator is exact, z one closed form
    "q123_mann_kendall" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS d, count(*) AS x
           FROM events GROUP BY 1),
         p AS (SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
           FROM daily a JOIN daily b ON b.d > a.d),
         n AS (SELECT count(*) AS nd FROM daily),
         t AS (SELECT CAST(coalesce(SUM(t * (t - 1) * (2 * t + 5)), 0)
               AS BIGINT) AS tie
           FROM (SELECT count(*) AS t FROM daily GROUP BY x)),
         v AS (SELECT CAST(n.nd AS BIGINT) AS nd,
             CAST(n.nd * (n.nd - 1) * (2 * n.nd + 5) - t.tie AS BIGINT)
               AS vn
           FROM n, t)
         SELECT v.nd AS n_days, p.s AS s_stat, v.vn AS var_num,
           round(CASE WHEN p.s > 0 THEN (CAST(p.s AS DOUBLE) - 1.0) /
               sqrt(CAST(v.vn AS DOUBLE) / 18.0)
             WHEN p.s < 0 THEN (CAST(p.s AS DOUBLE) + 1.0) /
               sqrt(CAST(v.vn AS DOUBLE) / 18.0)
             ELSE 0.0 END, 8) AS z
         FROM p, v""",

    // frame energies re-derived from the fixture's generative sample
    // formula (sample i = md5-byte(i mod 16)·257 − 32768, e101's
    // derivation); segments via gaps-and-islands over voiced frames
    "e123_audio_vad" ->
      """WITH d AS (SELECT doc_id, md5(text) AS h,
             (n_chars % 96) + 32 AS n FROM documents),
         samp AS (
           SELECT d.doc_id, j.j, i.i,
             CAST('0x' || substr(d.h, 2*((8*j.j + i.i) % 16) + 1, 2)
               AS BIGINT) * 257 - 32768 AS s
           FROM d, generate_series(0, 14) AS j(j),
             generate_series(0, 7) AS i(i)
           WHERE j.j < d.n // 8),
         fr AS (
           SELECT doc_id, j,
             SUM(CAST(s AS HUGEINT) * s) >= 3000000000 AS voiced
           FROM samp GROUP BY 1, 2),
         runs AS (
           SELECT doc_id, j,
             j - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j)
               AS grp
           FROM fr WHERE voiced),
         seg AS (
           SELECT doc_id, grp, count(*) AS len
           FROM runs GROUP BY 1, 2)
         SELECT f.doc_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN f.voiced THEN 1 ELSE 0 END) AS BIGINT)
             AS voiced_frames,
           CAST(coalesce(max(sg.n_seg), 0) AS BIGINT) AS n_segments,
           CAST(coalesce(max(sg.longest), 0) AS BIGINT)
             AS longest_segment
         FROM fr f
         LEFT JOIN (SELECT doc_id, count(*) AS n_seg, max(len) AS longest
                    FROM seg GROUP BY 1) sg ON sg.doc_id = f.doc_id
         GROUP BY f.doc_id""",

    // the fingerprint re-derived from the fixture's generative pixel
    // formula (pixels cycle the md5 bytes of the text — e94's
    // derivation): bit i set iff byte i > byte i+1, comparisons
    // defined for i ≤ min(N,16)−2.
    "e120_phash_buckets" ->
      """WITH d AS (SELECT doc_id, md5(text) AS h,
             4 * ((n_chars % 64) + 1) AS N FROM documents),
         fp AS (
           SELECT d.doc_id,
             CAST(SUM(CASE WHEN g.i <= LEAST(d.N, 16) - 2 AND
                 CAST('0x' || substr(d.h, 2*g.i + 1, 2) AS BIGINT) >
                 CAST('0x' || substr(d.h, 2*g.i + 3, 2) AS BIGINT)
               THEN CAST(1 AS BIGINT) << g.i ELSE 0 END) AS BIGINT)
               AS fp
           FROM d, generate_series(0, 14) AS g(i)
           GROUP BY d.doc_id)
         SELECT fp, CAST(count(*) AS BIGINT) AS n_images,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM fp GROUP BY fp HAVING count(*) >= 2""",

    // the batch c12_scd2 oracle VERBATIM — the streaming operator is
    // judged as a twin on the same change log and history semantics.
    "c39_stream_scd2" ->
      """WITH log AS (
           SELECT c_custkey, c_acctbal, 'r' AS op, CAST(0 AS BIGINT) AS ts
             FROM customer
           UNION ALL
           SELECT c_custkey, c_acctbal + 100.0, 'u', 1 FROM customer
             WHERE c_custkey % 3 = 0
           UNION ALL
           SELECT c_custkey, NULL, 'd', 2 FROM customer
             WHERE c_custkey % 5 = 0
           UNION ALL
           SELECT c_custkey, c_acctbal + 7.0, 'u', 3 FROM customer
             WHERE c_custkey % 15 = 0),
          v AS (SELECT *, lead(ts) OVER
              (PARTITION BY c_custkey ORDER BY ts) AS effective_to
            FROM log)
          SELECT c_custkey, c_acctbal, ts AS effective_from, effective_to,
            effective_to IS NULL AS is_current
          FROM v WHERE op <> 'd'""")
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 second wave: the nonparametric/statistics suite grows
  * (rank tests, independence, rank correlation) and an n-gram LM
  * table — each in the house exact-arithmetic discipline: every
  * cross-row sum is an integer (or exact decimal), every judged
  * double comes from ONE fixed-order formula over those sums, and
  * divisions/sqrt are the only float steps (round(_, 8) guards the
  * last-ULP FMA ambiguity, as in q19_stats).
  *
  *  - `e104_mannwhitney` — exact two-sample Mann–Whitney U (average
  *    ranks for ties, tie-corrected normal approximation) for every
  *    event-type pair, the rank-test complement of e103's KS: U is
  *    assembled from the SAME distinct-value count frame, with the
  *    rank sums in half-units (2·RS is an integer) so ties never
  *    produce a float before the final z formula.
  *  - `e105_chisq` — chi-square independence of event_type ×
  *    campaign decile over a FIXED 5×10 cell grid: one hash
  *    aggregate to 50 integer cells, margins and χ² evaluated in a
  *    single fixed-order expression (sum order is part of the judged
  *    semantics — float addition does not commute across engines).
  *  - `e106_spearman` — per-group Spearman rank correlation as
  *    Pearson over DOUBLED average ranks (2·avgrank = 2·rank+cnt−1
  *    is an integer even at half-rank ties): two partitioned window
  *    passes for the ranks, integer moment sums, one closed-form
  *    double.
  *  - `e107_bigram_lm` — bigram language-model table: conditional
  *    next-token probabilities for the corpus' top first-tokens —
  *    the count statistic behind LM-based quality filtering. Exact
  *    integer counts; probability is the single per-row division.
  *  - `q112_approx_quantile_audit` — percentile_approx's mergeable GK
  *    sketch certified against the exact rank-span machinery (the e3
  *    HLL pattern for order statistics).
  *  - `e108_rare_bigram_rate` — per-doc fraction of bigrams occurring
  *    nowhere else in the corpus (gibberish high, boilerplate low).
  *  - `q113_mad` — median absolute deviation by double rank
  *    selection (median from staged spans, then the deviation
  *    median) — robust dispersion without a sort.
  *  - `e111_vocab_coverage` — occurrence coverage of the top-k token
  *    types (k = 100/1k/10k), the tokenizer-vocab sizing curve, over
  *    the scale-safe global row number.
  */
object Surface21Queries extends QuerySet {
  import Tables._

  private val evTypes = Seq("click", "error", "purchase", "signup", "view")
  private val evPairs = for {
    i <- evTypes.indices; j <- evTypes.indices if i < j
  } yield (evTypes(i), evTypes(j))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e104_mannwhitney" -> ((s, dir) => {
      // distinct-value count frame (one hash agg), then the
      // range-partitioned cumulative pass — same machinery as e103
      val counts = events(s, dir)
        .groupBy("value")
        .pivot("event_type", evTypes)
        .agg(count(lit(1)))
        .na.fill(0L, evTypes)
      val cums = graft.operators.Rank
        .withGlobalCumsums(counts, Seq(col("value")), evTypes)
      // totals from the CUMULATIVE frame (max cum = per-type n): the
      // histogram-sized pass reuses the persisted ranged frame, where
      // an agg over `counts` would re-scan the corpus a second time
      val totals = cums.agg(
        max(col(s"cum_${evTypes.head}")).as(s"n_${evTypes.head}"),
        evTypes.tail.map(t => max(col(s"cum_$t")).as(s"n_$t")): _*)
      // per pair: 2·ranksum_a = Σ ca·(2·prev + m + 1) with
      // prev = combined cumulative BEFORE this value, m = ca+cb the
      // combined tie group; tie term Σ (m³ − m). All integers.
      def rs2(a: String, b: String): Column = {
        val ca = col(a); val cb = col(b)
        val prev = (col(s"cum_$a") - ca) + (col(s"cum_$b") - cb)
        val m = ca + cb
        sum(ca * (lit(2) * prev + m + lit(1)))
      }
      def ties(a: String, b: String): Column = {
        val m = col(a) + col(b)
        sum(m * m * m - m)
      }
      val aggCols = evPairs.flatMap { case (a, b) =>
        Seq(rs2(a, b).as(s"rs2_${a}_$b"), ties(a, b).as(s"t_${a}_$b"))
      } ++ evTypes.map(t => first(col(s"n_$t")).as(s"n_$t"))
      val agg = cums.crossJoin(broadcast(totals))
        .agg(aggCols.head, aggCols.tail: _*)
      val stacked = agg.selectExpr(
        s"stack(${evPairs.length}, " + evPairs.map { case (a, b) =>
          s"'$a', '$b', n_$a, n_$b, rs2_${a}_$b - n_$a * (n_$a + 1), t_${a}_$b"
        }.mkString(", ") + ") as (type_a, type_b, n_a, n_b, u2, ties)")
      // z from exact integers, ONE formula (mirrored in the oracle):
      // z = (u2 − na·nb) / (2·sqrt(na·nb/12 · ((N+1) − ties/(N(N−1)))))
      // (u2 = 2U, so numerator = 2(U − na·nb/2) and the 2 in the
      // denominator cancels the doubling)
      val bigN = col("n_a") + col("n_b")
      stacked.select(col("type_a"), col("type_b"), col("n_a"),
        col("n_b"), col("u2"), col("ties"),
        round((col("u2") - col("n_a") * col("n_b")).cast("double") /
          (lit(2.0) * sqrt(
            (col("n_a") * col("n_b")).cast("double") / lit(12.0) *
              ((bigN + lit(1)).cast("double") -
                col("ties").cast("double") /
                  (bigN * (bigN - lit(1))).cast("double")))), 8)
          .as("z"))
    }),

    "e105_chisq" -> ((s, dir) => {
      // FIXED 5×10 grid: decile = props.k div 10. One hash aggregate
      // to 50 integer cells; margins + chi-square in a single
      // fixed-order expression so the float sum order is identical
      // in both engines.
      val ev = events(s, dir).select(col("event_type"),
        graft.operators.Quantiles.ldiv(
          get_json_object(col("props"), "$.k").cast("long"), 10L)
          .as("d"))
      val cells = for (t <- evTypes; j <- 0 until 10) yield (t, j)
      val aggCols = cells.map { case (t, j) =>
        sum(when(col("event_type") === t && col("d") === j.toLong, 1L)
          .otherwise(0L)).as(s"o_${t}_$j")
      }
      val one = ev.agg(aggCols.head, aggCols.tail: _*)
      def o(t: String, j: Int) = col(s"o_${t}_$j")
      def row(t: String): Column =
        (0 until 10).map(j => o(t, j)).reduce(_ + _)
      def colTot(j: Int): Column = evTypes.map(t => o(t, j)).reduce(_ + _)
      val n = evTypes.map(row).reduce(_ + _)
      // term_ij = (O·N − r·c)² / (N·r·c), summed row-major — d·d in
      // double (the square would overflow long past sf0.1)
      val chi2 = cells.map { case (t, j) =>
        val d = (o(t, j) * n - row(t) * colTot(j)).cast("double")
        d * d / (n * row(t) * colTot(j)).cast("double")
      }.reduce(_ + _)
      one.select(round(chi2, 8).as("chi2"),
        lit((evTypes.length - 1) * 9).cast("long").as("dof"),
        n.as("n"))
    }),

    "e106_spearman" -> ((s, dir) => {
      // doubled average ranks WITHOUT a per-group row sort: for a
      // value with rank span [__lo, __hi], 2·avgrank = __lo + __hi —
      // so the ranks come from the rank-span CDF (hash agg to the
      // distinct-value histogram + the range-partitioned span pass).
      // At ×100 data the r12 windowed form was sort-bound (83 s,
      // n log n over 20 M rows/group); r13–r19 joined both span
      // frames back to the FACT rows, paying TWO fact-scale hash
      // exchanges and a 24-sum fact-scale moment aggregate. r20
      // (guide §2.3/§2.4 — shuffle fewer bytes, remove exchanges):
      //  1. every MARGINAL moment (n, Σrx, Σrx², Σry, Σry²) is a
      //     weighted sum over its own span frame — Σ_rows f(r) =
      //     Σ_values __n·f(r) exactly, because r is constant per
      //     (g, value). No join, no fact pass: histogram-sized aggs.
      //  2. only the CROSS moment Σ rx·ry touches the fact, and rx
      //     is constant given (g, x) — so Σ rx·ry =
      //     Σ_x rx·(Σ_{rows with x} ry): ONE fact-scale join attaches
      //     ry (the high-cardinality side), a groupBy (g, x) whose
      //     exchange carries only x-domain-sized limb partials
      //     (map-side combine), and rx multiplies in on the x-span
      //     frame (x-domain rows, broadcast).
      // Net: 2 fact exchanges → 1, and the fact-scale agg shrinks
      // from 24 sums to the 3 limb sums of Σry. The full
      // joint-histogram form ((g,x,y)→w first, spans joined to the
      // cells) was measured and REJECTED for the judged shape: at
      // sf0.1 prices are near-unique, cells ≈ rows, and it ran
      // 5.5–6.8 s vs 3.9–4.6 s for the fact forms (the histogram
      // build is pure overhead until the joint domain compresses);
      // at extreme joint-domain compression it becomes the better
      // shape and stays the documented alternative (see
      // OPTIMIZATION_r20.md).
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      def spans(v: String): DataFrame =
        graft.operators.Quantiles.rankSpans(
          li.groupBy(col("g"), col(v))
            .agg(count(lit(1)).as("__n")), Seq("g"), v)
          .withColumn("r", (col("__lo") + col("__hi")).cast("long"))
      val xs = spans("x"); val ys = spans("y")
      // moment sums must be WIDE (at x10 data — ~6M rows/group,
      // doubled ranks ~1.2e7 — Σrx·ry exceeds long range before the
      // final formula does), but a decimal(38,0)-cast per-row product
      // would pay a BigDecimal multiply + BigDecimal-backed buffer
      // per row. Tables.lprodSum/lprodSum3 compute the identical
      // exact integers through long-limb partial sums (pure integer
      // identity — no rounding anywhere), recombined to the same
      // decimal(38,0) once per group; valid through doubled ranks
      // < ~2e12 at ~1.3e12 rows per group-set (≈ 2× a 100 TB
      // lineitem; the n³ term of Σ__n·r² binds first), with the
      // decimal-cast form as the documented fallback beyond that.
      def marg(sp: DataFrame, pre: String): DataFrame =
        sp.groupBy("g").agg(
          sum(col("__n")).as(s"n_$pre"),
          lprodSum(col("r"), col("__n")).as(s"s$pre"),
          lprodSum3(col("__n"), col("r"), col("r")).as(s"s$pre$pre"))
      val tGx = li
        .join(ys.select(col("g"), col("y"), col("r").as("ry")),
          Seq("g", "y"))
        .groupBy("g", "x").agg(lsum(col("ry")).as("t"))
      val sxy = tGx
        .join(broadcast(xs.select(col("g"), col("x"), col("r").as("rx"))),
          Seq("g", "x"))
        .groupBy("g")
        .agg(sum(col("rx").cast("decimal(38,0)") * col("t")).as("sxy"))
      // n = Σ__n over the x spans is the exact fact row count the
      // previous fact-scale count(1) produced
      val agg = marg(xs, "x").join(marg(ys, "y"), "g").join(sxy, "g")
        .select(col("g"), col("n_x").as("n"), col("sx"), col("sy"),
          col("sxy"), col("sxx"), col("syy"))
      // final products exceed long range past sf0.1 (n·sxx ≈ 6e21);
      // DECIMAL(38,0) keeps them exact (HUGEINT on the oracle side),
      // with the one cast to double after the subtraction
      def dec(c: Column) = c.cast("decimal(38,0)")
      agg.select(col("g").as("l_returnflag"), col("n"),
        round((dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy"))
          .cast("double") /
          (sqrt((dec(col("n")) * col("sxx") - dec(col("sx")) * col("sx"))
            .cast("double")) *
            sqrt((dec(col("n")) * col("syy") - dec(col("sy")) * col("sy"))
              .cast("double"))), 8).as("rho"))
    }),

    // APPROX-QUANTILE SKETCH AUDIT — the e3 (HLL) pattern for order
    // statistics: percentile_approx's GK sketch is the only quantile
    // that MERGES at 100 TB (per-partition sketches combine without a
    // global sort), so the audit that certifies it against the exact
    // rank-span machinery is a first-class production query. Judged
    // frame = exact quantiles (engine-portable) + ok booleans that
    // the sketch landed inside its guaranteed rank tolerance — the
    // approx VALUES themselves are merge-order-dependent and stay out
    // of the judged columns (same discipline as e3's HLL audit).
    "q112_approx_quantile_audit" -> ((s, dir) => {
      import graft.operators.Quantiles.ldiv
      val acc = 10000L
      val spans = StatsQueries.priceSpans(s, dir)
      def ceilRank(num: Long, den: Long)(cnt: Column): Column =
        greatest(ldiv(cnt * lit(num) + lit(den - 1), lit(den)), lit(1L))
      // rank slack = guaranteed GK error (n/acc) ×2 safety, ±
      def slack(cnt: Column): Column =
        ldiv(cnt * lit(2L), lit(acc)) + lit(1L)
      def loRk(num: Long, den: Long)(cnt: Column): Column =
        greatest(ceilRank(num, den)(cnt) - slack(cnt), lit(1L))
      def hiRk(num: Long, den: Long)(cnt: Column): Column =
        least(ceilRank(num, den)(cnt) + slack(cnt), cnt)
      val ranks = Seq(
        "p25" -> ceilRank(1, 4) _, "p50" -> ceilRank(1, 2) _,
        "p75" -> ceilRank(3, 4) _,
        "lo25" -> loRk(1, 4) _, "hi25" -> hiRk(1, 4) _,
        "lo50" -> loRk(1, 2) _, "hi50" -> hiRk(1, 2) _,
        "lo75" -> loRk(3, 4) _, "hi75" -> hiRk(3, 4) _)
      val exact = graft.operators.Quantiles.selectRanks(
        spans, Seq("l_returnflag"), "l_extendedprice", ranks)
      val approx = t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(acc.toInt))
          .as("ap"))
      exact.join(approx, "l_returnflag")
        .select(col("l_returnflag"),
          col("p25"), col("p50"), col("p75"),
          col("ap")(0).between(col("lo25"), col("hi25")).as("ok25"),
          col("ap")(1).between(col("lo50"), col("hi50")).as("ok50"),
          col("ap")(2).between(col("lo75"), col("hi75")).as("ok75"))
    }),

    // Per-doc RARE-BIGRAM RATE: the fraction of a doc's bigrams that
    // occur nowhere else in the corpus — high rate flags gibberish /
    // OCR noise (vocabulary the corpus never corroborates), low rate
    // flags boilerplate. The n-gram-LM-adjacent quality signal a
    // curation pass computes corpus-wide. Plan shape (r13, replacing a
    // count().over(Window.partitionBy(bigram)) that dragged every
    // occurrence row — doc_id included — through a SORTED exchange):
    // ONE tokenize pass feeds GROUPING SETS {(t1,t2), (doc_id)}, so a
    // single map-side-combinable hash exchange (Expand + partial agg —
    // nothing sorted, no occurrence row survives the map side) yields
    // both the bigram histogram and the per-doc totals. The join back
    // to docs is gone entirely: a bigram with corpus count 1 has
    // exactly ONE occurrence, so max(doc_id) inside the histogram cell
    // IS the owning doc — both slices re-key to that doc and ONE
    // doc-cardinality hash agg folds them into the report (a self-join
    // of the grouping-set frame would defeat the point: Spark pushes
    // the gid filters into per-side Expand branches, splitting the
    // plan back into two full scans).
    "e108_rare_bigram_rate" -> ((s, dir) => {
      val tk = graft.operators.TextAnalysis.tokens(col("text"))
      val bg = tBalanced(s, dir, "documents")
        .select(col("doc_id"), explode(arrays_zip(
          slice(tk, lit(1), size(tk) - 1).as("t1"),
          slice(tk, lit(2), size(tk) - 1).as("t2"))).as("b"))
        .select(col("doc_id"), col("b.t1").as("t1"), col("b.t2").as("t2"))
      // gid bits over (doc_id, t1, t2): 100b=4 → the (t1,t2) histogram
      // slice (c = corpus count, d = owning doc when c = 1);
      // 011b=3 → the per-doc totals slice (c = the doc's bigram count)
      bg.groupingSets(
          Seq(Seq(col("t1"), col("t2")), Seq(col("doc_id"))),
          col("doc_id"), col("t1"), col("t2"))
        .agg(count(lit(1)).as("c"), max(col("doc_id")).as("d"),
          grouping_id().as("gid"))
        .select(when(col("gid") === 3, col("doc_id"))
            .otherwise(col("d")).as("doc_id"),
          col("c"), col("gid"))
        .groupBy("doc_id")
        .agg(sum(when(col("gid") === 3, col("c"))).as("n_bigrams"),
          sum(when(col("gid") === 4 && col("c") === 1, 1L)
            .otherwise(0L)).as("n_rare"))
        .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
          (col("n_rare").cast("double") / col("n_bigrams").cast("double"))
            .as("rare_rate"))
    }),

    // EXACT MODE per group (deterministic ties → smallest value):
    // histogram + single-pass argmax over the total order (c, −value)
    // — two hash aggregates, no sort, no window.
    "q114_mode" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("c"))
        .groupBy("l_returnflag")
        .agg(max_by(col("l_quantity"),
          struct(col("c"), lit(0.0) - col("l_quantity"))).as("mode_qty"),
          max(col("c")).as("mode_n"))),

    // DISTINCT-n DIVERSITY per source — the text-generation diversity
    // metric (distinct-1/distinct-2: unique n-grams over total
    // n-grams) applied as a corpus-curation report: low distinct-2
    // flags TEMPLATED/boilerplate feeds, high flags natural text.
    // Two hash aggregates per n; the ratios are the only divisions.
    "e112_distinct_ngrams" -> ((s, dir) => {
      val tk = graft.operators.TextAnalysis.tokens(col("text"))
      val base = tBalanced(s, dir, "documents")
        .select(col("source"), tk.as("tk"))
      val uni = base.select(col("source"), explode(col("tk")).as("g1"))
        .groupBy("source")
        .agg(countDistinct(col("g1")).as("d1"),
          count(lit(1)).as("n1"))
      val bi = base.select(col("source"), explode(arrays_zip(
          slice(col("tk"), lit(1), size(col("tk")) - 1).as("t1"),
          slice(col("tk"), lit(2), size(col("tk")) - 1).as("t2")))
          .as("b"))
        .select(col("source"),
          concat_ws(" ", col("b.t1"), col("b.t2")).as("g2"))
        .groupBy("source")
        .agg(countDistinct(col("g2")).as("d2"),
          count(lit(1)).as("n2"))
      uni.join(bi, "source")
        .select(col("source"), col("d1"), col("n1"),
          (col("d1").cast("double") / col("n1").cast("double"))
            .as("distinct1"),
          col("d2"), col("n2"),
          (col("d2").cast("double") / col("n2").cast("double"))
            .as("distinct2"))
    }),

    // MEDIAN ABSOLUTE DEVIATION — the robust dispersion statistic
    // (outlier-resistant where stddev is not), by applying the
    // rank-selection machinery TWICE: the group median comes from the
    // staged price rank spans (narrow scan), then |x − med| is
    // re-histogrammed per group and its median selected by the same
    // smallest-value-at-threshold rule. The deviation values are
    // exact cent-scale doubles (2dp − 2dp), so the distinct-value
    // frames stay bounded and both engines bit-agree. Two hash
    // exchanges total; no sort anywhere.
    "q113_mad" -> ((s, dir) => {
      import graft.operators.Quantiles.{ldiv, medianRank, selectRanks}
      val med = selectRanks(StatsQueries.priceSpans(s, dir),
        Seq("l_returnflag"), "l_extendedprice",
        Seq("med" -> (medianRank _)))
        .select(col("l_returnflag"), col("med"))
      val devHist = t(s, dir, "lineitem")
        .where(col("l_extendedprice").isNotNull)
        .join(broadcast(med), "l_returnflag")
        .select(col("l_returnflag"),
          abs(col("l_extendedprice") - col("med")).as("dev"),
          col("med"))
        .groupBy(col("l_returnflag"), col("med"), col("dev"))
        .agg(count(lit(1)).as("c"))
      val wTot = Window.partitionBy("l_returnflag")
      val wCum = Window.partitionBy("l_returnflag").orderBy("dev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      devHist
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("tot", sum(col("c")).over(wTot))
        .where(col("cum") * 2 >= col("tot"))
        .groupBy(col("l_returnflag"))
        .agg(first(col("med")).as("median_price"),
          min(col("dev")).as("mad"),
          max(col("tot")).as("n"))
    }),

    // VOCAB COVERAGE CURVE — the tokenizer-design statistic: what
    // fraction of all token occurrences does a vocabulary of the
    // top-k types cover? Token types ranked by (count desc, token)
    // via the scale-safe global row number (range partition + prefix
    // offsets — no single-task sort); the curve is then one aggregate
    // over the distinct-type frame with a per-k conditional sum, and
    // coverage is the single division per row. At 100 TB the corpus
    // pass is the token-count hash aggregate; everything after runs
    // on the type frame.
    "e111_vocab_coverage" -> ((s, dir) => {
      val ks = Seq(100L, 1000L, 10000L)
      val counts = tBalanced(s, dir, "documents")
        .select(explode(
          graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val ranked = graft.operators.Rank.withGlobalRowNumber(
        counts, Seq(col("cnt").desc, col("tok")))
      val aggCols = ks.map(k => sum(when(col("rn") <= k, col("cnt"))
        .otherwise(0L)).as(s"cov_$k")) :+ sum(col("cnt")).as("tot")
      val agg = ranked.agg(aggCols.head, aggCols.tail: _*)
      agg.selectExpr(
          s"stack(${ks.length}, " + ks.map(k =>
            s"CAST($k AS BIGINT), cov_$k").mkString(", ") +
            ") as (k, covered)", "tot")
        .select(col("k"), col("covered"), col("tot").as("total"),
          (col("covered").cast("double") / col("tot").cast("double"))
            .as("coverage"))
    }),

    "e107_bigram_lm" -> ((s, dir) => {
      // bigram counts: one narrow map (adjacent-token zip) + two hash
      // aggregates; the report is top-5 next-tokens for the top-10
      // first-tokens (all orderings fully tie-broken). At 100 TB the
      // pair counts are the only exchange; the report side is top-k.
      val tk = graft.operators.TextAnalysis.tokens(col("text"))
      val bg = tBalanced(s, dir, "documents")
        .select(explode(arrays_zip(
          slice(tk, lit(1), size(tk) - 1).as("t1"),
          slice(tk, lit(2), size(tk) - 1).as("t2"))).as("b"))
        .select(col("b.t1").as("t1"), col("b.t2").as("t2"))
      val pairCnt = bg.groupBy("t1", "t2").agg(count(lit(1)).as("pair_n"))
      val firstCnt = pairCnt.groupBy("t1")
        .agg(sum(col("pair_n")).as("first_n"))
      val topFirst = firstCnt
        .orderBy(col("first_n").desc, col("t1")).limit(10)
      val wNext = Window.partitionBy("t1")
        .orderBy(col("pair_n").desc, col("t2"))
      pairCnt.join(broadcast(topFirst), Seq("t1"))
        .withColumn("rk", row_number().over(wNext))
        .where(col("rk") <= 5)
        .select(col("t1"), col("t2"), col("rk").cast("long").as("rk"),
          col("pair_n"), col("first_n"),
          (col("pair_n").cast("double") / col("first_n").cast("double"))
            .as("p"))
    }))

  val oracles: Map[String, String] = Map(
    "e104_mannwhitney" -> {
      s"""WITH ev AS (SELECT event_type, value FROM events),
         cnt AS (
           SELECT value,
             ${evTypes.map(t =>
               s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS c_$t")
               .mkString(", ")}
           FROM ev GROUP BY value),
         cum AS (
           SELECT value,
             ${evTypes.map(t =>
               s"""c_$t, CAST(SUM(c_$t) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_$t""").mkString(", ")}
           FROM cnt),
         tot AS (
           ${evTypes.map(t =>
             s"SELECT '$t' AS t, CAST(SUM(c_$t) AS BIGINT) AS n FROM cnt").mkString(
             "\n           UNION ALL ")}),
         pairs AS (
           ${evPairs.map { case (a, b) =>
             s"""SELECT '$a' AS type_a, '$b' AS type_b,
               (SELECT n FROM tot WHERE t = '$a') AS n_a,
               (SELECT n FROM tot WHERE t = '$b') AS n_b,
               CAST(SUM(c_$a * (2 * ((cum_$a - c_$a) + (cum_$b - c_$b))
                 + (c_$a + c_$b) + 1)) AS BIGINT) AS rs2,
               CAST(SUM((c_$a + c_$b) * (c_$a + c_$b) * (c_$a + c_$b)
                 - (c_$a + c_$b)) AS BIGINT) AS ties
             FROM cum"""
           }.mkString("\n           UNION ALL ")})
         SELECT type_a, type_b, n_a, n_b,
           rs2 - n_a * (n_a + 1) AS u2, ties,
           round(CAST(rs2 - n_a * (n_a + 1) - n_a * n_b AS DOUBLE) /
             (2.0 * sqrt(CAST(n_a * n_b AS DOUBLE) / 12.0 *
               (CAST(n_a + n_b + 1 AS DOUBLE) -
                 CAST(ties AS DOUBLE) /
                 CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE)))), 8)
             AS z
         FROM pairs"""
    },

    "e105_chisq" -> {
      val cells = for (t <- evTypes; j <- 0 until 10) yield (t, j)
      val cellSums = cells.map { case (t, j) =>
        s"""CAST(SUM(CASE WHEN event_type = '$t' AND d = $j
            THEN 1 ELSE 0 END) AS BIGINT) AS o_${t}_$j"""
      }.mkString(",\n             ")
      def row(t: String) = (0 until 10).map(j => s"o_${t}_$j")
        .mkString("(", " + ", ")")
      def colT(j: Int) = evTypes.map(t => s"o_${t}_$j")
        .mkString("(", " + ", ")")
      val n = evTypes.map(row).mkString("(", " + ", ")")
      val chi2 = cells.map { case (t, j) =>
        s"""(CAST(o_${t}_$j * $n - ${row(t)} * ${colT(j)} AS DOUBLE)
            * CAST(o_${t}_$j * $n - ${row(t)} * ${colT(j)} AS DOUBLE)
            / CAST($n * ${row(t)} * ${colT(j)} AS DOUBLE))"""
      }.mkString("\n           + ")
      s"""WITH ev AS (
           SELECT event_type,
             CAST(json_extract(props, '$$.k') AS BIGINT) // 10 AS d
           FROM events),
         one AS (
           SELECT
             $cellSums
           FROM ev)
         SELECT round($chi2, 8) AS chi2,
           CAST(${(evTypes.length - 1) * 9} AS BIGINT) AS dof,
           $n AS n
         FROM one"""
    },

    // exact quantiles via the same smallest-value-at-ceil(p·n) rule;
    // the sketch's ok booleans are TRUE by its rank guarantee
    "q112_approx_quantile_audit" ->
      """WITH cums AS (
           SELECT l_returnflag, l_extendedprice,
             CAST(count(*) AS BIGINT) AS c
           FROM lineitem WHERE l_extendedprice IS NOT NULL
           GROUP BY l_returnflag, l_extendedprice),
         w AS (
           SELECT l_returnflag, l_extendedprice,
             CAST(SUM(c) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(SUM(c) OVER (PARTITION BY l_returnflag) AS BIGINT)
               AS tot
           FROM cums)
         SELECT l_returnflag,
           min(CASE WHEN cum * 4 >= tot THEN l_extendedprice END) AS p25,
           min(CASE WHEN cum * 2 >= tot THEN l_extendedprice END) AS p50,
           min(CASE WHEN cum * 4 >= tot * 3 THEN l_extendedprice END)
             AS p75,
           TRUE AS ok25, TRUE AS ok50, TRUE AS ok75
         FROM w GROUP BY l_returnflag""",

    // rare bigram = corpus count exactly 1 (necessarily this doc);
    // docs with fewer than 2 tokens have no bigrams and no row
    "e108_rare_bigram_rate" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '') AS tk
           FROM documents),
         bg AS (
           SELECT doc_id, tk[g.i] AS t1, tk[g.i + 1] AS t2
           FROM toks, generate_series(1, 127) AS g(i)
           WHERE g.i < len(tk)),
         gc AS (
           SELECT doc_id, count(*) OVER (PARTITION BY t1, t2) AS gc
           FROM bg)
         SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN gc = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rare,
           CAST(SUM(CASE WHEN gc = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
             CAST(count(*) AS DOUBLE) AS rare_rate
         FROM gc GROUP BY doc_id""",

    "e106_spearman" ->
      """WITH li AS (
           SELECT l_returnflag AS g, l_quantity AS x,
             l_extendedprice AS y FROM lineitem),
         ranked AS (
           SELECT g,
             2 * rank() OVER (PARTITION BY g ORDER BY x)
               + count(*) OVER (PARTITION BY g, x) - 1 AS rx,
             2 * rank() OVER (PARTITION BY g ORDER BY y)
               + count(*) OVER (PARTITION BY g, y) - 1 AS ry
           FROM li),
         agg AS (
           SELECT g, count(*) AS n,
             SUM(rx) AS sx, SUM(ry) AS sy,
             SUM(CAST(rx AS HUGEINT) * ry) AS sxy,
             SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
             SUM(CAST(ry AS HUGEINT) * ry) AS syy
           FROM ranked GROUP BY g)
         SELECT g AS l_returnflag, n,
           round(CAST(CAST(n AS HUGEINT) * sxy
               - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
             (sqrt(CAST(CAST(n AS HUGEINT) * sxx
               - CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
              sqrt(CAST(CAST(n AS HUGEINT) * syy
               - CAST(sy AS HUGEINT) * sy AS DOUBLE))), 8) AS rho
         FROM agg""",

    "q114_mode" ->
      """WITH h AS (
           SELECT l_returnflag, l_quantity, count(*) AS c
           FROM lineitem GROUP BY l_returnflag, l_quantity),
         r AS (
           SELECT l_returnflag, l_quantity, c,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY c DESC, l_quantity) AS rn
           FROM h)
         SELECT l_returnflag, l_quantity AS mode_qty,
           CAST(c AS BIGINT) AS mode_n
         FROM r WHERE rn = 1""",

    "e112_distinct_ngrams" ->
      """WITH toks AS (
           SELECT source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '') AS tk
           FROM documents),
         uni AS (
           SELECT source, CAST(count(DISTINCT g1) AS BIGINT) AS d1,
             CAST(count(*) AS BIGINT) AS n1
           FROM (SELECT source, unnest(tk) AS g1 FROM toks)
           GROUP BY source),
         bi AS (
           SELECT source, CAST(count(DISTINCT g2) AS BIGINT) AS d2,
             CAST(count(*) AS BIGINT) AS n2
           FROM (SELECT source, tk[g.i] || ' ' || tk[g.i + 1] AS g2
             FROM toks, generate_series(1, 127) AS g(i)
             WHERE g.i < len(tk))
           GROUP BY source)
         SELECT source, d1, n1,
           CAST(d1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS distinct1,
           d2, n2,
           CAST(d2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS distinct2
         FROM uni JOIN bi USING (source)""",

    // lower-median convention both passes: smallest value whose
    // doubled cumulative count reaches the group total
    "q113_mad" ->
      """WITH hist AS (
           SELECT l_returnflag, l_extendedprice,
             CAST(count(*) AS BIGINT) AS c
           FROM lineitem WHERE l_extendedprice IS NOT NULL
           GROUP BY l_returnflag, l_extendedprice),
         mcum AS (
           SELECT l_returnflag, l_extendedprice,
             SUM(c) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY l_returnflag) AS tot
           FROM hist),
         m AS (SELECT l_returnflag, min(l_extendedprice) AS med
           FROM mcum WHERE cum * 2 >= tot GROUP BY l_returnflag),
         dh AS (
           SELECT l.l_returnflag, m.med,
             abs(l.l_extendedprice - m.med) AS dev,
             CAST(count(*) AS BIGINT) AS c
           FROM lineitem l JOIN m USING (l_returnflag)
           WHERE l.l_extendedprice IS NOT NULL
           GROUP BY l.l_returnflag, m.med, dev),
         dcum AS (
           SELECT l_returnflag, med, dev,
             SUM(c) OVER (PARTITION BY l_returnflag
               ORDER BY dev
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY l_returnflag) AS tot
           FROM dh)
         SELECT l_returnflag, min(med) AS median_price,
           min(dev) AS mad, CAST(max(tot) AS BIGINT) AS n
         FROM dcum WHERE cum * 2 >= tot GROUP BY l_returnflag""",

    "e111_vocab_coverage" ->
      """WITH toks AS (
           SELECT unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS tok
           FROM documents),
         cnts AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           FROM toks GROUP BY tok),
         rk AS (SELECT tok, cnt,
             row_number() OVER (ORDER BY cnt DESC, tok) AS rn
           FROM cnts)
         SELECT CAST(v.k AS BIGINT) AS k,
           CAST(SUM(CASE WHEN rn <= v.k THEN cnt ELSE 0 END) AS BIGINT)
             AS covered,
           (SELECT CAST(SUM(cnt) AS BIGINT) FROM cnts) AS total,
           CAST(SUM(CASE WHEN rn <= v.k THEN cnt ELSE 0 END) AS DOUBLE)
             / CAST((SELECT SUM(cnt) FROM cnts) AS DOUBLE) AS coverage
         FROM rk, (VALUES (100), (1000), (10000)) AS v(k)
         GROUP BY v.k""",

    "e107_bigram_lm" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '') AS tk
           FROM documents),
         bg AS (
           SELECT tk[g.i] AS t1, tk[g.i + 1] AS t2
           FROM toks, generate_series(1, 127) AS g(i)
           WHERE g.i < len(tk)),
         pc AS (SELECT t1, t2, count(*) AS pair_n FROM bg GROUP BY 1, 2),
         fc AS (SELECT t1, CAST(SUM(pair_n) AS BIGINT) AS first_n FROM pc GROUP BY 1),
         topf AS (SELECT t1, first_n FROM fc
           ORDER BY first_n DESC, t1 LIMIT 10),
         ranked AS (
           SELECT pc.t1, pc.t2, pc.pair_n, topf.first_n,
             row_number() OVER (PARTITION BY pc.t1
               ORDER BY pc.pair_n DESC, pc.t2) AS rk
           FROM pc JOIN topf USING (t1))
         SELECT t1, t2, CAST(rk AS BIGINT) AS rk, pair_n, first_n,
           CAST(pair_n AS DOUBLE) / CAST(first_n AS DOUBLE) AS p
         FROM ranked WHERE rk <= 5""")
}

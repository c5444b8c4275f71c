package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.operators.TextAnalysis
import graft.streaming.StatefulOps

/** Round-17 wave — sibling-checked against the 365-query surface:
  *
  *  - `c43_stream_guardrails` — e163's A/B guardrail panel through the
  *    REAL micro-batch engine (the c42 twin discipline, judged on
  *    e163's batch oracle verbatim): per-user purchase counts as
  *    monotone KeySum state on `transformWithState` over a two-chunk
  *    event feed, counter image collapsed by max(total), then the
  *    SAME `Surface26Queries.guardrailPanel` algebra. Users whose
  *    events never include a purchase still reach the state store
  *    (w=0 rows), so the zero-fill census matches the batch leg's
  *    conditional count over ALL observed users.
  *  - `e165_heaps_growth` — vocabulary-growth (Heaps' law) audit over
  *    NESTED deterministic hash samples: the 1-in-4 md5 slice (e164's
  *    sample) ⊂ the 1-in-2 slice ⊂ the full corpus. One tokenize pass
  *    carries both membership flags, so the three (docs, words, vocab)
  *    panels come from ONE token-level hash aggregate + one tiny
  *    rollup — the sample-sizing table a tokenizer/dedup run reads to
  *    decide how big a slice is representative. No logs on any data
  *    path (the Heaps exponent is the reader's division); exact
  *    integers only.
  *  - `e166_quantile_audit` — the approx-vs-exact QUANTILE audit (the
  *    e99 HLL-vs-exact discipline applied to order statistics):
  *    `approx_percentile` (p50/p90, accuracy 1000) per return flag,
  *    graded against the staged exact rank spans. The judged columns
  *    are the exact statistics and the GUARANTEE booleans (the
  *    returned value's rank span lies within ε·n of the target rank) —
  *    the sketch's promise, which must hold at ANY partitioning; the
  *    sketch value itself is partition-dependent and stays out of the
  *    hash. The oracle recomputes the exact side and pins the
  *    guarantee TRUE, so a sketch regression fails the tri-gate.
  *  - `e168_countmin` — Count–Min sketch (Cormode & Muthukrishnan)
  *    with the top-20 heavy hitters graded against their true counts:
  *    d=4 md5-derived hash rows × w=64 buckets, cell sums built from
  *    the word-TYPE frame (one tokenize pass; everything after is
  *    vocabulary-bounded), estimate = min over rows. Unlike HLL/GK
  *    (e3/e99/e166, engine-specific internals), Count–Min is exactly
  *    reproducible cross-engine — md5 buckets + integer sums — so the
  *    sketch VALUES are fully hash-judged, and est ≥ true (the
  *    one-sided guarantee) is visible in the judged overcount column.
  *    Complements e98's Misra–Gries (deterministic heavy-hitter LIST)
  *    with the point-query sketch a shard-merge pipeline ships.
  *  - `e169_skyline` — 2-D Pareto frontier (skyline operator;
  *    Börzsönyi et al. 2001) of the corpus VALUE set under
  *    (minimize n_chars, maximize distinct-token count) — the
  *    multi-criteria curation question ("shortest doc at each
  *    richness level") no single ORDER BY answers. One tokenize pass
  *    → an n_chars-histogram of best-richness points (domain-bounded,
  *    never corpus-bounded) → strict-dominance test via the
  *    established histogram triangle (the q123/q126 shape). Judged
  *    with point multiplicities; the oracle uses a window cummax over
  *    the same histogram.
  *  - `e170_cuped` — CUPED variance reduction (Deng et al. 2013, the
  *    standard pre-period covariate adjustment every experimentation
  *    platform runs before the t-test): covariate = pre-midpoint view
  *    count, metric = post-midpoint purchase count per user (e162's
  *    integer midpoint split), θ = pooled cov/var. EVERYTHING —
  *    θ, adjusted means, adjusted variances var(x−θc) = var_x −
  *    2θcov + θ²var_c, the adjusted Welch z, and the variance-
  *    reduction ratio — is closed-form algebra over per-group exact
  *    integer moments (n, Σx, Σc, Σx², Σc², Σxc), so no per-user
  *    double ever crosses a partition: order-independent at any
  *    parallelism, one events pass + a broadcast (lo, hi) scalar.
  *  - `c44_stream_countmin` — Count–Min's HEADLINE property
  *    (mergeability: cell-wise sums across shards) through the real
  *    micro-batch engine: each chunk ships its own 256-cell sketch
  *    (built from the chunk's tokens), KeySum state merges them, and
  *    the merged cells answer the SAME top-20 point queries — judged
  *    on e168's oracle verbatim. The feed is sketch-sized (2×256
  *    rows), not corpus-sized: exactly how a sharded pipeline ships
  *    sketches to a coordinator.
  *  - `e171_mase` — seasonal-naive forecast skill (the MASE ratio of
  *    Hyndman & Koehler 2006) on the daily view-count series: one-step
  *    |y_t − y_{t−1}| vs weekly-seasonal |y_t − y_{t−7}| absolute
  *    errors, both summed as EXACT integers over the days where both
  *    references exist (gap days drop the term on both plans — joins
  *    on the existing day spine, never an index lag). The forecasting
  *    baseline audit an ingest-monitoring stack publishes; one events
  *    pass, calendar-bounded joins, one final double ratio.
  *  - `e172_changepoint` — binary-segmentation changepoint
  *    LOCALIZATION on the daily series (the drift-position complement
  *    of q121's CUSUM detection): for every candidate split the
  *    between-segment SSE reduction gain = S₁²/n₁ + S₂²/n₂ − S²/n is
  *    evaluated from exact integer prefix sums (the q123 day-spine
  *    triangle); the argmax is a deterministic struct-max with the
  *    day as tie-break. Both engines divide identical exact integers,
  *    so the doubles agree bit-for-bit.
  *  - `e173_cm_delta` — heavy-CHANGE detection between two corpus
  *    snapshots via Count–Min sketch DIFFERENCE (the deltoids idea of
  *    Cormode & Muthukrishnan: linear sketches subtract, so drift
  *    between snapshots is answered from per-snapshot sketches alone,
  *    never a re-scan): per-shard sketches and per-shard truths all
  *    derive from ONE tokenize pass (a (par, tok, cnt) frame — at
  *    100 TB each snapshot ships its 256-cell sketch and the delta is
  *    coordinator-side algebra). Probe tokens absent from one shard
  *    exercise the zero-fill lookup contract on both plans.
  *  - `e167_int8_quant` — symmetric per-vector int8 quantization audit
  *    over the embedding corpus (the storage/ANN-memory decision: 4×
  *    smaller vectors vs reconstruction error): scale = max|x|/127,
  *    q = clamp(round(x/s)), error moments from fixed-point longs
  *    (floor(err²·1e14)) summed exactly — partition-invariant, fully
  *    oracle-expressible with the same double arithmetic. ONE narrow
  *    corpus pass; reports element/saturation census and MSE.
  */
object Surface27Queries extends QuerySet {
  import Tables._

  private def d(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("double")

  /** The md5-prefix doc hash (the e35/e164 idiom): exact integer from
    * the first 6 hex digits, reproducible on any partitioning and in
    * the oracle.
    */
  private def docHash = conv(substring(
    md5(col("doc_id").cast("string")), 1, 6), 16, 10).cast("long")

  /** e166: sketch accuracy knob and its rank-error guarantee ε·n. */
  private val pctAccuracy = 1000

  /** e167: fixed-point scale for squared-error summation. err ≤ s/2 =
    * max|x|/254, so err²·1e14 stays well under 2^63 across the corpus
    * at unit-norm-ish embeddings.
    */
  private val sseScale = 1e14

  /** The word-TYPE truth frame both Count–Min queries probe against
    * (sketch geometry: the [[graft.operators.Sketches]] defaults,
    * d=4 × w=64 — reproducible in the oracle as
    * '0x'||substr(md5(...),1,8) % 64).
    */
  private def cmTruth(s: SparkSession, dir: String): DataFrame =
    tBalanced(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("true_cnt"))
      .localCheckpoint(true) // vocab-sized; read by cells + probes

  /** Top-20 point-query report off a (j, b, cell) sketch frame. */
  private def cmProbeReport(truth: DataFrame, cells: DataFrame)
      : DataFrame =
    graft.operators.Sketches.countMinLookup(cells,
        truth.orderBy(col("true_cnt").desc, col("tok")).limit(20),
        col("tok"))
      .select(col("tok"), col("true_cnt"), col("est_cnt"),
        (col("est_cnt") - col("true_cnt")).as("overcount"))

  /** e170's CUPED panel from a per-user `(grp, x, c)` frame — extracted
    * so the streaming twin (`c45_stream_cuped`) reuses the identical
    * closed-form moment algebra: θ, adjusted means/variances, the
    * adjusted Welch z, and the variance-reduction ratio, all from
    * per-group exact integer moments (no per-user double ever crosses
    * a partition).
    */
  private[queries] def cupedPanel(perUser: DataFrame): DataFrame = {
    val g = perUser.groupBy("grp").agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("c")).as("sc"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("c") * col("c")).as("scc"),
      sum(col("x") * col("c")).as("sxc"))
    def side(p: String, grp: Int) = Seq("n", "sx", "sc", "sxx",
      "scc", "sxc").map(m =>
      max(when(col("grp") === grp, col(m))).as(s"$m$p"))
    val piv = g.agg((side("_c", 0) ++ side("_t", 1)).head,
      (side("_c", 0) ++ side("_t", 1)).tail: _*)
    // pooled moments: integer sums of the two sides
    def pool(m: String) = col(s"${m}_c") + col(s"${m}_t")
    val nP = d(pool("n"))
    val covP = (d(pool("sxc")) - d(pool("sx")) * pool("sc") / nP) / nP
    val varcP = (d(pool("scc")) - d(pool("sc")) * pool("sc") / nP) / nP
    val theta = covP / varcP
    val mcP = d(pool("sc")) / nP
    // per-side adjusted mean and variance in CLOSED FORM from the
    // same integer moments (no per-user double ever aggregated):
    // mean_y = mean_x - θ(mean_c - mc_pooled);
    // var_y = var_x - 2θcov + θ²var_c (sample, n-1)
    def meanY(p: String) = d(col(s"sx$p")) / col(s"n$p") -
      theta * (d(col(s"sc$p")) / col(s"n$p") - mcP)
    def varS(p: String, a: String, b: String) =
      (d(col(s"n$p")) * col(s"s$a$b$p") -
        d(col(s"s$a$p")) * col(s"s$b$p")) /
        (d(col(s"n$p")) * (d(col(s"n$p")) - lit(1.0)))
    def varS2(p: String) =
      (d(col(s"n$p")) * col(s"sxc$p") -
        d(col(s"sx$p")) * col(s"sc$p")) /
        (d(col(s"n$p")) * (d(col(s"n$p")) - lit(1.0)))
    def varY(p: String) = varS(p, "x", "x") -
      lit(2.0) * theta * varS2(p) + theta * theta * varS(p, "c", "c")
    val seAdj = sqrt(varY("_c") / col("n_c") + varY("_t") / col("n_t"))
    val diffAdj = meanY("_t") - meanY("_c")
    piv.select(col("n_c"), col("n_t"),
      round(theta, 8).as("theta"),
      round(meanY("_c"), 8).as("mean_adj_c"),
      round(meanY("_t"), 8).as("mean_adj_t"),
      round(diffAdj, 8).as("diff_adj"),
      round(seAdj, 8).as("se_adj"),
      round(diffAdj / seAdj, 8).as("z_adj"),
      round((varY("_c") * (d(col("n_c")) - 1) +
        varY("_t") * (d(col("n_t")) - 1)) /
        ((varS("_c", "x", "x") * (d(col("n_c")) - 1) +
          varS("_t", "x", "x") * (d(col("n_t")) - 1))), 8)
        .as("var_ratio"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c43_stream_guardrails" -> ((s, dir) => {
      import s.implicits._
      val ev = events(s, dir).select(
        col("user_id").cast("string").as("key"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("w"),
        col("event_id"))
      val feed = Stage.durableChunkFeed("feed-c43", dir)(Seq(
        ev.where(col("event_id") % 2 === 0).select("key", "w"),
        ev.where(col("event_id") % 2 =!= 0).select("key", "w")))
      val tmp = Stage.tempDir("graft-c43-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val schema = StructType(Seq(StructField("key", StringType),
        StructField("w", LongType)))
      Stage.drain(StatefulOps.keySumStream(
          s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(feed).as[StatefulOps.KeyWeight]), ckpt, "update")(
        Stage.appendTo(out))
      Surface26Queries.guardrailPanel(s.read.parquet(out)
        .groupBy("key").agg(max(col("total")).as("x"))
        .select((col("key").cast("long") % 2).as("grp"), col("x")))
    }),

    "e165_heaps_growth" -> ((s, dir) => {
      val docs = tBalanced(s, dir, "documents")
        .select(col("text"), (docHash % 2 === 0).as("m2"),
          (docHash % 4 === 0).as("m4"))
      val dCounts = broadcast(docs.agg(
        count(lit(1)).as("docs_100"),
        sum(when(col("m2"), 1L).otherwise(0L)).as("docs_50"),
        sum(when(col("m4"), 1L).otherwise(0L)).as("docs_25")))
      docs
        .select(col("m2"), col("m4"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("m2"), 1L).otherwise(0L)).as("c2"),
          sum(when(col("m4"), 1L).otherwise(0L)).as("c4"))
        .agg(count(lit(1)).as("vocab_100"),
          count(when(col("c2") > 0, lit(1))).as("vocab_50"),
          count(when(col("c4") > 0, lit(1))).as("vocab_25"),
          sum(col("cnt")).as("words_100"),
          sum(col("c2")).as("words_50"),
          sum(col("c4")).as("words_25"))
        .crossJoin(dCounts)
        .select(col("docs_25"), col("words_25"), col("vocab_25"),
          col("docs_50"), col("words_50"), col("vocab_50"),
          col("docs_100"), col("words_100"), col("vocab_100"))
    }),

    "e166_quantile_audit" -> ((s, dir) => {
      import graft.operators.Quantiles.{ldiv, medianRank, selectRanks}
      val spans = StatsQueries.priceSpans(s, dir)
      val k90: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        cnt => lit(1L) + ldiv((cnt - lit(1L)) * lit(9L), 10L)
      val exact = selectRanks(spans, Seq("l_returnflag"),
        "l_extendedprice",
        Seq("exact_p50" -> (medianRank _), "exact_p90" -> k90))
      val ap = t(s, dir, "lineitem")
        .where(col("l_extendedprice").isNotNull)
        .groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5),
            lit(pctAccuracy)).as("a50"),
          percentile_approx(col("l_extendedprice"), lit(0.9),
            lit(pctAccuracy)).as("a90"))
      // ε·n slack: the sketch promises a value whose rank is within
      // eps·n of the target; +1 absorbs the integer-division floor
      def inBound(k: org.apache.spark.sql.Column, lo: String, hi: String,
          n: org.apache.spark.sql.Column) =
        (col(lo) <= k + ldiv(n, pctAccuracy.toLong) + lit(1L)) &&
          (col(hi) >= k - ldiv(n, pctAccuracy.toLong) - lit(1L))
      val s50 = spans.select(col("l_returnflag").as("rf5"),
        col("l_extendedprice").as("v5"), col("__lo").as("lo5"),
        col("__hi").as("hi5"))
      val s90 = spans.select(col("l_returnflag").as("rf9"),
        col("l_extendedprice").as("v9"), col("__lo").as("lo9"),
        col("__hi").as("hi9"))
      exact.join(broadcast(ap), "l_returnflag")
        .join(s50, col("l_returnflag") === col("rf5") &&
          col("a50") === col("v5"))
        .join(s90, col("l_returnflag") === col("rf9") &&
          col("a90") === col("v9"))
        .select(col("l_returnflag"), col("n_total").as("n"),
          col("exact_p50"), col("exact_p90"),
          inBound(medianRank(col("n_total")), "lo5", "hi5",
            col("n_total")).as("p50_in_bound"),
          inBound(k90(col("n_total")), "lo9", "hi9",
            col("n_total")).as("p90_in_bound"))
    }),

    "e168_countmin" -> ((s, dir) => {
      val truth = cmTruth(s, dir)
      val cells = graft.operators.Sketches.countMinCells(
        truth, col("tok"), col("true_cnt"))
      cmProbeReport(truth, cells)
    }),

    "c44_stream_countmin" -> ((s, dir) => {
      import s.implicits._
      def shardCells(parity: Int) =
        graft.operators.Sketches.countMinCells(
            tBalanced(s, dir, "documents")
              .where(col("doc_id") % 2 === parity)
              .select(explode(TextAnalysis.tokens(col("text")))
                .as("tok")),
            col("tok"), lit(1L))
          .select(concat(col("j").cast("string"), lit("|"),
            col("b").cast("string")).as("key"), col("cell").as("w"))
      val feed = Stage.durableChunkFeed("feed-c44", dir)(Seq(
        shardCells(0), shardCells(1)))
      val tmp = Stage.tempDir("graft-c44-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val schema = StructType(Seq(StructField("key", StringType),
        StructField("w", LongType)))
      Stage.drain(StatefulOps.keySumStream(
          s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(feed).as[StatefulOps.KeyWeight]), ckpt, "update")(
        Stage.appendTo(out))
      val merged = s.read.parquet(out)
        .groupBy("key").agg(max(col("total")).as("cell"))
        .select(split(col("key"), "\\|").getItem(0).cast("int").as("j"),
          split(col("key"), "\\|").getItem(1).cast("long").as("b"),
          col("cell"))
      cmProbeReport(cmTruth(s, dir), merged)
    }),

    "e173_cm_delta" -> ((s, dir) => {
      import graft.operators.Sketches
      val base = tBalanced(s, dir, "documents")
        .select((col("doc_id") % 2).as("par"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("par", "tok").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true) // 2×vocab rows; read by 6 consumers
      val truth = base.groupBy("tok").agg(sum(col("cnt")).as("true_cnt"))
      val probes = truth.orderBy(col("true_cnt").desc, col("tok"))
        .limit(20)
      def estOf(p: Int, name: String) =
        Sketches.countMinLookup(
            Sketches.countMinCells(base.where(col("par") === p),
              col("tok"), col("cnt")),
            probes, col("tok"))
          .select(col("tok"), col("est_cnt").as(name))
      def truthOf(p: Int, name: String) =
        base.where(col("par") === p)
          .select(col("tok"), col("cnt").as(name))
      probes
        .join(truthOf(0, "ta"), Seq("tok"), "left")
        .join(truthOf(1, "tb"), Seq("tok"), "left")
        .join(estOf(0, "est_a"), Seq("tok"))
        .join(estOf(1, "est_b"), Seq("tok"))
        .select(col("tok"), col("true_cnt"),
          coalesce(col("ta"), lit(0L)).as("true_a"),
          coalesce(col("tb"), lit(0L)).as("true_b"),
          (coalesce(col("ta"), lit(0L)) - coalesce(col("tb"), lit(0L)))
            .as("true_delta"),
          col("est_a"), col("est_b"),
          (col("est_a") - col("est_b")).as("est_delta"))
    }),

    "e171_mase" -> ((s, dir) => {
      val daily = events(s, dir).where(col("event_type") === "view")
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("y"))
        .localCheckpoint(true) // day-spine sized; read three times
      val t1 = daily.select(date_add(col("d"), 1).as("d"),
        col("y").as("y1"))
      val t7 = daily.select(date_add(col("d"), 7).as("d"),
        col("y").as("y7"))
      val n = broadcast(daily.agg(count(lit(1)).as("n_days")))
      daily.join(t1, "d").join(t7, "d")
        .select(abs(col("y") - col("y1")).as("e1"),
          abs(col("y") - col("y7")).as("e7"))
        .agg(count(lit(1)).as("n_terms"),
          sum(col("e1")).as("sae_naive"),
          sum(col("e7")).as("sae_seasonal"))
        .crossJoin(n)
        // degenerate-fixture guards: a feed with no (t-1, t-7)-covered
        // day must emit ZERO rows (the oracle's GROUP BY does), and a
        // flat series (sae_naive = 0) must NULL the ratio rather than
        // leave 0/0 engine-dependent — the e158_mix 0/0 discipline
        .where(col("n_terms") > 0)
        .select(col("n_days"), col("n_terms"), col("sae_naive"),
          col("sae_seasonal"),
          when(col("sae_naive") > 0,
            round(d(col("sae_seasonal")) / col("sae_naive"), 8))
            .as("mase"))
    }),

    "e172_changepoint" -> ((s, dir) => {
      val daily = events(s, dir).where(col("event_type") === "view")
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("y"))
        .localCheckpoint(true) // day-spine sized; read by the triangle
      val tot = broadcast(daily.agg(count(lit(1)).as("n"),
        sum(col("y")).as("s")))
      // prefix sums at every candidate split via the day-spine
      // triangle (the q123 shape: pairs of DAY rows, never events)
      val pre = daily.as("a")
        .join(daily.as("b"), col("b.d") <= col("a.d"))
        .groupBy(col("a.d").as("d"))
        .agg(count(lit(1)).as("n1"), sum(col("b.y")).as("s1"))
      val gains = pre.crossJoin(tot)
        .where(col("n1") < col("n")) // a split needs a non-empty tail
        .select(col("d"), col("n1"), (col("n") - col("n1")).as("n2"),
          col("s1"), (col("s") - col("s1")).as("s2"),
          col("n"), col("s"))
        .select(col("d"), col("n1"), col("n2"), col("s1"), col("s2"),
          // gain = S1²/n1 + S2²/n2 − S²/n, each term a division of
          // exact integers — identical doubles in both engines
          (d(col("s1") * col("s1")) / col("n1") +
            d(col("s2") * col("s2")) / col("n2") -
            d(col("s") * col("s")) / col("n")).as("gain"))
      gains
        .agg(max(struct(col("gain"), col("d").cast("string").as("ds"),
          col("n1"), col("n2"), col("s1"), col("s2"))).as("m"))
        .select(col("m.ds").as("split_day"),
          col("m.n1").as("n_pre"), col("m.n2").as("n_post"),
          round(d(col("m.s1")) / col("m.n1"), 8).as("mean_pre"),
          round(d(col("m.s2")) / col("m.n2"), 8).as("mean_post"),
          round(col("m.gain"), 8).as("gain"))
    }),

    "e169_skyline" -> ((s, dir) =>
      graft.operators.Skyline.skyline2d(
          tBalanced(s, dir, "documents")
            .select(col("n_chars"),
              size(array_distinct(TextAnalysis.tokens(col("text"))))
                .cast("long").as("dt")),
          "n_chars", "dt")
        .withColumnRenamed("best_y", "best_dt")),

    "e170_cuped" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tm"))
      val mm = broadcast(ev.agg(min(col("tm")).as("lo"),
        max(col("tm")).as("hi")))
      val perUser = ev.crossJoin(mm)
        .select(col("user_id"),
          when(col("event_type") === "purchase" &&
            lit(2L) * col("tm") >= col("lo") + col("hi"), 1L)
            .otherwise(0L).as("x"),
          when(col("event_type") === "view" &&
            lit(2L) * col("tm") < col("lo") + col("hi"), 1L)
            .otherwise(0L).as("c"))
        .groupBy("user_id")
        .agg(sum(col("x")).as("x"), sum(col("c")).as("c"))
        .select((col("user_id") % 2).as("grp"), col("x"), col("c"))
      cupedPanel(perUser)
    }),

    "e167_int8_quant" -> ((s, dir) => {
      val e = col("embedding")
      val mx = aggregate(e, lit(0.0d),
        (acc, x) => greatest(acc, abs(x.cast(DoubleType))))
      val sc = col("mx") / lit(127.0d)
      val q = (x: org.apache.spark.sql.Column) => greatest(lit(-127.0d),
        least(lit(127.0d), floor(x.cast(DoubleType) / sc + lit(0.5d))))
      def err(x: org.apache.spark.sql.Column) = x.cast(DoubleType) - q(x) * sc
      val perVec = t(s, dir, "embeddings")
        .select(col("vec_id"), e, mx.as("mx"))
        .select(col("vec_id"), size(e).cast("long").as("dims"),
          when(col("mx") > 0,
            aggregate(e, lit(0L), (acc, x) => acc +
              floor(err(x) * err(x) * lit(sseScale)).cast(LongType)))
            .otherwise(lit(0L)).as("sse_fp"),
          when(col("mx") > 0,
            aggregate(e, lit(0L), (acc, x) => acc +
              when(abs(q(x)) === 127.0d, 1L).otherwise(0L)))
            .otherwise(lit(0L)).as("n_sat"))
      perVec.agg(count(lit(1)).as("n_vecs"),
          sum(col("dims")).as("n_elems"),
          sum(col("sse_fp")).as("sse_fp"),
          sum(col("n_sat")).as("n_saturated"))
        .select(col("n_vecs"), col("n_elems"), col("sse_fp"),
          col("n_saturated"),
          round(d(col("sse_fp")) / lit(sseScale) / col("n_elems"), 12)
            .as("mse"))
    }))

  // ---- oracles ----

  private val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  private val mdHashSql =
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)"

  /** e170's oracle: the same closed-form moment algebra, mirrored
    * TEXTUALLY so both engines evaluate identical IEEE operation
    * trees (round(_, 8) absorbs fma contraction, the q19 discipline).
    */
  private[queries] def cupedOracle: String = {
    def pool(m: String) = s"(${m}_c + ${m}_t)"
    val np = s"CAST(${pool("n")} AS DOUBLE)"
    val covP = s"((CAST(${pool("sxc")} AS DOUBLE) - " +
      s"CAST(${pool("sx")} AS DOUBLE) * ${pool("sc")} / $np) / $np)"
    val varcP = s"((CAST(${pool("scc")} AS DOUBLE) - " +
      s"CAST(${pool("sc")} AS DOUBLE) * ${pool("sc")} / $np) / $np)"
    val theta = s"($covP / $varcP)"
    val mcP = s"(CAST(${pool("sc")} AS DOUBLE) / $np)"
    def meanY(p: String) =
      s"(CAST(sx_$p AS DOUBLE) / n_$p - $theta * " +
        s"(CAST(sc_$p AS DOUBLE) / n_$p - $mcP))"
    def varS(p: String, a: String, b: String) =
      s"((CAST(n_$p AS DOUBLE) * s$a$b" + s"_$p - " +
        s"CAST(s${a}_$p AS DOUBLE) * s${b}_$p) / " +
        s"(CAST(n_$p AS DOUBLE) * (CAST(n_$p AS DOUBLE) - 1.0)))"
    def varY(p: String) =
      s"(${varS(p, "x", "x")} - 2.0 * $theta * ${varS(p, "x", "c")} + " +
        s"$theta * $theta * ${varS(p, "c", "c")})"
    val se = s"sqrt(${varY("c")} / n_c + ${varY("t")} / n_t)"
    val diff = s"(${meanY("t")} - ${meanY("c")})"
    def mcell(m: String, g: Int, p: String) =
      s"CAST(max(CASE WHEN grp = $g THEN $m END) AS BIGINT) AS ${m}_$p"
    val cells = Seq("n", "sx", "sc", "sxx", "scc", "sxc").flatMap(m =>
      Seq(mcell(m, 0, "c"), mcell(m, 1, "t"))).mkString(",\n             ")
    s"""WITH e AS (SELECT user_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS tm FROM events),
         mm AS (SELECT min(tm) AS lo, max(tm) AS hi FROM e),
         pu AS (SELECT user_id % 2 AS grp,
             CAST(SUM(CASE WHEN event_type = 'purchase'
               AND 2 * tm >= lo + hi THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'view'
               AND 2 * tm < lo + hi THEN 1 ELSE 0 END) AS BIGINT) AS c
           FROM e, mm GROUP BY user_id),
         g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(c) AS BIGINT) AS sc,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(c * c) AS BIGINT) AS scc,
             CAST(SUM(x * c) AS BIGINT) AS sxc
           FROM pu GROUP BY 1),
         p AS (SELECT
             $cells
           FROM g)
         SELECT n_c, n_t,
           round($theta, 8) AS theta,
           round(${meanY("c")}, 8) AS mean_adj_c,
           round(${meanY("t")}, 8) AS mean_adj_t,
           round($diff, 8) AS diff_adj,
           round($se, 8) AS se_adj,
           round(($diff) / ($se), 8) AS z_adj,
           round((${varY("c")} * (CAST(n_c AS DOUBLE) - 1) +
             ${varY("t")} * (CAST(n_t AS DOUBLE) - 1)) /
             ((${varS("c", "x", "x")} * (CAST(n_c AS DOUBLE) - 1) +
               ${varS("t", "x", "x")} * (CAST(n_t AS DOUBLE) - 1))), 8)
             AS var_ratio
         FROM p"""
  }

  /** e168's full value oracle — the sketch is md5 + integer sums, so
    * the oracle rebuilds it exactly; c44 (the shard-merge twin) is
    * judged on the same text because cell-wise merge of per-shard
    * occurrence counts IS the full-corpus sketch.
    */
  private val cmOracle: String =
    s"""WITH toks AS (SELECT unnest($tokensSql) AS tok FROM documents),
       truth AS (SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt
         FROM toks GROUP BY tok),
       js AS (SELECT unnest(range(0, 4)) AS j),
       cells AS (
         SELECT js.j,
           CAST('0x' || substr(md5('cm' || CAST(js.j AS VARCHAR) ||
             '|' || t.tok), 1, 8) AS BIGINT) % 64 AS b,
           SUM(t.true_cnt) AS cell
         FROM truth t, js GROUP BY 1, 2),
       probes AS (SELECT tok, true_cnt FROM truth
         ORDER BY true_cnt DESC, tok LIMIT 20),
       pj AS (
         SELECT p.tok, p.true_cnt, js.j,
           CAST('0x' || substr(md5('cm' || CAST(js.j AS VARCHAR) ||
             '|' || p.tok), 1, 8) AS BIGINT) % 64 AS b
         FROM probes p, js)
       SELECT pj.tok, pj.true_cnt,
         CAST(min(c.cell) AS BIGINT) AS est_cnt,
         CAST(min(c.cell) - pj.true_cnt AS BIGINT) AS overcount
       FROM pj JOIN cells c ON pj.j = c.j AND pj.b = c.b
       GROUP BY pj.tok, pj.true_cnt"""

  val oracles: Map[String, String] = Map(
    // judged on e163's oracle verbatim — identical semantics, the
    // streaming leg only changes HOW the per-user counts are computed
    "c43_stream_guardrails" -> Surface26Queries.guardrailsSql,
    "c44_stream_countmin" -> cmOracle,

    "e169_skyline" ->
      s"""WITH pd AS (SELECT n_chars,
           CAST(len(list_distinct($tokensSql)) AS BIGINT) AS dt
           FROM documents),
         h AS (SELECT n_chars, max(dt) AS best_dt
           FROM pd GROUP BY n_chars),
         hm AS (SELECT h.n_chars, h.best_dt,
             CAST(count(*) AS BIGINT) AS n_docs
           FROM h JOIN pd ON pd.n_chars = h.n_chars
             AND pd.dt = h.best_dt
           GROUP BY 1, 2),
         sk AS (SELECT n_chars, best_dt, n_docs,
             max(best_dt) OVER (ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prefix_best
           FROM hm)
         SELECT n_chars, best_dt, n_docs FROM sk
         WHERE prefix_best IS NULL OR best_dt > prefix_best""",

    "e170_cuped" -> cupedOracle,

    "e171_mase" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
           CAST(count(*) AS BIGINT) AS y
           FROM events WHERE event_type = 'view' GROUP BY 1),
         t1 AS (SELECT d + 1 AS d, y AS y1 FROM daily),
         t7 AS (SELECT d + 7 AS d, y AS y7 FROM daily),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
         terms AS (SELECT abs(daily.y - t1.y1) AS e1,
             abs(daily.y - t7.y7) AS e7
           FROM daily JOIN t1 USING (d) JOIN t7 USING (d))
         SELECT n_days, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(SUM(e1) AS BIGINT) AS sae_naive,
           CAST(SUM(e7) AS BIGINT) AS sae_seasonal,
           CASE WHEN SUM(e1) > 0
             THEN round(CAST(SUM(e7) AS DOUBLE) / SUM(e1), 8)
           END AS mase
         FROM terms, n GROUP BY n_days""",

    "e172_changepoint" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
           CAST(count(*) AS BIGINT) AS y
           FROM events WHERE event_type = 'view' GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS s FROM daily),
         pre AS (SELECT a.d, CAST(count(*) AS BIGINT) AS n1,
             CAST(SUM(b.y) AS BIGINT) AS s1
           FROM daily a JOIN daily b ON b.d <= a.d GROUP BY a.d),
         g AS (SELECT d, n1, n - n1 AS n2, s1, s - s1 AS s2,
             CAST(s1 * s1 AS DOUBLE) / n1 +
               CAST((s - s1) * (s - s1) AS DOUBLE) / (n - n1) -
               CAST(s * s AS DOUBLE) / n AS gain
           FROM pre, tot WHERE n1 < n)
         SELECT CAST(d AS VARCHAR) AS split_day, n1 AS n_pre,
           n2 AS n_post,
           round(CAST(s1 AS DOUBLE) / n1, 8) AS mean_pre,
           round(CAST(s2 AS DOUBLE) / n2, 8) AS mean_post,
           round(gain, 8) AS gain
         FROM g ORDER BY gain DESC, CAST(d AS VARCHAR) DESC LIMIT 1""",

    "e165_heaps_growth" ->
      s"""WITH dd AS (
           SELECT text, $mdHashSql % 2 = 0 AS m2, $mdHashSql % 4 = 0 AS m4
           FROM documents),
         dc AS (SELECT CAST(count(*) AS BIGINT) AS docs_100,
             CAST(SUM(CASE WHEN m2 THEN 1 ELSE 0 END) AS BIGINT) AS docs_50,
             CAST(SUM(CASE WHEN m4 THEN 1 ELSE 0 END) AS BIGINT) AS docs_25
           FROM dd),
         tk AS (SELECT m2, m4, unnest($tokensSql) AS tok FROM dd),
         tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt,
             CAST(SUM(CASE WHEN m2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
             CAST(SUM(CASE WHEN m4 THEN 1 ELSE 0 END) AS BIGINT) AS c4
           FROM tk GROUP BY tok),
         v AS (SELECT CAST(count(*) AS BIGINT) AS vocab_100,
             CAST(count(CASE WHEN c2 > 0 THEN 1 END) AS BIGINT) AS vocab_50,
             CAST(count(CASE WHEN c4 > 0 THEN 1 END) AS BIGINT) AS vocab_25,
             CAST(SUM(cnt) AS BIGINT) AS words_100,
             CAST(SUM(c2) AS BIGINT) AS words_50,
             CAST(SUM(c4) AS BIGINT) AS words_25
           FROM tc)
         SELECT docs_25, words_25, vocab_25, docs_50, words_50, vocab_50,
           docs_100, words_100, vocab_100
         FROM v, dc""",

    // exact side recomputed; the guarantee booleans are PINNED true —
    // the sketch's contract, judged as such (the sketch VALUE is
    // partition-dependent and deliberately outside the hash)
    "e166_quantile_audit" ->
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
         p50 AS (SELECT l_returnflag, min(l_extendedprice) AS exact_p50
           FROM mcum WHERE cum >= (tot + 1) // 2 GROUP BY l_returnflag),
         p90 AS (SELECT l_returnflag, min(l_extendedprice) AS exact_p90
           FROM mcum WHERE cum >= 1 + ((tot - 1) * 9) // 10
           GROUP BY l_returnflag),
         n AS (SELECT l_returnflag, CAST(max(tot) AS BIGINT) AS n
           FROM mcum GROUP BY l_returnflag)
         SELECT n.l_returnflag, n.n, p50.exact_p50, p90.exact_p90,
           TRUE AS p50_in_bound, TRUE AS p90_in_bound
         FROM n JOIN p50 USING (l_returnflag)
           JOIN p90 USING (l_returnflag)""",

    "e168_countmin" -> cmOracle,

    "e173_cm_delta" -> {
      def bkt(tok: String) =
        s"CAST('0x' || substr(md5('cm' || CAST(js.j AS VARCHAR) || " +
          s"'|' || $tok), 1, 8) AS BIGINT) % 64"
      def cellsCte(p: Int) =
        s"""cells$p AS (
             SELECT js.j, ${bkt("b.tok")} AS bkt, SUM(b.cnt) AS cell
             FROM base b, js WHERE b.par = $p GROUP BY 1, 2)"""
      def estCte(p: Int, name: String) =
        s"""e$p AS (
             SELECT pj.tok,
               CAST(min(COALESCE(c.cell, 0)) AS BIGINT) AS $name
             FROM pj LEFT JOIN cells$p c
               ON pj.j = c.j AND pj.bkt = c.bkt
             GROUP BY 1)"""
      s"""WITH base AS (SELECT doc_id % 2 AS par, tok,
           CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT doc_id, unnest($tokensSql) AS tok
                 FROM documents)
           GROUP BY 1, 2),
         truth AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS true_cnt
           FROM base GROUP BY tok),
         probes AS (SELECT tok, true_cnt FROM truth
           ORDER BY true_cnt DESC, tok LIMIT 20),
         js AS (SELECT unnest(range(0, 4)) AS j),
         ${cellsCte(0)},
         ${cellsCte(1)},
         pj AS (SELECT p.tok, p.true_cnt, js.j, ${bkt("p.tok")} AS bkt
           FROM probes p, js),
         ${estCte(0, "est_a")},
         ${estCte(1, "est_b")},
         t0 AS (SELECT tok, cnt AS true_a FROM base WHERE par = 0),
         t1 AS (SELECT tok, cnt AS true_b FROM base WHERE par = 1)
         SELECT p.tok, p.true_cnt,
           CAST(COALESCE(t0.true_a, 0) AS BIGINT) AS true_a,
           CAST(COALESCE(t1.true_b, 0) AS BIGINT) AS true_b,
           CAST(COALESCE(t0.true_a, 0) - COALESCE(t1.true_b, 0)
             AS BIGINT) AS true_delta,
           e0.est_a, e1.est_b,
           CAST(e0.est_a - e1.est_b AS BIGINT) AS est_delta
         FROM probes p
           LEFT JOIN t0 USING (tok) LEFT JOIN t1 USING (tok)
           JOIN e0 USING (tok) JOIN e1 USING (tok)"""
    },

    "e167_int8_quant" ->
      """WITH pv AS (
           SELECT vec_id, len(embedding) AS dims,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) AS mx,
             embedding
           FROM embeddings),
         el AS (SELECT vec_id, mx, unnest(embedding) AS xf FROM pv),
         qe AS (SELECT vec_id, mx / 127.0 AS s, CAST(xf AS DOUBLE) AS x,
             greatest(-127.0, least(127.0,
               floor(CAST(xf AS DOUBLE) / (mx / 127.0) + 0.5))) AS q
           FROM el WHERE mx > 0),
         pe AS (SELECT vec_id, x - q * s AS err,
             CASE WHEN abs(q) = 127.0 THEN 1 ELSE 0 END AS sat
           FROM qe),
         tot AS (SELECT
             CAST(SUM(CAST(floor(err * err * 1e14) AS BIGINT)) AS BIGINT)
               AS sse_fp,
             CAST(SUM(sat) AS BIGINT) AS n_saturated
           FROM pe),
         vc AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(SUM(dims) AS BIGINT) AS n_elems
           FROM pv)
         SELECT n_vecs, n_elems, sse_fp, n_saturated,
           round(CAST(sse_fp AS DOUBLE) / 1e14 / n_elems, 12) AS mse
         FROM tot, vc""")
}

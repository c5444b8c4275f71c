package graft.queries

import graft.operators.Bpe
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Round-13 wave: the tokenizer trains (and applies) for real, the
  * rank-correlation pair completes, the robust/concentration
  * statistics land on the shared rank-span fixture, and the
  * `transformWithState` successor API reaches full judged primitive
  * coverage.
  *
  *  - `e113_bpe_train` — ITERATIVE BPE merge training: N real merge
  *    rounds over the corpus word histogram, each round counting
  *    adjacent symbol pairs weighted by corpus frequency, taking the
  *    winning pair and merging it into the next round's symbol state
  *    ([[Bpe]], run in one Spark task). The derive-then-apply cycle
  *    applied to the tokenizer itself (reference analog: the transform
  *    loop's derive-then-apply discipline, `etl.py:146-158`); extends
  *    the one-pass `e42_bpe_pairs` candidate scan to an actual
  *    trainer. At 100 TB the corpus is tokenized ONCE into the durable
  *    word histogram (the checkpoint a tokenizer-training pipeline
  *    persists); the whole merge schedule then runs on the type frame,
  *    whose cardinality is vocabulary-bounded, not corpus-bounded.
  *  - `e115_bpe_apply` — the trained merge table applied back to the
  *    type frame; fertility / segmentation stats (the vocab-sizing
  *    report).
  *  - `e114_kendall` — Kendall's tau-b rank correlation per group,
  *    completing the rank-correlation pair with e106's Spearman:
  *    concordant/discordant pairs come from the JOINT (x, y) value
  *    histogram — domain-bounded cells (≤ |x|·|y| per group at ANY
  *    corpus size), so the pair enumeration is a self-join of a
  *    sub-thousand-row frame, never of rows. All sufficient
  *    statistics are exact integers (decimal-38 sums — the ×10
  *    overflow lesson); tau-b is ONE final double formula.
  *  - `q115_gini` / `q117_trimmed_mean` — concentration and robust
  *    central tendency assembled EXACTLY from the staged rank spans
  *    (span (lo,hi) algebra; integer cent sums); `q116_acf` — lag-k
  *    autocorrelation of the calendar-bounded daily series;
  *    `e116_benford` — first-digit law audit with compile-time
  *    literal expectations (no log on any data path);
  *    `e117_collocations` — lift-ranked keyphrase mining (PMI's
  *    order without a logarithm, exact-integer rank key).
  *  - `c36`/`c37`/`c38` — the `transformWithState` successor API's
  *    remaining state primitives, each judged against an EXISTING
  *    oracle as a twin: event-time timers (c36 = c33's semantics),
  *    ListState (c37, bounded last-3 log), MapState (c38 = the
  *    q110/c34 semantic — three implementations, one oracle).
  */
object Surface22Queries extends QuerySet {
  import Tables._

  /** Number of BPE merge rounds e113 and e164 train — deep enough (32)
    * that the merge table is well past the two-character regime (merged
    * symbols winning later rounds, chains of chains).
    */
  val bpeIters = 32

  /** Batched-BPE schedule parameters (e177): [[bpeBatchPasses]] passes
    * of up to [[bpeBatchM]] merges each, candidates drawn from the
    * per-pass top-[[bpeBatchWindow]] ranked pairs. 8×4 = the same
    * 32-merge vocab as [[bpeIters]].
    */
  val bpeBatchPasses = 8
  val bpeBatchM = 4
  private[graft] val bpeBatchWindow = 12

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e113_bpe_train" -> ((s, dir) => {
      val rows = mergesFor(s, dir).map {
        case (i, a, b, n) => (i, a, b, a + b, n)
      }
      import s.implicits._
      rows.toDF("merge_idx", "left_sym", "right_sym", "merged", "pair_n")
    }),

    // BPE APPLY at corpus scale — the trainer's sibling: segment every
    // word TYPE with the trained merge table (the same single-replace-
    // per-merge projection chain, N narrow map steps, no shuffle) and
    // report the segmentation statistics a tokenizer-sizing pass
    // publishes: types, corpus word/subword totals (weighted by the
    // histogram counts — one tiny hash agg), fully-merged words, and
    // the fertility ratio (avg subwords per corpus word), the number
    // that prices a vocab size in sequence length. At 100 TB: apply
    // is vocabulary-bounded (runs on the staged TYPE frame); the
    // per-document corpus pass would be the same replace chain fused
    // into the scan.
    "e115_bpe_apply" -> ((s, dir) => {
      val ms = mergesFor(s, dir)
      val seg = ms.foldLeft(initialSymbolState(s, dir)) { (st, m) =>
        st.withColumn("s",
          replace(col("s"), lit(s" ${m._2}  ${m._3} "),
            lit(s" ${m._2}${m._3} ")))
      }
      seg.select(col("cnt"),
          size(split(trim(col("s")), "  ")).cast("long").as("nsub"))
        .agg(count(lit(1)).as("word_types"),
          sum(col("cnt")).as("words_total"),
          sum(col("cnt") * col("nsub")).as("subwords_total"),
          sum(when(col("nsub") === 1, col("cnt")).otherwise(0L))
            .as("single_token_words"))
        .select(col("word_types"), col("words_total"),
          col("subwords_total"), col("single_token_words"),
          (col("subwords_total").cast("double") /
            col("words_total").cast("double")).as("fertility"))
    }),

    // BATCHED BPE training — e113's merge-table shape from a different
    // schedule: each pass ranks the pair histogram ONCE, then applies
    // up to bpeBatchM pairwise-SYMBOL-DISJOINT merges from the
    // top-bpeBatchWindow ranked window in one chained replace. The
    // schedule is EXACT, not approximate: a pair (c,d) disjoint from
    // (a,b) has its adjacency count invariant under applying (a,b) —
    // merging a,b into `ab` can neither create a new c–d adjacency (the
    // merged symbol still sits between its neighbors) nor destroy one
    // (no c/d occurrence participates in an " a  b " window) — so every
    // applied merge's recorded count is its true count at application
    // time (SELECTION rule, shared verbatim with the oracle: see
    // Bpe.trainBatched). Rank 1 always survives, so every pass makes
    // progress. Training is one Spark task, like e113's. The merge
    // table matches e113's (merge_idx, left, right, n) semantics, so
    // the e115 apply chain consumes either.
    "e177_bpe_batched" -> ((s, dir) => {
      val rows = batchedMergesFor(s, dir).map {
        case (i, p, a, b, n) => (i, p, a, b, a + b, n)
      }
      import s.implicits._
      rows.toDF("merge_idx", "pass", "left_sym", "right_sym",
        "merged", "pair_n")
    }),

    // SAMPLED-train BPE — the production pattern at 100 TB: merges are
    // trained on a deterministic 1-in-4 hash-sampled subcorpus (the
    // e35 md5-prefix idiom, reproducible on any partitioning), then
    // applied to the FULL type frame; the report is e115's
    // segmentation panel plus the sampled histogram's type count (the
    // evidence the training leg really ran on the slice). Cost shape:
    // training reads a quarter-size type frame, and the apply pass is
    // unchanged — at corpus scale the tokenize pass over 3/4 of the
    // documents is skipped entirely during training.
    "e164_bpe_sampled" -> ((s, dir) => {
      val ms = sampledMergesFor(s, dir)
      val seg = ms.foldLeft(initialSymbolState(s, dir)) { (st, m) =>
        st.withColumn("s",
          replace(col("s"), lit(s" ${m._2}  ${m._3} "),
            lit(s" ${m._2}${m._3} ")))
      }
      val sampleTypes = broadcast(initialSymbolState(s, dir,
        sampled = true).agg(count(lit(1)).as("sample_word_types")))
      seg.select(col("cnt"),
          size(split(trim(col("s")), "  ")).cast("long").as("nsub"))
        .agg(count(lit(1)).as("word_types"),
          sum(col("cnt")).as("words_total"),
          sum(col("cnt") * col("nsub")).as("subwords_total"),
          sum(when(col("nsub") === 1, col("cnt")).otherwise(0L))
            .as("single_token_words"))
        .crossJoin(sampleTypes)
        .select(col("sample_word_types"), col("word_types"),
          col("words_total"), col("subwords_total"),
          col("single_token_words"),
          (col("subwords_total").cast("double") /
            col("words_total").cast("double")).as("fertility"))
    }),

    // GINI coefficient per group from the staged rank spans — the
    // inequality/concentration statistic a curation pass runs on value
    // mass (revenue, token counts, quality mass): with ascending ranks
    // G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ), and a value's rank span
    // contributes v·cnt·(lo+hi) to 2·Σ i·xᵢ exactly — so the whole
    // statistic is ONE narrow scan + group agg over the span frame
    // (shared with q111/q113/q20), integer cent sums in DECIMAL(38,0)
    // (v·cnt·2n overflows long at ×10), one final double division.
    "q115_gini" -> ((s, dir) => {
      StatsQueries.priceSpans(s, dir)
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("decimal(38,0)")
            .as("v"),
          col("__n"), col("__lo"), col("__hi"), col("__cnt"))
        .groupBy("l_returnflag")
        .agg(max(col("__cnt")).as("n"),
          sum(col("v") * col("__n") * (col("__lo") + col("__hi")))
            .as("s2"),
          sum(col("v") * col("__n")).as("s1"))
        .select(col("l_returnflag"), col("n"),
          ((col("s2") - (col("n") + 1) * col("s1")).cast("double") /
            (col("n").cast("decimal(38,0)") * col("s1")).cast("double"))
            .as("gini"))
    }),

    // Lag-k AUTOCORRELATION of the daily event-count series — the
    // time-series seasonality probe an ingest-monitoring pass runs
    // (lag-1 ≈ day-over-day persistence; a weekly cycle shows at
    // lag-7 on longer feeds). Complements `e98_acf` (per-event-type
    // lag-1 via row-order lag): this is the WHOLE-stream series at
    // lags 1/2/3 with CALENDAR-exact alignment — pairs join on
    // d + k days, so a missing day breaks the pair instead of
    // silently lagging across the gap, the correct monitor semantics
    // for sparse ingest calendars. One corpus pass to the daily
    // counts (a days-sized frame), then each lag is a self-join on
    // d + k over that tiny frame with exact integer moment sums and
    // Pearson's ONE closed-form double — partition-invariant at any
    // scale because the series length is calendar-bounded.
    "q116_acf" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
      val pairs = Seq(1, 2, 3).map { k =>
        daily.as("a").join(daily.as("b"),
            col("b.d") === date_add(col("a.d"), k))
          .select(lit(k.toLong).as("lag"), col("a.x").as("x"),
            col("b.x").as("y"))
      }.reduce(_ unionAll _)
      // first moments cast to decimal IN THE FORMULA too: sx·sy and
      // sx·sx overflow long long before the decimal-protected second
      // moments do (sx ≈ days·daily_rate), and the DuckDB side is
      // HUGEINT throughout — the casts must cover every product
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
                .cast("double")))).as("acf"))
    }),

    // c33's windowed TTL'd attribution on the SUCCESSOR streaming
    // state API: transformWithState with EVENT-TIME TIMERS (the
    // engine path flatMapGroupsWithState's EventTimeTimeout never
    // touches — registered per-key timers in the RocksDB store, with
    // explicit delete/re-register on every touch). Judged as c33's
    // twin on ONE oracle and ONE staged feed (the "graft-c33-"
    // prefix): the audit label derives from the timer's own fire
    // time, so the output is invariant to which batch the engine
    // fires in, and the c33 oracle transfers verbatim.
    "c36_stream_attribution_tws" -> ((s, dir) => {
      val b = EventFeed.build(s, dir, "graft-c33-", perCampaign = true,
        windowOf = (lo, hi) => 2 * ((hi - lo) / 3 + 1) + 1,
        sentinelGaps = Seq(10L, 20L))
      val res = EventFeed.runStream(s, b,
        (in: org.apache.spark.sql.Dataset[
            graft.streaming.Attribution.EvW]) =>
          graft.streaming.Attribution.attributeWindowedTws(
            in, b.windowUs, b.hiUs / 1000L))
      res.groupBy(col("touch_type"))
        .agg(count(lit(1)).as("conversions"),
          Tables.dsum(col("value"), 2).as("attributed_value"))
    }),

    // Last-3 recency-weighted attribution on transformWithState's
    // LIST STATE — the successor API's composite-state path (c23 =
    // ValueState, c36 = timers, this = the bounded per-key log every
    // "recent history" feature store keeps): state is the user's last
    // ≤3 touches, constant-size per key at any event volume; each
    // purchase splits exactly 1e6 µ over them (50/30/20, 60/40, or
    // all) — order-independent integer rollup, one oracle. Shares the
    // staged c34 feed.
    "c37_stream_last3" -> ((s, dir) => {
      val b = EventFeed.build(s, dir, "graft-c34-", perCampaign = false,
        windowOf = (_, _) => 0L, sentinelGaps = Seq.empty)
      val res = EventFeed.runStream(s, b,
        (in: org.apache.spark.sql.Dataset[
            graft.streaming.Attribution.EvW]) =>
          graft.streaming.Attribution.last3Stream(in))
      res.groupBy(col("touch_type"))
        .agg((sum(col("w")).cast("double") / lit(1000000.0))
            .as("conversions"),
          (sum(col("mc")).cast("double") / lit(100000000.0))
            .as("attributed_value"))
    }),

    // The q110/c34 multi-touch semantics on transformWithState's MAP
    // STATE — completing the successor API's primitive coverage (c23
    // ValueState, c36 timers, c37 ListState): per-channel counters as
    // point-updated map entries, first/last/second-last as a
    // ValueState, SAME oracle as q110 and c34 — three judged
    // implementations of one semantic (batch window, fMGWS state
    // walk, TWS map state). Shares the staged c34 feed.
    "c38_stream_multitouch_map" -> ((s, dir) => {
      val b = EventFeed.build(s, dir, "graft-c34-", perCampaign = false,
        windowOf = (_, _) => 0L, sentinelGaps = Seq.empty)
      val res = EventFeed.runStream(s, b,
        (in: org.apache.spark.sql.Dataset[
            graft.streaming.Attribution.EvW]) =>
          graft.streaming.Attribution.multiTouchMapStream(in))
      res.groupBy(col("touch_type"))
        .agg((sum(col("w")).cast("double") / lit(1000000.0))
            .as("conversions"),
          (sum(col("mc")).cast("double") / lit(100000000.0))
            .as("attributed_value"))
    }),

    // TRIMMED and WINSORIZED means (10% each side) per group — the
    // robust central-tendency pair (trim drops the tails, winsorize
    // clamps them to the cut values), computed EXACTLY from the same
    // staged rank spans as q111/q113/q115: a value's contribution to
    // the trimmed sum is v · |span ∩ [k+1, n−k]| (pure integer
    // overlap arithmetic, ties free), and the two clamp values are
    // rank selections over the same frame. One narrow scan + two
    // group aggs + a groups-sized join; cent sums in DECIMAL(38,0);
    // two final double divisions.
    "q117_trimmed_mean" -> ((s, dir) => {
      import graft.operators.Quantiles.ldiv
      val spans = StatsQueries.priceSpans(s, dir)
      val k1 = ldiv(col("__cnt"), 10L)
      val overlap = greatest(lit(0L),
        least(col("__hi"), col("__cnt") - k1) -
          greatest(col("__lo"), k1 + 1) + lit(1L))
      val cents = round(col("l_extendedprice") * 100)
        .cast("decimal(38,0)")
      val tm = spans.groupBy("l_returnflag")
        .agg(max(col("__cnt")).as("n"),
          sum(cents * overlap).as("tsum"))
      val bv = graft.operators.Quantiles.selectRanks(spans,
        Seq("l_returnflag"), "l_extendedprice",
        Seq("lo_val" -> (c => ldiv(c, 10L) + 1),
          "hi_val" -> (c => c - ldiv(c, 10L))))
      def c100(name: String) =
        round(col(name) * 100).cast("decimal(38,0)")
      tm.join(bv, "l_returnflag")
        .select(col("l_returnflag"), col("n"),
          (col("tsum").cast("double") / lit(100.0) /
            (col("n") - lit(2L) * ldiv(col("n"), 10L)).cast("double"))
            .as("trimmed_mean"),
          ((col("tsum") + ldiv(col("n"), 10L) *
            (c100("lo_val") + c100("hi_val"))).cast("double") /
            lit(100.0) / col("n").cast("double"))
            .as("winsorized_mean"))
    }),

    // BOWLEY (quartile) skewness + IQR per group — the robust shape
    // statistic that pairs with q113's MAD and q117's trimmed means:
    // quartiles by the contains-rank rule over the SAME staged span
    // frame (rank k = ceil(p·n) via exact integral division), then
    // two closed-form doubles. One narrow scan, one group agg, no new
    // corpus pass.
    "q118_bowley" -> ((s, dir) => {
      import graft.operators.Quantiles.ldiv
      graft.operators.Quantiles.selectRanks(
          StatsQueries.priceSpans(s, dir),
          Seq("l_returnflag"), "l_extendedprice",
          Seq("q1" -> (c => ldiv(c + 3, 4L)),
            "q2" -> (c => ldiv(c + 1, 2L)),
            "q3" -> (c => ldiv(c * 3 + 3, 4L))))
        .select(col("l_returnflag"), col("q1"), col("q2"), col("q3"),
          (col("q3") - col("q1")).as("iqr"),
          // NULL (not ±Inf/NaN) on a degenerate group whose q1 = q3
          // (all mass at one value): skewness of a point mass is
          // undefined, and a guard is robust across engines where
          // matching IEEE-division text is merely lucky. Oracle
          // mirrors with NULLIF.
          when(col("q3") =!= col("q1"),
            (col("q3") + col("q1") - lit(2.0) * col("q2")) /
              (col("q3") - col("q1"))).as("bowley"))
    }),

    // BENFORD first-digit audit — the fraud/synthetic-data smell test
    // a data-quality pass runs on value columns: observed first-digit
    // frequencies against Benford's log-law expectation. The digit is
    // extracted POSITIONALLY (first char of the integer part) — no
    // log10 on the data path, per the oracle float discipline; the 9
    // expected probabilities are compile-time literals shared verbatim
    // with the oracle text, so no cross-engine log evaluation exists
    // at all. One hash agg to 9 cells + a broadcast total.
    "e116_benford" -> ((s, dir) => {
      val digit = substring(
        floor(col("l_extendedprice")).cast("long").cast("string"), 1, 1)
        .cast("int")
      val cnts = t(s, dir, "lineitem")
        .where(col("l_extendedprice").isNotNull)
        .groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
      val tot = cnts.agg(sum(col("n")).as("t"))
      val expected = coalesce((1 to 9).map(d =>
        when(col("digit") === d, lit(benfordP(d)))): _*)
      cnts.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          (col("n").cast("double") / col("t").cast("double"))
            .as("observed_p"),
          expected.as("expected_p"))
    }),

    // COLLOCATION extraction — the keyphrase/multi-word-expression
    // miner a curation pass runs before tokenizer training: bigrams
    // whose corpus frequency far exceeds the independence expectation,
    // ranked by LIFT n_ab·N / (n_a·n_b). Lift orders identically to
    // PMI (log is monotone) with NO logarithm anywhere — the rank key
    // is the exact integer floor((n_ab·N·1e6) / (n_a·n_b)) in
    // DECIMAL/HUGEINT (n_ab·N·1e6 overflows long at ×100), so the
    // top-k frontier is bit-deterministic cross-engine. Plan: ONE
    // corpus scan builds the joint successor histogram (arrays_zip
    // null-pads the shorter slice, so each document-final token
    // contributes a (t, null) row — every token occurrence appears
    // exactly once as t1); the unigram histogram is then a VOCAB-
    // sized re-agg of the joint frame, never a second corpus pass.
    // The joint histogram is durably staged (three downstream slices
    // read it, and it is exactly the n-gram checkpoint a corpus
    // pipeline persists between jobs); everything after it is
    // vocab-bounded hash joins + TakeOrdered(25).
    "e117_collocations" -> ((s, dir) => {
      val tk = graft.operators.TextAnalysis.tokens(col("text"))
      val hist = Stage.durableFrame(s, "e117-joint-hist", dir) {
        tBalanced(s, dir, "documents")
          .select(explode(arrays_zip(
            tk.as("t1"),
            slice(tk, lit(2), greatest(size(tk) - 1, lit(0)))
              .as("t2"))).as("p"))
          .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
          .groupBy("t1", "t2").agg(count(lit(1)).as("n"))
      }
      val uni = hist.groupBy(col("t1").as("t"))
        .agg(sum(col("n")).as("n"))
      val tot = uni.agg(sum(col("n")).as("nn"))
      val bg = hist.where(col("t2").isNotNull)
        .select(col("t1"), col("t2"), col("n").as("n_ab"))
        .where(col("n_ab") >= 20)
      bg.join(uni.select(col("t").as("t1"), col("n").as("n_a")), "t1")
        .join(uni.select(col("t").as("t2"), col("n").as("n_b")), "t2")
        .crossJoin(broadcast(tot))
        .select(col("t1"), col("t2"), col("n_ab"),
          graft.operators.Quantiles.ldiv(
            col("n_ab").cast("decimal(38,0)") * col("nn") * lit(1000000L),
            col("n_a").cast("decimal(38,0)") * col("n_b"))
            .cast("long").as("lift_micro"))
        .orderBy(col("lift_micro").desc, col("t1"), col("t2"))
        .limit(25)
    }),

    "e114_kendall" -> ((s, dir) => {
      // joint value histogram: the ONLY corpus-sized pass; everything
      // after runs on ≤ |x|·|y| cells per group (550 here: 50
      // quantities × 11 discounts), invariant in the row count
      val h = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("g"), col("l_quantity").as("x"),
          col("l_discount").as("y"))
        .agg(count(lit(1)).as("n"))
      // each unordered cell pair once, oriented by strict x order;
      // y up = concordant, y down = discordant, y tie = neither
      val cd = h.as("a")
        .join(h.as("b"), col("a.g") === col("b.g") &&
          col("a.x") < col("b.x"))
        .groupBy(col("a.g").as("g"))
        .agg(
          sum(when(col("a.y") < col("b.y"),
            col("a.n").cast("decimal(38,0)") * col("b.n"))
            .otherwise(lit(0))).as("c"),
          sum(when(col("a.y") > col("b.y"),
            col("a.n").cast("decimal(38,0)") * col("b.n"))
            .otherwise(lit(0))).as("d"))
      // tie terms in DOUBLED form (t·(t−1), no /2 on the integer
      // side): n0p − n1p etc. stay exact integers; the halving rides
      // the final double formula where /2.0 is an exact FP step
      def tiePrime(key: String, out: String) =
        h.groupBy(col("g"), col(key)).agg(sum(col("n")).as("t"))
          .groupBy("g")
          .agg(sum(col("t").cast("decimal(38,0)") * (col("t") - 1))
            .as(out))
      val tx = tiePrime("x", "n1p")
      val ty = tiePrime("y", "n2p")
      val tot = h.groupBy("g").agg(sum(col("n")).as("nn"))
        .select(col("g"),
          (col("nn").cast("decimal(38,0)") * (col("nn") - 1)).as("n0p"))
      cd.join(tx, "g").join(ty, "g").join(tot, "g")
        .select(col("g").as("l_returnflag"),
          col("c").cast("long").as("concordant"),
          col("d").cast("long").as("discordant"),
          ((col("c") - col("d")).cast("double") /
            (sqrt((col("n0p") - col("n1p")).cast("double") / lit(2.0)) *
              sqrt((col("n0p") - col("n2p")).cast("double") / lit(2.0))))
            .as("tau_b"))
    }))

  /** Benford's expected first-digit probability log10(1 + 1/d),
    * evaluated ONCE at query-build time on the driver; the identical
    * literal is embedded in the oracle text, so neither engine ever
    * evaluates a logarithm (cross-engine log rounding is the reason
    * the float discipline bans ln/log on data paths).
    */
  private def benfordP(d: Int): Double = math.log10(1.0 + 1.0 / d)

  /** The trained merge table, TRAINED ONCE per testdata dir per JVM
    * and shared by `e113_bpe_train` and `e115_bpe_apply` (the shared-
    * model discipline of `Surface20Queries.trainedCentroids`).
    */
  private val trainedMerges = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Long, String, String, Long)]]()
  private def mergesFor(s: SparkSession, dir: String)
      : Seq[(Long, String, String, Long)] =
    trainedMerges.computeIfAbsent(dir,
      _ => bpeMerges(initialSymbolState(s, dir), bpeIters))

  /** e164's merge table: the same trainer run on the md5-sampled
    * quarter subcorpus (the production pattern — at 100 TB you train
    * merges on a hash-sampled slice, then apply to everything).
    * Cached per dir like [[mergesFor]], under a distinct key.
    */
  private def sampledMergesFor(s: SparkSession, dir: String)
      : Seq[(Long, String, String, Long)] =
    trainedMerges.computeIfAbsent(dir + "#s4",
      _ => bpeMerges(initialSymbolState(s, dir, sampled = true), bpeIters))

  /** e177's batched merge table — (global merge_idx, pass, left,
    * right, pair count) — trained once per dir like [[mergesFor]].
    * Project off the pass column for an e113-shaped (idx, a, b, n)
    * table; the apply chain consumes either.
    */
  private val trainedBatchedMerges =
    new java.util.concurrent.ConcurrentHashMap[
      String, Seq[(Long, Long, String, String, Long)]]()
  private def batchedMergesFor(s: SparkSession, dir: String)
      : Seq[(Long, Long, String, String, Long)] =
    trainedBatchedMerges.computeIfAbsent(dir,
      _ => bpeMergesBatched(initialSymbolState(s, dir),
        bpeBatchPasses, bpeBatchM, bpeBatchWindow))

  /** Deterministic 1-in-4 document sample: exact integer from the md5
    * hex prefix of the doc id (the e35 idiom — reproducible on any
    * partitioning, identically expressible in the oracle).
    */
  private def sampleFilter = (conv(substring(
    md5(col("doc_id").cast("string")), 1, 6), 16, 10)
    .cast("long") % 4) === 0

  /** The character-level symbol state over the durably-staged word
    * histogram — round 0 of training, and the base the apply pass
    * re-segments from. `sampled = true` builds it over the 1-in-4
    * hash-sampled subcorpus (its own durable stage).
    */
  private def initialSymbolState(s: SparkSession, dir: String,
      sampled: Boolean = false): DataFrame = {
    val name = if (sampled) "word-hist-s4" else "word-hist"
    val hist = Stage.durableFrame(s, name, dir) {
      val docs = tBalanced(s, dir, "documents")
      (if (sampled) docs.where(sampleFilter) else docs)
        .select(explode(
          graft.operators.TextAnalysis.tokens(col("text"))).as("w"))
        .where(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
    }
    hist.select(
      concat(lit("  "), array_join(
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))), "  "), lit("  ")).as("s"),
      col("cnt"))
  }

  /** Merge tables over a char-split symbol state ([[initialSymbolState]]
    * in the judged path; specs feed a toy frame): e113/e164's sequential
    * [[Bpe.train]] and e177's [[Bpe.trainBatched]].
    */
  private[graft] def bpeMerges(state: DataFrame, iters: Int)
      : Seq[(Long, String, String, Long)] =
    inOneTask(state)(Bpe.train(_, iters))
  private[graft] def bpeMergesBatched(state: DataFrame, passes: Int,
      m: Int, window: Int): Seq[(Long, Long, String, String, Long)] =
    inOneTask(state)(Bpe.trainBatched(_, passes, m, window))

  /** Runs a merge schedule over the (s, cnt) symbol state in ONE task
    * and collects only the merge rows. The type frame is
    * vocabulary-bounded at any corpus size, so one task is the right
    * shape; `coalesce(1)`, not `repartition(1)`, keeps training one
    * stage with no exchange.
    */
  private def inOneTask[T <: Product : TypeTag](state: DataFrame)(
      schedule: Seq[(String, Long)] => Seq[T]): Seq[T] = {
    val s = state.sparkSession
    import s.implicits._
    state.select("s", "cnt").as[(String, Long)].coalesce(1)
      .mapPartitions(it => schedule(it.toSeq).iterator).collect().toSeq
  }

  // ---- oracles ----

  private val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  /** One oracle-side BPE round: pair counts from the previous state,
    * the winning pair by the same (n desc, a, b) order, and the
    * replace-applied next state — a SQL transcription of one round of
    * [[Bpe.train]].
    */
  private def bpeIterCte(i: Int, st: String = "st", top: String = "top",
      pc: String = "pc"): String =
    s"""$pc$i AS (
         SELECT tk[CAST(j AS INT)] AS a, tk[CAST(j AS INT) + 1] AS b,
           SUM(cnt) AS n
         FROM (SELECT tk, cnt, unnest(range(1, len(tk))) AS j
               FROM (SELECT str_split(trim(s, ' '), '  ') AS tk, cnt
                     FROM $st${i - 1}))
         GROUP BY 1, 2),
       $top$i AS MATERIALIZED (
         SELECT a, b, n FROM $pc$i ORDER BY n DESC, a, b LIMIT 1),
       $st$i AS MATERIALIZED (
         SELECT replace(s, ' ' || t.a || '  ' || t.b || ' ',
           ' ' || t.a || t.b || ' ') AS s, cnt
         FROM $st${i - 1}, $top$i t)"""

  private def bpeOracle: String = {
    val iters = (1 to bpeIters).map(i => bpeIterCte(i)).mkString(",\n       ")
    val rows = (1 to bpeIters).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS merge_idx, a AS left_sym,
            b AS right_sym, a || b AS merged, CAST(n AS BIGINT) AS pair_n
          FROM top$i"""
    }.mkString("\n          UNION ALL ")
    s"""WITH w AS (
         SELECT tk AS word, count(*) AS cnt
         FROM (SELECT unnest($tokensSql) AS tk FROM documents)
         WHERE len(tk) >= 2 GROUP BY tk),
       st0 AS MATERIALIZED (
         SELECT '  ' || array_to_string(list_transform(
             range(1, len(word) + 1),
             i -> substr(word, CAST(i AS INT), 1)), '  ') || '  ' AS s,
           cnt
         FROM w),
       $iters
       $rows"""
  }

  /** SQL mirror of [[all]]'s e115: the shared training-CTE chain ends
    * in st{bpeIters}; the report aggregates its re-split symbol lists.
    */
  private def bpeApplyOracle: String = {
    val iters = (1 to bpeIters).map(i => bpeIterCte(i)).mkString(",\n       ")
    s"""WITH w AS (
         SELECT tk AS word, count(*) AS cnt
         FROM (SELECT unnest($tokensSql) AS tk FROM documents)
         WHERE len(tk) >= 2 GROUP BY tk),
       st0 AS MATERIALIZED (
         SELECT '  ' || array_to_string(list_transform(
             range(1, len(word) + 1),
             i -> substr(word, CAST(i AS INT), 1)), '  ') || '  ' AS s,
           cnt
         FROM w),
       $iters,
       seg AS (SELECT str_split(trim(s, ' '), '  ') AS tk, cnt
               FROM st$bpeIters)
       SELECT CAST(count(*) AS BIGINT) AS word_types,
         CAST(SUM(cnt) AS BIGINT) AS words_total,
         CAST(SUM(cnt * len(tk)) AS BIGINT) AS subwords_total,
         CAST(SUM(CASE WHEN len(tk) = 1 THEN cnt ELSE 0 END) AS BIGINT)
           AS single_token_words,
         CAST(SUM(cnt * len(tk)) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
           AS fertility
       FROM seg"""
  }

  /** SQL mirror of e164: the training CTE chain (`ss*`/`stop*`) runs
    * over the md5-sampled quarter histogram; the apply chain (`ap*`)
    * replays each sampled winner `stop$i` over the FULL char-split
    * state in merge order — the same replace semantics, two chains.
    */
  private def bpeSampledOracle: String = {
    val train = (1 to bpeIters)
      .map(i => bpeIterCte(i, "ss", "stop", "spc")).mkString(",\n       ")
    val apply = (1 to bpeIters).map { i =>
      s"""ap$i AS MATERIALIZED (
           SELECT replace(s, ' ' || t.a || '  ' || t.b || ' ',
             ' ' || t.a || t.b || ' ') AS s, cnt
           FROM ap${i - 1}, stop$i t)"""
    }.mkString(",\n       ")
    s"""WITH w AS (
         SELECT tk AS word, count(*) AS cnt
         FROM (SELECT unnest($tokensSql) AS tk FROM documents)
         WHERE len(tk) >= 2 GROUP BY tk),
       ws AS (
         SELECT tk AS word, count(*) AS cnt
         FROM (SELECT unnest($tokensSql) AS tk FROM documents
               WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                 1, 6) AS BIGINT) % 4 = 0)
         WHERE len(tk) >= 2 GROUP BY tk),
       ss0 AS MATERIALIZED (
         SELECT '  ' || array_to_string(list_transform(
             range(1, len(word) + 1),
             i -> substr(word, CAST(i AS INT), 1)), '  ') || '  ' AS s,
           cnt
         FROM ws),
       $train,
       ap0 AS MATERIALIZED (
         SELECT '  ' || array_to_string(list_transform(
             range(1, len(word) + 1),
             i -> substr(word, CAST(i AS INT), 1)), '  ') || '  ' AS s,
           cnt
         FROM w),
       $apply,
       seg AS (SELECT str_split(trim(s, ' '), '  ') AS tk, cnt
               FROM ap$bpeIters)
       SELECT (SELECT CAST(count(*) AS BIGINT) FROM ws)
           AS sample_word_types,
         CAST(count(*) AS BIGINT) AS word_types,
         CAST(SUM(cnt) AS BIGINT) AS words_total,
         CAST(SUM(cnt * len(tk)) AS BIGINT) AS subwords_total,
         CAST(SUM(CASE WHEN len(tk) = 1 THEN cnt ELSE 0 END) AS BIGINT)
           AS single_token_words,
         CAST(SUM(cnt * len(tk)) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
           AS fertility
       FROM seg"""
  }

  /** One oracle-side batched pass (e177): pair counts from the
    * previous state, the ranked top-window, the disjointness-selected
    * batch (the NOT EXISTS rule — conflict vs ALL higher-ranked
    * window pairs), and bpeBatchM replace steps chained through
    * scalar subqueries. A step whose `k` slot is empty (pass selected
    * fewer than bpeBatchM pairs) degrades to the identity replace via
    * a chr(1) sentinel that never occurs in a symbol state.
    */
  private def bpeBatchPassCte(i: Int): String = {
    val head = s"""bpc$i AS (
         SELECT tk[CAST(j AS INT)] AS a, tk[CAST(j AS INT) + 1] AS b,
           SUM(cnt) AS n
         FROM (SELECT tk, cnt, unnest(range(1, len(tk))) AS j
               FROM (SELECT str_split(trim(s, ' '), '  ') AS tk, cnt
                     FROM bst${i - 1}))
         GROUP BY 1, 2),
       brk$i AS MATERIALIZED (
         SELECT a, b, n, row_number() OVER (ORDER BY n DESC, a, b) AS r
         FROM bpc$i ORDER BY n DESC, a, b LIMIT $bpeBatchWindow),
       bsel$i AS MATERIALIZED (
         SELECT a, b, n, r, row_number() OVER (ORDER BY r) AS k
         FROM brk$i x
         WHERE NOT EXISTS (SELECT 1 FROM brk$i y WHERE y.r < x.r
           AND (y.a = x.a OR y.a = x.b OR y.b = x.a OR y.b = x.b))
         QUALIFY k <= $bpeBatchM)"""
    val steps = (1 to bpeBatchM).map { j =>
      val prev = if (j == 1) s"bst${i - 1}" else s"bst${i}_${j - 1}"
      val nm = if (j == bpeBatchM) s"bst$i" else s"bst${i}_$j"
      s"""$nm AS MATERIALIZED (
         SELECT replace(s,
           coalesce((SELECT ' ' || a || '  ' || b || ' '
             FROM bsel$i WHERE k = $j), chr(1)),
           coalesce((SELECT ' ' || a || b || ' '
             FROM bsel$i WHERE k = $j), chr(1))) AS s, cnt
         FROM $prev)"""
    }.mkString(",\n       ")
    s"$head,\n       $steps"
  }

  private def bpeBatchedOracle: String = {
    val passes = (1 to bpeBatchPasses).map(bpeBatchPassCte)
      .mkString(",\n       ")
    val rows = (1 to bpeBatchPasses).map { i =>
      s"SELECT CAST($i AS BIGINT) AS pass, k, a, b, n FROM bsel$i"
    }.mkString("\n          UNION ALL ")
    s"""WITH w AS (
         SELECT tk AS word, count(*) AS cnt
         FROM (SELECT unnest($tokensSql) AS tk FROM documents)
         WHERE len(tk) >= 2 GROUP BY tk),
       bst0 AS MATERIALIZED (
         SELECT '  ' || array_to_string(list_transform(
             range(1, len(word) + 1),
             i -> substr(word, CAST(i AS INT), 1)), '  ') || '  ' AS s,
           cnt
         FROM w),
       $passes,
       allsel AS ($rows)
       SELECT CAST(row_number() OVER (ORDER BY pass, k) AS BIGINT)
           AS merge_idx,
         pass, a AS left_sym, b AS right_sym, a || b AS merged,
         CAST(n AS BIGINT) AS pair_n
       FROM allsel"""
  }

  private def benfordOracle: String = {
    // the e0 exponent makes DuckDB parse the literal as DOUBLE via
    // strtod (correctly rounded, bit-identical to the JVM's parse); a
    // bare decimal literal would go through DECIMAL(18,17) first and
    // can land one ulp off after the decimal→double cast
    val cases = (1 to 9).map(d =>
      s"WHEN $d THEN ${benfordP(d)}e0").mkString(" ")
    s"""WITH d AS (
         SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
             AS VARCHAR), 1, 1) AS INT) AS digit
         FROM lineitem WHERE l_extendedprice IS NOT NULL),
       c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
       t AS (SELECT SUM(n) AS t FROM c)
       SELECT digit, CAST(n AS BIGINT) AS n,
         CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS observed_p,
         CASE digit $cases END AS expected_p
       FROM c, t"""
  }

  val oracles: Map[String, String] = Map(
    "e113_bpe_train" -> bpeOracle,
    "e115_bpe_apply" -> bpeApplyOracle,
    "e164_bpe_sampled" -> bpeSampledOracle,
    "e177_bpe_batched" -> bpeBatchedOracle,
    "e116_benford" -> benfordOracle,
    // judged twin of c33 — identical window, feed, and semantics; the
    // timer-fire-time label rule makes the same oracle exact
    "c36_stream_attribution_tws" ->
      Surface20Queries.oracles("c33_stream_attribution_ttl"),
    // third judged implementation of the q110/c34 semantic, one oracle
    "c38_stream_multitouch_map" ->
      Surface20Queries.oracles("q110_multitouch"),

    // last-3 recency weights replayed relationally: the 2nd/3rd most
    // recent prior touches come from the chained per-touch-row
    // previous-touch columns (pt = touch before a touch, ppt = touch
    // two before), each lifted to the purchase row by one more
    // last_value IGNORE NULLS — the same derivation c34's oracle uses
    // for its second-last touch, applied twice.
    "c37_stream_last3" ->
      """WITH ev AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
             value,
             CASE WHEN event_type <> 'purchase' THEN event_type END
               AS touch
           FROM events),
         t1 AS (
           SELECT *, CASE WHEN touch IS NOT NULL THEN
               last_value(touch IGNORE NULLS) OVER wnd END AS pt
           FROM ev
           WINDOW wnd AS (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         t2 AS (
           SELECT *, CASE WHEN touch IS NOT NULL THEN
               last_value(pt IGNORE NULLS) OVER wnd END AS ppt
           FROM t1
           WINDOW wnd AS (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         t3 AS (
           SELECT event_type, value,
             count(touch) OVER wnd AS n,
             last_value(touch IGNORE NULLS) OVER wnd AS r1,
             last_value(pt IGNORE NULLS) OVER wnd AS r2,
             last_value(ppt IGNORE NULLS) OVER wnd AS r3
           FROM t2
           WINDOW wnd AS (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         p AS (
           SELECT CAST(round(value * 100) AS BIGINT) AS cents, n,
             r1, r2, r3
           FROM t3 WHERE event_type = 'purchase'),
         cr AS (
           SELECT ty.t AS touch_type, p.cents,
             CASE
               WHEN p.n = 0 THEN
                 CASE WHEN ty.t = '(none)' THEN 1000000 ELSE 0 END
               WHEN ty.t = '(none)' THEN 0
               WHEN p.n = 1 THEN
                 CASE WHEN p.r1 = ty.t THEN 1000000 ELSE 0 END
               WHEN p.n = 2 THEN
                 (CASE WHEN p.r1 = ty.t THEN 600000 ELSE 0 END) +
                 (CASE WHEN p.r2 = ty.t THEN 400000 ELSE 0 END)
               ELSE
                 (CASE WHEN p.r1 = ty.t THEN 500000 ELSE 0 END) +
                 (CASE WHEN p.r2 = ty.t THEN 300000 ELSE 0 END) +
                 (CASE WHEN p.r3 = ty.t THEN 200000 ELSE 0 END)
             END AS w
           FROM p, (VALUES ('click'), ('view'), ('signup'), ('error'),
             ('(none)')) AS ty(t))
         SELECT touch_type,
           CAST(SUM(w) AS DOUBLE) / 1000000.0 AS conversions,
           CAST(SUM(w * cents) AS DOUBLE) / 100000000.0
             AS attributed_value
         FROM cr WHERE w > 0 GROUP BY touch_type""",

    // lift ranked by the exact integer micro-lift — HUGEINT product,
    // integer floor division, BIGINT re-narrow for the judged column
    "e117_collocations" ->
      s"""WITH tok AS (SELECT unnest($tokensSql) AS t FROM documents),
         uni AS (SELECT t, count(*) AS n FROM tok GROUP BY t),
         tot AS (SELECT SUM(n) AS nn FROM uni),
         bgx AS (
           SELECT tk[CAST(j AS INT)] AS t1, tk[CAST(j AS INT) + 1] AS t2
           FROM (SELECT tk, unnest(range(1, len(tk))) AS j
                 FROM (SELECT $tokensSql AS tk FROM documents))),
         bg AS (SELECT t1, t2, count(*) AS n_ab FROM bgx
                GROUP BY t1, t2 HAVING count(*) >= 20)
         SELECT t1, t2, n_ab,
           CAST((CAST(n_ab AS HUGEINT) * nn * 1000000) //
             (CAST(a.n AS HUGEINT) * b.n) AS BIGINT) AS lift_micro
         FROM bg
         JOIN uni a ON a.t = bg.t1
         JOIN uni b ON b.t = bg.t2, tot
         ORDER BY lift_micro DESC, t1, t2 LIMIT 25""",

    // Gini from the cumulative-count span form: lo + hi = 2·cum −
    // cnt + 1, all cent sums in HUGEINT, one final double division
    // with the identical cast order as the Spark side.
    "q115_gini" ->
      """WITH h AS (
           SELECT l_returnflag, l_extendedprice,
             CAST(round(l_extendedprice * 100) AS HUGEINT) AS v,
             count(*) AS cnt
           FROM lineitem WHERE l_extendedprice IS NOT NULL
           GROUP BY 1, 2),
         sp AS (
           SELECT l_returnflag, v, cnt,
             SUM(cnt) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS nn
           FROM h)
         SELECT l_returnflag, CAST(max(nn) AS BIGINT) AS n,
           CAST(SUM(v * cnt * (2 * hi - cnt + 1))
               - (max(nn) + 1) * SUM(v * cnt) AS DOUBLE) /
             CAST(max(nn) * SUM(v * cnt) AS DOUBLE) AS gini
         FROM sp GROUP BY l_returnflag""",

    // Trimmed/winsorized means from the cumulative-count span form
    // (lo = hi − cnt + 1): integer overlap sums in HUGEINT, clamp
    // values by the contains-rank rule, the identical two division
    // chains as the Spark side.
    "q117_trimmed_mean" ->
      """WITH h AS (
           SELECT l_returnflag, l_extendedprice,
             CAST(round(l_extendedprice * 100) AS HUGEINT) AS v,
             count(*) AS cnt
           FROM lineitem WHERE l_extendedprice IS NOT NULL
           GROUP BY 1, 2),
         sp AS (
           SELECT l_returnflag, l_extendedprice, v, cnt,
             SUM(cnt) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS nn
           FROM h),
         tm AS (
           SELECT l_returnflag, max(nn) AS n,
             SUM(v * GREATEST(0, LEAST(hi, nn - nn // 10)
               - GREATEST(hi - cnt + 1, nn // 10 + 1) + 1)) AS tsum
           FROM sp GROUP BY 1),
         bv AS (
           SELECT l_returnflag,
             min(CASE WHEN hi >= nn // 10 + 1
               THEN l_extendedprice END) AS lo_val,
             min(CASE WHEN hi >= nn - nn // 10
               THEN l_extendedprice END) AS hi_val
           FROM sp GROUP BY 1)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           CAST(tsum AS DOUBLE) / 100.0 /
             CAST(n - 2 * (n // 10) AS DOUBLE) AS trimmed_mean,
           CAST(tsum + (n // 10) *
               (CAST(round(lo_val * 100) AS HUGEINT) +
                CAST(round(hi_val * 100) AS HUGEINT)) AS DOUBLE) /
             100.0 / CAST(n AS DOUBLE) AS winsorized_mean
         FROM tm JOIN bv USING (l_returnflag)""",

    // quartiles by the contains-rank rule (smallest value whose
    // cumulative count reaches ceil(p·n)), then the same two double
    // expressions as the Spark side.
    "q118_bowley" ->
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
         q AS (
           SELECT l_returnflag,
             min(CASE WHEN hi >= (nn + 3) // 4
               THEN l_extendedprice END) AS q1,
             min(CASE WHEN hi >= (nn + 1) // 2
               THEN l_extendedprice END) AS q2,
             min(CASE WHEN hi >= (nn * 3 + 3) // 4
               THEN l_extendedprice END) AS q3
           FROM sp GROUP BY 1)
         SELECT l_returnflag, q1, q2, q3, q3 - q1 AS iqr,
           (q3 + q1 - 2.0 * q2) / NULLIF(q3 - q1, 0) AS bowley
         FROM q""",

    // Pearson over the lag-aligned daily count pairs: integer moment
    // sums, one closed-form double — same expression text as Spark.
    "q116_acf" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS d, count(*) AS x
           FROM events GROUP BY 1),
         p AS (
           SELECT k.lag, a.x AS x, b.x AS y
           FROM (VALUES (1), (2), (3)) AS k(lag)
           JOIN daily a ON TRUE
           JOIN daily b ON b.d = a.d + k.lag),
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
              sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))) AS acf
         FROM m""",

    // tau-b from the joint histogram: HUGEINT pair sums (DuckDB
    // SUM(BIGINT) is HUGEINT anyway — judged integers re-narrowed to
    // BIGINT per the dtype discipline), doubled tie terms, one final
    // double formula shared verbatim with the Spark side.
    "e114_kendall" ->
      """WITH h AS (
           SELECT l_returnflag AS g, l_quantity AS x, l_discount AS y,
             count(*) AS n
           FROM lineitem GROUP BY 1, 2, 3),
         cd AS (
           SELECT a.g,
             SUM(CASE WHEN a.y < b.y
               THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS c,
             SUM(CASE WHEN a.y > b.y
               THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS d
           FROM h a JOIN h b ON a.g = b.g AND a.x < b.x
           GROUP BY a.g),
         tx AS (SELECT g, SUM(CAST(t AS HUGEINT) * (t - 1)) AS n1p
           FROM (SELECT g, x, SUM(n) AS t FROM h GROUP BY g, x)
           GROUP BY g),
         ty AS (SELECT g, SUM(CAST(t AS HUGEINT) * (t - 1)) AS n2p
           FROM (SELECT g, y, SUM(n) AS t FROM h GROUP BY g, y)
           GROUP BY g),
         tot AS (SELECT g, CAST(SUM(n) AS HUGEINT) * (SUM(n) - 1) AS n0p
           FROM h GROUP BY g)
         SELECT g AS l_returnflag,
           CAST(c AS BIGINT) AS concordant,
           CAST(d AS BIGINT) AS discordant,
           CAST(c - d AS DOUBLE) /
             (sqrt(CAST(n0p - n1p AS DOUBLE) / 2.0) *
              sqrt(CAST(n0p - n2p AS DOUBLE) / 2.0)) AS tau_b
         FROM cd JOIN tx USING (g) JOIN ty USING (g) JOIN tot USING (g)""")
}

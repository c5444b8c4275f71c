package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Fourth tranche (round 5): distribution/rank analytics (ntile,
  * histogram, arg-max, sorted top-k lists, exact-decimal correlation,
  * bitwise aggregates, string distance, column profiling) plus the
  * corpus-reporting set (per-slice report, n-gram benchmark
  * contamination, token histograms, source quality, embedding mean
  * pooling, ANN recall). All outputs are scalar primitives with full
  * DuckDB value oracles.
  */
object Surface4Queries extends QuerySet {
  import Tables._

  private val allMarkers = TextAnalysis.langMarkers.flatMap(_._2)

  /** Shared non-overlapping 16-token chunk fingerprints
    * (doc_id, cid, fp), durably staged: ONE corpus tokenize+chunk
    * pass per (sf × testdata fingerprint), after which both
    * e28_passage_dedup and Surface24's e126_dup_spans are equi-key
    * joins/aggregations over this frame — zero query-time corpus
    * passes, and the two passage-level dedup reports provably audit
    * the SAME chunk inventory.
    */
  private[queries] def chunkFp16(s: SparkSession, dir: String): DataFrame =
    Stage.durableFrame(s, "chunks16-fp", dir) {
      val tk = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      graft.operators.Corpus.chunkTokens(tk, "doc_id", "tk", 16, 16)
        .select(col("doc_id"), col("chunk_id").as("cid"),
          md5(col("chunk_text").cast("binary")).as("fp"))
    }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Quartile assignment + cumulative distribution over one global
    // ordering — via Rank.withGlobalRowNumber: range-partition on the
    // sort key, per-partition row_number, broadcast prefix offsets. No
    // single-partition Window (the old form moved every row into one
    // task); ntile/cume_dist derive from the global rank and total in
    // closed form, exact because the (c_acctbal, c_custkey) key is unique
    "q53_ntile" -> ((s, dir) => {
      import graft.operators.Rank
      Rank.withGlobalRowNumber(
        t(s, dir, "customer").select("c_custkey", "c_acctbal"),
        Seq(col("c_acctbal"), col("c_custkey")))
        .select(
          col("c_custkey"),
          Rank.ntileOf(col("rn"), col("n_total"), 4).as("quartile"),
          Rank.cumeDistOf(col("rn"), col("n_total")).as("cdist"),
          col("rn"))
    }),

    // Fixed-width histogram of order value: the binning is a pure narrow
    // map (floor of a division), so the whole query is scan → partial
    // agg → one exchange on ~20 bins
    "q54_hist" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / lit(50000.0)).cast("long")
          .as("bin"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice"), 2).as("sum_price"))),

    // Edit-distance surface: levenshtein against a fixed probe and
    // between two columns — codegen'd built-in, no UDF, scan-fused
    "q55_stringdist" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        levenshtein(col("p_name"), lit("spring green yellow")).cast("long")
          .as("lev_name"),
        levenshtein(col("p_brand"), col("p_type")).cast("long")
          .as("lev_bt"))),

    // Bitwise aggregates (bit_and/or/xor) — set-membership compaction
    // uses exactly this shape; all three are order-independent so they
    // parallelize with map-side partials
    "q56_bitagg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_linenumber")
        .agg(bit_and(col("l_partkey")).as("band"),
          bit_or(col("l_partkey")).as("bor"),
          bit_xor(col("l_partkey")).as("bxor"),
          count(lit(1)).as("n"))),

    // Deterministic arg-max/arg-min per group via a composite integer
    // sort key (cents ⊕ custkey): ties are impossible by construction,
    // so the survivor is the same on any engine at any parallelism.
    // (The 1e6 custkey radix holds to ~1M keys; a larger id space just
    // needs a wider radix or a struct-ordered max_by.)
    "q57_argmax" -> ((s, dir) => {
      val composite = round(col("c_acctbal") * 100).cast("long") *
        lit(1000000L) + col("c_custkey")
      t(s, dir, "customer")
        .groupBy("c_nationkey")
        .agg(max_by(col("c_name"), composite).as("richest"),
          min_by(col("c_name"), composite).as("poorest"),
          max(col("c_acctbal")).as("max_bal"),
          count(lit(1)).as("n"))
    }),

    // Per-group top-k, BOUNDED: the rank-window + `rk <= 3` filter is
    // the shape Spark's WindowGroupLimit rewrite recognizes — each
    // input partition keeps at most 3 rows per nation BEFORE the
    // window exchange, so per-group state never grows with group size
    // (the previous collect_list form buffered every group member
    // map-side: group COUNT was bounded, group SIZE was not — the
    // wrong bound at 100 TB). The packed-list aggregation then runs
    // over ≤ 3 rows per group; the in-query `require` pins the
    // group-limit rewrite into the plan. Counts come from a separate
    // map-side-combine aggregate and join back on the 25-row result.
    "q58_top3" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey"), col("c_name"))
      val top = cust
        .select(col("c_nationkey"), col("c_acctbal"), col("c_custkey"),
          col("c_name"))
        .withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
        .groupBy("c_nationkey")
        .agg(array_join(
          transform(
            sort_array(collect_list(struct(
              (-col("c_acctbal")).as("negbal"),
              col("c_custkey").as("ck"),
              col("c_name").as("nm")))),
            x => x.getField("nm")), ",").as("top3"))
      val counts = cust.groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      val out = top.join(counts, "c_nationkey")
        .select(col("c_nationkey"), col("top3"), col("n"))
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("WindowGroupLimit"),
        s"per-group top-k must be group-limit pruned, not sorted in " +
          s"full:\n$plan")
      out
    }),

    // Correlation/covariance from exact decimal sums: the five
    // sufficient statistics are summed as decimals (order-independent),
    // then the textbook formulas run once per group in double — the
    // only way corr() hash-matches across engines and parallelism
    "q59_corr" -> ((s, dir) => {
      val agg = t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          dsumDec(col("l_quantity"), 2).as("sx"),
          dsumDec(col("l_extendedprice"), 2).as("sy"),
          dsumDec(col("l_quantity") * col("l_extendedprice"), 4).as("sxy"),
          dsumDec(col("l_quantity") * col("l_quantity"), 4).as("sxx"),
          dsumDec(col("l_extendedprice") * col("l_extendedprice"), 4)
            .as("syy"))
      val nd = col("n").cast("double")
      val (sx, sy, sxy, sxx, syy) =
        (col("sx").cast("double"), col("sy").cast("double"),
          col("sxy").cast("double"), col("sxx").cast("double"),
          col("syy").cast("double"))
      agg.select(col("l_returnflag"), col("n"),
        ((nd * sxy - sx * sy) /
          (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy)))
          .as("corr_qty_price"),
        (sxy / nd - (sx / nd) * (sy / nd)).as("covar_pop"))
    }),

    // Column profiling: cardinality + extrema of several columns in one
    // pass — the data-quality scan a pipeline runs on every new drop.
    // Multiple exact distincts expand to one multi-phase aggregate
    "q60_profile" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("d_order"),
        countDistinct(col("l_partkey")).as("d_part"),
        countDistinct(col("l_suppkey")).as("d_supp"),
        countDistinct(col("l_returnflag")).as("d_flag"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))),

    // The corpus report every curation run publishes: per (lang, source)
    // slice — volume, token mass, median length, unique-content count.
    // Integer sums keep it engine-portable; the median comes from
    // Quantiles.orderStats (count-histogram order statistics) rather
    // than the `percentile(...)` aggregate, which buffers every value of
    // a group in one aggregation buffer — the join back to the grouped
    // totals is groups-sized, so AQE broadcasts it
    "e19_corpus_report" -> ((s, dir) => {
      import graft.operators.Quantiles.{fracAt, hiRank, loRank, orderStats}
      val base = t(s, dir, "documents")
        .select(col("lang"), col("source"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).as("ntok"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
      val totals = base.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("total_tokens"),
          countDistinct(col("fp")).as("n_unique"))
      val med = orderStats(base, Seq("lang", "source"), "n_chars",
        Seq[(String, Column => Column)](
          "lo50" -> (c => loRank(c, 1, 2)), "hi50" -> (c => hiRank(c, 1, 2))))
        .select(col("lang"), col("source"),
          (col("lo50").cast("double") + fracAt(col("n_total"), 1, 2) *
            (col("hi50").cast("double") - col("lo50").cast("double")))
            .as("median_chars"))
      totals.join(med, Seq("lang", "source"))
        .select("lang", "source", "n_docs", "total_tokens", "median_chars",
          "n_unique")
    }),

    // Benchmark decontamination, soft form: fraction of each candidate
    // document's distinct bigrams that appear anywhere in the benchmark
    // slice (doc_id % 20 = 0). The benchmark shingle set is broadcast —
    // eval sets are tiny next to a 100 TB corpus, so the scan side
    // never shuffles
    "e20_ngram_contam" -> ((s, dir) => {
      // both the benchmark set and the candidate scan read this frame;
      // persisted, the tokenize→bigram→explode pass runs once
      val sh = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          explode(TextAnalysis.wordShinglesFromTokens(col("tk"))).as("s"))
        .persist()
      val bench = sh.where(col("doc_id") % 20 === 0)
        .select("s").distinct().withColumn("hit", lit(1L))
      sh.where(col("doc_id") % 20 =!= 0)
        .join(broadcast(bench), Seq("s"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("doc_id"), col("n_sh"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_sh")).as("contam_frac"))
    }),

    // Token-count histogram (bucket width 16): the length-distribution
    // report that drives context-window and packing decisions
    "e21_token_hist" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(TextAnalysis.tokenCount(col("text")).as("ntok"),
          col("n_chars"))
        .groupBy(floor(col("ntok") / lit(16.0)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("ntok")).as("min_tok"),
          max(col("ntok")).as("max_tok"),
          sum(col("n_chars")).as("total_chars"))),

    // Per-source quality scorecard. Ratio averages go through fixed-point
    // integer sums (floor(r·1e9)) — double summation order differs across
    // engines/parallelism, quantized longs do not
    "e22_source_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), col("text"),
          TextAnalysis.tokens(col("text")).as("tk"))
        .where(size(col("tk")) > 0)
        .select(col("source"),
          size(col("tk")).cast("long").as("ntok"),
          floor(TextAnalysis.punctRatio(col("text")) * lit(1e9))
            .cast("long").as("pq"),
          floor((size(filter(col("tk"),
            x => x.isInCollection(allMarkers))).cast("double") /
            size(col("tk"))) * lit(1e9)).cast("long").as("sq"))
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("total_tokens"),
          (sum(col("pq")).cast("double") / lit(1e9) / count(lit(1)))
            .as("avg_punct"),
          (sum(col("sq")).cast("double") / lit(1e9) / count(lit(1)))
            .as("avg_stopword"))
    }),

    // Element-wise mean pooling of embeddings per label (first 8 dims
    // judged): posexplode → group by (label, dim) — the centroid
    // construction IVF training runs; fixed-point sums keep the means
    // exact under any aggregation order
    "e23_mean_pool" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")))
        .where(col("pos") < 8)
        .select(col("label"), col("pos").cast("long").as("pos"),
          floor(col("col").cast("double") * lit(1e7)).cast("long").as("q"))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
        .select(col("label"), col("pos"), col("n"),
          (col("sq").cast("double") / lit(1e7) / col("n")).as("mean_v"))),

    // TPC-H Q14 shape: promo-revenue share over a shipdate quarter —
    // conditional aggregation over a broadcast dimension join; the fact
    // scan carries the pushed date range and never shuffles
    "q62_tpch14" -> ((s, dir) => {
      val p = t(s, dir, "part").select("p_partkey", "p_type")
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1998-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-06-01").cast("timestamp"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(
          dsumDec(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)), 4)
            .as("promo"),
          dsumDec(rev, 4).as("total"))
        .select(
          (lit(100.0) * col("promo").cast("double") /
            col("total").cast("double")).as("promo_revenue_pct"),
          col("total").cast("double").as("total_revenue"))
    }),

    // Exact-substring decontamination: each benchmark probe (a 40-char
    // prefix of an eval document) is scanned for verbatim containment in
    // the candidate corpus. Probes are broadcast — the corpus side stays
    // a narrow scan with a per-row substring search, the shape a 100 TB
    // leak scan must have (never a shuffle of the corpus)
    "e25_exact_contam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val probes = broadcast(
        docs.where(col("doc_id") % 100 === 0 && col("n_chars") >= 40)
          .select(col("doc_id").as("probe_id"),
            substring(col("text"), 1, 40).as("probe")))
      docs.where(col("doc_id") % 100 =!= 0).crossJoin(probes)
        .groupBy("probe_id")
        .agg(count(when(instr(col("text"), col("probe")) > 0, 1))
          .as("n_hits"))
    }),

    // Trailing 1-hour per-user event aggregate via a RANGE frame over
    // epoch-micros — the time-decayed feature window. RANGE (not ROWS)
    // makes same-timestamp peers a single frame, so with fixed-point
    // values the answer is independent of intra-timestamp order
    "q61_time_range" -> ((s, dir) => {
      events(s, dir).createOrReplaceTempView("events_s4")
      s.sql("""
        SELECT event_id, user_id,
          SUM(vq) OVER w AS trail_1h,
          COUNT(*) OVER w AS n_1h
        FROM (SELECT event_id, user_id, unix_micros(ts) AS tsu,
                CAST(floor(value * 1000) AS BIGINT) AS vq
              FROM events_s4)
        WINDOW w AS (PARTITION BY user_id ORDER BY tsu
          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      """)
    }),

    // SimHash near-dup pairs, Manku-style multi-index: 60-bit simhash,
    // 4 bands of 15 bits, Hamming ≤ 3. Pigeonhole makes the banded
    // equi-join EXACT — any pair within 3 flipped bits shares an
    // untouched band — so the oracle is the exhaustive all-pairs
    // definition while the plan never compares beyond band buckets.
    // 2^15 buckets per band keep in-bucket pairs ~n²/32768: the 10×
    // scale bench showed the previous 8-bit bands (256 buckets) going
    // quadratic (×16.8 at ×10 data); 15-bit bands restore ~linear
    "e32_simhash_pairs" -> ((s, dir) => simhashPairs(s, dir)),

    // Null-safe equality join (<=>): the join key is nullable by
    // construction (one segment nulled out), and the null group must
    // match itself — the semantics a dimension with missing keys needs.
    // Both sides pre-aggregate to segment cardinality before joining
    "q66_nullsafe_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val a = c.groupBy(nullif(col("c_mktsegment"), lit("BUILDING"))
          .as("seg"))
        .agg(count(lit(1)).as("n_a"))
      val b = c.where(col("c_custkey") % 2 === 0)
        .groupBy(nullif(col("c_mktsegment"), lit("BUILDING")).as("seg2"))
        .agg(count(lit(1)).as("n_b"))
      a.join(b, col("seg") <=> col("seg2"))
        .select(col("seg"), col("n_a"), col("n_b"))
    }),

    // Per-language z-score of document length from exact integer sums
    // (n, Σx, Σx²) — the feature-normalization pass before length-aware
    // sampling. The group stats broadcast back to the narrow scan; every
    // double derives from exact integers through an identical formula,
    // so the scores are bit-stable at any parallelism
    "e31_len_zscore" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("ntok"))
      val stats = d.groupBy(col("lang").as("lang2"))
        .agg(count(lit(1)).as("n"), sum(col("ntok")).as("sx"),
          sum(col("ntok") * col("ntok")).as("sxx"))
      val nd = col("n").cast("double")
      val mean = col("sx").cast("double") / nd
      val variance = col("sxx").cast("double") / nd - mean * mean
      d.join(broadcast(stats), col("lang") === col("lang2"))
        .select(col("doc_id"), col("lang"), col("ntok"),
          ((col("ntok").cast("double") - mean) / sqrt(variance)).as("z"))
    }),

    // Third string-scalar tranche: padding, reversal, char codes,
    // left/right slicing — all codegen'd built-ins, scan-fused
    "q65_strings3" -> ((s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        lpad(col("c_name"), 25, "*").as("padded"),
        rpad(col("c_mktsegment"), 12, ".").as("seg_pad"),
        reverse(col("c_name")).as("rev_name"),
        ascii(col("c_name")).cast("long").as("first_code"),
        expr("left(c_name, 9)").as("prefix"),
        expr("right(c_name, 4)").as("suffix"))),

    // Exact per-language token-count quartiles (interpolated) — the
    // length-distribution summary a curation run reports per slice. Via
    // Quantiles.orderStats (count-histogram order statistics) instead of
    // the `percentile(...)` aggregate, which buffers every value of a
    // group in one aggregation buffer; the bracketing order statistics
    // come out of a parallel plan and the quarter-step lerp is exact in
    // double on integer inputs, so values hash-match at any parallelism
    "e30_quartiles" -> ((s, dir) => {
      import graft.operators.Quantiles._
      val st = orderStats(
        t(s, dir, "documents")
          .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("ntok")),
        Seq("lang"), "ntok",
        Seq[(String, Column => Column)](
          "lo25" -> (c => loRank(c, 1, 4)), "hi25" -> (c => hiRank(c, 1, 4)),
          "lo50" -> (c => loRank(c, 1, 2)), "hi50" -> (c => hiRank(c, 1, 2)),
          "lo75" -> (c => loRank(c, 3, 4)), "hi75" -> (c => hiRank(c, 3, 4))))
      def lerp(lo: String, hi: String, num: Long, den: Long): Column =
        col(lo).cast("double") +
          fracAt(col("n_total"), num, den) *
            (col(hi).cast("double") - col(lo).cast("double"))
      st.select(col("lang"), col("n_total").as("n_docs"),
        lerp("lo25", "hi25", 1, 4).as("p25"),
        lerp("lo50", "hi50", 1, 2).as("p50"),
        lerp("lo75", "hi75", 3, 4).as("p75"))
    }),

    // TPC-H Q19 shape: disjunctive (brand × quantity-band × size-band)
    // predicate across the join — the filter shape Catalyst can only
    // partially push (the common l_partkey/p_partkey conjunct reaches
    // the scans; the OR evaluates post-join against the broadcast dim)
    "q64_tpch19" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val disj =
        (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11) &&
          col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20) &&
          col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#24" && col("l_quantity").between(20, 30) &&
          col("p_size").between(1, 15))
      t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey") && disj)
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"),
          count(lit(1)).as("n"))
    }),

    // Dedup audit by provenance: which sources contribute near-duplicate
    // candidates, at what rate — the report that decides where to spend
    // curation effort. Reuses the judged LSH candidate-pair definition;
    // the pair set is tiny next to the corpus, so the join back is a
    // broadcast at any scale
    "e29_dedup_by_source" -> ((s, dir) => {
      val pairs = DedupQueries.all("e1_minhash_pairs")(s, dir)
      val dupIds = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id")))
        .distinct().withColumn("dup", lit(1L))
      t(s, dir, "documents")
        .join(broadcast(dupIds), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(col("dup")).as("n_dup_involved"),
          (count(col("dup")).cast("double") / count(lit(1)))
            .as("dup_rate"))
    }),

    // Repeated-passage scan: non-overlapping 16-token chunks fingerprinted
    // across the corpus; a chunk whose fingerprint occurs more than once
    // anywhere marks duplicated passage content (the within-corpus
    // boilerplate signal line-level dedup targets). Chunking is a narrow
    // generate stage; the only exchanges are on the constant-width
    // fingerprint — never the text. The chunk-fp frame is durably
    // staged ([[chunkFp16]]) and shared with e126's span-extent audit.
    "e28_passage_dedup" -> ((s, dir) => {
      val ch = chunkFp16(s, dir)
      val dup = ch.groupBy("fp").agg(count(lit(1)).as("cnt"))
      ch.join(dup, "fp")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          count(when(col("cnt") > 1, 1)).as("n_dup_chunks"),
          (count(when(col("cnt") > 1, 1)).cast("double") / count(lit(1)))
            .as("dup_frac"))
    }),

    // Weekly revenue rollup + volume ranking. The ORDER BY is a total
    // order (week_start is unique within the grouped frame), so rank =
    // dense_rank = row_number — computed via the scale-safe two-pass
    // global rank instead of an empty-partition window (which would
    // single-task the frame and trip WindowExec's AllTuples path even
    // behind a constant partition key, see operators/Rank.scala)
    "q63_rank_weeks" -> ((s, dir) => {
      import graft.operators.Rank
      val weekly = t(s, dir, "orders")
        .groupBy(date_trunc("week", col("o_orderdate")).as("week_start"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice"), 2).as("revenue"))
      Rank.withGlobalRowNumber(weekly,
        Seq(col("n_orders").desc, col("week_start")))
        .select(col("week_start"), col("n_orders"), col("revenue"),
          col("rn").as("volume_rank"),
          col("rn").as("volume_rank_gaps"))
    }),

    // Tokenizer-design report: what fraction of all token occurrences
    // the top-1000 vocabulary covers. Two aggregations over one persisted
    // term-frequency frame; all counts integer-exact. The top-k side is
    // a TakeOrdered (no full sort) — the 100 TB shape for vocab builds
    "e26_vocab_coverage" -> ((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .persist()
      val top = tf.orderBy(col("n").desc, col("tok")).limit(1000)
      top.agg(count(lit(1)).as("vocab_size"), sum(col("n")).as("covered"))
        .crossJoin(tf.agg(sum(col("n")).as("total_tokens")))
        .select(col("vocab_size"), col("total_tokens"), col("covered"),
          (col("covered").cast("double") / col("total_tokens"))
            .as("coverage_frac"))
    }),

    // Embedding coverage + mean L2 per corpus slice: documents ⟕
    // embeddings on id — the audit a multimodal corpus runs to find
    // slices missing vectors. Fixed-point norm sums keep the per-lang
    // means exact; at scale both sides are large so the id join shuffles
    // (no broadcast hint on purpose)
    "e27_embed_coverage" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"),
        floor(sqrt(graft.operators.Similarity.dot(col("embedding"),
          col("embedding"))) * lit(1e7)).cast("long").as("l2q"))
      t(s, dir, "documents").select("doc_id", "lang")
        .join(emb, col("doc_id") === col("vec_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count(col("l2q")).as("n_with_emb"),
          (sum(col("l2q")).cast("double") / lit(1e7) / count(col("l2q")))
            .as("avg_l2"))
    }),

    // Recall@10 of the LSH-bucketed ANN against the exact scan — the
    // accuracy/cost check an ANN deployment publishes alongside its
    // index. Both sides reuse the judged query definitions verbatim
    "e24_ann_recall" -> ((s, dir) => {
      val exact = SimilarityQueries.all("e2_topk_double")(s, dir)
        .select("vec_id")
      val approx = SimilarityQueries.all("e2_lsh_topk")(s, dir)
        .select("vec_id")
      exact.join(approx, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(10L).as("k"), col("n_hit"),
          (col("n_hit").cast("double") / lit(10.0)).as("recall"))
    }))

  /** SimHash near-dup pairs, Manku-style multi-index: 60-bit simhash,
    * 4 bands of 15 bits, Hamming ≤ 3. Pigeonhole makes the banded
    * equi-join EXACT — any pair within 3 flipped bits shares an
    * untouched band — so the oracle is the exhaustive all-pairs
    * definition while the plan never compares beyond band buckets.
    * 2^15 buckets per band keep in-bucket pairs ~n²/32768: the 10×
    * scale bench showed the previous 8-bit bands (256 buckets) going
    * quadratic (×16.8 at ×10 data); 15-bit bands restore ~linear.
    * The bit-vote fold runs in the native codegen expression
    * (simhash_fold — bit-identical to Dedup.simhash60OfHashes, see the
    * OperatorsSpec equality property); the HOF fold form was ~12 s of
    * a 17 s query at the 10× corpus. Durably STAGED (r16, the
    * lsh-pairs discipline): e32 judges the frame, e138's
    * capture–recapture census re-reads it — the tokenize→hash→fold→
    * band pipeline runs once per JVM×sf, not once per consumer.
    */
  private[queries] def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    // the build-side pin is released AFTER durableFrame's eager write
    // (the e129/e131 discipline — a persist inside a staging thunk
    // would otherwise outlive the build by the whole JVM)
    var pinned: DataFrame = null
    val res = Stage.durableFrame(s, "simhash60-pairs", dir) {
      graft.functions.GraftFunctions.register(s)
      val sh = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.Dedup.tokenHashes60(
            TextAnalysis.tokens(col("text"))).as("th"))
        .where(size(col("th")) > 0)
        .select(col("doc_id"),
          call_function("simhash_fold", col("th"), lit(60)).as("simhash"))
      // both sides of the self-join read this frame: persisted, the
      // tokenize→hash→bit-fold pipeline runs once, not twice
      val banded = sh.select(col("doc_id"), col("simhash"),
        posexplode(array(
          graft.operators.Dedup.simhash60Bands(col("simhash")): _*)))
        .persist()
      pinned = banded
      val a = banded.as("a")
      val b = banded.as("b")
      a.join(b, col("a.pos") === col("b.pos") &&
          col("a.col") === col("b.col") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
            .cast("long").as("hamming"))
        .where(col("hamming") <= 3)
        .distinct()
    }
    if (pinned != null) pinned.unpersist()
    res
  }

  private val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
  private val bigramsSql =
    "list_distinct(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]))"
  private val allMarkersSql =
    allMarkers.map(m => s"'$m'").mkString("[", ", ", "]")

  val oracles: Map[String, String] = Map(
    "q53_ntile" ->
      """SELECT c_custkey,
         CAST(ntile(4) OVER w AS BIGINT) AS quartile,
         cume_dist() OVER w AS cdist,
         CAST(row_number() OVER w AS BIGINT) AS rn
         FROM customer WINDOW w AS (ORDER BY c_acctbal, c_custkey)""",
    "q54_hist" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
         count(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY bin""",
    "q55_stringdist" ->
      """SELECT p_partkey,
         CAST(levenshtein(p_name, 'spring green yellow') AS BIGINT) AS lev_name,
         CAST(levenshtein(p_brand, p_type) AS BIGINT) AS lev_bt
         FROM part""",
    "q56_bitagg" ->
      """SELECT l_linenumber,
         bit_and(l_partkey) AS band, bit_or(l_partkey) AS bor,
         bit_xor(l_partkey) AS bxor, count(*) AS n
         FROM lineitem GROUP BY l_linenumber""",
    "q57_argmax" ->
      """SELECT c_nationkey,
         arg_max(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 1000000
           + c_custkey) AS richest,
         arg_min(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 1000000
           + c_custkey) AS poorest,
         max(c_acctbal) AS max_bal, count(*) AS n
         FROM customer GROUP BY c_nationkey""",
    "q58_top3" ->
      """SELECT c_nationkey,
         array_to_string(
           (list(c_name ORDER BY c_acctbal DESC, c_custkey))[1:3], ',')
           AS top3,
         count(*) AS n
         FROM customer GROUP BY c_nationkey""",
    // NOTE: decimal→double goes through VARCHAR because DuckDB's direct
    // DECIMAL→DOUBLE cast double-rounds once the scaled integer exceeds
    // 2^53 (int128→double, then ÷10^s); the string parse is correctly
    // rounded and matches Spark's BigDecimal.doubleValue exactly
    "q59_corr" ->
      """WITH a AS (SELECT l_returnflag, count(*) AS n,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS VARCHAR)
             AS DOUBLE) AS sx,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS VARCHAR)
             AS DOUBLE) AS sy,
           CAST(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4)))
             AS VARCHAR) AS DOUBLE) AS sxy,
           CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,4)))
             AS VARCHAR) AS DOUBLE) AS sxx,
           CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice
             AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS syy
         FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
           (CAST(n AS DOUBLE) * sxy - sx * sy) /
           (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
            * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_qty_price,
           sxy / CAST(n AS DOUBLE)
             - (sx / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE))
             AS covar_pop
         FROM a""",
    "q60_profile" ->
      """SELECT count(*) AS n_rows,
         count(DISTINCT l_orderkey) AS d_order,
         count(DISTINCT l_partkey) AS d_part,
         count(DISTINCT l_suppkey) AS d_supp,
         count(DISTINCT l_returnflag) AS d_flag,
         min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
         FROM lineitem""",
    "e19_corpus_report" ->
      s"""SELECT lang, source, count(*) AS n_docs,
          CAST(SUM(len($tokensSql)) AS BIGINT) AS total_tokens,
          quantile_cont(n_chars, 0.5) AS median_chars,
          count(DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')))
            AS n_unique
          FROM documents GROUP BY lang, source""",
    "e20_ngram_contam" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
          sh AS (SELECT doc_id, unnest($bigramsSql) AS s FROM tk),
          bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0)
          SELECT doc_id, count(*) AS n_sh,
            CAST(count(*) FILTER (WHERE s IN (SELECT s FROM bench))
              AS BIGINT) AS n_hit,
            CAST(count(*) FILTER (WHERE s IN (SELECT s FROM bench))
              AS DOUBLE) / count(*) AS contam_frac
          FROM sh WHERE doc_id % 20 <> 0 GROUP BY doc_id""",
    "e21_token_hist" ->
      s"""WITH d AS (SELECT CAST(len($tokensSql) AS BIGINT) AS ntok, n_chars
            FROM documents)
          SELECT CAST(floor(ntok / 16.0) AS BIGINT) AS bucket,
            count(*) AS n_docs,
            min(ntok) AS min_tok, max(ntok) AS max_tok,
            CAST(SUM(n_chars) AS BIGINT) AS total_chars
          FROM d GROUP BY bucket""",
    "e22_source_quality" ->
      s"""WITH d AS (SELECT source, CAST(len($tokensSql) AS BIGINT) AS ntok,
            CAST(floor(CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '',
              'g')) AS DOUBLE) / len(text) * 1e9) AS BIGINT) AS pq,
            CAST(floor(CAST(len(list_filter($tokensSql,
              x -> list_contains($allMarkersSql, x))) AS DOUBLE)
              / len($tokensSql) * 1e9) AS BIGINT) AS sq
          FROM documents WHERE len($tokensSql) > 0)
          SELECT source, count(*) AS n_docs,
            CAST(SUM(ntok) AS BIGINT) AS total_tokens,
            CAST(SUM(pq) AS DOUBLE) / 1e9 / count(*) AS avg_punct,
            CAST(SUM(sq) AS DOUBLE) / 1e9 / count(*) AS avg_stopword
          FROM d GROUP BY source""",
    "e23_mean_pool" ->
      """WITH x AS (SELECT label, t.pos AS pos,
           CAST(floor(CAST(embedding[CAST(t.pos + 1 AS INT)] AS DOUBLE) * 1e7)
             AS BIGINT) AS q
         FROM embeddings, unnest(range(0, 8)) AS t(pos))
         SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos,
           count(*) AS n,
           CAST(SUM(q) AS DOUBLE) / 1e7 / count(*) AS mean_v
         FROM x GROUP BY label, pos""",
    "q62_tpch14" ->
      """WITH f AS (SELECT
           SUM(CAST(CASE WHEN p_type = 'PROMO'
             THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
             AS DECIMAL(38,4))) AS promo,
           SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4)))
             AS total
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1998-03-01'
           AND l_shipdate < TIMESTAMP '1998-06-01')
         SELECT 100.0 * CAST(CAST(promo AS VARCHAR) AS DOUBLE)
             / CAST(CAST(total AS VARCHAR) AS DOUBLE) AS promo_revenue_pct,
           CAST(CAST(total AS VARCHAR) AS DOUBLE) AS total_revenue
         FROM f""",
    "e25_exact_contam" ->
      """WITH p AS (SELECT doc_id AS probe_id, substr(text, 1, 40) AS probe
           FROM documents WHERE doc_id % 100 = 0 AND n_chars >= 40)
         SELECT probe_id,
           CAST(count(*) FILTER (WHERE instr(d.text, p.probe) > 0)
             AS BIGINT) AS n_hits
         FROM documents d, p WHERE d.doc_id % 100 <> 0
         GROUP BY probe_id""",
    "q61_time_range" ->
      """WITH e AS (SELECT event_id, user_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
           CAST(floor(value * 1000) AS BIGINT) AS vq FROM events)
         SELECT event_id, user_id,
           CAST(SUM(vq) OVER w AS BIGINT) AS trail_1h,
           COUNT(*) OVER w AS n_1h
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY tsu
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",
    "e32_simhash_pairs" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS tk
            FROM documents WHERE len($tokensSql) > 0),
          bits AS (SELECT doc_id, g.j,
              SUM(CASE WHEN (CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)
                             >> g.j) % 2 = 1 THEN 1 ELSE -1 END) AS bsum
            FROM tok, generate_series(0, 59) AS g(j)
            GROUP BY doc_id, g.j),
          sh AS (SELECT doc_id,
              CAST(SUM(CASE WHEN bsum > 0 THEN CAST(1 AS BIGINT) << j
                ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
    "q66_nullsafe_join" ->
      """WITH a AS (SELECT nullif(c_mktsegment, 'BUILDING') AS seg,
             count(*) AS n_a FROM customer GROUP BY 1),
          b AS (SELECT nullif(c_mktsegment, 'BUILDING') AS seg2,
             count(*) AS n_b FROM customer WHERE c_custkey % 2 = 0
             GROUP BY 1)
         SELECT seg, n_a, n_b
         FROM a JOIN b ON seg IS NOT DISTINCT FROM seg2""",
    "e31_len_zscore" ->
      s"""WITH d AS (SELECT doc_id, lang,
            CAST(len($tokensSql) AS BIGINT) AS ntok FROM documents),
          st AS (SELECT lang AS lang2, count(*) AS n,
            CAST(SUM(ntok) AS BIGINT) AS sx,
            CAST(SUM(ntok * ntok) AS BIGINT) AS sxx
          FROM d GROUP BY lang)
          SELECT doc_id, lang, ntok,
            (CAST(ntok AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
            / sqrt(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS z
          FROM d JOIN st ON lang = lang2""",
    "q65_strings3" ->
      """SELECT c_custkey,
         lpad(c_name, 25, '*') AS padded,
         rpad(c_mktsegment, 12, '.') AS seg_pad,
         reverse(c_name) AS rev_name,
         CAST(ascii(c_name) AS BIGINT) AS first_code,
         left(c_name, 9) AS prefix,
         right(c_name, 4) AS suffix
         FROM customer""",
    "e30_quartiles" ->
      s"""SELECT lang, count(*) AS n_docs,
          quantile_cont(ntok, 0.25) AS p25,
          quantile_cont(ntok, 0.5) AS p50,
          quantile_cont(ntok, 0.75) AS p75
          FROM (SELECT lang, CAST(len($tokensSql) AS BIGINT) AS ntok
                FROM documents)
          GROUP BY lang""",
    "q64_tpch19" ->
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS revenue,
           count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
           AND ((p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
                 AND p_size BETWEEN 1 AND 5)
             OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
                 AND p_size BETWEEN 1 AND 10)
             OR (p_brand = 'Brand#24' AND l_quantity BETWEEN 20 AND 30
                 AND p_size BETWEEN 1 AND 15))""",
    "e29_dedup_by_source" ->
      s"""WITH pr AS (${DedupQueries.oracles("e1_minhash_pairs")}),
          ids AS (SELECT id_a AS doc_id FROM pr
                  UNION SELECT id_b FROM pr)
          SELECT source, count(*) AS n_docs,
            CAST(count(i.doc_id) AS BIGINT) AS n_dup_involved,
            CAST(count(i.doc_id) AS DOUBLE) / count(*) AS dup_rate
          FROM documents d LEFT JOIN ids i ON d.doc_id = i.doc_id
          GROUP BY source""",
    "e28_passage_dedup" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
          ch AS (SELECT doc_id,
              md5(array_to_string(tk[s : least(s + 15,
                CAST(len(tk) AS BIGINT))], ' ')) AS fp
            FROM (SELECT doc_id, tk,
                    unnest(range(1, CAST(len(tk) AS BIGINT) + 1, 16)) AS s
                  FROM tk WHERE len(tk) > 0)),
          dup AS (SELECT fp, count(*) AS cnt FROM ch GROUP BY fp)
          SELECT doc_id, count(*) AS n_chunks,
            CAST(count(*) FILTER (WHERE cnt > 1) AS BIGINT) AS n_dup_chunks,
            CAST(count(*) FILTER (WHERE cnt > 1) AS DOUBLE) / count(*)
              AS dup_frac
          FROM ch JOIN dup USING (fp) GROUP BY doc_id""",
    "q63_rank_weeks" ->
      """WITH w AS (SELECT date_trunc('week', o_orderdate) AS week_start,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
             AS revenue
         FROM orders GROUP BY week_start)
         SELECT week_start, n_orders, revenue,
           CAST(dense_rank() OVER
             (ORDER BY n_orders DESC, week_start) AS BIGINT) AS volume_rank,
           CAST(rank() OVER
             (ORDER BY n_orders DESC, week_start) AS BIGINT)
             AS volume_rank_gaps
         FROM w""",
    "e26_vocab_coverage" ->
      s"""WITH tf AS (SELECT token, count(*) AS n
            FROM (SELECT unnest($tokensSql) AS token FROM documents)
            GROUP BY token),
          top AS (SELECT n FROM tf ORDER BY n DESC, token LIMIT 1000),
          a AS (SELECT count(*) AS vocab_size,
                  CAST(SUM(n) AS BIGINT) AS covered FROM top),
          tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_tokens FROM tf)
          SELECT vocab_size, total_tokens, covered,
            CAST(covered AS DOUBLE) / total_tokens AS coverage_frac
          FROM a, tot""",
    "e27_embed_coverage" ->
      s"""WITH e AS (SELECT vec_id,
            CAST(floor(sqrt(${SimilarityQueries.foldDot("embedding",
              "embedding")}) * 1e7) AS BIGINT) AS l2q
          FROM embeddings)
          SELECT lang, count(*) AS n_docs, count(l2q) AS n_with_emb,
            CAST(SUM(l2q) AS DOUBLE) / 1e7 / count(l2q) AS avg_l2
          FROM documents d LEFT JOIN e ON d.doc_id = e.vec_id
          GROUP BY lang""",
    "e24_ann_recall" ->
      s"""WITH ex AS (${SimilarityQueries.doubleCosineSql}),
          ap AS (${SimilarityQueries.lshSql})
          SELECT CAST(10 AS BIGINT) AS k, count(*) AS n_hit,
            CAST(count(*) AS DOUBLE) / 10.0 AS recall
          FROM ex WHERE vec_id IN (SELECT vec_id FROM ap)""")
}

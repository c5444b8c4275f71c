package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.operators.{HeavyHitters, Quantiles, TextAnalysis}

/** Sketches: approximate distinct counts, heavy hitters, Count-Min and
  * quantile sketches, each judged against exact truth.
  */
object SketchQueries extends Family {
  import Tables._

  /** e59's Misra–Gries k: the cnt·(k+1) > total gate constant, shared
    * with the streaming twin (c41) and the oracle text so the three
    * sites can never silently diverge.
    */
  private[queries] val heavyHitterK = 64

  /** e59_heavy_hitters's oracle, shared with the queries that embed it. */
  private[queries] val heavyHittersSql =
      s"""SELECT lang || '|' || source AS key, CAST(count(*) AS BIGINT) AS cnt
         FROM documents GROUP BY 1
         HAVING count(*) * ${heavyHitterK + 1} > (SELECT count(*) FROM documents)"""

  /** Count-min geometry: d independent hash rows × w buckets. Tiny on
    * purpose (so collisions actually happen at the judged sf and the
    * overestimate property is exercised, not vacuous); production uses
    * w in the thousands. */
  private val cmD = 3

  private val cmW = 64L

  /** Bucket of `tok` under hash row `d`: first 8 md5 hex chars of
    * "d_tok" as an int, mod w — the same derivation the oracle writes
    * in DuckDB SQL, so sketch cells match cell-for-cell. */
  private def cmBucket(d: Int, tok: Column): Column =
    pmod(conv(substring(md5(concat(lit(s"${d}_"), tok)
      .cast("binary")), 1, 8), 16, 10).cast("long"), lit(cmW))

  private val cmBucketSqlFmt =
    "CAST('0x' || substr(md5('%d_' || tok), 1, 8) AS BIGINT) %% " + cmW

  /** e166: sketch accuracy knob and its rank-error guarantee ε·n. */
  private val pctAccuracy = 1000

  /** The word-TYPE truth frame both Count–Min queries probe against
    * (sketch geometry: the [[graft.operators.Sketches]] defaults,
    * d=4 × w=64 — reproducible in the oracle as
    * '0x'||substr(md5(...),1,8) % 64).
    */
  private[queries] def cmTruth(s: SparkSession, dir: String): DataFrame =
    tBalanced(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("true_cnt"))
      .localCheckpoint(true) // vocab-sized; read by cells + probes

  /** Top-20 point-query report off a (j, b, cell) sketch frame. */
  private[queries] def cmProbeReport(truth: DataFrame, cells: DataFrame)
      : DataFrame =
    graft.operators.Sketches.countMinLookup(cells,
        truth.orderBy(col("true_cnt").desc, col("tok")).limit(20),
        col("tok"))
      .select(col("tok"), col("true_cnt"), col("est_cnt"),
        (col("est_cnt") - col("true_cnt")).as("overcount"))

  /** e168's full value oracle — the sketch is md5 + integer sums, so
    * the oracle rebuilds it exactly; c44 (the shard-merge twin) is
    * judged on the same text because cell-wise merge of per-shard
    * occurrence counts IS the full-corpus sketch.
    */
  private[queries] val cmOracle: String =
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

  val judged: Seq[Judged] = Seq(
    // E3: HLL++ approximate distinct, judged via exact counts + an
    // in-bounds assertion on the estimate
    Judged("e3_approx_distinct", (s, dir) => {
      def ok(c: String) =
        (approx_count_distinct(col(c), 0.02).cast("double") /
          countDistinct(col(c))).between(0.9, 1.1)
      t(s, dir, "orders").agg(
        countDistinct(col("o_custkey")).as("exact_custkeys"),
        ok("o_custkey").as("approx_custkeys_ok"),
        countDistinct(col("o_orderpriority")).as("exact_priorities"),
        ok("o_orderpriority").as("approx_priorities_ok"))
    },
      """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custkeys,
         TRUE AS approx_custkeys_ok,
         CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS exact_priorities,
         TRUE AS approx_priorities_ok
         FROM orders"""),

    // Sketch-vs-exact quantile audit (the e24 pattern for order
    // statistics): approx_percentile's GK sketch guarantees rank error
    // ≤ n/accuracy; the audit brackets the exact median with the exact
    // order statistics at ranks k ∓ ⌈n/accuracy⌉ (one extra rank pair
    // from the SAME scalable histogram pass) and judges that the
    // sketch's value lands inside. The sketch value itself is NOT in
    // the judged frame — its exact value is legitimately
    // merge-order-dependent; the BOUND is the guarantee, and the judged
    // TRUE is red if any group ever violates it.
    Judged("e51_approx_quantile_audit", (s, dir) => {
      import graft.operators.Quantiles.{ldiv, medianRank, selectRanks}
      val li = t(s, dir, "lineitem")
      def err(c: Column): Column = ldiv(c + lit(99L), 100L) // ⌈n/100⌉
      // exact side runs on the staged rank-span CDF (shared with q20/
      // q31/q88); the sketch side deliberately scans the raw fact
      // table — the audit is about what the sketch sees in production
      val exact = selectRanks(
        StatisticsQueries.priceSpans(s, dir), Seq("l_returnflag"),
        "l_extendedprice",
        Seq[(String, Column => Column)](
          "exact_median" -> (c => medianRank(c)),
          "lob" -> (c => greatest(lit(1L), medianRank(c) - err(c))),
          "hib" -> (c => least(c, medianRank(c) + err(c)))))
      val approx = li.groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, 0.5, 100)")
          .as("approx_median"))
      exact.join(approx, "l_returnflag")
        .select(col("l_returnflag"), col("exact_median"),
          (col("approx_median") >= col("lob") &&
            col("approx_median") <= col("hib")).as("within_bound"))
    },
      // the exact median is restated; within_bound TRUE is the sketch's
      // contract — a violating sketch hash-mismatches
      """WITH r AS (
           SELECT l_returnflag, l_extendedprice,
                  row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice) AS rn,
                  count(*) OVER (PARTITION BY l_returnflag) AS n
           FROM lineitem)
          SELECT l_returnflag,
                 max(CASE WHEN rn = (n + 1) // 2 THEN l_extendedprice END)
                   AS exact_median,
                 TRUE AS within_bound
          FROM r GROUP BY l_returnflag"""),

    // HEAVY HITTERS via Misra–Gries sketches + exact confirmation
    // ([[HeavyHitters]]): keys above fraction 1/65 of the corpus,
    // found WITHOUT aggregating the full key cardinality — the sketch
    // pass is narrow (64 counters per partition, union is a provable
    // candidate superset under any partitioning), and only broadcast
    // candidates are counted exactly. Deterministic because the final
    // integer-exact filter is computed from exact counts; the sketch
    // only prunes. The 100 TB shape for "top domains / hot users"
    // where groupBy(key) would shuffle billions of groups for a ≤ 64
    // row answer
    Judged("e59_heavy_hitters", (s, dir) =>
      HeavyHitters.exactHeavyHitters(
        t(s, dir, "documents"),
        concat(col("lang"), lit("|"), col("source")), heavyHitterK)
        .orderBy(col("key")),
      heavyHittersSql),

    // Count-min sketch — THE mergeable frequency structure for token
    // statistics at corpus scale: d×w counters absorb an unbounded
    // token stream, cells sum across shards/days/partitions, and the
    // estimate for any token is min over rows of its cell (always ≥
    // the true count — one-sided error). Judged: the sketch built from
    // the documents token stream vs exact counts for the 10 most
    // frequent tokens, with the overestimate invariant as a column.
    // Scale shape: one narrow tokenize scan; map-side partial agg
    // means the exchange carries ≤ d·w cells per task regardless of
    // input size — the sketch never grows with the corpus. The probe
    // side is 10 rows joined against a ≤ d·w-row broadcast
    Judged("e70_countmin", (s, dir) => {
      val toks = tBalanced(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val cells = toks.select(col("tok"),
        explode(array((0 until cmD).map(d =>
          struct(lit(d).as("d"), cmBucket(d, col("tok")).as("bucket"))): _*))
          .as("cell"))
        .groupBy(col("cell.d").as("d"), col("cell.bucket").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val probes = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("tok")).limit(10)
      val probeCells = probes.select(col("tok"), col("exact"),
        explode(array((0 until cmD).map(d =>
          struct(lit(d).as("d"), cmBucket(d, col("tok")).as("bucket"))): _*))
          .as("cell"))
        .select(col("tok"), col("exact"),
          col("cell.d").as("d"), col("cell.bucket").as("bucket"))
      probeCells.join(broadcast(cells), Seq("d", "bucket"))
        .groupBy("tok", "exact").agg(min(col("cnt")).as("est"))
        .select(col("tok"), col("exact"), col("est"),
          (col("est") >= col("exact")).as("overestimate_ok"))
    },
      {
      val cellUnion = (0 until cmD).map { d =>
        s"SELECT ${d} AS d, ${cmBucketSqlFmt.format(d)} AS bucket, tok FROM toks"
      }.mkString(" UNION ALL ")
      s"""WITH toks AS (
            SELECT unnest(list_filter(
              string_split_regex(lower(text), '[^a-z0-9]+'),
              x -> x <> '')) AS tok
            FROM documents),
          cells AS (SELECT d, bucket, CAST(count(*) AS BIGINT) AS cnt
                    FROM ($cellUnion) GROUP BY d, bucket),
          probes AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact
                     FROM toks GROUP BY tok
                     ORDER BY exact DESC, tok LIMIT 10),
          pc AS (${(0 until cmD).map(d =>
              s"SELECT tok, exact, ${d} AS d, ${cmBucketSqlFmt.format(d)} AS bucket FROM probes")
            .mkString(" UNION ALL ")})
          SELECT p.tok, p.exact, CAST(min(c.cnt) AS BIGINT) AS est,
                 min(c.cnt) >= p.exact AS overestimate_ok
          FROM pc p JOIN cells c ON p.d = c.d AND p.bucket = c.bucket
          GROUP BY p.tok, p.exact"""
    }),

    // `e99_hll_merge` — the mergeable-sketch contract that makes
    // count-distinct feasible at 100 TB: per-event-type DataSketches HLL
    // sketches (hll_sketch_agg), merged with hll_union_agg into a global
    // estimate WITHOUT rescanning — the union of sketches is the sketch of
    // the union, so a 1000-executor fleet aggregates distincts by shipping
    // KB-sized sketches, never row sets. Judged output: exact per-type
    // distincts (value-checked) plus the sketch-vs-exact relative error
    // bound as a boolean (the driver oracle cannot run DataSketches, so the
    // estimate itself is pinned by the ±3% gate rather than by value —
    // house rule from e3_approx_distinct).
    Judged("e99_hll_merge", (s, dir) => {
      val ev = events(s, dir)
      val perType = ev.groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          count_distinct(col("user_id")).as("exact_users"))
      val total = perType.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exactAll = ev.agg(count_distinct(col("user_id")).as("exact_users"))
      // The union row proves sketch mergeability: the merged estimate
      // must land within ±3% of the EXACT global distinct (which is far
      // below the sum of per-type distincts — users repeat across types).
      val allRow = exactAll.crossJoin(total).select(
        lit("__all__").as("event_type"),
        col("exact_users"),
        (abs(col("est") - col("exact_users").cast("double")) <=
          lit(0.03) * col("exact_users").cast("double")).as("est_ok"))
      perType.select(col("event_type"), col("exact_users"),
        (abs(hll_sketch_estimate(col("sk")) -
          col("exact_users").cast("double")) <=
          lit(0.03) * col("exact_users").cast("double")).as("est_ok"))
        .unionByName(allRow)
    },
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
             AS exact_users, TRUE AS est_ok
         FROM events GROUP BY event_type
         UNION ALL
         SELECT '__all__' AS event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS est_ok
         FROM events"""),

    // `q112_approx_quantile_audit` — percentile_approx's mergeable GK
    // sketch certified against the exact rank-span machinery (the e3 HLL
    // pattern for order statistics).
    //
    // APPROX-QUANTILE SKETCH AUDIT — the e3 (HLL) pattern for order
    // statistics: percentile_approx's GK sketch is the only quantile
    // that MERGES at 100 TB (per-partition sketches combine without a
    // global sort), so the audit that certifies it against the exact
    // rank-span machinery is a first-class production query. Judged
    // frame = exact quantiles (engine-portable) + ok booleans that
    // the sketch landed inside its guaranteed rank tolerance — the
    // approx VALUES themselves are merge-order-dependent and stay out
    // of the judged columns (same discipline as e3's HLL audit).
    Judged("q112_approx_quantile_audit", (s, dir) => {
      import graft.operators.Quantiles.ldiv
      val acc = 10000L
      val spans = StatisticsQueries.priceSpans(s, dir)
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
    },
      // exact quantiles via the same smallest-value-at-ceil(p·n) rule;
      // the sketch's ok booleans are TRUE by its rank guarantee
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
         FROM w GROUP BY l_returnflag"""),

    // `e166_quantile_audit` — the approx-vs-exact QUANTILE audit (the e99
    // HLL-vs-exact discipline applied to order statistics):
    // `approx_percentile` (p50/p90, accuracy 1000) per return flag, graded
    // against the staged exact rank spans. The judged columns are the exact
    // statistics and the GUARANTEE booleans (the returned value's rank span
    // lies within ε·n of the target rank) — the sketch's promise, which
    // must hold at ANY partitioning; the sketch value itself is
    // partition-dependent and stays out of the hash. The oracle recomputes
    // the exact side and pins the guarantee TRUE, so a sketch regression
    // fails the tri-gate.
    Judged("e166_quantile_audit", (s, dir) => {
      import graft.operators.Quantiles.{ldiv, medianRank, selectRanks}
      val spans = StatisticsQueries.priceSpans(s, dir)
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
    },
      // exact side recomputed; the guarantee booleans are PINNED true —
      // the sketch's contract, judged as such (the sketch VALUE is
      // partition-dependent and deliberately outside the hash)
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
           JOIN p90 USING (l_returnflag)"""),

    // `e168_countmin` — Count–Min sketch (Cormode & Muthukrishnan) with the
    // top-20 heavy hitters graded against their true counts: d=4
    // md5-derived hash rows × w=64 buckets, cell sums built from the
    // word-TYPE frame (one tokenize pass; everything after is
    // vocabulary-bounded), estimate = min over rows. Unlike HLL/GK
    // (e3/e99/e166, engine-specific internals), Count–Min is exactly
    // reproducible cross-engine — md5 buckets + integer sums — so the
    // sketch VALUES are fully hash-judged, and est ≥ true (the one-sided
    // guarantee) is visible in the judged overcount column. Complements
    // e98's Misra–Gries (deterministic heavy-hitter LIST) with the
    // point-query sketch a shard-merge pipeline ships.
    Judged("e168_countmin", (s, dir) => {
      val truth = cmTruth(s, dir)
      val cells = graft.operators.Sketches.countMinCells(
        truth, col("tok"), col("true_cnt"))
      cmProbeReport(truth, cells)
    },
      cmOracle),

    // `e173_cm_delta` — heavy-CHANGE detection between two corpus snapshots
    // via Count–Min sketch DIFFERENCE (the deltoids idea of Cormode &
    // Muthukrishnan: linear sketches subtract, so drift between snapshots
    // is answered from per-snapshot sketches alone, never a re-scan):
    // per-shard sketches and per-shard truths all derive from ONE tokenize
    // pass (a (par, tok, cnt) frame — at 100 TB each snapshot ships its
    // 256-cell sketch and the delta is coordinator-side algebra). Probe
    // tokens absent from one shard exercise the zero-fill lookup contract
    // on both plans.
    Judged("e173_cm_delta", (s, dir) => {
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
    },
      {
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
    }))
}

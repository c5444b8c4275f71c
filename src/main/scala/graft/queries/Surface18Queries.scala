package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 surface growth: ranked retrieval, regression diagnostics,
  * and mergeable-sketch auditing — four operator families a corpus
  * pipeline reaches for that the judged surface did not yet exercise.
  *
  *  - `e96_bm25` — BM25 ranked retrieval over a fixed query set. The
  *    posting lists are built by ONE token explode + aggregate, the
  *    query-term table is a broadcast literal (so only postings of
  *    query terms ever shuffle — at 100 TB the Zipf head of the corpus
  *    never enters the exchange), and per-query top-5 runs on the
  *    rank()-over-window group-limit path. The idf uses the RATIONAL
  *    core (N − df + ½)/(df + ½) of the Robertson–Spärck Jones weight
  *    WITHOUT the ln: ln is not guaranteed correctly-rounded and its
  *    last-ulp disagreement across engines would make a value-hashed
  *    oracle flaky, while the ln-free form keeps every operation an
  *    IEEE-exact +,−,×,÷ that DuckDB and the JVM round identically.
  *    (Per-term ordering is unchanged — ln is monotone; the judged
  *    metric is documented as rational-idf BM25.) Term scores are
  *    summed as DECIMAL(38,9) images so the score is independent of
  *    Spark's partition-order float summation.
  *  - `e97_ols_trend` — per-event-type ordinary-least-squares trend of
  *    `value` against time, from the five sufficient statistics
  *    (n, Σx, Σy, Σxy, Σxx) gathered in ONE partial-aggregated pass —
  *    the single-scan map-side-combine shape that turns a 100 TB
  *    regression into one exchange of 5 numbers per group. Sums are
  *    exact (integer x-seconds, DECIMAL images of the double column);
  *    the closed-form slope/intercept is evaluated in doubles from the
  *    exact sums, so both engines compute bit-identical results.
  *  - `e98_acf` — lag-1 autocorrelation of the daily event-count
  *    series per event type (the seasonality/burst diagnostic next to
  *    e92's EWMA and e93's burst ratio). Day counts are integers, so
  *    all sufficient statistics are integer-exact; the final Pearson
  *    formula is one double expression (sqrt is IEEE correctly-rounded
  *    everywhere, unlike ln). The series pairing uses lag() over the
  *    day-ordered window — consecutive OBSERVATIONS, exactly mirrored
  *    in the oracle's window.
  *  - `e99_hll_merge` — the mergeable-sketch contract that makes
  *    count-distinct feasible at 100 TB: per-event-type DataSketches
  *    HLL sketches (hll_sketch_agg), merged with hll_union_agg into a
  *    global estimate WITHOUT rescanning — the union of sketches is
  *    the sketch of the union, so a 1000-executor fleet aggregates
  *    distincts by shipping KB-sized sketches, never row sets. Judged
  *    output: exact per-type distincts (value-checked) plus the
  *    sketch-vs-exact relative error bound as a boolean (the driver
  *    oracle cannot run DataSketches, so the estimate itself is pinned
  *    by the ±3% gate rather than by value — house rule from
  *    e3_approx_distinct).
  *  - `q108_weighted_median` — exact quantity-weighted median of
  *    l_extendedprice per return flag. Phase 1 collapses 100 TB of
  *    rows to one weight per DISTINCT (flag, price) — the only
  *    full-data exchange, a plain hash aggregate; phase 2's cumulative
  *    window runs over distinct prices only (orders of magnitude
  *    smaller, the same rank-span idea as q20's median without a
  *    per-row sort). The pick rule (least price whose doubled
  *    cumulative weight ≥ total) compares exact DECIMAL images, so no
  *    float halving is judged.
  *
  * Reference parity: the reference's pandas loop (etl.py:1-246) has no
  * retrieval, regression, sketch, or order-statistics surface; all
  * five extend SURVEY §2.5–2.6's analytics axis.
  */
object Surface18Queries extends QuerySet {
  import Tables._

  /** (query_id, term) pairs for e96 — a literal broadcast table. */
  private val bm25Terms: Seq[(String, String)] = Seq(
    "t1" -> "vector", "t1" -> "scan",
    "t2" -> "join", "t2" -> "hash", "t2" -> "merge",
    "t3" -> "stream", "t3" -> "window")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e96_bm25" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      // One explode pass feeds BOTH per-doc length and query-term tf.
      val toks = docs.select(col("doc_id"),
        explode(graft.operators.TextAnalysis.tokens(col("text")))
          .as("token"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val qterms = bm25Terms.toDF("query_id", "term")
      // Only query-term postings survive the broadcast semi-filter —
      // the corpus-wide token exchange never materializes.
      val tf = toks
        .join(broadcast(qterms.select("term").distinct()),
          col("token") === col("term"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df_n"))
      val stats = docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(dl.agg(sum(col("dl")).as("sum_dl")))
      // Rational-idf BM25, k1 = 1.2, b = 0.75 (k1+1 pre-folded to 2.2;
      // 1 − b to 0.25). Every step mirrors the oracle token-for-token.
      val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
      val idf = ((col("n_docs") - col("df_n")).cast("double") + lit(0.5)) /
        (col("df_n").cast("double") + lit(0.5))
      val den = col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))
      val termScore = idf * (col("tf").cast("double") * lit(2.2) / den)
      val scored = tf
        .join(broadcast(qterms), col("token") === col("term"))
        .join(dl, "doc_id")
        .join(broadcast(dfreq), "token")
        .crossJoin(broadcast(stats))
        .withColumn("tsc", dec(termScore, 9))
        .groupBy("query_id", "doc_id")
        .agg(sum(col("tsc")).as("score_dec"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("score_dec").desc, col("doc_id"))
      scored
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 5)
        .select(col("query_id"), col("doc_id"),
          col("score_dec").cast("string").cast("double").as("score"),
          col("rk"))
    }),

    "e97_ols_trend" -> ((s, dir) => {
      val x = unix_timestamp(col("ts")) -
        unix_timestamp(lit("2024-01-01 00:00:00").cast("timestamp"))
      val agg = events(s, dir)
        .select(col("event_type"), x.as("x"), col("value").as("y"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          // r19: long-limb exact sums (lsum/lprodSum — same
          // decimal(38,0) integers, codegen'd long buffers); x is an
          // epoch-second offset ≤ ~2.6e6 so x·x ≤ ~7e12 fits a long
          // per row at any sf
          lsum(col("x")).as("sx"),
          dsumDec(col("y"), 2).as("sy"),
          dsumDec(col("x") * col("y"), 2).as("sxy"),
          lprodSum(col("x"), col("x")).as("sxx"))
      val nd = col("n").cast("double")
      def d(c: String) = col(c).cast("string").cast("double")
      val slope = (nd * d("sxy") - d("sx") * d("sy")) /
        (nd * d("sxx") - d("sx") * d("sx"))
      agg.select(col("event_type"), col("n"),
        slope.as("slope"),
        ((d("sy") - slope * d("sx")) / nd).as("intercept"))
    }),

    "e98_acf" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val pairs = daily
        .withColumn("prev", lag(col("cnt"), 1).over(w))
        .where(col("prev").isNotNull)
      // Integer-exact sufficient statistics (day counts are small longs;
      // products fit int64 at any judged sf), one double formula after.
      val agg = pairs.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("prev")).as("sx"),
          sum(col("cnt")).as("sy"), sum(col("prev") * col("cnt")).as("sxy"),
          sum(col("prev") * col("prev")).as("sxx"),
          sum(col("cnt") * col("cnt")).as("syy"))
      val nd = col("n").cast("double")
      def d(c: String) = col(c).cast("double")
      val acf = (nd * d("sxy") - d("sx") * d("sy")) /
        (sqrt(nd * d("sxx") - d("sx") * d("sx")) *
          sqrt(nd * d("syy") - d("sy") * d("sy")))
      agg.select(col("event_type"), col("n").as("n_pairs"), acf.as("acf1"))
    }),

    "e99_hll_merge" -> ((s, dir) => {
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
    }),

    "q108_weighted_median" -> ((s, dir) => {
      // Phase 1: full-data hash aggregate to one weight per DISTINCT
      // (flag, price). Phase 2: cumulative window over distinct prices.
      val byPrice = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_extendedprice"))
        .agg(dsumDec(col("l_quantity"), 2).as("w"))
      val wTot = Window.partitionBy("l_returnflag")
      val wCum = Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byPrice
        .withColumn("cum", sum(col("w")).over(wCum))
        .withColumn("tot", sum(col("w")).over(wTot))
        .where(col("cum") * lit(2) >= col("tot"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("l_extendedprice")).as("w_median"),
          max(col("tot").cast("string").cast("double")).as("total_weight"))
    }))

  private val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  val oracles: Map[String, String] = Map(
    "e96_bm25" -> {
      val termRows = bm25Terms
        .map { case (q, t) => s"('$q', '$t')" }.mkString(", ")
      s"""WITH toks AS (
            SELECT doc_id, unnest($tokensSql) AS token FROM documents),
          dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
          qterms(query_id, term) AS (VALUES $termRows),
          tf AS (
            SELECT doc_id, token, count(*) AS tf FROM toks
            WHERE token IN (SELECT DISTINCT term FROM qterms)
            GROUP BY doc_id, token),
          dfreq AS (SELECT token, count(*) AS df_n FROM tf GROUP BY token),
          stats AS (
            SELECT (SELECT count(*) FROM documents) AS n_docs,
                   (SELECT sum(dl) FROM dl) AS sum_dl),
          scored AS (
            SELECT query_id, doc_id,
              SUM(CAST(
                ((CAST(n_docs - df_n AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
                 (CAST(df_n AS DOUBLE) + CAST(0.5 AS DOUBLE))) *
                (CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE) /
                 (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                  (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
                   (CAST(dl AS DOUBLE) /
                    (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
                AS DECIMAL(38,9))) AS score_dec
            FROM tf JOIN qterms ON token = term
              JOIN dl USING (doc_id)
              JOIN dfreq USING (token)
              CROSS JOIN stats
            GROUP BY query_id, doc_id)
          SELECT query_id, doc_id,
            CAST(CAST(score_dec AS VARCHAR) AS DOUBLE) AS score,
            CAST(rk AS BIGINT) AS rk
          FROM (SELECT query_id, doc_id, score_dec,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY score_dec DESC, doc_id) AS rk
                FROM scored)
          WHERE rk <= 5"""
    },
    "e97_ols_trend" ->
      """WITH a AS (
           SELECT event_type, count(*) AS n,
             CAST(CAST(SUM(CAST(x AS DECIMAL(38,0))) AS VARCHAR)
               AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(y AS DECIMAL(38,2))) AS VARCHAR)
               AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,2))) AS VARCHAR)
               AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS VARCHAR)
               AS DOUBLE) AS sxx
           FROM (SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) -
                     CAST(floor(epoch(TIMESTAMP '2024-01-01 00:00:00'))
                       AS BIGINT) AS x,
                   value AS y
                 FROM events)
           GROUP BY event_type)
         SELECT event_type, n,
           (CAST(n AS DOUBLE) * sxy - sx * sy) /
             (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
           (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) /
             (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) /
             CAST(n AS DOUBLE) AS intercept
         FROM a""",
    "e98_acf" ->
      """WITH daily AS (
           SELECT event_type, date_trunc('day', ts) AS day,
             count(*) AS cnt
           FROM events GROUP BY event_type, day),
         pairs AS (
           SELECT event_type, cnt,
             lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev
           FROM daily),
         a AS (
           SELECT event_type, count(*) AS n,
             CAST(SUM(prev) AS BIGINT) AS sx,
             CAST(SUM(cnt) AS BIGINT) AS sy,
             CAST(SUM(prev * cnt) AS BIGINT) AS sxy,
             CAST(SUM(prev * prev) AS BIGINT) AS sxx,
             CAST(SUM(cnt * cnt) AS BIGINT) AS syy
           FROM pairs WHERE prev IS NOT NULL
           GROUP BY event_type)
         SELECT event_type, n AS n_pairs,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
           (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
            sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS acf1
         FROM a""",
    "e99_hll_merge" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
             AS exact_users, TRUE AS est_ok
         FROM events GROUP BY event_type
         UNION ALL
         SELECT '__all__' AS event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS est_ok
         FROM events""",
    "q108_weighted_median" ->
      """WITH byp AS (
           SELECT l_returnflag, l_extendedprice,
             SUM(CAST(l_quantity AS DECIMAL(38,2))) AS w
           FROM lineitem GROUP BY l_returnflag, l_extendedprice),
         cums AS (
           SELECT l_returnflag, l_extendedprice,
             SUM(w) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tot
           FROM byp)
         SELECT l_returnflag, min(l_extendedprice) AS w_median,
           max(CAST(CAST(tot AS VARCHAR) AS DOUBLE)) AS total_weight
         FROM cums WHERE cum * 2 >= tot
         GROUP BY l_returnflag""")
}

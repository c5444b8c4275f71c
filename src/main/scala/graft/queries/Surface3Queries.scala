package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Third relational/extension tranche (round 4): classic star-join
  * analytics, EXISTS, LATERAL explode, map construction, RANGE window
  * frames, sorted listagg, the date-arithmetic scalar surface, and the
  * corpus bigram/LM-scoring pair. All outputs are scalar primitives and
  * every query carries a full DuckDB value oracle.
  */
object Surface3Queries extends QuerySet {
  import Tables._

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q3 shape: filtered dimension (broadcast) ⋈ orders ⋈ lineitem,
    // revenue per order, top-10. The customer side is explicitly
    // broadcast — a filtered dimension is exactly the side a 1000-executor
    // plan must ship to the fact scan instead of shuffling 100 TB of fact
    "q39_tpch3" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = t(s, dir, "orders")
        .where(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
      val l = t(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // EXISTS / NOT EXISTS correlated subqueries (SQL entry path) — both
    // compile to semi/anti hash joins, never a per-row probe
    "q40_exists" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_s3")
      t(s, dir, "orders").createOrReplaceTempView("orders_s3")
      s.sql("""
        SELECT c_custkey, c_acctbal,
          EXISTS (SELECT 1 FROM orders_s3 o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 400000) AS has_big,
          NOT EXISTS (SELECT 1 FROM orders_s3 o
                      WHERE o.o_custkey = c.c_custkey) AS no_orders
        FROM customer_s3 c
      """)
    }),

    // LATERAL explode of a derived array (SQL LATERAL VIEW) — the
    // row-generator join a normalization pass uses; stays a narrow map
    "q41_lateral" -> ((s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("part_s3")
      s.sql("""
        SELECT p_partkey, w
        FROM part_s3 LATERAL VIEW explode(split(p_name, ' ')) x AS w
      """)
    }),

    // Map construction + keyed extraction: per-nation map of
    // mktsegment → customer count, then fixed-key lookups. The map is
    // built with map_from_entries over a pre-aggregated frame (two
    // shuffle-free-after-agg stages), extracted back to scalars
    "q42_maps" -> ((s, dir) =>
      t(s, dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"))
        .groupBy("c_nationkey")
        .agg(map_from_entries(collect_list(struct(col("c_mktsegment"),
          col("n")))).as("m"))
        .select(col("c_nationkey"),
          coalesce(element_at(col("m"), "BUILDING"), lit(0L)).as("n_building"),
          coalesce(element_at(col("m"), "AUTOMOBILE"), lit(0L)).as("n_auto"),
          size(map_keys(col("m"))).cast("long").as("n_segments"))),

    // RANGE window frame over a day-number ordering key: per customer,
    // rolling 31-day order total (peer rows share the frame, so the
    // result is order-independent — the deterministic form of a
    // time-range rolling aggregate)
    "q43_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("od_day")
        .rangeBetween(-30, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          unix_date(col("o_orderdate").cast("date")).cast("long").as("od_day"),
          dec(col("o_totalprice"), 2).as("p"))
        .select(col("o_orderkey"), col("o_custkey"), col("od_day"),
          sum(col("p")).over(w).cast("double").as("rolling_31d"))
    }),

    // Sorted listagg (string_agg): the canonical serialized-group output
    "q44_listagg" -> ((s, dir) =>
      t(s, dir, "nation")
        .groupBy("n_regionkey")
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations"),
          count(lit(1)).as("n"))),

    // Date-arithmetic scalar surface: month-end, day/month offsets,
    // quarter truncation — the calendar toolkit of any reporting layer.
    // DATE results are surfaced as midnight timestamps: the comparator
    // reads a parquet DATE as datetime.date but DuckDB's as Timestamp,
    // so bare DATE output columns never compare equal
    "q45_dates" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        last_day(col("o_orderdate").cast("date")).cast("timestamp")
          .as("month_end"),
        date_add(col("o_orderdate").cast("date"), 30).cast("timestamp")
          .as("plus30"),
        add_months(col("o_orderdate").cast("date"), 2).cast("timestamp")
          .as("plus2mo"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        date_trunc("quarter", col("o_orderdate")).as("q_start"))),

    // Null-ordering semantics made value-visible: rank over (nullable
    // ASC NULLS LAST, key). Spark defaults to NULLS FIRST on ASC and
    // DuckDB to NULLS LAST, so the ordering is pinned explicitly on
    // both sides — the ranks differ if an engine ignores it
    "q51_null_order" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("big").asc_nulls_last, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          when(col("o_totalprice") >= 200000, col("o_totalprice"))
            .as("big"))
        .select(col("o_orderkey"), col("o_custkey"), col("big"),
          rank().over(w).cast("long").as("rk"))
    }),

    // JSON scalar extraction over the events payload column
    // (get_json_object path syntax) with an exact integer rollup
    "q52_json" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))),

    // Int8 scalar quantization of embeddings (the 4x storage-compression
    // pass before ANN indexing): per-vector absmax scale, elements
    // floor(x*127/mx), plus a fixed-point reconstruction-error total.
    // Every element op is IEEE double arithmetic in the same order on
    // both engines; the error sum is floor(err*1e7) in BIGINT so it is
    // order-independent. Quantized vectors are serialized to a string
    // (the comparator cannot hash list cells). Narrow map stage — no
    // shuffle, linear at any corpus size
    "e18_quantize" -> ((s, dir) => {
      val qexpr = (x: org.apache.spark.sql.Column) =>
        floor(x * lit(127.0) / col("mx"))
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("vd"))
        .select(col("vec_id"), col("vd"),
          array_max(transform(col("vd"), x => abs(x))).as("mx"))
        .select(col("vec_id"), col("mx"),
          when(col("mx") === 0.0, lit(""))
            .otherwise(array_join(
              transform(col("vd"), x => qexpr(x).cast("int")), ","))
            .as("q_str"),
          when(col("mx") === 0.0, lit(0L))
            .otherwise(aggregate(
              transform(col("vd"), x =>
                floor(abs(x - qexpr(x) * col("mx") / lit(127.0)) * lit(1e7))
                  .cast("long")),
              lit(0L), (acc, e) => acc + e))
            .as("err_fp"))
    }),

    // Corpus bigram term frequency: staged tokens → distinct word
    // bigrams per doc → explode → count → top-100 (deterministic order)
    "e12_bigram_tf" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(TextAnalysis.tokens(col("text")).as("tk"))
        .select(explode(TextAnalysis.wordShinglesFromTokens(col("tk")))
          .as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bg")).limit(100)),

    // TPC-H Q5 shape: the full five-table local-supplier star — region
    // (1 row after filter) → nation → customer → orders → lineitem →
    // supplier, revenue per nation for one year. Dimensions broadcast;
    // only the fact tables ever shuffle — the canonical 100 TB star plan
    "q46_tpch5" -> ((s, dir) => {
      val n = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")
          .where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val o = t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      t(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // percent_rank + IGNORE NULLS navigation over a total order (ties
    // broken by key, so ranks are reproducible at any parallelism)
    "q47_window_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val full = ord.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          when(col("o_totalprice") >= 200000, col("o_totalprice"))
            .as("big"))
        .select(col("o_orderkey"), col("o_custkey"),
          percent_rank().over(ord).as("pr"),
          first(col("big"), ignoreNulls = true).over(full)
            .as("first_big"),
          last(col("big"), ignoreNulls = true).over(full)
            .as("last_big"))
    }),

    // Multiset set operations (INTERSECT ALL / EXCEPT ALL): duplicate
    // counts survive, unlike the q5 INTERSECT/EXCEPT pair
    "q48_setops_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.where(col("o_orderstatus") === "O").select("o_custkey")
      val b = o.where(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey")
      a.intersectAll(b).withColumn("op", lit("both"))
        .unionByName(a.exceptAll(b).withColumn("op", lit("only_open")))
    }),

    // Sliding-window chunking: 50-token windows, stride 40 (10-token
    // overlap), partial tail kept — chunk count and boundaries are pure
    // arithmetic on the token array, no shuffle
    "e14_chunk" -> ((s, dir) =>
      graft.operators.Corpus.chunkTokens(
        t(s, dir, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk")),
        id = "doc_id", tk = "tk", window = 50, stride = 40)),

    // Calendar gap-filling: every (customer, month-of-1996) cell with
    // zero-filled order counts — the dense-reporting join. The 12-row
    // month dimension is a broadcast nested loop (the only sane plan
    // against a literal calendar); order counts come pre-aggregated so
    // the fact side shuffles once at month granularity
    "q50_gapfill" -> ((s, dir) => {
      val months = s.range(1, 13).select(col("id").cast("int").as("m"))
      val counts = t(s, dir, "orders")
        .where(year(col("o_orderdate")) === 1996)
        .groupBy(col("o_custkey"), month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("cnt"))
      t(s, dir, "customer").select("c_custkey")
        .crossJoin(broadcast(months))
        .join(counts, col("c_custkey") === col("o_custkey") &&
          months("m") === counts("m"), "left")
        .select(col("c_custkey"), months("m").cast("long").as("m"),
          coalesce(col("cnt"), lit(0L)).as("n"))
    }),

    // TF-IDF with an engine-portable IDF: the textbook ln(N/df) is a
    // libm call whose last ULP differs across engines, so the rarity
    // weight is the exact rational N/df instead (single IEEE division —
    // bit-identical everywhere, same ranking as ln(N/df) since ln is
    // monotone). Top-5 terms per document by weight
    "e16_tfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val tf = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text")))
          .as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .persist()
      val df_ = tf.groupBy("token").agg(count(lit(1)).as("df_n"))
      val n = docs.select(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("token"))
      tf.join(df_, "token")
        .crossJoin(broadcast(n))
        .withColumn("tfidf", col("tf").cast("double") *
          (col("n_docs").cast("double") / col("df_n").cast("double")))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 5)
        .select("doc_id", "token", "tf", "tfidf", "rk")
    }),

    // Stratified rebalancing: cap every language at its 20
    // hash-first documents — the per-stratum downsampling pass that
    // balances a multilingual corpus. Hash order makes the sample
    // deterministic and uniform; one shuffle on the stratum key
    "e17_balance" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 20)
    }),

    // Bigram-frequency LM score: each document scored by the mean corpus
    // document-frequency of its distinct bigrams — the cheap
    // "how much does this doc look like the corpus" signal (a real LM
    // perplexity filter has this exact join shape: doc n-grams ⋈ n-gram
    // stats). Integer sums keep it exact at any parallelism; the bigram
    // frame feeds both the stats build and the scoring join, so persist
    "e13_lm_score" -> ((s, dir) => {
      val bg = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          explode(TextAnalysis.wordShinglesFromTokens(col("tk"))).as("bg"))
        .persist()
      val stats = bg.groupBy("bg").agg(count(lit(1)).as("df_n"))
      bg.join(stats, "bg")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("df_n")).as("sum_df"),
          (sum(col("df_n")).cast("double") / count(lit(1))).as("lm_score"))
    }))

  private val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
  // distinct word bigrams from the token list (1-based list indexing;
  // range(1, n) is empty for n <= 1, matching the Spark-side size guard)
  private val bigramsSql =
    s"list_distinct(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]))"

  val oracles: Map[String, String] = Map(
    "q39_tpch3" ->
      """SELECT l_orderkey, o_orderdate,
         CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4)))
           AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-06-01'
           AND l_shipdate > TIMESTAMP '1998-06-01'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q40_exists" ->
      """SELECT c_custkey, c_acctbal,
         EXISTS (SELECT 1 FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                   AND o.o_totalprice > 400000) AS has_big,
         NOT EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey) AS no_orders
         FROM customer c""",
    "q41_lateral" ->
      """SELECT p_partkey, u.w
         FROM part, LATERAL unnest(string_split(p_name, ' ')) AS u(w)""",
    "q42_maps" ->
      """SELECT c_nationkey,
         count(*) FILTER (c_mktsegment = 'BUILDING') AS n_building,
         count(*) FILTER (c_mktsegment = 'AUTOMOBILE') AS n_auto,
         CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
         FROM customer GROUP BY c_nationkey""",
    "q43_range_frame" ->
      """SELECT o_orderkey, o_custkey,
         CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS BIGINT) AS od_day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) OVER (
           PARTITION BY o_custkey
           ORDER BY date_diff('day', DATE '1970-01-01',
             CAST(o_orderdate AS DATE))
           RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS rolling_31d
         FROM orders""",
    "q44_listagg" ->
      """SELECT n_regionkey,
         string_agg(n_name, ',' ORDER BY n_name) AS nations,
         count(*) AS n
         FROM nation GROUP BY n_regionkey""",
    "q45_dates" ->
      """SELECT o_orderkey,
         CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
         CAST(date_add(CAST(o_orderdate AS DATE), 30) AS TIMESTAMP) AS plus30,
         CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS TIMESTAMP)
           AS plus2mo,
         CAST(quarter(o_orderdate) AS BIGINT) AS q,
         date_trunc('quarter', o_orderdate) AS q_start
         FROM orders""",
    "q46_tpch5" ->
      """SELECT n_name,
         CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4)))
           AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
           AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",
    "q47_window_stats" ->
      """SELECT o_orderkey, o_custkey,
         percent_rank() OVER ord AS pr,
         first_value(big IGNORE NULLS) OVER fullw AS first_big,
         last_value(big IGNORE NULLS) OVER fullw AS last_big
         FROM (SELECT o_orderkey, o_custkey, o_totalprice,
                 CASE WHEN o_totalprice >= 200000 THEN o_totalprice END
                   AS big
               FROM orders)
         WINDOW ord AS (PARTITION BY o_custkey
                        ORDER BY o_totalprice, o_orderkey),
                fullw AS (PARTITION BY o_custkey
                          ORDER BY o_totalprice, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING)""",
    "q51_null_order" ->
      """SELECT o_orderkey, o_custkey, big,
         CAST(rank() OVER (PARTITION BY o_custkey
           ORDER BY big ASC NULLS LAST, o_orderkey) AS BIGINT) AS rk
         FROM (SELECT o_orderkey, o_custkey,
                 CASE WHEN o_totalprice >= 200000 THEN o_totalprice END
                   AS big
               FROM orders)""",
    "q52_json" ->
      """SELECT event_type, count(*) AS n,
         CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_k,
         MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
         MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY event_type""",
    "q50_gapfill" ->
      """SELECT c_custkey, CAST(g.m AS BIGINT) AS m,
         COALESCE(cnt, CAST(0 AS BIGINT)) AS n
         FROM customer
         CROSS JOIN generate_series(1, 12) AS g(m)
         LEFT JOIN (SELECT o_custkey, month(o_orderdate) AS om,
                      count(*) AS cnt
                    FROM orders WHERE year(o_orderdate) = 1996
                    GROUP BY 1, 2) c2
           ON c_custkey = c2.o_custkey AND g.m = c2.om""",
    "e16_tfidf" ->
      s"""WITH tf AS (
            SELECT doc_id, token, count(*) AS tf
            FROM (SELECT doc_id, unnest($tokensSql) AS token FROM documents)
            GROUP BY doc_id, token),
          dfreq AS (SELECT token, count(*) AS df_n FROM tf GROUP BY token),
          n AS (SELECT count(*) AS n_docs FROM documents)
          SELECT doc_id, token, tf,
            CAST(tf AS DOUBLE) *
              (CAST(n_docs AS DOUBLE) / CAST(df_n AS DOUBLE)) AS tfidf,
            CAST(rk AS BIGINT) AS rk
          FROM (SELECT doc_id, token, tf, df_n, n_docs,
                  row_number() OVER (PARTITION BY doc_id ORDER BY
                    CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) /
                      CAST(df_n AS DOUBLE)) DESC, token) AS rk
                FROM tf JOIN dfreq USING (token) CROSS JOIN n)
          WHERE rk <= 5""",
    "e17_balance" ->
      """SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
         FROM (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
               FROM documents)
         WHERE rk <= 20""",
    "q48_setops_all" ->
      """SELECT o_custkey, 'both' AS op FROM (
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
           INTERSECT ALL
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
         UNION ALL
         SELECT o_custkey, 'only_open' AS op FROM (
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
           EXCEPT ALL
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')""",
    "e14_chunk" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents)
          SELECT doc_id,
            (st - 1) // 40 AS chunk_id,
            CAST(len(tk[st : st + 49]) AS BIGINT) AS n_tok,
            array_to_string(tk[st : st + 49], ' ') AS chunk_text
          FROM (SELECT doc_id, tk,
                  unnest(range(1, greatest(len(tk) - 10, 1) + 1, 40)) AS st
                FROM tk)""",
    "e18_quantize" ->
      """WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
          FROM embeddings),
          m AS (SELECT vec_id, vd,
            list_max(list_transform(vd, x -> abs(x))) AS mx FROM v)
          SELECT vec_id, mx,
            CASE WHEN mx = 0.0 THEN '' ELSE array_to_string(
              list_transform(vd,
                x -> CAST(floor(x * 127.0 / mx) AS INTEGER)), ',') END
              AS q_str,
            CASE WHEN mx = 0.0 THEN CAST(0 AS BIGINT) ELSE CAST(list_sum(
              list_transform(vd, x -> CAST(floor(abs(
                x - floor(x * 127.0 / mx) * mx / 127.0) * 1e7)
                AS BIGINT))) AS BIGINT) END AS err_fp
          FROM m""",
    "e12_bigram_tf" ->
      s"""WITH tk AS (SELECT $tokensSql AS tk FROM documents)
          SELECT bg, count(*) AS n
          FROM (SELECT unnest($bigramsSql) AS bg FROM tk)
          GROUP BY bg ORDER BY n DESC, bg LIMIT 100""",
    "e13_lm_score" ->
      s"""WITH bg AS (
            SELECT doc_id, unnest($bigramsSql) AS bg
            FROM (SELECT doc_id, $tokensSql AS tk FROM documents)),
          stats AS (SELECT bg, count(*) AS df_n FROM bg GROUP BY bg)
          SELECT doc_id,
            count(*) AS n_bigrams,
            CAST(SUM(df_n) AS BIGINT) AS sum_df,
            CAST(SUM(df_n) AS DOUBLE) / count(*) AS lm_score
          FROM bg JOIN stats USING (bg)
          GROUP BY doc_id""")
}

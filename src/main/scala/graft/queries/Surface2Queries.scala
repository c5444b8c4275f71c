package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Third tranche of relational-surface queries ("same query
  * capabilities" north star): window navigation functions, the wider
  * string/conditional scalar library, IN/EXISTS subqueries through the
  * SQL entry path, a non-equi range join, and full outer join.
  *
  * Scale notes (100 TB): window queries shuffle once on the partition
  * key (no global sort); the range join broadcasts the tiny band table
  * (nested-loop against 3 rows, never a shuffle); the full outer join
  * is a single exchange on the join key; subqueries compile to
  * semi/anti joins with the exact-decimal scalar mean broadcast.
  */
object Surface2Queries extends QuerySet {
  import Tables._

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Window navigation: lag/lead/ntile/cume_dist/nth_value per
    // customer, ordered by the unique order key (total order → every
    // navigation value deterministic)
    "q24_window_nav" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        cume_dist().over(w).as("cd"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
    }),

    // String-function surface, second tranche
    "q25_strings2" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        expr("split_part(p_type, ' ', 2)").as("type_mid"),
        translate(col("p_name"), "aeiou", "AEIOU").as("name_caps_vowels"),
        repeat(substring(col("p_name"), 1, 2), 3).as("prefix_x3"),
        reverse(col("p_name")).as("name_rev"),
        instr(col("p_name"), "a").cast("long").as("first_a"),
        expr("left(p_name, 3)").as("name_l3"),
        expr("right(p_name, 3)").as("name_r3"),
        expr("replace(p_type, ' ', '-')").as("type_dashed"))),

    // Conditional / comparison scalar surface
    "q26_conditional" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        expr("nullif(o_orderstatus, 'O')").as("status_or_null"),
        coalesce(expr("nullif(o_orderstatus, 'O')"), lit("open"))
          .as("status_label"),
        greatest(col("o_totalprice"), lit(150000.0)).as("price_floor"),
        least(col("o_totalprice"), lit(150000.0)).as("price_cap"),
        expr("nullif(o_orderstatus, 'O')").isNull.as("is_open"),
        when(col("o_totalprice") > 200000, "large")
          .when(col("o_totalprice") > 100000, "medium")
          .otherwise("small").as("size_class"))),

    // IN + scalar subquery through the SQL entry path. The scalar mean
    // uses the exact-decimal recipe so the predicate is partition-order
    // invariant (same SQL text runs on both engines)
    "q28_in_subquery" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v2")
      t(s, dir, "customer").createOrReplaceTempView("customer_v2")
      s.sql("""
        SELECT c_custkey, c_acctbal FROM customer_v2
        WHERE c_custkey IN
          (SELECT o_custkey FROM orders_v2
           WHERE o_totalprice >
             (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
                / count(*) FROM orders_v2))
      """)
    }),

    // Regex scalar surface (patterns restricted to the dialect
    // intersection: character classes + groups, no lookaround)
    "q32_regex" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        regexp_extract(lower(col("p_name")), "^([a-z]+)", 1).as("first_word"),
        col("p_type").rlike("BRUSHED").as("is_brushed"),
        regexp_count(col("p_name"), lit("a")).cast("long").as("n_a"),
        regexp_replace(col("p_type"), "[AEIOU]", "_").as("type_devoweled"))),

    // UNION ALL via unionByName (column order intentionally reversed on
    // one side) then re-aggregated
    "q33_union" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val open = o.where(col("o_orderstatus") === "O")
        .select(col("o_custkey"), lit("open").as("src"))
      val pending = o.where(col("o_orderstatus") === "P")
        .select(lit("pending").as("src"), col("o_custkey"))
      open.unionByName(pending)
        .groupBy("src")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("n_cust"))
    }),

    // Collect/array_agg surface: per-nation sorted distinct segment
    // list, serialized to a scalar for the comparator
    "q35_collect" -> ((s, dir) =>
      t(s, dir, "customer")
        .groupBy("c_nationkey")
        .agg(
          array_join(sort_array(collect_set(col("c_mktsegment"))), ",")
            .as("segments"),
          count(lit(1)).as("n_cust"))),

    // Correlated scalar subquery per row (SQL path): each customer's
    // max order value — compiles to a left outer aggregate join
    "q37_correlated_scalar" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v4")
      t(s, dir, "customer").createOrReplaceTempView("customer_v4")
      s.sql("""
        SELECT c_custkey,
          (SELECT max(o_totalprice) FROM orders_v4
           WHERE o_custkey = c_custkey) AS max_order
        FROM customer_v4
      """)
    }),

    // HAVING through the SQL entry path
    "q36_having" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v3")
      s.sql("""
        SELECT o_custkey, count(*) AS n FROM orders_v3
        GROUP BY o_custkey HAVING count(*) >= 20
      """)
    }),

    // Non-equi range join: each order banded by a tiny price-band
    // dimension (broadcast nested loop over 3 rows — the only sane plan
    // for a band join against a literal dimension)
    "q29_range_join" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(
        (0.0, 100000.0, "low"),
        (100000.0, 200000.0, "mid"),
        (200000.0, 1e9, "high")).toDF("lo", "hi", "band")
      t(s, dir, "orders").join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice"), 2).as("total"))
    }),

    // Full outer join of two aggregates with non-overlapping key sets
    // (customers having open vs finished orders); Spark coalesces the
    // using-column, the oracle mirrors with COALESCE
    "q30_full_outer" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val open = o.where(col("o_orderstatus") === "O")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_open"))
      val fin = o.where(col("o_orderstatus") === "F")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_finished"))
      open.join(fin, Seq("o_custkey"), "full_outer")
    }))

  val oracles: Map[String, String] = Map(
    "q24_window_nav" ->
      """SELECT o_custkey, o_orderkey,
         lag(o_totalprice, 1) OVER w AS prev_price,
         lead(o_totalprice, 1) OVER w AS next_price,
         CAST(ntile(4) OVER w AS BIGINT) AS quartile,
         cume_dist() OVER w AS cd,
         nth_value(o_totalprice, 2) OVER w AS second_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""",
    "q25_strings2" ->
      """SELECT p_partkey,
         split_part(p_type, ' ', 2) AS type_mid,
         translate(p_name, 'aeiou', 'AEIOU') AS name_caps_vowels,
         repeat(substr(p_name, 1, 2), 3) AS prefix_x3,
         reverse(p_name) AS name_rev,
         CAST(instr(p_name, 'a') AS BIGINT) AS first_a,
         left(p_name, 3) AS name_l3,
         right(p_name, 3) AS name_r3,
         replace(p_type, ' ', '-') AS type_dashed
         FROM part""",
    "q26_conditional" ->
      """SELECT o_orderkey,
         nullif(o_orderstatus, 'O') AS status_or_null,
         coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_label,
         greatest(o_totalprice, 150000.0) AS price_floor,
         least(o_totalprice, 150000.0) AS price_cap,
         nullif(o_orderstatus, 'O') IS NULL AS is_open,
         CASE WHEN o_totalprice > 200000 THEN 'large'
              WHEN o_totalprice > 100000 THEN 'medium'
              ELSE 'small' END AS size_class
         FROM orders""",
    "q28_in_subquery" ->
      """SELECT c_custkey, c_acctbal FROM customer
         WHERE c_custkey IN
           (SELECT o_custkey FROM orders
            WHERE o_totalprice >
              (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
                 / count(*) FROM orders))""",
    "q37_correlated_scalar" ->
      """SELECT c_custkey,
         (SELECT max(o_totalprice) FROM orders
          WHERE o_custkey = c_custkey) AS max_order
         FROM customer""",
    "q36_having" ->
      """SELECT o_custkey, count(*) AS n FROM orders
         GROUP BY o_custkey HAVING count(*) >= 20""",
    "q32_regex" ->
      """SELECT p_partkey,
         regexp_extract(lower(p_name), '^([a-z]+)', 1) AS first_word,
         regexp_matches(p_type, 'BRUSHED') AS is_brushed,
         CAST(len(regexp_extract_all(p_name, 'a')) AS BIGINT) AS n_a,
         regexp_replace(p_type, '[AEIOU]', '_', 'g') AS type_devoweled
         FROM part""",
    "q33_union" ->
      """SELECT src, count(*) AS n, count(DISTINCT o_custkey) AS n_cust
         FROM (SELECT o_custkey, 'open' AS src FROM orders
               WHERE o_orderstatus = 'O'
               UNION ALL
               SELECT o_custkey, 'pending' AS src FROM orders
               WHERE o_orderstatus = 'P')
         GROUP BY src""",
    "q35_collect" ->
      """SELECT c_nationkey,
         array_to_string(list_sort(list_distinct(array_agg(c_mktsegment))), ',')
           AS segments,
         count(*) AS n_cust
         FROM customer GROUP BY c_nationkey""",
    "q29_range_join" ->
      """SELECT band, count(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
         FROM orders
         JOIN (VALUES (0.0, 100000.0, 'low'),
                      (100000.0, 200000.0, 'mid'),
                      (200000.0, 1e9, 'high')) AS b(lo, hi, band)
           ON o_totalprice >= lo AND o_totalprice < hi
         GROUP BY band""",
    "q30_full_outer" ->
      """SELECT COALESCE(a.o_custkey, f.o_custkey) AS o_custkey,
         a.n_open, f.n_finished
         FROM (SELECT o_custkey, count(*) AS n_open FROM orders
               WHERE o_orderstatus = 'O' GROUP BY o_custkey) a
         FULL JOIN (SELECT o_custkey, count(*) AS n_finished FROM orders
               WHERE o_orderstatus = 'F' GROUP BY o_custkey) f
           ON a.o_custkey = f.o_custkey""")
}

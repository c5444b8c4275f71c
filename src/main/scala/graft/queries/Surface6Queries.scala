package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sixth tranche (round 7a): the remaining classic TPC-H shapes the
  * surface lacked — IN-subquery-over-aggregate (Q18), EXISTS over a
  * date-shifted join (Q4), left-join count distribution (Q13),
  * derived-table-correlated volume threshold (Q20), correlated-min
  * lookup (Q2), HAVING-vs-global-total (Q11), anti-join + scalar
  * average (Q22) — plus the two product-analytics staples every event
  * store runs (ordered funnel, cohort retention).
  *
  * All adapted to this schema (no partsupp/phone/comment columns;
  * "late" = shipped >30/60 days after order date). Money/quantity
  * comparisons are cross-multiplied into exact cents-integer
  * arithmetic, so every judged frame is bit-identical on any engine at
  * any parallelism — no double sums, no libm.
  *
  * Scale notes: each SQL shape is stated declaratively so Catalyst
  * decorrelates to hash semi/anti/aggregate joins on the fact key
  * (verified via explain in PropertiesSpec/EndToEndSpec patterns);
  * nothing here materializes per-row subqueries. The funnel/retention
  * pair is a chain of hash aggregations and joins all keyed on
  * user_id, so a 100 TB event log stays one co-partitioned exchange
  * family.
  */
object Surface6Queries extends QuerySet {
  import Tables._

  private def views(s: SparkSession, dir: String, names: String*): Unit =
    names.foreach(n => t(s, dir, n).createOrReplaceTempView(n))

  /** Exact cents image of a 2-decimal double measure. */
  private val qtyCents = "CAST(round(l_quantity*100) AS BIGINT)"
  private val priceCents = "CAST(round(l_extendedprice*100) AS BIGINT)"

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q18: large-volume orders — IN over a grouped-HAVING
    // subquery on the same fact table. Catalyst plans the subquery as
    // an aggregate then a semi-join on l_orderkey; both the filter agg
    // and the outer agg are partial-aggregated map-side
    "q69_tpch18" -> ((s, dir) => {
      views(s, dir, "customer", "orders", "lineitem")
      s.sql(
        s"""SELECT c_name, o.o_orderkey, o_orderdate, o_totalprice,
              CAST(SUM($qtyCents) AS DOUBLE)/100.0 AS sum_qty
            FROM customer, orders o, lineitem
            WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                                   GROUP BY l_orderkey
                                   HAVING SUM($qtyCents) > 25000)
              AND c_custkey = o_custkey AND o.o_orderkey = l_orderkey
            GROUP BY c_name, o.o_orderkey, o_orderdate, o_totalprice
            ORDER BY o_totalprice DESC, o.o_orderkey LIMIT 100""")
    }),

    // TPC-H Q4: order-priority checking — EXISTS correlated on the
    // order key AND the outer order date (the join-condition-with-
    // outer-column shape). One semi-join on l_orderkey
    "q70_tpch4" -> ((s, dir) => {
      views(s, dir, "orders", "lineitem")
      s.sql(
        """SELECT o_orderpriority, count(*) AS order_count
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
             AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
             AND EXISTS (SELECT 1 FROM lineitem
                         WHERE l_orderkey = o_orderkey
                           AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
           GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    // TPC-H Q13: customer order-count distribution — LEFT join with an
    // extra join-side predicate (kept orders only), then a histogram of
    // per-customer counts. Two hash exchanges (custkey, then count)
    "q71_tpch13" -> ((s, dir) => {
      views(s, dir, "customer", "orders")
      s.sql(
        """SELECT c_count, count(*) AS custdist FROM (
             SELECT c_custkey, count(o_orderkey) AS c_count
             FROM customer LEFT JOIN orders
               ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
             GROUP BY c_custkey)
           GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")
    }),

    // TPC-H Q20 shape: suppliers moving an outsized share (>1/10) of
    // any 'small%' part's total volume. The correlated scalar aggregate
    // compares a grouped derived table against a per-part total —
    // cross-multiplied to exact integers. Catalyst decorrelates the
    // scalar subquery into an aggregate join on l_partkey
    "q72_tpch20" -> ((s, dir) => {
      views(s, dir, "supplier", "lineitem", "part")
      s.sql(
        s"""SELECT s_name, s_acctbal FROM supplier WHERE s_suppkey IN (
              SELECT g.l_suppkey FROM (
                SELECT l_suppkey, l_partkey AS pk, SUM($qtyCents) AS q
                FROM lineitem, part
                WHERE l_partkey = p_partkey AND p_name LIKE 'small%'
                GROUP BY l_suppkey, l_partkey) g
              WHERE 10 * g.q > (SELECT SUM($qtyCents) FROM lineitem
                                WHERE l_partkey = g.pk))
            ORDER BY s_name""")
    }),

    // TPC-H Q2 shape: cheapest supplier per size-5 part, with the
    // per-part minimum found by a correlated MIN over a shared CTE
    // (min is order-insensitive, so cents-exact). Decorrelates to an
    // aggregate self-join on partkey
    "q73_tpch2" -> ((s, dir) => {
      views(s, dir, "part", "supplier", "lineitem")
      s.sql(
        s"""WITH ps AS (SELECT l_partkey, l_suppkey, MIN($priceCents) AS minp
                        FROM lineitem GROUP BY l_partkey, l_suppkey)
            SELECT p_partkey, s_name, CAST(ps.minp AS DOUBLE)/100.0 AS min_price
            FROM part, ps, supplier
            WHERE p_partkey = ps.l_partkey AND s_suppkey = ps.l_suppkey
              AND p_size = 5
              AND ps.minp = (SELECT MIN(minp) FROM ps p2
                             WHERE p2.l_partkey = p_partkey)
            ORDER BY p_partkey, s_name""")
    }),

    // TPC-H Q11 shape: suppliers holding >1/500 of total line revenue —
    // grouped HAVING against a global-total scalar subquery,
    // cross-multiplied to exact cents (no integer/double division)
    "q74_tpch11" -> ((s, dir) => {
      views(s, dir, "lineitem")
      s.sql(
        s"""SELECT l_suppkey,
              CAST(SUM($priceCents) AS DOUBLE)/100.0 AS total_value
            FROM lineitem GROUP BY l_suppkey
            HAVING 500 * SUM($priceCents) >
              (SELECT SUM($priceCents) FROM lineitem)
            ORDER BY total_value DESC, l_suppkey""")
    }),

    // TPC-H Q22 shape: above-average-balance customers with no recent
    // orders, per nation — scalar AVG (cross-multiplied: bal·n > Σbal
    // over positive balances) plus a NOT EXISTS anti-join
    "q75_tpch22" -> ((s, dir) => {
      views(s, dir, "customer", "orders")
      s.sql(
        """SELECT c_nationkey, count(*) AS numcust,
             CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0
               AS totacctbal
           FROM customer c
           WHERE CAST(round(c_acctbal*100) AS BIGINT) *
                   (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
                 > (SELECT SUM(CAST(round(c_acctbal*100) AS BIGINT))
                    FROM customer WHERE c_acctbal > 0.0)
             AND NOT EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_custkey = c.c_custkey
                               AND o.o_orderdate >=
                                   TIMESTAMP '2001-01-01 00:00:00')
           GROUP BY c_nationkey ORDER BY c_nationkey""")
    }),

    // Ordered conversion funnel view → click → purchase: each stage's
    // timestamp is the MIN event time strictly after the prior stage.
    // Three hash aggs + three joins, all keyed on user_id — one
    // co-partitioned exchange family, state bounded per user
    "q76_funnel" -> ((s, dir) => {
      val e = events(s, dir).select("user_id", "event_type", "ts")
      val v = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = e.where(col("event_type") === "click").join(v, "user_id")
        .where(col("ts") > col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val p = e.where(col("event_type") === "purchase").join(c, "user_id")
        .where(col("ts") > col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"),
          col("t_purchase"),
          (lit(1L) + when(col("t_click").isNotNull, lit(1L)).otherwise(lit(0L))
            + when(col("t_purchase").isNotNull, lit(1L)).otherwise(lit(0L)))
            .as("funnel_depth"))
    }),

    // Weekly cohort retention: cohort = a user's first active week,
    // cell = distinct users from that cohort active `week_offset` weeks
    // later. All-integer week math (exact epoch-day division); two hash
    // exchanges (user distinct-weeks, then cohort cells)
    "q77_retention" -> ((s, dir) => {
      import graft.operators.Quantiles.ldiv
      val wk = ldiv(
        (unix_date(col("ts").cast("date")) -
          unix_date(lit("2024-01-01").cast("date"))).cast("long"), 7L)
      val uw = events(s, dir).select(col("user_id"), wk.as("wk")).distinct()
      val cohort = uw.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      uw.join(cohort, "user_id")
        .groupBy(col("cohort_wk"),
          (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    }))

  val oracles: Map[String, String] = Map(
    "q69_tpch18" ->
      s"""SELECT c_name, o.o_orderkey, o_orderdate, o_totalprice,
            CAST(SUM($qtyCents) AS DOUBLE)/100.0 AS sum_qty
          FROM customer, orders o, lineitem
          WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                                 GROUP BY l_orderkey
                                 HAVING SUM($qtyCents) > 25000)
            AND c_custkey = o_custkey AND o.o_orderkey = l_orderkey
          GROUP BY c_name, o.o_orderkey, o_orderdate, o_totalprice
          ORDER BY o_totalprice DESC, o.o_orderkey LIMIT 100""",
    "q70_tpch4" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q71_tpch13" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    "q72_tpch20" ->
      s"""SELECT s_name, s_acctbal FROM supplier WHERE s_suppkey IN (
            SELECT g.l_suppkey FROM (
              SELECT l_suppkey, l_partkey AS pk, SUM($qtyCents) AS q
              FROM lineitem, part
              WHERE l_partkey = p_partkey AND p_name LIKE 'small%'
              GROUP BY l_suppkey, l_partkey) g
            WHERE 10 * g.q > (SELECT SUM($qtyCents) FROM lineitem
                              WHERE l_partkey = g.pk))
          ORDER BY s_name""",
    "q73_tpch2" ->
      s"""WITH ps AS (SELECT l_partkey, l_suppkey, MIN($priceCents) AS minp
                      FROM lineitem GROUP BY l_partkey, l_suppkey)
          SELECT p_partkey, s_name, CAST(ps.minp AS DOUBLE)/100.0 AS min_price
          FROM part, ps, supplier
          WHERE p_partkey = ps.l_partkey AND s_suppkey = ps.l_suppkey
            AND p_size = 5
            AND ps.minp = (SELECT MIN(minp) FROM ps p2
                           WHERE p2.l_partkey = p_partkey)
          ORDER BY p_partkey, s_name""",
    "q74_tpch11" ->
      s"""SELECT l_suppkey,
            CAST(SUM($priceCents) AS DOUBLE)/100.0 AS total_value
          FROM lineitem GROUP BY l_suppkey
          HAVING 500 * SUM($priceCents) >
            (SELECT SUM($priceCents) FROM lineitem)
          ORDER BY total_value DESC, l_suppkey""",
    "q75_tpch22" ->
      """SELECT c_nationkey, count(*) AS numcust,
           CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0
             AS totacctbal
         FROM customer c
         WHERE CAST(round(c_acctbal*100) AS BIGINT) *
                 (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
               > (SELECT SUM(CAST(round(c_acctbal*100) AS BIGINT))
                  FROM customer WHERE c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderdate >=
                                 TIMESTAMP '2001-01-01 00:00:00')
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q76_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                    FROM events),
          v AS (SELECT user_id, min(ts) AS t_view FROM e
                WHERE event_type='view' GROUP BY user_id),
          c AS (SELECT e.user_id, min(e.ts) AS t_click
                FROM e JOIN v USING (user_id)
                WHERE event_type='click' AND e.ts > v.t_view
                GROUP BY e.user_id),
          p AS (SELECT e.user_id, min(e.ts) AS t_purchase
                FROM e JOIN c USING (user_id)
                WHERE event_type='purchase' AND e.ts > c.t_click
                GROUP BY e.user_id)
          SELECT v.user_id, t_view, t_click, t_purchase,
            CAST(1 + CASE WHEN t_click IS NULL THEN 0 ELSE 1 END +
                 CASE WHEN t_purchase IS NULL THEN 0 ELSE 1 END AS BIGINT)
              AS funnel_depth
          FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""",
    "q77_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
              CAST(datediff('day', DATE '2024-01-01',
                CAST(ts AS DATE)) // 7 AS BIGINT) AS wk
            FROM events),
          cohort AS (SELECT user_id, min(wk) AS cohort_wk
                     FROM uw GROUP BY user_id)
          SELECT cohort_wk, wk - cohort_wk AS week_offset,
            count(*) AS n_users
          FROM uw JOIN cohort USING (user_id)
          GROUP BY cohort_wk, week_offset""")
}

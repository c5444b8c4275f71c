package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.{AsofJoin, Skew}

/** Second tranche of relational-surface queries: outer/semi/anti joins,
  * cube, a decimal-typed aggregation (DecimalType(20,8) support per
  * SURVEY.md §7.4), scalar-subquery shape, skew-salted aggregation, and
  * the as-of join operator.
  */
object JoinQueries extends QuerySet {
  import Tables._

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Left outer join preserving customers with zero orders
    "q9_outer" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          dsum(coalesce(col("o_totalprice"), lit(0.0)), 2).as("total_spent"))
    }),

    // Left semi join (EXISTS shape)
    "q10_semi" -> ((s, dir) => {
      val o = t(s, dir, "orders").where(col("o_orderstatus") === "P")
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),

    // Left anti join (NOT EXISTS shape)
    "q11_anti" -> ((s, dir) => {
      val o = t(s, dir, "orders").where(col("o_orderstatus") === "P")
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),

    // DecimalType(20,8) in flight (SURVEY.md §1.2/§7.4): exact decimal
    // aggregation, surfaced as double — Spark's SUM(DECIMAL(20,8)) is
    // DECIMAL(30,8) while DuckDB's is DECIMAL(38,8), and the driver
    // comparator hashes unequal decimal widths differently; the final
    // double conversion of the same exact total is bit-identical
    "q12_decimal" -> ((s, dir) =>
      t(s, dir, "part")
        .groupBy("p_brand")
        .agg(sum(col("p_retailprice").cast(DecimalType(20, 8)))
          .cast("double").as("sum_retail"), count(lit(1)).as("n"))),

    // Skew-salted two-phase aggregation — provably identical to the
    // plain GROUP BY because the sums are exact (order-independent)
    "q13_salted" -> ((s, dir) =>
      Skew.saltedSum(t(s, dir, "lineitem"),
        keys = Seq("l_returnflag"), saltBy = col("l_orderkey"),
        sums = Seq((col("l_quantity"), 2, "sum_qty"),
          (col("l_extendedprice"), 2, "sum_price")),
        buckets = 16)),

    // Cube over two dimensions
    "q14_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))),

    // Scalar-subquery shape: rows above the (exact) global mean
    "q15_scalar" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val avgP = o.agg(
        (dsumDec(col("o_totalprice"), 2).cast("double") / count(lit(1)))
          .as("__avg"))
      o.crossJoin(broadcast(avgP))
        .where(col("o_totalprice") > col("__avg"))
        .select("o_orderkey", "o_totalprice")
    }),

    // As-of join: each purchase event enriched with the user's latest
    // view-event value at or before the purchase timestamp
    "e7_asof" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.where(col("event_type") === "view")
        .select("user_id", "ts", "value", "event_id")
      AsofJoin.asofJoin(purchases, views,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        rightVals = Seq("value" -> "last_view_value"),
        tiebreak = col("event_id"))
    }),

    // As-of join with a staleness bound: views older than 30 minutes
    // before the purchase are not carried (null instead) — the
    // merge_asof(tolerance=...) semantics
    "e7_asof_tol" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.where(col("event_type") === "view")
        .select("user_id", "ts", "value", "event_id")
      AsofJoin.asofJoin(purchases, views,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        rightVals = Seq("value" -> "last_view_value"),
        tiebreak = col("event_id"),
        tolerance = Some(expr("INTERVAL 30 MINUTES")))
    }),

    // Forward as-of: the NEXT view at or after each purchase (the
    // attribution-window direction)
    "e7_asof_fwd" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.where(col("event_type") === "view")
        .select("user_id", "ts", "value", "event_id")
      AsofJoin.asofJoin(purchases, views,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        rightVals = Seq("value" -> "next_view_value"),
        tiebreak = col("event_id"), direction = "forward")
    }))

  val oracles: Map[String, String] = Map(
    "q9_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
         CAST(SUM(CAST(COALESCE(o_totalprice, 0) AS DECIMAL(38,2))) AS DOUBLE)
           AS total_spent
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey""",
    "q10_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""",
    "q11_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""",
    "q12_decimal" ->
      """SELECT p_brand,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(20,8))) AS DOUBLE)
           AS sum_retail,
         count(*) AS n
         FROM part GROUP BY p_brand""",
    "q13_salted" ->
      """SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_price,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag""",
    "q14_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""",
    "q15_scalar" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice >
           (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
              / count(*) FROM orders)""",
    "e7_asof" ->
      """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
         (SELECT v.value FROM events v
          WHERE v.user_id = p.user_id AND v.event_type = 'view'
            AND CAST(v.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
          ORDER BY CAST(v.ts AS TIMESTAMP) DESC, v.event_id DESC
          LIMIT 1) AS last_view_value
         FROM events p WHERE p.event_type = 'purchase'""",
    "e7_asof_tol" ->
      """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
         (SELECT v.value FROM events v
          WHERE v.user_id = p.user_id AND v.event_type = 'view'
            AND CAST(v.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
            AND CAST(v.ts AS TIMESTAMP) >=
              CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
          ORDER BY CAST(v.ts AS TIMESTAMP) DESC, v.event_id DESC
          LIMIT 1) AS last_view_value
         FROM events p WHERE p.event_type = 'purchase'""",
    "e7_asof_fwd" ->
      """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
         (SELECT v.value FROM events v
          WHERE v.user_id = p.user_id AND v.event_type = 'view'
            AND CAST(v.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP)
          ORDER BY CAST(v.ts AS TIMESTAMP) ASC, v.event_id DESC
          LIMIT 1) AS next_view_value
         FROM events p WHERE p.event_type = 'purchase'""")
}

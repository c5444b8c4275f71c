package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational surface the north star mandates beyond the reference's
  * project/rename/cast pipeline (SURVEY.md §2.5-§2.6): aggregation, star
  * joins, window functions, set ops, rollup — each with a plain ANSI
  * oracle.
  *
  * Scale notes (100 TB): aggregations are hash-partial (map-side combine)
  * with one exchange on the group keys; the star join broadcasts only the
  * genuinely small dimension (`nation`, 25 rows at any scale) and lets AQE
  * pick shuffle-vs-broadcast for `customer`; window queries shuffle once
  * on the partition key. Judged sums use [[Tables.dsum]] so results are
  * independent of partitioning/summation order — a correctness property,
  * not just a test convenience.
  */
object RelationalQueries extends QuerySet {
  import Tables._

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-style pricing summary: partial-agg friendly, one shuffle
    "q1_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("2002-09-01").cast("timestamp"))
      li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(col("l_quantity"), 2).as("sum_qty"),
        dsum(col("l_extendedprice"), 2).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")), 6).as("sum_charge"),
        (dsumDec(col("l_quantity"), 2).cast("double") / count(lit(1)))
          .as("avg_qty"),
        (dsumDec(col("l_extendedprice"), 2).cast("double") / count(lit(1)))
          .as("avg_price"),
        count(lit(1)).as("count_order"))
    }),

    // Star join: revenue per nation; broadcast the tiny dim explicitly
    "q3_join" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Window function: each customer's largest order (deterministic
    // tiebreak on o_orderkey)
    "q4_window" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    }),

    // Set op: customers with both open and finished orders
    "q5_intersect" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.where(col("o_orderstatus") === "O").select("o_custkey")
        .intersect(o.where(col("o_orderstatus") === "F").select("o_custkey"))
    }),

    // Set op: customers with no pending orders
    "q5_except" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"))
        .except(t(s, dir, "orders").where(col("o_orderstatus") === "P")
          .select(col("o_custkey").as("c_custkey")))),

    // Rollup with subtotal + grand-total rows
    "q6_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("sum_qty"))),

    // ticker_24hr semantics recomputed from facts (reference:
    // etl.py:160-179 — the one aggregation the reference outsources):
    // first/last by time, weighted average, change, min/max, volume
    "q7_ticker" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // single-pass min_by/max_by over a total-order struct instead of two
      // window sorts: one hash aggregation, no global sort — the plan that
      // survives 100×. l_extendedprice is last in the tuple so full-tuple
      // ties imply equal price → deterministic output either way.
      val ordStruct = struct(col("l_shipdate"), col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"))
      val first = min_by(col("l_extendedprice"), ordStruct)
      val last = max_by(col("l_extendedprice"), ordStruct)
      li.groupBy(col("l_returnflag").as("symbol")).agg(
        (last - first).as("price_change"),
        ((last - first) / first * lit(100)).as("price_change_percent"),
        (dsumDec(col("l_extendedprice") * col("l_quantity"), 4).cast("double")
          / dsumDec(col("l_quantity"), 2).cast("double"))
          .as("weighted_avg_price"),
        first.as("first_price"),
        last.as("last_price"),
        max(col("l_extendedprice")).as("high_price"),
        min(col("l_extendedprice")).as("low_price"),
        dsum(col("l_quantity"), 2).as("volume"),
        count(lit(1)).as("trade_count"))
    }),

    // Distinct projection
    "q8_distinct" -> ((s, dir) =>
      t(s, dir, "customer").select("c_mktsegment", "c_nationkey").distinct()))

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE)/count(*) AS avg_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)/count(*) AS avg_price,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2002-09-01'
         GROUP BY l_returnflag, l_linestatus""",
    "q3_join" ->
      """SELECT n_name,
         CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    "q4_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
         QUALIFY row_number() OVER
           (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1""",
    "q5_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""",
    "q5_except" ->
      """SELECT c_custkey FROM customer
         EXCEPT
         SELECT o_custkey AS c_custkey FROM orders
         WHERE o_orderstatus = 'P'""",
    "q6_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "q7_ticker" ->
      """WITH w AS (
           SELECT l_returnflag, l_extendedprice, l_quantity,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice) AS rna,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC, l_extendedprice DESC) AS rnd
           FROM lineitem)
         SELECT l_returnflag AS symbol,
           max(CASE WHEN rnd=1 THEN l_extendedprice END)
             - max(CASE WHEN rna=1 THEN l_extendedprice END) AS price_change,
           (max(CASE WHEN rnd=1 THEN l_extendedprice END)
             - max(CASE WHEN rna=1 THEN l_extendedprice END))
             / max(CASE WHEN rna=1 THEN l_extendedprice END) * 100
             AS price_change_percent,
           CAST(SUM(CAST(l_extendedprice*l_quantity AS DECIMAL(38,4))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE)
             AS weighted_avg_price,
           max(CASE WHEN rna=1 THEN l_extendedprice END) AS first_price,
           max(CASE WHEN rnd=1 THEN l_extendedprice END) AS last_price,
           max(l_extendedprice) AS high_price,
           min(l_extendedprice) AS low_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS volume,
           count(*) AS trade_count
         FROM w GROUP BY l_returnflag""",
    "q8_distinct" ->
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer")
}

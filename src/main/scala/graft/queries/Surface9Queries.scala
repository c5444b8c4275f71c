package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ninth tranche (round 7d): the remaining TPC-H query shapes, closing
  * out all 22. Q1/Q2/Q3/Q4/Q5/Q11/Q13/Q14/Q17/Q18/Q19/Q20/Q21/Q22 are
  * already judged (q1_agg, q73, q39, q70, q46, q74, q71, q62, q67, q69,
  * q64, q72, q68, q75); this file adds Q6/Q7/Q8/Q9/Q10/Q12/Q15/Q16.
  *
  * The testdata is TPC-H-ish, not TPC-H: there is no partsupp table and
  * lineitem lacks shipmode/commitdate/receiptdate. Q9/Q12/Q16 are
  * therefore documented shape adaptations — same plan-stress (the join
  * topology, the correlation, the aggregate structure), different
  * surface columns:
  *  - Q9 costs supply at p_retailprice (no ps_supplycost),
  *  - Q12 buckets on order→ship delay (no shipmode / commit-receipt
  *    ordering),
  *  - Q16 derives the part-supplier relation from lineitem distinct
  *    pairs (no partsupp).
  *
  * Money sums follow the house rule (Tables.scala): exact decimal sums
  * cast back to double, so results are partition-invariant and match
  * DuckDB bit-for-bit.
  */
object Surface9Queries extends QuerySet {
  import Tables._

  private val rev4 = col("l_extendedprice") * (lit(1) - col("l_discount"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q6: single-scan forecast-revenue — the pushdown benchmark.
    // All three predicates reach the parquet scan (PushedFilters), the
    // aggregate is one partial+final sum, no shuffle of data rows
    "q78_tpch6" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount"), 4)
          .as("revenue"))),

    // TPC-H Q7: volume shipping between two nations, both directions.
    // supplier (100 rows/SF-invariant small) and nation broadcast; the
    // only data-proportional exchange is lineitem ⋈ orders on orderkey
    "q79_tpch7" -> ((s, dir) => {
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("sk"),
        col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("ck"),
        col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .where(col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp"),
          lit("1997-12-31").cast("timestamp")))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sk"))
        .join(broadcast(n2), col("c_nationkey") === col("ck"))
        .where((col("supp_nation") === "NATION_1" &&
          col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(dsum(rev4, 4).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q8: national market share — ratio of two exact sums per
    // year. The case-sum and the total come out of ONE aggregate pass;
    // division happens after both doubles are exact, so the quotient is
    // the same IEEE operation on every engine
    "q80_tpch8" -> ((s, dir) => {
      val nc = t(s, dir, "nation").select(col("n_nationkey").as("ck"),
        col("n_regionkey").as("crk"))
      val ns = t(s, dir, "nation").select(col("n_nationkey").as("sk"),
        col("n_name").as("supp_nation"))
      val r = t(s, dir, "region").where(col("r_name") === "ASIA")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .where(col("o_orderdate").between(
          lit("1996-01-01").cast("timestamp"),
          lit("1997-12-31").cast("timestamp")))
        .join(broadcast(t(s, dir, "part")
          .where(col("p_type") === "ECONOMY")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nc), col("c_nationkey") === col("ck"))
        .join(broadcast(r), col("crk") === col("r_regionkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(ns), col("s_nationkey") === col("sk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((dsum(when(col("supp_nation") === "NATION_3", rev4)
          .otherwise(lit(0.0)), 4) / dsum(rev4, 4)).as("mkt_share"))
        .orderBy("o_year")
    }),

    // TPC-H Q9 shape: product-type profit by nation and year. No
    // ps_supplycost in the schema — cost is p_retailprice * quantity
    // (same two-sided decimal product structure, same join topology:
    // fact ⋈ two broadcast dims ⋈ orders for the year)
    "q81_tpch9" -> ((s, dir) => {
      val ns = t(s, dir, "nation").select(col("n_nationkey").as("sk"),
        col("n_name").as("nation"))
      val amount = dec(rev4, 4) -
        dec(col("p_retailprice") * col("l_quantity"), 4)
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .where(col("p_name").like("%green%") ||
            col("p_name").like("%red%"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(ns), col("s_nationkey") === col("sk"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(amount).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q10: returned-item reporting — revenue lost to returns per
    // customer in a quarter, top 20. The per-customer aggregate carries
    // the display attributes through the groupBy (they're functionally
    // dependent on c_custkey); top-20 is a TakeOrdered, never a global
    // sort
    "q82_tpch10" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      t(s, dir, "lineitem").where(col("l_returnflag") === "R")
        .join(t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(rev4, 4).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q12 shape: shipping-delay service classes. No shipmode /
    // commitdate in the schema — the bucket is the order→ship delay
    // (≤90 days on-time, >90 late), the measure is the same
    // priority-split conditional count
    "q83_tpch12" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(when(datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")) > 90, lit("LATE"))
          .otherwise(lit("ONTIME")).as("ship_class"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("ship_class")),

    // TPC-H Q15: top supplier — the CTE-reused-twice shape. The revenue
    // frame is persisted (computed once), its max is a 1-row broadcast,
    // and the winner join is exact on the double total (both sides from
    // the same exact decimal sum)
    "q84_tpch15" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(dsum(rev4, 4).as("total_revenue"))
        .localCheckpoint() // computed once, reused twice; unlike
      // persist() this holds no executor cache past this query — the
      // bench session runs every judged query in one JVM
      val top = rev.agg(max(col("total_revenue")).as("mx"))
      t(s, dir, "supplier")
        .join(rev, col("s_suppkey") === col("supplier_no"))
        .join(broadcast(top), col("total_revenue") === col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    }),

    // TPC-H Q16 shape: supplier-count per part profile. No partsupp —
    // the part↔supplier relation is the DISTINCT (partkey, suppkey)
    // pairs observed in lineitem. Keeps Q16's plan stress: a distinct
    // over the relation, an anti-join excluding flagged suppliers, and
    // a count-distinct per low-cardinality profile
    "q85_tpch16" -> ((s, dir) => {
      val excl = t(s, dir, "supplier").where(col("s_name").like("%7%"))
        .select("s_suppkey")
      t(s, dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
        .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(broadcast(t(s, dir, "part")
          .where(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }))

  val oracles: Map[String, String] = Map(
    "q78_tpch6" ->
      """SELECT CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(38,4)))
           AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q79_tpch7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4)))
             AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01'
           AND TIMESTAMP '1997-12-31'
           AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q80_tpch8" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(CASE WHEN n1.n_name = 'NATION_3'
               THEN l_extendedprice*(1-l_discount) ELSE 0 END
             AS DECIMAL(38,4))) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice*(1-l_discount)
             AS DECIMAL(38,4))) AS DOUBLE) AS mkt_share
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN part ON l_partkey = p_partkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         JOIN region ON n2.n_regionkey = r_regionkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
           AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
             AND TIMESTAMP '1997-12-31'
         GROUP BY 1 ORDER BY 1""",
    "q81_tpch9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4))
             - CAST(p_retailprice*l_quantity AS DECIMAL(38,4)))
             AS DOUBLE) AS sum_profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE (p_name LIKE '%green%' OR p_name LIKE '%red%')
         GROUP BY 1, 2 ORDER BY 1, 2 DESC""",
    "q82_tpch10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
           CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4)))
             AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q83_tpch12" ->
      """SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
             CAST(l_shipdate AS DATE)) > 90
           THEN 'LATE' ELSE 'ONTIME' END AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY 1 ORDER BY 1""",
    "q84_tpch15" ->
      """WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice*(1-l_discount)
               AS DECIMAL(38,4))) AS DOUBLE) AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_revenue
         FROM supplier JOIN revenue ON s_suppkey = supplier_no
         WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
         ORDER BY s_suppkey""",
    "q85_tpch16" ->
      """SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
         JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
           AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
           AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")
}

package graft.queries

import org.apache.spark.sql.functions._

/** TPC-H queries over the sf tables, each money sum exact so the result
  * is the same at any parallelism.
  */
object TpchQueries extends Family {
  import Tables._

  /** Exact cents image of a 2-decimal double measure. */
  private val qtyCents = "CAST(round(l_quantity*100) AS BIGINT)"

  private val priceCents = "CAST(round(l_extendedprice*100) AS BIGINT)"

  private val rev4 = col("l_extendedprice") * (lit(1) - col("l_discount"))

  val judged: Seq[Judged] = Seq(
    // TPC-H Q3 shape: filtered dimension (broadcast) ⋈ orders ⋈ lineitem,
    // revenue per order, top-10. The customer side is explicitly
    // broadcast — a filtered dimension is exactly the side a 1000-executor
    // plan must ship to the fact scan instead of shuffling 100 TB of fact
    Judged("q39_tpch3", (s, dir) => {
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
    },
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
         ORDER BY revenue DESC, l_orderkey LIMIT 10"""),

    // TPC-H Q5 shape: the full five-table local-supplier star — region
    // (1 row after filter) → nation → customer → orders → lineitem →
    // supplier, revenue per nation for one year. Dimensions broadcast;
    // only the fact tables ever shuffle — the canonical 100 TB star plan
    Judged("q46_tpch5", (s, dir) => {
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
    },
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
         ORDER BY revenue DESC, n_name"""),

    // TPC-H Q14 shape: promo-revenue share over a shipdate quarter —
    // conditional aggregation over a broadcast dimension join; the fact
    // scan carries the pushed date range and never shuffles
    Judged("q62_tpch14", (s, dir) => {
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
    },
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
         FROM f"""),

    // TPC-H Q19 shape: disjunctive (brand × quantity-band × size-band)
    // predicate across the join — the filter shape Catalyst can only
    // partially push (the common l_partkey/p_partkey conjunct reaches
    // the scans; the OR evaluates post-join against the broadcast dim)
    Judged("q64_tpch19", (s, dir) => {
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
    },
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS revenue,
           count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
           AND ((p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
                 AND p_size BETWEEN 1 AND 5)
             OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
                 AND p_size BETWEEN 1 AND 10)
             OR (p_brand = 'Brand#24' AND l_quantity BETWEEN 20 AND 30
                 AND p_size BETWEEN 1 AND 15))"""),

    // TPC-H Q17: small-quantity-order revenue — a correlated aggregate
    // under a join. The 0.2·avg(l_quantity) threshold is cross-multiplied
    // into exact cents-integer arithmetic (5·cnt·q < Σq) so the filter
    // is reproducible; Catalyst decorrelates the two scalar subqueries
    // into one aggregated join on l_partkey
    Judged.sql("q67_tpch17",
      // string route on the decimal total: DuckDB's direct DECIMAL→DOUBLE
      // double-rounds past 2^53; string parse is correctly rounded
      """SELECT
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS STRING)
             AS DOUBLE) / 7.0 AS avg_yearly,
           count(*) AS n
         FROM lineitem, part
         WHERE p_partkey = l_partkey
           AND p_brand = 'Brand#23'
           AND 5 * (SELECT count(*) FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
                 * CAST(round(l_quantity * 100) AS BIGINT)
               < (SELECT SUM(CAST(round(l2.l_quantity * 100) AS BIGINT))
                  FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"""),

    // TPC-H Q21: suppliers who were the ONLY late supplier in a
    // multi-supplier finished order — EXISTS plus NOT EXISTS, each
    // correlated on l1.l_orderkey and (for l3) on o_orderdate from a
    // DIFFERENT outer table: the decorrelation-hostile shape. Catalyst
    // must plan a semi-join and an anti-join against lineitem, both
    // hash-partitioned on l_orderkey — no per-row subqueries
    Judged.sql("q68_tpch21",
      """SELECT s_name, count(*) AS numwait
         FROM supplier, lineitem l1, orders
         WHERE s_suppkey = l1.l_suppkey
           AND o_orderkey = l1.l_orderkey
           AND o_orderstatus = 'F'
           AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY s_name
         ORDER BY numwait DESC, s_name
         LIMIT 100"""),

    // TPC-H Q18: large-volume orders — IN over a grouped-HAVING
    // subquery on the same fact table. Catalyst plans the subquery as
    // an aggregate then a semi-join on l_orderkey; both the filter agg
    // and the outer agg are partial-aggregated map-side
    Judged.sql("q69_tpch18",
      s"""SELECT c_name, o.o_orderkey, o_orderdate, o_totalprice,
            CAST(SUM($qtyCents) AS DOUBLE)/100.0 AS sum_qty
          FROM customer, orders o, lineitem
          WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                                 GROUP BY l_orderkey
                                 HAVING SUM($qtyCents) > 25000)
            AND c_custkey = o_custkey AND o.o_orderkey = l_orderkey
          GROUP BY c_name, o.o_orderkey, o_orderdate, o_totalprice
          ORDER BY o_totalprice DESC, o.o_orderkey LIMIT 100"""),

    // TPC-H Q4: order-priority checking — EXISTS correlated on the
    // order key AND the outer order date (the join-condition-with-
    // outer-column shape). One semi-join on l_orderkey
    Judged.sql("q70_tpch4",
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // TPC-H Q13: customer order-count distribution — LEFT join with an
    // extra join-side predicate (kept orders only), then a histogram of
    // per-customer counts. Two hash exchanges (custkey, then count)
    Judged.sql("q71_tpch13",
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""),

    // TPC-H Q20 shape: suppliers moving an outsized share (>1/10) of
    // any 'small%' part's total volume. The correlated scalar aggregate
    // compares a grouped derived table against a per-part total —
    // cross-multiplied to exact integers. Catalyst decorrelates the
    // scalar subquery into an aggregate join on l_partkey
    Judged.sql("q72_tpch20",
      s"""SELECT s_name, s_acctbal FROM supplier WHERE s_suppkey IN (
            SELECT g.l_suppkey FROM (
              SELECT l_suppkey, l_partkey AS pk, SUM($qtyCents) AS q
              FROM lineitem, part
              WHERE l_partkey = p_partkey AND p_name LIKE 'small%'
              GROUP BY l_suppkey, l_partkey) g
            WHERE 10 * g.q > (SELECT SUM($qtyCents) FROM lineitem
                              WHERE l_partkey = g.pk))
          ORDER BY s_name"""),

    // TPC-H Q2 shape: cheapest supplier per size-5 part, with the
    // per-part minimum found by a correlated MIN over a shared CTE
    // (min is order-insensitive, so cents-exact). Decorrelates to an
    // aggregate self-join on partkey
    Judged.sql("q73_tpch2",
      s"""WITH ps AS (SELECT l_partkey, l_suppkey, MIN($priceCents) AS minp
                      FROM lineitem GROUP BY l_partkey, l_suppkey)
          SELECT p_partkey, s_name, CAST(ps.minp AS DOUBLE)/100.0 AS min_price
          FROM part, ps, supplier
          WHERE p_partkey = ps.l_partkey AND s_suppkey = ps.l_suppkey
            AND p_size = 5
            AND ps.minp = (SELECT MIN(minp) FROM ps p2
                           WHERE p2.l_partkey = p_partkey)
          ORDER BY p_partkey, s_name"""),

    // TPC-H Q11 shape: suppliers holding >1/500 of total line revenue —
    // grouped HAVING against a global-total scalar subquery,
    // cross-multiplied to exact cents (no integer/double division)
    Judged.sql("q74_tpch11",
      s"""SELECT l_suppkey,
            CAST(SUM($priceCents) AS DOUBLE)/100.0 AS total_value
          FROM lineitem GROUP BY l_suppkey
          HAVING 500 * SUM($priceCents) >
            (SELECT SUM($priceCents) FROM lineitem)
          ORDER BY total_value DESC, l_suppkey"""),

    // TPC-H Q22 shape: above-average-balance customers with no recent
    // orders, per nation — scalar AVG (cross-multiplied: bal·n > Σbal
    // over positive balances) plus a NOT EXISTS anti-join
    Judged.sql("q75_tpch22",
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
         GROUP BY c_nationkey ORDER BY c_nationkey"""),

    // TPC-H Q6: single-scan forecast-revenue — the pushdown benchmark.
    // All three predicates reach the parquet scan (PushedFilters), the
    // aggregate is one partial+final sum, no shuffle of data rows
    Judged("q78_tpch6", (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount"), 4)
          .as("revenue")),
      """SELECT CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(38,4)))
           AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),

    // TPC-H Q7: volume shipping between two nations, both directions.
    // supplier (100 rows/SF-invariant small) and nation broadcast; the
    // only data-proportional exchange is lineitem ⋈ orders on orderkey
    Judged("q79_tpch7", (s, dir) => {
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
    },
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
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    // TPC-H Q8: national market share — ratio of two exact sums per
    // year. The case-sum and the total come out of ONE aggregate pass;
    // division happens after both doubles are exact, so the quotient is
    // the same IEEE operation on every engine
    Judged("q80_tpch8", (s, dir) => {
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
    },
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
         GROUP BY 1 ORDER BY 1"""),

    // Q9 costs supply at p_retailprice (no ps_supplycost),
    //
    // TPC-H Q9 shape: product-type profit by nation and year. No
    // ps_supplycost in the schema — cost is p_retailprice * quantity
    // (same two-sided decimal product structure, same join topology:
    // fact ⋈ two broadcast dims ⋈ orders for the year)
    Judged("q81_tpch9", (s, dir) => {
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
    },
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
         GROUP BY 1, 2 ORDER BY 1, 2 DESC"""),

    // TPC-H Q10: returned-item reporting — revenue lost to returns per
    // customer in a quarter, top 20. The per-customer aggregate carries
    // the display attributes through the groupBy (they're functionally
    // dependent on c_custkey); top-20 is a TakeOrdered, never a global
    // sort
    Judged("q82_tpch10", (s, dir) => {
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
    },
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
         ORDER BY revenue DESC, c_custkey LIMIT 20"""),

    // Q12 buckets on order→ship delay (no shipmode / commit-receipt
    // ordering),
    //
    // TPC-H Q12 shape: shipping-delay service classes. No shipmode /
    // commitdate in the schema — the bucket is the order→ship delay
    // (≤90 days on-time, >90 late), the measure is the same
    // priority-split conditional count
    Judged("q83_tpch12", (s, dir) =>
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
        .orderBy("ship_class"),
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
         GROUP BY 1 ORDER BY 1"""),

    // TPC-H Q15: top supplier — the CTE-reused-twice shape. The revenue
    // frame is built lazily and used twice; Spark's exchange reuse
    // computes it once. That needs both uses to be one plan: the
    // supplier join would infer a not-null filter on the key for its
    // side only, so the frame states it (l_suppkey is NOT NULL in
    // TPC-H). Its max is a 1-row broadcast, and the winner join is exact
    // on the double total (both sides from the same exact decimal sum)
    Judged("q84_tpch15", (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp") &&
          col("l_suppkey").isNotNull)
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(dsum(rev4, 4).as("total_revenue"))
      val top = rev.agg(max(col("total_revenue")).as("mx"))
      t(s, dir, "supplier")
        .join(rev, col("s_suppkey") === col("supplier_no"))
        .join(broadcast(top), col("total_revenue") === col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    },
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
         ORDER BY s_suppkey"""),

    // Q16 derives the part-supplier relation from lineitem distinct pairs
    // (no partsupp).
    //
    // TPC-H Q16 shape: supplier-count per part profile. No partsupp —
    // the part↔supplier relation is the DISTINCT (partkey, suppkey)
    // pairs observed in lineitem. Keeps Q16's plan stress: a distinct
    // over the relation, an anti-join excluding flagged suppliers, and
    // a count-distinct per low-cardinality profile
    Judged("q85_tpch16", (s, dir) => {
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
    },
      """SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
         JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
           AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
           AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""))
}

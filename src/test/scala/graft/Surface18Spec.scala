package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-11 second wave beyond
  * the value oracle: ranking shape for BM25, algebraic ranges for the
  * regression/ACF diagnostics, and the weighted-median defining
  * property. All at sf0.001 (the oracle sweep covers values at three
  * scales; these pin the SEMANTICS a value hash can't explain).
  */
class Surface18Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.queries(name)(spark, dir)

  test("e96_bm25: per-query top-5, ranks contiguous, scores " +
    "non-increasing in rank") {
    val rows = q("e96_bm25")
      .select("query_id", "rk", "score").collect()
      .groupBy(_.getString(0))
    assert(rows.keySet == Set("t1", "t2", "t3"))
    rows.foreach { case (_, rs) =>
      val byRk = rs.sortBy(_.getLong(1))
      assert(byRk.map(_.getLong(1)).toSeq == (1L to byRk.length),
        "ranks must be 1..k contiguous")
      assert(byRk.length <= 5)
      val scores = byRk.map(_.getDouble(2)).toSeq
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"scores must be non-increasing in rank: $scores")
      assert(scores.forall(s => s > 0 && !s.isNaN && !s.isInfinite))
    }
  }

  test("e97_ols_trend: one row per event_type, finite coefficients") {
    val rows = q("e97_ols_trend").collect()
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
    rows.foreach { r =>
      assert(!r.getDouble(2).isNaN && !r.getDouble(2).isInfinite)
      assert(!r.getDouble(3).isNaN && !r.getDouble(3).isInfinite)
    }
  }

  test("e98_acf: correlation in [-1, 1], pairs = days - 1 per type") {
    val daily = graft.queries.Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")))
      .count().groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    q("e98_acf").collect().foreach { r =>
      val acf = r.getDouble(2)
      assert(acf >= -1.0 - 1e-12 && acf <= 1.0 + 1e-12, s"acf1=$acf")
      assert(r.getLong(1) == daily(r.getString(0)) - 1,
        "lag-1 pair count must be day count - 1")
    }
  }

  test("e99_hll_merge: union row present; merged estimate bound holds") {
    val rows = q("e99_hll_merge").collect()
    val all = rows.filter(_.getString(0) == "__all__")
    assert(all.length == 1, "exactly one __all__ union row")
    assert(rows.forall(_.getBoolean(2)),
      "every sketch estimate must sit within the ±3% gate")
    // Users repeat across types, so the exact global distinct must be
    // strictly below the sum of per-type distincts — the fact that
    // makes sketch UNION (not addition) the only correct merge.
    val parts = rows.filterNot(_.getString(0) == "__all__")
      .map(_.getLong(1)).sum
    assert(all.head.getLong(1) < parts,
      "union must deduplicate across types")
  }

  test("q108_weighted_median: defining property of the weighted median") {
    val li = graft.queries.Tables.t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity"))
    q("q108_weighted_median").collect().foreach { r =>
      val (flag, med) = (r.getString(0), r.getDouble(1))
      val below = li.where(col("l_returnflag") === flag &&
        col("l_extendedprice") < med)
        .agg(sum("l_quantity")).collect()(0).getDouble(0)
      val atOrBelow = li.where(col("l_returnflag") === flag &&
        col("l_extendedprice") <= med)
        .agg(sum("l_quantity")).collect()(0).getDouble(0)
      val total = r.getDouble(2)
      assert(below * 2 < total + 1e-6,
        s"$flag: weight strictly below the median must be < half")
      assert(atOrBelow * 2 >= total - 1e-6,
        s"$flag: weight at-or-below the median must reach half")
    }
  }
}

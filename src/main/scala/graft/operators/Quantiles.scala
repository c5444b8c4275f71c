package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed order statistics (north star §2.6: the per-group
  * percentile report every corpus-curation run publishes).
  *
  * The naive forms do not survive 100 TB: `Window.partitionBy(group)`
  * sorts the whole fact table into as many tasks as there are groups
  * (3 tasks for a 3-value key), and `percentile(...)` buffers every
  * value of a group in a single aggregation buffer. This operator keeps
  * exact semantics with a plan that stays parallel at any group
  * cardinality:
  *
  *  1. histogram: `group by (group, value) → n` — the only exchange
  *     proportional to the data, and it's a hash exchange on the
  *     high-cardinality composite key (map-side partials apply);
  *  2. range-partition the (much smaller) histogram on (group, value) —
  *     partition boundaries affect only load balance, never the answer;
  *  3. per-(partition, group) subtotals (≤ partitions × groups rows)
  *     prefix-summed into each partition's global rank offset;
  *  4. a window keyed by (partition, group) — parallelism =
  *     partitions × groups — turns local cumulative counts + offset
  *     into each distinct value's global rank span [lo, hi];
  *  5. the k-th order statistic is the value whose span contains k:
  *     one final group-by over rows that matched any requested rank.
  *
  * The k-th order statistic by value is insensitive to how ties are
  * broken between equal values, so collapsing duplicates into histogram
  * counts loses nothing — and the answer is identical on any engine at
  * any parallelism.
  */
object Quantiles {

  /** Exact integral division on long Columns: SQL `div`, truncating
    * toward zero and never routed through double, so a rank like
    * (n-1)*999 div 1000 or a 10^18 limb stays exact past 2^53 where
    * `floor(a / b.toDouble)` would round. On nonnegative ranks this is
    * floor division. The one integral `div` of the engine.
    */
  def ldiv(a: Column, b: Long): Column =
    call_function("div", a, lit(b))

  def ldiv(a: Column, b: Column): Column =
    call_function("div", a, b)

  /** 1-based rank of the lower median: (n + 1) div 2. */
  def medianRank(cnt: Column): Column = ldiv(cnt + lit(1L), 2)

  /** 1-based ranks bracketing the interpolated percentile at fraction
    * num/den: continuous position pos = 1 + (n-1)·num/den lies in
    * [lo, hi] with hi = min(lo + 1, n); the interpolation weight is
    * `fracAt`.
    */
  def loRank(cnt: Column, num: Long, den: Long): Column =
    lit(1L) + ldiv((cnt - lit(1L)) * lit(num), den)

  def hiRank(cnt: Column, num: Long, den: Long): Column =
    least(loRank(cnt, num, den) + lit(1L), cnt)

  def fracAt(cnt: Column, num: Long, den: Long): Column =
    pmod((cnt - lit(1L)) * lit(num), lit(den)).cast("double") / lit(den.toDouble)

  /** Exact per-group order statistics. `ranks` maps an output column
    * name to a 1-based target rank derived from the group's row count.
    * Returns one row per group: groupCols ++ ranks.keys ++ `n_total`.
    *
    * Plan shape (see object doc): hash exchange on (group, value),
    * range exchange of the histogram, two tiny window passes — no
    * full-table sort onto the group key, no per-group value buffering.
    */
  def orderStats(df: DataFrame, groupCols: Seq[String], valueCol: String,
                 ranks: Seq[(String, Column => Column)],
                 numPartitions: Int = 0): DataFrame = {
    // null values are excluded so cnt and ranks match SQL
    // percentile/median semantics (which ignore nulls)
    val hist = df.where(col(valueCol).isNotNull)
      .groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__n"))
    orderStatsFromHist(hist, groupCols, valueCol, ranks, numPartitions)
  }

  /** [[orderStats]] over a PREBUILT `(groupCols, valueCol, __n)` count
    * histogram — the entry point when the histogram is a shared staged
    * intermediate (several judged order-statistics queries over the
    * same fact column pay the corpus scan once; each then runs only
    * the histogram-sized selection). `__n` must be the non-null row
    * count per distinct (group, value).
    */
  def orderStatsFromHist(hist: DataFrame, groupCols: Seq[String],
                         valueCol: String,
                         ranks: Seq[(String, Column => Column)],
                         numPartitions: Int = 0): DataFrame =
    selectRanks(rankSpans(hist, groupCols, valueCol, numPartitions),
      groupCols, valueCol, ranks)

  /** The CDF of a (groupCols, valueCol, __n) count histogram: one row
    * per distinct (group, value) carrying its global 1-based rank span
    * `[__lo, __hi]`, its count `__n`, and the group total `__cnt`.
    * This frame is the query-independent sufficient statistic for ANY
    * rank selection on the column — stage it once and every quantile /
    * equi-depth / sketch-audit query is a single narrow scan + agg
    * ([[selectRanks]]), with the range exchange and both window passes
    * paid only at build time.
    */
  def rankSpans(hist: DataFrame, groupCols: Seq[String], valueCol: String,
                numPartitions: Int = 0): DataFrame = {
    val parts =
      if (numPartitions > 0) numPartitions
      else hist.sparkSession.conf
        .get("spark.sql.shuffle.partitions", "32").toInt
    val g = groupCols.map(col)
    val keyCols = (groupCols :+ valueCol).map(col)
    // spark_partition_id is read twice (subtotals + ranking); both
    // consumers must see one partition assignment. Exchange reuse
    // already dedups the identical range-exchange subtree within the
    // query, and the lazy persist pins the materialized partitions so
    // no re-evaluation can legally resample the boundaries — without
    // the extra full-pass job an eager localCheckpoint would run
    val ranged = hist.repartitionByRange(parts, keyCols: _*)
      .withColumn("__pid", spark_partition_id())
      .persist()
    val partTotals = ranged.groupBy((col("__pid") +: g): _*)
      .agg(sum(col("__n")).as("__pn"))
    val wOff = Window.partitionBy(g: _*).orderBy(col("__pid"))
    val offsets = partTotals
      .withColumn("__off", coalesce(sum(col("__pn")).over(
        wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__cnt", sum(col("__pn")).over(
        Window.partitionBy(g: _*)))
      .select((col("__pid") +: g) ++ Seq(col("__off"), col("__cnt")): _*)
    val wLocal = Window.partitionBy((col("__pid") +: g): _*)
      .orderBy(col(valueCol))
    // no forced broadcast: offsets is ≈ (partitions + groups) rows, which
    // grows with group cardinality — let AQE pick the join strategy (it
    // converts to broadcast at runtime whenever offsets is actually small)
    val ranked = ranged
      .join(offsets, "__pid" +: groupCols)
      .withColumn("__hi", col("__off") + sum(col("__n")).over(wLocal))
      .withColumn("__lo", col("__hi") - col("__n") + lit(1L))
    ranked.select((g :+ col(valueCol)) ++
      Seq(col("__n"), col("__lo"), col("__hi"), col("__cnt")): _*)
  }

  /** Rank selection over a [[rankSpans]] frame: the k-th order
    * statistic is the value whose span contains k. One narrow scan +
    * one hash agg on the group key — no exchange proportional to data.
    */
  def selectRanks(spans: DataFrame, groupCols: Seq[String],
                  valueCol: String,
                  ranks: Seq[(String, Column => Column)]): DataFrame = {
    val g = groupCols.map(col)
    val aggs = ranks.map { case (name, rk) =>
      max(when(rk(col("__cnt")).between(col("__lo"), col("__hi")),
        col(valueCol))).as(name)
    } :+ max(col("__cnt")).as("n_total")
    spans.groupBy(g: _*).agg(aggs.head, aggs.tail: _*)
  }
}

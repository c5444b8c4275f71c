package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Recount._

/** Properties of the round-7 tranche that the DuckDB oracle can't
  * state directly: partition-invariance of the two-stage weighted
  * sample, internal consistency of the funnel ordering, and mass
  * conservation of the cluster-size profile.
  */
class Surface7Spec extends SparkSpec {
  import spark.implicits._


  test("weighted sample two-stage prefilter equals the naive single window") {
    val got = query("e35_weighted_sample")
      .select("lang", "doc_id", "rk").as[(String, Long, Long)]
      .collect().toSet
    // naive form: one corpus-wide window per language
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 6),
      16, 10).cast("long")
    val w = Window.partitionBy("lang").orderBy(col("w_key"), col("doc_id"))
    val want = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"), col("doc_id"),
        (u.cast("double") / col("n_chars").cast("double")).as("w_key"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 5)
      .select("lang", "doc_id", "rk").as[(String, Long, Long)]
      .collect().toSet
    assert(got === want)
  }

  test("funnel stages are strictly ordered and depth counts them") {
    val rows = query("q76_funnel")
      .select(col("t_view").cast("long"), col("t_click").cast("long"),
        col("t_purchase").cast("long"), col("funnel_depth"))
      .as[(Long, Option[Long], Option[Long], Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (v, c, p, d) =>
      c.foreach(t => assert(t > v))
      p.foreach { t => assert(c.isDefined && t > c.get) }
      assert(d === 1L + c.size + p.size)
    }
  }

  test("retention: week-0 cell equals cohort size; offsets nonnegative") {
    val cells = query("q77_retention")
      .as[(Long, Long, Long)].collect()
    assert(cells.forall(_._2 >= 0))
    // every user is active in their cohort week, so offset-0 rows must
    // carry the full cohort: sum over offset-0 = total distinct users
    val week0 = cells.filter(_._2 == 0L).map(_._3).sum
    val users = queries.Tables.events(spark, dir)
      .select("user_id").distinct().count()
    assert(week0 === users)
  }

  test("cluster-size profile conserves the component node mass") {
    val sizes = query("e38_cluster_sizes")
      .as[(Long, Long)].collect()
    val mass = sizes.map { case (sz, n) => sz * n }.sum
    val nodes = query("e15_components").count()
    assert(mass === nodes)
    // pair-graph components are never singletons
    assert(sizes.forall(_._1 >= 2))
  }

  test("minhash estimate audit: n_match bounded, error consistent") {
    val rows = query("e39_minhash_est")
      .select("n_match", "est_jaccard", "true_jaccard", "abs_err")
      .as[(Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (m, est, j, err) =>
      assert(m >= 0 && m <= 8)
      assert(est === m / 8.0)
      assert(j >= 0.0 && j <= 1.0)
      assert(err === math.abs(est - j))
    }
  }

  test("curriculum buckets are contiguous deciles of the length order") {
    val rows = query("e36_curriculum")
      .orderBy("n_chars", "doc_id").as[(Long, Long, Long)].collect()
    val buckets = rows.map(_._3)
    assert(buckets.min === 1L && buckets.max === 10L)
    // non-decreasing along the curriculum order, sizes differ by ≤ 1
    assert(buckets.zip(buckets.tail).forall { case (a, b) => a <= b })
    val sizes = buckets.groupBy(identity).values.map(_.length).toSeq
    assert(sizes.max - sizes.min <= 1)
  }
}

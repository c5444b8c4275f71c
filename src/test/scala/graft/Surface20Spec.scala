package graft

import org.apache.spark.sql.functions._

import graft.streaming.Attribution
import Recount._

/** Invariants for the round-12 wave (the new
  * operators behind it).
  */
class Surface20Spec extends SparkSpec {
  // ---- Rank.withGlobalCumsums ----

  test("withGlobalCumsums equals a single-task running sum at any " +
    "partition count") {
    import spark.implicits._
    val df = (1 to 97).map(i => (i * 13 % 101, i.toLong, (i * 7).toLong))
      .toDF("k", "a", "b")
    val expected = df.orderBy("k").collect()
      .scanLeft(("init", 0L, 0L)) { case ((_, ca, cb), r) =>
        (r.getInt(0).toString, ca + r.getLong(1), cb + r.getLong(2))
      }.drop(1)
    for (parts <- Seq(1, 3, 8)) {
      val got = graft.operators.Rank
        .withGlobalCumsums(df, Seq(col("k")), Seq("a", "b"), parts)
        .orderBy("k").select("k", "cum_a", "cum_b").collect()
      assert(got.length == expected.length)
      got.zip(expected).foreach { case (g, (k, ca, cb)) =>
        assert(g.getInt(0).toString == k)
        assert(g.getLong(1) == ca, s"cum_a at k=$k parts=$parts")
        assert(g.getLong(2) == cb, s"cum_b at k=$k parts=$parts")
      }
    }
  }

  // ---- trained IVF ----

  test("trainIvfCentroids: centroids are the exact fixed-point means " +
    "of their members and are partition-count invariant") {
    val emb = graft.queries.Tables.t(spark, dir, "embeddings")
      .where(col("vec_id") =!= 0)
    val init = graft.operators.Similarity.syntheticCentroids(4, 64)
      .zipWithIndex.map { case (c, j) => j -> c.map(_.toDouble) }
    val t1 = graft.operators.Similarity
      .trainIvfCentroids(emb, "embedding", init, iters = 1)
    val t1b = graft.operators.Similarity
      .trainIvfCentroids(emb.repartition(7), "embedding", init, iters = 1)
    assert(t1 == t1b, "training must not depend on partitioning")
    // recompute one centroid's first component driver-side
    val cells = emb.select(col("vec_id"), col("embedding"),
      graft.operators.Similarity.ivfCellFixed(col("embedding"), init)
        .as("cell")).collect()
    val members = cells.filter(_.getInt(2) == t1.head._1)
    val q = members.map(r =>
      math.floor(r.getSeq[Float](1).head.toDouble * 1e7).toLong).sum
    assert(t1.head._2.head == q.toDouble / 1e7 / members.length)
  }

  test("e109: silhouettes in [-1,1], cell sizes partition the corpus " +
    "(values independently matched by a numpy recompute at sf0.01)") {
    val rows = query("e109_silhouette").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0))
    val corpus = graft.queries.Tables.t(spark, dir, "embeddings")
      .where(col("vec_id") =!= 0).count()
    assert(rows.map(_.getLong(1)).sum == corpus,
      "cells must partition the training corpus")
  }

  test("q111 weighted median column agrees with q108") {
    val q111 = query("q111_weighted_quantiles")
      .select("l_returnflag", "wq50").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val q108 = query("q108_weighted_median")
      .select("l_returnflag", "w_median").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(q111 == q108)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.streaming.Attribution

/** Invariants for the round-12 wave (the new
  * operators behind it).
  */
class Surface20Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  // ---- creditShares: the shared multi-touch split rule ----

  test("creditShares: every purchase's shares sum to exactly 1e6 µ") {
    for (n <- Seq(0L, 1L, 2L, 3L, 4L, 6L, 7L, 13L)) {
      val (ft, lt, slt) =
        if (n == 0) (null, null, null)
        else if (n == 1) ("click", "click", null)
        else ("click", "view", "signup")
      // touch sequence: click, [signup × (n-3+1 at position n-1 end)]…
      // counts just need to sum to n with ft/lt/slt types present
      val c: Map[String, Long] =
        if (n == 0) Map.empty
        else if (n == 1) Map("click" -> 1L)
        else if (n == 2) Map("click" -> 1L, "view" -> 1L)
        else Map("click" -> (1L + (n - 3)), "view" -> 1L, "signup" -> 1L)
      val shares = Attribution.creditShares(n, ft, lt, slt, c, 100L)
      assert(shares.map(_.w).sum == 1000000L,
        s"n=$n shares=${shares.toList}")
      assert(shares.forall(_.w > 0))
      assert(shares.forall(s => s.mc == s.w * 100L))
    }
  }

  test("creditShares: U-shape — first/last get 40%, middles split " +
    "20% with remainder to the last middle") {
    // 5 touches: click, view, view, signup, error
    // first=click(40%), last=error(40%), middles: view×2, signup×1
    val shares = Attribution.creditShares(5L, "click", "error", "signup",
      Map("click" -> 1L, "view" -> 2L, "signup" -> 1L, "error" -> 1L),
      cents = 1000L).map(s => s.touch_type -> s.w).toMap
    assert(shares("click") == 400000L)
    assert(shares("error") == 400000L)
    val base = 200000L / 3
    assert(shares("view") == 2 * base)
    assert(shares("signup") == base + (200000L - 3 * base))
    assert(shares.values.sum == 1000000L)
  }

  test("creditShares: 0 touches -> (none); 2 touches -> 50/50") {
    assert(Attribution.creditShares(0L, null, null, null, Map.empty, 7L)
      == Seq(Attribution.MTCredit("(none)", 1000000L, 7000000L)))
    val two = Attribution.creditShares(2L, "click", "view", "click",
      Map("click" -> 1L, "view" -> 1L), 10L)
      .map(s => s.touch_type -> s.w).toMap
    assert(two == Map("click" -> 500000L, "view" -> 500000L))
  }

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

  // ---- windowed attribution TTL (operator-level, MemoryStream-free
  //      path: judged end-to-end by c33; here the audit partition) ----

  test("c33 audit rows partition the touched-entity population") {
    val rows = SparkEntry.queries("c33_stream_attribution_ttl")(
      spark, dir).collect()
    val byType = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val entities = graft.queries.Tables.events(spark, dir)
      .where(col("event_type") =!= "purchase")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long"))
      .distinct().count()
    assert(byType.getOrElse("(evicted)", 0L) > 0L,
      "idle entities must measurably expire")
    assert(byType.getOrElse("(evicted)", 0L) +
      byType.getOrElse("(live_end)", 0L) == entities,
      "evicted + live_end must equal the touched-entity count")
  }

  test("e109: silhouettes in [-1,1], cell sizes partition the corpus " +
    "(values independently matched by a numpy recompute at sf0.01)") {
    val rows = SparkEntry.queries("e109_silhouette")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0))
    val corpus = graft.queries.Tables.t(spark, dir, "embeddings")
      .where(col("vec_id") =!= 0).count()
    assert(rows.map(_.getLong(1)).sum == corpus,
      "cells must partition the training corpus")
  }

  test("q111 weighted median column agrees with q108") {
    val q111 = SparkEntry.queries("q111_weighted_quantiles")(spark, dir)
      .select("l_returnflag", "wq50").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val q108 = SparkEntry.queries("q108_weighted_median")(spark, dir)
      .select("l_returnflag", "w_median").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(q111 == q108)
  }
}

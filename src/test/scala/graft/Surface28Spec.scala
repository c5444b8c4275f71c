package graft

import org.apache.spark.sql.functions._
import Recount._

/** Round-18 wave gates: a first-principles census of e174's output
  * shape (the brute-force SemDeDup agreement itself lives in
  * OperatorsSpec on a controlled twin fixture).
  */
class Surface28Spec extends SparkSpec {
  test("e174: one row per vector, losers only from multi-member cells, " +
    "survivors nonempty per cell") {
    val corpus = graft.queries.Tables.t(spark, dir, "embeddings")
    val out = query("e174_semdedup")
      .select("vec_id", "cell", "keep")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length.toLong === corpus.count(),
      "semDedup must emit exactly one decision per input vector")
    assert(out.map(_._1).distinct.length === out.length)
    val byCell = out.groupBy(_._2)
    byCell.foreach { case (cell, members) =>
      // pruning never empties a cluster: the pairwise rule always
      // keeps at least one member of any near-dup chain
      assert(members.exists(_._3), s"cell $cell lost every member")
      // a singleton cell can never lose its only member
      if (members.length == 1)
        assert(members.head._3, s"singleton cell $cell was pruned")
    }
    // the sf fixture must actually exercise the prune path
    assert(out.exists(!_._3), "fixture produced no pruned vectors")
  }

  test("e175: BH panel matches a driver-side recount of moments, z, " +
    "ranks and the step-up rejection set") {
    val rows = query("e175_fdr").collect()
      .map(r => r.getString(0) -> r).toMap
    val types = Seq("click", "error", "purchase", "signup", "view")
    assert(rows.keySet === types.toSet)
    val ev = graft.queries.Tables.events(spark, dir)
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val users = ev.map(_._1).distinct
    val zs = types.map { t =>
      val per = users.map(u => (u % 2, ev.count(e => e._1 == u && e._2 == t).toLong))
      def mom(g: Long) = {
        val xs = per.filter(_._1 == g).map(_._2)
        (xs.length.toLong, xs.sum, xs.map(x => x * x).sum)
      }
      val (nc, sc, ssc) = mom(0); val (nt, st, sst) = mom(1)
      def vr(n: Long, s: Long, ss: Long) =
        (n.toDouble * ss - s.toDouble * s) / (n.toDouble * (n.toDouble - 1.0))
      val se = math.sqrt(vr(nc, sc, ssc) / nc + vr(nt, st, sst) / nt)
      val diff = st.toDouble / nt - sc.toDouble / nc
      t -> (nc, nt, if (se > 0) Some(diff / se) else None)
    }.toMap
    val zcrit = Seq(2.5758293035489, 2.3263478740408408, 2.17009037758456,
      2.053748910631822, 1.9599639845400536)
    val order = types.sortBy(t =>
      (zs(t)._3.map(z => -math.abs(z)).getOrElse(Double.MaxValue), t))
    val hits = order.zipWithIndex.filter { case (t, i) =>
      zs(t)._3.exists(z => math.abs(z) >= zcrit(i)) }
    val kStar = hits.map(_._2 + 1).foldLeft(0L)((a, b) => math.max(a, b))
    types.foreach { t =>
      val r = rows(t)
      val (nc, nt, z) = zs(t)
      assert(r.getLong(1) === nc && r.getLong(2) === nt)
      z.foreach(zv => assert(math.abs(r.getDouble(3) - zv) < 5e-9,
        s"z mismatch for $t"))
      val rk = r.getLong(4)
      assert(order(rk.toInt - 1) === t, s"rank mismatch for $t")
      assert(r.getDouble(5) === zcrit(rk.toInt - 1))
      assert(r.getLong(7) === kStar, s"k* mismatch for $t")
      assert(r.getBoolean(8) === (rk <= kStar), s"rejection mismatch for $t")
    }
    // a reject-ALL panel would be suspicious at a null parity split;
    // k* = 0 is legitimate at this 15-user fixture (sf0.001's top
    // |z| = 2.40 just misses zcrit₁ = 2.576 — the step-up working).
    // The sf0.01 oracle-judged run exercises the rejecting case
    // (k* = 2: purchase and view cross their BH thresholds).
    assert(kStar < types.size,
      s"degenerate fixture: k* = $kStar rejects every metric")
  }

  test("e176: every delta doc decided once; admitted iff zero matches; " +
    "corpus docs never emitted") {
    val out = query("e176_semdedup_delta")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val deltaIds = graft.queries.Tables.t(spark, dir, "embeddings")
      .where(col("vec_id") % 4 === 0).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(out.map(_._1).toSet === deltaIds)
    assert(out.map(_._1).distinct.length === out.length)
    out.foreach { case (id, _, n, admitted) =>
      assert(n >= 0L && admitted === (n == 0L), s"flag mismatch for $id")
    }
    // the split must exercise both admission outcomes
    assert(out.exists(_._4) && out.exists(!_._4))
  }
}

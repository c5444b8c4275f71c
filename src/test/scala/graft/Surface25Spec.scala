package graft

import org.apache.spark.sql.functions.{col, to_date}
import Recount._

/** Invariants for the round-16 wave: each judged
  * statistic recounted driver-side from first principles at sf0.001.
  */
class Surface25Spec extends SparkSpec {
  private def dailyOrders(): Array[(Long, Long)] =
    graft.queries.Tables.t(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d")).count().collect()
      .map(r => r.getDate(0).toLocalDate.toEpochDay -> r.getLong(1))
      .sortBy(_._1)

  test("q126: runs statistic matches a driver-side sign-sequence walk") {
    val row = query("q126_runs_test").head()
    val daily = dailyOrders()
    val xs = daily.map(_._2).sorted
    val med = xs((xs.length + 1) / 2 - 1)
    val signs = daily.filter(_._2 != med).map(_._2 > med)
    val n1 = signs.count(identity).toLong
    val n2 = signs.length - n1
    val runs = 1L + signs.sliding(2).count(p =>
      p.length == 2 && p(0) != p(1))
    assert(row.getAs[Long]("n_days") == daily.length)
    assert(row.getAs[Long]("median_cnt") == med)
    assert(row.getAs[Long]("n_above") == n1)
    assert(row.getAs[Long]("n_below") == n2)
    assert(row.getAs[Long]("n_runs") == runs)
    val (a, b) = (n1.toDouble, n2.toDouble); val m = a + b
    assert(math.abs(row.getAs[Double]("mu_runs") -
      (1.0 + 2.0 * a * b / m)) < 1e-7)
    assert(math.abs(row.getAs[Double]("var_runs") -
      2.0 * a * b * (2.0 * a * b - a - b) / (m * m * (m - 1.0))) < 1e-7)
  }

  test("q127: Friedman Q matches a driver-side blocked-rank recount") {
    val row = query("q127_friedman").head()
    val byWeek = dailyOrders().groupBy(_._1 / 7)
      .filter(_._2.length == 7)
    // average rank within each week, kept integral as s = 2r
    val cells = byWeek.toSeq.flatMap { case (wk, days) =>
      days.map { case (epd, x) =>
        val below = days.count(_._2 < x)
        val ties = days.count(_._2 == x)
        (epd % 7, 2L * (below + 1) + ties - 1)
      }
    }
    val n = byWeek.size.toLong
    val ss = cells.map(c => c._2 * c._2).sum
    val sr = (0L to 6L).map(j =>
      cells.filter(_._1 == j).map(_._2).sum)
    assert(row.getAs[Long]("n_weeks") == n)
    (0 to 6).foreach(j =>
      assert(row.getAs[Long](s"sr_$j") == sr(j), s"sr_$j"))
    val num = sr.map(s => (s - 8.0 * n) * (s - 8.0 * n)).sum
    assert(math.abs(row.getAs[Double]("q_friedman") -
      6.0 * num / (ss - 448.0 * n)) < 1e-7)
    // rank-sum identity: Σ_j SR_j = n · k(k+1) with k=7 (each week's
    // doubled average ranks always total 2·(1+..+7) = 56)
    assert(sr.sum == 56 * n)
  }

  test("q128: fence counts match a driver-side sorted-tail recount") {
    val rows = query("q128_tukey_outliers")
      .collect().map(r => r.getString(0) -> r).toMap
    val li = graft.queries.Tables.t(spark, dir, "lineitem")
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    li.groupBy(_._1).foreach { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      val n = sorted.length
      def atRank(k: Long) = sorted(k.toInt - 1)
      val q1 = atRank((n + 3) / 4); val q3 = atRank((3L * n + 3) / 4)
      val lo = q1 - 1.5 * (q3 - q1); val hi = q3 + 1.5 * (q3 - q1)
      val r = rows(g)
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Double]("q1") == q1 && r.getAs[Double]("q3") == q3)
      assert(r.getAs[Long]("n_low") == sorted.count(_ < lo))
      assert(r.getAs[Long]("n_high") == sorted.count(_ > hi))
    }
  }

  test("e132: ccf matches driver-side Pearson; lag 0 is plain corr") {
    val rows = query("e132_cross_corr")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == (-3L to 3L).toSet)
    def daily(tpe: String): Map[Long, Long] =
      graft.queries.Tables.events(spark, dir)
        .where(col("event_type") === tpe)
        .groupBy(to_date(col("ts")).as("d")).count().collect()
        .map(r => r.getDate(0).toLocalDate.toEpochDay -> r.getLong(1))
        .toMap
    val dv = daily("view"); val dc = daily("click")
    (-3L to 3L).foreach { lag =>
      val pairs = dv.toSeq.flatMap { case (d, x) =>
        dc.get(d + lag).map(y => (x.toDouble, y.toDouble))
      }
      val n = pairs.length.toDouble
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val ccf = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      val r = rows(lag)
      assert(r.getAs[Long]("n_pairs") == pairs.length, s"lag $lag")
      assert(math.abs(r.getAs[Double]("ccf") - ccf) < 1e-7, s"lag $lag")
    }
  }

  test("e133: Chao1 never drops below observed richness; recount agrees") {
    val rows = query("e133_chao1").collect()
    val docs = graft.queries.Tables.t(spark, dir, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getString(1), Option(r.getString(2)).getOrElse("")))
      .filter(_._1 != null)
    val byLang = docs.groupBy(_._1)
    assert(rows.map(_.getString(0)).toSet == byLang.keySet)
    rows.foreach { r =>
      val lang = r.getString(0)
      val freq = byLang(lang).flatMap(d => toks(d._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val types = freq.size.toLong
      val toksN = freq.values.sum
      val f1 = freq.values.count(_ == 1L).toLong
      val f2 = freq.values.count(_ == 2L).toLong
      assert(r.getAs[Long]("word_types") == types)
      assert(r.getAs[Long]("n_tokens") == toksN)
      assert(r.getAs[Long]("hapax") == f1)
      assert(r.getAs[Long]("dislegomena") == f2)
      val chao1 = types + f1.toDouble * (f1 - 1.0) / (2.0 * (f2 + 1.0))
      assert(math.abs(r.getAs[Double]("chao1") - chao1) < 1e-6)
      assert(r.getAs[Double]("chao1") >= types - 1e-9,
        "Chao1 is a lower-bound ESTIMATE above observed richness")
      val cov = r.getAs[Double]("coverage")
      assert(cov >= 0.0 && cov <= 1.0)
    }
  }

  test("e134: top-bigram share matches a driver-side recount") {
    val rows = query("e134_top_bigram")
      .collect().map(r => r.getLong(0) -> r).toMap
    val docs = graft.queries.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
    val withBigrams = docs.map { case (id, text) =>
      id -> toks(text).sliding(2).filter(_.length == 2)
        .map(p => (p(0), p(1))).toSeq
    }.filter(_._2.nonEmpty)
    assert(rows.size == withBigrams.length)
    withBigrams.foreach { case (id, bgs) =>
      val counts = bgs.groupBy(identity).view.mapValues(_.size.toLong)
      val top = counts.values.max; val n = bgs.length.toLong
      val r = rows(id)
      assert(r.getAs[Long]("n_bigrams") == n, s"doc $id")
      assert(r.getAs[Long]("top_cnt") == top, s"doc $id")
      assert(math.abs(r.getAs[Double]("top_frac") - top.toDouble / n)
        < 1e-7, s"doc $id")
    }
  }

  test("e135: in-degree histogram matches a brute-force kNN recount") {
    val rows = query("e135_hubness")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val emb = embeddings().filter(_._1 != 0L)
    val probes = emb.filter(e => e._1 >= 1 && e._1 <= 63)
    val deg = scala.collection.mutable.Map[Long, Long]()
    probes.foreach { case (qid, qe) =>
      emb.filter(_._1 != qid)
        .map { case (vid, ve) => (vid, cosine(ve, qe)) }
        .sortBy { case (vid, c) => (-c, vid) }.take(10)
        .foreach { case (vid, _) =>
          deg(vid) = deg.getOrElse(vid, 0L) + 1L }
    }
    val hist = deg.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap +
      (0L -> (emb.length - deg.size).toLong)
    assert(rows == hist)
    // mass conservation: Σ in_degree·n_vecs = probes × 10 slots
    assert(rows.map { case (d, n) => d * n }.sum == 10L * probes.length)
  }

  test("e136: MRR matches a brute-force exact-vs-LSH recount") {
    val row = query("e136_ann_mrr").head()
    val emb = embeddings().filter(_._1 != 0L)
    // 4-plane LSH bucket with the SAME plane-sign matrix the operator
    // bakes into its plan
    val signs = graft.operators.Similarity.planeSigns(4, 64)
    def bucket(v: Array[Float]): Long =
      (0 until 4).map { j =>
        val p = v.indices.map(i => v(i).toDouble * signs(j)(i)).sum
        if (p >= 0) 1L << j else 0L
      }.sum
    val probes = emb.filter(e => e._1 >= 1 && e._1 <= 63)
    val ranks = probes.flatMap { case (qid, qe) =>
      val others = emb.filter(_._1 != qid)
      val best = others.map { case (v, ve) => (v, cosine(ve, qe)) }
        .minBy { case (v, c) => (-c, v) }._1
      val qb = bucket(qe)
      val approx = others.filter(e => bucket(e._2) == qb)
        .map { case (v, ve) => (v, cosine(ve, qe)) }
        .sortBy { case (v, c) => (-c, v) }.take(10).map(_._1)
      val idx = approx.indexOf(best)
      if (idx >= 0) Some(idx + 1) else None
    }
    assert(row.getAs[Long]("n_probes") == probes.length)
    assert(row.getAs[Long]("n_found") == ranks.length)
    assert(row.getAs[Long]("hits1") == ranks.count(_ == 1))
    val mrr = (1 to 10).map(r =>
      ranks.count(_ == r).toDouble / r).sum / probes.length
    assert(math.abs(row.getAs[Double]("mrr") - mrr) < 1e-7)
  }

  test("e136: the row is the same without self-join auto-resolution") {
    val byDefault = query("e136_ann_mrr").head()
    val strict = Session.withConf(spark)(
      "spark.sql.selfJoinAutoResolveAmbiguity" -> "false") {
      query("e136_ann_mrr").head()
    }
    assert(strict == byDefault)
  }

  test("e137: churn sets match a driver-side top-20 recount") {
    // sf0.01, not the suite's sf0.001: the smaller fixture has only
    // 15 users, so both halves' "top-20" would be ALL users and the
    // (cnt desc, user_id) cut/tie-break path would never be exercised
    val dir01 = "/root/testdata/sf0.01"
    val row = query("e137_topk_churn", dir01).head()
    val cut = java.time.Instant.parse("2024-01-16T00:00:00Z")
    val ev = graft.queries.Tables.events(spark, dir01)
      .select("user_id", "ts").collect()
      .map(r => r.getLong(0) -> !r.getTimestamp(1).toInstant.isBefore(cut))
    def top(h2: Boolean): Set[Long] =
      ev.filter(_._2 == h2).groupBy(_._1).view.mapValues(_.length).toSeq
        .sortBy { case (u, c) => (-c, u) }.take(20).map(_._1).toSet
    val (a, b) = (top(false), top(true))
    val common = (a intersect b).size.toLong
    // the cut must BIND here (sf0.01 has ~150 users per half), or the
    // recount proves nothing about the top-k selection
    assert(a.size == 20 && b.size == 20, "top-20 cut did not bind")
    assert(row.getAs[Long]("n_first") == a.size)
    assert(row.getAs[Long]("n_second") == b.size)
    assert(row.getAs[Long]("n_common") == common)
    assert(row.getAs[Long]("n_new") == b.size - common)
    assert(row.getAs[Long]("n_dropped") == a.size - common)
    assert(math.abs(row.getAs[Double]("jaccard") -
      common.toDouble / (a.size + b.size - common)) < 1e-7)
  }

  test("e138: census counts are the judged frames' exact intersection") {
    val row = query("e138_dup_census").head()
    def pairs(name: String): Set[(Long, Long)] =
      query(name)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = pairs("e1_minhash_pairs")
    val sh = pairs("e32_simhash_pairs")
    val m = (mh intersect sh).size.toLong
    assert(row.getAs[Long]("n_minhash") == mh.size)
    assert(row.getAs[Long]("n_simhash") == sh.size)
    assert(row.getAs[Long]("n_both") == m)
    val chapman = (mh.size + 1.0) * (sh.size + 1.0) / (m + 1.0) - 1.0
    assert(math.abs(row.getAs[Double]("chapman_nhat") - chapman) < 1e-6)
    // the estimate can never fall below the union of the two catches
    assert(chapman + 1e-9 >= (mh union sh).size)
  }

  test("e139: anisotropy matches a driver-side centroid recount") {
    val row = query("e139_anisotropy").head()
    val emb = embeddings().filter(_._1 != 0L)
    val n = emb.length
    // centroid from the same fixed-point per-dim sums the plan uses
    val mu = (0 until 64).map { i =>
      emb.map(e => math.floor(e._2(i).toDouble * 1e7).toLong).sum
        .toDouble / 1e7 / n
    }.toArray
    def cos(a: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 64) {
        dot += a(i).toDouble * mu(i)
        na += a(i).toDouble * a(i).toDouble
        nb += mu(i) * mu(i)
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val meanCos = emb.map(e =>
      math.floor(cos(e._2) * 1e9).toLong).sum.toDouble / 1e9 / n
    val muNorm = math.sqrt(mu.map(v => v * v).sum)
    assert(row.getAs[Long]("n") == n)
    assert(math.abs(row.getAs[Double]("mu_norm") - muNorm) < 1e-7)
    assert(math.abs(row.getAs[Double]("mean_cos_to_centroid") - meanCos)
      < 1e-7)
    // a centroid cosine is bounded like any cosine
    assert(meanCos >= -1.0 && meanCos <= 1.0)
  }
}

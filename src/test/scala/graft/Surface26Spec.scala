package graft

import org.apache.spark.sql.functions.col

/** Invariants for the round-16 second wave: each
  * judged statistic recounted driver-side from first principles at
  * sf0.001 (screens and HITS from the raw tables; kappa/McNemar cell
  * algebra from the judged detectors' own frames, whose derivations
  * the oracle gate already grades).
  */
class Surface26Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def toks(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  private def docs(): Array[(Long, String, String, String)] =
    graft.queries.Tables.t(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))

  test("e140: kappa matches a driver-side confusion recount") {
    val row = SparkEntry.queries("e140_langid_kappa")(spark, dir).head()
    val det = SparkEntry.queries("e4_langid")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = docs().map(d => (d._3, det(d._1)))
    val n = pairs.length.toLong
    val agree = pairs.count(p => p._1 == p._2).toLong
    val rt = pairs.groupBy(_._1).view.mapValues(_.length.toLong)
    val ct = pairs.groupBy(_._2).view.mapValues(_.length.toLong)
    val peNum = rt.map { case (l, r) => r * ct.getOrElse(l, 0L) }.sum
    assert(row.getAs[Long]("n_docs") == n)
    assert(row.getAs[Long]("n_agree") == agree)
    assert(row.getAs[Long]("pe_num") == peNum)
    assert(math.abs(row.getAs[Double]("kappa") -
      (n.toDouble * agree - peNum) / (n.toDouble * n - peNum)) < 1e-7)
  }

  test("e141: McNemar cells match a driver-side flag recount") {
    val row = SparkEntry.queries("e141_mcnemar_dedup")(spark, dir).head()
    def ids(q: String): Set[Long] =
      SparkEntry.queries(q)(spark, dir).select("id_a", "id_b").collect()
        .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val mh = ids("e1_minhash_pairs")
    val sh = ids("e32_simhash_pairs")
    val all = docs().map(_._1)
    val both = all.count(d => mh(d) && sh(d)).toLong
    val mhOnly = all.count(d => mh(d) && !sh(d)).toLong
    val shOnly = all.count(d => !mh(d) && sh(d)).toLong
    assert(row.getAs[Long]("n_docs") == all.length)
    assert(row.getAs[Long]("n_both") == both)
    assert(row.getAs[Long]("n_mh_only") == mhOnly)
    assert(row.getAs[Long]("n_sh_only") == shOnly)
    assert(row.getAs[Long]("n_neither") ==
      all.length - both - mhOnly - shOnly)
    val (b, c) = (mhOnly.toDouble, shOnly.toDouble)
    if (mhOnly + shOnly > 0)
      assert(math.abs(row.getAs[Double]("mcnemar_chi2") -
        (b - c) * (b - c) / (b + c)) < 1e-7)
  }

  test("e142: Cochran Q matches a first-principles screen recount") {
    val row = SparkEntry.queries("e142_cochran_q")(spark, dir).head()
    val terms = Set("spark", "stream", "vector", "window")
    val rows = docs().map { d =>
      val tk = toks(d._2)
      val s1 = if (tk.exists(terms)) 1L else 0L
      val s2 = if (tk.distinct.length * 20L < tk.length * 11L) 1L else 0L
      val s3 = if (tk.length < 40) 1L else 0L
      (s1, s2, s3)
    }
    val (c1, c2, c3) =
      (rows.map(_._1).sum, rows.map(_._2).sum, rows.map(_._3).sum)
    val t = c1 + c2 + c3
    val sr2 = rows.map(r => { val s = r._1 + r._2 + r._3; s * s }).sum
    assert(row.getAs[Long]("c_blocklist") == c1)
    assert(row.getAs[Long]("c_repetition") == c2)
    assert(row.getAs[Long]("c_short") == c3)
    assert(row.getAs[Long]("t_total") == t)
    assert(row.getAs[Long]("sum_r2") == sr2)
    val num = 3.0 * (c1.toDouble * c1 + c2.toDouble * c2 +
      c3.toDouble * c3) - t.toDouble * t
    val den = 3.0 * t - sr2.toDouble
    // the screens differ at this fixture, so the test exercises a
    // real statistic, not the degenerate all-equal case
    assert(den != 0.0)
    assert(math.abs(row.getAs[Double]("q_cochran") - 2.0 * num / den)
      < 1e-7)
  }

  test("e143: gains table matches a driver-side rank-and-cut recount") {
    val out = SparkEntry.queries("e143_dsir_gains")(spark, dir)
      .collect().map(r => r.getAs[Long]("decile") -> r).toMap
    val w = SparkEntry.queries("e125_dsir_weights")(spark, dir)
      .select("doc_id", "w_num", "w_den").collect()
      .map(r => (r.getLong(0), r.getLong(1).toDouble / r.getLong(2)))
    val lang = docs().map(d => d._1 -> d._3).toMap
    val ranked = w.sortBy { case (id, wd) => (-wd, id) }
    val n = ranked.length.toLong
    val enTot = ranked.count(r => lang(r._1) == "en").toLong
    val byDec = ranked.zipWithIndex.groupBy {
      case (_, i) => i.toLong * 10 / n
    }
    assert(out.keySet == byDec.keySet)
    var cum = 0L
    (0L to 9L).filter(byDec.contains).foreach { dec =>
      val grp = byDec(dec)
      val en = grp.count { case ((id, _), _) => lang(id) == "en" }.toLong
      cum += en
      val row = out(dec)
      assert(row.getAs[Long]("n_docs") == grp.length, s"decile $dec")
      assert(row.getAs[Long]("n_en") == en, s"decile $dec")
      assert(row.getAs[Long]("cum_en") == cum, s"decile $dec")
      assert(math.abs(row.getAs[Double]("capture") -
        cum.toDouble / enTot) < 1e-7)
      assert(math.abs(row.getAs[Double]("lift") -
        en.toDouble * n / (grp.length.toDouble * enTot)) < 1e-7)
      assert(math.abs(row.getAs[Double]("w_min") -
        grp.map(_._1._2).min) < 1e-12)
      assert(math.abs(row.getAs[Double]("w_max") -
        grp.map(_._1._2).max) < 1e-12)
    }
    assert(cum == enTot) // the last decile captures everything
  }

  test("e144: mixture weights match a token recount and sum to ~1") {
    val rows = SparkEntry.queries("e144_temperature_mix")(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val cnt = docs().groupBy(_._4).view
      .mapValues(_.map(d => toks(d._2).length.toLong).sum).toMap
    val qs = cnt.view.mapValues(c =>
      math.floor(math.sqrt(c.toDouble) * 1e6).toLong).toMap
    val (tTok, tQs) = (cnt.values.sum, qs.values.sum)
    assert(rows.keySet == cnt.keySet)
    cnt.foreach { case (src, c) =>
      val row = rows(src)
      assert(row.getAs[Long]("n_tok") == c, src)
      assert(row.getAs[Long]("qs") == qs(src), src)
      assert(math.abs(row.getAs[Double]("w_prop") -
        c.toDouble / tTok) < 1e-7, src)
      assert(math.abs(row.getAs[Double]("w_temp") -
        qs(src).toDouble / tQs) < 1e-7, src)
      assert(math.abs(row.getAs[Double]("epochs") -
        qs(src).toDouble * 100000.0 / (tQs.toDouble * c)) < 1e-6, src)
    }
    // α = 0.5 upweights the smallest source relative to proportional
    val smallest = cnt.minBy(_._2)._1
    assert(rows(smallest).getAs[Double]("w_temp") >
      rows(smallest).getAs[Double]("w_prop"))
    assert(math.abs(rows.values.map(_.getAs[Double]("w_temp")).sum - 1.0)
      < 1e-6)
  }

  test("e146: RRF matches a driver-side rank-and-fuse recount") {
    val out = SparkEntry.queries("e146_rrf_fusion")(spark, dir).collect()
    def ranks(q: String): Map[Long, Long] =
      SparkEntry.queries(q)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy { case (id, cos) => (-cos, id) }
        .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val ex = ranks("e2_topk"); val an = ranks("e2_lsh_topk")
    val fused = (ex.keySet ++ an.keySet).toSeq.map { id =>
      val s = ex.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
        an.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
      (id, s)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    assert(out.length == fused.length)
    out.zip(fused).foreach { case (row, (id, s)) =>
      assert(row.getAs[Long]("vec_id") == id)
      assert(math.abs(row.getAs[Double]("rrf_score") - s) < 1e-7)
      assert(Option(row.getAs[Any]("r_exact")).map(_.asInstanceOf[Long])
        == ex.get(id))
      assert(Option(row.getAs[Any]("r_ann")).map(_.asInstanceOf[Long])
        == an.get(id))
    }
  }

  test("c42: streaming mix image equals the batch e144 frame") {
    val batch = SparkEntry.queries("e144_temperature_mix")(spark, dir)
      .collect().map(_.toSeq)
    val stream = SparkEntry.queries("c42_stream_mix")(spark, dir)
      .collect().map(_.toSeq)
    assert(stream.toSeq == batch.toSeq)
  }

  test("e154: MMR selection matches a driver-side greedy recount") {
    val out = SparkEntry.queries("e154_mmr_diversify")(spark, dir)
      .collect().sortBy(_.getAs[Long]("step"))
    val ex = SparkEntry.queries("e2_topk")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val emb = graft.queries.Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d0 = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d0 += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      d0 / (math.sqrt(na) * math.sqrt(nb))
    }
    var selected = List.empty[Long]
    val picks = (1 to 3).map { _ =>
      val cand = ex.keys.filterNot(selected.contains).map { id =>
        val div = selected.map(s => cos(emb(id), emb(s)))
          .foldLeft(Double.NegativeInfinity)(math.max)
        val score = if (selected.isEmpty) ex(id)
          else 0.7 * ex(id) - 0.3 * div
        (id, score)
      }
      val best = cand.minBy { case (id, s0) => (-s0, id) }
      selected = selected :+ best._1
      best
    }
    out.zip(picks).zipWithIndex.foreach { case ((row, (id, s0)), i) =>
      assert(row.getAs[Long]("step") == i + 1)
      assert(row.getAs[Long]("vec_id") == id, s"step ${i + 1}")
      assert(math.abs(row.getAs[Double]("mmr_score") - s0) < 1e-7)
    }
    // diversification must have changed the order vs pure relevance
    val byRel = ex.toSeq.sortBy { case (id, r) => (-r, id) }
      .take(3).map(_._1)
    assert(out.map(_.getAs[Long]("vec_id")).toSeq != byRel)
  }

  test("e152/e153: RBO and Neyman allocation match driver recounts") {
    // e152: recompute both rankings and the truncated RBO
    val emb = graft.queries.Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val q = emb.find(_._1 == 0L).get._2
    val ex = SparkEntry.queries("e2_topk")(spark, dir)
      .select("vec_id").collect().map(_.getLong(0))
    val ap = emb.filter(_._1 != 0L).map { case (id, x) =>
      id -> x.zip(q).count { case (a, b) => (a >= 0) != (b >= 0) }
    }.sortBy { case (id, h) => (h, id) }.take(10).map(_._1)
    val rx = ex.zipWithIndex.toMap
    val ra = ap.zipWithIndex.toMap
    val common = rx.keySet intersect ra.keySet
    val rbo = (1 to 10).map { dd =>
      val x = common.count(id => rx(id) < dd && ra(id) < dd)
      0.1 * math.pow(0.9, dd - 1) * x / dd
    }.sum
    val row = SparkEntry.queries("e152_rbo")(spark, dir).head()
    assert(row.getAs[Long]("n_common") == common.size)
    assert(math.abs(row.getAs[Double]("rbo_trunc") - rbo) < 1e-7)
    assert(common.nonEmpty) // degenerate-agreement guard
    // e153: recompute the allocation from raw token counts
    val byLang = docs().groupBy(_._3).view
      .mapValues(_.map(d0 => toks(d0._2).length.toLong)).toMap
      .filter(_._2.length > 1)
    val qw = byLang.map { case (l, xs) =>
      val n = xs.length.toLong
      val sx = xs.sum; val sxx = xs.map(x => x * x).sum
      val sh = math.sqrt((n.toDouble * sxx - sx.toDouble * sx) /
        (n.toDouble * (n.toDouble - 1.0)))
      l -> math.floor(n.toDouble * sh * 1e6).toLong
    }
    val tQw = qw.values.sum
    val rows = SparkEntry.queries("e153_neyman_alloc")(spark, dir)
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    assert(rows.keySet == qw.keySet)
    qw.foreach { case (l, w) =>
      assert(rows(l).getAs[Long]("qw") == w, l)
      assert(rows(l).getAs[Long]("n_alloc") == w * 100 / tQw, l)
    }
    // floor allocation never exceeds the budget
    assert(rows.values.map(_.getAs[Long]("n_alloc")).sum <= 100L)
  }

  test("e155: Kendall W matches a driver-side three-ranker recount") {
    val row = SparkEntry.queries("e155_kendall_w")(spark, dir).head()
    val emb = graft.queries.Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val q = emb(0L)
    def cosPrefix(x: Array[Float], m: Int): Double = {
      var d0 = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < m) {
        d0 += x(i).toDouble * q(i).toDouble
        na += x(i).toDouble * x(i).toDouble
        nb += q(i).toDouble * q(i).toDouble; i += 1
      }
      d0 / (math.sqrt(na) * math.sqrt(nb))
    }
    val pool = SparkEntry.queries("e2_topk")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .map { case (id, rel) =>
        val x = emb(id)
        val ham = x.zip(q).count { case (a, b) => (a >= 0) != (b >= 0) }
        (id, rel, ham.toLong, cosPrefix(x, 32))
      }
    // s = 2*below + tied(incl self) + 1, per ranker, "better" first
    def sranks[T](score: ((Long, Double, Long, Double)) => T,
                  better: (T, T) => Boolean): Map[Long, Long] =
      pool.map { p =>
        val v = score(p)
        p._1 -> (2L * pool.count(o => better(score(o), v)) +
          pool.count(o => score(o) == v) + 1L)
      }.toMap
    val s1 = sranks(_._2, (a: Double, b: Double) => a > b)
    val s2 = sranks(_._3, (a: Long, b: Long) => a < b)
    val s3 = sranks(_._4, (a: Double, b: Double) => a > b)
    val n = pool.length.toLong
    val dev = pool.map { p =>
      val sr = s1(p._1) + s2(p._1) + s3(p._1) - 3L * (n + 1L)
      sr * sr
    }.sum
    def tie[T](score: ((Long, Double, Long, Double)) => T): Long =
      pool.groupBy(score).values.map(_.length.toLong)
        .map(t => t * t * t - t).sum
    val tt = tie(_._2) + tie(_._3) + tie(_._4)
    assert(row.getAs[Long]("n_items") == n)
    assert(row.getAs[Long]("sr_dev2") == dev)
    assert(row.getAs[Long]("tie_term") == tt)
    val w = 3.0 * dev / (9.0 * (n.toDouble * n * n - n) - 3.0 * tt)
    assert(math.abs(row.getAs[Double]("w") - w) < 1e-7)
    assert(w > 0.0 && w < 1.0) // real partial agreement, not degenerate
    assert(tt > 0L) // the integer Hamming ranker must produce ties
  }

  test("e156: segmentation matches a driver-side block recount") {
    val rows = SparkEntry.queries("e156_texttiling")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    var boundaries = 0L
    docs().filter(d => toks(d._2).nonEmpty).foreach { d0 =>
      val tk = toks(d0._2)
      val blocks = tk.grouped(20).map(_.distinct.toSet).toArray
      val pairs = blocks.sliding(2).filter(_.length == 2).map { w =>
        ((w(0) intersect w(1)).size.toLong, (w(0) union w(1)).size.toLong)
      }.toArray
      val row = rows(d0._1)
      assert(row.getAs[Long]("n_blocks") == blocks.length, d0._1)
      assert(row.getAs[Long]("n_pairs") == pairs.length, d0._1)
      assert(row.getAs[Long]("sum_inter") == pairs.map(_._1).sum, d0._1)
      assert(row.getAs[Long]("sum_union") == pairs.map(_._2).sum, d0._1)
      val nb = pairs.count(p => p._1 * 10 < p._2).toLong
      assert(row.getAs[Long]("n_boundaries") == nb, d0._1)
      boundaries += nb
    }
    assert(boundaries > 0L) // the corpus has real topic seams
  }

  test("e157: signed-rank statistic matches a driver-side recount") {
    val row = SparkEntry.queries("e157_wilcoxon")(spark, dir).head()
    val ev = graft.queries.Tables.events(spark, dir)
      .select(org.apache.spark.sql.functions.to_date(col("ts")).as("d"),
        col("event_type")).collect()
      .map(r => (r.getDate(0).toString, r.getString(1)))
    def daily(t0: String) = ev.filter(_._2 == t0).groupBy(_._1).view
      .mapValues(_.length.toLong).toMap
    val (dv, dc) = (daily("view"), daily("click"))
    val diffs = (dv.keySet intersect dc.keySet).toSeq
      .map(d0 => dv(d0) - dc(d0)).filter(_ != 0L)
    val n = diffs.length.toLong
    def s2r(a: Long): Long =
      2L * diffs.count(x => math.abs(x) < math.abs(a)) +
        diffs.count(x => math.abs(x) == math.abs(a)) + 1L
    val wplus2 = diffs.filter(_ > 0).map(s2r).sum
    val tie = diffs.groupBy(math.abs).values.map(_.length.toLong)
      .map(t => t * t * t - t).sum
    assert(row.getAs[Long]("n_pairs") == n)
    assert(row.getAs[Long]("s2_wplus") == wplus2)
    assert(row.getAs[Long]("tie_term") == tie)
    val nD = n.toDouble
    val mu2 = nD * (nD + 1.0) / 2.0
    val var2 = nD * (nD + 1.0) * (2.0 * nD + 1.0) / 6.0 - tie / 12.0
    assert(math.abs(row.getAs[Double]("z") -
      (wplus2 - mu2) / math.sqrt(var2)) < 1e-7)
    assert(tie > 0L) // integer daily counts must produce |d| ties
  }

  test("e158: classifier report matches a confusion-cell recount") {
    val out = SparkEntry.queries("e158_classifier_report")(spark, dir)
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    val det = SparkEntry.queries("e4_langid")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = docs().map(d => (d._3, det(d._1)))
    val n = pairs.length.toLong
    assert(out.keySet == pairs.map(_._1).toSet)
    pairs.map(_._1).distinct.foreach { c =>
      val tp = pairs.count(p => p._1 == c && p._2 == c).toLong
      val fp = pairs.count(p => p._1 != c && p._2 == c).toLong
      val fn = pairs.count(p => p._1 == c && p._2 != c).toLong
      val row = out(c)
      assert(row.getAs[Long]("tp") == tp, c)
      assert(row.getAs[Long]("fp") == fp, c)
      assert(row.getAs[Long]("fn") == fn, c)
      assert(row.getAs[Long]("tn") == n - tp - fp - fn, c)
      if (2 * tp + fp + fn > 0)
        assert(math.abs(row.getAs[Double]("f1") -
          2.0 * tp / (2 * tp + fp + fn)) < 1e-7, c)
    }
    // the majority class must yield a complete, non-degenerate row
    assert(out("en").getAs[Double]("precision") > 0.0)
    assert(out("en").getAs[Double]("recall") > 0.0)
  }

  test("e159/e160: resampling statistics match driver recounts") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def hash13(s0: String): Long = java.lang.Long.parseLong(
      md.digest(s0.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(13), 16)
    // e159: sign-flip permutation
    val ev = graft.queries.Tables.events(spark, dir)
      .select(org.apache.spark.sql.functions.to_date(col("ts")).as("d"),
        col("event_type")).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getString(1)))
    def daily(t0: String) = ev.filter(_._2 == t0).groupBy(_._1).view
      .mapValues(_.length.toLong).toMap
    val (dvm, dcm) = (daily("view"), daily("click"))
    val diffs = (dvm.keySet intersect dcm.keySet).toSeq
      .map(d0 => d0.toEpochDay -> (dvm(d0) - dcm(d0)))
    val tObs = diffs.map(_._2).sum
    val tbs = (1L to 64L).map { b =>
      diffs.map { case (epd, d0) =>
        (1L - 2L * (hash13(s"$b#$epd") % 2L)) * d0
      }.sum
    }
    val nGe = tbs.count(t => math.abs(t) >= math.abs(tObs)).toLong
    val row = SparkEntry.queries("e159_permutation_test")(spark, dir)
      .head()
    assert(row.getAs[Long]("n_days") == diffs.length)
    assert(row.getAs[Long]("t_obs") == tObs)
    assert(row.getAs[Long]("n_ge") == nGe)
    assert(math.abs(row.getAs[Double]("p_value") -
      (nGe + 1.0) / 65.0) < 1e-7)
    // the permutation distribution must straddle the observed value
    assert(nGe > 0 && nGe < 64)
    // e160: grouped jackknife
    val hash4 = (id: Long) => java.lang.Long.parseLong(
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(4), 16) % 10L
    val byG = docs().map(d0 => hash4(d0._1) -> toks(d0._2).length.toLong)
      .groupBy(_._1).view.mapValues(xs =>
        (xs.length.toLong, xs.map(_._2).sum)).toMap
    val (n, s0) = (byG.values.map(_._1).sum, byG.values.map(_._2).sum)
    val qs = byG.values.map { case (ng, sg) =>
      math.floor((s0 - sg).toDouble / (n - ng) * 1e6).toLong
    }.toSeq
    val gn = qs.length.toLong
    val sq = qs.sum
    val sdev2 = qs.map(q => (q * gn - sq) * (q * gn - sq)).sum
    val row2 = SparkEntry.queries("e160_jackknife")(spark, dir).head()
    assert(row2.getAs[Long]("n_docs") == n)
    assert(row2.getAs[Long]("g_buckets") == gn)
    assert(math.abs(row2.getAs[Double]("theta_hat") -
      s0.toDouble / n) < 1e-7)
    assert(math.abs(row2.getAs[Double]("se_jack") -
      math.sqrt((gn - 1.0) / gn * sdev2) / (gn * 1e6)) < 1e-7)
    assert(row2.getAs[Double]("se_jack") > 0.0)
  }

  test("e161/e162: conformal and DiD match driver recounts") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(id: Long): Long = java.lang.Long.parseLong(
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(4), 16) % 100L
    // e161: split-conformal
    val ds = docs().map(d0 =>
      (d0._1, d0._3, toks(d0._2).length.toLong, bucket(d0._1)))
    def split(b: Long) =
      if (b < 90) "train" else if (b < 95) "val" else "test"
    val m = ds.filter(d0 => split(d0._4) == "train").groupBy(_._2).view
      .mapValues(xs => xs.map(_._3).sum.toDouble / xs.length).toMap
    val cal = ds.filter(d0 => split(d0._4) == "val")
      .map(d0 => (math.abs(d0._3.toDouble - m(d0._2)), d0._1))
      .sortBy(identity)
    val k = ((cal.length + 1) * 4 + 4) / 5
    val qhat = cal(k - 1)._1
    val test = ds.filter(d0 => split(d0._4) == "test")
    val covered = test.count(d0 =>
      math.abs(d0._3.toDouble - m(d0._2)) <= qhat).toLong
    val row = SparkEntry.queries("e161_conformal")(spark, dir).head()
    assert(row.getAs[Long]("n_cal") == cal.length)
    assert(row.getAs[Long]("k_rank") == k)
    assert(math.abs(row.getAs[Double]("qhat") - qhat) < 1e-7)
    assert(row.getAs[Long]("n_test") == test.length)
    assert(row.getAs[Long]("n_covered") == covered)
    // the interval must neither cover nothing nor everything here
    assert(covered > 0 && covered < test.length)
    // e162: difference-in-differences
    val ev = graft.queries.Tables.events(spark, dir)
      .select(col("user_id"),
        org.apache.spark.sql.functions.unix_micros(col("ts")).as("tm"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (lo, hi) = (ev.map(_._2).min, ev.map(_._2).max)
    def cell(g: Long, p: Int) = ev.count { case (u, t0) =>
      u % 2 == g && (if (p == 1) 2 * t0 < lo + hi else 2 * t0 >= lo + hi)
    }.toLong
    val uC = ev.filter(_._1 % 2 == 0).map(_._1).distinct.length.toLong
    val uT = ev.filter(_._1 % 2 == 1).map(_._1).distinct.length.toLong
    val row2 = SparkEntry.queries("e162_did")(spark, dir).head()
    assert(row2.getAs[Long]("u_c") == uC)
    assert(row2.getAs[Long]("u_t") == uT)
    assert(row2.getAs[Long]("c_c1") == cell(0, 1))
    assert(row2.getAs[Long]("c_t2") == cell(1, 2))
    assert(math.abs(row2.getAs[Double]("did") -
      ((cell(1, 2) - cell(1, 1)).toDouble / uT -
        (cell(0, 2) - cell(0, 1)).toDouble / uC)) < 1e-7)
  }

  test("e151: binary recall matches a driver-side Hamming recount") {
    val row = SparkEntry.queries("e151_binary_recall")(spark, dir).head()
    val emb = graft.queries.Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val q = emb.find(_._1 == 0L).get._2
    val corpus = emb.filter(_._1 != 0L)
    val approx = corpus.map { case (id, x) =>
      id -> x.zip(q).count { case (a, b) => (a >= 0) != (b >= 0) }.toLong
    }.sortBy { case (id, h) => (h, id) }.take(10)
    val exact = SparkEntry.queries("e2_topk")(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val hits = approx.count(p => exact(p._1)).toLong
    assert(row.getAs[Long]("n_hit") == hits)
    assert(math.abs(row.getAs[Double]("recall") - hits / 10.0) < 1e-9)
    assert(row.getAs[Long]("ham_radius") == approx.map(_._2).max)
    // sign quantization must lose SOME neighbors here but not all —
    // a 0 or 10 recall would mean the audit is degenerate
    assert(hits > 0 && hits < 10)
  }

  test("e149/e150: graph statistics match driver-side edge recounts") {
    val pairs = SparkEntry.queries("e1_minhash_pairs")(spark, dir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val src = docs().map(d => d._1 -> d._4).toMap
    val m = pairs.length.toLong
    // modularity under the source partition
    val ends = pairs.flatMap(p => Seq(src(p._1), src(p._2)))
    val dc = ends.groupBy(identity).view.mapValues(_.length.toLong)
    val mc = pairs.filter(p => src(p._1) == src(p._2))
      .groupBy(p => src(p._1)).view.mapValues(_.length.toLong)
    val qNum = dc.map { case (c, d0) =>
      4L * m * mc.getOrElse(c, 0L) - d0 * d0 }.sum
    val row = SparkEntry.queries("e149_modularity")(spark, dir).head()
    assert(row.getAs[Long]("n_edges") == m)
    assert(row.getAs[Long]("n_within") == mc.values.sum)
    assert(row.getAs[Long]("q_num") == qNum)
    assert(math.abs(row.getAs[Double]("modularity") -
      qNum.toDouble / (4.0 * m * m)) < 1e-7)
    // degree assortativity over orientations
    val deg = pairs.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).view.mapValues(_.length.toLong)
    val or2 = pairs.flatMap(p => Seq((p._1, p._2), (p._2, p._1)))
    val (sx, sxx, sxy) = or2.foldLeft((0L, 0L, 0L)) {
      case ((a, b, c), (u, v)) =>
        val (dx, dy) = (deg(u), deg(v))
        (a + dx, b + dx * dx, c + dx * dy)
    }
    val n = or2.length.toLong
    val row2 = SparkEntry.queries("e150_assortativity")(spark, dir).head()
    assert(row2.getAs[Long]("n_orientations") == n)
    assert(row2.getAs[Long]("sx") == sx)
    assert(row2.getAs[Long]("sxx") == sxx)
    assert(row2.getAs[Long]("sxy") == sxy)
    val den = n.toDouble * sxx - sx.toDouble * sx
    assert(den != 0.0) // the fixture graph is not degree-regular
    assert(math.abs(row2.getAs[Double]("assortativity") -
      (n.toDouble * sxy - sx.toDouble * sx) / den) < 1e-7)
  }

  test("e147: bootstrap SE matches a driver-side Poisson recount") {
    val row = SparkEntry.queries("e147_poisson_bootstrap")(spark, dir)
      .head()
    val cdf = Array(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238463, 0.9963401531726563,
      0.9994058151824183, 0.999916758850712)
    val md = java.security.MessageDigest.getInstance("MD5")
    def weight(b: Long, id: Long): Long = {
      val hex = md.digest(s"$b#$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      val u = java.lang.Long.parseLong(hex, 16).toDouble / 4503599627370496.0
      val k = cdf.indexWhere(u < _)
      if (k < 0) 7L else k.toLong
    }
    val xs = docs().map(d => (d._1, toks(d._2).length.toLong))
    val mqs = (1L to 32L).map { b =>
      val (sw, swx) = xs.foldLeft((0L, 0L)) { case ((a, c), (id, x)) =>
        val w = weight(b, id); (a + w, c + w * x)
      }
      math.floor(swx.toDouble / sw * 1e6).toLong
    }
    val bd = 32.0
    val se = math.sqrt((bd * mqs.map(m => m * m).sum -
      mqs.sum.toDouble * mqs.sum) / (bd * (bd - 1.0))) / 1e6
    assert(row.getAs[Long]("n_docs") == xs.length)
    assert(row.getAs[Long]("b_reps") == 32L)
    assert(math.abs(row.getAs[Double]("mean_full") -
      xs.map(_._2).sum.toDouble / xs.length) < 1e-7)
    assert(math.abs(row.getAs[Double]("m_min") - mqs.min / 1e6) < 1e-7)
    assert(math.abs(row.getAs[Double]("m_max") - mqs.max / 1e6) < 1e-7)
    assert(math.abs(row.getAs[Double]("se_boot") - se) < 1e-7)
    // a degenerate draw (all weights equal) would make SE exactly 0
    assert(row.getAs[Double]("se_boot") > 0.0)
  }

  test("e148: PC1 matches a driver-side power-iteration recount") {
    val out = SparkEntry.queries("e148_power_iteration")(spark, dir)
      .collect().sortBy(_.getAs[Long]("pos"))
    val emb = graft.queries.Tables.t(spark, dir, "embeddings")
      .where(col("vec_id") =!= 0).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val n = emb.length
    val dim = 64
    val sq = Array.tabulate(dim)(j =>
      emb.map(x => math.floor(x(j).toDouble * 1e7).toLong).sum)
    val sq2 = Array.tabulate(dim)(j => emb.map(x =>
      math.floor(x(j).toDouble * x(j).toDouble * 1e7).toLong).sum)
    val mu = sq.map(_.toDouble / 1e7 / n)
    def pass(v: Array[Double], cv: Double): Array[Long] = {
      val q = new Array[Long](dim)
      emb.foreach { x =>
        var s = 0.0
        var j = 0
        while (j < dim) { s += x(j).toDouble * v(j); j += 1 }
        s -= cv
        j = 0
        while (j < dim) {
          q(j) += math.floor((x(j).toDouble - mu(j)) * s * 1e6).toLong
          j += 1
        }
      }
      q
    }
    val q1 = pass(Array.fill(dim)(1.0), mu.sum)
    val n1 = math.sqrt(q1.map(q => (q / 1e6) * (q / 1e6)).sum)
    val v1 = q1.map(q => q / 1e6 / n1)
    val q2 = pass(v1, mu.zip(v1).map(p => p._1 * p._2).sum)
    val nrm2 = math.sqrt(q2.map(q => (q / 1e6) * (q / 1e6)).sum)
    val trNum = sq2.map(_.toDouble / 1e7).sum -
      n.toDouble * mu.map(m => m * m).sum
    out.zipWithIndex.foreach { case (row, j) =>
      assert(row.getAs[Long]("pos") == j + 1)
      assert(row.getAs[Long]("loading_q") == q2(j), s"pos ${j + 1}")
      assert(math.abs(row.getAs[Double]("loading") -
        q2(j) / 1e6 / nrm2) < 1e-6, s"pos ${j + 1}")
    }
    assert(math.abs(out.head.getAs[Double]("lambda1") -
      nrm2 / (n - 1.0)) < 1e-6)
    assert(math.abs(out.head.getAs[Double]("explained_frac") -
      nrm2 / trNum) < 1e-6)
    // PC1 must explain a nontrivial, strictly partial share
    val ex = out.head.getAs[Double]("explained_frac")
    assert(ex > 0.0 && ex < 1.0)
  }

  test("e145: HITS scores match a driver-side two-iteration recount") {
    val out = SparkEntry.queries("e145_hits")(spark, dir).collect()
    val kRe = """"k"\s*:\s*(\d+)""".r
    val edges = graft.queries.Tables.events(spark, dir)
      .where(col("event_type") === "click")
      .select("user_id", "props").collect()
      .flatMap { r =>
        kRe.findFirstMatchIn(r.getString(1))
          .map(m => (r.getLong(0), m.group(1).toLong))
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val a1 = edges.groupBy(_._1._2).view
      .mapValues(_.values.sum).toMap
    val h1 = edges.groupBy(_._1._1).view.mapValues(
      _.map { case ((_, i), w) => w * a1(i) }.sum).toMap
    val a2 = edges.groupBy(_._1._2).view.mapValues(
      _.map { case ((u, _), w) => w * h1(u) }.sum).toMap
    val tA2 = a2.values.sum
    val top = a2.toSeq.sortBy { case (i, a) => (-a, i) }.take(10)
    assert(out.length == top.length)
    out.zip(top).foreach { case (row, (item, a)) =>
      assert(row.getAs[Long]("item") == item)
      assert(row.getAs[Long]("a1") == a1(item))
      assert(row.getAs[Long]("a2") == a)
      assert(math.abs(row.getAs[Double]("auth_frac") -
        a.toDouble / tA2) < 1e-7)
    }
  }

  test("e163: guardrail panel matches a driver-side per-user recount") {
    val row = SparkEntry.queries("e163_ab_guardrails")(spark, dir).head()
    val perUser = graft.queries.Tables.events(spark, dir)
      .select("user_id", "event_type").collect()
      .groupBy(_.getLong(0)).toSeq.map { case (u, rs) =>
        (u % 2, rs.count(_.getString(1) == "purchase").toLong)
      }
    val c = perUser.filter(_._1 == 0L).map(_._2)
    val t = perUser.filter(_._1 == 1L).map(_._2)
    val (nc, nt) = (c.size.toLong, t.size.toLong)
    def mv(xs: Seq[Long], n: Long): (Double, Double) = {
      val sx = xs.sum.toDouble
      val sxx = xs.map(x => x.toDouble * x).sum
      (sx / n, (n * sxx - sx * sx) / (n * (n - 1.0)))
    }
    val (meanC, varC) = mv(c, nc)
    val (meanT, varT) = mv(t, nt)
    val se = math.sqrt(varC / nc + varT / nt)
    val diff = meanT - meanC
    assert(row.getAs[Long]("n_c") == nc)
    assert(row.getAs[Long]("n_t") == nt)
    val srm = (nc - nt).toDouble * (nc - nt) / (nc + nt)
    assert(math.abs(row.getAs[Double]("srm_chi2") - srm) < 1e-7)
    assert(math.abs(row.getAs[Double]("mean_c") - meanC) < 1e-7)
    assert(math.abs(row.getAs[Double]("mean_t") - meanT) < 1e-7)
    assert(math.abs(row.getAs[Double]("diff") - diff) < 1e-7)
    assert(math.abs(row.getAs[Double]("se_diff") - se) < 1e-7)
    assert(math.abs(row.getAs[Double]("z") - diff / se) < 1e-7)
    assert(math.abs(row.getAs[Double]("mde") -
      (1.959963984540054 + 0.8416212335729143) * se) < 1e-7)
    // the panel is a guardrail: the parity split must be near-balanced
    // on this fixture (srm chi2 far below the 3.84 alarm would be a
    // fixture property, not asserted; positivity and finiteness are)
    assert(se > 0.0 && !row.getAs[Double]("z").isNaN)
  }
}

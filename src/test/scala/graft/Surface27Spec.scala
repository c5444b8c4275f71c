package graft

/** Invariants for the round-17 wave: each judged
  * statistic recounted driver-side from first principles at sf0.001,
  * plus the c43 streaming twin's batch-equality gate.
  */
class Surface27Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def md5Hash(id: Long): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString, 16)

  private def toks(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  test("c43 streaming twin equals the e163 batch guardrail panel") {
    val batch = SparkEntry.queries("e163_ab_guardrails")(spark, dir)
      .collect().toSeq
    val stream = SparkEntry.queries("c43_stream_guardrails")(spark, dir)
      .collect().toSeq
    assert(stream == batch)
  }

  test("e165: nested-sample growth panel matches a driver recount") {
    val row = SparkEntry.queries("e165_heaps_growth")(spark, dir).head()
    val docs = graft.queries.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def lvl(p: Long => Boolean) = {
      val sel = docs.filter(d => p(md5Hash(d._1)))
      val ts = sel.flatMap(d => toks(d._2))
      (sel.length.toLong, ts.length.toLong, ts.distinct.length.toLong)
    }
    val (d25, w25, v25) = lvl(_ % 4 == 0)
    val (d50, w50, v50) = lvl(_ % 2 == 0)
    val (d100, w100, v100) = lvl(_ => true)
    assert((row.getAs[Long]("docs_25"), row.getAs[Long]("words_25"),
      row.getAs[Long]("vocab_25")) == ((d25, w25, v25)))
    assert((row.getAs[Long]("docs_50"), row.getAs[Long]("words_50"),
      row.getAs[Long]("vocab_50")) == ((d50, w50, v50)))
    assert((row.getAs[Long]("docs_100"), row.getAs[Long]("words_100"),
      row.getAs[Long]("vocab_100")) == ((d100, w100, v100)))
    // nesting: each level's panel is bounded by the next
    assert(d25 <= d50 && d50 <= d100)
    assert(v25 <= v50 && v50 <= v100)
    // the sample is a genuine slice, not empty or everything
    assert(d25 > 0 && d25 < d100)
  }

  test("e166: exact quantiles match a driver sort; bounds hold") {
    val out = SparkEntry.queries("e166_quantile_audit")(spark, dir)
      .collect()
    val vals = graft.queries.Tables.t(spark, dir, "lineitem")
      .select("l_returnflag", "l_extendedprice").collect()
      .filter(!_.isNullAt(1))
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      val xs = vals(r.getAs[String]("l_returnflag"))
      val n = xs.length
      assert(r.getAs[Long]("n") == n.toLong)
      assert(r.getAs[Double]("exact_p50") == xs(((n + 1) / 2) - 1))
      assert(r.getAs[Double]("exact_p90") ==
        xs((1 + ((n - 1) * 9) / 10) - 1))
      assert(r.getAs[Boolean]("p50_in_bound"))
      assert(r.getAs[Boolean]("p90_in_bound"))
    }
  }

  test("e168: count-min estimates match an exact driver-built sketch") {
    val out = SparkEntry.queries("e168_countmin")(spark, dir).collect()
    val counts = graft.queries.Tables.t(spark, dir, "documents")
      .select("text").collect().flatMap(r => toks(r.getString(0)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    def bucket(j: Int, tok: String): Long = {
      val hx = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cm$j|$tok".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hx, 16) % 64L
    }
    val cells = scala.collection.mutable.Map[(Int, Long), Long]()
      .withDefaultValue(0L)
    counts.foreach { case (tok, c) =>
      (0 until 4).foreach(j => cells((j, bucket(j, tok))) += c)
    }
    val top = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(20).toMap
    assert(out.length == 20)
    out.foreach { r =>
      val tok = r.getAs[String]("tok")
      val est = (0 until 4).map(j => cells((j, bucket(j, tok)))).min
      assert(r.getAs[Long]("true_cnt") == top(tok))
      assert(r.getAs[Long]("est_cnt") == est)
      assert(r.getAs[Long]("overcount") == est - top(tok))
      // the one-sided Count-Min guarantee
      assert(est >= top(tok))
    }
  }

  test("c44 shard-merged sketch equals the e168 batch sketch") {
    val batch = SparkEntry.queries("e168_countmin")(spark, dir)
      .collect().map(_.toSeq).toSet
    val merged = SparkEntry.queries("c44_stream_countmin")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(merged == batch)
  }

  test("e169: skyline matches a brute-force dominance recount") {
    val out = SparkEntry.queries("e169_skyline")(spark, dir)
      .collect().map(r => (r.getAs[Long]("n_chars"),
        r.getAs[Long]("best_dt"), r.getAs[Long]("n_docs")))
    val pd = graft.queries.Tables.t(spark, dir, "documents")
      .select("n_chars", "text").collect()
      .map(r => (r.getLong(0), toks(r.getString(1)).distinct.length.toLong))
    val points = pd.groupBy(identity).view.mapValues(_.length.toLong)
      .toMap
    def dominated(p: (Long, Long)) = points.keys.exists(q =>
      q._1 <= p._1 && q._2 >= p._2 && q != p)
    val expected = points.filter { case (p, _) => !dominated(p) }
      .map { case ((x, y), n) => (x, y, n) }.toSet
    assert(out.toSet == expected)
    assert(out.nonEmpty)
    // frontier shape: sorted by x, strictly increasing in y
    val sorted = out.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Array(a, b) => assert(a._1 < b._1 && a._2 < b._2)
      case _ =>
    }
  }

  test("e170: CUPED panel matches a driver-side moment recount") {
    val row = SparkEntry.queries("e170_cuped")(spark, dir).head()
    val evs = graft.queries.Tables.events(spark, dir)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS tm")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val lo = evs.map(_._3).min; val hi = evs.map(_._3).max
    val perUser = evs.groupBy(_._1).toSeq.map { case (u, rs) =>
      (u % 2,
        rs.count(r => r._2 == "purchase" && 2 * r._3 >= lo + hi).toLong,
        rs.count(r => r._2 == "view" && 2 * r._3 < lo + hi).toLong)
    }
    def mom(g: Long) = {
      val s = perUser.filter(_._1 == g)
      (s.size.toLong, s.map(_._2).sum, s.map(_._3).sum,
        s.map(t => t._2 * t._2).sum, s.map(t => t._3 * t._3).sum,
        s.map(t => t._2 * t._3).sum)
    }
    val (nc, sxc_, scc_, sxxc, sccc, sxcc) = mom(0)
    val (nt, sxt_, sct_, sxxt, scct, sxct) = mom(1)
    val np = (nc + nt).toDouble
    val cov = ((sxcc + sxct).toDouble -
      (sxc_ + sxt_).toDouble * (scc_ + sct_) / np) / np
    val varc = ((sccc + scct).toDouble -
      (scc_ + sct_).toDouble * (scc_ + sct_) / np) / np
    val theta = cov / varc
    val mcP = (scc_ + sct_).toDouble / np
    def meanY(n: Long, sx: Long, sc: Long) =
      sx.toDouble / n - theta * (sc.toDouble / n - mcP)
    assert(row.getAs[Long]("n_c") == nc)
    assert(row.getAs[Long]("n_t") == nt)
    assert(math.abs(row.getAs[Double]("theta") - theta) < 1e-7)
    assert(math.abs(row.getAs[Double]("mean_adj_c") -
      meanY(nc, sxc_, scc_)) < 1e-7)
    assert(math.abs(row.getAs[Double]("mean_adj_t") -
      meanY(nt, sxt_, sct_)) < 1e-7)
    def varS(n: Long, sa: Long, sb: Long, sab: Long) =
      (n.toDouble * sab - sa.toDouble * sb) /
        (n.toDouble * (n.toDouble - 1.0))
    def varY(n: Long, sx: Long, sc: Long, sxx: Long, scc2: Long,
        sxc2: Long) =
      varS(n, sx, sx, sxx) - 2.0 * theta * varS(n, sx, sc, sxc2) +
        theta * theta * varS(n, sc, sc, scc2)
    val vyc = varY(nc, sxc_, scc_, sxxc, sccc, sxcc)
    val vyt = varY(nt, sxt_, sct_, sxxt, scct, sxct)
    val se = math.sqrt(vyc / nc + vyt / nt)
    assert(math.abs(row.getAs[Double]("se_adj") - se) < 1e-7)
    val diff = meanY(nt, sxt_, sct_) - meanY(nc, sxc_, scc_)
    assert(math.abs(row.getAs[Double]("diff_adj") - diff) < 1e-7)
    assert(math.abs(row.getAs[Double]("z_adj") - diff / se) < 1e-7)
    val ratio = (vyc * (nc - 1) + vyt * (nt - 1)) /
      (varS(nc, sxc_, sxc_, sxxc) * (nc - 1) +
        varS(nt, sxt_, sxt_, sxxt) * (nt - 1))
    assert(math.abs(row.getAs[Double]("var_ratio") - ratio) < 1e-7)
    // the covariate must genuinely reduce variance on this fixture
    assert(ratio > 0.0 && ratio < 1.0)
  }

  private def dailyViews(): Map[java.time.LocalDate, Long] =
    graft.queries.Tables.events(spark, dir)
      .where(org.apache.spark.sql.functions.col("event_type") === "view")
      .selectExpr("CAST(to_date(ts) AS STRING) AS d").collect()
      .map(r => java.time.LocalDate.parse(r.getString(0)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap

  test("e171: MASE components match a driver recount") {
    val row = SparkEntry.queries("e171_mase")(spark, dir).head()
    val daily = dailyViews()
    val terms = daily.keys.toSeq.flatMap { d =>
      for (y1 <- daily.get(d.minusDays(1)); y7 <- daily.get(d.minusDays(7)))
        yield (math.abs(daily(d) - y1), math.abs(daily(d) - y7))
    }
    assert(row.getAs[Long]("n_days") == daily.size.toLong)
    assert(row.getAs[Long]("n_terms") == terms.size.toLong)
    assert(row.getAs[Long]("sae_naive") == terms.map(_._1).sum)
    assert(row.getAs[Long]("sae_seasonal") == terms.map(_._2).sum)
    assert(math.abs(row.getAs[Double]("mase") -
      terms.map(_._2).sum.toDouble / terms.map(_._1).sum) < 1e-7)
    // the term set must be a genuine strict subset (calendar gaps and
    // the 7-day warmup both bite) and non-empty
    assert(terms.nonEmpty && terms.size < daily.size)
  }

  test("e172: changepoint split matches an exhaustive driver scan") {
    val row = SparkEntry.queries("e172_changepoint")(spark, dir).head()
    val daily = dailyViews().toSeq.sortBy(_._1)
    val n = daily.size.toLong
    val s = daily.map(_._2).sum
    val best = daily.inits.toSeq.reverse.tail // non-empty prefixes
      .filter(_.size < daily.size)
      .map { pre =>
        val n1 = pre.size.toLong; val s1 = pre.map(_._2).sum
        val n2 = n - n1; val s2 = s - s1
        val gain = (s1 * s1).toDouble / n1 + (s2 * s2).toDouble / n2 -
          (s * s).toDouble / n
        (gain, pre.last._1.toString, n1, n2, s1, s2)
      }.maxBy(t => (t._1, t._2))
    assert(row.getAs[String]("split_day") == best._2)
    assert(row.getAs[Long]("n_pre") == best._3)
    assert(row.getAs[Long]("n_post") == best._4)
    assert(math.abs(row.getAs[Double]("mean_pre") -
      best._5.toDouble / best._3) < 1e-7)
    assert(math.abs(row.getAs[Double]("mean_post") -
      best._6.toDouble / best._4) < 1e-7)
    assert(math.abs(row.getAs[Double]("gain") - best._1) < 1e-6)
    // a split exists and strictly improves on no-split
    assert(best._1 > 0.0)
  }

  test("e173: sketch deltas bracket the true deltas per CM overcounts") {
    val out = SparkEntry.queries("e173_cm_delta")(spark, dir).collect()
    assert(out.length == 20)
    out.foreach { r =>
      val (ta, tb) = (r.getAs[Long]("true_a"), r.getAs[Long]("true_b"))
      val (ea, eb) = (r.getAs[Long]("est_a"), r.getAs[Long]("est_b"))
      assert(r.getAs[Long]("true_cnt") == ta + tb)
      assert(r.getAs[Long]("true_delta") == ta - tb)
      assert(r.getAs[Long]("est_delta") == ea - eb)
      // per-shard CM never underestimates, so the delta error is
      // exactly over_a − over_b
      assert(ea >= ta && eb >= tb)
      assert(r.getAs[Long]("est_delta") - r.getAs[Long]("true_delta")
        == (ea - ta) - (eb - tb))
    }
    // the split must be genuine: both shards hold probe mass
    assert(out.exists(_.getAs[Long]("true_a") > 0))
    assert(out.exists(_.getAs[Long]("true_b") > 0))
  }

  test("e167: int8 quantization census matches a driver recount") {
    val row = SparkEntry.queries("e167_int8_quant")(spark, dir).head()
    val vecs = graft.queries.Tables.t(spark, dir, "embeddings")
      .select("embedding").collect()
      .map(_.getSeq[Float](0))
    var sse = 0L; var sat = 0L; var elems = 0L
    vecs.foreach { v =>
      val mx = v.map(x => math.abs(x.toDouble)).max
      elems += v.length
      if (mx > 0) {
        val s = mx / 127.0
        v.foreach { xf =>
          val x = xf.toDouble
          val q = math.max(-127.0, math.min(127.0,
            math.floor(x / s + 0.5)))
          val err = x - q * s
          sse += math.floor(err * err * 1e14).toLong
          if (math.abs(q) == 127.0) sat += 1L
        }
      }
    }
    assert(row.getAs[Long]("n_vecs") == vecs.length.toLong)
    assert(row.getAs[Long]("n_elems") == elems)
    assert(row.getAs[Long]("sse_fp") == sse)
    assert(row.getAs[Long]("n_saturated") == sat)
    assert(math.abs(row.getAs[Double]("mse") -
      BigDecimal(sse / 1e14 / elems)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-15)
    // every vector saturates at least its max element (q = ±127 there)
    assert(sat >= vecs.length)
  }
}

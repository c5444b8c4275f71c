package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-14 wave: Kruskal–Wallis,
  * Brown–Forsythe, CUSUM, lexical richness, t-closeness, perceptual-
  * hash dedup, the streaming SCD2 twin — plus the q118 degenerate-IQR
  * guard.
  */
class Surface23Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def pooled(): Array[(String, Long)] =
    graft.queries.Tables.t(spark, dir, "lineitem")
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => r.getString(0) -> math.round(r.getDouble(1) * 100))

  test("q119: H and rank sums match a driver-side average-rank recount") {
    val row = SparkEntry.queries("q119_kruskal")(spark, dir).head()
    val li = pooled()
    // average ranks over the pooled sample (ties share the mean rank)
    val byV = li.map(_._2).groupBy(identity).view
      .mapValues(_.length.toLong).toSeq.sortBy(_._1)
    var lo = 1L
    val avg2 = byV.map { case (v, t) =>
      val a2 = lo + (lo + t - 1) // 2 × average rank
      lo += t
      v -> a2
    }.toMap
    val groups = Seq("A", "N", "R")
    val n = groups.map(g => li.count(_._1 == g).toLong)
    val r2 = groups.map(g =>
      li.filter(_._1 == g).map(x => BigInt(avg2(x._2))).sum)
    val nt = n.sum.toDouble
    val h = 12.0 * (groups.indices.map(i =>
      r2(i).toDouble * r2(i).toDouble / (4.0 * n(i))).sum) /
      (nt * (nt + 1.0)) - 3.0 * (nt + 1.0)
    val ties = byV.map { case (_, t) => BigInt(t) * t * t - t }.sum
    val hAdj = h / (1.0 - ties.toDouble / (nt * nt * nt - nt))
    assert(row.getAs[Long]("n_total") == n.sum)
    assert(groups.indices.forall(i =>
      row.getAs[Long](s"rank_sum2_${groups(i).toLowerCase}") == r2(i)))
    assert(math.abs(row.getAs[Double]("h") - h) < 1e-6, s"engine vs $h")
    assert(math.abs(row.getAs[Double]("h_tie_adj") - hAdj) < 1e-6)
  }

  test("q120: F matches a driver-side median-deviation recount") {
    val row = SparkEntry.queries("q120_levene")(spark, dir).head()
    val li = pooled()
    val groups = Seq("A", "N", "R")
    val devs = groups.map { g =>
      val xs = li.filter(_._1 == g).map(_._2).sorted
      val med = xs((xs.length + 1) / 2 - 1)
      xs.map(v => math.abs(v - med))
    }
    val n = devs.map(_.length.toLong)
    val s1 = devs.map(_.map(BigInt(_)).sum)
    val s2 = devs.map(_.map(v => BigInt(v) * v).sum)
    val nt = n.sum.toDouble
    val t3 = groups.indices.map(i =>
      s1(i).toDouble * s1(i).toDouble / n(i)).sum
    val tot = s1.map(_.toDouble).sum
    val ssb = t3 - tot * tot / nt
    val ssw = s2.map(_.toDouble).sum - t3
    val f = (ssb / 2.0) / (ssw / (nt - 3.0))
    assert(math.abs(row.getAs[Double]("f_stat") - f) < 1e-6,
      s"engine ${row.getAs[Double]("f_stat")} vs $f")
    groups.indices.foreach { i =>
      val mad = s1(i).toDouble / n(i) / 100.0
      assert(math.abs(
        row.getAs[Double](s"mad_${groups(i).toLowerCase}") - mad) < 1e-6)
    }
  }

  test("q122: ANOVA F matches a driver-side exact-sum recount") {
    val row = SparkEntry.queries("q122_anova")(spark, dir).head()
    val li = pooled()
    val groups = Seq("A", "N", "R")
    val cs = groups.map(g => li.filter(_._1 == g).map(_._2))
    val n = cs.map(_.length.toLong)
    val s1 = cs.map(_.map(BigInt(_)).sum)
    val s2 = cs.map(_.map(v => BigInt(v) * v).sum)
    val nt = n.sum.toDouble
    val t3 = groups.indices.map(i =>
      s1(i).toDouble * s1(i).toDouble / n(i)).sum
    val tot = s1.map(_.toDouble).sum
    val f = ((t3 - tot * tot / nt) / 2.0) /
      ((s2.map(_.toDouble).sum - t3) / (nt - 3.0))
    assert(math.abs(row.getAs[Double]("f_stat") - f) < 1e-6)
    groups.indices.foreach { i =>
      val m = s1(i).toDouble / n(i) / 100.0
      assert(math.abs(
        row.getAs[Double](s"mean_${groups(i).toLowerCase}") - m) < 1e-6)
    }
  }

  test("e121: clipped unigram overlap and F match a driver-side " +
    "recount on every candidate pair") {
    val rows = SparkEntry.queries("e121_rouge_audit")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    val toks = graft.queries.Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.tokens(col("text")).as("tk"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[String](1).groupBy(identity).view
          .mapValues(_.length.toLong).toMap)
      .toMap
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
      val (ca, cb) = (toks(a), toks(b))
      val ov = ca.keysIterator
        .map(w => math.min(ca(w), cb.getOrElse(w, 0L))).sum
      val (na, nb) = (ca.values.sum, cb.values.sum)
      assert(r.getAs[Long]("overlap") == ov, s"pair ($a,$b)")
      assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb)
      assert(math.abs(r.getAs[Double]("rouge1_f") -
        2.0 * ov / (na + nb)) < 1e-12)
      assert(r.getAs[Double]("rouge1_f") >= 0.0 &&
        r.getAs[Double]("rouge1_f") <= 1.0)
    }
  }

  test("e122: tie-aware CvM matches a driver-side pooled-CDF recount " +
    "and is nonnegative") {
    val row = SparkEntry.queries("e122_cvm")(spark, dir).head()
    val li = pooled()
    val byV = li.groupBy(_._2).view.mapValues { xs =>
      (xs.length.toLong, xs.count(_._1 == "A").toLong,
        xs.count(_._1 == "R").toLong)
    }.toSeq.sortBy(_._1)
    val n = byV.map(_._2._2).sum
    val m = byV.map(_._2._3).sum
    var (ca, cr) = (0L, 0L)
    var num = BigInt(0)
    // weight = A∪R multiplicity only — N rows are in neither sample
    byV.foreach { case (_, (_, fa, fr)) =>
      ca += fa; cr += fr
      val diff = BigInt(m) * ca - BigInt(n) * cr
      num += BigInt(fa + fr) * diff * diff
    }
    val tExp = num.toDouble /
      (n.toDouble * m * (n.toDouble + m) * (n.toDouble + m))
    assert(row.getAs[Long]("n_a") == n && row.getAs[Long]("n_r") == m)
    assert(row.getAs[Double]("t_cvm") >= 0.0)
    // engine value is round(·, 8); allow the quantization
    assert(math.abs(row.getAs[Double]("t_cvm") - tExp) < 1e-7,
      s"engine ${row.getAs[Double]("t_cvm")} vs $tExp")
  }

  test("e123: VAD report matches a driver-side md5-derived energy " +
    "recount for every clip") {
    val rows = SparkEntry.queries("e123_audio_vad")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    graft.queries.Tables.t(spark, dir, "documents")
      .select("doc_id", "text", "n_chars").collect().foreach { r =>
        val dig = md.digest(Option(r.getString(1)).getOrElse("")
          .getBytes("UTF-8"))
        val ns = (r.getLong(2) % 96 + 32).toInt
        val nf = ns / 8
        var (voiced, segs, longest, run) = (0L, 0L, 0L, 0L)
        for (j <- 0 until nf) {
          val e = (0 until 8).map { i =>
            val s = (dig((8 * j + i) % 16) & 0xff).toLong * 257 - 32768
            s * s
          }.sum
          if (e >= graft.operators.Multimodal.vadGate) {
            voiced += 1; run += 1
            if (run == 1) segs += 1
            if (run > longest) longest = run
          } else run = 0
        }
        val row = rows(r.getLong(0))
        assert(row.getAs[Long]("n_frames") == nf.toLong &&
          row.getAs[Long]("voiced_frames") == voiced &&
          row.getAs[Long]("n_segments") == segs &&
          row.getAs[Long]("longest_segment") == longest,
          s"doc ${r.getLong(0)}")
      }
  }

  test("e124: scene cuts match a driver-side md5-derived frame-diff " +
    "recount for every clip") {
    val rows = SparkEntry.queries("e124_scene_cuts")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    graft.queries.Tables.t(spark, dir, "documents")
      .select("doc_id", "text", "n_chars").collect().foreach { r =>
        val dig = md.digest(Option(r.getString(1)).getOrElse("")
          .getBytes("UTF-8"))
        val w = (r.getLong(2) % 16 + 4).toInt
        val nf = (r.getLong(2) % 6 + 2).toInt
        val npx = 4 * w
        var (cuts, mx) = (0L, 0L)
        for (f <- 1 until nf) {
          val e = (0 until npx).map { i =>
            val dv = ((dig((i + 3 * f) % 16) & 0xff) -
              (dig((i + 3 * f - 3) % 16) & 0xff)).toLong
            dv * dv
          }.sum
          if (e >= graft.operators.Multimodal.sceneGate * npx) cuts += 1
          if (e > mx) mx = e
        }
        val row = rows(r.getLong(0))
        assert(row.getAs[Long]("n_frames") == nf.toLong &&
          row.getAs[Long]("n_cuts") == cuts &&
          row.getAs[Long]("n_scenes") == cuts + 1 &&
          row.getAs[Long]("max_diff") == mx, s"doc ${r.getLong(0)}")
      }
  }

  test("q123: Mann-Kendall S, tie-corrected variance and z match a " +
    "driver-side pair walk") {
    val row = SparkEntry.queries("q123_mann_kendall")(spark, dir).head()
    val xs = SparkEntry.queries("q121_cusum")(spark, dir)
      .orderBy("d").collect().map(_.getAs[Long]("x"))
    val dDays = xs.length
    var s = 0L
    for (i <- xs.indices; j <- (i + 1) until dDays)
      s += java.lang.Long.signum(xs(j) - xs(i))
    val tie = xs.groupBy(identity).values
      .map(g => { val t = g.length.toLong; t * (t - 1) * (2 * t + 5) })
      .sum
    val vn = dDays.toLong * (dDays - 1) * (2L * dDays + 5) - tie
    val z =
      if (s > 0) (s - 1.0) / math.sqrt(vn / 18.0)
      else if (s < 0) (s + 1.0) / math.sqrt(vn / 18.0)
      else 0.0
    assert(row.getAs[Long]("n_days") == dDays.toLong)
    assert(row.getAs[Long]("s_stat") == s)
    assert(row.getAs[Long]("var_num") == vn)
    assert(math.abs(row.getAs[Double]("z") - z) < 1e-7)
  }

  test("q121: excursions match a driver-side cumsum and end at zero") {
    val rows = SparkEntry.queries("q121_cusum")(spark, dir)
      .orderBy("d").collect()
    val xs = rows.map(_.getAs[Long]("x"))
    val d = xs.length.toLong
    val t = xs.sum
    var cum = 0L
    rows.zipWithIndex.foreach { case (r, i) =>
      cum += xs(i)
      val e = d * cum - (i + 1) * t
      assert(r.getAs[Long]("excursion") == e)
      assert(math.abs(r.getAs[Double]("cusum") - e.toDouble / d) < 1e-9)
    }
    assert(rows.last.getAs[Long]("excursion") == 0L,
      "final excursion must cancel exactly")
  }

  test("e118: richness statistics match a driver-side histogram " +
    "recount and satisfy the K/D identity") {
    val row = SparkEntry.queries("e118_lexical_richness")(spark, dir)
      .head()
    val counts = graft.queries.Tables.t(spark, dir, "documents")
      .select(explode(
        graft.operators.TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w").count().collect().map(_.getLong(1))
    val types = counts.length.toLong
    val toks = counts.sum
    val s2 = counts.map(c => BigInt(c) * c).sum
    assert(row.getAs[Long]("word_types") == types)
    assert(row.getAs[Long]("n_tokens") == toks)
    assert(row.getAs[Long]("hapax") == counts.count(_ == 1L))
    val k = 10000.0 * (s2.toDouble - toks) / (toks.toDouble * toks)
    val sd = (s2.toDouble - toks) / (toks.toDouble * (toks - 1.0))
    assert(math.abs(row.getAs[Double]("yule_k") - k) < 1e-6)
    assert(math.abs(row.getAs[Double]("simpson_d") - sd) < 1e-9)
    // K = 10⁴·D·(N−1)/N — the two repeat-rate forms must agree
    assert(math.abs(row.getAs[Double]("yule_k") -
      10000.0 * row.getAs[Double]("simpson_d") * (toks - 1.0) / toks)
      < 1e-4)
  }

  test("e119: per-class TV distance matches a driver-side recount " +
    "and sits in [0, 1]") {
    val rows = SparkEntry.queries("e119_t_closeness")(spark, dir)
      .collect()
    val docs = graft.queries.Tables.t(spark, dir, "documents")
      .select(col("source"), expr("n_chars div 200").as("b"),
        col("lang")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val nn = docs.length.toLong
    val langTot = docs.groupBy(_._3).view.mapValues(_.length.toLong)
    rows.foreach { r =>
      val (src, band) = (r.getString(0), r.getLong(1))
      val cls = docs.filter(d => d._1 == src && d._2 == band)
      val ng = cls.length.toLong
      assert(r.getAs[Long]("n_docs") == ng)
      val present = cls.groupBy(_._3).view.mapValues(_.length.toLong)
      val tNum = langTot.map { case (l, ns) =>
        (BigInt(present.getOrElse(l, 0L)) * nn - BigInt(ns) * ng).abs
      }.sum
      assert(BigInt(r.getAs[Long]("t_num")) == tNum)
      val t = r.getAs[Double]("t")
      assert(t >= 0.0 && t <= 1.0)
      assert(math.abs(t - tNum.toDouble / (2.0 * ng * nn)) < 1e-12)
    }
  }

  test("e120: fingerprint buckets match a driver-side md5 recount") {
    val rows = SparkEntry.queries("e120_phash_buckets")(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("fp") ->
        (r.getAs[Long]("n_images"), r.getAs[Long]("min_doc"),
          r.getAs[Long]("max_doc"))).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    val fps = graft.queries.Tables.t(spark, dir, "documents")
      .select("doc_id", "text", "n_chars").collect().map { r =>
        val dig = md.digest(Option(r.getString(1)).getOrElse("")
          .getBytes("UTF-8"))
        val w = (r.getLong(2) % 64 + 1).toInt
        val nPx = 4 * w
        val m = math.min(nPx, 16)
        var fp = 0L
        for (i <- 0 until m - 1)
          if ((dig(i % 16) & 0xff) > (dig((i + 1) % 16) & 0xff))
            fp |= 1L << i
        r.getLong(0) -> fp
      }
    val expected = fps.groupBy(_._2).filter(_._2.length >= 2)
      .map { case (fp, ds) =>
        fp -> (ds.length.toLong, ds.map(_._1).min, ds.map(_._1).max) }
    assert(rows == expected,
      s"${rows.size} engine buckets vs ${expected.size} driver buckets")
  }

  test("c39: the streaming SCD2 history equals the batch c12_scd2 " +
    "frame row for row") {
    def canon(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, dir)
        .select(col("c_custkey"), col("c_acctbal"),
          col("effective_from"), col("effective_to"), col("is_current"))
        .collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(canon("c39_stream_scd2") == canon("c12_scd2"))
  }

  test("q118: a constant-valued group yields NULL Bowley skewness, " +
    "not Infinity/NaN") {
    import spark.implicits._
    val tmp = graft.queries.Stage.tempDir("graft-bowley-test-")
    Seq(("X", 5.0), ("X", 5.0), ("X", 5.0), ("X", 5.0),
      ("Y", 1.0), ("Y", 2.0), ("Y", 3.0), ("Y", 4.0), ("Y", 100.0))
      .toDF("l_returnflag", "l_extendedprice")
      .write.parquet(s"$tmp/lineitem.parquet")
    try {
      val rows = SparkEntry.queries("q118_bowley")(spark, tmp.toString)
        .collect().map(r => r.getString(0) -> r).toMap
      assert(rows("X").getAs[Double]("iqr") == 0.0)
      assert(rows("X").isNullAt(rows("X").fieldIndex("bowley")))
      assert(!rows("Y").isNullAt(rows("Y").fieldIndex("bowley")))
      assert(!rows("Y").getAs[Double]("bowley").isNaN)
    } finally {
      // the query routes through a DURABLE fixture keyed by this
      // one-time tmp dir — sweep it, or every test run leaves a dead
      // target/graft-fixtures entry no later run can ever hit
      val sfKey = tmp.toString.replaceAll("[^A-Za-z0-9]", "_")
      val root = java.nio.file.Paths.get("target", "graft-fixtures")
      if (java.nio.file.Files.isDirectory(root)) {
        val listing = java.nio.file.Files.list(root)
        try {
          import scala.jdk.CollectionConverters._
          listing.iterator().asScala
            .filter(_.getFileName.toString.contains(sfKey))
            .foreach { p =>
              val walk = java.nio.file.Files.walk(p)
              try walk.sorted(java.util.Comparator.reverseOrder())
                .iterator().asScala
                .foreach(java.nio.file.Files.deleteIfExists(_))
              finally walk.close()
            }
        } finally listing.close()
      }
    }
  }
}

package graft

/** Invariants for the round-15 wave: DSIR hashed-
  * bigram importance weights and the duplicated-span extent audit —
  * each recounted driver-side from first principles at sf0.001.
  */
class Surface24Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def toks(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  private def docs(): Array[(Long, String, String)] =
    graft.queries.Tables.t(spark, dir, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

  test("e125: weights match a first-principles hashed-bigram recount") {
    val rows = SparkEntry.queries("e125_dsir_weights")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // recount: per-doc bucket histogram, corpus + target totals
    val perDoc = docs().map { case (id, lang, text) =>
      val tk = toks(Option(text).getOrElse(""))
      val buckets = tk.sliding(2).filter(_.length == 2)
        .map(p => java.lang.Long.parseLong(
          md5hex(p(0) + " " + p(1)).take(4), 16) % 64)
        .toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
      (id, lang, buckets)
    }.filter(_._3.nonEmpty)
    val nRaw = perDoc.flatMap(_._3.toSeq).groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toMap
    val nTgt = perDoc.filter(_._2 == "en").flatMap(_._3.toSeq)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val (tr, tt) = (nRaw.values.sum, nTgt.values.sum)
    assert(rows.size == perDoc.length)
    perDoc.foreach { case (id, _, b) =>
      val num = b.map { case (k, c) => c * nTgt.getOrElse(k, 0L) }.sum
      val den = b.map { case (k, c) => c * nRaw(k) }.sum
      val (gNum, gDen, gW) = rows(id)
      assert(gNum == num && gDen == den, s"doc $id sums")
      val w = BigDecimal(num.toDouble * tr / (den.toDouble * tt))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(gW - w) < 1e-9, s"doc $id weight $gW vs $w")
    }
    // hashed features are shared across docs: every bucket the corpus
    // produced must have nonzero corpus mass (histogram completeness)
    assert(nRaw.values.forall(_ > 0))
  }

  test("q124: Theil–Sen slope matches a driver-side all-pairs median") {
    val row = SparkEntry.queries("q124_theil_sen")(spark, dir).head()
    val daily = graft.queries.Tables.events(spark, dir)
      .groupBy(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")).as("d"))
      .count().collect()
      .map(r => r.getDate(0).toLocalDate.toEpochDay -> r.getLong(1))
      .sortBy(_._1)
    val slopes = (for {
      i <- daily.indices; j <- (i + 1) until daily.length
    } yield (daily(j)._2 - daily(i)._2).toDouble /
        (daily(j)._1 - daily(i)._1)).sorted
    val n = slopes.length
    val med = (slopes((n + 1) / 2 - 1) + slopes((n + 2) / 2 - 1)) / 2.0
    assert(row.getAs[Long]("n_days") == daily.length)
    assert(row.getAs[Long]("n_pairs") == n)
    assert(math.abs(row.getAs[Double]("slope") - med) < 1e-7,
      s"engine ${row.getAs[Double]("slope")} vs $med")
  }

  test("e127: confusion matrix partitions the corpus; fracs sum to 1 per lang") {
    val rows = SparkEntry.queries("e127_langid_confusion")(spark, dir)
      .collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == docs().length)
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val fracSum = rs.map(_.getAs[Double]("frac")).sum
      assert(math.abs(fracSum - 1.0) < 1e-6, s"$lang fracs sum $fracSum")
    }
    // the en marker set must catch most labeled-en docs (heuristic
    // sanity: diagonal dominance for the language the markers target)
    val en = rows.filter(r => r.getString(0) == "en")
    val enDiag = en.filter(_.getString(1) == "en").map(_.getAs[Long]("n")).sum
    val enTot = en.map(_.getAs[Long]("n")).sum
    assert(enDiag * 2 > enTot, s"en diagonal $enDiag of $enTot")
  }

  test("e128: clipped counts match the generative md5 rail bytes") {
    val got = SparkEntry.queries("e128_audio_clipping")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    graft.queries.Tables.t(spark, dir, "documents")
      .select("doc_id", "text", "n_chars").collect().foreach { r =>
        val (id, text, nChars) =
          (r.getLong(0), Option(r.getString(1)).getOrElse(""), r.getLong(2))
        val bytes = md5hex(text).grouped(2)
          .map(Integer.parseInt(_, 16)).toArray
        val n = (nChars % 96 + 32).toInt
        val clipped = (0 until n).count(i =>
          bytes(i % 16) == 0xff || bytes(i % 16) == 0x00)
        assert(got(id) == (n.toLong, clipped.toLong), s"doc $id")
      }
  }

  test("e129: prefix-dim recall matches a driver-side exact recount") {
    val got = SparkEntry.queries("e129_matryoshka_recall")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = graft.queries.Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val q = vecs.find(_._1 == 0L).get._2
    def cos(a: Array[Float], b: Array[Float], m: Int): Double = {
      def fold(x: Array[Float], y: Array[Float]) =
        (0 until m).foldLeft(0.0)((acc, i) =>
          acc + x(i).toDouble * y(i).toDouble)
      fold(a, b) / (math.sqrt(fold(a, a)) * math.sqrt(fold(b, b)))
    }
    def top10(m: Int): Set[Long] = vecs.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(v, q, m)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    val full = top10(64)
    Seq(8, 16, 32).foreach { m =>
      val hit = (full intersect top10(m)).size.toLong
      assert(got(m.toLong) == hit, s"m=$m: engine ${got(m.toLong)} vs $hit")
    }
    // truncation can only lose information: full-dim self-recall is 10
    assert((full intersect top10(64)).size == 10)
  }

  test("e130: Hellinger matrix is a bounded symmetric metric over profiles") {
    val rows = SparkEntry.queries("e130_hellinger_drift")(spark, dir)
      .collect()
    val nSources = graft.queries.Tables.t(spark, dir, "documents")
      .select("source").distinct().count()
    assert(rows.length == nSources * (nSources - 1) / 2)
    rows.foreach { r =>
      val (bc, h) = (r.getAs[Double]("bc"), r.getAs[Double]("hellinger"))
      assert(bc >= 0.0 && bc <= 1.0 + 1e-9, s"bc $bc")
      assert(h >= 0.0 && h <= 1.0, s"hellinger $h")
      // h = sqrt(1 - bc) up to the rounding of both outputs
      assert(math.abs(h - math.sqrt(math.max(0.0, 1.0 - bc))) < 1e-6)
    }
    // a recount on one pair from raw counts
    val profs = graft.queries.Tables.t(spark, dir, "documents")
      .groupBy("source", "lang").count().collect()
      .groupBy(_.getString(0)).view.mapValues(rs =>
        rs.map(r => r.getString(1) -> r.getLong(2)).toMap).toMap
    val r0 = rows.minBy(r => (r.getString(0), r.getString(1)))
    val (a, b) = (profs(r0.getString(0)), profs(r0.getString(1)))
    val (na, nb) = (a.values.sum.toDouble, b.values.sum.toDouble)
    val bc = Seq("en", "de", "es", "fr", "zh").map(l =>
      math.sqrt((a.getOrElse(l, 0L) / na) * (b.getOrElse(l, 0L) / nb))).sum
    assert(math.abs(r0.getAs[Double]("bc") - bc) < 1e-7)
  }

  test("c40: TWS session twin equals the built-in session_window output") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))
    val tws = SparkEntry.queries("c40_stream_session_tws")(spark, dir)
      .collect().map(key).sorted
    val builtin = SparkEntry.queries("c21_stream_session")(spark, dir)
      .select("user_id", "session_start", "session_end", "n")
      .collect().map(key).sorted
    assert(tws.length == builtin.length)
    assert(tws sameElements builtin)
    // sessions are well-formed: start < end, gap-closed end
    tws.foreach { case (_, st, en, n) =>
      assert(n >= 1 && en - st >= 1800000L, s"session ($st,$en,$n)")
    }
  }

  test("e131: KS uniformity statistic matches a driver-side recount") {
    val row = SparkEntry.queries("e131_hash_uniformity")(spark, dir).head()
    val ks = docs().map { case (id, _, _) =>
      java.lang.Long.parseLong(md5hex(id.toString).take(4), 16) % 100
    }
    val n = ks.length.toLong
    val counts = ks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    var (cum, dMax, worst) = (0L, -1L, -1L)
    (0L until 100L).foreach { k =>
      cum += counts.getOrElse(k, 0L)
      val dev = math.abs(100L * cum - (k + 1) * n)
      if (dev > dMax) { dMax = dev; worst = k }
    }
    assert(row.getAs[Long]("n_total") == n)
    assert(row.getAs[Long]("d_num") == dMax)
    assert(row.getAs[Long]("worst_bucket") == worst)
    assert(math.abs(row.getAs[Double]("ks_d") -
      dMax.toDouble / (n * 100L)) < 1e-12)
  }

  test("q125: seasonal eta2 matches a driver-side dow decomposition") {
    val row = SparkEntry.queries("q125_seasonal_strength")(spark, dir)
      .head()
    val daily = graft.queries.Tables.events(spark, dir)
      .groupBy(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")).as("d"))
      .count().collect()
      .map(r => ((r.getDate(0).toLocalDate.toEpochDay + 4) % 7 + 7) % 7 ->
        r.getLong(1)) // epoch day 0 = Thursday = dow 4 (Sunday = 0)
    val n = daily.length.toDouble
    val s = daily.map(_._2).sum.toDouble
    val q = daily.map(x => x._2.toDouble * x._2).sum
    val by = daily.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val between = by.values.map { xs =>
      val sg = xs.sum.toDouble
      sg * sg / xs.length
    }.sum - s * s / n
    val total = q - s * s / n
    assert(row.getAs[Long]("n_days") == daily.length)
    assert(math.abs(row.getAs[Double]("seasonal_eta2") -
      between / total) < 1e-7)
    assert(row.getAs[Double]("seasonal_eta2") >= 0.0 &&
      row.getAs[Double]("seasonal_eta2") <= 1.0)
  }

  test("e126: span extents match a brute-force pair walk") {
    val got = SparkEntry.queries("e126_dup_spans")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // recount: chunk fingerprints per doc, then brute-force diagonals
    val rawChunks = docs().map { case (id, _, text) =>
      val tk = toks(Option(text).getOrElse(""))
      id -> tk.grouped(16).zipWithIndex
        .map { case (c, i) => (i.toLong, md5hex(c.mkString(" "))) }.toSeq
    }.filter(_._2.nonEmpty).toMap
    // mirror the judged definition exactly: fingerprints whose GLOBAL
    // multiplicity exceeds dupFpCap are excluded by both the engine
    // and the oracle, so the recount must drop them too — otherwise a
    // fixture regeneration producing a >cap fp would fail this test
    // spuriously while both judged sides still agree
    val fpMult = rawChunks.values.flatten.toSeq.groupBy(_._2)
      .view.mapValues(_.size).toMap
    val chunks = rawChunks.view.mapValues(_.filter { case (_, fp) =>
      fpMult(fp) <= graft.queries.DedupQueries.dupFpCap
    }).filter(_._2.nonEmpty).toMap
    val expect = scala.collection.mutable.Map[(Long, Long), (Long, Long)]()
    for {
      a <- chunks.keys.toSeq.sorted
      b <- chunks.keys.toSeq.sorted if a < b
    } {
      val byFp = chunks(b).groupBy(_._2)
      val shared = chunks(a).flatMap { case (ia, fp) =>
        byFp.getOrElse(fp, Seq.empty).map { case (ib, _) => (ia, ib) }
      }
      if (shared.nonEmpty) {
        val runs = shared.groupBy { case (ia, ib) => ia - ib }.values
          .flatMap { diag =>
            val ias = diag.map(_._1).sorted
            // island lengths on one diagonal
            ias.zipWithIndex.groupBy { case (ia, i) => ia - i }
              .values.map(_.size.toLong)
          }
        expect((a, b)) = (shared.size.toLong, runs.max)
      }
    }
    assert(got.keySet == expect.keySet)
    expect.foreach { case (k, v) =>
      assert(got(k) == v, s"pair $k: got ${got(k)}, want $v")
    }
    // extent never exceeds either doc's chunk inventory
    got.foreach { case ((a, b), (shared, run)) =>
      assert(run <= shared)
      assert(run <= math.min(chunks(a).size, chunks(b).size))
    }
  }
}

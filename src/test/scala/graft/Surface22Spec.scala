package graft

import org.apache.spark.sql.functions._
import Recount._

/** Invariants for the round-13 wave: the BPE merge
  * trainer and Kendall's tau-b.
  */
class Surface22Spec extends SparkSpec {
  test("e113: full merge table equals a driver-side sequential trainer") {
    val rows = query("e113_bpe_train")
      .orderBy("merge_idx").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(rows.length == graft.queries.TokenizerQueries.bpeIters)
    // every round: recount adjacent pairs weighted by corpus frequency,
    // argmax with the (n desc, a, b) tie-break, greedy apply
    var words = wordHist.map { case (w, c) => (w.map(_.toString).toList, c) }
    val expected = (1 to rows.length).map { k =>
      val pairs = scala.collection.mutable.Map[(String, String), Long]()
      words.foreach { case (syms, c) =>
        syms.zip(syms.drop(1)).foreach { p =>
          pairs(p) = pairs.getOrElse(p, 0L) + c }
      }
      val ((a, b), n) = pairs.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
      words = words.map { case (syms, c) => (applyMerge(syms, a, b), c) }
      (k.toLong, a, b, n)
    }
    assert(rows.toSeq == expected)
  }

  test("e113: merged = left||right and pair counts never increase " +
    "across rounds (a round-k+1 pair embeds a round-k pair)") {
    val rows = query("e113_bpe_train")
      .orderBy("merge_idx").collect()
    rows.foreach(r =>
      assert(r.getString(3) == r.getString(1) + r.getString(2)))
    rows.sliding(2).foreach { w =>
      assert(w(1).getLong(4) <= w(0).getLong(4),
        s"pair count grew: ${w(0).getLong(4)} -> ${w(1).getLong(4)}")
    }
  }

  test("e113: double-space replace implements greedy left-to-right " +
    "BPE merge (overlap chains and adjacent repeats)") {
    import spark.implicits._
    // words as double-space char states; merge (a,b) applied once
    def enc(w: String) = "  " + w.map(_.toString).mkString("  ") + "  "
    val df = Seq(enc("aaa"), enc("abab"), enc("xab")).toDF("s")
    def applyMerge(a: String, b: String) =
      replace(col("s"), lit(s" $a  $b "), lit(s" $a$b "))
    val aa = df.select(split(trim(applyMerge("a", "a")), "  ").as("tk"))
      .collect().map(_.getSeq[String](0))
    assert(aa(0) == Seq("aa", "a"), s"aaa -> ${aa(0)}") // greedy, not aa,aa
    val ab = df.select(split(trim(applyMerge("a", "b")), "  ").as("tk"))
      .collect().map(_.getSeq[String](0))
    assert(ab(1) == Seq("ab", "ab"), s"abab -> ${ab(1)}") // both pairs merge
    assert(ab(2) == Seq("x", "ab"), s"xab -> ${ab(2)}")
    // no token-suffix false match: merging (b, a) must not touch "xab"
    // encoded as one token per char — but must also not fire INSIDE a
    // previously merged multi-char token
    val merged = Seq("  xa  b  ").toDF("s")
      .select(split(trim(replace(col("s"), lit(" a  b "), lit(" ab "))),
        "  ").as("tk")).head().getSeq[String](0)
    assert(merged == Seq("xa", "b"), s"xa,b -> $merged")
  }

  test("e115: segmentation stats match a driver-side greedy apply " +
    "of the trained merges") {
    val r = query("e115_bpe_apply").head()
    val merges = query("e113_bpe_train")
      .orderBy("merge_idx").collect()
      .map(m => (m.getString(1), m.getString(2)))
    var types = 0L; var wtot = 0L; var stot = 0L; var single = 0L
    wordHist.foreach { case (w, c) =>
      var syms = w.map(_.toString).toList
      merges.foreach { case (a, b) => syms = applyMerge(syms, a, b) }
      types += 1; wtot += c; stot += c * syms.length
      if (syms.length == 1) single += c
    }
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((types, wtot, stot, single)),
      s"engine ${r.mkString(",")} != driver ($types,$wtot,$stot,$single)")
  }

  test("e177: batched schedule is exact - within-pass symbol " +
    "disjointness, and each merge's recorded count equals a " +
    "one-at-a-time sequential recount at application time") {
    import spark.implicits._
    def enc(w: String) = "  " + w.map(_.toString).mkString("  ") + "  "
    val toy = Seq(("abab", 5L), ("abcd", 4L), ("cdcd", 3L),
      ("xyxy", 2L), ("aaaa", 2L), ("bcda", 1L), ("xaby", 1L))
    val hist = toy.map { case (w, c) => (enc(w), c) }.toDF("s", "cnt")
    val merges = graft.queries.TokenizerQueries.bpeMergesBatched(
      hist, passes = 3, m = 3, window = 8)
    assert(merges.nonEmpty && merges.map(_._1) == (1L to merges.size))
    // (a) pairs applied in one pass never share a symbol (a SELF-pair
    // like (a,a) has the one-element symbol set {a} — disjointness is
    // pairwise set intersection, not multiset distinctness)
    merges.groupBy(_._2).foreach { case (_, ms) =>
      val sets = ms.map(mg => Set(mg._3, mg._4))
      for (i <- sets.indices; j <- 0 until i)
        assert((sets(i) intersect sets(j)).isEmpty,
          s"pass shares symbols: $ms")
    }
    // (b) exactness: replay ONE merge at a time in merge_idx order;
    // the recorded pair_n (counted on the PASS-START state) must
    // equal the adjacent-pair recount on the state just before THIS
    // merge applies — the disjointness invariance the batching
    // argument rests on
    var words = toy.map { case (w, c) => (w.map(_.toString).toList, c) }
    merges.foreach { case (idx, _, a, b, n) =>
      val recount = words.map { case (tks, c) =>
        c * tks.sliding(2).count(pr => pr == List(a, b))
      }.sum
      assert(recount == n,
        s"merge $idx ($a,$b): recorded $n, sequential recount $recount")
      words = words.map { case (tks, c) => (applyMerge(tks, a, b), c) }
    }
  }

  test("e177: first batched merge equals e113's first sequential " +
    "merge, and the table is e113-shaped after projecting the pass") {
    val batched = query("e177_bpe_batched")
      .orderBy("merge_idx").collect()
    val seq1 = query("e113_bpe_train")
      .orderBy("merge_idx").head()
    val b1 = batched.head
    assert((b1.getString(2), b1.getString(3), b1.getLong(5)) ==
      ((seq1.getString(1), seq1.getString(2), seq1.getLong(4))),
      s"pass-1 rank-1 ${b1.mkString(",")} != e113 merge 1")
    batched.foreach { r =>
      assert(r.getString(4) == r.getString(2) + r.getString(3))
      assert(r.getLong(5) > 0L)
    }
    // jobs/merge: 8 passes produced every merge in the table
    assert(batched.map(_.getLong(1)).max <=
      graft.queries.TokenizerQueries.bpeBatchPasses)
    assert(batched.length >
      graft.queries.TokenizerQueries.bpeBatchPasses,
      "batching produced no more merges than passes - schedule broken")
  }

  test("q115: gini in [0,1) and matches a driver-side sorted recompute") {
    val rows = query("q115_gini").collect()
    val li = graft.queries.Tables.t(spark, dir, "lineitem")
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => r.getString(0) -> math.round(r.getDouble(1) * 100))
    rows.foreach { r =>
      val g = r.getString(0)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0)
      val xs = li.filter(_._1 == g).map(_._2).sorted
      val n = xs.length.toLong
      val s1 = xs.map(BigInt(_)).sum
      val s2 = xs.zipWithIndex.map { case (v, i) =>
        BigInt(v) * 2 * (i + 1) }.sum
      val gini = (s2 - (n + 1) * s1).toDouble / (BigInt(n) * s1).toDouble
      assert(r.getLong(1) == n &&
        math.abs(r.getDouble(2) - gini) < 1e-9,
        s"$g: engine ${r.getDouble(2)} != driver $gini")
    }
  }

  test("q116: |acf| <= 1, pair counts shrink by one per lag, and " +
    "lag-1 matches a driver-side Pearson") {
    val rows = query("q116_acf").collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    rows.sliding(2).foreach(w =>
      assert(w(1).getLong(1) == w(0).getLong(1) - 1))
    rows.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0))
    val daily = graft.queries.Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("d")).count()
      .collect().map(r => r.getDate(0).toLocalDate -> r.getLong(1))
      .sortBy(_._1.toEpochDay).toMap
    val ds = daily.keys.toSeq.sortBy(_.toEpochDay)
    val pairs = ds.flatMap(d => daily.get(d.plusDays(1))
      .map(y => (daily(d).toDouble, y.toDouble)))
    val n = pairs.length
    val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
    val sxy = pairs.map(p => p._1 * p._2).sum
    val sxx = pairs.map(p => p._1 * p._1).sum
    val syy = pairs.map(p => p._2 * p._2).sum
    val r1 = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    assert(rows.head.getLong(1) == n &&
      math.abs(rows.head.getDouble(2) - r1) < 1e-9)
  }

  test("q117: trimmed/winsorized means match a driver-side sorted " +
    "recompute and bracket sensibly") {
    val rows = query("q117_trimmed_mean")
      .collect()
    val li = graft.queries.Tables.t(spark, dir, "lineitem")
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => r.getString(0) -> math.round(r.getDouble(1) * 100))
    rows.foreach { r =>
      val g = r.getString(0)
      val xs = li.filter(_._1 == g).map(_._2).sorted
      val n = xs.length
      val k = n / 10
      val kept = xs.slice(k, n - k)
      val tmean = kept.map(BigInt(_)).sum.toDouble / 100.0 / kept.length
      val wsum = kept.map(BigInt(_)).sum +
        BigInt(k) * (xs(k) + xs(n - k - 1))
      val wmean = wsum.toDouble / 100.0 / n
      assert(r.getLong(1) == n.toLong)
      assert(math.abs(r.getDouble(2) - tmean) < 1e-9,
        s"$g trimmed: engine ${r.getDouble(2)} != driver $tmean")
      assert(math.abs(r.getDouble(3) - wmean) < 1e-9,
        s"$g winsorized: engine ${r.getDouble(3)} != driver $wmean")
    }
  }

  test("q118: quartiles match a driver-side sorted selection; " +
    "bowley in [-1,1] and iqr consistent") {
    val rows = query("q118_bowley").collect()
    val li = graft.queries.Tables.t(spark, dir, "lineitem")
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    rows.foreach { r =>
      val xs = li.filter(_._1 == r.getString(0)).map(_._2).sorted
      val n = xs.length
      def at(k: Int) = xs(k - 1)
      assert(r.getDouble(1) == at((n + 3) / 4) &&
        r.getDouble(2) == at((n + 1) / 2) &&
        r.getDouble(3) == at((3 * n + 3) / 4),
        s"${r.getString(0)}: quartile mismatch")
      assert(r.getDouble(4) == r.getDouble(3) - r.getDouble(1))
      assert(math.abs(r.getDouble(5)) <= 1.0)
    }
  }

  test("e116: digit counts cover the table, probabilities sum to 1, " +
    "expected matches the Benford law") {
    val rows = query("e116_benford").collect()
    assert(rows.map(_.getInt(0)).forall(d => d >= 1 && d <= 9))
    assert(rows.map(_.getLong(1)).sum ==
      graft.queries.Tables.t(spark, dir, "lineitem").count())
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    rows.foreach(r => assert(
      r.getDouble(3) == math.log10(1.0 + 1.0 / r.getInt(0))))
  }

  test("e117: top-25 collocations match a driver-side lift recount") {
    val byName = query("e117_collocations")
      .select("t1", "t2", "n_ab", "lift_micro").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val toks = graft.queries.Tables.t(spark, dir, "documents")
      .select(graft.operators.TextAnalysis.tokens(col("text")).as("tk"))
      .collect().map(_.getSeq[String](0))
    val uni = scala.collection.mutable.Map[String, Long]()
    val bg = scala.collection.mutable.Map[(String, String), Long]()
    toks.foreach { tk =>
      tk.foreach(t => uni(t) = uni.getOrElse(t, 0L) + 1)
      tk.sliding(2).filter(_.length == 2).foreach { p =>
        val k = (p(0), p(1)); bg(k) = bg.getOrElse(k, 0L) + 1
      }
    }
    val nn = BigInt(uni.values.sum)
    val expect = bg.toSeq.filter(_._2 >= 20).map { case ((a, b), nab) =>
      (a, b, nab,
        ((BigInt(nab) * nn * 1000000) / (BigInt(uni(a)) * uni(b)))
          .toLong)
    }.sortBy { case (a, b, _, l) => (-l, a, b) }.take(25)
    assert(byName.toSeq == expect,
      s"top-25 mismatch:\n engine=${byName.take(3).mkString(",")}\n driver=${expect.take(3).mkString(",")}")
  }

  test("e114: tau_b in [-1,1]; C/D match a driver-side O(n^2) recount") {
    val rows = query("e114_kendall").collect()
    assert(rows.length == 3)
    val li = graft.queries.Tables.t(spark, dir, "lineitem")
      .select("l_returnflag", "l_quantity", "l_discount").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    rows.foreach { r =>
      val g = r.getString(0)
      assert(math.abs(r.getDouble(3)) <= 1.0)
      val xs = li.filter(_._1 == g)
      var c = 0L; var d = 0L
      for (i <- xs.indices; j <- xs.indices if i < j) {
        val dx = xs(i)._2 compare xs(j)._2
        val dy = xs(i)._3 compare xs(j)._3
        if (dx != 0 && dy != 0) {
          if (dx == dy) c += 1 else d += 1
        }
      }
      assert(r.getLong(1) == c && r.getLong(2) == d,
        s"$g: engine (${r.getLong(1)},${r.getLong(2)}) != driver ($c,$d)")
    }
  }
}

package graft

import org.apache.spark.sql.functions._

/** Round-10 additions: explicit cross-job Bloom semi-join and
  * prefix-filtered exact Jaccard join.
  */
class Surface17Spec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  test("driver-built bloom admits every true key (no false negatives)") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val keys = spark.range(0, 1000).select(col("id"))
    val bf = keys.stat.bloomFilter("id", 2000, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bfLit = lit(bos.toByteArray)
    // every inserted key must pass the filter — Bloom guarantees no
    // false negatives, which is what makes the exact-scrub result exact
    val missed = keys
      .where(!call_function("bloom_might_contain", bfLit, col("id")))
      .count()
    assert(missed == 0L)
    // and the filter must actually prune: over a disjoint key range the
    // pass-through rate is the fpp, not 100%
    val fp = spark.range(1000000, 1100000)
      .where(call_function("bloom_might_contain", bfLit, col("id")))
      .count()
    assert(fp < 5000L, s"bloom passed $fp of 100k disjoint keys")
  }

  test("q106 equals the plain exact semi-join (bloom is pruning-only)") {
    import graft.queries.Tables.{t, dsum}
    val got = SparkEntry.queries("q106_bloom_semi")(spark, sfDir)
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val ord = t(spark, sfDir, "orders")
      .where(col("o_orderdate") >= lit("1996-03-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select("o_orderkey")
    val want = t(spark, sfDir, "lineitem")
      .join(ord, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity"), 2).as("q"))
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("band admission fold: earlier ids flag later ones, state carries") {
    import graft.streaming.BandAdmission.{fold, BandRow}
    // batch 1: doc 5 admitted, doc 7 flagged (5 < 7 shares the band)
    val (f1, mn1) = fold("X", Long.MaxValue,
      Seq(BandRow(7, "X"), BandRow(5, "X")))
    assert(f1.map(f => (f.doc_id, f.dup)) == Seq((5L, false), (7L, true)))
    assert(mn1 == 5L)
    // batch 2 against carried state: doc 9 flagged by batch-1's doc 5
    val (f2, mn2) = fold("X", mn1, Seq(BandRow(9, "X")))
    assert(f2.map(f => (f.doc_id, f.dup)) == Seq((9L, true)) && mn2 == 5L)
    // equal ids never flag each other
    val (f3, _) = fold("Y", Long.MaxValue,
      Seq(BandRow(4, "Y"), BandRow(4, "Y")))
    assert(f3.forall(!_.dup))
  }

  test("prefix filtering is lossless vs brute-force all-pairs Jaccard") {
    import graft.queries.Tables.t
    // brute-force truth at sf0.001: distinct token sets, all-pairs
    // intersection via token equi-join, threshold 3*inter >= na+nb
    val docs = t(spark, sfDir, "documents").where(col("doc_id") < 300)
    val tk = docs.select(col("doc_id"),
      explode(array_distinct(filter(
        split(lower(col("text")), "[^a-z0-9]+"),
        x => length(x) > 0))).as("tok"))
    val sz = tk.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = tk.as("a").join(tk.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    val want = inter
      .join(sz.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sz.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .where(col("n_common") * 3 >= col("n_a") + col("n_b"))
      .select("id_a", "id_b", "n_common", "n_a", "n_b")
      .collect().map(_.toSeq).toSet
    val got = SparkEntry.queries("e87_prefix_join")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == want)
  }

  test("geometric mechanism: exact boundary draws and band widths") {
    import graft.operators.Privacy
    import spark.implicits._
    // hand-checked inverse-CDF boundary cases: u = 0 is the extreme
    // negative tail; the middle third maps to 0; u = 2^48 - 1 the
    // extreme positive tail; adjacent dyadic bands step k by one
    val cases = Seq(
      0L -> -48L, // t+1 = 1, bitlen 1
      (1L << 47) -> 0L, // t = 3·2^47 ∈ [2^48, 2^49)
      (1L << 46) -> -1L, // t = 3·2^46 ∈ [2^47, 2^48)
      (1L << 45) -> -2L,
      ((1L << 48) - 1L) -> 47L, // s = 3·2^48 − t − 1 = 2, bitlen 2
      ((1L << 48) - (1L << 45)) -> 2L) // s = 3·2^45 − 1 ∈ [2^46, 2^47),
                                       // the symmetric mirror of u = 2^45
    val got = cases.map(_._1).toDF("u48")
      .select(col("u48"), Privacy.geometricPseudoNoise(col("u48")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { case (u, want) =>
      assert(got(u) == want, s"u48=$u: got ${got(u)}, want $want") }
  }

  test("geometric mechanism: empirical law P(k) = (1/3)·2^-|k|") {
    import graft.operators.Privacy
    // seeded md5 uniforms over 60k keys: the draw must be symmetric
    // with P(0) ≈ 1/3 and P(|k|≤1) ≈ 2/3 — the α = 1/2 law
    val ks = spark.range(60000)
      .select(Privacy.geometricPseudoNoise(
        Privacy.seededU48(col("id").cast("string"))).as("k"))
      .groupBy("k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = ks.values.sum.toDouble
    def frac(p: Long => Boolean) =
      ks.collect { case (k, c) if p(k) => c }.sum / n
    assert(math.abs(frac(_ == 0L) - 1.0 / 3) < 0.01)
    assert(math.abs(frac(k => math.abs(k) <= 1) - 2.0 / 3) < 0.01)
    assert(math.abs(frac(_ > 0L) - frac(_ < 0L)) < 0.01)
  }
}

package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators._
import Recount.{cosFixed, cosine}

/** Unit tests for the LLM-pipeline operator set (north star §2.6). */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def vecDf(vs: (Long, Seq[Float])*) =
    vs.toSeq.toDF("vec_id", "embedding")

  test("cosine(v, v) = 1 ± ε; orthogonal = 0") {
    val df = vecDf(1L -> Seq(1f, 2f, 3f))
      .select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
    assert(math.abs(df.as[Double].head() - 1.0) < 1e-12)
    val ortho = Seq((Seq(1f, 0f), Seq(0f, 1f))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(ortho.as[Double].head() === 0.0)
  }

  test("cosineExact tracks double cosine within quantization error") {
    val df = vecDf(1L -> Seq(0.31f, -0.45f, 0.12f, 0.09f),
      2L -> Seq(-0.11f, 0.41f, 0.33f, -0.27f))
    val both = df.crossJoin(df.select(col("embedding").as("e2"),
        col("vec_id").as("v2")))
      .select(Similarity.cosine(col("embedding"), col("e2")).as("d"),
        Similarity.cosineExact(col("embedding"), col("e2")).as("x"))
      .as[(Double, Double)].collect()
    both.foreach { case (d, x) => assert(math.abs(d - x) < 1e-4) }
  }

  test("bruteForceTopK returns k rows, descending, self excluded by caller") {
    val corpus = vecDf((1L to 20L).map(i =>
      i -> Seq(i.toFloat, (21 - i).toFloat, 1f)): _*)
    val out = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      Seq(20f, 1f, 1f), k = 5)
    val rows = out.as[(Long, Double)].collect()
    assert(rows.length === 5)
    assert(rows.map(_._2).toSeq === rows.map(_._2).sorted.reverse.toSeq)
    assert(rows.head._1 === 20L) // most aligned with the query
  }

  test("lshTopK results agree with brute-force scores for returned ids") {
    val corpus = vecDf((1L to 30L).map(i =>
      i -> Seq.tabulate(8)(j => math.sin(i * 7 + j).toFloat)): _*)
    val q = Seq.tabulate(8)(j => math.sin(7 + j).toFloat) // ≈ vector 1
    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 30)
      .as[(Long, Double)].collect().toMap
    val ann = Similarity.lshTopK(corpus, "vec_id", "embedding", q, 5, nPlanes = 4)
      .as[(Long, Double)].collect()
    assert(ann.nonEmpty && ann.length <= 5)
    ann.foreach { case (id, c) => assert(math.abs(brute(id) - c) < 1e-12) }
    assert(ann.map(_._1).contains(1L)) // the near-identical vector survives
  }

  test("native vec_dot expression is bit-identical to the fold-based dot (E2)") {
    graft.functions.GraftFunctions.register(spark)
    val df = vecDf(
      1L -> Seq(0.31f, -0.45f, 0.12f, 0.09f),
      2L -> Seq(-0.11f, 0.41f, 0.33f, -0.27f),
      3L -> Seq(1f, 2f, 3f, 4f))
    val pairs = df.crossJoin(df.select(col("embedding").as("e2")))
    val both = pairs.select(
      Similarity.cosine(col("embedding"), col("e2")).as("fold"),
      Similarity.cosineNative(col("embedding"), col("e2")).as("native"))
      .as[(Double, Double)].collect()
    both.foreach { case (f, n) => assert(f === n) } // exact, not approx
    // and through SQL after extension-style registration
    df.createOrReplaceTempView("vt")
    val viaSql = spark.sql(
      "SELECT vec_dot(embedding, embedding) FROM vt WHERE vec_id = 3")
      .as[Double].head()
    assert(viaSql === (1.0 + 4.0 + 9.0 + 16.0))
  }

  test("native vec_sign_ham equals the sign-disagreement fold (E2)") {
    graft.functions.GraftFunctions.register(spark)
    val df = vecDf(
      1L -> Seq(0.31f, -0.45f, 0.12f, 0.09f),
      2L -> Seq(-0.11f, 0.41f, 0.33f, -0.27f),
      3L -> Seq(0f, -0f, 1f, -1f)) // signed zeros: 0f >= 0 AND -0f >= 0
    val pairs = df.crossJoin(df.select(col("embedding").as("e2")))
    val both = pairs.select(
      aggregate(zip_with(col("embedding"), col("e2"), (a, b) =>
        when((a >= 0) =!= (b >= 0), lit(1L)).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc + x).as("fold"),
      call_function("vec_sign_ham", col("embedding"), col("e2"))
        .as("native"))
      .as[(Long, Long)].collect()
    assert(both.nonEmpty)
    both.foreach { case (f, n) => assert(f === n) }
    // known value: rows 1 (+,−,+,+) vs 2 (−,+,+,−) disagree on 3 signs
    val d12 = df.where(col("vec_id") === 1L)
      .crossJoin(df.where(col("vec_id") === 2L)
        .select(col("embedding").as("e2")))
      .select(call_function("vec_sign_ham", col("embedding"), col("e2")))
      .as[Long].head()
    assert(d12 === 3L)
    // the fold's null contract: a null slot falls to otherwise(0) —
    // the kernel must count it as agreement, not read raw bits
    val nn = spark.sql("SELECT vec_sign_ham(" +
      "array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT), " +
      "CAST(-1.0 AS FLOAT)), " +
      "array(CAST(-1.0 AS FLOAT), CAST(-1.0 AS FLOAT), " +
      "CAST(1.0 AS FLOAT)))").as[Long].head()
    assert(nn === 2L)
  }

  test("RewriteVecFolds: the declarative dot fold plans as FloatVecDot (E2)") {
    graft.functions.GraftFunctions.register(spark)
    // parquet-backed so the optimizer can't constant-fold the local
    // relation away before the rewrite is observable
    val dir = java.nio.file.Files.createTempDirectory("graft-vf-")
      .resolve("t").toString
    Seq(
      (Array(0.31f, -0.45f, 0.12f), Array(-0.11f, 0.41f, 0.33f)),
      (Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
      .write.parquet(dir)
    val df = spark.read.parquet(dir)
    def fold(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) =>
        p.cast("double") * q.cast("double")), lit(0.0), (acc, v) => acc + v)
    val q = df.select(fold(col("a"), col("b")).as("s"))
    assert(q.queryExecution.optimizedPlan.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.FloatVecDot])),
      "fold not rewritten to the native kernel")
    val native = df.select(
      call_function("vec_dot", col("a"), col("b")).as("s"))
      .as[Double].collect().sorted
    assert(q.as[Double].collect().sorted.toSeq == native.toSeq)
    assert(math.abs(native.max - (4.0 + 10.0 + 18.0)) < 1e-12)
    // a different lambda (no casts: double arrays) must NOT rewrite
    val dd = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    val q2 = dd.select(aggregate(zip_with(col("a"), col("b"),
      (p, v) => p * v), lit(0.0), (acc, v) => acc + v).as("s"))
    assert(!q2.queryExecution.optimizedPlan.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.FloatVecDot])))
    assert(math.abs(q2.as[Double].head() - 11.0) < 1e-12)
    // the kernel honors the fold's null contract: length mismatch and
    // null elements both yield null
    val nd = spark.sql("SELECT vec_dot(array(CAST(1.0 AS FLOAT)), " +
      "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)))")
    assert(nd.collect().head.isNullAt(0))
    val ne = spark.sql("SELECT vec_dot(array(CAST(1.0 AS FLOAT), " +
      "CAST(NULL AS FLOAT)), array(CAST(1.0 AS FLOAT), " +
      "CAST(2.0 AS FLOAT)))")
    assert(ne.collect().head.isNullAt(0))
  }

  test("ivfTopK probes only the query's cell with exact cosine inside (E2)") {
    // two clear clusters around (1,0) and (0,1)
    val corpus = vecDf(
      1L -> Seq(0.9f, 0.1f), 2L -> Seq(0.95f, 0.05f), 3L -> Seq(0.85f, 0.2f),
      4L -> Seq(0.1f, 0.9f), 5L -> Seq(0.05f, 0.95f))
    val centroids = Seq(Seq(1f, 0f), Seq(0f, 1f))
    val out = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      query = Seq(0.92f, 0.08f), k = 10, centroids = centroids)
      .as[(Long, Double)].collect()
    assert(out.map(_._1).toSet === Set(1L, 2L, 3L)) // cluster-1 members only
    assert(out.map(_._2).toSeq === out.map(_._2).sorted.reverse.toSeq)
  }

  test("cosineNearDupPairs: LSH pairs agree with brute-force cosine (E1)") {
    // 12 spread-out base vectors plus two EXACT twins (identical
    // vectors always share every hyperplane side, so the bucket join
    // must surface them); every reported pair's cosine must equal the
    // brute-force pairwise cosine bit-for-bit (same dot fold).
    val base = (1L to 12L).map(i =>
      i -> Seq.tabulate(8)(j => math.sin(i * 13 + j * 5).toFloat))
    val corpus = vecDf((base ++ Seq(101L -> base(0)._2,
      102L -> base(1)._2)): _*)
    val pairs = Similarity.cosineNearDupPairs(corpus, "vec_id",
        "embedding", nPlanes = 6, dim = 8, minCosine = 0.999)
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 101L))
    assert(pairs.exists(p => p._1 == 2L && p._2 == 102L))
    val brute = corpus.select(col("vec_id").as("ida"),
        col("embedding").as("ea"))
      .crossJoin(corpus.select(col("vec_id").as("idb"),
        col("embedding").as("eb")))
      .where(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        Similarity.cosine(col("ea"), col("eb")).as("c"))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, c) =>
      assert(a < b, s"pair order ($a, $b)")
      assert(c > 0.999, s"cosine $c below threshold")
      assert(brute((a, b)) == c, s"LSH cosine $c != brute ${brute((a, b))}")
    }
    // no FALSE pairs: everything the bucket join surfaced above the
    // threshold must be a genuine near-dup under brute force too
    val bruteHigh = brute.filter(_._2 > 0.999).keySet
    assert(pairs.map(p => (p._1, p._2)).toSet.subsetOf(bruteHigh))
  }

  test("Sketches: shard-merged count-min equals the whole-corpus sketch " +
    "and never underestimates") {
    val rows = Seq.tabulate(200)(i => (s"k${i % 17}", i.toLong % 3 + 1))
      .toDF("k", "w")
    val whole = Sketches.countMinCells(rows, col("k"), col("w"))
    val shards = Seq(rows.where(col("w") === 1), rows.where(col("w") =!= 1))
      .map(sh => Sketches.countMinCells(sh, col("k"), col("w")))
    val merged = Sketches.countMinMerge(shards)
    assert(merged.collect().map(_.toSeq).toSet ==
      whole.collect().map(_.toSeq).toSet)
    val truth = rows.groupBy("k").agg(sum(col("w")).as("true_w"))
    val est = Sketches.countMinLookup(whole, truth, col("k"))
      .select("true_w", "est_cnt").as[(Long, Long)].collect()
    assert(est.nonEmpty)
    est.foreach { case (t, e) => assert(e >= t) }
    // a key the sketch never saw still answers (0 or collision mass),
    // and an empty sketch answers 0 — absent cells are zero, not drops
    val ghost = Seq("never-seen-key-xyz").toDF("k")
    val g = Sketches.countMinLookup(whole, ghost, col("k"))
      .select("est_cnt").as[Long].collect()
    assert(g.length == 1 && g.head >= 0L)
    val empty = Sketches.countMinCells(rows.where(lit(false)),
      col("k"), col("w"))
    val z = Sketches.countMinLookup(empty, ghost, col("k"))
      .select("est_cnt").as[Long].collect()
    assert(z.toSeq == Seq(0L))
  }

  test("Skyline: frontier points are exactly the undominated value set") {
    val pts = Seq((1L, 5L), (1L, 5L), (2L, 7L), (3L, 6L), (3L, 9L),
      (4L, 9L), (5L, 1L)).toDF("x", "y")
    val out = Skyline.skyline2d(pts, "x", "y")
      .as[(Long, Long, Long)].collect().toSet
    // (1,5)x2 kept (nothing left of it), (2,7) beats, (3,9) beats;
    // (3,6) loses to (3,9); (4,9) loses to (3,9); (5,1) dominated
    assert(out == Set((1L, 5L, 2L), (2L, 7L, 1L), (3L, 9L, 1L)))
  }

  test("nearDupRemove drops verified near-duplicates, keeps lowest id (E1)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight again"),
      (2L, "the quick brown fox jumps over the lazy dog tonight indeed"),
      (3L, "completely different text about distributed query engines"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.wordShingles(col("text")).as("sh"))
    val out = Dedup.nearDupRemove(docs, "doc_id", "sh", k = 8, bands = 4,
      minJaccard = 0.3).select("doc_id").as[Long].collect().toSet
    assert(out === Set(1L, 3L)) // 2 is a near-dup of 1 → dropped
  }

  test("exact dedup counts copies and keeps min id (E1)") {
    val docs = Seq((1L, "aa"), (2L, "bb"), (3L, "aa")).toDF("doc_id", "text")
    val out = Dedup.exact(docs, col("text"), col("doc_id"))
      .orderBy("dedup_key").collect()
    assert(out.toSeq === Seq(Row("aa", 1L, 2L), Row("bb", 2L, 1L)))
  }

  test("minhash signatures are order-independent and identity-stable (E1)") {
    val a = Seq((1L, Seq("x y", "y z", "z w"))).toDF("id", "sh")
    val b = Seq((1L, Seq("z w", "x y", "y z"))).toDF("id", "sh")
    def sigs(df: org.apache.spark.sql.DataFrame) =
      df.select(Dedup.minhashSignatures(col("sh"), 4): _*).head()
    assert(sigs(a) === sigs(b))
  }

  test("minhashCandidatePairs finds near-identical docs via band join (E1)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different words about spark query engines"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.wordShingles(col("text")).as("sh"))
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "sh", 8, 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("minhashCandidatePairsBetween: delta-only work, consistent with " +
    "the symmetric join (E1 incremental)") {
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different words about spark query engines"),
      (4L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.wordShingles(col("text")).as("sh"))
    val delta = docs.where(col("doc_id") % 10 === 0) // doc 10
    val corpus = docs.where(col("doc_id") % 10 =!= 0) // docs 2, 3, 4
    val inc = Dedup.minhashCandidatePairsBetween(delta, corpus,
      "doc_id", "sh", 8, 4).as[(Long, Long)].collect().toSet
    // the new doc's near-dups in the corpus are found...
    assert(inc.contains((10L, 2L)) && inc.contains((10L, 4L)))
    // ...every emitted pair is delta × corpus (no corpus-internal work)
    assert(inc.forall { case (n, c) => n == 10L && c != 10L })
    // ...and the pair set equals the symmetric join's cross pairs
    val full = Dedup.minhashCandidatePairs(docs, "doc_id", "sh", 8, 4)
      .as[(Long, Long)].collect().toSet
    val expected = full.collect {
      case (a, b) if a == 10L || b == 10L =>
        if (a == 10L) (a, b) else (b, a)
    }
    assert(inc === expected)
  }

  test("simhash: identical texts collide; hamming self-distance 0 (E1)") {
    val df = Seq((1L, "spark scans parquet fast"),
      (2L, "spark scans parquet fast"),
      (3L, "entirely other content here"))
      .toDF("id", "text")
      .select(col("id"), Dedup.simhash(TextAnalysis.tokens(col("text"))).as("h"))
    val hs = df.as[(Long, Long)].collect().toMap
    assert(hs(1L) === hs(2L))
    def dist(a: Long, b: Long): Int =
      df.select(Dedup.hammingDistance(lit(a), lit(b))).as[Int].head()
    assert(dist(hs(1L), hs(1L)) == 0)
    assert(dist(hs(1L), hs(2L)) == 0)
    assert(dist(hs(1L), hs(3L)) > 0)
  }

  test("native simhash_fold is bit-identical to the HOF fold form (E1)") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq((1L, "spark scans parquet fast and wide"),
      (2L, "a totally different document body"),
      (3L, "spark scans parquet fast and wide but longer now"),
      (4L, "x"))
      .toDF("id", "text")
      .select(col("id"),
        Dedup.tokenHashes60(TextAnalysis.tokens(col("text"))).as("th"))
    val both = df.select(
      Dedup.simhash60OfHashes(col("th")).as("hof"),
      call_function("simhash_fold", col("th"), lit(60)).as("native"))
      .as[(Long, Long)].collect()
    both.foreach { case (h, n) => assert(h === n) }
    // 60-bit range: positive, above 32-bit for real token sets
    both.take(3).foreach { case (h, _) => assert(h > 0L) }
    // 32-bit width too (the e1_simhash judged path): same votes, same
    // sign rule over the 32-bit token hashes
    val both32 = df
      .select(Dedup.tokenHashes(
        TextAnalysis.tokens(lit("spark scans parquet fast and wide"))
      ).as("th32"))
      .unionAll(df.select(Dedup.tokenHashes(
        TextAnalysis.tokens(lit("a totally different document body"))
      ).as("th32")))
      .select(Dedup.simhashOfHashes(col("th32")).as("hof"),
        call_function("simhash_fold", col("th32"), lit(32)).as("native"))
      .as[(Long, Long)].collect()
    both32.foreach { case (h, n) => assert(h === n) }
  }

  test("ngram jaccard: identical docs = 1.0; disjoint docs absent (E1)") {
    val docs = Seq((1L, "abcdef"), (2L, "abcdef"), (3L, "xyzuvw"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.charShingles(col("text"), 3).as("sh"))
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "sh")
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("text analysis: tokens, ratios, language id, fingerprint (E4)") {
    val df = Seq("The, fast fox!").toDF("text")
    assert(df.select(TextAnalysis.tokens(col("text"))).as[Seq[String]].head()
      === Seq("the", "fast", "fox"))
    assert(df.select(TextAnalysis.bpeTokens(col("text"))).as[Seq[String]].head()
      === Seq("the", ",", "fast", "fox", "!"))
    val en = Seq("the cat and the hat of things").toDF("text")
      .select(TextAnalysis.detectLang(col("text"))).as[String].head()
    assert(en === "en")
    val de = Seq("der hund und die katze nicht").toDF("text")
      .select(TextAnalysis.detectLang(col("text"))).as[String].head()
    assert(de === "de")
    val und = Seq("zzz qqq").toDF("text")
      .select(TextAnalysis.detectLang(col("text"))).as[String].head()
    assert(und === "und")
    // fingerprint is whitespace/punctuation-blind
    val fps = Seq("Hello, World!", "hello world", "hello  world.")
      .toDF("text").select(TextAnalysis.fingerprint(col("text")))
      .as[String].collect()
    assert(fps.distinct.length === 1)
  }

  test("charShingles guards short texts (no descending sequence)") {
    val out = Seq("ab").toDF("text")
      .select(TextAnalysis.charShingles(col("text"), 3)).as[Seq[String]].head()
    assert(out === Seq.empty)
  }

  test("multimodal real-PNG pipeline: per-partition imageio decode (§2.6)") {
    val docs = Seq((1L, "hello world", "en", "s", 11L),
      (2L, "spark engine", "en", "s", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fixture = Multimodal.fixtureFromDocuments(docs)
    val feats = Multimodal.extractFeatures(
      Multimodal.toMediaDataset(fixture), resizeStride = 4)
      .collect().sortBy(_.doc_id)
    assert(feats.length === 2)
    // widths: (11%64)+1 = 12 and (12%64)+1 = 13; height 4
    assert(feats.map(f => f.doc_id -> f.n_bytes).toSeq ===
      Seq(1L -> 48, 2L -> 52))
    assert(feats.map(f => f.doc_id -> f.thumb.length).toSeq ===
      Seq(1L -> 12, 2L -> 13))
    // mean over REAL decoded pixels == mean over the md5 cycle the
    // fixture painted (PNG losslessness, checked end to end)
    val dig = Recount.md5Bytes("hello world")
    val expMean = (0 until 48).map(i => dig(i % 16) & 0xff).sum / 48.0
    assert(feats(0).mean_byte === expMean)
    // frame sampling: 16 samples / 4-byte frames, every 2nd → 0 and 2
    val frames = Multimodal.SignalOps.frameSample(
      Array.tabulate(16)(_.toByte), frameSize = 4, everyK = 2)
    assert(frames.length === 2)
    assert(frames(0).toSeq === Seq[Byte](0, 1, 2, 3))
    assert(frames(1).toSeq === Seq[Byte](8, 9, 10, 11))
    // the fixture frame matches the declared media schema
    assert(fixture.schema.fieldNames.toSeq ===
      Multimodal.mediaSchema.fieldNames.toSeq)
    // deterministic: same input, same features
    val again = Multimodal.extractFeatures(
      Multimodal.toMediaDataset(fixture), resizeStride = 4)
      .collect().sortBy(_.doc_id)
    assert(again.map(_.mean_byte).toSeq === feats.map(_.mean_byte).toSeq)
  }

  test("ImageCodec: PNG encode→decode round-trips the gray raster exactly") {
    import graft.operators.Multimodal.ImageCodec
    val (w, h) = (5, 4)
    val px = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    val png = ImageCodec.encodeGrayPng(px, w, h)
    // a real container, not a byte passthrough: PNG magic + bigger
    assert(png.take(4).toSeq === Seq[Byte](0x89.toByte, 'P', 'N', 'G'))
    val (dw, dh, back) = ImageCodec.decodeGrayPng(png)
    assert((dw, dh) === (w, h))
    assert(back.toSeq === px.toSeq)
  }

  test("ImageCodec: Graphics2D nearest-neighbor 2x up-then-down is identity") {
    import graft.operators.Multimodal.ImageCodec
    val (w, h) = (6, 4)
    val px = Array.tabulate(w * h)(i => ((i * 53 + 7) % 256).toByte)
    val up = ImageCodec.resizeGrayNearest(px, w, h, 2 * w, 2 * h)
    assert(up.length === 4 * w * h)
    val down = ImageCodec.resizeGrayNearest(up, 2 * w, 2 * h, w, h)
    assert(down.toSeq === px.toSeq)
  }

  test("cluster-granularity split assigns exactly one split per cluster") {
    // 100 clusters of 3 consecutive doc ids: hashing the CLUSTER label
    // must put all members on one side of the eval fence, while the
    // per-doc hash provably straddles some multi-doc clusters (the
    // leakage e85_cluster_split exists to audit)
    val docs = (1L to 300L).map(i => (i, i / 3)).toDF("doc_id", "cluster")
    val assigned = docs.select(col("cluster"),
      Corpus.splitName(Corpus.hashBucket(col("doc_id"))).as("doc_split"),
      Corpus.splitName(Corpus.hashBucket(col("cluster"))).as("cluster_split"))
    val perCluster = assigned.groupBy("cluster")
      .agg(countDistinct(col("cluster_split")).as("n"))
    assert(perCluster.where(col("n") > 1).count() === 0L)
    val perDocStraddle = assigned.groupBy("cluster")
      .agg(countDistinct(col("doc_split")).as("n"))
      .where(col("n") > 1).count()
    assert(perDocStraddle > 0L)
  }

  test("semDedup agrees with a brute-force reference on a twin fixture " +
    "(E1)") {
    // 10 spread-out base vectors plus near-identical twins of the
    // first two (tiny perturbation keeps cosine ≈ 1 and the pair
    // inside one cluster) — the brute-force reference recomputes
    // cells, centroid scores and pair cosines with the operator's
    // exact arithmetic (plain-double left fold for scores, fixed-point
    // longs for pair dots) and replays the prune rule independently.
    val cents = Similarity.syntheticCentroids(2, 8)
    val base = (1L to 10L).map(i =>
      i -> Seq.tabulate(8)(j => math.sin(i * 17 + j * 3).toFloat))
    val twin = (id: Long, src: Int) => id -> base(src)._2.zipWithIndex
      .map { case (v, j) => if (j == 0) v + 1e-4f else v }
    val rows = base ++ Seq(twin(101L, 0), twin(102L, 1))
    val out = Dedup.semDedup(vecDf(rows: _*), "vec_id", "embedding",
        cents, 0.95)
      .select("vec_id", "cell", "cscore", "keep")
      .as[(Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.size === rows.size)
    // reference: same arithmetic, independent (driver-side) plumbing
    // cell = argmax (score, j) lexicographic — ties to the higher j,
    // the greatest-struct total order ivfCell realizes
    def cellOf(v: Seq[Float]) = cents.zipWithIndex
      .map { case (c, j) => (cosine(v, c), j) }.max._2.toLong
    val cells = rows.map { case (id, v) => id -> cellOf(v) }.toMap
    val cscores = rows.map { case (id, v) =>
      id -> cents.map(c => cosine(v, c)).max }.toMap
    val losers = (for {
      (ia, va) <- rows; (ib, vb) <- rows
      if ia < ib && cells(ia) == cells(ib) && cosFixed(va, vb) > 0.95
    } yield if (cscores(ia) > cscores(ib)) ia
      else if (cscores(ia) < cscores(ib)) ib
      else math.max(ia, ib)).toSet
    // the planted twins must actually exercise the prune path
    assert(losers.nonEmpty, "fixture produced no near-dup pairs")
    rows.foreach { case (id, _) =>
      val (_, cell, cscore, keep) = out(id)
      assert(cell === cells(id), s"cell mismatch for $id")
      assert(math.abs(cscore - cscores(id)) < 5e-9,
        s"cscore mismatch for $id: $cscore vs ${cscores(id)}")
      assert(keep === !losers(id), s"keep mismatch for $id")
    }
    // survivors re-deduped are all kept (idempotence on the kept set)
    val keptIds = out.values.filter(_._4).map(_._1).toSet
    val again = Dedup.semDedup(
        vecDf(rows.filter(r => keptIds(r._1)): _*),
        "vec_id", "embedding", cents, 0.95)
      .where(!col("keep")).count()
    assert(again === 0L, "semDedup not idempotent on its survivor set")
    // the native-kernel form (the judged e174 configuration: vec_dot
    // pair stage, hoisted self-norms) decides the same survivor set
    graft.functions.GraftFunctions.register(spark)
    val vd = (a: org.apache.spark.sql.Column,
              b: org.apache.spark.sql.Column) =>
      call_function("vec_dot", a, b)
    val nativeKept = Dedup.semDedup(vecDf(rows: _*), "vec_id",
        "embedding", cents, 0.95,
        selfDot = v => vd(v, v),
        pairCosine = (a, b, na, nb) => vd(a, b) / (sqrt(na) * sqrt(nb)))
      .where(col("keep")).select("vec_id").as[Long].collect().toSet
    assert(nativeKept === keptIds,
      "native-kernel semDedup disagrees with the default fold form")
  }

  test("semDedupDelta admits exactly the delta docs with no corpus " +
    "near-dup in their cell (E1)") {
    val cents = Similarity.syntheticCentroids(2, 8)
    val corpus = (1L to 10L).map(i =>
      i -> Seq.tabulate(8)(j => math.sin(i * 17 + j * 3).toFloat))
    // delta: near-twins of corpus docs 1 and 2, plus one fresh vector
    val delta = Seq(
      101L -> corpus(0)._2.updated(0, corpus(0)._2.head + 1e-4f),
      102L -> corpus(1)._2.updated(0, corpus(1)._2.head + 1e-4f),
      103L -> Seq.tabulate(8)(j => math.cos(j * 7 + 1).toFloat))
    val out = Dedup.semDedupDelta(vecDf(delta: _*), vecDf(corpus: _*),
        "vec_id", "embedding", cents, 0.95)
      .select("vec_id", "cell", "n_matches", "admitted")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out.size === delta.size,
      "one decision row per delta doc, corpus rows never emitted")
    // brute reference with the operator's default arithmetic
    def cellOf(v: Seq[Float]) = cents.zipWithIndex
      .map { case (c, j) => (cosine(v, c), j) }.max._2.toLong
    delta.foreach { case (id, v) =>
      val (cell, n, admitted) = out(id)
      assert(cell === cellOf(v), s"cell mismatch for $id")
      val expect = corpus.count { case (_, cv) =>
        cellOf(cv) == cell && cosFixed(v, cv) > 0.95 }
      assert(n === expect.toLong, s"n_matches mismatch for $id")
      assert(admitted === (expect == 0), s"admitted mismatch for $id")
    }
    // the twins must be rejected, the fresh vector admitted
    assert(!out(101L)._3 && !out(102L)._3 && out(103L)._3)
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{Dedup, Similarity}
import graft.streaming.StatefulOps

/** Round-18 wave — sibling-checked against the 376-query surface:
  *
  *  - `e174_semdedup` — SemDeDup semantic dedup (Abbas et al. 2023,
  *    arXiv:2303.09540), the embedding-CLUSTER-then-prune family that
  *    complements MinHash (lexical), SimHash (bit-vote) and cosine-LSH
  *    (bucketed pairs): every vector joins its nearest IVF centroid's
  *    cluster ([[Similarity.ivfCell]] — the e2_ivf index layout, plan-
  *    literal centroids), pair comparison is STRICTLY cluster-local
  *    (equi-join on the cell key, no cross-cluster pairs, never
  *    all-pairs), and of a near-dup pair the member CLOSER to its
  *    centroid is pruned — the paper keeps cluster-edge members to
  *    preserve diversity. Pair cosines ride the native codegen
  *    `vec_dot` with hoisted self-norms (one kernel call per pair, the
  *    e60/e1_embed_neardup discipline); both they and the centroid
  *    scores are the plain left-to-right double fold the oracle's
  *    list_reduce reproduces bit-for-bit. At 100 TB the
  *    centroid count scales with the corpus (the paper runs k ≈ 50k)
  *    so clusters stay O(1) and the corpus partitions by cell.
  *  - `c45_stream_cuped` — e170's CUPED panel through the REAL
  *    micro-batch engine (the c42/c43 twin discipline, judged on
  *    e170's batch oracle verbatim): each event ships BOTH per-user
  *    metric legs — `<user>|x` (post-midpoint purchase) and `<user>|c`
  *    (pre-midpoint view), w=0 rows included so every observed user
  *    reaches the state store in both legs — as monotone KeySum state
  *    over a two-chunk feed; the counter image collapses by
  *    max(total), pivots back to per-user (x, c), and feeds the SAME
  *    [[Surface27Queries.cupedPanel]] closed-form moment algebra. The
  *    experiment-window midpoint is batch-derived while BUILDING the
  *    staged feed (in production the pre/post boundary is experiment
  *    config, not stream-derived).
  *  - `e175_fdr` — Benjamini–Hochberg step-up FDR correction over the
  *    per-event-type Welch-z guardrail panel (see the query comment).
  *  - `e176_semdedup_delta` — e174's ingest-admission (delta-vs-corpus)
  *    form, the minhash-incremental discipline in embedding space.
  *  - `c46_stream_admission` — e176 through the real micro-batch
  *    engine (stream-static admission; see the query comment).
  *
  *  The r17 verdict's bloom-pruned-join item turned out to be ALREADY
  *  covered — the sibling check found `q92_runtime_filter` proving the
  *  optimizer-injected `might_contain` path and `q106_bloom_semi` the
  *  cross-job driver-built form — so this wave adds the PlanAuditSpec
  *  gate on q92's plan instead of a third sibling query.
  */
object Surface28Queries extends QuerySet {
  import Tables._

  /** SemDeDup near-dup threshold: at the synthetic corpus's cosine
    * distribution (~99th pct ≈ 0.29) τ=0.3 prunes a real but sparse
    * near-dup set.
    */
  private val semThreshold = 0.3

  /** e175: the metric panel (the five event types) and the BH step-up
    * thresholds Φ⁻¹(1 − α·i/2m) for α = 0.05, m = 5, i = 1..5 —
    * standard-normal quantiles as shared double literals (the e163
    * idiom: the same text parses in both engines, no engine-local
    * inverse CDF ever runs).
    */
  private val fdrTypes = Seq("click", "error", "purchase", "signup", "view")
  private val fdrZcrit = Seq(
    "2.5758293035489", "2.3263478740408408", "2.17009037758456",
    "2.053748910631822", "1.9599639845400536")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Pair stage through the native codegen vec_dot (the e1_embed_neardup
    // discipline: the left-to-right double fold is bit-agreed with the
    // oracle's list_reduce, and the kernel skips the per-pair zipped-array
    // allocation the HOF fold pays — the x10 study measured the default
    // fixed-point HOF pair stage at 519 s vs 22 s native)
    "e174_semdedup" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val vd = (a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column) =>
        call_function("vec_dot", a, b)
      Dedup.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        Similarity.syntheticCentroids(SimilarityQueries.ivfN, 64),
        semThreshold,
        selfDot = v => vd(v, v),
        pairCosine = (a, b, na, nb) => vd(a, b) / (sqrt(na) * sqrt(nb)))
    }),

    // Benjamini–Hochberg step-up over the per-event-type Welch-z
    // panel: the multiple-testing correction an experimentation
    // platform applies when one experiment reads m guardrail metrics
    // at once (testing each at α alone inflates false positives m×).
    // Metrics = per-user event counts per type over the FULL user
    // census (absent users count 0, so every metric shares one n);
    // exact integer moments → closed-form Welch z (NULL-gated on
    // se > 0, the e158 0/0 discipline); the BH thresholds Φ⁻¹(1−αi/2m)
    // are driver-computed shared double literals (the e163 idiom — no
    // engine-local inverse CDF); the step-up rank runs over the m=5
    // metric rows (domain-bounded window) and k* is a broadcast 1-row
    // scalar. At 100 TB the panel is still m rows — only the per-user
    // census pass sees the data.
    "e175_fdr" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"))
      val census = ev.select("user_id").distinct()
        .select(col("user_id"),
          explode(array(fdrTypes.map(lit): _*)).as("event_type"))
      val counts = ev.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("x"))
      val perUser = census
        .join(counts, Seq("user_id", "event_type"), "left")
        .select(col("event_type"), (col("user_id") % 2).as("grp"),
          coalesce(col("x"), lit(0L)).as("x"))
      val g = perUser.groupBy("event_type", "grp")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
      def side(p: String, grp: Int) = Seq("n", "sx", "sxx").map(c =>
        max(when(col("grp") === grp, col(c))).as(s"${c}_$p"))
      val aggs = side("c", 0) ++ side("t", 1)
      val piv = g.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
      def dd(c: org.apache.spark.sql.Column) = c.cast("double")
      def variance(p: String) =
        (dd(col(s"n_$p")) * col(s"sxx_$p") -
          dd(col(s"sx_$p")) * col(s"sx_$p")) /
          (dd(col(s"n_$p")) * (dd(col(s"n_$p")) - lit(1.0)))
      val se = sqrt(variance("c") / col("n_c") + variance("t") / col("n_t"))
      val diff = dd(col("sx_t")) / col("n_t") - dd(col("sx_c")) / col("n_c")
      val scored = piv.select(col("event_type"), col("n_c"), col("n_t"),
        when(se > 0, diff / se).as("__z"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(abs(col("__z")).desc_nulls_last, col("event_type"))
      // cast each quantile literal to double (Spark parses a bare
      // decimal literal as DECIMAL; the oracle's list is DOUBLE)
      val zArr = array(fdrZcrit.map(z => expr(z).cast("double")): _*)
      val ranked = scored
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("zcrit", element_at(zArr, col("rk").cast("int")))
        .withColumn("hit",
          col("__z").isNotNull && abs(col("__z")) >= col("zcrit"))
      val kstar = broadcast(ranked.agg(
        coalesce(max(when(col("hit"), col("rk"))), lit(0L)).as("k_star")))
      ranked.crossJoin(kstar)
        .select(col("event_type"), col("n_c"), col("n_t"),
          round(col("__z"), 8).as("z"), col("rk"), col("zcrit"),
          col("hit"), col("k_star"),
          (col("rk") <= col("k_star")).as("rejected"))
    }),

    // Incremental SemDeDup — e174's ingest-admission form (the
    // minhashCandidatePairsBetween discipline in embedding space):
    // delta docs (vec_id % 4 = 0) checked against the existing corpus
    // only, LEFT equi-join on the IVF cell key, rejected iff any
    // cluster-mate corpus doc exceeds the cosine threshold. Native
    // vec_dot pair stage, hoisted self-norms.
    "e176_semdedup_delta" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val vd = (a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column) =>
        call_function("vec_dot", a, b)
      val all = t(s, dir, "embeddings")
      Dedup.semDedupDelta(
        all.where(col("vec_id") % 4 === 0),
        all.where(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding",
        Similarity.syntheticCentroids(SimilarityQueries.ivfN, 64),
        semThreshold,
        selfDot = v => vd(v, v),
        pairCosine = (a, b, na, nb) => vd(a, b) / (sqrt(na) * sqrt(nb)))
    }),

    // e176's streaming twin — the production INGEST-ADMISSION pipeline:
    // new documents arrive as a stream and each micro-batch is admitted
    // against the STATIC corpus index (stream-static, the c14 join
    // class; admission is per-doc so no state store is needed and the
    // two-chunk split is semantically invisible). Judged on e176's
    // batch oracle verbatim; the append image collapses by distinct()
    // over the exact-typed decision columns, so an at-least-once retry
    // can never change the answer (idempotent admission).
    "c46_stream_admission" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val vd = (a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column) =>
        call_function("vec_dot", a, b)
      val all = t(s, dir, "embeddings")
      val delta = all.where(col("vec_id") % 4 === 0)
        .select("vec_id", "embedding")
      val corpus = all.where(col("vec_id") % 4 =!= 0)
      val feed = Stage.durableChunkFeed("feed-c46", dir)(Seq(
        delta.where(col("vec_id") % 8 === 0),
        delta.where(col("vec_id") % 8 =!= 0)))
      val tmp = Stage.tempDir("graft-c46-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val schema = StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
      val cents = Similarity.syntheticCentroids(SimilarityQueries.ivfN, 64)
      Stage.drain(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed), ckpt, "update")(
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          Dedup.semDedupDelta(batch, corpus, "vec_id", "embedding",
              cents, semThreshold,
              selfDot = v => vd(v, v),
              pairCosine = (a, b, na, nb) =>
                vd(a, b) / (sqrt(na) * sqrt(nb)))
            .write.mode("append").parquet(out)
          ()
        })
      s.read.parquet(out).distinct()
    }),

    "c45_stream_cuped" -> ((s, dir) => {
      import s.implicits._
      val ev = events(s, dir).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tm"),
        col("event_id"))
      val mm = broadcast(ev.agg(min(col("tm")).as("lo"),
        max(col("tm")).as("hi")))
      def leg(metric: String, w: org.apache.spark.sql.Column) =
        ev.crossJoin(mm).select(col("event_id"),
          concat(col("user_id").cast("string"), lit(s"|$metric"))
            .as("key"),
          w.as("w"))
      val keyed = leg("x",
          when(col("event_type") === "purchase" &&
            lit(2L) * col("tm") >= col("lo") + col("hi"), 1L)
            .otherwise(0L))
        .unionByName(leg("c",
          when(col("event_type") === "view" &&
            lit(2L) * col("tm") < col("lo") + col("hi"), 1L)
            .otherwise(0L)))
      val feed = Stage.durableChunkFeed("feed-c45", dir)(Seq(
        keyed.where(col("event_id") % 2 === 0).select("key", "w"),
        keyed.where(col("event_id") % 2 =!= 0).select("key", "w")))
      val tmp = Stage.tempDir("graft-c45-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val schema = StructType(Seq(StructField("key", StringType),
        StructField("w", LongType)))
      Stage.drain(StatefulOps.keySumStream(
          s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(feed).as[StatefulOps.KeyWeight]), ckpt, "update")(
        Stage.appendTo(out))
      val perUser = s.read.parquet(out)
        .groupBy("key").agg(max(col("total")).as("t"))
        .select(split(col("key"), "\\|").getItem(0).cast("long")
          .as("user_id"),
          split(col("key"), "\\|").getItem(1).as("m"), col("t"))
        .groupBy("user_id")
        .agg(max(when(col("m") === "x", col("t"))).as("x"),
          max(when(col("m") === "c", col("t"))).as("c"))
        .select((col("user_id") % 2).as("grp"), col("x"), col("c"))
      Surface27Queries.cupedPanel(perUser)
    }))

  // ---- oracles ----

  private def semDedupSql: String = {
    import SimilarityQueries.{foldDot, ivfCellSql, ivfMaxScoreSql}
    s"""WITH a AS (SELECT vec_id,
           CAST(${ivfCellSql("embedding")} AS BIGINT) AS cell,
           ${ivfMaxScoreSql("embedding")} AS cscore,
           ${foldDot("embedding", "embedding")} AS nf,
           embedding
         FROM embeddings),
       p AS (SELECT x.vec_id AS ida, y.vec_id AS idb,
           x.cscore AS ca, y.cscore AS cb
         FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
         WHERE ${foldDot("x.embedding", "y.embedding")} /
           (sqrt(x.nf) * sqrt(y.nf)) > $semThreshold),
       losers AS (SELECT DISTINCT CASE WHEN ca > cb THEN ida
           WHEN ca < cb THEN idb ELSE greatest(ida, idb) END AS vec_id
         FROM p)
       SELECT a.vec_id, a.cell, round(a.cscore, 8) AS cscore,
         (l.vec_id IS NULL) AS keep
       FROM a LEFT JOIN losers l ON a.vec_id = l.vec_id"""
  }

  private def fdrSql: String = {
    val typeRows = fdrTypes.map(t => s"('$t')").mkString(", ")
    val zList = fdrZcrit.mkString("[", ", ", "]")
    def variance(p: String) =
      s"""((CAST(n_$p AS DOUBLE) * sxx_$p -
          CAST(sx_$p AS DOUBLE) * sx_$p) /
          (CAST(n_$p AS DOUBLE) * (CAST(n_$p AS DOUBLE) - 1.0)))"""
    val se = s"sqrt(${variance("c")} / n_c + ${variance("t")} / n_t)"
    val diff = "(CAST(sx_t AS DOUBLE) / n_t - CAST(sx_c AS DOUBLE) / n_c)"
    s"""WITH census AS (SELECT DISTINCT user_id FROM events),
       cu AS (SELECT user_id, t.event_type
         FROM census, (VALUES $typeRows) AS t(event_type)),
       cnt AS (SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS x
         FROM events GROUP BY 1, 2),
       pu AS (SELECT cu.event_type, cu.user_id % 2 AS grp,
           COALESCE(cnt.x, 0) AS x
         FROM cu LEFT JOIN cnt ON cu.user_id = cnt.user_id
           AND cu.event_type = cnt.event_type),
       g AS (SELECT event_type, grp, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(x * x) AS BIGINT) AS sxx
         FROM pu GROUP BY 1, 2),
       piv AS (SELECT event_type,
           max(CASE WHEN grp = 0 THEN n END) AS n_c,
           max(CASE WHEN grp = 0 THEN sx END) AS sx_c,
           max(CASE WHEN grp = 0 THEN sxx END) AS sxx_c,
           max(CASE WHEN grp = 1 THEN n END) AS n_t,
           max(CASE WHEN grp = 1 THEN sx END) AS sx_t,
           max(CASE WHEN grp = 1 THEN sxx END) AS sxx_t
         FROM g GROUP BY 1),
       zs AS (SELECT event_type, n_c, n_t,
           CASE WHEN $se > 0 THEN $diff / $se END AS z0
         FROM piv),
       rk AS (SELECT *, CAST(row_number() OVER
             (ORDER BY abs(z0) DESC NULLS LAST, event_type) AS BIGINT)
             AS rk
         FROM zs),
       wc AS (SELECT *, ($zList)[rk] AS zcrit,
           (z0 IS NOT NULL AND abs(z0) >= ($zList)[rk]) AS hit
         FROM rk),
       ks AS (SELECT COALESCE(max(CASE WHEN hit THEN rk END),
           CAST(0 AS BIGINT)) AS k_star FROM wc)
       SELECT event_type, n_c, n_t, round(z0, 8) AS z, rk, zcrit, hit,
         k_star, rk <= k_star AS rejected
       FROM wc, ks"""
  }

  private def semDedupDeltaSql: String = {
    import SimilarityQueries.{foldDot, ivfCellSql}
    s"""WITH a AS (SELECT vec_id,
           CAST(${ivfCellSql("embedding")} AS BIGINT) AS cell,
           ${foldDot("embedding", "embedding")} AS nf,
           embedding
         FROM embeddings),
       d AS (SELECT * FROM a WHERE vec_id % 4 = 0),
       c AS (SELECT * FROM a WHERE vec_id % 4 <> 0)
       SELECT d.vec_id, d.cell,
         CAST(SUM(CASE WHEN ${foldDot("d.embedding", "c.embedding")} /
             (sqrt(d.nf) * sqrt(c.nf)) > $semThreshold
           THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
         CAST(SUM(CASE WHEN ${foldDot("d.embedding", "c.embedding")} /
             (sqrt(d.nf) * sqrt(c.nf)) > $semThreshold
           THEN 1 ELSE 0 END) AS BIGINT) = 0 AS admitted
       FROM d LEFT JOIN c ON d.cell = c.cell
       GROUP BY 1, 2"""
  }

  val oracles: Map[String, String] = Map(
    "e174_semdedup" -> semDedupSql,
    "e175_fdr" -> fdrSql,
    "e176_semdedup_delta" -> semDedupDeltaSql,
    "c46_stream_admission" -> semDedupDeltaSql,
    "c45_stream_cuped" -> Surface27Queries.cupedOracle)
}

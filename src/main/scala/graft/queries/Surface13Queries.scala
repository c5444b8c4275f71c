package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.operators.{Corpus, Similarity}

/** Round-8 surface growth, third wave: OLAP reshaping (GROUPING SETS,
  * PIVOT), SemDeDup-style semantic pruning, blocked fuzzy entity
  * resolution, boilerplate segment removal with reassembly, a streaming
  * backpressure audit through the real micro-batch engine, and
  * delta-algebra join-view maintenance with deletes.
  *
  * House determinism rules (see [[Tables]]): exact decimal sums for
  * money, floor-quantized BIGINT fixed point for doubles the oracle
  * re-derives, every oracle-side integer SUM cast back to BIGINT
  * (DuckDB promotes to HUGEINT, which the driver hashes as float).
  */
object Surface13Queries extends QuerySet {
  import Tables._

  /** SemDeDup within-cluster cosine threshold. The synthetic corpus has
    * no planted near-identical embeddings (max pairwise cosine ≈ 0.51),
    * so the judged threshold sits where the candidate machinery is
    * actually exercised; production would run at ≈0.95+.
    */
  private val semTau = 0.4

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // GROUPING SETS — the multi-granularity rollup surface (q14 covers
    // CUBE; this is the explicit-sets form with grouping() flags, the
    // shape BI layers emit). One scan, one expand + hash-agg: Spark's
    // Expand multiplies rows by the number of sets BEFORE the exchange,
    // but partial aggregation runs below it, so the shuffle carries
    // |groups|·|sets| rows, not |rows|·|sets| — the same plan at 100 TB.
    // grouping() flags disambiguate data NULLs from rollup NULLs
    "q100_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_q100")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
             CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
             CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) * 100 AS BIGINT)
               AS sum_price_c
           FROM orders_q100
           GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                   (o_orderstatus), (o_orderpriority), ())""")
    }),

    // PIVOT — long→wide reshape with a FIXED value list (the only form
    // that scales: an unspecified list forces a distinct-scan first).
    // groupBy(prio).pivot(status, [O,F,P]) compiles to ONE hash
    // aggregation whose measures are condition-gated — no join, no
    // second scan; absent cells surface as NULL (sum over zero rows),
    // exactly what the CASE-gated oracle produces
    "q101_pivot" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)).as("n"),
          (dsumDec(col("o_totalprice"), 2) * 100).cast("long")
            .as("price_c"))
        .select(col("o_orderpriority"),
          col("O_n").as("n_o"), col("O_price_c").as("price_c_o"),
          col("F_n").as("n_f"), col("F_price_c").as("price_c_f"),
          col("P_n").as("n_p"), col("P_price_c").as("price_c_p"))
    }),

    // SemDeDup (semantic dedup, Abbas et al. 2023): cluster embeddings
    // (IVF cell = nearest centroid), then within each cluster drop the
    // member of every near-duplicate pair that sits CLOSER to the
    // centroid — keeping the peripheral member preserves diversity.
    // The rule is declarative (per-pair winner by (cscore, id) total
    // order), so the result is partitioning/retry independent — no
    // greedy sequential scan. Candidates come from a cell equi-join,
    // never corpus all-pairs; the within-cell quadratic is bounded by
    // cluster size (production picks k ∝ n/target-cluster-size; tiny k
    // here only because the judged corpus is tiny). At 100 TB: corpus
    // written partitioned by cell, pair stage shuffles only (cell) keys
    "e64_semdedup" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val cents = Similarity.syntheticCentroids(SimilarityQueries.ivfN, 64)
      // Cell, cohesion score, and the row's own norm are computed ONCE
      // and staged (localCheckpoint: both self-join sides read the
      // materialized frame instead of re-deriving 8 centroid folds per
      // side); per-pair work is then a single native vec_dot fold —
      // dot/(sqrt(na)·sqrt(nb)) is the same IEEE sequence as the
      // oracle's cosine, with the two norm folds hoisted to the row.
      // At 100 TB this staging is the corpus-written-by-cell layout.
      val dotFn = (x: Column, y: Column) => call_function("vec_dot", x, y)
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"),
        Similarity.ivfCell(col("embedding"), cents).cast("long").as("cell"),
        Similarity.ivfCellScore(col("embedding"), cents).as("cscore"),
        sqrt(dotFn(col("embedding"), col("embedding"))).as("nrm"))
        .localCheckpoint()
      val a = e.select(col("cell"), col("vec_id").as("id_a"),
        col("embedding").as("ea"), col("cscore").as("sa"),
        col("nrm").as("nra"))
      val b = e.select(col("cell"), col("vec_id").as("id_b"),
        col("embedding").as("eb"), col("cscore").as("sb"),
        col("nrm").as("nrb"))
      val removed = a.join(b, Seq("cell"))
        .where(col("id_a") < col("id_b"))
        .where(dotFn(col("ea"), col("eb")) / (col("nra") * col("nrb"))
          >= semTau)
        // exactly one of each pair is removed: the centroid-closer one,
        // ties to the higher id (id_b)
        .select(when(col("sa") > col("sb"), col("id_a"))
          .otherwise(col("id_b")).as("vec_id"))
        .distinct()
      e.join(removed.withColumn("rm", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("rm"), lit(false)).as("removed"))
    }),

    // Blocked fuzzy entity resolution: candidate pairs ONLY within a
    // blocking key, verified by edit distance — the classic ER shape.
    // The key must DISCRIMINATE: (nation × segment) alone is 125 fixed
    // blocks, so within-block pairs grow O(N²) with the corpus. Here
    // each name emits TWO name-prefix block keys (multi-pass blocking:
    // name minus its last 2 chars; name with chars 15-16 masked out),
    // so key cardinality grows O(N) and block size is bounded by the
    // masked-suffix alphabet (≤10² rows) at ANY corpus size — total
    // candidate work is linear, not quadratic. Recall: any pair within
    // ≤2 trailing-region substitutions shares a key; wider typos are
    // the documented blocking trade-off (production adds more passes /
    // phonetic keys, same plan shape). levenshtein is builtin codegen
    // — no UDF in the verify stage.
    "e65_entity_match" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_mktsegment"))
      val keyed = c.select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_mktsegment"),
        posexplode(array(
          substring(col("c_name"), 1, 16),
          concat(substring(col("c_name"), 1, 14),
            substring(col("c_name"), 17, 2)))).as(Seq("ci", "bkey")))
      val a = keyed.select(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"), col("ci"), col("bkey"),
        col("c_custkey").as("id_a"), col("c_name").as("name_a"))
      val b = keyed.select(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"), col("ci"), col("bkey"),
        col("c_custkey").as("id_b"), col("c_name").as("name_b"))
      a.join(b, Seq("nation", "segment", "ci", "bkey"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("nation"), col("segment"),
          col("name_a"), col("name_b"))
        .distinct()
        .where(levenshtein(col("name_a"), col("name_b")) <= 2)
        .select(col("id_a"), col("id_b"), col("nation"), col("segment"),
          levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
    }),

    // Boilerplate segment removal WITH reassembly (the C4-style cleanup
    // e61 only detects): split each doc into non-overlapping 8-token
    // segments, drop every segment that appears verbatim in ≥2 distinct
    // docs, and reassemble the survivors in order. Plan: one shuffle to
    // (doc, seg) — the segment-frequency side aggregates to a tiny
    // frame joined back (broadcast at scale); reassembly is a per-doc
    // sort_array over collected (seg_id, seg) structs, never a global
    // sort. Docs fully consumed by boilerplate keep a row with ''
    "e66_segment_dedup" -> ((s, dir) =>
      Corpus.segmentDedup(tBalanced(s, dir, "documents"),
        "doc_id", "text", segTokens = 8, minDocs = 2)),

    // Backpressure through the RUNTIME: maxFilesPerTrigger=1 caps each
    // micro-batch's input — THE ingestion-rate-control knob that keeps
    // batch duration (and state-store churn) bounded when a backlog has
    // accumulated at 100 TB/day. A 4-file feed under AvailableNow must
    // plan exactly 4 micro-batches (checkpoint offsets are the engine's
    // own authoritative batch log); the sunk rows must equal the batch
    // image — pacing changes WHEN rows flow, never WHAT flows
    "c27_stream_backpressure" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), floor(col("value") * 1000).cast("long")
          .as("value_m"))
      val tmp = Stage.tempDir("graft-c27-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val feed = Stage.durableChunkFeed("feed-c27", dir)(
        (0 until 4).map(k => ev.where(col("event_id") % 4 === k)))
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value_m", LongType)))
      Stage.drain(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed), ckpt)(
        _.format("parquet").option("path", out))
      val nBatches = new java.io.File(s"$ckpt/offsets").listFiles()
        .count(f => f.getName.forall(_.isDigit))
      s.read.parquet(out)
        .withColumn("n_batches", lit(nBatches.toLong))
        .withColumn("paced_ok", lit(nBatches == 4))
    }),

    // Delta-algebra JOIN-view maintenance with DELETES (the DBSP /
    // Materialize bilinearity rule): for V = γ(O ⋈ L), with signed
    // multiset deltas ΔO (inserts, +1) and ΔL (inserts +1, deletes −1),
    //   V_new = V_old ⊎ γ(ΔO⋈L_old ∪ O_old⋈ΔL ∪ ΔO⋈ΔL)
    // — every join term touches at most one full-history side, so
    // refresh cost is ∝ |Δ|·(join fan-out), never a history×history
    // join. Deltas here are deterministic key-partitions of the data
    // (new orders: o_orderkey≡0 mod 7, with their lineitems; deletes:
    // old lineitems with l_suppkey≡3 mod 11); the judged frame is the
    // INCREMENTALLY maintained view, the oracle recomputes the view
    // directly on the post-delta state — equality proves the algebra.
    // Signs ride the exact decimal sums, so retraction is exact
    "c28_delta_join_mv" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"),
        dec(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("rev"))
      val oOld = o.where(col("o_orderkey") % 7 =!= 0)
      val oDel = o.where(col("o_orderkey") % 7 === 0)
      val lOld = l.where(col("l_orderkey") % 7 =!= 0)
      val lIns = l.where(col("l_orderkey") % 7 === 0)
        .withColumn("sig", lit(1L))
      val lDel = lOld.where(col("l_suppkey") % 11 === 3)
        .withColumn("sig", lit(-1L))
      val lDelta = lIns.unionByName(lDel)
      // the stored MV image: (status, rev_dec, sig=n) partial state
      val vOld = oOld.join(lOld, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("rev")).as("rev_dec"), count(lit(1)).as("sig"))
      def term(of: DataFrame, lf: DataFrame): DataFrame =
        of.join(lf, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderstatus"),
            (col("sig") * col("rev")).as("rev_dec"), col("sig"))
      val delta = term(oDel, lOld.withColumn("sig", lit(1L)))
        .unionByName(term(oOld, lDelta))
        .unionByName(term(oDel, lDelta))
      vOld.unionByName(delta)
        .groupBy(col("o_orderstatus"))
        .agg((sum(col("rev_dec")) * 10000).cast("long").as("revenue_c"),
          sum(col("sig")).as("n_pairs"))
        // garbage-collect groups whose multiplicity hit zero: a direct
        // recompute has no row for them (no surviving join pairs)
        .where(col("n_pairs") =!= 0)
    }))

  private def cosSql(a: String, b: String) = {
    val fd = SimilarityQueries.foldDot _
    s"""${fd(a, b)} / (sqrt(${fd(a, a)}) * sqrt(${fd(b, b)}))"""
  }

  val oracles: Map[String, String] = Map(
    "q100_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
           CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) * 100 AS BIGINT)
             AS sum_price_c
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                 (o_orderstatus), (o_orderpriority), ())""",
    "q101_pivot" ->
      """SELECT o_orderpriority,
           CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,2)))
             FILTER (o_orderstatus = 'O') * 100 AS BIGINT) AS price_c_o,
           CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,2)))
             FILTER (o_orderstatus = 'F') * 100 AS BIGINT) AS price_c_f,
           CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,2)))
             FILTER (o_orderstatus = 'P') * 100 AS BIGINT) AS price_c_p
         FROM orders GROUP BY o_orderpriority""",
    "e64_semdedup" -> {
      val cell = SimilarityQueries.ivfCellSql("embedding")
      val score = SimilarityQueries.ivfMaxScoreSql("embedding")
      s"""WITH e AS (SELECT vec_id, embedding, $cell AS cell,
              $score AS cscore FROM embeddings),
          p AS (SELECT CASE WHEN a.cscore > b.cscore THEN a.vec_id
                            ELSE b.vec_id END AS rid
                FROM e a JOIN e b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE ${cosSql("a.embedding", "b.embedding")} >= $semTau),
          r AS (SELECT DISTINCT rid FROM p)
          SELECT e.vec_id, CAST(e.cell AS BIGINT) AS cell,
                 (r.rid IS NOT NULL) AS removed
          FROM e LEFT JOIN r ON e.vec_id = r.rid"""
    },
    "e65_entity_match" ->
      """WITH k AS (
           SELECT c_custkey, c_name, c_nationkey, c_mktsegment, ci,
                  CASE ci WHEN 0 THEN substr(c_name, 1, 16)
                          ELSE substr(c_name, 1, 14) || substr(c_name, 17, 2)
                  END AS bkey
           FROM customer, (VALUES (0), (1)) t(ci)),
         cand AS (
           SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b,
                  a.c_nationkey AS nation, a.c_mktsegment AS segment,
                  a.c_name AS name_a, b.c_name AS name_b
           FROM k a JOIN k b
             ON a.c_nationkey = b.c_nationkey
            AND a.c_mktsegment = b.c_mktsegment
            AND a.ci = b.ci AND a.bkey = b.bkey
            AND a.c_custkey < b.c_custkey)
         SELECT id_a, id_b, nation, segment,
                CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
         FROM cand WHERE levenshtein(name_a, name_b) <= 2""",
    "e66_segment_dedup" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                  generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
           FROM documents),
         segs AS (
           SELECT doc_id, pos // 8 AS seg_id,
                  string_agg(tok, ' ' ORDER BY pos) AS seg
           FROM toks GROUP BY doc_id, pos // 8),
         dup AS (SELECT seg FROM segs
                 GROUP BY seg HAVING count(DISTINCT doc_id) >= 2),
         mk AS (SELECT s.doc_id, s.seg_id, s.seg,
                       d.seg IS NOT NULL AS is_dup
                FROM segs s LEFT JOIN dup d USING (seg))
         SELECT doc_id,
           coalesce(string_agg(seg, ' ' ORDER BY seg_id)
             FILTER (NOT is_dup), '') AS clean_text,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(count(*) FILTER (is_dup) AS BIGINT) AS n_removed
         FROM mk GROUP BY doc_id""",
    "c27_stream_backpressure" ->
      """SELECT event_id, user_id, event_type,
           CAST(floor(value * 1000) AS BIGINT) AS value_m,
           CAST(4 AS BIGINT) AS n_batches, TRUE AS paced_ok
         FROM events""",
    "c28_delta_join_mv" ->
      """SELECT o_orderstatus,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(38,4))) * 10000 AS BIGINT) AS revenue_c,
           CAST(count(*) AS BIGINT) AS n_pairs
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE (l_orderkey % 7 = 0) OR (l_suppkey % 11 <> 3)
         GROUP BY o_orderstatus""")
}

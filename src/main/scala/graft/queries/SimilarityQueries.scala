package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Judged queries for similarity search (north star §2.6 E2) over
  * `embeddings` (64-dim float vectors).
  *
  * `e2_topk` carries a full value oracle via [[Similarity.cosineExact]]
  * (decimal-quantized, engine-portable arithmetic). `e2_topk_double` is
  * the production double-arithmetic operator — same top-k structure,
  * declared without SQL oracle since cross-engine float summation order
  * differs. `e2_lsh_topk` is the bucketed ANN scale path.
  */
object SimilarityQueries extends QuerySet {
  import Tables._

  /** IVF centroid count (small on purpose: the oracle SQL embeds
    * ivfN × 64 literal doubles).
    */
  private[queries] val ivfN = 4

  /** The query vector: embeddings row vec_id=0, as a broadcast 1-row
    * frame (no driver collect; at 100 TB this is a broadcast of 256
    * bytes).
    */
  private[queries] def queryVec(s: SparkSession, dir: String): DataFrame =
    broadcast(t(s, dir, "embeddings").where(col("vec_id") === 0)
      .select(col("embedding").as("qe")))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-10 with engine-portable decimal arithmetic
    "e2_topk" -> ((s, dir) =>
      t(s, dir, "embeddings").where(col("vec_id") =!= 0)
        .crossJoin(queryVec(s, dir))
        .select(col("vec_id"),
          Similarity.cosineExact(col("embedding"), col("qe")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)),

    // FILTERED top-k — the RAG/hybrid-retrieval shape: a metadata
    // predicate restricts the corpus BEFORE any scoring work (here
    // label % 3; in production a partition/zone-map-prunable column),
    // then exact cosine ranks the survivors. The filter sits under the
    // projection in the same WholeStageCodegen span, so at 100 TB the
    // scan prunes first and the expensive arithmetic runs only on the
    // filtered fraction — never score-then-filter.
    "e52_filtered_topk" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .where(col("vec_id") =!= 0 && col("label") % 3 === 0)
        .crossJoin(queryVec(s, dir))
        .select(col("vec_id"), col("label").cast("long").as("label"),
          Similarity.cosineExact(col("embedding"), col("qe")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)),

    // BATCH retrieval — every ANN shape above serves ONE query vector;
    // production retrieval joins a whole query SET against the corpus
    // in one pass. Both sides are LSH-bucketed once; the bucket
    // equi-join (query side broadcast: a query batch is MBs at any
    // corpus scale) scores only bucket mates, and the per-query top-3
    // rank plans as WindowGroupLimit — each partition forwards at most
    // 3 rows per query before the exchange. Work: one corpus scan for
    // the whole batch, never queries × corpus.
    "e56_batch_ann" -> ((s, dir) => {
      val withB = t(s, dir, "embeddings")
        .withColumn("bk", Similarity.lshBucket(col("embedding"), 4, 64))
      val qs = broadcast(withB.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("bk")))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("vec_id"))
      withB.where(col("vec_id") % 100 =!= 0)
        .join(qs, "bk")
        .select(col("query_id"), col("vec_id"),
          Similarity.cosineExact(col("embedding"), col("qe")).as("cosine"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
    }),

    // kNN CLASSIFIER — majority label among the 10 nearest bucket-mate
    // corpus vectors per held-out probe (vec_id % 100 = 0): the label-
    // propagation / auto-labeling shape a training pipeline runs over
    // unlabeled data. Candidates come from the SAME 4-plane LSH bucket
    // (e56's retrieval stage — pair work is bucket mates, never probes
    // × corpus: the first cut of this query scored the full cross
    // product and measured ×43 at the ×10 corpus in SCALE.md's study;
    // this form is the fix). Self-norms are fixed-point folds computed
    // ONCE per row ([[Similarity.dotFixedLong]]) and reused across
    // pairs, so each scored pair pays a single 64-wide fold. Probes
    // broadcast; per-probe top-10 plans as WindowGroupLimit; the vote
    // and argmax pick are deterministic (ties → lower vec_id / lower
    // label)
    "e60_knn_classify" -> ((s, dir) => {
      val withB = t(s, dir, "embeddings")
        .withColumn("bk", Similarity.lshBucket(col("embedding"), 4, 64))
        .withColumn("nf",
          Similarity.dotFixedLong(col("embedding"), col("embedding")))
      val probes = broadcast(withB.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("bk"), col("nf").as("nqf")))
      val nn = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("vec_id"))
      val vote = Window.partitionBy("query_id")
        .orderBy(col("votes").desc, col("label"))
      withB.where(col("vec_id") % 100 =!= 0)
        .join(probes, "bk")
        .select(col("query_id"), col("vec_id"),
          col("label").cast("long").as("label"),
          Similarity.cosineFromFixed(
            Similarity.dotFixedLong(col("embedding"), col("qe")),
            col("nf"), col("nqf")).as("cosine"))
        .withColumn("rk", row_number().over(nn))
        .where(col("rk") <= 10)
        .groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .withColumn("pick", row_number().over(vote))
        .where(col("pick") === 1)
        .select(col("query_id"), col("label").as("pred_label"),
          col("votes"))
    }),

    // RERANK AUDIT — the retrieve-then-rerank pipeline shape: stage 1
    // ranks each probe's LSH bucket mates by the CHEAP unnormalized
    // fixed-point dot (no sqrt, no division — the score a first-pass
    // retriever pays) and keeps a top-10 shortlist; stage 2 reranks
    // ONLY the shortlist by exact cosine. The audit reports, per
    // probe, how much normalization changed the ranking (top-1
    // flipped? shortlist top-3 overlap) — the evidence that decides
    // whether the cheap score suffices at retrieval time. The rerank
    // reuses the stage-1 dot (normalizes it with the two hoisted
    // self-norms), so stage 2 costs no second scoring pass; shortlist
    // ranks plan as WindowGroupLimit, work is bucket mates only,
    // never probes × corpus — at 100 TB the rerank input is k rows
    // per query regardless of corpus size.
    "e83_rerank_audit" -> ((s, dir) => {
      val withB = t(s, dir, "embeddings")
        .withColumn("bk", Similarity.lshBucket(col("embedding"), 4, 64))
        .withColumn("nf",
          Similarity.dotFixedLong(col("embedding"), col("embedding")))
      val probes = broadcast(withB.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("bk"), col("nf").as("nqf")))
      val w1 = Window.partitionBy("query_id")
        .orderBy(col("dotf").desc, col("vec_id"))
      val w2 = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("vec_id"))
      withB.where(col("vec_id") % 100 =!= 0)
        .join(probes, "bk")
        .select(col("query_id"), col("vec_id"), col("nf"), col("nqf"),
          Similarity.dotFixedLong(col("embedding"), col("qe")).as("dotf"))
        .withColumn("rk1", row_number().over(w1))
        .where(col("rk1") <= 10)
        .select(col("query_id"), col("vec_id"), col("rk1"),
          Similarity.cosineFromFixed(col("dotf"), col("nf"), col("nqf"))
            .as("cosine"))
        .withColumn("rk2", row_number().over(w2))
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_cands"),
          min(when(col("rk1") === 1, col("vec_id"))).as("top1_stage1"),
          min(when(col("rk2") === 1, col("vec_id"))).as("top1_rerank"),
          sum(when(col("rk1") <= 3 && col("rk2") <= 3, lit(1L))
            .otherwise(lit(0L))).as("overlap3"))
        .withColumn("top1_changed",
          col("top1_stage1") =!= col("top1_rerank"))
    }),

    // Production double-arithmetic variant (rows-only check):
    // scan → map → TakeOrderedAndProject, no exchange
    "e2_topk_double" -> ((s, dir) =>
      t(s, dir, "embeddings").where(col("vec_id") =!= 0)
        .crossJoin(queryVec(s, dir))
        .select(col("vec_id"),
          Similarity.cosine(col("embedding"), col("qe")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)),

    // Native-codegen variant: same plan as e2_topk_double but scoring
    // through the FloatVecDot Catalyst expression (bit-identical math,
    // no per-row zipped-array allocation); rows-only for the same
    // float-order reason
    "e2_topk_native" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "embeddings").where(col("vec_id") =!= 0)
        .crossJoin(queryVec(s, dir))
        .select(col("vec_id"),
          Similarity.cosineNative(col("embedding"), col("qe")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    }),

    // Embedding-cosine near-dup pairs: bucket equi-join + threshold,
    // the embedding-space dedup method (never all-pairs). Pair scoring
    // goes through the native codegen vec_dot — bit-identical fold to
    // Similarity.dot, so the oracle is unchanged
    "e1_embed_neardup" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"),
        "vec_id", "embedding", nPlanes = 4, dim = 64, minCosine = 0.25,
        dotFn = (a, b) => call_function("vec_dot", a, b))
    }),

    // Per-vector L2 norm — the normalization pass every embedding
    // pipeline runs before cosine search (norm precomputation turns
    // later cosines into plain dots). Narrow map, no exchange.
    "e2_norms" -> ((s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"),
        sqrt(Similarity.dot(col("embedding"), col("embedding"))).as("l2"))),

    // IVF ANN: corpus assigned to its nearest synthetic centroid (the
    // inverted-file cell), probe confined to the query's cell, exact
    // cosine within. At 100 TB the corpus is written partitioned by
    // cell so a probe reads only its partitions.
    "e2_ivf" -> ((s, dir) => {
      val cents = Similarity.syntheticCentroids(ivfN, 64)
      val corpus = t(s, dir, "embeddings").where(col("vec_id") =!= 0)
        .withColumn("__cell", Similarity.ivfCell(col("embedding"), cents))
      val q = queryVec(s, dir).select(col("qe"),
        Similarity.ivfCell(col("qe"), cents).as("__qcell"))
      corpus.join(broadcast(q), col("__cell") === col("__qcell"))
        .select(col("vec_id"),
          Similarity.cosine(col("embedding"), col("qe")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    }),

    // IVF multi-probe (nprobe=2): the query probes its two best cells,
    // widening the candidate pool past cell boundaries — recall@k is
    // provably non-decreasing vs single-probe (any true top-k member in
    // the pool survives: at most k-1 vectors anywhere beat it). Cost is
    // nprobe cells scanned instead of one; at 100 TB the corpus stays
    // partitioned by cell and a probe reads nprobe partitions.
    "e33_ivf_probe2" -> ((s, dir) => {
      val cents = Similarity.syntheticCentroids(ivfN, 64)
      val corpus = t(s, dir, "embeddings").where(col("vec_id") =!= 0)
        .withColumn("__cell", Similarity.ivfCell(col("embedding"), cents))
      val q = queryVec(s, dir).select(col("qe"),
        Similarity.ivfCells(col("qe"), cents, 2).as("__qcells"))
      corpus.join(broadcast(q),
          array_contains(col("__qcells"), col("__cell")))
        .select(col("vec_id"),
          Similarity.cosine(col("embedding"), col("qe")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    }),

    // LSH-bucketed ANN: corpus hashed once, search confined to the
    // query's bucket (rows-only check; recall-vs-cost documented)
    "e2_lsh_topk" -> ((s, dir) => {
      val withBucket = t(s, dir, "embeddings").where(col("vec_id") =!= 0)
        .withColumn("__bucket", Similarity.lshBucket(col("embedding"), 4, 64))
      withBucket
        .join(queryVec(s, dir).select(col("qe"),
          Similarity.lshBucket(col("qe"), 4, 64).as("__qbucket")),
          col("__bucket") === col("__qbucket"))
        .select(col("vec_id"),
          Similarity.cosine(col("embedding"), col("qe")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    }),

    // One k-means Lloyd UPDATE step: assign every vector to its nearest
    // centroid (the IVF cell — same assignment expression), then the
    // new centroid = exact fixed-point per-(cell, dim) mean, e23-style
    // (first 8 dims judged; full width is the same plan). Plan: narrow
    // assignment map → posexplode → one hash exchange on (cell, dim) —
    // the canonical distributed k-means iteration, reproducible at any
    // parallelism because the sums are integers
    "e40_kmeans_step" -> ((s, dir) => {
      val cents = Similarity.syntheticCentroids(ivfN, 64)
      t(s, dir, "embeddings")
        .withColumn("cell",
          Similarity.ivfCell(col("embedding"), cents).cast("long"))
        .select(col("cell"), posexplode(col("embedding")))
        .where(col("pos") < 8)
        .select(col("cell"), col("pos").cast("long").as("pos"),
          floor(col("col").cast("double") * lit(1e7)).cast("long").as("q"))
        .groupBy("cell", "pos")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
        .select(col("cell"), col("pos"), col("n"),
          (col("sq").cast("double") / lit(1e7) / col("n")).as("mean_v"))
    }),

    // Per-dimension corpus statistics (the whitening/standardization
    // prep before PCA or feature scaling): mean and variance of every
    // embedding dimension from exact integer moment sums — one narrow
    // posexplode and one hash exchange on the 64 dims
    "e41_dim_stats" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(posexplode(col("embedding")))
        .select(col("pos").cast("long").as("pos"),
          floor(col("col").cast("double") * lit(1e7)).cast("long").as("q"))
        .groupBy("pos")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
          sum(col("q") * col("q")).as("sq2"))
        .select(col("pos"), col("n"),
          (col("sq").cast("double") / lit(1e7) / col("n")).as("mean_v"),
          ((col("sq2").cast("double") / lit(1e14) / col("n")) -
            (col("sq").cast("double") / lit(1e7) / col("n")) *
            (col("sq").cast("double") / lit(1e7) / col("n"))).as("var_v"))))

  private val prodSql = (a: String, b: String) =>
    s"CAST(floor(CAST($a AS DOUBLE) * CAST($b AS DOUBLE) * 1e7) AS BIGINT)"

  /** Sequential double fold identical to Spark's `aggregate` (DuckDB's
    * list_reduce starts at x1; Spark starts at 0.0 + x1 = x1 — same
    * IEEE sequence, bit-equal results).
    */
  private[queries] def foldDot(a: String, b: String) =
    s"""list_reduce(list_transform(generate_series(1, 64),
        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)),
        (acc, x) -> acc + x)"""

  private[queries] val doubleCosineSql =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        sc AS (SELECT e.vec_id,
            ${foldDot("e.embedding", "q.qe")} AS dot,
            ${foldDot("e.embedding", "e.embedding")} AS na,
            ${foldDot("q.qe", "q.qe")} AS nb
          FROM embeddings e, q WHERE e.vec_id <> 0)
        SELECT vec_id, dot / (sqrt(na) * sqrt(nb)) AS cosine
        FROM sc ORDER BY cosine DESC, vec_id LIMIT 10"""

  /** 4-plane LSH bucket of `vec` as SQL (same plane-sign literals the
    * Spark operator bakes into its plan — Similarity.planeSigns).
    */
  private[queries] def bucketSql4(vec: String): String = {
    val signs = Similarity.planeSigns(4, 64)
    def proj(j: Int) =
      s"""list_reduce(list_transform(generate_series(1, 64),
          i -> CAST($vec[i] AS DOUBLE) *
               (${signs(j).mkString("[", ", ", "]")})[i]),
          (acc, x) -> acc + x)"""
    (0 until 4).map { j =>
      s"(CASE WHEN ${proj(j)} >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** The same plane-sign matrix the Spark operator bakes into its plan,
    * as SQL list literals (shared derivation: Similarity.planeSigns).
    */
  private[queries] val lshSql: String = {
    val signs = Similarity.planeSigns(4, 64)
    def proj(vec: String, j: Int) =
      s"""list_reduce(list_transform(generate_series(1, 64),
          i -> CAST($vec[i] AS DOUBLE) *
               (${signs(j).mkString("[", ", ", "]")})[i]),
          (acc, x) -> acc + x)"""
    def bucket(vec: String) = (0 until 4).map { j =>
      s"(CASE WHEN ${proj(vec, j)} >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH q AS (SELECT embedding AS qe, ${bucket("embedding")} AS qb
          FROM embeddings WHERE vec_id = 0),
        c AS (SELECT vec_id, embedding, ${bucket("embedding")} AS b
          FROM embeddings WHERE vec_id <> 0)
        SELECT c.vec_id,
          ${foldDot("c.embedding", "q.qe")} /
            (sqrt(${foldDot("c.embedding", "c.embedding")})
             * sqrt(${foldDot("q.qe", "q.qe")})) AS cosine
        FROM c, q WHERE c.b = q.qb
        ORDER BY cosine DESC, c.vec_id LIMIT 10"""
  }

  /** The same centroid matrix the Spark operator bakes into its plan, as
    * SQL literal double lists (each float's shortest-double repr parses
    * back to the identical IEEE value).
    */
  private val ivfCentLit: Seq[String] =
    graft.operators.Similarity.syntheticCentroids(ivfN, 64)
      .map(_.map(_.toDouble.toString).mkString("[", ", ", "]"))

  // mirrors Similarity.cosine(vec, centroid_j): dot / (norm(v)·norm(c))
  private def ivfScore(vec: String, j: Int) =
    s"""(${foldDot(vec, ivfCentLit(j))} /
        (sqrt(${foldDot(vec, vec)}) *
         sqrt(${foldDot(ivfCentLit(j), ivfCentLit(j))})))"""

  // mirrors greatest(struct(s, i)).getField("i"): lexicographic max on
  // (score, index) — descending >= CASE chain gives ties to higher j
  private[queries] def ivfCellSql(vec: String) = {
    val ss = (0 until ivfN).map(j => ivfScore(vec, j))
    val cases = (ivfN - 1 to 1 by -1).map { j =>
      val ge = (0 until j).map(o => s"${ss(j)} >= ${ss(o)}")
        .mkString(" AND ")
      s"WHEN $ge THEN $j"
    }.mkString(" ")
    s"(CASE $cases ELSE 0 END)"
  }

  /** Max cosine over the centroid set — SQL mirror of
    * Similarity.ivfCellScore (the cell-cohesion score). */
  private[queries] def ivfMaxScoreSql(vec: String): String =
    s"GREATEST(${(0 until ivfN).map(j => ivfScore(vec, j)).mkString(", ")})"

  private[queries] val ivfSql: String =
    s"""WITH q AS (SELECT embedding AS qe, ${ivfCellSql("embedding")} AS qcell
          FROM embeddings WHERE vec_id = 0),
        c AS (SELECT vec_id, embedding, ${ivfCellSql("embedding")} AS cell
          FROM embeddings WHERE vec_id <> 0)
        SELECT c.vec_id,
          ${foldDot("c.embedding", "q.qe")} /
            (sqrt(${foldDot("c.embedding", "c.embedding")})
             * sqrt(${foldDot("q.qe", "q.qe")})) AS cosine
        FROM c, q WHERE c.cell = q.qcell
        ORDER BY cosine DESC, c.vec_id LIMIT 10"""

  /** Multi-probe form: the query's TWO best cells by (score DESC,
    * j DESC) — the same total order the Spark side's
    * `slice(reverse(array_sort(...)))` realizes — then candidates from
    * either cell.
    */
  private[queries] val ivfMulti2Sql: String = {
    val scoreRows = (0 until ivfN)
      .map(j => s"SELECT $j AS j, ${ivfScore("qe", j)} AS s FROM q")
      .mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        qc AS (SELECT j FROM ($scoreRows) ORDER BY s DESC, j DESC LIMIT 2),
        c AS (SELECT vec_id, embedding, ${ivfCellSql("embedding")} AS cell
          FROM embeddings WHERE vec_id <> 0)
        SELECT c.vec_id,
          ${foldDot("c.embedding", "q.qe")} /
            (sqrt(${foldDot("c.embedding", "c.embedding")})
             * sqrt(${foldDot("q.qe", "q.qe")})) AS cosine
        FROM c, q WHERE c.cell IN (SELECT j FROM qc)
        ORDER BY cosine DESC, c.vec_id LIMIT 10"""
  }

  val oracles: Map[String, String] = Map(
    "e40_kmeans_step" ->
      s"""WITH a AS (SELECT vec_id, embedding,
              ${ivfCellSql("embedding")} AS cell FROM embeddings),
          x AS (SELECT cell, t.pos AS pos,
              CAST(floor(CAST(embedding[CAST(t.pos + 1 AS INT)] AS DOUBLE)
                * 1e7) AS BIGINT) AS q
            FROM a, unnest(range(0, 8)) AS t(pos))
          SELECT CAST(cell AS BIGINT) AS cell, CAST(pos AS BIGINT) AS pos,
            count(*) AS n, CAST(SUM(q) AS DOUBLE) / 1e7 / count(*) AS mean_v
          FROM x GROUP BY cell, pos""",
    "e41_dim_stats" ->
      """WITH x AS (SELECT t.pos AS pos,
             CAST(floor(CAST(embedding[CAST(t.pos + 1 AS INT)] AS DOUBLE)
               * 1e7) AS BIGINT) AS q
           FROM embeddings, unnest(range(0, 64)) AS t(pos))
         SELECT CAST(pos AS BIGINT) AS pos, count(*) AS n,
           CAST(SUM(q) AS DOUBLE) / 1e7 / count(*) AS mean_v,
           (CAST(SUM(q*q) AS DOUBLE) / 1e14 / count(*)) -
             (CAST(SUM(q) AS DOUBLE) / 1e7 / count(*)) *
             (CAST(SUM(q) AS DOUBLE) / 1e7 / count(*)) AS var_v
         FROM x GROUP BY pos""",
    "e2_norms" ->
      s"""SELECT vec_id, sqrt(${foldDot("embedding", "embedding")}) AS l2
          FROM embeddings""",
    "e2_ivf" -> ivfSql,
    "e33_ivf_probe2" -> ivfMulti2Sql,
    "e2_topk" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
          p AS (SELECT e.vec_id,
              SUM(${prodSql("e.embedding[g.i]", "q.qe[g.i]")}) AS dotf,
              SUM(${prodSql("e.embedding[g.i]", "e.embedding[g.i]")}) AS naf,
              SUM(${prodSql("q.qe[g.i]", "q.qe[g.i]")}) AS nqf
            FROM embeddings e, q, generate_series(1, 64) AS g(i)
            WHERE e.vec_id <> 0
            GROUP BY e.vec_id)
          SELECT vec_id, (CAST(dotf AS DOUBLE) / 1e7) /
              (sqrt(CAST(naf AS DOUBLE) / 1e7) * sqrt(CAST(nqf AS DOUBLE) / 1e7))
            AS cosine
          FROM p ORDER BY cosine DESC, vec_id LIMIT 10""",
    "e56_batch_ann" ->
      s"""WITH b AS (SELECT vec_id, embedding,
              ${bucketSql4("embedding")} AS bk FROM embeddings),
          q AS (SELECT vec_id AS query_id, embedding AS qe, bk
                FROM b WHERE vec_id % 100 = 0),
          c AS (SELECT vec_id, embedding, bk FROM b
                WHERE vec_id % 100 <> 0),
          p AS (SELECT q.query_id, c.vec_id,
              SUM(${prodSql("c.embedding[g.i]", "q.qe[g.i]")}) AS dotf,
              SUM(${prodSql("c.embedding[g.i]", "c.embedding[g.i]")}) AS naf,
              SUM(${prodSql("q.qe[g.i]", "q.qe[g.i]")}) AS nqf
            FROM c JOIN q ON c.bk = q.bk, generate_series(1, 64) AS g(i)
            GROUP BY q.query_id, c.vec_id),
          s AS (SELECT query_id, vec_id,
              (CAST(dotf AS DOUBLE) / 1e7) /
                (sqrt(CAST(naf AS DOUBLE) / 1e7)
                 * sqrt(CAST(nqf AS DOUBLE) / 1e7)) AS cosine
            FROM p),
          r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, vec_id) AS rk FROM s)
          SELECT query_id, vec_id, cosine, CAST(rk AS BIGINT) AS rk
          FROM r WHERE rk <= 3""",
    "e83_rerank_audit" ->
      s"""WITH b AS (SELECT vec_id, embedding,
              ${bucketSql4("embedding")} AS bk FROM embeddings),
          q AS (SELECT vec_id AS query_id, embedding AS qe, bk
                FROM b WHERE vec_id % 100 = 0),
          c AS (SELECT vec_id, embedding, bk FROM b
                WHERE vec_id % 100 <> 0),
          p AS (SELECT q.query_id, c.vec_id,
              SUM(${prodSql("c.embedding[g.i]", "q.qe[g.i]")}) AS dotf,
              SUM(${prodSql("c.embedding[g.i]", "c.embedding[g.i]")}) AS naf,
              SUM(${prodSql("q.qe[g.i]", "q.qe[g.i]")}) AS nqf
            FROM c JOIN q ON c.bk = q.bk, generate_series(1, 64) AS g(i)
            GROUP BY q.query_id, c.vec_id),
          r1 AS (SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY dotf DESC, vec_id) AS rk1 FROM p),
          k AS (SELECT * FROM r1 WHERE rk1 <= 10),
          r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY (CAST(dotf AS DOUBLE) / 1e7) /
                     (sqrt(CAST(naf AS DOUBLE) / 1e7)
                      * sqrt(CAST(nqf AS DOUBLE) / 1e7)) DESC, vec_id)
                   AS rk2 FROM k)
          SELECT query_id, count(*) AS n_cands,
            min(CASE WHEN rk1 = 1 THEN vec_id END) AS top1_stage1,
            min(CASE WHEN rk2 = 1 THEN vec_id END) AS top1_rerank,
            CAST(SUM(CASE WHEN rk1 <= 3 AND rk2 <= 3 THEN 1 ELSE 0 END)
              AS BIGINT) AS overlap3,
            (min(CASE WHEN rk1 = 1 THEN vec_id END)
              <> min(CASE WHEN rk2 = 1 THEN vec_id END)) AS top1_changed
          FROM r2 GROUP BY query_id""",
    "e52_filtered_topk" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
          p AS (SELECT e.vec_id, e.label,
              SUM(${prodSql("e.embedding[g.i]", "q.qe[g.i]")}) AS dotf,
              SUM(${prodSql("e.embedding[g.i]", "e.embedding[g.i]")}) AS naf,
              SUM(${prodSql("q.qe[g.i]", "q.qe[g.i]")}) AS nqf
            FROM embeddings e, q, generate_series(1, 64) AS g(i)
            WHERE e.vec_id <> 0 AND e.label % 3 = 0
            GROUP BY e.vec_id, e.label)
          SELECT vec_id, CAST(label AS BIGINT) AS label,
            (CAST(dotf AS DOUBLE) / 1e7) /
              (sqrt(CAST(naf AS DOUBLE) / 1e7) * sqrt(CAST(nqf AS DOUBLE) / 1e7))
            AS cosine
          FROM p ORDER BY cosine DESC, vec_id LIMIT 10""",
    "e60_knn_classify" ->
      s"""WITH b AS (SELECT vec_id, label, embedding,
              ${bucketSql4("embedding")} AS bk FROM embeddings),
          q AS (SELECT vec_id AS query_id, embedding AS qe, bk
            FROM b WHERE vec_id % 100 = 0),
          c AS (SELECT vec_id, label, embedding, bk FROM b
                WHERE vec_id % 100 <> 0),
          p AS (SELECT q.query_id, c.vec_id, c.label,
              SUM(${prodSql("c.embedding[g.i]", "q.qe[g.i]")}) AS dotf,
              SUM(${prodSql("c.embedding[g.i]", "c.embedding[g.i]")}) AS naf,
              SUM(${prodSql("q.qe[g.i]", "q.qe[g.i]")}) AS nqf
            FROM c JOIN q ON c.bk = q.bk, generate_series(1, 64) AS g(i)
            GROUP BY 1, 2, 3),
          s AS (SELECT query_id, vec_id, label,
              (CAST(dotf AS DOUBLE) / 1e7) /
                (sqrt(CAST(naf AS DOUBLE) / 1e7)
                 * sqrt(CAST(nqf AS DOUBLE) / 1e7)) AS cosine
            FROM p),
          r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, vec_id) AS rk FROM s),
          v AS (SELECT query_id, label, count(*) AS votes
                FROM r WHERE rk <= 10 GROUP BY 1, 2),
          w AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY votes DESC, label) AS pk FROM v)
          SELECT query_id, CAST(label AS BIGINT) AS pred_label,
                 CAST(votes AS BIGINT) AS votes
          FROM w WHERE pk = 1""",
    "e2_topk_double" -> doubleCosineSql,
    "e2_topk_native" -> doubleCosineSql,
    "e2_lsh_topk" -> lshSql,
    "e1_embed_neardup" -> {
      val signs = Similarity.planeSigns(4, 64)
      def proj(vec: String, j: Int) =
        s"""list_reduce(list_transform(generate_series(1, 64),
            i -> CAST($vec[i] AS DOUBLE) *
                 (${signs(j).mkString("[", ", ", "]")})[i]),
            (acc, x) -> acc + x)"""
      def bucket(vec: String) = (0 until 4).map { j =>
        s"(CASE WHEN ${proj(vec, j)} >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH b AS (SELECT vec_id, embedding, ${bucket("embedding")} AS bk
            FROM embeddings)
          SELECT x.vec_id AS id_a, y.vec_id AS id_b,
            ${foldDot("x.embedding", "y.embedding")} /
              (sqrt(${foldDot("x.embedding", "x.embedding")})
               * sqrt(${foldDot("y.embedding", "y.embedding")})) AS cosine
          FROM b x JOIN b y ON x.bk = y.bk AND x.vec_id < y.vec_id
          WHERE ${foldDot("x.embedding", "y.embedding")} /
              (sqrt(${foldDot("x.embedding", "x.embedding")})
               * sqrt(${foldDot("y.embedding", "y.embedding")})) > 0.25"""
    })
}

package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{Similarity, VectorIndex}

/** Vector similarity: exact and approximate top-k, IVF, LSH and product
  * quantization, embedding diagnostics and ranking metrics.
  */
object SimilarityQueries extends Family {
  import Tables._

  private val prodSql = (a: String, b: String) =>
    s"CAST(floor(CAST($a AS DOUBLE) * CAST($b AS DOUBLE) * 1e7) AS BIGINT)"

  /** e2_topk's oracle, shared with the queries that embed it. */
  private val topkSql =
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
          FROM p ORDER BY cosine DESC, vec_id LIMIT 10"""

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

  /** Random-projection sign matrix dimensions: 64-dim input → 8 output. */
  private val rpDims = 8

  /** SemDeDup within-cluster cosine threshold. The synthetic corpus has
    * no planted near-identical embeddings (max pairwise cosine ≈ 0.51),
    * so the judged threshold sits where the candidate machinery is
    * actually exercised; production would run at ≈0.95+.
    */
  private val semTau = 0.4

  private def cosSql(a: String, b: String) = {
    val fd = foldDot _
    s"""${fd(a, b)} / (sqrt(${fd(a, a)}) * sqrt(${fd(b, b)}))"""
  }

  /** PQ geometry: 4 subspaces × 16 dims over the 64-dim embeddings,
    * 4 sub-centroids per subspace (tiny so the oracle SQL can embed the
    * literals; production uses 8-bit codebooks = 256 per subspace).
    * Sub-codebooks are slices of the shared synthetic centroid set, so
    * Spark plan literals and oracle literals share one derivation.
    */
  private val pqM = 4

  private val pqSub = 16

  private val pqK = 4

  private def pqCents = Similarity.syntheticCentroids(pqK, 64)

  // ---- PQ plan-side expressions (shared by e67 encode / e69 ADC) ------
  private def pqSubVec(vec: Column, m: Int): Column =
    slice(vec, m * pqSub + 1, pqSub)

  private def pqSubLitArr(m: Int, j: Int): Column =
    array(pqCents(j).slice(m * pqSub, m * pqSub + pqSub).map(lit): _*)

  private def pqSubCosCol(vec: Column, m: Int, j: Int): Column =
    Similarity.cosine(pqSubVec(vec, m), pqSubLitArr(m, j))

  private def pqCodeCol(vec: Column, m: Int): Column =
    greatest((0 until pqK).map(j =>
      struct(pqSubCosCol(vec, m, j).as("s"), lit(j).as("i"))): _*)
      .getField("i").cast("long")

  private def pqBestCol(vec: Column, m: Int): Column =
    greatest((0 until pqK).map(j => pqSubCosCol(vec, m, j)): _*)

  // ---- oracle SQL helpers (PQ) ----------------------------------------

  private def pqSubLit(m: Int, j: Int): String =
    pqCents(j).slice(m * pqSub, m * pqSub + pqSub)
      .map(_.toDouble.toString).mkString("[", ", ", "]")

  /** Sequential double fold over subspace `m` of `vec` against a
    * 16-element literal — index-shifted mirror of
    * Similarity.cosine(slice(vec), lit): DuckDB's list_reduce starts at
    * x1, Spark at 0.0 + x1 — same IEEE sequence.
    */
  private def pqDot(vec: String, litArr: String, m: Int): String =
    s"""list_reduce(list_transform(
        generate_series(${m * pqSub + 1}, ${m * pqSub + pqSub}),
        i -> CAST($vec[i] AS DOUBLE) *
             CAST(($litArr)[i - ${m * pqSub}] AS DOUBLE)),
        (acc, x) -> acc + x)"""

  private def pqSelfDot(vec: String, m: Int): String =
    s"""list_reduce(list_transform(
        generate_series(${m * pqSub + 1}, ${m * pqSub + pqSub}),
        i -> CAST($vec[i] AS DOUBLE) * CAST($vec[i] AS DOUBLE)),
        (acc, x) -> acc + x)"""

  private def pqLitSelfDot(litArr: String): String =
    s"""list_reduce(list_transform(generate_series(1, $pqSub),
        i -> CAST(($litArr)[i] AS DOUBLE) * CAST(($litArr)[i] AS DOUBLE)),
        (acc, x) -> acc + x)"""

  // mirrors Similarity.cosine on the sliced subspace: dot/(norm·norm)
  private def pqCosSql(vec: String, m: Int, j: Int): String = {
    val l = pqSubLit(m, j)
    s"""(${pqDot(vec, l, m)} /
        (sqrt(${pqSelfDot(vec, m)}) * sqrt(${pqLitSelfDot(l)})))"""
  }

  // mirrors greatest(struct(s, i)).getField("i"): ties to the higher j
  private def pqCodeSql(m: Int): String = {
    val ss = (0 until pqK).map(j => s"s${m}_$j")
    val cases = (pqK - 1 to 1 by -1).map { j =>
      val ge = (0 until j).map(o => s"${ss(j)} >= ${ss(o)}").mkString(" AND ")
      s"WHEN $ge THEN $j"
    }.mkString(" ")
    s"(CASE $cases ELSE 0 END)"
  }

  private def emb(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")

  // ---- shared trained-centroid model ----

  /** The trained IVF centroid model, TRAINED ONCE per (testdata dir)
    * per JVM and shared by `e2_ivf_trained` and `e109_silhouette`:
    * both queries need the identical 2-iteration Lloyd's result, and
    * each training iteration costs a full corpus aggregate + driver
    * collect — paying it twice per suite run bought nothing. The model
    * is k×d driver-side state (the broadcast-train cycle's collected
    * side), so a plain memo is the right cache tier — no parquet
    * staging needed for a few hundred doubles.
    */
  private val trainedModels = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Int, Seq[Double])]]()

  private def trainedCentroids(s: SparkSession, dir: String)
      : Seq[(Int, Seq[Double])] =
    trainedModels.computeIfAbsent(dir, _ => {
      val init = graft.operators.Similarity
        .syntheticCentroids(ivfN, 64)
        .zipWithIndex.map { case (c, j) => j -> c.map(_.toDouble) }
      graft.operators.Similarity.trainIvfCentroids(
        t(s, dir, "embeddings").where(col("vec_id") =!= 0),
        "embedding", init, iters = 2)
    })

  // ---- e109: clustering-quality audit over the trained cells ----

  /** Simplified silhouette per trained cell — the clustering-quality
    * report that tells a curation team whether the IVF/semantic-dedup
    * cells are real structure or noise: per vector, a = cosine
    * distance to its OWN centroid, b = distance to the nearest OTHER
    * centroid, s = (b−a)/max(a,b) ∈ [−1,1]; the report is the
    * per-cell mean. Every cosine comes from the same fixed-point
    * integer sums as training (bit-identical cross-engine), per-row s
    * is quantized to nano-units before the sum (order-independent),
    * and the mean is two fixed-order divisions at report time.
    */
  private def silhouette(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val corpus = t(s, dir, "embeddings").where(col("vec_id") =!= 0)
    val trained = trainedCentroids(s, dir)
    require(trained.size >= 2, "silhouette needs >= 2 surviving cells")
    val nv = Similarity.selfDotFixedLong(col("embedding"))
    def cosTo(c: Seq[Double]): Column = {
      val nc = c.map(v => math.floor(v * v * 1e7).toLong).sum
      (Similarity.dotFixedToLit(col("embedding"), c).cast("double") /
        lit(1e7)) /
        (sqrt(col("__nv").cast("double") / lit(1e7)) *
          sqrt(lit(nc.toDouble) / lit(1e7)))
    }
    val withCell = corpus
      .withColumn("__nv", nv)
      .withColumn("__cell",
        Similarity.ivfCellFixed(col("embedding"), trained))
    val ownCos = coalesce(trained.map { case (cid, c) =>
      when(col("__cell") === cid, cosTo(c))
    }: _*)
    val otherMax = greatest(trained.map { case (cid, c) =>
      when(col("__cell") =!= cid, cosTo(c))
    }: _*)
    val a = lit(1.0) - col("__own")
    val b = lit(1.0) - col("__omax")
    val sCol = when(greatest(a, b) > 0,
      (b - a) / greatest(a, b)).otherwise(lit(0.0))
    withCell
      .withColumn("__own", ownCos)
      .withColumn("__omax", otherMax)
      .select(col("__cell").cast("long").as("cell"),
        floor(sCol * lit(1e9)).cast("long").as("__q"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sum(col("__q")).as("__sq"))
      .select(col("cell"), col("n"),
        (col("__sq").cast("double") / lit(1e9) /
          col("n").cast("double")).as("mean_sil"))
  }

  /** SQL transcription of the EXACT fixed-point Lloyd's recipe of
    * `Similarity.trainIvfCentroids` + the final IVF probe: every
    * cross-row sum is over `floor(·)`-quantized integers, every double
    * step (score = dt/√nc, component = (Σq/1e7)/n) is the identical
    * IEEE expression the Spark side evaluates, so the oracle derives
    * bit-identical trained centroids from the data instead of baking
    * data-dependent literals.
    */
  /** Shared WITH-body: synthetic seeds + two Lloyd iterations ending
    * in `cent2` (used by both the e2_ivf_trained probe oracle and the
    * e109 silhouette oracle).
    */
  private def ivfTrainingCtes: String = {
    val centVals = graft.operators.Similarity
      .syntheticCentroids(ivfN, 64)
      .zipWithIndex.map { case (c, j) =>
        s"($j, [${c.map(_.toDouble.toString).mkString(", ")}])"
      }.mkString(",\n           ")
    // one Lloyd iteration: assign `dims` against cent$prev, then
    // fixed-point per-(cell,pos) mean into cent$i
    def iter(i: Int, prev: Int): String =
      s"""nc$i AS (SELECT cell, SUM(CAST(floor(v * v * 1e7) AS BIGINT)) AS nc
           FROM cent$prev GROUP BY cell),
         dt$i AS (SELECT d.vec_id, c.cell,
             SUM(CAST(floor(d.x * c.v * 1e7) AS BIGINT)) AS dt
           FROM dims d JOIN cent$prev c USING (pos)
           GROUP BY d.vec_id, c.cell),
         asg$i AS (SELECT vec_id, cell FROM (
             SELECT dt$i.vec_id, dt$i.cell,
               row_number() OVER (PARTITION BY dt$i.vec_id
                 ORDER BY CAST(dt$i.dt AS DOUBLE) /
                   sqrt(CAST(nc$i.nc AS DOUBLE)) DESC,
                   dt$i.cell DESC) AS rn
             FROM dt$i JOIN nc$i USING (cell)) WHERE rn = 1),
         upd$i AS (SELECT a.cell, d.pos,
             SUM(CAST(floor(d.x * 1e7) AS BIGINT)) AS sq, COUNT(*) AS n
           FROM dims d JOIN asg$i a USING (vec_id)
           GROUP BY a.cell, d.pos),
         cent$i AS (SELECT cell, pos,
             CAST(sq AS DOUBLE) / 1e7 / CAST(n AS DOUBLE) AS v
           FROM upd$i)"""
    s"""alldims AS (
           SELECT vec_id, g.i - 1 AS pos,
             CAST(embedding[g.i] AS DOUBLE) AS x
           FROM embeddings, generate_series(1, 64) AS g(i)),
         dims AS (SELECT * FROM alldims WHERE vec_id <> 0),
         cent0 AS (
           SELECT t.cell, g.i - 1 AS pos, t.arr[g.i] AS v
           FROM (VALUES $centVals) AS t(cell, arr),
             generate_series(1, 64) AS g(i)),
         ${iter(1, 0)},
         ${iter(2, 1)}"""
  }

  /** SQL mirror of [[silhouette]]: trained cells re-derived via
    * [[ivfTrainingCtes]], per-(vec, cell) fixed-point cosines, own
    * cell = the assignment rank-1 row, b = max cosine over the
    * others; per-row s quantized to nano-units before the per-cell
    * sum so the mean is order-independent.
    */
  private def silhouetteOracle: String =
    s"""WITH $ivfTrainingCtes,
         nc3 AS (SELECT cell, SUM(CAST(floor(v * v * 1e7) AS BIGINT)) AS nc
           FROM cent2 GROUP BY cell),
         nv AS (SELECT vec_id,
             SUM(CAST(floor(x * x * 1e7) AS BIGINT)) AS nv
           FROM dims GROUP BY vec_id),
         dtc AS (SELECT d.vec_id, c.cell,
             SUM(CAST(floor(d.x * c.v * 1e7) AS BIGINT)) AS dt
           FROM dims d JOIN cent2 c USING (pos)
           GROUP BY d.vec_id, c.cell),
         sc AS (SELECT dtc.vec_id, dtc.cell,
             (CAST(dtc.dt AS DOUBLE) / 1e7) /
               (sqrt(CAST(nv.nv AS DOUBLE) / 1e7) *
                sqrt(CAST(nc3.nc AS DOUBLE) / 1e7)) AS cosj,
             row_number() OVER (PARTITION BY dtc.vec_id
               ORDER BY CAST(dtc.dt AS DOUBLE) /
                 sqrt(CAST(nc3.nc AS DOUBLE)) DESC,
                 dtc.cell DESC) AS rn
           FROM dtc JOIN nc3 USING (cell) JOIN nv USING (vec_id)),
         pv AS (SELECT vec_id,
             max(CASE WHEN rn = 1 THEN cell END) AS cell,
             1.0 - max(CASE WHEN rn = 1 THEN cosj END) AS a,
             1.0 - max(CASE WHEN rn > 1 THEN cosj END) AS b
           FROM sc GROUP BY vec_id),
         sil AS (SELECT cell,
             CAST(floor((CASE WHEN greatest(a, b) > 0
               THEN (b - a) / greatest(a, b) ELSE 0.0 END) * 1e9)
               AS BIGINT) AS q
           FROM pv)
       SELECT CAST(cell AS BIGINT) AS cell,
         CAST(count(*) AS BIGINT) AS n,
         CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE) / 1e9 /
           CAST(count(*) AS DOUBLE) AS mean_sil
       FROM sil GROUP BY cell"""

  private def ivfTrainedOracle: String = {
    val fd = foldDot("e.embedding", "q.qe")
    val fna = foldDot("e.embedding", "e.embedding")
    val fnb = foldDot("q.qe", "q.qe")
    s"""WITH $ivfTrainingCtes,
         nc3 AS (SELECT cell, SUM(CAST(floor(v * v * 1e7) AS BIGINT)) AS nc
           FROM cent2 GROUP BY cell),
         dt3 AS (SELECT d.vec_id, c.cell,
             SUM(CAST(floor(d.x * c.v * 1e7) AS BIGINT)) AS dt
           FROM alldims d JOIN cent2 c USING (pos)
           GROUP BY d.vec_id, c.cell),
         asg3 AS (SELECT vec_id, cell FROM (
             SELECT dt3.vec_id, dt3.cell,
               row_number() OVER (PARTITION BY dt3.vec_id
                 ORDER BY CAST(dt3.dt AS DOUBLE) /
                   sqrt(CAST(nc3.nc AS DOUBLE)) DESC,
                   dt3.cell DESC) AS rn
             FROM dt3 JOIN nc3 USING (cell)) WHERE rn = 1),
         cand AS (SELECT vec_id FROM asg3
           WHERE vec_id <> 0 AND cell =
             (SELECT cell FROM asg3 WHERE vec_id = 0))
       SELECT e.vec_id,
         $fd / (sqrt($fna) * sqrt($fnb)) AS cosine
       FROM embeddings e JOIN cand USING (vec_id),
         (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
       ORDER BY cosine DESC, e.vec_id LIMIT 10"""
  }

  /** Prefix-dim dot product as DuckDB SQL — the m-dim generalization
    * of [[doubleCosineSql]]'s 64-dim fold, same
    * left-to-right summation as `Similarity.cosine` over a slice.
    */
  private[queries] def foldDotM(a: String, b: String, m: Int) =
    s"""list_reduce(list_transform(generate_series(1, $m),
        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)),
        (acc, x) -> acc + x)"""

  private def matryoshkaBranchSql(m: Int) =
    s"""SELECT CAST($m AS BIGINT) AS m_dims, count(*) AS n_hit,
          CAST(count(*) AS DOUBLE) / 10.0 AS recall
        FROM top64 WHERE vec_id IN (SELECT vec_id FROM top$m)"""

  private def topMSql(m: Int) =
    s"""(SELECT e.vec_id FROM embeddings e, q
         WHERE e.vec_id <> 0
         ORDER BY ${foldDotM("e.embedding", "q.qe", m)} /
           (sqrt(${foldDotM("e.embedding", "e.embedding", m)}) *
            sqrt(${foldDotM("q.qe", "q.qe", m)})) DESC, e.vec_id
         LIMIT 10)"""

  /** FIXED probe-panel bounds shared by e135/e136 AND their oracle
    * texts (interpolated): vec_ids 1..63. The panel being fixed-SIZE
    * at any corpus scale is what keeps both audits linear.
    */
  private val probeLo = 1

  private val probeHi = 63

  private def vdot(a: org.apache.spark.sql.Column,
                   b: org.apache.spark.sql.Column) =
    call_function("vec_dot", a, b)

  /** Corpus embeddings with the self-norm hoisted into the scan
    * projection — ‖e‖ computed once per row, never once per probe
    * pair (the e135 ×10 finding: 18.3 → 3.85 s).
    */
  private def normedEmb(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "embeddings").where(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        sqrt(vdot(col("embedding"), col("embedding"))).as("enorm"))
  }

  /** The broadcast probe panel off a [[normedEmb]] frame. Extra
    * columns (e136's LSH bucket) are added INSIDE the broadcast hint
    * so a projection above can never strip it.
    */
  private def probePanel(emb: DataFrame,
      extra: Seq[(String, org.apache.spark.sql.Column)] = Seq.empty)
      : DataFrame = {
    val base = emb.where(col("vec_id").between(probeLo, probeHi))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("enorm").as("qnorm"))
    broadcast(extra.foldLeft(base) {
      case (f, (n, c)) => f.withColumn(n, c)
    })
  }

  /** Pairwise cosine over a [[normedEmb]] × [[probePanel]] join — one
    * native dot per pair, bit-identical to `Similarity.cosine`'s
    * left-to-right fold (which the oracle texts replay).
    */
  private def probeCos: org.apache.spark.sql.Column =
    vdot(col("embedding"), col("qe")) / (col("enorm") * col("qnorm"))

  /** RRF's standard rank-smoothing constant (Cormack et al. 2009). */
  private val rrfK = 60.0

  /** e152: RBO geometric prefix weights (1−p)·p^(d−1) at p = 0.9,
    * materialized as doubles ONCE here and interpolated into the
    * oracle via [[java.lang.Double.toString]] round-trip literals —
    * never recomputed with pow(), whose libm may differ per engine.
    */
  private val rboWeights: IndexedSeq[Double] =
    (0 until 10).map(k => 0.1 * math.pow(0.9, k))

  /** The sign-binarized Hamming top-10 — e151's ranking leg, shared
    * with e152's position-sensitive agreement audit: one corpus pass
    * scored by the native `vec_sign_ham` codegen expression (exact
    * integer count — bit-equal to the higher-order fold it replaced,
    * without the per-row zipped-array allocation), TakeOrdered (no
    * global sort).
    */
  private def binaryTop10(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "embeddings").where(col("vec_id") =!= 0)
      .crossJoin(queryVec(s, dir))
      .select(col("vec_id"),
        call_function("vec_sign_ham", col("embedding"), col("qe"))
          .as("ham"))
      .orderBy(col("ham").asc, col("vec_id")).limit(10)
  }

  /** 1-based rank of each row of a TINY ordered frame (top-k lists) by
    * (score desc, vec_id asc), via a broadcast triangular count — never
    * an unpartitioned window. The frame is eagerly materialized (it is
    * ≤ k rows) so the triangle reads a scan, not the scoring lineage.
    */
  private def rankTiny(df: DataFrame, rname: String): DataFrame = {
    val x = df.localCheckpoint(true)
    x.as("a").join(broadcast(x.as("b")),
        col("b.cosine") > col("a.cosine") ||
          (col("b.cosine") === col("a.cosine") &&
            col("b.vec_id") < col("a.vec_id")), "left")
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg((count(col("b.vec_id")) + 1L).as(rname))
  }

  /** The sign-bit Hamming fold — [[binaryTop10]]'s oracle twin,
    * shared by e151 and e152 (expects `e`/`q` relation aliases).
    */
  private val binHamSql =
    """list_reduce(list_transform(generate_series(1, 64),
        fi -> CASE WHEN (e.embedding[fi] >= 0) <> (q.qe[fi] >= 0)
          THEN 1 ELSE 0 END), (acc, x) -> acc + x)"""

  /** Rank over a tiny top-k CTE by (cosine desc, vec_id) — the oracle
    * twin of [[rankTiny]], shared by e146 and e152.
    */
  private def rankSql(src: String, rname: String) =
    s"""SELECT a.vec_id, 1 + count(b.vec_id) AS $rname
       FROM $src a LEFT JOIN $src b
         ON b.cosine > a.cosine
           OR (b.cosine = a.cosine AND b.vec_id < a.vec_id)
       GROUP BY 1"""

  /** e167: fixed-point scale for squared-error summation. err ≤ s/2 =
    * max|x|/254, so err²·1e14 stays well under 2^63 across the corpus
    * at unit-norm-ish embeddings.
    */
  private val sseScale = 1e14

  /** Structural traversal that descends into AdaptiveSparkPlanExec —
    * plain `collect` treats the AQE wrapper as a leaf (the r18
    * PlanAuditSpec lesson), and c48's dropDuplicates exchange makes
    * its probe plan adaptive where e178's TakeOrdered form is not.
    */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p +: (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        planNodes(a.executedPlan)
      case other => other.children.flatMap(planNodes)
    })

  /** Selected (post-pruning) file listing of every scan in the plan. */
  private[queries] def scannedFiles(df: DataFrame): Seq[String] =
    planNodes(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.map(_.filePath.toString).toSeq
    }.flatten

  /** The query vector (vec_id 0, one driver row — the ivfTopK qScore
    * discipline) and its `nprobe` best cells via
    * [[graft.operators.VectorIndex.probeCells]] — the same total
    * order the oracle's ORDER BY s DESC, j DESC realizes. Shared by
    * e178/c48/e181.
    */
  private[queries] def probeCells(s: SparkSession, dir: String,
      cents: Seq[Seq[Float]], nprobe: Int): (Seq[Float], Seq[Int]) = {
    val q = t(s, dir, "embeddings").where(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    (q, VectorIndex.probeCells(q, cents, nprobe))
  }

  val judged: Seq[Judged] = Seq(
    // Int8 scalar quantization of embeddings (the 4x storage-compression
    // pass before ANN indexing): per-vector absmax scale, elements
    // floor(x*127/mx), plus a fixed-point reconstruction-error total.
    // Every element op is IEEE double arithmetic in the same order on
    // both engines; the error sum is floor(err*1e7) in BIGINT so it is
    // order-independent. Quantized vectors are serialized to a string
    // (the comparator cannot hash list cells). Narrow map stage — no
    // shuffle, linear at any corpus size
    Judged("e18_quantize", (s, dir) => {
      val qexpr = (x: org.apache.spark.sql.Column) =>
        floor(x * lit(127.0) / col("mx"))
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("vd"))
        .select(col("vec_id"), col("vd"),
          array_max(transform(col("vd"), x => abs(x))).as("mx"))
        .select(col("vec_id"), col("mx"),
          when(col("mx") === 0.0, lit(""))
            .otherwise(array_join(
              transform(col("vd"), x => qexpr(x).cast("int")), ","))
            .as("q_str"),
          when(col("mx") === 0.0, lit(0L))
            .otherwise(aggregate(
              transform(col("vd"), x =>
                floor(abs(x - qexpr(x) * col("mx") / lit(127.0)) * lit(1e7))
                  .cast("long")),
              lit(0L), (acc, e) => acc + e))
            .as("err_fp"))
    },
      """WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
          FROM embeddings),
          m AS (SELECT vec_id, vd,
            list_max(list_transform(vd, x -> abs(x))) AS mx FROM v)
          SELECT vec_id, mx,
            CASE WHEN mx = 0.0 THEN '' ELSE array_to_string(
              list_transform(vd,
                x -> CAST(floor(x * 127.0 / mx) AS INTEGER)), ',') END
              AS q_str,
            CASE WHEN mx = 0.0 THEN CAST(0 AS BIGINT) ELSE CAST(list_sum(
              list_transform(vd, x -> CAST(floor(abs(
                x - floor(x * 127.0 / mx) * mx / 127.0) * 1e7)
                AS BIGINT))) AS BIGINT) END AS err_fp
          FROM m"""),

    // Element-wise mean pooling of embeddings per label (first 8 dims
    // judged): posexplode → group by (label, dim) — the centroid
    // construction IVF training runs; fixed-point sums keep the means
    // exact under any aggregation order
    Judged("e23_mean_pool", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")))
        .where(col("pos") < 8)
        .select(col("label"), col("pos").cast("long").as("pos"),
          floor(col("col").cast("double") * lit(1e7)).cast("long").as("q"))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
        .select(col("label"), col("pos"), col("n"),
          (col("sq").cast("double") / lit(1e7) / col("n")).as("mean_v")),
      """WITH x AS (SELECT label, t.pos AS pos,
           CAST(floor(CAST(embedding[CAST(t.pos + 1 AS INT)] AS DOUBLE) * 1e7)
             AS BIGINT) AS q
         FROM embeddings, unnest(range(0, 8)) AS t(pos))
         SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos,
           count(*) AS n,
           CAST(SUM(q) AS DOUBLE) / 1e7 / count(*) AS mean_v
         FROM x GROUP BY label, pos"""),

    // Embedding coverage + mean L2 per corpus slice: documents ⟕
    // embeddings on id — the audit a multimodal corpus runs to find
    // slices missing vectors. Fixed-point norm sums keep the per-lang
    // means exact; at scale both sides are large so the id join shuffles
    // (no broadcast hint on purpose)
    Judged("e27_embed_coverage", (s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"),
        floor(sqrt(graft.operators.Similarity.dot(col("embedding"),
          col("embedding"))) * lit(1e7)).cast("long").as("l2q"))
      t(s, dir, "documents").select("doc_id", "lang")
        .join(emb, col("doc_id") === col("vec_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count(col("l2q")).as("n_with_emb"),
          (sum(col("l2q")).cast("double") / lit(1e7) / count(col("l2q")))
            .as("avg_l2"))
    },
      s"""WITH e AS (SELECT vec_id,
            CAST(floor(sqrt(${foldDot("embedding",
              "embedding")}) * 1e7) AS BIGINT) AS l2q
          FROM embeddings)
          SELECT lang, count(*) AS n_docs, count(l2q) AS n_with_emb,
            CAST(SUM(l2q) AS DOUBLE) / 1e7 / count(l2q) AS avg_l2
          FROM documents d LEFT JOIN e ON d.doc_id = e.vec_id
          GROUP BY lang"""),

    // Recall@10 of the LSH-bucketed ANN against the exact scan — the
    // accuracy/cost check an ANN deployment publishes alongside its
    // index. Both sides reuse the judged query definitions verbatim
    Judged("e24_ann_recall", (s, dir) => {
      val exact = SparkEntry.queries("e2_topk_double")(s, dir)
        .select("vec_id")
      val approx = SparkEntry.queries("e2_lsh_topk")(s, dir)
        .select("vec_id")
      exact.join(approx, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(10L).as("k"), col("n_hit"),
          (col("n_hit").cast("double") / lit(10.0)).as("recall"))
    },
      s"""WITH ex AS (${doubleCosineSql}),
          ap AS (${lshSql})
          SELECT CAST(10 AS BIGINT) AS k, count(*) AS n_hit,
            CAST(count(*) AS DOUBLE) / 10.0 AS recall
          FROM ex WHERE vec_id IN (SELECT vec_id FROM ap)"""),

    // Brute-force cosine top-10 with engine-portable decimal arithmetic
    Judged("e2_topk", (s, dir) =>
      t(s, dir, "embeddings").where(col("vec_id") =!= 0)
        .crossJoin(queryVec(s, dir))
        .select(col("vec_id"),
          Similarity.cosineExact(col("embedding"), col("qe")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10),
      topkSql),

    // FILTERED top-k — the RAG/hybrid-retrieval shape: a metadata
    // predicate restricts the corpus BEFORE any scoring work (here
    // label % 3; in production a partition/zone-map-prunable column),
    // then exact cosine ranks the survivors. The filter sits under the
    // projection in the same WholeStageCodegen span, so at 100 TB the
    // scan prunes first and the expensive arithmetic runs only on the
    // filtered fraction — never score-then-filter.
    Judged("e52_filtered_topk", (s, dir) =>
      t(s, dir, "embeddings")
        .where(col("vec_id") =!= 0 && col("label") % 3 === 0)
        .crossJoin(queryVec(s, dir))
        .select(col("vec_id"), col("label").cast("long").as("label"),
          Similarity.cosineExact(col("embedding"), col("qe")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10),
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
          FROM p ORDER BY cosine DESC, vec_id LIMIT 10"""),

    // BATCH retrieval — every ANN shape above serves ONE query vector;
    // production retrieval joins a whole query SET against the corpus
    // in one pass. Both sides are LSH-bucketed once; the bucket
    // equi-join (query side broadcast: a query batch is MBs at any
    // corpus scale) scores only bucket mates, and the per-query top-3
    // rank plans as WindowGroupLimit — each partition forwards at most
    // 3 rows per query before the exchange. Work: one corpus scan for
    // the whole batch, never queries × corpus.
    Judged("e56_batch_ann", (s, dir) => {
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
    },
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
          FROM r WHERE rk <= 3"""),

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
    Judged("e60_knn_classify", (s, dir) => {
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
    },
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
          FROM w WHERE pk = 1"""),

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
    Judged("e83_rerank_audit", (s, dir) => {
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
    },
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
          FROM r2 GROUP BY query_id"""),

    // Production double-arithmetic variant (rows-only check):
    // scan → map → TakeOrderedAndProject, no exchange
    Judged("e2_topk_double", (s, dir) =>
      t(s, dir, "embeddings").where(col("vec_id") =!= 0)
        .crossJoin(queryVec(s, dir))
        .select(col("vec_id"),
          Similarity.cosine(col("embedding"), col("qe")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10),
      doubleCosineSql),

    // Native-codegen variant: same plan as e2_topk_double but scoring
    // through the FloatVecDot Catalyst expression (bit-identical math,
    // no per-row zipped-array allocation); rows-only for the same
    // float-order reason
    Judged("e2_topk_native", (s, dir) => {
      t(s, dir, "embeddings").where(col("vec_id") =!= 0)
        .crossJoin(queryVec(s, dir))
        .select(col("vec_id"),
          Similarity.cosineNative(col("embedding"), col("qe")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    },
      doubleCosineSql),

    // Embedding-cosine near-dup pairs: bucket equi-join + threshold,
    // the embedding-space dedup method (never all-pairs). Pair scoring
    // goes through the native codegen vec_dot — bit-identical fold to
    // Similarity.dot, so the oracle is unchanged
    Judged("e1_embed_neardup", (s, dir) => {
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"),
        "vec_id", "embedding", nPlanes = 4, dim = 64, minCosine = 0.25,
        dotFn = (a, b) => call_function("vec_dot", a, b))
    },
      {
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
    }),

    // Per-vector L2 norm — the normalization pass every embedding
    // pipeline runs before cosine search (norm precomputation turns
    // later cosines into plain dots). Narrow map, no exchange.
    Judged("e2_norms", (s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"),
        sqrt(Similarity.dot(col("embedding"), col("embedding"))).as("l2")),
      s"""SELECT vec_id, sqrt(${foldDot("embedding", "embedding")}) AS l2
          FROM embeddings"""),

    // IVF ANN: corpus assigned to its nearest synthetic centroid (the
    // inverted-file cell), probe confined to the query's cell, exact
    // cosine within. At 100 TB the corpus is written partitioned by
    // cell so a probe reads only its partitions.
    Judged("e2_ivf", (s, dir) => {
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
    },
      ivfSql),

    // IVF multi-probe (nprobe=2): the query probes its two best cells,
    // widening the candidate pool past cell boundaries — recall@k is
    // provably non-decreasing vs single-probe (any true top-k member in
    // the pool survives: at most k-1 vectors anywhere beat it). Cost is
    // nprobe cells scanned instead of one; at 100 TB the corpus stays
    // partitioned by cell and a probe reads nprobe partitions.
    Judged("e33_ivf_probe2", (s, dir) => {
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
    },
      ivfMulti2Sql),

    // LSH-bucketed ANN: corpus hashed once, search confined to the
    // query's bucket (rows-only check; recall-vs-cost documented)
    Judged("e2_lsh_topk", (s, dir) => {
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
    },
      lshSql),

    // One k-means Lloyd UPDATE step: assign every vector to its nearest
    // centroid (the IVF cell — same assignment expression), then the
    // new centroid = exact fixed-point per-(cell, dim) mean, e23-style
    // (first 8 dims judged; full width is the same plan). Plan: narrow
    // assignment map → posexplode → one hash exchange on (cell, dim) —
    // the canonical distributed k-means iteration, reproducible at any
    // parallelism because the sums are integers
    Judged("e40_kmeans_step", (s, dir) => {
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
    },
      s"""WITH a AS (SELECT vec_id, embedding,
              ${ivfCellSql("embedding")} AS cell FROM embeddings),
          x AS (SELECT cell, t.pos AS pos,
              CAST(floor(CAST(embedding[CAST(t.pos + 1 AS INT)] AS DOUBLE)
                * 1e7) AS BIGINT) AS q
            FROM a, unnest(range(0, 8)) AS t(pos))
          SELECT CAST(cell AS BIGINT) AS cell, CAST(pos AS BIGINT) AS pos,
            count(*) AS n, CAST(SUM(q) AS DOUBLE) / 1e7 / count(*) AS mean_v
          FROM x GROUP BY cell, pos"""),

    // Per-dimension corpus statistics (the whitening/standardization
    // prep before PCA or feature scaling): mean and variance of every
    // embedding dimension from exact integer moment sums — one narrow
    // posexplode and one hash exchange on the 64 dims
    Judged("e41_dim_stats", (s, dir) =>
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
            (col("sq").cast("double") / lit(1e7) / col("n"))).as("var_v")),
      """WITH x AS (SELECT t.pos AS pos,
             CAST(floor(CAST(embedding[CAST(t.pos + 1 AS INT)] AS DOUBLE)
               * 1e7) AS BIGINT) AS q
           FROM embeddings, unnest(range(0, 64)) AS t(pos))
         SELECT CAST(pos AS BIGINT) AS pos, count(*) AS n,
           CAST(SUM(q) AS DOUBLE) / 1e7 / count(*) AS mean_v,
           (CAST(SUM(q*q) AS DOUBLE) / 1e14 / count(*)) -
             (CAST(SUM(q) AS DOUBLE) / 1e7 / count(*)) *
             (CAST(SUM(q) AS DOUBLE) / 1e7 / count(*)) AS var_v
         FROM x GROUP BY pos"""),

    // Recall@10 of single-probe vs two-probe IVF against the exact
    // scan — the measured evidence that multi-probe buys recall at a
    // fixed cell count (provably n_hit2 ≥ n_hit1: the two-probe
    // candidate pool contains the one-probe pool, and any true top-10
    // member in a pool is always in that pool's top-10)
    Judged("e34_ivf_recall", (s, dir) => {
      import org.apache.spark.sql.functions._
      val exact = SparkEntry.queries("e2_topk_double")(s, dir)
        .select("vec_id")
      val p1 = SparkEntry.queries("e2_ivf")(s, dir).select("vec_id")
      val p2 = SparkEntry.queries("e33_ivf_probe2")(s, dir)
        .select("vec_id")
      exact.join(p1, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit1"))
        .crossJoin(exact.join(p2, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit2")))
        .select(lit(10L).as("k"), col("n_hit1"), col("n_hit2"),
          (col("n_hit1").cast("double") / lit(10.0)).as("recall_1probe"),
          (col("n_hit2").cast("double") / lit(10.0)).as("recall_2probe"),
          (col("n_hit2") >= col("n_hit1")).as("multiprobe_no_worse"))
    },
      s"""WITH ex AS (${doubleCosineSql}),
          a1 AS (${ivfSql}),
          a2 AS (${ivfMulti2Sql})
          SELECT CAST(10 AS BIGINT) AS k,
            (SELECT count(*) FROM ex
             WHERE vec_id IN (SELECT vec_id FROM a1)) AS n_hit1,
            (SELECT count(*) FROM ex
             WHERE vec_id IN (SELECT vec_id FROM a2)) AS n_hit2,
            CAST((SELECT count(*) FROM ex
             WHERE vec_id IN (SELECT vec_id FROM a1)) AS DOUBLE) / 10.0
              AS recall_1probe,
            CAST((SELECT count(*) FROM ex
             WHERE vec_id IN (SELECT vec_id FROM a2)) AS DOUBLE) / 10.0
              AS recall_2probe,
            (SELECT count(*) FROM ex WHERE vec_id IN (SELECT vec_id FROM a2))
              >= (SELECT count(*) FROM ex
                  WHERE vec_id IN (SELECT vec_id FROM a1))
              AS multiprobe_no_worse"""),

    // Deterministic RANDOM PROJECTION (Achlioptas ±1 signs) — the
    // dimensionality-reduction step before clustering/visualizing
    // embeddings at scale. The sign matrix is derived from md5, not an
    // RNG, so it is identical on every engine, executor, and retry —
    // the property that makes a 100 TB projection reproducible across
    // task re-runs. Elements are floor-quantized to 1e-4 fixed point;
    // each output coordinate is an exact BIGINT dot product. The sign
    // matrix (64×8 rows) is broadcast; the corpus side is one narrow
    // posexplode → join → hash-agg on (vec_id, dim) — no shuffle of
    // the raw vectors
    Judged("e57_random_projection", (s, dir) => {
      val q = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("j"),
          floor(col("col").cast("double") * lit(10000.0)).cast("long")
            .as("qx"))
      val signs = s.range(1, 65).select(col("id").as("j"))
        .crossJoin(s.range(0, rpDims).select(col("id").as("i")))
        .select(col("j"), col("i"),
          when(substring(md5(concat(col("i").cast("string"), lit("_"),
            col("j").cast("string"))), 1, 1) < "8", 1L)
            .otherwise(-1L).as("sgn"))
      q.join(broadcast(signs), Seq("j"))
        .groupBy(col("vec_id"), col("i"))
        .agg(sum(col("qx") * col("sgn")).as("p"))
        .select(col("vec_id"), col("i").as("dim"), col("p"))
    },
      """WITH q AS (
           SELECT vec_id, g.i AS j,
                  CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 10000.0)
                    AS BIGINT) AS qx
           FROM embeddings, generate_series(1, 64) AS g(i)),
           sg AS (
             SELECT gj.j, gi.i,
                    CASE WHEN substr(md5(CAST(gi.i AS VARCHAR) || '_' ||
                      CAST(gj.j AS VARCHAR)), 1, 1) < '8'
                    THEN 1 ELSE -1 END AS sgn
             FROM generate_series(1, 64) AS gj(j),
                  generate_series(0, 7) AS gi(i))
         SELECT q.vec_id, sg.i AS dim, CAST(SUM(qx * sgn) AS BIGINT) AS p
         FROM q JOIN sg ON q.j = sg.j
         GROUP BY 1, 2"""),

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
    Judged("e64_semdedup", (s, dir) => {
      val cents = Similarity.syntheticCentroids(ivfN, 64)
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
    },
      {
      val cell = ivfCellSql("embedding")
      val score = ivfMaxScoreSql("embedding")
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
    }),

    // Product quantization (PQ) encode — the memory-side half of
    // IVF-PQ ANN: each embedding compresses to M=4 sub-codebook ids
    // (here 2 bits each; 8 bits in production → 64-dim float32 = 256 B
    // shrinks to M bytes, the factor that lets 100 TB of vectors sit in
    // cluster RAM). Assignment = per-subspace argmax cosine against the
    // sub-codebook (ties to the higher code, the ivfCell total order);
    // cohesion_c is the floor-quantized sum of best-cosines — the
    // monitoring signal codebook training would maximize. One narrow
    // scan, all plan literals: no shuffle, no join, codegen end to end
    Judged("e67_pq", (s, dir) => {
      val v = col("embedding")
      t(s, dir, "embeddings").select(col("vec_id"),
        pqCodeCol(v, 0).as("code_0"), pqCodeCol(v, 1).as("code_1"),
        pqCodeCol(v, 2).as("code_2"), pqCodeCol(v, 3).as("code_3"),
        floor((pqBestCol(v, 0) + pqBestCol(v, 1) + pqBestCol(v, 2) +
          pqBestCol(v, 3)) * 1e6).cast("long").as("cohesion_c"))
    },
      {
      val scores = (0 until pqM).flatMap { m =>
        (0 until pqK).map(j => s"${pqCosSql("embedding", m, j)} AS s${m}_$j")
      }.mkString(",\n              ")
      val bests = (0 until pqM)
        .map(m => s"GREATEST(${(0 until pqK).map(j => s"s${m}_$j").mkString(", ")})")
        .mkString(" + ")
      s"""WITH sc AS (SELECT vec_id,
              $scores
            FROM embeddings)
          SELECT vec_id,
            CAST(${pqCodeSql(0)} AS BIGINT) AS code_0,
            CAST(${pqCodeSql(1)} AS BIGINT) AS code_1,
            CAST(${pqCodeSql(2)} AS BIGINT) AS code_2,
            CAST(${pqCodeSql(3)} AS BIGINT) AS code_3,
            CAST(floor(($bests) * 1e6) AS BIGINT) AS cohesion_c
          FROM sc"""
    }),

    // IVF-PQ retrieval, the ADC (asymmetric distance computation) half:
    // the query's 16 sub-cosines against every sub-codebook entry are
    // computed ONCE into a lookup table that lives in the broadcast
    // 1-row query frame; each corpus row then scores as 4 table lookups
    // selected by its PQ codes — no per-pair vector arithmetic at all.
    // That table-lookup structure is what makes PQ search memory-bound
    // rather than compute-bound at 100 TB: the corpus side touches only
    // M code bytes per row, the float vectors never leave storage.
    // Approximation error vs exact cosine is the PQ reconstruction
    // error (bounded by e67's cohesion); recall audits ride e24/e34
    Judged("e69_pq_adc", (s, dir) => {
      val luts = (0 until pqM).flatMap { m =>
        (0 until pqK).map(j =>
          pqSubCosCol(col("qe"), m, j).as(s"lut_${m}_$j"))
      }
      val q = broadcast(t(s, dir, "embeddings").where(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
        .select(Seq(col("qe")) ++ luts: _*))
      val v = col("embedding")
      val codes = t(s, dir, "embeddings").where(col("vec_id") =!= 0)
        .select(col("vec_id"),
          pqCodeCol(v, 0).as("code_0"), pqCodeCol(v, 1).as("code_1"),
          pqCodeCol(v, 2).as("code_2"), pqCodeCol(v, 3).as("code_3"))
      def lutSel(m: Int) = {
        val c = col(s"code_$m")
        when(c === 0, col(s"lut_${m}_0"))
          .when(c === 1, col(s"lut_${m}_1"))
          .when(c === 2, col(s"lut_${m}_2"))
          .otherwise(col(s"lut_${m}_3"))
      }
      codes.crossJoin(q)
        .select(col("vec_id"),
          (lutSel(0) + lutSel(1) + lutSel(2) + lutSel(3)).as("adc"))
        .orderBy(col("adc").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"),
          floor(col("adc") * 1e6).cast("long").as("adc_c"))
    },
      {
      val luts = (0 until pqM).flatMap { m =>
        (0 until pqK).map(j =>
          s"${pqCosSql("embedding", m, j)} AS lut_${m}_$j")
      }.mkString(",\n              ")
      val scores = (0 until pqM).flatMap { m =>
        (0 until pqK).map(j => s"${pqCosSql("embedding", m, j)} AS s${m}_$j")
      }.mkString(",\n              ")
      val codes = (0 until pqM)
        .map(m => s"${pqCodeSql(m)} AS code_$m").mkString(",\n              ")
      val sel = (0 until pqM).map { m =>
        s"""CASE c.code_$m WHEN 0 THEN q.lut_${m}_0 WHEN 1 THEN q.lut_${m}_1
            WHEN 2 THEN q.lut_${m}_2 ELSE q.lut_${m}_3 END"""
      }.mkString(" + ")
      s"""WITH q AS (SELECT embedding AS qe,
              $luts
            FROM embeddings WHERE vec_id = 0),
          sc AS (SELECT vec_id,
              $scores
            FROM embeddings WHERE vec_id <> 0),
          codes AS (SELECT vec_id,
              $codes
            FROM sc),
          a AS (SELECT c.vec_id, ($sel) AS adc FROM codes c, q)
          SELECT vec_id, CAST(floor(adc * 1e6) AS BIGINT) AS adc_c
          FROM a ORDER BY adc DESC, vec_id LIMIT 10"""
    }),

    // MARGIN-BASED MINING between two embedding populations (labels 0
    // and 1 standing in for two languages/domains): for every source
    // vector, its best candidate and the margin over the runner-up —
    // the standard accept/reject signal for mined parallel pairs.
    // Candidate side is broadcast (a candidate batch is MBs at any
    // corpus scale); at corpus×corpus scale both sides go through the
    // LSH bucket join exactly as e56_batch_ann — the margin criterion
    // composes unchanged on top of any candidate generator.
    // Pair scoring is the native codegen vec_dot (sequential double
    // fold, bit-equal to the oracle's list_reduce); self-norms are
    // hoisted into per-row projections BELOW the join so each pair
    // pays exactly one 64-wide fold + one divide — at pairs =
    // |A|·|B| scale the unhoisted form triples the dominant cost. The
    // source side is repartitioned to cluster parallelism (a filtered
    // small read is one split; the pair loop must not run one-core).
    Judged("e72_bitext_margin", (s, dir) => {
      val a = emb(s, dir).where(col("label") === 0)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id").as("a_id"), col("embedding").as("ae"),
          sqrt(call_function("vec_dot", col("embedding"), col("embedding")))
            .as("sna"))
      val b = emb(s, dir).where(col("label") === 1)
        .select(col("vec_id").as("b_id"), col("embedding").as("be"),
          sqrt(call_function("vec_dot", col("embedding"), col("embedding")))
            .as("snb"))
      val scored = a.crossJoin(broadcast(b))
        .select(col("a_id"), col("b_id"),
          (call_function("vec_dot", col("ae"), col("be")) /
            (col("sna") * col("snb"))).as("cosine"))
      val w = Window.partitionBy("a_id")
        .orderBy(col("cosine").desc, col("b_id"))
      scored
        .withColumn("rn", row_number().over(w))
        .withColumn("runner_up", lead(col("cosine"), 1).over(w))
        .where(col("rn") === 1)
        .select(col("a_id"), col("b_id"), col("cosine"),
          (col("cosine") - col("runner_up")).as("margin"))
    },
      s"""WITH a AS (SELECT vec_id AS a_id, embedding AS ae,
              sqrt(${foldDot("embedding", "embedding")})
                AS sna
            FROM embeddings WHERE label = 0),
          b AS (SELECT vec_id AS b_id, embedding AS be,
              sqrt(${foldDot("embedding", "embedding")})
                AS snb
            FROM embeddings WHERE label = 1),
          sc AS (SELECT a_id, b_id,
              ${foldDot("ae", "be")} / (sna * snb)
                AS cosine
            FROM a, b),
          r AS (SELECT a_id, b_id, cosine,
              row_number() OVER w AS rn,
              lead(cosine) OVER w AS runner_up
            FROM sc WINDOW w AS (PARTITION BY a_id
              ORDER BY cosine DESC, b_id))
          SELECT a_id, b_id, cosine, cosine - runner_up AS margin
          FROM r WHERE rn = 1"""),

    // HARD-NEGATIVE MINING for contrastive training: per query vector,
    // the top-3 most similar vectors with a DIFFERENT label — similar
    // enough to be informative, guaranteed-wrong by construction. The
    // tiny query batch broadcasts; the label predicate prunes inside
    // the same codegen span as the scoring, and the per-query top-3
    // plans as WindowGroupLimit (each partition forwards ≤3 rows per
    // query before the exchange).
    // Same native-fold + hoisted-norm shape as e72: the corpus side is
    // the stream side of the broadcast join (repartitioned to cluster
    // parallelism); per (query, corpus-row) pair the cost is one
    // codegen fold. Per-query work is inherently linear in the corpus
    // — the 100 TB route swaps the exact scorer for the e56 LSH bucket
    // candidate generator (recall audited by e24/e34) with this exact
    // ranking unchanged on the candidates.
    Judged("e75_hard_negatives", (s, dir) => {
      val q = broadcast(emb(s, dir).where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("embedding").as("qe"),
          sqrt(call_function("vec_dot", col("embedding"), col("embedding")))
            .as("snq")))
      val corpus = emb(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), col("label"), col("embedding"),
          sqrt(call_function("vec_dot", col("embedding"), col("embedding")))
            .as("snc"))
      val scored = corpus
        .join(q, col("label") =!= col("qlabel"))
        .select(col("query_id"), col("vec_id"),
          (call_function("vec_dot", col("embedding"), col("qe")) /
            (col("snc") * col("snq"))).as("cosine"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
    },
      s"""WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
              embedding AS qe,
              sqrt(${foldDot("embedding", "embedding")})
                AS snq
            FROM embeddings WHERE vec_id % 100 = 0),
          c AS (SELECT vec_id, label, embedding,
              sqrt(${foldDot("embedding", "embedding")})
                AS snc
            FROM embeddings),
          sc AS (SELECT q.query_id, c.vec_id,
              ${foldDot("c.embedding", "q.qe")}
                / (snc * snq) AS cosine
            FROM c JOIN q ON c.label <> q.qlabel),
          r AS (SELECT query_id, vec_id, cosine,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, vec_id) AS rank
            FROM sc)
          SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 3"""),

    // CENTROID-DISTANCE OUTLIERS: per-label centroid (fixed-point
    // sums, same construction as e23_mean_pool), then each vector's
    // squared distance to its own centroid, top-3 farthest per label —
    // the embedding-space pruning pass that drops mislabeled/garbage
    // rows before training. Two hash exchanges total (dim-wise centroid
    // agg, per-vector distance agg); the centroid frame is
    // labels×dims = tiny, so the join broadcasts.
    Judged("e73_centroid_outliers", (s, dir) => {
      val x = emb(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          posexplode(col("embedding")))
        .select(col("vec_id"), col("label"), col("pos"),
          col("col").cast("double").as("x"))
      val cent = x.groupBy("label", "pos").agg(
        count(lit(1)).as("n"),
        sum(floor(col("x") * lit(1e7)).cast("long")).as("sq"))
        .select(col("label"), col("pos"),
          (col("sq").cast("double") / lit(1e7) / col("n")).as("mean_v"))
      val d = x.join(broadcast(cent), Seq("label", "pos"))
        .select(col("vec_id"), col("label"),
          floor(pow(col("x") - col("mean_v"), 2) * lit(1e7))
            .cast("long").as("d2q"))
        .groupBy("vec_id", "label").agg(sum(col("d2q")).as("s"))
      val w = Window.partitionBy("label")
        .orderBy(col("s").desc, col("vec_id"))
      d.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select(col("vec_id"), col("label"),
          (col("s").cast("double") / lit(1e7)).as("dist2"), col("rank"))
    },
      """WITH x AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
              g.i AS pos, CAST(embedding[g.i] AS DOUBLE) AS x
            FROM embeddings, generate_series(1, 64) AS g(i)),
          cent AS (SELECT label, pos, count(*) AS n,
              SUM(CAST(floor(x * 1e7) AS BIGINT)) AS sq
            FROM x GROUP BY label, pos),
          d AS (SELECT x.vec_id, x.label,
              SUM(CAST(floor(pow(x.x - CAST(sq AS DOUBLE) / 1e7 / n, 2)
                * 1e7) AS BIGINT)) AS s
            FROM x JOIN cent ON x.label = cent.label AND x.pos = cent.pos
            GROUP BY x.vec_id, x.label),
          r AS (SELECT vec_id, label, s,
              row_number() OVER (PARTITION BY label
                ORDER BY s DESC, vec_id) AS rank
            FROM d)
          SELECT vec_id, label, CAST(s AS DOUBLE) / 1e7 AS dist2, rank
          FROM r WHERE rank <= 3"""),

    // `e2_ivf_trained` — IVF ANN with centroids TRAINED by 2 Lloyd's
    // k-means iterations expressed as DataFrame algebra
    // (`Similarity.trainIvfCentroids`); fixed-point arithmetic makes
    // training bit-reproducible, and the oracle re-derives the same
    // centroids in SQL.
    //
    // IVF with TRAINED centroids: 2 Lloyd's k-means iterations as
    // DataFrame algebra (assign = codegen'd projection vs broadcast
    // literals; update = ONE hash exchange on (cell, dim) with exact
    // integer sums) seeded from the synthetic centroid set, then the
    // standard IVF probe (query's cell only, exact cosine within).
    // Fixed-point scoring makes training bit-reproducible at any
    // parallelism and lets the oracle transcribe the SAME recipe in
    // SQL — trained centroids are data-dependent, so the oracle
    // re-derives them rather than baking literals. Measured on a
    // 20-probe set at sf0.01 (single-probe IVF, k=4): mean recall@10
    // 0.445 trained vs 0.410 synthetic, with better-balanced cells
    // (129/109/136/126 vs 114/106/150/130); 2 iterations beat both 1
    // (0.415) and 3 (0.435), hence iters = 2.
    Judged("e2_ivf_trained", (s, dir) => {
      val corpus = t(s, dir, "embeddings").where(col("vec_id") =!= 0)
      val trained = trainedCentroids(s, dir)
      val withCell = corpus.withColumn("__cell",
        graft.operators.Similarity.ivfCellFixed(col("embedding"), trained))
      val q = t(s, dir, "embeddings").where(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
        .select(col("qe"), graft.operators.Similarity
          .ivfCellFixed(col("qe"), trained).as("__qcell"))
      withCell.join(broadcast(q), col("__cell") === col("__qcell"))
        .select(col("vec_id"),
          graft.operators.Similarity.cosine(col("embedding"), col("qe"))
            .as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    },
      ivfTrainedOracle),

    // Clustering-quality audit: per-cell mean simplified silhouette
    // over the TRAINED cells (see [[silhouette]]) — the report that
    // separates real cluster structure from noise before committing
    // an IVF layout or semantic-dedup pass to a corpus snapshot.
    Judged("e109_silhouette", (s, dir) => silhouette(s, dir),
      silhouetteOracle),

    // MATRYOSHKA truncation-recall audit (the public MRL question:
    // how much of exact top-k survives scoring on a dim PREFIX of
    // the embedding): ONE corpus scoring pass computes the query
    // cosine at prefix dims 8/16/32 AND full 64 (same left-to-right
    // fold at every width, so both engines see identical doubles),
    // then four TakeOrdered top-10s off the persisted frame — no
    // second corpus pass, no full sort. The report a team truncating
    // stored vectors for memory reads before committing to a width.
    Judged("e129_matryoshka_recall", (s, dir) => {
      import graft.operators.Similarity
      val dims = Seq(8, 16, 32)
      val scored = t(s, dir, "embeddings").where(col("vec_id") =!= 0)
        .crossJoin(queryVec(s, dir))
        .select(col("vec_id") +: (dims :+ 64).map(m =>
          Similarity.cosine(slice(col("embedding"), 1, m),
            slice(col("qe"), 1, m)).as(s"cos_$m")): _*)
        .persist()
      def top10(m: Int) = scored
        .orderBy(col(s"cos_$m").desc, col("vec_id")).limit(10)
        .select(col("vec_id"))
      val full = top10(64)
      // the recall table is 3 rows: materialize it eagerly
      // (localCheckpoint truncates lineage to those rows — the
      // Dedup.scala pattern) so the corpus-sized scored cache can be
      // dropped HERE instead of dragging in executor memory until LRU
      // eviction across the rest of a 300-query bench process
      val res = dims.map { m =>
        full.join(top10(m), Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
          .select(lit(m.toLong).as("m_dims"), col("n_hit"),
            (col("n_hit").cast("double") / lit(10.0)).as("recall"))
      }.reduce(_ unionAll _).localCheckpoint(true)
      scored.unpersist()
      res
    },
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings
                     WHERE vec_id = 0),
          top8 AS ${topMSql(8)},
          top16 AS ${topMSql(16)},
          top32 AS ${topMSql(32)},
          top64 AS ${topMSql(64)}
          ${matryoshkaBranchSql(8)}
          UNION ALL ${matryoshkaBranchSql(16)}
          UNION ALL ${matryoshkaBranchSql(32)}"""),

    // `e135_hubness` — kNN-graph in-degree audit over the embedding column:
    // how often each corpus vector appears in the top-10 of a FIXED
    // 63-query probe panel (the k-occurrence distribution whose right tail
    // — hub vectors — degrades ANN recall; Radovanović et al.'s hubness
    // phenomenon). e129 measures truncation RECALL of one query; this
    // measures neighbor CONCENTRATION across a panel. Probe panel is
    // fixed-size, so the scoring join is corpus × broadcast-63 at any
    // scale.
    //
    // Hubness: score the corpus against a FIXED 63-vector probe panel
    // (vec_id 1..63 — fixed size at any corpus scale, so the scoring
    // join is corpus × broadcast-63), take each probe's cosine top-10
    // (windows partitioned per probe), and report the k-occurrence
    // distribution including the orphan (in-degree 0) mass. Cosine is
    // the plain left-to-right double fold the e2_topk_double oracle
    // already replays exactly.
    Judged("e135_hubness", (s, dir) => {
      val emb = normedEmb(s, dir)
      val qs = probePanel(emb)
      val sc = emb.join(qs, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), probeCos.as("cos"))
      val top = sc.withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
        .where(col("rk") <= 10)
      // the histogram (≤ 64 rows) feeds BOTH union branches; eager
      // materialization keeps the corpus × 63 scoring pass at ONE run
      val hist = top.groupBy("vec_id").agg(count(lit(1)).as("k_occ"))
        .groupBy(col("k_occ").as("in_degree"))
        .agg(count(lit(1)).as("n_vecs"))
        .localCheckpoint(true)
      val tot = broadcast(emb.agg(count(lit(1)).as("n_corpus")))
      val zero = hist.agg(sum(col("n_vecs")).as("n_hit"))
        .crossJoin(tot)
        .select(lit(0L).as("in_degree"),
          (col("n_corpus") - col("n_hit")).as("n_vecs"))
      hist.select(col("in_degree"), col("n_vecs")).unionAll(zero)
    },
      {
      val dot = foldDot("e.embedding", "q.qe")
      val na = foldDot("e.embedding", "e.embedding")
      val nb = foldDot("q.qe", "q.qe")
      s"""WITH qs AS (
           SELECT vec_id AS qid, embedding AS qe FROM embeddings
           WHERE vec_id BETWEEN $probeLo AND $probeHi),
         sc AS (
           SELECT q.qid, e.vec_id,
             $dot / (sqrt($na) * sqrt($nb)) AS cos
           FROM embeddings e, qs q
           WHERE e.vec_id <> 0 AND e.vec_id <> q.qid),
         top AS (
           SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
             ORDER BY cos DESC, vec_id) AS rk FROM sc),
         deg AS (SELECT vec_id, count(*) AS k_occ
           FROM top WHERE rk <= 10 GROUP BY 1),
         hist AS (SELECT k_occ AS in_degree,
             CAST(count(*) AS BIGINT) AS n_vecs FROM deg GROUP BY 1),
         tot AS (SELECT count(*) AS n_corpus FROM embeddings
           WHERE vec_id <> 0)
         SELECT in_degree, n_vecs FROM hist
         UNION ALL
         SELECT CAST(0 AS BIGINT) AS in_degree,
           CAST(n_corpus - (SELECT SUM(n_vecs) FROM hist) AS BIGINT)
             AS n_vecs
         FROM tot"""
    }),

    // `e136_ann_mrr` — Mean Reciprocal Rank of the LSH-bucketed ANN against
    // exact nearest neighbors over the same 63-probe panel: the
    // rank-SENSITIVE retrieval grade (e24/e34 are recall@10 of the single
    // designated query vector). Reciprocal ranks summed as a fixed 10-term
    // expression over pivoted integer rank counts.
    //
    // MRR of the LSH-bucketed ANN over the SAME 63-probe panel as
    // e135 — the rank-SENSITIVE retrieval grade (e24 is recall@10 of
    // the single designated query; MRR reports WHERE each probe's
    // true nearest neighbor lands in the approximate list, panel-
    // wide). Exact top-1 per probe via ONE struct-max aggregation
    // over the hoisted-norm native-dot scoring pass (no window);
    // approximate lists from the 4-plane LSH bucket equi-join (the
    // e2_lsh_topk index shape). Reciprocal ranks are summed as a
    // FIXED 10-term expression over pivoted integer rank counts —
    // never a data-ordered double sum.
    Judged("e136_ann_mrr", (s, dir) => {
      val emb = normedEmb(s, dir)
        .withColumn("bkt", Similarity.lshBucket(col("embedding"), 4, 64))
      val qs = probePanel(emb,
        Seq("qbkt" -> Similarity.lshBucket(col("qe"), 4, 64)))
      // exact nearest per probe: struct-max picks (max cos, then min
      // vec_id) in one aggregation — no per-probe sort
      val exact1 = emb.join(qs, col("vec_id") =!= col("qid"))
        .select(col("qid"), struct(probeCos.as("cos"),
          (-col("vec_id")).as("negv")).as("cv"))
        .groupBy("qid").agg(max(col("cv")).as("m"))
        .select(col("qid"), (-col("m.negv")).as("best_vid"))
      val cand = emb.join(qs,
          col("bkt") === col("qbkt") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), probeCos.as("cos"))
      val ap = cand.withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
        .where(col("rk") <= 10)
      val mt = exact1.join(ap,
        exact1("qid") === ap("qid") && col("best_vid") === col("vec_id"),
        "left").select(exact1("qid"), col("rk"))
      val aggs = count(lit(1)).as("n_probes") +:
        count(col("rk")).as("n_found") +:
        (1 to 10).map(r => sum(when(col("rk") === r, 1L).otherwise(0L))
          .as(s"c_$r"))
      val cs = mt.agg(aggs.head, aggs.tail: _*)
      val mrrNum = (1 to 10).map(r =>
        d(col(s"c_$r")) / lit(r.toDouble)).reduce(_ + _)
      cs.select(col("n_probes"), col("n_found"), col("c_1").as("hits1"),
        round(mrrNum / d(col("n_probes")), 8).as("mrr"))
    },
      {
      val dot = foldDot("e.embedding", "q.qe")
      val na = foldDot("e.embedding", "e.embedding")
      val nb = foldDot("q.qe", "q.qe")
      val cs = (1 to 10).map(r =>
        s"CAST(SUM(CASE WHEN rk = $r THEN 1 ELSE 0 END) AS BIGINT) AS c_$r")
        .mkString(", ")
      val mrrNum = (1 to 10).map(r =>
        s"CAST(c_$r AS DOUBLE) / $r.0").mkString(" + ")
      s"""WITH qs AS (
           SELECT vec_id AS qid, embedding AS qe FROM embeddings
           WHERE vec_id BETWEEN $probeLo AND $probeHi),
         sc AS (
           SELECT q.qid, e.vec_id,
             $dot / (sqrt($na) * sqrt($nb)) AS cos
           FROM embeddings e, qs q
           WHERE e.vec_id <> 0 AND e.vec_id <> q.qid),
         ex AS (
           SELECT qid, vec_id AS best_vid FROM (
             SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY cos DESC, vec_id) AS rk FROM sc)
           WHERE rk = 1),
         bk AS (SELECT vec_id,
             ${bucketSql4("embedding")} AS bkt
           FROM embeddings WHERE vec_id <> 0),
         qb AS (SELECT vec_id AS qid,
             ${bucketSql4("embedding")} AS qbkt
           FROM embeddings WHERE vec_id BETWEEN $probeLo AND $probeHi),
         cand AS (
           SELECT s.qid, s.vec_id, s.cos
           FROM sc s
           JOIN bk ON bk.vec_id = s.vec_id
           JOIN qb ON qb.qid = s.qid AND bk.bkt = qb.qbkt),
         ap AS (
           SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
             ORDER BY cos DESC, vec_id) AS rk FROM cand),
         mt AS (
           SELECT ex.qid, ap.rk FROM ex
           LEFT JOIN ap ON ap.qid = ex.qid AND ap.vec_id = ex.best_vid
             AND ap.rk <= 10),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS n_probes,
             CAST(count(rk) AS BIGINT) AS n_found, $cs FROM mt)
         SELECT n_probes, n_found, c_1 AS hits1,
           round(($mrrNum) / CAST(n_probes AS DOUBLE), 8) AS mrr
         FROM agg"""
    }),

    // `e139_anisotropy` — embedding-collapse audit (Ethayarajh 2019): mean
    // cosine of every vector to the corpus centroid + the centroid's norm.
    // e109 grades cluster structure, e27 coverage; this is the global "are
    // all my vectors pointing the same way" screen that decides whether
    // cosine thresholds mean anything.
    //
    // Embedding ANISOTROPY audit (the Ethayarajh 2019 "are all my
    // vectors pointing the same way" collapse check — an anisotropic
    // embedding column makes every cosine high and ANN/dedup
    // thresholds meaningless): mean cosine of each vector to the
    // corpus centroid, plus the centroid's norm. e109 grades CLUSTER
    // structure against trained cells; e27 coverage/L2 per slice;
    // this is the global collapse screen. Exactness recipe: per-dim
    // centroid sums in fixed-point longs (order-independent), the
    // 64-cell centroid assembled IN-PLAN via one sort_array'd
    // collect_list row (no driver collect), per-row cosines on the
    // shared left-to-right double fold, and the corpus mean over
    // nano-quantized longs (the e109 summing discipline).
    Judged("e139_anisotropy", (s, dir) => {
      import graft.operators.Similarity
      val corpus = t(s, dir, "embeddings").where(col("vec_id") =!= 0)
      val nF = broadcast(corpus.agg(count(lit(1)).as("n")))
      val dimSums = corpus
        .select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("pos"),
          floor(col("v").cast("double") * lit(1e7)).cast("long").as("q"))
        .groupBy("pos").agg(sum(col("q")).as("sq"))
      // 1-row (mu, n) centroid frame, eagerly materialized so the
      // corpus is scanned once for it (it feeds the scoring pass AND
      // the report row)
      val muRow = dimSums
        .agg(sort_array(collect_list(struct(col("pos"), col("sq"))))
          .as("ps"))
        .crossJoin(nF)
        .select(transform(col("ps"), p => p.getField("sq").cast("double")
          / lit(1e7) / col("n").cast("double")).as("mu"), col("n"))
        .localCheckpoint(true)
      val cos = Similarity.cosine(col("embedding"), col("mu"))
      val qsum = corpus.crossJoin(broadcast(muRow.select("mu")))
        .select(floor(cos * lit(1e9)).cast("long").as("qc"))
        .agg(sum(col("qc")).as("sqc"))
      qsum.crossJoin(broadcast(muRow))
        .select(col("n"),
          round(sqrt(aggregate(transform(col("mu"), v => v * v),
            lit(0.0), (acc, p) => acc + p)), 8).as("mu_norm"),
          round(col("sqc").cast("double") / lit(1e9) /
            col("n").cast("double"), 8).as("mean_cos_to_centroid"))
    },
      {
      def fold(body: String) =
        s"""list_reduce(list_transform(generate_series(1, 64),
            i -> $body), (acc, x) -> acc + x)"""
      val dot = fold("CAST(e.embedding[i] AS DOUBLE) * m.mu[i]")
      val na = fold(
        "CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)")
      val nb = fold("m.mu[i] * m.mu[i]")
      s"""WITH nn AS (SELECT count(*) AS n FROM embeddings
           WHERE vec_id <> 0),
         ds AS (SELECT g.i AS pos,
             SUM(CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 10000000.0)
               AS BIGINT)) AS sq
           FROM embeddings, generate_series(1, 64) AS g(i)
           WHERE vec_id <> 0 GROUP BY 1),
         mu AS (SELECT list(CAST(sq AS DOUBLE) / 10000000.0 /
             CAST(n AS DOUBLE) ORDER BY pos) AS mu
           FROM ds, nn),
         qc AS (SELECT CAST(floor(($dot / (sqrt($na) * sqrt($nb))) *
             1000000000.0) AS BIGINT) AS q
           FROM embeddings e, mu m WHERE e.vec_id <> 0),
         ag AS (SELECT CAST(SUM(q) AS BIGINT) AS sqc FROM qc)
         SELECT CAST(nn.n AS BIGINT) AS n,
           round(sqrt(list_reduce(list_transform(m.mu, v -> v * v),
             (acc, x) -> acc + x)), 8) AS mu_norm,
           round(CAST(ag.sqc AS DOUBLE) / 1000000000.0 /
             CAST(nn.n AS DOUBLE), 8) AS mean_cos_to_centroid
         FROM ag, mu m, nn"""
    }),

    // `e146_rrf_fusion` — reciprocal-rank fusion of the exact and LSH
    // retrieval legs (Cormack et al. 2009): the standard hybrid-search list
    // merge, score = Σ 1/(60 + rank) over however many lists rank the
    // candidate. e83 grades retrieve-then-RERANK (score recomputation); RRF
    // is the calibration-free rank-only fusion. Both inputs are the judged
    // queries' own 10-row frames.
    //
    // Reciprocal-rank fusion (Cormack et al. 2009) of the two judged
    // retrieval legs — exact brute-force cosine and the LSH-bucketed
    // ANN — over the same query vector: the standard hybrid-search
    // list merge (score = Σ 1/(60 + rank), absent list contributes 0).
    // Both inputs are the judged queries' own 10-row frames; ranks via
    // the broadcast triangle, fusion a full outer join of two ≤10-row
    // frames. e83 grades retrieve-then-RERANK; this is the
    // rank-only FUSION that needs no score calibration between legs.
    Judged("e146_rrf_fusion", (s, dir) => {
      val ex = rankTiny(SparkEntry.queries("e2_topk")(s, dir), "r_exact")
      val an = rankTiny(SparkEntry.queries("e2_lsh_topk")(s, dir), "r_ann")
      ex.join(an, Seq("vec_id"), "full_outer")
        .select(col("vec_id"), col("r_exact"), col("r_ann"),
          round(coalesce(lit(1.0) / (lit(rrfK) + col("r_exact")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("r_ann")), lit(0.0)), 8)
            .as("rrf_score"))
        .orderBy(col("rrf_score").desc, col("vec_id")).limit(10)
    },
      {
      val ex = topkSql
      val an = lshSql
      s"""WITH ex AS MATERIALIZED ($ex),
         an AS MATERIALIZED ($an),
         re AS (${rankSql("ex", "r_exact")}),
         ra AS (${rankSql("an", "r_ann")})
         SELECT vec_id,
           CAST(r_exact AS BIGINT) AS r_exact,
           CAST(r_ann AS BIGINT) AS r_ann,
           round(COALESCE(1.0 / ($rrfK + r_exact), 0.0) +
             COALESCE(1.0 / ($rrfK + r_ann), 0.0), 8) AS rrf_score
         FROM re FULL JOIN ra USING (vec_id)
         ORDER BY rrf_score DESC, vec_id LIMIT 10"""
    }),

    // `e152_rbo` — rank-biased overlap (Webber et al. 2010) between the
    // exact and sign-binarized top-10 rankings: the top-weighted
    // list-agreement measure. e151 grades the binary leg by SET recall; RBO
    // adds position sensitivity; e136/e146 grade/fuse other legs. Geometric
    // prefix weights ride both plans as identical double literals (never
    // engine-local pow()).
    //
    // Rank-biased overlap (Webber et al. 2010) between the exact and
    // sign-binarized top-10 rankings: the TOP-WEIGHTED list-agreement
    // measure (Kendall/Spearman weight all positions equally;
    // retrieval cares about the head). Truncated prefix form:
    // RBO@10 = (1−p)·Σ_d p^(d−1)·|top_d ∩ top_d|/d with p = 0.9 — the
    // geometric weights ride both plans as the SAME double literals,
    // and each prefix overlap is a conditional count over the ≤10-row
    // joined rank frame. e151 grades the binary leg by set recall;
    // this adds POSITION sensitivity (a list with the right members
    // in the wrong order scores lower). The LSH leg is not used here:
    // at the judged scales its bucket misses the exact head entirely
    // (e24's finding), which would make the statistic degenerate.
    Judged("e152_rbo", (s, dir) => {
      val ex = rankTiny(SparkEntry.queries("e2_topk")(s, dir), "rx")
      val ap = binaryTop10(s, dir).localCheckpoint(true)
      val an = ap.as("a").join(broadcast(ap.as("b")),
          col("b.ham") < col("a.ham") ||
            (col("b.ham") === col("a.ham") &&
              col("b.vec_id") < col("a.vec_id")), "left")
        .groupBy(col("a.vec_id").as("vec_id"))
        .agg((count(col("b.vec_id")) + 1L).as("ra"))
      val j = ex.join(an, Seq("vec_id"))
      val xs = (1 to 10).map(dd => coalesce(sum(when(col("rx") <= dd &&
        col("ra") <= dd, 1L).otherwise(0L)), lit(0L)).as(s"x_$dd"))
      val agg = j.agg(count(lit(1)).as("n_common"), xs: _*)
      val rbo = (1 to 10).map(dd =>
          lit(rboWeights(dd - 1)) * d(col(s"x_$dd")) / lit(dd.toDouble))
        .reduce(_ + _)
      agg.select(col("n_common"),
        round(d(col("x_10")) / lit(10.0), 8).as("a10"),
        round(rbo, 8).as("rbo_trunc"))
    },
      {
      val ex = topkSql
      val cells = (1 to 10).map(dd =>
        s"CAST(COALESCE(SUM(CASE WHEN rx <= $dd AND ra <= $dd " +
          s"THEN 1 ELSE 0 END), 0) AS BIGINT) AS x_$dd").mkString(", ")
      val terms = (1 to 10).map(dd =>
        s"${java.lang.Double.toString(rboWeights(dd - 1))} * " +
          s"CAST(x_$dd AS DOUBLE) / $dd.0").mkString(" + ")
      s"""WITH ex AS MATERIALIZED ($ex),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         ap AS MATERIALIZED (SELECT e.vec_id, CAST($binHamSql AS BIGINT)
             AS ham
           FROM embeddings e, q WHERE e.vec_id <> 0
           ORDER BY ham, e.vec_id LIMIT 10),
         re AS (${rankSql("ex", "rx")}),
         ra AS (SELECT a.vec_id, 1 + count(b.vec_id) AS ra
           FROM ap a LEFT JOIN ap b
             ON b.ham < a.ham
               OR (b.ham = a.ham AND b.vec_id < a.vec_id)
           GROUP BY 1),
         j AS (SELECT re.vec_id, rx, ra FROM re JOIN ra USING (vec_id)),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_common, $cells
           FROM j)
         SELECT n_common,
           round(CAST(x_10 AS DOUBLE) / 10.0, 8) AS a10,
           round($terms, 8) AS rbo_trunc
         FROM ag"""
    }),

    // `e154_mmr_diversify` — maximal marginal relevance (Carbonell &
    // Goldstein 1998): greedy diversified top-3 from the exact top-10 pool,
    // each step argmax of λ·rel − (1−λ)·max-sim-to-selected — the
    // redundancy-avoiding re-selection a RAG stack runs on its retrieval
    // head (e83 RERANKS by a second score; MMR trades relevance against
    // diversity). Three unrolled steps over ≤10-row frames, all tiny and
    // constant at any corpus scale.
    //
    // Maximal marginal relevance (Carbonell & Goldstein 1998): greedy
    // diversified top-3 from the exact top-10 pool — each step picks
    // argmax of λ·rel − (1−λ)·max sim-to-already-selected, the
    // standard redundancy-avoiding re-selection every RAG/search
    // stack runs on its head. Three unrolled steps over ≤10-row
    // frames (pool relevance is the judged e2_topk leg; pairwise sims
    // one 90-row triangle); selection ties break by vec_id via the
    // e55 max_by total-order discipline.
    Judged("e154_mmr_diversify", (s, dir) => {
      import graft.operators.Similarity
      val lambdaW = lit(0.7); val divW = lit(0.3)
      val pool = SparkEntry.queries("e2_topk")(s, dir)
        .join(t(s, dir, "embeddings"), "vec_id")
        .select(col("vec_id"), col("cosine").as("rel"), col("embedding"))
        .localCheckpoint(true) // 10 rows, read by sims + 3 steps
      val sims = pool.as("a").join(broadcast(pool.as("b")),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("d"), col("b.vec_id").as("s"),
          Similarity.cosine(col("a.embedding"), col("b.embedding"))
            .as("sim"))
        .localCheckpoint(true) // 90 rows, read by steps 2-3
      def pick(cand: DataFrame, score: org.apache.spark.sql.Column,
               step: Int): DataFrame =
        cand.agg(max_by(struct(col("vec_id"), score.as("mmr")),
            struct(score, lit(0L) - col("vec_id"))).as("w"))
          .select(lit(step.toLong).as("step"), col("w.vec_id").as("vec_id"),
            round(col("w.mmr"), 8).as("mmr_score"))
          .localCheckpoint(true) // 1 row, read by later steps + union
      val s1 = pick(pool, col("rel"), 1)
      val c2 = pool.join(broadcast(s1.select(col("vec_id").as("sel1"))),
          col("vec_id") =!= col("sel1"))
        .join(sims, col("vec_id") === col("d") && col("s") === col("sel1"))
      val s2 = pick(c2, lambdaW * col("rel") - divW * col("sim"), 2)
      val c3 = pool
        .join(broadcast(s1.select(col("vec_id").as("sel1"))),
          col("vec_id") =!= col("sel1"))
        .join(broadcast(s2.select(col("vec_id").as("sel2"))),
          col("vec_id") =!= col("sel2"))
        .join(sims.as("m1"),
          col("vec_id") === col("m1.d") && col("m1.s") === col("sel1"))
        .join(sims.as("m2"),
          col("vec_id") === col("m2.d") && col("m2.s") === col("sel2"))
        .select(col("vec_id"), col("rel"),
          greatest(col("m1.sim"), col("m2.sim")).as("maxsim"))
      val s3 = pick(c3, lambdaW * col("rel") - divW * col("maxsim"), 3)
      s1.unionAll(s2).unionAll(s3).orderBy(col("step"))
    },
      {
      import SimilarityQueries.foldDot
      val ex = topkSql
      def cos(a: String, b: String) =
        s"""${foldDot(s"$a.embedding", s"$b.embedding")} /
           (sqrt(${foldDot(s"$a.embedding", s"$a.embedding")}) *
            sqrt(${foldDot(s"$b.embedding", s"$b.embedding")}))"""
      s"""WITH ex AS MATERIALIZED ($ex),
         pool AS MATERIALIZED (SELECT ex.vec_id, ex.cosine AS rel,
             e.embedding
           FROM ex JOIN embeddings e USING (vec_id)),
         sims AS MATERIALIZED (SELECT a.vec_id AS d, b.vec_id AS s,
             ${cos("a", "b")} AS sim
           FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
         s1 AS (SELECT CAST(1 AS BIGINT) AS step, vec_id,
             round(rel, 8) AS mmr_score
           FROM pool ORDER BY rel DESC, vec_id LIMIT 1),
         s2 AS (SELECT CAST(2 AS BIGINT) AS step, p.vec_id,
             round(0.7 * p.rel - 0.3 * m.sim, 8) AS mmr_score
           FROM pool p, s1
           JOIN sims m ON TRUE
           WHERE p.vec_id <> s1.vec_id
             AND m.d = p.vec_id AND m.s = s1.vec_id
           ORDER BY 0.7 * p.rel - 0.3 * m.sim DESC, p.vec_id LIMIT 1),
         s3 AS (SELECT CAST(3 AS BIGINT) AS step, p.vec_id,
             round(0.7 * p.rel - 0.3 * GREATEST(m1.sim, m2.sim), 8)
               AS mmr_score
           FROM pool p, s1, s2
           JOIN sims m1 ON TRUE
           JOIN sims m2 ON TRUE
           WHERE p.vec_id <> s1.vec_id AND p.vec_id <> s2.vec_id
             AND m1.d = p.vec_id AND m1.s = s1.vec_id
             AND m2.d = p.vec_id AND m2.s = s2.vec_id
           ORDER BY 0.7 * p.rel - 0.3 * GREATEST(m1.sim, m2.sim) DESC,
             p.vec_id LIMIT 1)
         SELECT * FROM s1 UNION ALL SELECT * FROM s2
         UNION ALL SELECT * FROM s3 ORDER BY step"""
    }),

    // `e155_kendall_w` — Kendall's coefficient of concordance
    // (tie-corrected) across the engine's THREE retrieval scorers (exact
    // cosine, sign-Hamming, 32-dim matryoshka prefix) over the retrieval
    // head: e114 correlates two rankings, W grades m at once. Average ranks
    // integral as s = 2r (the q127 discipline), exact integer deviation/tie
    // sums, one division.
    //
    // Kendall's W (coefficient of concordance, tie-corrected): do the
    // engine's THREE retrieval scorers — exact cosine, sign-Hamming,
    // and the 32-dim matryoshka prefix — agree on how to order the
    // retrieval head? e114 correlates TWO rankings; W grades m
    // rankers at once (W = 12S/(m²(n³−n) − mΣT)). Average ranks stay
    // integral as s = 2r (the q127 discipline), so the deviation sum
    // and tie terms are exact integers with ONE final division. All
    // frames ≤ 10 rows after the pool join.
    Judged("e155_kendall_w", (s, dir) => {
      import graft.operators.Similarity
      val pool = SparkEntry.queries("e2_topk")(s, dir)
        .join(t(s, dir, "embeddings"), "vec_id")
        .crossJoin(queryVec(s, dir))
        .select(col("vec_id"), col("cosine").as("rel"),
          call_function("vec_sign_ham", col("embedding"), col("qe"))
            .as("ham"),
          Similarity.cosine(slice(col("embedding"), 1, 32),
            slice(col("qe"), 1, 32)).as("cos32"))
        .localCheckpoint(true) // 10 rows; read by 3 triangles + ties
      // s = 2·(average rank) = 2·below + t + 1, t = tied incl. self
      def srank(score: String, desc: Boolean): DataFrame = {
        val better = if (desc) col(s"b.$score") > col(s"a.$score")
          else col(s"b.$score") < col(s"a.$score")
        pool.as("a").crossJoin(broadcast(pool.as("b")))
          .groupBy(col("a.vec_id").as("vec_id"))
          .agg((lit(2L) * sum(when(better, 1L).otherwise(0L)) +
            sum(when(col(s"b.$score") === col(s"a.$score"), 1L)
              .otherwise(0L)) + lit(1L)).as(s"s_$score"))
      }
      def tieTerm(score: String): DataFrame =
        pool.groupBy(col(score)).agg(count(lit(1)).as("t"))
          .agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")),
            lit(0L)).as(s"t_$score"))
      val nF = broadcast(pool.agg(count(lit(1)).as("n")))
      val dev = srank("rel", desc = true)
        .join(srank("ham", desc = false), "vec_id")
        .join(srank("cos32", desc = true), "vec_id")
        .select((col("s_rel") + col("s_ham") + col("s_cos32")).as("sr"))
        .crossJoin(nF)
        .agg(sum((col("sr") - lit(3L) * (col("n") + 1L)) *
          (col("sr") - lit(3L) * (col("n") + 1L))).as("sr_dev2"))
      val ties = tieTerm("rel").crossJoin(broadcast(tieTerm("ham")))
        .crossJoin(broadcast(tieTerm("cos32")))
        .select((col("t_rel") + col("t_ham") + col("t_cos32"))
          .as("tie_term"))
      nF.crossJoin(broadcast(dev)).crossJoin(broadcast(ties))
        .select(col("n").as("n_items"), lit(3L).as("m_rankers"),
          col("sr_dev2"), col("tie_term"),
          round(lit(3.0) * col("sr_dev2") /
            (lit(9.0) * (d(col("n")) * col("n") * col("n") - col("n")) -
              lit(3.0) * col("tie_term")), 8).as("w"))
    },
      {
      val ex = topkSql
      val cos32 =
        s"""${foldDotM("e.embedding", "q.qe", 32)} /
           (sqrt(${foldDotM("e.embedding", "e.embedding", 32)}) *
            sqrt(${foldDotM("q.qe", "q.qe", 32)}))"""
      def srank(score: String, op: String) =
        s"""SELECT a.vec_id,
           2 * SUM(CASE WHEN b.$score $op a.$score THEN 1 ELSE 0 END) +
           SUM(CASE WHEN b.$score = a.$score THEN 1 ELSE 0 END) + 1
             AS s_$score
           FROM pool a, pool b GROUP BY 1"""
      def tie(score: String) =
        s"""SELECT CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT)
             AS t_$score
           FROM (SELECT count(*) AS t FROM pool GROUP BY $score)"""
      s"""WITH ex AS MATERIALIZED ($ex),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         pool AS MATERIALIZED (SELECT ex.vec_id, ex.cosine AS rel,
             CAST($binHamSql AS BIGINT) AS ham, $cos32 AS cos32
           FROM ex JOIN embeddings e USING (vec_id), q),
         r1 AS (${srank("rel", ">")}),
         r2 AS (${srank("ham", "<")}),
         r3 AS (${srank("cos32", ">")}),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pool),
         dev AS (SELECT CAST(SUM(
             (s_rel + s_ham + s_cos32 - 3 * (n + 1)) *
             (s_rel + s_ham + s_cos32 - 3 * (n + 1))) AS BIGINT)
               AS sr_dev2
           FROM r1 JOIN r2 USING (vec_id) JOIN r3 USING (vec_id), nn),
         t1 AS (${tie("rel")}), t2 AS (${tie("ham")}),
         t3 AS (${tie("cos32")})
         SELECT n AS n_items, CAST(3 AS BIGINT) AS m_rankers, sr_dev2,
           CAST(t_rel + t_ham + t_cos32 AS BIGINT) AS tie_term,
           round(3.0 * sr_dev2 /
             (9.0 * (CAST(n AS DOUBLE) * n * n - n) -
               3.0 * (t_rel + t_ham + t_cos32)), 8) AS w
         FROM nn, dev, t1, t2, t3"""
    }),

    // `e151_binary_recall` — recall@10 of SIGN-binarized embeddings ranked
    // by Hamming distance against exact cosine: the sign-quantization
    // member of the compression-audit family (e67/e69 PQ, e129 matryoshka,
    // e18 scalar quantization) — the "can I store 1 bit/dim" question
    // answered with a measured recall and the Hamming radius of the
    // retrieved set.
    //
    // Binary-embedding recall audit: rank by Hamming distance over
    // per-dim SIGN bits (the 32×-compression "binary embeddings"
    // storage trick) and grade recall@10 against exact cosine — the
    // sign-quantization member of the compression-audit family (e67/
    // e69 grade product quantization, e129 matryoshka truncation, e18
    // scalar quantization). One corpus pass for the Hamming ranking
    // (TakeOrdered, no global sort), the exact side is the judged
    // e2_topk frame, the verdict a 10×10 semi-join.
    Judged("e151_binary_recall", (s, dir) => {
      val approx = binaryTop10(s, dir)
        .localCheckpoint(true) // 10 rows, read by the hit join + radius
      val hits = SparkEntry.queries("e2_topk")(s, dir)
        .select("vec_id")
        .join(approx, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      hits.crossJoin(broadcast(approx.agg(max(col("ham"))
          .as("ham_radius"))))
        .select(col("n_hit"),
          (d(col("n_hit")) / lit(10.0)).as("recall"),
          col("ham_radius"))
    },
      {
      val ex = topkSql
      s"""WITH ex AS MATERIALIZED ($ex),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         ap AS (SELECT e.vec_id, CAST($binHamSql AS BIGINT) AS ham
           FROM embeddings e, q WHERE e.vec_id <> 0
           ORDER BY ham, e.vec_id LIMIT 10),
         h AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
           FROM ex WHERE vec_id IN (SELECT vec_id FROM ap)),
         r AS (SELECT CAST(max(ham) AS BIGINT) AS ham_radius FROM ap)
         SELECT n_hit, CAST(n_hit AS DOUBLE) / 10.0 AS recall,
           ham_radius
         FROM h, r"""
    }),

    // `e167_int8_quant` — symmetric per-vector int8 quantization audit over
    // the embedding corpus (the storage/ANN-memory decision: 4× smaller
    // vectors vs reconstruction error): scale = max|x|/127, q =
    // clamp(round(x/s)), error moments from fixed-point longs
    // (floor(err²·1e14)) summed exactly — partition-invariant, fully
    // oracle-expressible with the same double arithmetic. ONE narrow corpus
    // pass; reports element/saturation census and MSE.
    Judged("e167_int8_quant", (s, dir) => {
      val e = col("embedding")
      val mx = aggregate(e, lit(0.0d),
        (acc, x) => greatest(acc, abs(x.cast(DoubleType))))
      val sc = col("mx") / lit(127.0d)
      val q = (x: org.apache.spark.sql.Column) => greatest(lit(-127.0d),
        least(lit(127.0d), floor(x.cast(DoubleType) / sc + lit(0.5d))))
      def err(x: org.apache.spark.sql.Column) = x.cast(DoubleType) - q(x) * sc
      val perVec = t(s, dir, "embeddings")
        .select(col("vec_id"), e, mx.as("mx"))
        .select(col("vec_id"), size(e).cast("long").as("dims"),
          when(col("mx") > 0,
            aggregate(e, lit(0L), (acc, x) => acc +
              floor(err(x) * err(x) * lit(sseScale)).cast(LongType)))
            .otherwise(lit(0L)).as("sse_fp"),
          when(col("mx") > 0,
            aggregate(e, lit(0L), (acc, x) => acc +
              when(abs(q(x)) === 127.0d, 1L).otherwise(0L)))
            .otherwise(lit(0L)).as("n_sat"))
      perVec.agg(count(lit(1)).as("n_vecs"),
          sum(col("dims")).as("n_elems"),
          sum(col("sse_fp")).as("sse_fp"),
          sum(col("n_sat")).as("n_saturated"))
        .select(col("n_vecs"), col("n_elems"), col("sse_fp"),
          col("n_saturated"),
          round(d(col("sse_fp")) / lit(sseScale) / col("n_elems"), 12)
            .as("mse"))
    },
      """WITH pv AS (
           SELECT vec_id, len(embedding) AS dims,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) AS mx,
             embedding
           FROM embeddings),
         el AS (SELECT vec_id, mx, unnest(embedding) AS xf FROM pv),
         qe AS (SELECT vec_id, mx / 127.0 AS s, CAST(xf AS DOUBLE) AS x,
             greatest(-127.0, least(127.0,
               floor(CAST(xf AS DOUBLE) / (mx / 127.0) + 0.5))) AS q
           FROM el WHERE mx > 0),
         pe AS (SELECT vec_id, x - q * s AS err,
             CASE WHEN abs(q) = 127.0 THEN 1 ELSE 0 END AS sat
           FROM qe),
         tot AS (SELECT
             CAST(SUM(CAST(floor(err * err * 1e14) AS BIGINT)) AS BIGINT)
               AS sse_fp,
             CAST(SUM(sat) AS BIGINT) AS n_saturated
           FROM pe),
         vc AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(SUM(dims) AS BIGINT) AS n_elems
           FROM pv)
         SELECT n_vecs, n_elems, sse_fp, n_saturated,
           round(CAST(sse_fp AS DOUBLE) / 1e14 / n_elems, 12) AS mse
         FROM tot, vc"""),

    // `e178_ivf_pruned_probe` — the 100 TB ANN layout claim made
    // regression-gated fact: the corpus is STAGED PARTITIONED BY `ivf_cell`
    // (the layout SCALE.md prescribes — pay the write once when the index
    // lands), and an nprobe=2 probe reads ONLY the two probed cells'
    // partitions. The query itself `require`s that every file the scan
    // selected lives under a probed `ivf_cell=` directory (the q87
    // discipline — checked on the query's own input set, not a plan-string
    // grep), and PlanAuditSpec gates `PartitionFilters` on the scan node
    // (descending into AQE via allNodes). Judged on the existing nprobe=2
    // oracle (e33's `ivfMulti2Sql`): identical top-k, now with
    // directory-level pruning proven instead of asserted.
    //
    // IVF probe over the cell-partitioned staged layout. The probe
    // cells are computed DRIVER-side from the 1-row query vector
    // (the ivfTopK qScore discipline: left-to-right double fold,
    // ties to the higher index — the same total order the oracle's
    // ORDER BY s DESC, j DESC realizes), so the partition filter is
    // a LITERAL isin — static directory pruning a 1000-executor scan
    // planner applies before listing a single data file. nprobe=2 of
    // 4 cells ⇒ the scan may touch at most half the corpus layout.
    Judged("e178_ivf_pruned_probe", (s, dir) => {
      val cents = Similarity.syntheticCentroids(ivfN, 64)
      // the staged layout is a pure function of the centroid set: the
      // cell assignment carries the centroids as literals, so the
      // stage key digests them
      val emb = t(s, dir, "embeddings")
      val corpus = Stage.durable("e178-ivf-layout", dir,
          Seq(VectorIndex.assign(emb, "embedding", cents))) { st =>
        VectorIndex.build(emb, "embedding", cents,
          st.resolve("embeddings_by_cell").toString)
      }.resolve("embeddings_by_cell").toString
      val (q, qCells) = probeCells(s, dir, cents, 2)
      val pruned = VectorIndex.probe(s, corpus, q, qCells, 10,
        "vec_id", "embedding", extraFilter = col("vec_id") =!= 0)
      // directory-level pruning checked on the query's own scan (q87
      // discipline): every selected file lives under a probed cell —
      // exact path-SEGMENT match (a substring test would false-accept
      // ivf_cell=12 against probed cell 1 once ids reach two digits)
      val scanned = scannedFiles(pruned)
      require(scanned.nonEmpty && scanned.forall(p =>
          qCells.exists(c => p.split("/").contains(s"ivf_cell=$c"))),
        s"probe must read only cells $qCells, scanned: $scanned")
      pruned
    },
      // identical semantics to the e33 nprobe=2 probe — the layout and
      // its pruning are the new, plan-gated content
      ivfMulti2Sql),

    // `e181_index_compact` — the third leg of the ANN index lifecycle
    // (build e178 → ingest c48 → COMPACT): a fragmented, retry-duplicated
    // layout is rewritten cell-at-a-time (narrow `coalesce(1)` per cell —
    // no cluster-wide exchange, the c20 rule) with the at-least-once
    // duplicates dropped AT REST, so the post-compaction probe needs no
    // read-side dropDuplicates and reads exactly nprobe FILES. Same e33
    // oracle: maintenance changes file count and read cost, never what a
    // probe returns.
    //
    // ANN index COMPACTION — the maintenance leg c48's append-only
    // ingest makes necessary: a week of micro-batch appends leaves
    // each cell holding one file per batch (plus duplicate rows from
    // at-least-once retries, which c48's probe absorbs with read-side
    // dropDuplicates). The compactor rewrites each cell INDEPENDENTLY
    // — read one cell directory, drop duplicate vec_ids, narrow
    // coalesce(1), write one file — never paying a cluster-wide
    // exchange (the c20 rule; at 100 TB each cell is its own
    // maintenance job, scheduled only for fragmented cells). After
    // compaction the duplicates are gone AT REST, so the probe drops
    // the dropDuplicates and reads exactly nprobe files — the
    // in-query requires pin all three facts (1 file/cell, zero
    // duplicate keys, nprobe-file probe). Judged on e33's nprobe=2
    // oracle verbatim: compaction changes file count and read cost,
    // never what a probe returns.
    Judged("e181_index_compact", (s, dir) => {
      val cents = Similarity.syntheticCentroids(ivfN, 64)
      val tmp = Stage.tempDir("graft-e181-").toString
      val frag = s"$tmp/index"; val compact = s"$tmp/compact"
      val emb = t(s, dir, "embeddings")
      // base + two appended micro-batch segments, the second written
      // TWICE (an at-least-once retry) — c48's layout after a
      // failure: fragmented AND duplicated
      VectorIndex.build(emb.where(col("vec_id") % 4 =!= 0),
        "embedding", cents, frag)
      val delta = emb.where(col("vec_id") % 4 === 0)
      val segA = delta.where(col("vec_id") % 8 === 0)
      val segB = delta.where(col("vec_id") % 8 =!= 0)
      Seq(segA, segB, segB).foreach(
        VectorIndex.append(_, "embedding", cents, frag))
      val cellDirs = new java.io.File(frag).listFiles.toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("ivf_cell="))
        .map(_.getName).sorted
      def filesIn(root: String, cd: String): Int =
        new java.io.File(s"$root/$cd").listFiles
          .count(_.getName.endsWith(".parquet"))
      require(cellDirs.nonEmpty &&
          cellDirs.exists(cd => filesIn(frag, cd) > 1),
        s"fixture must be fragmented before compaction: $cellDirs")
      // cell-at-a-time rewrite (leaf-directory read, dedup at rest,
      // ONE output file, hive-style leaf write) — the library op
      VectorIndex.compact(s, frag, compact, "vec_id")
      require(cellDirs.forall(cd => filesIn(compact, cd) == 1),
        "compaction must leave exactly one file per cell")
      val compacted = s.read.parquet(compact)
      val dups = compacted.groupBy("vec_id").count()
        .where(col("count") > 1).count()
      require(dups == 0,
        s"retry duplicates must be gone at rest, found $dups keys")
      val (q, qCells) = probeCells(s, dir, cents, 2)
      val probed = VectorIndex.probe(s, compact, q, qCells, 10,
        "vec_id", "embedding", extraFilter = col("vec_id") =!= 0)
      val scanned = scannedFiles(probed)
      require(scanned.nonEmpty && scanned.forall(p =>
          qCells.exists(c => p.split("/").contains(s"ivf_cell=$c"))),
        s"post-compaction probe must stay pruned to $qCells: $scanned")
      require(scanned.distinct.size == qCells.size,
        s"a compacted probe reads exactly nprobe files, got: $scanned")
      probed
    },
      // compaction changes file count and read cost, never what a probe
      // returns — the post-compaction probe answers the same oracle
      ivfMulti2Sql))
}

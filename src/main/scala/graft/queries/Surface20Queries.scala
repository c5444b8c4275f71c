package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 wave: attribution hardened for production (state TTL,
  * multi-touch models) and trained ANN centroids.
  *
  *  - `c33_stream_attribution_ttl` — windowed last-touch attribution
  *    per (user, campaign) entity with `EventTimeTimeout` state
  *    eviction, judged END TO END: purchases credit only in-window
  *    touches, and the state store's lifecycle is part of the output —
  *    every eviction emits an `(evicted)` audit row when the entity
  *    went stale mid-stream and `(live_end)` at the final drain, so
  *    `(evicted)`+`(live_end)` partitions the touched-entity
  *    population and the oracle checks the exact state count. The
  *    window (2·step+1 µs, step = span/3+1) is chosen ≥ 2 chunk spans
  *    so evictions can only fire at the sentinel batches — making the
  *    timing deterministic under the 3-chunk feed — while still
  *    evicting every entity whose last touch is in the feed's first
  *    chunk (178 / 1 682 / 17 220 entities at sf 0.001/0.01/0.1).
  *    Timeout semantics are ms-floored strict `<` on both sides
  *    (`graft.streaming.Attribution.attributeWindowed`).
  *  - `q110_multitouch` / `c34_stream_multitouch` — position-based
  *    (U-shaped 40/40/20) multi-touch attribution as a batch window
  *    query and its streaming twin, judged against ONE shared oracle;
  *    credit shares are exact integer µ-units
  *    (`Attribution.creditShares`) so the rollup is order-independent
  *    with a single double division at report time.
  *  - `e2_ivf_trained` — IVF ANN with centroids TRAINED by 2 Lloyd's
  *    k-means iterations expressed as DataFrame algebra
  *    (`Similarity.trainIvfCentroids`); fixed-point arithmetic makes
  *    training bit-reproducible, and the oracle re-derives the same
  *    centroids in SQL.
  */
object Surface20Queries extends QuerySet {
  import Tables._

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c33_stream_attribution_ttl" -> ((s, dir) =>
      EventFeed.windowedAttributionRollup(s, dir, "graft-c33-",
        perCampaign = true,
        windowOf = (lo, hi) => 2 * ((hi - lo) / 3 + 1) + 1,
        sentinelGaps = Seq(10L, 20L))),

    // Position-based (U-shaped 40/40/20) multi-touch attribution,
    // batch form: per purchase, ONE window pass over the user's prior
    // events yields the touch count, first/last/second-last touch
    // types, and per-channel counts (all over the SAME window spec —
    // one exchange on user_id, one sort); the credit split is then a
    // codegen'd projection in exact integer µ-shares (see
    // Attribution.creditShares for the remainder-to-last-middle rule
    // that keeps each purchase's shares summing to exactly 1e6 µ).
    // The rollup sums integers and performs the ONLY double division
    // at report time — engine-reproducible, order-independent. At
    // 100 TB: the window sort is per-user-partition local after one
    // hash exchange; the exploded credit frame is ≤ 5 rows per
    // purchase; the report aggregate is a 5-row frame.
    "q110_multitouch" -> ((s, dir) => {
      val types = graft.streaming.Attribution.touchTypes
      val w1 = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type") =!= "purchase", col("event_type"))
      val base = events(s, dir)
        .withColumn("__touch", touch)
        .withColumn("__pt", when(touch.isNotNull,
          last(touch, ignoreNulls = true).over(w1)))
      val cntCols = types.map(t =>
        count(when(col("__touch") === t, 1)).over(w1).as(s"cnt_$t"))
      val enriched = base.select(
        (Seq(col("event_type"), col("value"),
          count(col("__touch")).over(w1).as("n"),
          first(col("__touch"), ignoreNulls = true).over(w1).as("ft"),
          last(col("__touch"), ignoreNulls = true).over(w1).as("lt"),
          last(col("__pt"), ignoreNulls = true).over(w1).as("slt"))
          ++ cntCols): _*)
      val p = enriched.where(col("event_type") === "purchase")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withColumn("b", when(col("n") >= 3,
          floor(lit(200000L) / (col("n") - 2)).cast("long"))
          .otherwise(lit(0L)))
      def isT(c: String, t: String) =
        when(col(c) === t, 1L).otherwise(0L)
      def credit(t: String) =
        when(col("n") === 0, lit(0L))
          .when(col("n") === 1, isT("ft", t) * 1000000L)
          .when(col("n") === 2,
            isT("ft", t) * 500000L + isT("lt", t) * 500000L)
          .otherwise(isT("ft", t) * 400000L + isT("lt", t) * 400000L +
            (col(s"cnt_$t") - isT("ft", t) - isT("lt", t)) * col("b") +
            isT("slt", t) * (lit(200000L) - col("b") * (col("n") - 2)))
      val shares = types.map(t => struct(lit(t).as("t"),
        credit(t).as("w"))) :+
        struct(lit("(none)").as("t"),
          when(col("n") === 0, 1000000L).otherwise(0L).as("w"))
      p.select(col("cents"), explode(array(shares: _*)).as("c"))
        .select(col("c.t").as("touch_type"), col("c.w").as("w"),
          (col("c.w") * col("cents")).as("mc"))
        .where(col("w") > 0)
        .groupBy("touch_type")
        .agg((sum(col("w")).cast("double") / lit(1000000.0))
            .as("conversions"),
          (sum(col("mc")).cast("double") / lit(100000000.0))
            .as("attributed_value"))
    }),

    // The STREAMING twin of q110 against the SAME oracle: per-user
    // bounded MTState (first/last/second-last + per-channel counts)
    // through the real micro-batch engine; each purchase emits its
    // exact-integer µ-shares as it arrives, and the rollup is
    // identical to the batch report.
    "c34_stream_multitouch" -> ((s, dir) =>
      EventFeed.multiTouchRollup(s, dir, "graft-c34-")),

    // Grouped WEIGHTED quantiles at arbitrary p via the rank-span
    // frame: weights (l_quantity, in exact integer centi-units) fold
    // directly into the histogram's __n, so the SAME
    // Quantiles.rankSpans/selectRanks machinery that serves
    // count-quantiles serves weighted ones — the spans are staged
    // durably once per (sf × fingerprint) and each p is a narrow
    // scan + group agg. Quantile rule: smallest value whose
    // cumulative weight reaches ceil(p·W) (integer cross-multiplied,
    // no division), so wq50 coincides with q108's weighted median.
    "q111_weighted_quantiles" -> ((s, dir) => {
      val spans = Stage.durableFrame(s, "li-price-wspans", dir) {
        val hist = t(s, dir, "lineitem")
          .where(col("l_extendedprice").isNotNull)
          .groupBy(col("l_returnflag"), col("l_extendedprice"))
          .agg(sum(round(col("l_quantity") * 100).cast("long"))
            .as("__n"))
        graft.operators.Quantiles.rankSpans(
          hist, Seq("l_returnflag"), "l_extendedprice")
      }
      def thr(num: Long, den: Long): org.apache.spark.sql.Column =>
          org.apache.spark.sql.Column =
        cnt => graft.operators.Quantiles.ldiv(
          cnt * lit(num) + lit(den - 1), lit(den))
      graft.operators.Quantiles.selectRanks(spans,
          Seq("l_returnflag"), "l_extendedprice",
          Seq("wq25" -> thr(1, 4), "wq50" -> thr(1, 2),
            "wq75" -> thr(3, 4)))
        .select(col("l_returnflag"), col("wq25"), col("wq50"),
          col("wq75"),
          (col("n_total").cast("double") / lit(100.0))
            .as("total_weight"))
    }),

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
    "e2_ivf_trained" -> ((s, dir) => {
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
    }),

    // Clustering-quality audit: per-cell mean simplified silhouette
    // over the TRAINED cells (see [[silhouette]]) — the report that
    // separates real cluster structure from noise before committing
    // an IVF layout or semantic-dedup pass to a corpus snapshot.
    "e109_silhouette" -> ((s, dir) => silhouette(s, dir)))

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
        .syntheticCentroids(SimilarityQueries.ivfN, 64)
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

  val oracles: Map[String, String] = Map(
    // The streaming result is fully determined by event-time
    // semantics: per-(user,k) windowed last-touch credit on purchases,
    // plus one audit row per touched entity — `(evicted)` iff the
    // entity's LAST touch times out against the end-of-data watermark
    // (ms-floored strict <, exactly Spark's InputProcessor condition),
    // else `(live_end)` from the drain sentinel.
    "c33_stream_attribution_ttl" ->
      """WITH ev AS (
           SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k,
             event_id, epoch_us(ts) AS ts_us, event_type, value
           FROM events),
         b AS (SELECT max(ts_us) AS hi,
             2 * ((max(ts_us) - min(ts_us)) // 3 + 1) + 1 AS w FROM ev),
         touched AS (
           SELECT event_type, value, ts_us,
             last_value(CASE WHEN event_type <> 'purchase'
                 THEN event_type END IGNORE NULLS) OVER wnd AS lt_type,
             last_value(CASE WHEN event_type <> 'purchase'
                 THEN ts_us END IGNORE NULLS) OVER wnd AS lt_ts
           FROM ev
           WINDOW wnd AS (PARTITION BY user_id, k ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         purch AS (
           SELECT CASE WHEN lt_type IS NOT NULL
               AND lt_ts > ts_us - (SELECT w FROM b)
               THEN lt_type ELSE '(none)' END AS touch_type, value
           FROM touched WHERE event_type = 'purchase'),
         st AS (SELECT user_id, k, max(ts_us) AS t FROM ev
           WHERE event_type <> 'purchase' GROUP BY user_id, k),
         audit AS (
           SELECT CASE WHEN (t + (SELECT w FROM b)) // 1000
                 < (SELECT hi FROM b) // 1000
               THEN '(evicted)' ELSE '(live_end)' END AS touch_type,
             CAST(0 AS DOUBLE) AS value
           FROM st)
         SELECT touch_type, count(*) AS conversions,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,2))) AS VARCHAR)
             AS DOUBLE) AS attributed_value
         FROM (SELECT * FROM purch UNION ALL SELECT * FROM audit)
         GROUP BY touch_type""",

    "q110_multitouch" -> multiTouchOracle,
    "c34_stream_multitouch" -> multiTouchOracle,
    "e2_ivf_trained" -> ivfTrainedOracle,
    "e109_silhouette" -> silhouetteOracle,

    // Weighted quantile = smallest price whose cumulative integer
    // weight crosses ceil(p·W): cross-multiplied thresholds, exact
    // centi-unit weights, one double division for the report total.
    "q111_weighted_quantiles" ->
      """WITH byp AS (
           SELECT l_returnflag, l_extendedprice,
             SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS w
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL
           GROUP BY l_returnflag, l_extendedprice),
         cums AS (
           SELECT l_returnflag, l_extendedprice,
             SUM(w) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tot
           FROM byp)
         SELECT l_returnflag,
           min(CASE WHEN cum * 4 >= tot THEN l_extendedprice END) AS wq25,
           min(CASE WHEN cum * 2 >= tot THEN l_extendedprice END) AS wq50,
           min(CASE WHEN cum * 4 >= tot * 3 THEN l_extendedprice END)
             AS wq75,
           CAST(max(tot) AS DOUBLE) / 100.0 AS total_weight
         FROM cums GROUP BY l_returnflag""")

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
      .syntheticCentroids(SimilarityQueries.ivfN, 64)
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
    val fd = SimilarityQueries.foldDot("e.embedding", "q.qe")
    val fna = SimilarityQueries.foldDot("e.embedding", "e.embedding")
    val fnb = SimilarityQueries.foldDot("q.qe", "q.qe")
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

  /** U-shaped 40/40/20 multi-touch in exact integer µ-shares — the
    * single oracle for the batch q110 window query AND the streaming
    * c34 state walk (stream/batch parity). Integer division `//` with
    * remainder-to-second-last mirrors Attribution.creditShares; the
    * only doubles are the two report-time divisions.
    */
  private def multiTouchOracle: String =
    """WITH ev AS (
         SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
           value,
           CASE WHEN event_type <> 'purchase' THEN event_type END AS touch
         FROM events),
       t1 AS (
         SELECT *, CASE WHEN touch IS NOT NULL THEN
             last_value(touch IGNORE NULLS) OVER wnd END AS pt
         FROM ev
         WINDOW wnd AS (PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       t2 AS (
         SELECT event_type, value,
           count(touch) OVER wnd AS n,
           first_value(touch IGNORE NULLS) OVER wnd AS ft,
           last_value(touch IGNORE NULLS) OVER wnd AS lt,
           last_value(pt IGNORE NULLS) OVER wnd AS slt,
           count(CASE WHEN touch = 'click' THEN 1 END) OVER wnd AS cnt_click,
           count(CASE WHEN touch = 'view' THEN 1 END) OVER wnd AS cnt_view,
           count(CASE WHEN touch = 'signup' THEN 1 END) OVER wnd AS cnt_signup,
           count(CASE WHEN touch = 'error' THEN 1 END) OVER wnd AS cnt_error
         FROM t1
         WINDOW wnd AS (PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       p AS (
         SELECT CAST(round(value * 100) AS BIGINT) AS cents, n, ft, lt,
           slt, cnt_click, cnt_view, cnt_signup, cnt_error,
           CASE WHEN n >= 3 THEN 200000 // (n - 2) ELSE 0 END AS b
         FROM t2 WHERE event_type = 'purchase'),
       cr AS (
         SELECT ty.t AS touch_type, p.cents,
           CASE
             WHEN p.n = 0 THEN
               CASE WHEN ty.t = '(none)' THEN 1000000 ELSE 0 END
             WHEN ty.t = '(none)' THEN 0
             WHEN p.n = 1 THEN
               CASE WHEN p.ft = ty.t THEN 1000000 ELSE 0 END
             WHEN p.n = 2 THEN
               500000 * (CASE WHEN p.ft = ty.t THEN 1 ELSE 0 END) +
               500000 * (CASE WHEN p.lt = ty.t THEN 1 ELSE 0 END)
             ELSE
               400000 * (CASE WHEN p.ft = ty.t THEN 1 ELSE 0 END) +
               400000 * (CASE WHEN p.lt = ty.t THEN 1 ELSE 0 END) +
               (CASE ty.t WHEN 'click' THEN p.cnt_click
                 WHEN 'view' THEN p.cnt_view
                 WHEN 'signup' THEN p.cnt_signup
                 ELSE p.cnt_error END
                - (CASE WHEN p.ft = ty.t THEN 1 ELSE 0 END)
                - (CASE WHEN p.lt = ty.t THEN 1 ELSE 0 END)) * p.b +
               (CASE WHEN p.slt = ty.t THEN 1 ELSE 0 END) *
                 (200000 - p.b * (p.n - 2))
           END AS w
         FROM p, (VALUES ('click'), ('view'), ('signup'), ('error'),
           ('(none)')) AS ty(t))
       SELECT touch_type,
         CAST(SUM(w) AS DOUBLE) / 1000000.0 AS conversions,
         CAST(SUM(w * cents) AS DOUBLE) / 100000000.0 AS attributed_value
       FROM cr WHERE w > 0
       GROUP BY touch_type"""
}

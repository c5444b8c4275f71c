package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{HeavyHitters, TextAnalysis}

/** Round-8 surface growth, second wave: reshaping (unpivot), event-time
  * range frames, time-series gap fill, LATERAL correlated subqueries,
  * deterministic random projection, winsorized robust aggregation, and
  * sketch-pruned heavy hitters.
  *
  * Determinism rules (see [[Tables]]): money/qty doubles go through
  * exact decimal sums; float embeddings and event values are quantized
  * with `floor(x · scale)` into BIGINT fixed-point (floor of an
  * identical IEEE double is identical in every engine); every integer
  * SUM the oracle computes is CAST back to BIGINT (DuckDB promotes to
  * HUGEINT, which the driver would hash as float).
  */
object Surface12Queries extends QuerySet {
  import Tables._

  /** Random-projection sign matrix dimensions: 64-dim input → 8 output. */
  private val rpDims = 8

  /** e62's safety-term set, shared with e142's Cochran-Q screen (one
    * definition so the two queries can never drift apart). A real
    * deployment swaps in a broadcast dim without changing plan shape.
    */
  private[queries] val blocklistTerms = Seq("spark", "stream", "vector", "window")

  /** [[blocklistTerms]] as a DuckDB list literal for oracle texts. */
  private[queries] val blocklistTermsSql =
    blocklistTerms.map(t => s"'$t'").mkString("[", ", ", "]")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // UNPIVOT / melt — the wide→long reshape every metrics pipeline
    // needs (one row per (group, measure)). The aggregation runs FIRST
    // (4 sums over one scan, one hash exchange on the 6-group key);
    // unpivot then explodes 4 measure columns of the tiny aggregate —
    // reshaping never touches the fact table, so at 100 TB the unpivot
    // cost is O(groups · measures), not O(rows). Sums are exact decimal
    // cents (order-independent), surfaced as BIGINT
    "q95_unpivot" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val base = li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        (dsumDec(col("l_quantity"), 2) * 100).cast("long").as("sum_qty_c"),
        (dsumDec(col("l_extendedprice"), 2) * 100).cast("long")
          .as("sum_price_c"),
        (dsumDec(col("l_discount"), 2) * 100).cast("long").as("sum_disc_c"),
        count(lit(1)).as("n_lines"))
      base.unpivot(
        Array(col("l_returnflag"), col("l_linestatus")),
        Array(col("sum_qty_c"), col("sum_price_c"), col("sum_disc_c"),
          col("n_lines")),
        "measure", "value_c")
    }),

    // Event-time RANGE window frame: per-user trailing-1-hour sum and
    // count at every event — the "feature at event time" shape of a
    // training pipeline (no leakage: frame ends AT the current row).
    // RANGE BETWEEN 3600 PRECEDING on epoch seconds, so rows land in
    // the frame by TIME distance, not row distance, and ties share one
    // frame. One hash exchange on user_id + a per-user sort — the same
    // plan at 100 TB because frames never cross users; values are
    // floor-quantized BIGINT milli-units so the moving sum is exact
    // integer arithmetic (any accumulation order)
    "q96_range_window" -> ((s, dir) => {
      val ev = events(s, dir).select(
        col("event_id"), col("user_id"),
        expr("unix_micros(ts) div 1000000").as("sec"),
        floor(col("value") * 1000).cast("long").as("vm"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-3600, Window.currentRow)
      ev.select(col("event_id"), col("user_id"), col("sec"),
        sum(col("vm")).over(w).as("w_sum"),
        count(lit(1)).over(w).as("w_cnt"))
    }),

    // Time-series GAP FILL: resample each user to an hourly grid over
    // their own [first, last] hour and forward-fill missing hours from
    // the last observed value — the resample + LOCF primitive behind
    // feature backfills. Stage 1 aggregates events to (user, hour)
    // (one hash exchange); stage 2 explodes a per-user sequence() grid
    // (rows ∝ users · their span — never a global calendar cross
    // join); stage 3 left-joins observations and forward-fills with
    // last(ignoreNulls) over a per-user ROWS frame. All exchanges are
    // on user_id, so the 100 TB plan is one shuffle reused by the
    // join and the window
    "q97_gap_fill" -> ((s, dir) => {
      val hourly = events(s, dir)
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(floor(col("value") * 1000).cast("long")).as("s"))
      val grid = hourly.groupBy(col("user_id"))
        .agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
        .select(col("user_id"),
          explode(expr("sequence(mn, mx, interval 1 hour)")).as("hr"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr"),
          last(col("s"), ignoreNulls = true).over(w).as("filled"))
    }),

    // LATERAL correlated subquery — the per-row subquery SQL surface
    // (Spark decorrelates it into a join + aggregate; the plan is the
    // same grouped left join you would write by hand, so the lateral
    // form costs nothing at scale). Customers with no orders keep a
    // row: count() in a no-group aggregate lateral yields 0, max NULL
    "q98_lateral" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_q98")
      t(s, dir, "orders").createOrReplaceTempView("orders_q98")
      s.sql(
        """SELECT c.c_custkey, c.c_name, o.mx_price, o.n_orders
           FROM customer_q98 c,
           LATERAL (SELECT max(o_totalprice) AS mx_price,
                           count(*) AS n_orders
                    FROM orders_q98 WHERE o_custkey = c.c_custkey) o""")
    }),

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
    "e57_random_projection" -> ((s, dir) => {
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
    }),

    // WINSORIZED aggregation — robust corpus statistics: per-language
    // doc-length mean with tails clipped at the exact type-1 p10/p90
    // quantiles (k-th smallest, k = ceil(q·n) in pure integer
    // arithmetic — no float threshold ambiguity). Rank pass = one hash
    // exchange on lang + per-group sort (spillable, same plan at any
    // scale); bounds collapse to ≤ |langs| rows, broadcast back, and
    // the clipped re-aggregation is a second narrow scan. The judged
    // sum is BIGINT — exact in any order
    "e58_winsorize" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"))
      val r = d
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("n_chars"), col("doc_id"))).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
      val bounds = r.groupBy(col("lang")).agg(
        max(when(col("rn") === expr("(n + 9) div 10"), col("n_chars")))
          .as("lo"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("n_chars")))
          .as("hi"))
      d.join(broadcast(bounds), Seq("lang"))
        .groupBy(col("lang"), col("lo"), col("hi"))
        .agg(sum(greatest(least(col("n_chars"), col("hi")), col("lo")))
          .as("sum_clipped"),
          count(lit(1)).as("n_docs"))
        .select(col("lang"), col("lo"), col("hi"), col("sum_clipped"),
          col("n_docs"))
    }),

    // DYNAMIC partition pruning — q87 proves STATIC pruning (the
    // predicate names the partition); here the partitions to read are
    // only discoverable AT RUNTIME, from the dim side of a join: fact
    // partitioned by event_type ⋈ a category dim filtered to
    // 'engagement'. Catalyst plants a DynamicPruning subquery on the
    // fact scan (reusing the dim's broadcast), so the scan lists only
    // the partitions whose keys survive the dim filter — the "join to
    // a 2-of-50-category dim" 100 TB read skips 96% of the files
    // before a byte moves, with no literal in the query to push down.
    // The plan is REQUIRED to carry the dynamic filter; reuses q87's
    // staged partitioned fixture
    "q99_dpp" -> ((s, dir) => {
      import s.implicits._
      // the dim must be a SCANNABLE relation (a LocalRelation never
      // gets a DPP subquery — probed on 4.1.2); stage it like any real
      // catalog dim
      val dim = Stage.durableFrame(s, "q99-dim-cat", dir) {
        Seq(
          ("click", "engagement"), ("view", "engagement"),
          ("purchase", "conversion"), ("signup", "conversion"),
          ("error", "ops")).toDF("event_type", "category").coalesce(1)
      }
      val joined = s.read.parquet(Surface10Queries.eventsByType(s, dir))
        .join(dim.where(col("category") === "engagement"), "event_type")
        .groupBy(col("event_type").cast("string").as("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000).cast("long")).as("vm"))
      require(joined.queryExecution.executedPlan.toString
        .contains("dynamicpruning"),
        "fact scan must carry a DynamicPruning partition filter")
      joined
    }),

    // TOKEN-BUDGETED mixture sampling — the training-mixture builder's
    // core move: consume each source's docs in a stable pseudo-random
    // order (md5 of the id — identical on every engine and retry)
    // until that source's TOKEN budget is spent, greedy
    // start-before-budget rule (a doc is in iff the tokens consumed
    // before it are under quota — so the budget can overshoot by at
    // most one doc, never undershoot). One hash exchange on source +
    // a per-source running sum; at 100 TB the window sort is
    // source-local and spillable, and the same plan serves per-source
    // quotas of any size. Counts exact BIGINT; e53 samples by DOC
    // quota, this samples by TOKEN budget — the unit mixtures are
    // actually specified in
    "e63_token_budget" -> ((s, dir) => {
      val quota = 600L
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .where(col("cum") - col("n_tok") < quota)
        .select(col("doc_id"), col("source"), col("n_tok"), col("cum"))
    }),

    // BLOCKLIST / multi-term safety filter — the keyword-screening pass
    // every corpus curation stack runs (safety terms, PII keywords,
    // boilerplate markers). The term set rides the plan as a literal
    // array (broadcast-equivalent; a real deployment swaps in a
    // broadcast dim without changing shape) and matching is
    // array_intersect over the SAME tokenizer every other text op uses
    // — one narrow scan, no shuffle until the tiny per-doc rollup.
    // Matched terms surface sorted so the judged frame is
    // deterministic; docs with no hits keep a row (matched = empty,
    // blocked = false) because a filter that silently drops rows can't
    // be audited
    "e62_blocklist" -> ((s, dir) => {
      val terms = blocklistTerms
      t(s, dir, "documents")
        .select(col("doc_id"),
          array_sort(array_intersect(
            array_distinct(TextAnalysis.tokens(col("text"))),
            lit(terms.toArray))).as("m"))
        .select(col("doc_id"),
          concat_ws(",", col("m")).as("matched"),
          (size(col("m")) > 0).as("blocked"),
          size(col("m")).cast("long").as("n_matched"))
    }),

    // EXACT repeated-SPAN detection — the substring-level duplication
    // signal (à la training-data dedup of repeated passages): a 5-token
    // sliding window per doc, a span is "duplicated" when it appears in
    // MORE THAN ONE doc, and each doc reports its span count + how many
    // of its spans are shared. Spans are distinct-per-doc, so the
    // per-span doc count is a plain count(*) window over ONE span-keyed
    // exchange (no self-join, no second tokenize pass); the per-doc
    // rollup rides a doc_id exchange. At 100 TB this is the inverted-
    // index dataflow — the span exchange is the inherent cost, and
    // uniform md5-free keys mean no hot bucket. Counts are BIGINT —
    // exact at any parallelism
    "e61_span_dedup" -> ((s, dir) => {
      val W = 5
      val spans = tBalanced(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .where(size(col("tk")) >= W)
        .select(col("doc_id"), explode(array_distinct(transform(
          sequence(lit(1), size(col("tk")) - (W - 1)),
          i => concat_ws(" ",
            (0 until W).map(o => element_at(col("tk"), i + lit(o))): _*))))
          .as("span"))
      spans
        .withColumn("span_docs",
          count(lit(1)).over(Window.partitionBy(col("span"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("span_docs") > 1, 1L).otherwise(0L))
            .as("n_dup_spans"))
    }),

    // HEAVY HITTERS via Misra–Gries sketches + exact confirmation
    // ([[HeavyHitters]]): keys above fraction 1/65 of the corpus,
    // found WITHOUT aggregating the full key cardinality — the sketch
    // pass is narrow (64 counters per partition, union is a provable
    // candidate superset under any partitioning), and only broadcast
    // candidates are counted exactly. Deterministic because the final
    // integer-exact filter is computed from exact counts; the sketch
    // only prunes. The 100 TB shape for "top domains / hot users"
    // where groupBy(key) would shuffle billions of groups for a ≤ 64
    // row answer
    "e59_heavy_hitters" -> ((s, dir) =>
      HeavyHitters.exactHeavyHitters(
        t(s, dir, "documents"),
        concat(col("lang"), lit("|"), col("source")), heavyHitterK)
        .orderBy(col("key"))))

  /** e59's Misra–Gries k: the cnt·(k+1) > total gate constant, shared
    * with the streaming twin (c41) and the oracle text so the three
    * sites can never silently diverge.
    */
  private[queries] val heavyHitterK = 64

  val oracles: Map[String, String] = Map(
    "q95_unpivot" ->
      """WITH a AS (
           SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,2))) * 100 AS BIGINT)
               AS sum_qty_c,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) * 100
               AS BIGINT) AS sum_price_c,
             CAST(sum(CAST(l_discount AS DECIMAL(38,2))) * 100 AS BIGINT)
               AS sum_disc_c,
             CAST(count(*) AS BIGINT) AS n_lines
           FROM lineitem GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus, 'sum_qty_c' AS measure,
                sum_qty_c AS value_c FROM a
         UNION ALL
         SELECT l_returnflag, l_linestatus, 'sum_price_c', sum_price_c
         FROM a
         UNION ALL
         SELECT l_returnflag, l_linestatus, 'sum_disc_c', sum_disc_c FROM a
         UNION ALL
         SELECT l_returnflag, l_linestatus, 'n_lines', n_lines FROM a""",
    "q96_range_window" ->
      """WITH e AS (
           SELECT event_id, user_id,
                  epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec,
                  CAST(floor(value * 1000) AS BIGINT) AS vm
           FROM events)
         SELECT event_id, user_id, sec,
           CAST(SUM(vm) OVER (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS w_sum,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS w_cnt
         FROM e""",
    "q97_gap_fill" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
                    FROM events),
           hourly AS (
             SELECT user_id, date_trunc('hour', ts) AS hr,
                    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
                      AS s
             FROM e GROUP BY 1, 2),
           spans AS (SELECT user_id, min(hr) AS mn, max(hr) AS mx
                     FROM hourly GROUP BY 1),
           grid AS (SELECT user_id,
                           unnest(generate_series(mn, mx, INTERVAL 1 HOUR))
                             AS hr
                    FROM spans),
           j AS (SELECT g.user_id, g.hr, h.s
                 FROM grid g LEFT JOIN hourly h
                   ON g.user_id = h.user_id AND g.hr = h.hr)
         SELECT user_id, hr,
           last_value(s IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled
         FROM j""",
    "q98_lateral" ->
      """SELECT c.c_custkey, c.c_name, o.mx_price, o.n_orders
         FROM customer c,
         LATERAL (SELECT max(o_totalprice) AS mx_price,
                         CAST(count(*) AS BIGINT) AS n_orders
                  FROM orders WHERE o_custkey = c.c_custkey) o""",
    "e57_random_projection" ->
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
         GROUP BY 1, 2""",
    "e58_winsorize" ->
      """WITH r AS (
           SELECT lang, n_chars,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY n_chars, doc_id) AS rn,
                  count(*) OVER (PARTITION BY lang) AS n
           FROM documents),
           b AS (
             SELECT lang,
                    max(CASE WHEN rn = (n + 9) // 10 THEN n_chars END)
                      AS lo,
                    max(CASE WHEN rn = (9 * n + 9) // 10 THEN n_chars END)
                      AS hi
             FROM r GROUP BY lang)
         SELECT d.lang, b.lo, b.hi,
                CAST(sum(greatest(least(d.n_chars, b.hi), b.lo)) AS BIGINT)
                  AS sum_clipped,
                CAST(count(*) AS BIGINT) AS n_docs
         FROM documents d JOIN b USING (lang)
         GROUP BY 1, 2, 3""",
    "e59_heavy_hitters" ->
      s"""SELECT lang || '|' || source AS key, CAST(count(*) AS BIGINT) AS cnt
         FROM documents GROUP BY 1
         HAVING count(*) * ${heavyHitterK + 1} > (SELECT count(*) FROM documents)""",
    "e63_token_budget" ->
      """WITH d AS (
           SELECT doc_id, source,
                  CAST(len(list_filter(string_split_regex(lower(text),
                    '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tok
           FROM documents),
           c AS (
             SELECT doc_id, source, n_tok,
                    CAST(SUM(n_tok) OVER (PARTITION BY source
                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum
             FROM d)
         SELECT doc_id, source, n_tok, cum FROM c
         WHERE cum - n_tok < 600""",
    "e62_blocklist" ->
      s"""WITH m AS (
           SELECT doc_id,
                  list_sort(list_intersect(
                    list_distinct(list_filter(string_split_regex(
                      lower(text), '[^a-z0-9]+'), x -> x <> '')),
                    $blocklistTermsSql)) AS mm
           FROM documents)
         SELECT doc_id, COALESCE(array_to_string(mm, ','), '') AS matched,
                len(mm) > 0 AS blocked,
                CAST(len(mm) AS BIGINT) AS n_matched
         FROM m""",
    "e61_span_dedup" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text),
                    '[^a-z0-9]+'), x -> x <> '') AS tk
           FROM documents
           WHERE len(list_filter(string_split_regex(lower(text),
             '[^a-z0-9]+'), x -> x <> '')) >= 5),
           sp AS (
             SELECT DISTINCT doc_id,
                    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                      tk[i+3] || ' ' || tk[i+4] AS span
             FROM (SELECT doc_id, tk,
                     unnest(generate_series(1, len(tk)-4)) AS i
                   FROM toks)),
           sc AS (SELECT doc_id, span,
                    count(*) OVER (PARTITION BY span) AS span_docs
                  FROM sp)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                CAST(sum(CASE WHEN span_docs > 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup_spans
         FROM sc GROUP BY 1""",
    "q99_dpp" ->
      """WITH d AS (SELECT * FROM (VALUES
             ('click', 'engagement'), ('view', 'engagement'),
             ('purchase', 'conversion'), ('signup', 'conversion'),
             ('error', 'ops')) AS t(event_type, category)),
           e AS (SELECT event_type, value FROM events)
         SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
                  AS vm
         FROM e JOIN d ON e.event_type = d.event_type
         WHERE d.category = 'engagement'
         GROUP BY 1""")
}

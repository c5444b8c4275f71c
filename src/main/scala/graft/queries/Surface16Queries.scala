package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 tranche: retrieval-curation shapes a training-data pipeline
  * runs between dedup and packing — margin-based bitext mining
  * (Artetxe–Schwenk style difference margin), hard-negative mining for
  * contrastive training, centroid-distance outlier pruning, n-gram
  * novelty scoring, per-source distribution drift, join-cardinality
  * estimation — plus an IGNORE NULLS forward-fill window on the events
  * table (reference has no window surface at all; SURVEY §2.5).
  *
  * Float discipline matches the repo convention, one of two judged
  * recipes per query: order-independent fixed-point sums
  * (floor(x·1e7) as BIGINT before any aggregate — e73, e78) or the
  * native `vec_dot` sequential double fold whose element order is
  * fixed and bit-equal to the oracle's `list_reduce` (e72, e75).
  * IEEE ops otherwise appear only in per-row scalar tails identical
  * on both engines.
  */
object Surface16Queries extends QuerySet {
  import Tables._

  private def emb(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

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
    "e72_bitext_margin" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
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
    }),

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
    "e75_hard_negatives" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
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
    }),

    // CENTROID-DISTANCE OUTLIERS: per-label centroid (fixed-point
    // sums, same construction as e23_mean_pool), then each vector's
    // squared distance to its own centroid, top-3 farthest per label —
    // the embedding-space pruning pass that drops mislabeled/garbage
    // rows before training. Two hash exchanges total (dim-wise centroid
    // agg, per-vector distance agg); the centroid frame is
    // labels×dims = tiny, so the join broadcasts.
    "e73_centroid_outliers" -> ((s, dir) => {
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
    }),

    // N-GRAM NOVELTY: per document, the fraction of its distinct word
    // bigrams appearing in NO other document — the redundancy/novelty
    // score curation uses to prefer fresh text when trimming to a token
    // budget. Document frequency is one explode+groupBy (the exchange
    // is on the shingle key, map-side partials apply); the ratio is
    // exact-integer until one final division.
    "e76_novelty" -> ((s, dir) => {
      val sh = tBalanced(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.TextAnalysis.tokens(col("text")).as("tk"))
        .where(size(col("tk")) > 1)
        .select(col("doc_id"),
          explode(graft.operators.TextAnalysis
            .wordShinglesFromTokens(col("tk"))).as("sn"))
      val df = sh.groupBy("sn").agg(count(lit(1)).as("df"))
      sh.join(df, "sn")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, lit(1L)).otherwise(lit(0L)))
            .as("n_unique"))
        .select(col("doc_id"), col("n_shingles"), col("n_unique"),
          (col("n_unique").cast("double") / col("n_shingles"))
            .as("novelty"))
    }),

    // TOKENIZER FERTILITY by language: BPE-ish subword count over
    // whitespace-word count — the per-language tokenizer-cost metric a
    // multilingual pipeline tracks when budgeting context windows
    // (high fertility = language pays more tokens per word). Narrow
    // expression-only map + one small group-by; exact integer sums,
    // one final division.
    "e81_tokenizer_fertility" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"),
          graft.operators.TextAnalysis.tokenCount(col("text")).as("nw"),
          graft.operators.TextAnalysis.bpeTokenCount(col("text")).as("nb"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("n_words"), sum(col("nb")).as("n_bpe"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe"),
          (col("n_bpe").cast("double") / col("n_words")).as("fertility"))),

    // LENGTH-THRESHOLD SWEEP: survivors and surviving token mass for a
    // grid of min-length cutoffs, from ONE corpus scan (conditional
    // sums per threshold, no per-threshold pass) — the audit run
    // before fixing a length filter, where the kept-token curve is
    // the decision input. Integer-exact; scales as a single narrow
    // aggregate.
    "e82_length_sweep" -> ((s, dir) => {
      // all 10 conditional sums ride ONE aggregate over one scan (a
      // per-threshold .agg union would plan 5 independent scans, each
      // re-running tokenCount over the corpus); the 1-row result is
      // then unpivoted to threshold rows with a single explode
      val ths = Seq(50L, 100L, 200L, 400L, 800L)
      val base = t(s, dir, "documents")
        .select(col("n_chars"),
          graft.operators.TextAnalysis.tokenCount(col("text")).as("nt"))
      val aggs = ths.flatMap { th => Seq(
        sum(when(col("n_chars") >= th, lit(1L)).otherwise(lit(0L)))
          .as(s"k_$th"),
        sum(when(col("n_chars") >= th, col("nt")).otherwise(lit(0L)))
          .as(s"t_$th")) }
      base.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(ths.map(th =>
          struct(lit(th).as("min_chars"), col(s"k_$th").as("n_kept"),
            col(s"t_$th").as("tokens_kept"))): _*)).as("r"))
        .select(col("r.min_chars"), col("r.n_kept"), col("r.tokens_kept"))
    }),

    // JOIN-CARDINALITY ESTIMATION: the equi-width key-histogram
    // statistic a cost-based planner keeps — self-join size of
    // lineitem on suppkey estimated from 64 md5-bucketed (rows,
    // distinct-keys) pairs under the uniform-within-bucket assumption,
    // judged against the exact Σ n(k)² answer computed in the same
    // pass. Estimator arithmetic is exact-integer (nb² div db summed
    // as longs), so the audit is reproducible at any parallelism; the
    // exact side is one (key → count) aggregate — the map-side-combine
    // exchange that also feeds the histogram.
    "q104_join_card" -> ((s, dir) => {
      val perKey = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("k")).agg(count(lit(1)).as("n"))
      val exact = perKey.agg(sum(col("n") * col("n")).as("exact_card"))
      val bucket = conv(substring(md5(col("k").cast("string")), 1, 4),
        16, 10).cast("long") % 64
      val est = perKey.groupBy(bucket.as("b"))
        .agg(sum(col("n")).as("nb"), count(lit(1)).as("db"))
        .agg(sum(expr("(nb * nb) div db")).as("est_card"))
      exact.crossJoin(est)
        .select(col("exact_card"), col("est_card"),
          (col("est_card").cast("double") /
            col("exact_card").cast("double")).as("est_over_exact"))
    }),

    // PER-SOURCE DISTRIBUTION DRIFT: chi-square divergence of each
    // source's token distribution against the corpus distribution
    // (over the tokens the source actually emits) — the drift monitor
    // a curation pipeline runs per ingest source to catch a feed gone
    // bad. One tokenize+explode pass feeds every aggregate; counts are
    // exact integers, each chi-square term is quantized before the sum
    // so the score is aggregation-order independent; the corpus-total
    // frame is a 1-row broadcast.
    "e78_source_drift" -> ((s, dir) => {
      val tok = tBalanced(s, dir, "documents")
        .select(col("source"),
          explode(graft.operators.TextAnalysis.tokens(col("text")))
            .as("t"))
      val st = tok.groupBy("source", "t").agg(count(lit(1)).as("c_st"))
      val ct = st.groupBy("t").agg(sum(col("c_st")).as("c_t"))
      val ns = st.groupBy("source").agg(sum(col("c_st")).as("n_s"))
      val n = broadcast(ct.agg(sum(col("c_t")).as("n")))
      val p = col("c_st").cast("double") / col("n_s")
      val q = col("c_t").cast("double") / col("n")
      st.join(ct, "t").join(ns, "source").crossJoin(n)
        .select(col("source"), col("n_s"),
          floor(pow(p - q, 2) / q * lit(1e9)).cast("long").as("tq"))
        .groupBy("source", "n_s")
        .agg((sum(col("tq")).cast("double") / lit(1e9)).as("chi2"))
        .select(col("source"), col("n_s").as("n_tokens"), col("chi2"))
    }),

    // PER-SOURCE CAP (domain cap): keep at most K docs per source,
    // preferring longer docs (ties → lower doc_id) — the Gopher/CCNet
    // curation step that stops one over-crawled domain from dominating
    // a training mix. One exchange on source + a partition-local rank;
    // every row keeps its rank and kept flag, so the audit (who was
    // capped, by how much) is the judged result. At 100 TB a
    // heavy-hitter domain concentrates its rank sort in one partition;
    // since only the top-K survive, the production form pre-filters
    // with a per-salt top-K (TakeOrdered per (source, salt), then one
    // merge rank over ≤ salt·K rows per source) — the cap semantics
    // and this plan's output are unchanged by that rewrite.
    "e84_source_cap" -> ((s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("src_rank", row_number().over(w).cast("long"))
        .withColumn("kept", col("src_rank") <= 20)
    }),

    // IGNORE NULLS forward-fill: per user in event order, carry the
    // last non-null value forward (error events contribute no value).
    // One window pass, partition-parallel by user — the canonical
    // gap-fill for sensor/clickstream feeds. No float arithmetic: the
    // carried value is copied, never summed, so doubles are safe.
    "q103_ignore_nulls" -> ((s, dir) => {
      // (ts, event_id) order: duplicate timestamps within a user would
      // otherwise make the carried value engine/run-dependent (same
      // tie-break discipline as e5_sessionize)
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tsu"),
          last(when(col("event_type") =!= "error", col("value")),
            ignoreNulls = true).over(w).as("filled_value"))
    }))

  private val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  private val shingleCte =
    s"""toks AS (SELECT doc_id, $tokensSql AS tk FROM documents
                 WHERE len($tokensSql) > 1),
        sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] AS sn
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, len(tk)-1)) AS i FROM toks))"""

  val oracles: Map[String, String] = Map(
    "e72_bitext_margin" ->
      s"""WITH a AS (SELECT vec_id AS a_id, embedding AS ae,
              sqrt(${SimilarityQueries.foldDot("embedding", "embedding")})
                AS sna
            FROM embeddings WHERE label = 0),
          b AS (SELECT vec_id AS b_id, embedding AS be,
              sqrt(${SimilarityQueries.foldDot("embedding", "embedding")})
                AS snb
            FROM embeddings WHERE label = 1),
          sc AS (SELECT a_id, b_id,
              ${SimilarityQueries.foldDot("ae", "be")} / (sna * snb)
                AS cosine
            FROM a, b),
          r AS (SELECT a_id, b_id, cosine,
              row_number() OVER w AS rn,
              lead(cosine) OVER w AS runner_up
            FROM sc WINDOW w AS (PARTITION BY a_id
              ORDER BY cosine DESC, b_id))
          SELECT a_id, b_id, cosine, cosine - runner_up AS margin
          FROM r WHERE rn = 1""",
    "e75_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
              embedding AS qe,
              sqrt(${SimilarityQueries.foldDot("embedding", "embedding")})
                AS snq
            FROM embeddings WHERE vec_id % 100 = 0),
          c AS (SELECT vec_id, label, embedding,
              sqrt(${SimilarityQueries.foldDot("embedding", "embedding")})
                AS snc
            FROM embeddings),
          sc AS (SELECT q.query_id, c.vec_id,
              ${SimilarityQueries.foldDot("c.embedding", "q.qe")}
                / (snc * snq) AS cosine
            FROM c JOIN q ON c.label <> q.qlabel),
          r AS (SELECT query_id, vec_id, cosine,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, vec_id) AS rank
            FROM sc)
          SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 3""",
    "e73_centroid_outliers" ->
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
          FROM r WHERE rank <= 3""",
    "e76_novelty" ->
      s"""WITH $shingleCte,
          df AS (SELECT sn, count(*) AS df FROM sh GROUP BY sn)
          SELECT doc_id, count(*) AS n_shingles,
            CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_unique,
            CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*) AS novelty
          FROM sh JOIN df USING (sn) GROUP BY doc_id""",
    "e81_tokenizer_fertility" ->
      s"""WITH d AS (SELECT lang, len($tokensSql) AS nw,
            len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
              AS nb
          FROM documents),
          g AS (SELECT lang, count(*) AS n_docs,
              CAST(SUM(nw) AS BIGINT) AS n_words,
              CAST(SUM(nb) AS BIGINT) AS n_bpe
            FROM d GROUP BY lang)
          SELECT lang, n_docs, n_words, n_bpe,
            CAST(n_bpe AS DOUBLE) / n_words AS fertility
          FROM g""",
    "e82_length_sweep" ->
      s"""WITH d AS (SELECT n_chars, len($tokensSql) AS nt FROM documents),
          t(min_chars) AS (VALUES (CAST(50 AS BIGINT)), (100), (200),
            (400), (800))
          SELECT t.min_chars,
            CAST(SUM(CASE WHEN n_chars >= t.min_chars THEN 1 ELSE 0 END)
              AS BIGINT) AS n_kept,
            CAST(SUM(CASE WHEN n_chars >= t.min_chars THEN nt ELSE 0 END)
              AS BIGINT) AS tokens_kept
          FROM d, t GROUP BY t.min_chars""",
    "q104_join_card" ->
      """WITH pk AS (SELECT l_suppkey AS k, count(*) AS n
            FROM lineitem GROUP BY 1),
          ex AS (SELECT CAST(SUM(n * n) AS BIGINT) AS exact_card FROM pk),
          h AS (SELECT CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 4)
                  AS BIGINT) % 64 AS b,
                CAST(SUM(n) AS BIGINT) AS nb, count(*) AS db
            FROM pk GROUP BY 1),
          es AS (SELECT CAST(SUM((nb * nb) // db) AS BIGINT) AS est_card
            FROM h)
          SELECT exact_card, est_card,
            CAST(est_card AS DOUBLE) / CAST(exact_card AS DOUBLE)
              AS est_over_exact
          FROM ex, es""",
    "e78_source_drift" ->
      s"""WITH tok AS (SELECT source, unnest($tokensSql) AS t
            FROM documents),
          st AS (SELECT source, t, count(*) AS c_st FROM tok GROUP BY 1, 2),
          ct AS (SELECT t, CAST(SUM(c_st) AS BIGINT) AS c_t
            FROM st GROUP BY 1),
          ns AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s
            FROM st GROUP BY 1),
          nt AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n FROM ct),
          terms AS (SELECT st.source, ns.n_s,
              CAST(floor(pow(CAST(c_st AS DOUBLE) / n_s
                  - CAST(c_t AS DOUBLE) / nt.n, 2)
                / (CAST(c_t AS DOUBLE) / nt.n) * 1e9) AS BIGINT) AS tq
            FROM st JOIN ct USING (t) JOIN ns USING (source), nt)
          SELECT source, n_s AS n_tokens,
            CAST(CAST(SUM(tq) AS BIGINT) AS DOUBLE) / 1e9 AS chi2
          FROM terms GROUP BY source, n_s""",
    "e84_source_cap" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS BIGINT) AS src_rank
           FROM documents)
         SELECT doc_id, source, n_chars, src_rank,
           (src_rank <= 20) AS kept
         FROM r""",
    "q103_ignore_nulls" ->
      """SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
           last_value(CASE WHEN event_type <> 'error' THEN value END
             IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_value
         FROM events""")
}

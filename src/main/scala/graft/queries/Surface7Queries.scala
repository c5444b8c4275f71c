package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Rank

/** Seventh tranche (round 7b): corpus-curation operators a training
  * pipeline runs between dedup and packing — deterministic weighted
  * sampling, curriculum bucketing, and stopword induction.
  *
  * Determinism strategy (the engine-wide rule): every "random" choice
  * derives from md5 of a stable id, every ratio is a single IEEE
  * division of exact integers — so the judged frame is bit-identical
  * on any engine at any parallelism.
  */
object Surface7Queries extends QuerySet {
  import Tables._

  private val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Deterministic WEIGHTED sampling, 5 docs per language: priority
    // key u/w where u = first 6 md5 hex digits of the id (exact
    // integer) and w = n_chars — the exponential-race trick with a
    // hash-derived uniform, so longer documents are proportionally
    // likelier to be picked and the draw is reproducible run-to-run.
    // Scale shape: per-partition top-5 per language FIRST (narrow, no
    // skew), then the global top-5 over ≤ 5·partitions survivors per
    // language — a heavy-hitter language never concentrates the sort
    // on one task, unlike a naive corpus-wide Window.partitionBy(lang)
    "e35_weighted_sample" -> ((s, dir) => {
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("long")
      val keyed = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"),
          (u.cast("double") / col("n_chars").cast("double")).as("w_key"))
      val local = Window.partitionBy(spark_partition_id(), col("lang"))
        .orderBy(col("w_key"), col("doc_id"))
      val global = Window.partitionBy(col("lang"))
        .orderBy(col("w_key"), col("doc_id"))
      keyed
        .withColumn("lrk", row_number().over(local))
        .where(col("lrk") <= 5)
        .withColumn("rk", row_number().over(global).cast("long"))
        .where(col("rk") <= 5)
        .select("lang", "doc_id", "n_chars", "w_key", "rk")
    }),

    // Curriculum bucketing: decile of a GLOBAL ordering by document
    // length — via the scale-safe two-pass global rank (range partition
    // → local row_number → broadcast prefix offsets), not a
    // single-partition Window.orderBy; ntile derives in closed form
    "e36_curriculum" -> ((s, dir) =>
      Rank.withGlobalRowNumber(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        Seq(col("n_chars"), col("doc_id")))
        .select(col("doc_id"), col("n_chars"),
          Rank.ntileOf(col("rn"), col("n_total"), 10).as("bucket"))),

    // Stopword induction: the 50 highest-document-frequency tokens —
    // distinct tokens per doc, one hash agg on token, global top-50 via
    // ordered limit (TakeOrdered: per-partition heaps, no full sort)
    "e37_stopwords" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(array_distinct(
          graft.operators.TextAnalysis.tokens(col("text")))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("df_docs"))
        .orderBy(col("df_docs").desc, col("token"))
        .limit(50)),

    // First BPE merge-candidate scan: adjacent character-pair
    // frequencies over every token occurrence — the counting pass a
    // tokenizer trainer runs per merge round. Narrow double-generate
    // (tokens, then in-token positions) → one hash exchange on the
    // pair; top-30 via TakeOrdered
    "e42_bpe_pairs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(
          graft.operators.TextAnalysis.tokens(col("text"))).as("tk"))
        .where(length(col("tk")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(tk)-1), i -> substring(tk, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(30)),

    // Chunker round-trip integrity: rebuild each document from its
    // sliding-window chunks (window 50 / stride 40, same params as
    // e14_chunk) by mapping every chunk token to its global position
    // (start = chunk_id·stride + 1) and deduplicating the overlap —
    // the audit that proves the segmentation pass loses nothing. All
    // narrow generates plus one hash agg on doc_id
    "e43_dechunk" -> ((s, dir) => {
      import graft.operators.{Corpus, TextAnalysis}
      val docsTk = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      val chunks = Corpus.chunkTokens(docsTk, "doc_id", "tk", 50, 40)
      val toks = chunks
        .select(col("doc_id"), col("chunk_id"),
          posexplode(split(col("chunk_text"), " ")))
        .select(col("doc_id"),
          (col("chunk_id") * 40 + col("pos") + 1).as("pos"),
          col("col").as("tok"))
        .distinct()
      val rebuilt = toks.groupBy("doc_id").agg(
        count(lit(1)).as("n_rebuilt"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("rebuilt"))
      rebuilt.join(docsTk, "doc_id")
        .select(col("doc_id"), col("n_rebuilt"),
          size(col("tk")).cast("long").as("n_tok"),
          (col("rebuilt") === array_join(col("tk"), " ") &&
            col("n_rebuilt") === size(col("tk"))).as("roundtrip_ok"))
    }),

    // Packing-efficiency report downstream of e9_pack: per language,
    // bins used, docs and token mass packed, and the fill fraction
    // against the 2048-token window — the utilization number a
    // sequence-packing pass publishes. Exact integer sums; one IEEE
    // division per group
    "e44_pack_stats" -> ((s, dir) =>
      TextQueries.all("e9_pack")(s, dir)
        .groupBy("lang", "bin")
        .agg(sum("n_tok").as("fill"), count(lit(1)).as("n_docs"))
        .groupBy("lang").agg(
          count(lit(1)).as("n_bins"),
          sum("n_docs").as("n_docs"),
          sum("fill").as("tok_total"),
          (sum("fill").cast("double") /
            (count(lit(1)) * lit(2048L)).cast("double")).as("fill_frac"))))

  val oracles: Map[String, String] = Map(
    "e35_weighted_sample" ->
      """WITH k AS (SELECT lang, doc_id, n_chars,
             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
                 AS BIGINT) AS DOUBLE)
               / CAST(n_chars AS DOUBLE) AS w_key
           FROM documents),
          r AS (SELECT lang, doc_id, n_chars, w_key,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY w_key, doc_id) AS rk
                FROM k)
          SELECT lang, doc_id, n_chars, w_key, CAST(rk AS BIGINT) AS rk
          FROM r WHERE rk <= 5""",
    "e36_curriculum" ->
      """SELECT doc_id, n_chars,
           CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
             AS bucket
         FROM documents""",
    "e37_stopwords" ->
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($tokensSql))
              AS token FROM documents)
          SELECT token, count(*) AS df_docs FROM tok GROUP BY token
          ORDER BY df_docs DESC, token LIMIT 50""",
    "e42_bpe_pairs" ->
      s"""WITH tok AS (SELECT unnest($tokensSql) AS tk FROM documents),
          p AS (SELECT unnest(list_transform(range(1, len(tk)),
                  i -> substr(tk, i, 2))) AS pair
                FROM tok WHERE len(tk) >= 2)
          SELECT pair, count(*) AS n FROM p GROUP BY pair
          ORDER BY n DESC, pair LIMIT 30""",
    "e43_dechunk" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
          st AS (SELECT doc_id, tk,
                   unnest(range(1, greatest(len(tk) - 10, 1) + 1, 40)) AS st
                 FROM tk),
          pt AS (SELECT DISTINCT doc_id, st + j - 1 AS pos,
                   tk[CAST(st + j - 1 AS INT)] AS tok
                 FROM (SELECT doc_id, tk, st,
                         unnest(generate_series(1, len(tk[st : st + 49])))
                           AS j
                       FROM st)),
          r AS (SELECT doc_id, count(*) AS n_rebuilt,
                  array_to_string(list(tok ORDER BY pos), ' ') AS rebuilt
                FROM pt GROUP BY doc_id)
          SELECT r.doc_id, CAST(n_rebuilt AS BIGINT) AS n_rebuilt,
            CAST(len(tk.tk) AS BIGINT) AS n_tok,
            (rebuilt = array_to_string(tk.tk, ' ')
             AND n_rebuilt = len(tk.tk)) AS roundtrip_ok
          FROM r JOIN tk ON r.doc_id = tk.doc_id""",
    "e44_pack_stats" ->
      s"""WITH tc AS (SELECT lang, doc_id, CAST(len($tokensSql) AS BIGINT)
              AS n_tok FROM documents),
          p AS (SELECT lang, n_tok,
                  CAST((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_tok) AS BIGINT) // 2048 AS bin
                FROM tc),
          b AS (SELECT lang, bin, SUM(n_tok) AS fill, count(*) AS n_docs
                FROM p GROUP BY lang, bin)
          SELECT lang, count(*) AS n_bins,
            CAST(SUM(n_docs) AS BIGINT) AS n_docs,
            CAST(SUM(fill) AS BIGINT) AS tok_total,
            CAST(SUM(fill) AS DOUBLE) / CAST(count(*) * 2048 AS DOUBLE)
              AS fill_frac
          FROM b GROUP BY lang""")
}

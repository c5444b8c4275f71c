package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Judged queries for the text-analysis operator set (north star §2.6 E4)
  * over the `documents` table, all through [[graft.operators.TextAnalysis]]
  * expressions with full DuckDB oracles.
  */
object TextQueries extends QuerySet {
  import Tables._

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Term frequency: tokenize → explode → count; top-100 deterministic
    "e4_tf" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(100)),

    // Quality-score features per document. The token array is staged as
    // its own projection so the tokenize pass runs once per row, not
    // once per feature (Catalyst has no CSE across lambda bodies)
    "e4_quality" -> ((s, dir) => {
      val cols = TextAnalysis
        .qualityFeaturesFromTokens(col("text"), col("tk"))
        .map { case (n, c) => c.as(n) }
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id") +: cols: _*)
    }),

    // Language-ID heuristic (stopword-marker argmax), staged: tokens →
    // per-language score columns → argmax over the materialized scores
    "e4_langid" -> ((s, dir) => {
      val scoreCols = TextAnalysis.langScoresFromTokens(col("tk"))
        .map { case (l, c) => c.as(s"s_$l") }
      val picked = TextAnalysis.pickLang(
        TextAnalysis.langMarkers.map { case (l, _) => l -> col(s"s_$l") })
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id") +: scoreCols: _*)
        .select(col("doc_id"), picked.as("detected"))
    }),

    // Token counting: whitespace-ish + BPE-ish regex segmentation
    "e4_tokens" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))),

    // PII-style scrubbing: digit-run redaction (the cheap regex pass a
    // corpus pipeline runs before anything leaves the trust boundary)
    "e4_redact" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        regexp_replace(col("text"), "[0-9]+", "<NUM>").as("redacted"))),

    // Within-document repetition: distinct-token ratio, the standard
    // boilerplate/spam signal (low ratio = highly repetitive doc)
    "e4_repetition" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .where(size(col("tk")) > 0)
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_tokens"),
          size(array_distinct(col("tk"))).cast("long").as("n_distinct"),
          (size(array_distinct(col("tk"))).cast("double") / size(col("tk")))
            .as("distinct_ratio"))),

    // Document fingerprint (canonical-form md5)
    "e4_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),

    // Sequence packing: assign documents to fixed-size context-window
    // bins (2048 tokens) via a running token total — the batching pass a
    // training pipeline runs before tokenized-example serialization.
    // Packing is inherently sequential per stream, so it is partitioned
    // by a shard key (lang here); each shard's running sum is one
    // window, no global sort — the 100 TB shape
    "e9_pack" -> ((s, dir) =>
      graft.operators.Corpus.packSequences(
        t(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tok")),
        shard = "lang", order = "doc_id", weight = "n_tok",
        windowTokens = 2048)),

    // The composed corpus-curation gate: token-count band + punctuation
    // ceiling + identified language — the standard pre-training filter
    // pipeline, as one narrow scan-fused predicate (no shuffle)
    "e11_quality_gate" -> ((s, dir) => {
      val scoreCols = TextAnalysis.langScoresFromTokens(col("tk"))
        .map { case (l, c) => c.as(s"s_$l") }
      val picked = TextAnalysis.pickLang(
        TextAnalysis.langMarkers.map { case (l, _) => l -> col(s"s_$l") })
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          TextAnalysis.tokens(col("text")).as("tk"))
        .select(Seq(col("doc_id"), col("lang"),
          size(col("tk")).cast("long").as("n_tok"),
          TextAnalysis.punctRatio(col("text")).as("pr")) ++ scoreCols: _*)
        .select(col("doc_id"), col("lang"), col("n_tok"), col("pr"),
          picked.as("det"))
        .where(col("n_tok").between(5, 100000) &&
          col("pr") < 0.2 && col("det") =!= "und")
        .select("doc_id", "lang", "n_tok", "det")
    }),

    // Corpus accounting per language slice: docs, chars, tokens —
    // integer sums are exact so no decimal detour is needed
    "e4_corpus_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).as("tc"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("tc")).as("total_tokens"),
          (sum(col("tc")).cast("double") / count(lit(1)))
            .as("avg_doc_tokens"))))

  private val markerSql = TextAnalysis.langMarkers.map { case (l, ms) =>
    l -> ms.map(m => s"'$m'").mkString("[", ", ", "]")
  }.toMap

  private val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  val oracles: Map[String, String] = Map(
    "e4_tf" ->
      s"""SELECT token, count(*) AS n
          FROM (SELECT unnest($tokensSql) AS token FROM documents)
          GROUP BY token ORDER BY n DESC, token LIMIT 100""",
    "e4_quality" -> {
      val all = TextAnalysis.langMarkers.flatMap(_._2)
        .map(m => s"'$m'").mkString("[", ", ", "]")
      s"""SELECT doc_id,
          len($tokensSql) AS n_tokens,
          len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
            AS n_bpe_tokens,
          CAST(len(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
            / len($tokensSql) AS avg_token_len,
          CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
            AS DOUBLE) / len(text) AS punct_ratio,
          CAST(len(list_filter($tokensSql, x -> list_contains($all, x)))
            AS DOUBLE) / len($tokensSql) AS stopword_ratio
          FROM documents"""
    },
    "e4_langid" -> {
      val score = (l: String) =>
        s"len(list_filter($tokensSql, x -> list_contains(${markerSql(l)}, x)))"
      s"""WITH sc AS (SELECT doc_id,
            ${score("en")} AS s_en, ${score("de")} AS s_de,
            ${score("fr")} AS s_fr, ${score("es")} AS s_es
          FROM documents)
          SELECT doc_id, CASE
            WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0
              THEN 'en'
            WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
            WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
            WHEN s_es > 0 THEN 'es'
            ELSE 'und' END AS detected
          FROM sc"""
    },
    "e4_tokens" ->
      s"""SELECT doc_id, len($tokensSql) AS n_ws,
          len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
            AS n_bpe
          FROM documents""",
    "e4_redact" ->
      """SELECT doc_id,
         regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS redacted
         FROM documents""",
    "e4_repetition" ->
      s"""SELECT doc_id,
          CAST(len($tokensSql) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct($tokensSql)) AS BIGINT) AS n_distinct,
          CAST(len(list_distinct($tokensSql)) AS DOUBLE) / len($tokensSql)
            AS distinct_ratio
          FROM documents WHERE len($tokensSql) > 0""",
    "e4_fingerprint" ->
      """SELECT doc_id,
         md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
         FROM documents""",
    "e9_pack" ->
      s"""WITH tc AS (SELECT lang, doc_id, CAST(len($tokensSql) AS BIGINT)
            AS n_tok FROM documents)
          SELECT lang, doc_id, n_tok,
            CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tok,
            CAST((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
              AS BIGINT) // 2048 AS bin
          FROM tc""",
    "e11_quality_gate" -> {
      val score = (l: String) =>
        s"len(list_filter($tokensSql, x -> list_contains(${markerSql(l)}, x)))"
      s"""WITH sc AS (SELECT doc_id, lang,
            CAST(len($tokensSql) AS BIGINT) AS n_tok,
            CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
              AS DOUBLE) / len(text) AS pr,
            ${score("en")} AS s_en, ${score("de")} AS s_de,
            ${score("fr")} AS s_fr, ${score("es")} AS s_es
          FROM documents),
          d AS (SELECT doc_id, lang, n_tok, pr, CASE
              WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0
                THEN 'en'
              WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
              WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
              WHEN s_es > 0 THEN 'es'
              ELSE 'und' END AS det
            FROM sc)
          SELECT doc_id, lang, n_tok, det FROM d
          WHERE n_tok BETWEEN 5 AND 100000 AND pr < 0.2 AND det <> 'und'"""
    },
    "e4_corpus_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          CAST(SUM(len($tokensSql)) AS BIGINT) AS total_tokens,
          CAST(SUM(len($tokensSql)) AS DOUBLE) / count(*)
            AS avg_doc_tokens
          FROM documents GROUP BY lang""")
}

package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Quantiles, Rank, TextAnalysis}

/** Text analysis: tokenization, language id, quality signals, term
  * statistics, n-gram models and retrieval scoring over the document
  * corpus.
  */
object TextQueries extends Family {
  import Tables._

  private val markerSql = TextAnalysis.langMarkers.map { case (l, ms) =>
    l -> ms.map(m => s"'$m'").mkString("[", ", ", "]")
  }.toMap

  /** e4_langid's oracle, shared with the queries that embed it. */
  private[queries] val langidSql = {
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
    }

  // distinct word bigrams from the token list (1-based list indexing;
  // range(1, n) is empty for n <= 1, matching the Spark-side size guard)
  private val bigramsSql =
    s"list_distinct(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]))"

  private val allMarkers = TextAnalysis.langMarkers.flatMap(_._2)

  private val allMarkersSql =
    allMarkers.map(m => s"'$m'").mkString("[", ", ", "]")

  /** e62's safety-term set, shared with e142's Cochran-Q screen (one
    * definition so the two queries can never drift apart). A real
    * deployment swaps in a broadcast dim without changing plan shape.
    */
  private[queries] val blocklistTerms = Seq("spark", "stream", "vector", "window")

  /** [[blocklistTerms]] as a DuckDB list literal for oracle texts. */
  private[queries] val blocklistTermsSql =
    blocklistTerms.map(t => s"'$t'").mkString("[", ", ", "]")

  private val shingleCte =
    s"""toks AS (SELECT doc_id, $tokensSql AS tk FROM documents
                 WHERE len($tokensSql) > 1),
        sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] AS sn
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, len(tk)-1)) AS i FROM toks))"""

  /** (query_id, term) pairs for e96 — a literal broadcast table. */
  private val bm25Terms: Seq[(String, String)] = Seq(
    "t1" -> "vector", "t1" -> "scan",
    "t2" -> "join", "t2" -> "hash", "t2" -> "merge",
    "t3" -> "stream", "t3" -> "window")

  /** The md5-prefix doc hash (the e35/e164 idiom): exact integer from
    * the first 6 hex digits, reproducible on any partitioning and in
    * the oracle.
    */
  private def docHash = conv(substring(
    md5(col("doc_id").cast("string")), 1, 6), 16, 10).cast("long")

  private val mdHashSql =
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)"

  val judged: Seq[Judged] = Seq(
    // Corpus bigram term frequency: staged tokens → distinct word
    // bigrams per doc → explode → count → top-100 (deterministic order)
    Judged("e12_bigram_tf", (s, dir) =>
      t(s, dir, "documents")
        .select(TextAnalysis.tokens(col("text")).as("tk"))
        .select(explode(TextAnalysis.wordShinglesFromTokens(col("tk")))
          .as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bg")).limit(100),
      s"""WITH tk AS (SELECT $tokensSql AS tk FROM documents)
          SELECT bg, count(*) AS n
          FROM (SELECT unnest($bigramsSql) AS bg FROM tk)
          GROUP BY bg ORDER BY n DESC, bg LIMIT 100"""),

    // TF-IDF with an engine-portable IDF: the textbook ln(N/df) is a
    // libm call whose last ULP differs across engines, so the rarity
    // weight is the exact rational N/df instead (single IEEE division —
    // bit-identical everywhere, same ranking as ln(N/df) since ln is
    // monotone). Top-5 terms per document by weight
    Judged("e16_tfidf", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val tf = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text")))
          .as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .persist()
      val df_ = tf.groupBy("token").agg(count(lit(1)).as("df_n"))
      val n = docs.select(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("token"))
      tf.join(df_, "token")
        .crossJoin(broadcast(n))
        .withColumn("tfidf", col("tf").cast("double") *
          (col("n_docs").cast("double") / col("df_n").cast("double")))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 5)
        .select("doc_id", "token", "tf", "tfidf", "rk")
    },
      s"""WITH tf AS (
            SELECT doc_id, token, count(*) AS tf
            FROM (SELECT doc_id, unnest($tokensSql) AS token FROM documents)
            GROUP BY doc_id, token),
          dfreq AS (SELECT token, count(*) AS df_n FROM tf GROUP BY token),
          n AS (SELECT count(*) AS n_docs FROM documents)
          SELECT doc_id, token, tf,
            CAST(tf AS DOUBLE) *
              (CAST(n_docs AS DOUBLE) / CAST(df_n AS DOUBLE)) AS tfidf,
            CAST(rk AS BIGINT) AS rk
          FROM (SELECT doc_id, token, tf, df_n, n_docs,
                  row_number() OVER (PARTITION BY doc_id ORDER BY
                    CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) /
                      CAST(df_n AS DOUBLE)) DESC, token) AS rk
                FROM tf JOIN dfreq USING (token) CROSS JOIN n)
          WHERE rk <= 5"""),

    // Bigram-frequency LM score: each document scored by the mean corpus
    // document-frequency of its distinct bigrams — the cheap
    // "how much does this doc look like the corpus" signal (a real LM
    // perplexity filter has this exact join shape: doc n-grams ⋈ n-gram
    // stats). Integer sums keep it exact at any parallelism; the bigram
    // frame feeds both the stats build and the scoring join, so persist
    Judged("e13_lm_score", (s, dir) => {
      val bg = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          explode(TextAnalysis.wordShinglesFromTokens(col("tk"))).as("bg"))
        .persist()
      val stats = bg.groupBy("bg").agg(count(lit(1)).as("df_n"))
      bg.join(stats, "bg")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("df_n")).as("sum_df"),
          (sum(col("df_n")).cast("double") / count(lit(1))).as("lm_score"))
    },
      s"""WITH bg AS (
            SELECT doc_id, unnest($bigramsSql) AS bg
            FROM (SELECT doc_id, $tokensSql AS tk FROM documents)),
          stats AS (SELECT bg, count(*) AS df_n FROM bg GROUP BY bg)
          SELECT doc_id,
            count(*) AS n_bigrams,
            CAST(SUM(df_n) AS BIGINT) AS sum_df,
            CAST(SUM(df_n) AS DOUBLE) / count(*) AS lm_score
          FROM bg JOIN stats USING (bg)
          GROUP BY doc_id"""),

    // The corpus report every curation run publishes: per (lang, source)
    // slice — volume, token mass, median length, unique-content count.
    // Integer sums keep it engine-portable; the median comes from
    // Quantiles.orderStats (count-histogram order statistics) rather
    // than the `percentile(...)` aggregate, which buffers every value of
    // a group in one aggregation buffer — the join back to the grouped
    // totals is groups-sized, so AQE broadcasts it
    Judged("e19_corpus_report", (s, dir) => {
      import graft.operators.Quantiles.{fracAt, hiRank, loRank, orderStats}
      val base = t(s, dir, "documents")
        .select(col("lang"), col("source"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).as("ntok"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
      val totals = base.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("total_tokens"),
          countDistinct(col("fp")).as("n_unique"))
      val med = orderStats(base, Seq("lang", "source"), "n_chars",
        Seq[(String, Column => Column)](
          "lo50" -> (c => loRank(c, 1, 2)), "hi50" -> (c => hiRank(c, 1, 2))))
        .select(col("lang"), col("source"),
          (col("lo50").cast("double") + fracAt(col("n_total"), 1, 2) *
            (col("hi50").cast("double") - col("lo50").cast("double")))
            .as("median_chars"))
      totals.join(med, Seq("lang", "source"))
        .select("lang", "source", "n_docs", "total_tokens", "median_chars",
          "n_unique")
    },
      s"""SELECT lang, source, count(*) AS n_docs,
          CAST(SUM(len($tokensSql)) AS BIGINT) AS total_tokens,
          quantile_cont(n_chars, 0.5) AS median_chars,
          count(DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')))
            AS n_unique
          FROM documents GROUP BY lang, source"""),

    // Token-count histogram (bucket width 16): the length-distribution
    // report that drives context-window and packing decisions
    Judged("e21_token_hist", (s, dir) =>
      t(s, dir, "documents")
        .select(TextAnalysis.tokenCount(col("text")).as("ntok"),
          col("n_chars"))
        .groupBy(floor(col("ntok") / lit(16.0)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("ntok")).as("min_tok"),
          max(col("ntok")).as("max_tok"),
          sum(col("n_chars")).as("total_chars")),
      s"""WITH d AS (SELECT CAST(len($tokensSql) AS BIGINT) AS ntok, n_chars
            FROM documents)
          SELECT CAST(floor(ntok / 16.0) AS BIGINT) AS bucket,
            count(*) AS n_docs,
            min(ntok) AS min_tok, max(ntok) AS max_tok,
            CAST(SUM(n_chars) AS BIGINT) AS total_chars
          FROM d GROUP BY bucket"""),

    // Per-source quality scorecard. Ratio averages go through fixed-point
    // integer sums (floor(r·1e9)) — double summation order differs across
    // engines/parallelism, quantized longs do not
    Judged("e22_source_quality", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), col("text"),
          TextAnalysis.tokens(col("text")).as("tk"))
        .where(size(col("tk")) > 0)
        .select(col("source"),
          size(col("tk")).cast("long").as("ntok"),
          floor(TextAnalysis.punctRatio(col("text")) * lit(1e9))
            .cast("long").as("pq"),
          floor((size(filter(col("tk"),
            x => x.isInCollection(allMarkers))).cast("double") /
            size(col("tk"))) * lit(1e9)).cast("long").as("sq"))
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("total_tokens"),
          (sum(col("pq")).cast("double") / lit(1e9) / count(lit(1)))
            .as("avg_punct"),
          (sum(col("sq")).cast("double") / lit(1e9) / count(lit(1)))
            .as("avg_stopword"))
    },
      s"""WITH d AS (SELECT source, CAST(len($tokensSql) AS BIGINT) AS ntok,
            CAST(floor(CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '',
              'g')) AS DOUBLE) / len(text) * 1e9) AS BIGINT) AS pq,
            CAST(floor(CAST(len(list_filter($tokensSql,
              x -> list_contains($allMarkersSql, x))) AS DOUBLE)
              / len($tokensSql) * 1e9) AS BIGINT) AS sq
          FROM documents WHERE len($tokensSql) > 0)
          SELECT source, count(*) AS n_docs,
            CAST(SUM(ntok) AS BIGINT) AS total_tokens,
            CAST(SUM(pq) AS DOUBLE) / 1e9 / count(*) AS avg_punct,
            CAST(SUM(sq) AS DOUBLE) / 1e9 / count(*) AS avg_stopword
          FROM d GROUP BY source"""),

    // Per-language z-score of document length from exact integer sums
    // (n, Σx, Σx²) — the feature-normalization pass before length-aware
    // sampling. The group stats broadcast back to the narrow scan; every
    // double derives from exact integers through an identical formula,
    // so the scores are bit-stable at any parallelism
    Judged("e31_len_zscore", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("ntok"))
      val stats = d.groupBy(col("lang").as("lang2"))
        .agg(count(lit(1)).as("n"), sum(col("ntok")).as("sx"),
          sum(col("ntok") * col("ntok")).as("sxx"))
      val nd = col("n").cast("double")
      val mean = col("sx").cast("double") / nd
      val variance = col("sxx").cast("double") / nd - mean * mean
      d.join(broadcast(stats), col("lang") === col("lang2"))
        .select(col("doc_id"), col("lang"), col("ntok"),
          ((col("ntok").cast("double") - mean) / sqrt(variance)).as("z"))
    },
      s"""WITH d AS (SELECT doc_id, lang,
            CAST(len($tokensSql) AS BIGINT) AS ntok FROM documents),
          st AS (SELECT lang AS lang2, count(*) AS n,
            CAST(SUM(ntok) AS BIGINT) AS sx,
            CAST(SUM(ntok * ntok) AS BIGINT) AS sxx
          FROM d GROUP BY lang)
          SELECT doc_id, lang, ntok,
            (CAST(ntok AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
            / sqrt(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS z
          FROM d JOIN st ON lang = lang2"""),

    // Tokenizer-design report: what fraction of all token occurrences
    // the top-1000 vocabulary covers. Two aggregations over one persisted
    // term-frequency frame; all counts integer-exact. The top-k side is
    // a TakeOrdered (no full sort) — the 100 TB shape for vocab builds
    Judged("e26_vocab_coverage", (s, dir) => {
      val tf = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .persist()
      val top = tf.orderBy(col("n").desc, col("tok")).limit(1000)
      top.agg(count(lit(1)).as("vocab_size"), sum(col("n")).as("covered"))
        .crossJoin(tf.agg(sum(col("n")).as("total_tokens")))
        .select(col("vocab_size"), col("total_tokens"), col("covered"),
          (col("covered").cast("double") / col("total_tokens"))
            .as("coverage_frac"))
    },
      s"""WITH tf AS (SELECT token, count(*) AS n
            FROM (SELECT unnest($tokensSql) AS token FROM documents)
            GROUP BY token),
          top AS (SELECT n FROM tf ORDER BY n DESC, token LIMIT 1000),
          a AS (SELECT count(*) AS vocab_size,
                  CAST(SUM(n) AS BIGINT) AS covered FROM top),
          tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_tokens FROM tf)
          SELECT vocab_size, total_tokens, covered,
            CAST(covered AS DOUBLE) / total_tokens AS coverage_frac
          FROM a, tot"""),

    // Term frequency: tokenize → explode → count; top-100 deterministic
    Judged("e4_tf", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(100),
      s"""SELECT token, count(*) AS n
          FROM (SELECT unnest($tokensSql) AS token FROM documents)
          GROUP BY token ORDER BY n DESC, token LIMIT 100"""),

    // Quality-score features per document. The token array is staged as
    // its own projection so the tokenize pass runs once per row, not
    // once per feature (Catalyst has no CSE across lambda bodies)
    Judged("e4_quality", (s, dir) => {
      val cols = TextAnalysis
        .qualityFeaturesFromTokens(col("text"), col("tk"))
        .map { case (n, c) => c.as(n) }
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id") +: cols: _*)
    },
      {
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
    }),

    // Language-ID heuristic (stopword-marker argmax), staged: tokens →
    // per-language score columns → argmax over the materialized scores
    Judged("e4_langid", (s, dir) => {
      val scoreCols = TextAnalysis.langScoresFromTokens(col("tk"))
        .map { case (l, c) => c.as(s"s_$l") }
      val picked = TextAnalysis.pickLang(
        TextAnalysis.langMarkers.map { case (l, _) => l -> col(s"s_$l") })
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id") +: scoreCols: _*)
        .select(col("doc_id"), picked.as("detected"))
    },
      langidSql),

    // Token counting: whitespace-ish + BPE-ish regex segmentation
    Judged("e4_tokens", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe")),
      s"""SELECT doc_id, len($tokensSql) AS n_ws,
          len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
            AS n_bpe
          FROM documents"""),

    // PII-style scrubbing: digit-run redaction (the cheap regex pass a
    // corpus pipeline runs before anything leaves the trust boundary)
    Judged("e4_redact", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        regexp_replace(col("text"), "[0-9]+", "<NUM>").as("redacted")),
      """SELECT doc_id,
         regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS redacted
         FROM documents"""),

    // Within-document repetition: distinct-token ratio, the standard
    // boilerplate/spam signal (low ratio = highly repetitive doc)
    Judged("e4_repetition", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .where(size(col("tk")) > 0)
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_tokens"),
          size(array_distinct(col("tk"))).cast("long").as("n_distinct"),
          (size(array_distinct(col("tk"))).cast("double") / size(col("tk")))
            .as("distinct_ratio")),
      s"""SELECT doc_id,
          CAST(len($tokensSql) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct($tokensSql)) AS BIGINT) AS n_distinct,
          CAST(len(list_distinct($tokensSql)) AS DOUBLE) / len($tokensSql)
            AS distinct_ratio
          FROM documents WHERE len($tokensSql) > 0"""),

    // Document fingerprint (canonical-form md5)
    Judged("e4_fingerprint", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp")),
      """SELECT doc_id,
         md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
         FROM documents"""),

    // The composed corpus-curation gate: token-count band + punctuation
    // ceiling + identified language — the standard pre-training filter
    // pipeline, as one narrow scan-fused predicate (no shuffle)
    Judged("e11_quality_gate", (s, dir) => {
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
    },
      {
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
    }),

    // Corpus accounting per language slice: docs, chars, tokens —
    // integer sums are exact so no decimal detour is needed
    Judged("e4_corpus_stats", (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).as("tc"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("tc")).as("total_tokens"),
          (sum(col("tc")).cast("double") / count(lit(1)))
            .as("avg_doc_tokens")),
      s"""SELECT lang, count(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          CAST(SUM(len($tokensSql)) AS BIGINT) AS total_tokens,
          CAST(SUM(len($tokensSql)) AS DOUBLE) / count(*)
            AS avg_doc_tokens
          FROM documents GROUP BY lang"""),

    // Stopword induction: the 50 highest-document-frequency tokens —
    // distinct tokens per doc, one hash agg on token, global top-50 via
    // ordered limit (TakeOrdered: per-partition heaps, no full sort)
    Judged("e37_stopwords", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(array_distinct(
          graft.operators.TextAnalysis.tokens(col("text")))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("df_docs"))
        .orderBy(col("df_docs").desc, col("token"))
        .limit(50),
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($tokensSql))
              AS token FROM documents)
          SELECT token, count(*) AS df_docs FROM tok GROUP BY token
          ORDER BY df_docs DESC, token LIMIT 50"""),

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
    Judged("e62_blocklist", (s, dir) => {
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
    },
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
         FROM m"""),

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
    Judged("e61_span_dedup", (s, dir) => {
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
    },
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
         FROM sc GROUP BY 1"""),

    // N-GRAM NOVELTY: per document, the fraction of its distinct word
    // bigrams appearing in NO other document — the redundancy/novelty
    // score curation uses to prefer fresh text when trimming to a token
    // budget. Document frequency is one explode+groupBy (the exchange
    // is on the shingle key, map-side partials apply); the ratio is
    // exact-integer until one final division.
    Judged("e76_novelty", (s, dir) => {
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
    },
      s"""WITH $shingleCte,
          df AS (SELECT sn, count(*) AS df FROM sh GROUP BY sn)
          SELECT doc_id, count(*) AS n_shingles,
            CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_unique,
            CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*) AS novelty
          FROM sh JOIN df USING (sn) GROUP BY doc_id"""),

    // LENGTH-THRESHOLD SWEEP: survivors and surviving token mass for a
    // grid of min-length cutoffs, from ONE corpus scan (conditional
    // sums per threshold, no per-threshold pass) — the audit run
    // before fixing a length filter, where the kept-token curve is
    // the decision input. Integer-exact; scales as a single narrow
    // aggregate.
    Judged("e82_length_sweep", (s, dir) => {
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
    },
      s"""WITH d AS (SELECT n_chars, len($tokensSql) AS nt FROM documents),
          t(min_chars) AS (VALUES (CAST(50 AS BIGINT)), (100), (200),
            (400), (800))
          SELECT t.min_chars,
            CAST(SUM(CASE WHEN n_chars >= t.min_chars THEN 1 ELSE 0 END)
              AS BIGINT) AS n_kept,
            CAST(SUM(CASE WHEN n_chars >= t.min_chars THEN nt ELSE 0 END)
              AS BIGINT) AS tokens_kept
          FROM d, t GROUP BY t.min_chars"""),

    // PER-SOURCE DISTRIBUTION DRIFT: chi-square divergence of each
    // source's token distribution against the corpus distribution
    // (over the tokens the source actually emits) — the drift monitor
    // a curation pipeline runs per ingest source to catch a feed gone
    // bad. One tokenize+explode pass feeds every aggregate; counts are
    // exact integers, each chi-square term is quantized before the sum
    // so the score is aggregation-order independent; the corpus-total
    // frame is a 1-row broadcast.
    Judged("e78_source_drift", (s, dir) => {
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
    },
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
          FROM terms GROUP BY source, n_s"""),

    // `e96_bm25` — BM25 ranked retrieval over a fixed query set. The
    // posting lists are built by ONE token explode + aggregate, the
    // query-term table is a broadcast literal (so only postings of query
    // terms ever shuffle — at 100 TB the Zipf head of the corpus never
    // enters the exchange), and per-query top-5 runs on the
    // rank()-over-window group-limit path. The idf uses the RATIONAL core
    // (N − df + ½)/(df + ½) of the Robertson–Spärck Jones weight WITHOUT
    // the ln: ln is not guaranteed correctly-rounded and its last-ulp
    // disagreement across engines would make a value-hashed oracle flaky,
    // while the ln-free form keeps every operation an IEEE-exact +,−,×,÷
    // that DuckDB and the JVM round identically. (Per-term ordering is
    // unchanged — ln is monotone; the judged metric is documented as
    // rational-idf BM25.) Term scores are summed as DECIMAL(38,9) images so
    // the score is independent of Spark's partition-order float summation.
    Judged("e96_bm25", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      // One explode pass feeds BOTH per-doc length and query-term tf.
      val toks = docs.select(col("doc_id"),
        explode(graft.operators.TextAnalysis.tokens(col("text")))
          .as("token"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val qterms = bm25Terms.toDF("query_id", "term")
      // Only query-term postings survive the broadcast semi-filter —
      // the corpus-wide token exchange never materializes.
      val tf = toks
        .join(broadcast(qterms.select("term").distinct()),
          col("token") === col("term"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df_n"))
      val stats = docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(dl.agg(sum(col("dl")).as("sum_dl")))
      // Rational-idf BM25, k1 = 1.2, b = 0.75 (k1+1 pre-folded to 2.2;
      // 1 − b to 0.25). Every step mirrors the oracle token-for-token.
      val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
      val idf = ((col("n_docs") - col("df_n")).cast("double") + lit(0.5)) /
        (col("df_n").cast("double") + lit(0.5))
      val den = col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))
      val termScore = idf * (col("tf").cast("double") * lit(2.2) / den)
      val scored = tf
        .join(broadcast(qterms), col("token") === col("term"))
        .join(dl, "doc_id")
        .join(broadcast(dfreq), "token")
        .crossJoin(broadcast(stats))
        .withColumn("tsc", dec(termScore, 9))
        .groupBy("query_id", "doc_id")
        .agg(sum(col("tsc")).as("score_dec"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("score_dec").desc, col("doc_id"))
      scored
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 5)
        .select(col("query_id"), col("doc_id"),
          col("score_dec").cast("string").cast("double").as("score"),
          col("rk"))
    },
      {
      val termRows = bm25Terms
        .map { case (q, t) => s"('$q', '$t')" }.mkString(", ")
      s"""WITH toks AS (
            SELECT doc_id, unnest($tokensSql) AS token FROM documents),
          dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
          qterms(query_id, term) AS (VALUES $termRows),
          tf AS (
            SELECT doc_id, token, count(*) AS tf FROM toks
            WHERE token IN (SELECT DISTINCT term FROM qterms)
            GROUP BY doc_id, token),
          dfreq AS (SELECT token, count(*) AS df_n FROM tf GROUP BY token),
          stats AS (
            SELECT (SELECT count(*) FROM documents) AS n_docs,
                   (SELECT sum(dl) FROM dl) AS sum_dl),
          scored AS (
            SELECT query_id, doc_id,
              SUM(CAST(
                ((CAST(n_docs - df_n AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
                 (CAST(df_n AS DOUBLE) + CAST(0.5 AS DOUBLE))) *
                (CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE) /
                 (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                  (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
                   (CAST(dl AS DOUBLE) /
                    (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
                AS DECIMAL(38,9))) AS score_dec
            FROM tf JOIN qterms ON token = term
              JOIN dl USING (doc_id)
              JOIN dfreq USING (token)
              CROSS JOIN stats
            GROUP BY query_id, doc_id)
          SELECT query_id, doc_id,
            CAST(CAST(score_dec AS VARCHAR) AS DOUBLE) AS score,
            CAST(rk AS BIGINT) AS rk
          FROM (SELECT query_id, doc_id, score_dec,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY score_dec DESC, doc_id) AS rk
                FROM scored)
          WHERE rk <= 5"""
    }),

    // `e108_rare_bigram_rate` — per-doc fraction of bigrams occurring
    // nowhere else in the corpus (gibberish high, boilerplate low).
    //
    // Per-doc RARE-BIGRAM RATE: the fraction of a doc's bigrams that
    // occur nowhere else in the corpus — high rate flags gibberish /
    // OCR noise (vocabulary the corpus never corroborates), low rate
    // flags boilerplate. The n-gram-LM-adjacent quality signal a
    // curation pass computes corpus-wide. Plan shape (r13, replacing a
    // count().over(Window.partitionBy(bigram)) that dragged every
    // occurrence row — doc_id included — through a SORTED exchange):
    // ONE tokenize pass feeds GROUPING SETS {(t1,t2), (doc_id)}, so a
    // single map-side-combinable hash exchange (Expand + partial agg —
    // nothing sorted, no occurrence row survives the map side) yields
    // both the bigram histogram and the per-doc totals. The join back
    // to docs is gone entirely: a bigram with corpus count 1 has
    // exactly ONE occurrence, so max(doc_id) inside the histogram cell
    // IS the owning doc — both slices re-key to that doc and ONE
    // doc-cardinality hash agg folds them into the report (a self-join
    // of the grouping-set frame would defeat the point: Spark pushes
    // the gid filters into per-side Expand branches, splitting the
    // plan back into two full scans).
    Judged("e108_rare_bigram_rate", (s, dir) => {
      val tk = graft.operators.TextAnalysis.tokens(col("text"))
      val bg = tBalanced(s, dir, "documents")
        .select(col("doc_id"), explode(arrays_zip(
          slice(tk, lit(1), size(tk) - 1).as("t1"),
          slice(tk, lit(2), size(tk) - 1).as("t2"))).as("b"))
        .select(col("doc_id"), col("b.t1").as("t1"), col("b.t2").as("t2"))
      // gid bits over (doc_id, t1, t2): 100b=4 → the (t1,t2) histogram
      // slice (c = corpus count, d = owning doc when c = 1);
      // 011b=3 → the per-doc totals slice (c = the doc's bigram count)
      bg.groupingSets(
          Seq(Seq(col("t1"), col("t2")), Seq(col("doc_id"))),
          col("doc_id"), col("t1"), col("t2"))
        .agg(count(lit(1)).as("c"), max(col("doc_id")).as("d"),
          grouping_id().as("gid"))
        .select(when(col("gid") === 3, col("doc_id"))
            .otherwise(col("d")).as("doc_id"),
          col("c"), col("gid"))
        .groupBy("doc_id")
        .agg(sum(when(col("gid") === 3, col("c"))).as("n_bigrams"),
          sum(when(col("gid") === 4 && col("c") === 1, 1L)
            .otherwise(0L)).as("n_rare"))
        .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
          (col("n_rare").cast("double") / col("n_bigrams").cast("double"))
            .as("rare_rate"))
    },
      // rare bigram = corpus count exactly 1 (necessarily this doc);
      // docs with fewer than 2 tokens have no bigrams and no row
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '') AS tk
           FROM documents),
         bg AS (
           SELECT doc_id, tk[g.i] AS t1, tk[g.i + 1] AS t2
           FROM toks, generate_series(1, 127) AS g(i)
           WHERE g.i < len(tk)),
         gc AS (
           SELECT doc_id, count(*) OVER (PARTITION BY t1, t2) AS gc
           FROM bg)
         SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN gc = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rare,
           CAST(SUM(CASE WHEN gc = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
             CAST(count(*) AS DOUBLE) AS rare_rate
         FROM gc GROUP BY doc_id"""),

    // DISTINCT-n DIVERSITY per source — the text-generation diversity
    // metric (distinct-1/distinct-2: unique n-grams over total
    // n-grams) applied as a corpus-curation report: low distinct-2
    // flags TEMPLATED/boilerplate feeds, high flags natural text.
    // Two hash aggregates per n; the ratios are the only divisions.
    Judged("e112_distinct_ngrams", (s, dir) => {
      val tk = graft.operators.TextAnalysis.tokens(col("text"))
      val base = tBalanced(s, dir, "documents")
        .select(col("source"), tk.as("tk"))
      val uni = base.select(col("source"), explode(col("tk")).as("g1"))
        .groupBy("source")
        .agg(countDistinct(col("g1")).as("d1"),
          count(lit(1)).as("n1"))
      val bi = base.select(col("source"), explode(arrays_zip(
          slice(col("tk"), lit(1), size(col("tk")) - 1).as("t1"),
          slice(col("tk"), lit(2), size(col("tk")) - 1).as("t2")))
          .as("b"))
        .select(col("source"),
          concat_ws(" ", col("b.t1"), col("b.t2")).as("g2"))
        .groupBy("source")
        .agg(countDistinct(col("g2")).as("d2"),
          count(lit(1)).as("n2"))
      uni.join(bi, "source")
        .select(col("source"), col("d1"), col("n1"),
          (col("d1").cast("double") / col("n1").cast("double"))
            .as("distinct1"),
          col("d2"), col("n2"),
          (col("d2").cast("double") / col("n2").cast("double"))
            .as("distinct2"))
    },
      """WITH toks AS (
           SELECT source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '') AS tk
           FROM documents),
         uni AS (
           SELECT source, CAST(count(DISTINCT g1) AS BIGINT) AS d1,
             CAST(count(*) AS BIGINT) AS n1
           FROM (SELECT source, unnest(tk) AS g1 FROM toks)
           GROUP BY source),
         bi AS (
           SELECT source, CAST(count(DISTINCT g2) AS BIGINT) AS d2,
             CAST(count(*) AS BIGINT) AS n2
           FROM (SELECT source, tk[g.i] || ' ' || tk[g.i + 1] AS g2
             FROM toks, generate_series(1, 127) AS g(i)
             WHERE g.i < len(tk))
           GROUP BY source)
         SELECT source, d1, n1,
           CAST(d1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS distinct1,
           d2, n2,
           CAST(d2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS distinct2
         FROM uni JOIN bi USING (source)"""),

    // `e111_vocab_coverage` — occurrence coverage of the top-k token types
    // (k = 100/1k/10k), the tokenizer-vocab sizing curve, over the
    // scale-safe global row number.
    //
    // VOCAB COVERAGE CURVE — the tokenizer-design statistic: what
    // fraction of all token occurrences does a vocabulary of the
    // top-k types cover? Token types ranked by (count desc, token)
    // via the scale-safe global row number (range partition + prefix
    // offsets — no single-task sort); the curve is then one aggregate
    // over the distinct-type frame with a per-k conditional sum, and
    // coverage is the single division per row. At 100 TB the corpus
    // pass is the token-count hash aggregate; everything after runs
    // on the type frame.
    Judged("e111_vocab_coverage", (s, dir) => {
      val ks = Seq(100L, 1000L, 10000L)
      val counts = tBalanced(s, dir, "documents")
        .select(explode(
          graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val ranked = graft.operators.Rank.withGlobalRowNumber(
        counts, Seq(col("cnt").desc, col("tok")))
      val aggCols = ks.map(k => sum(when(col("rn") <= k, col("cnt"))
        .otherwise(0L)).as(s"cov_$k")) :+ sum(col("cnt")).as("tot")
      val agg = ranked.agg(aggCols.head, aggCols.tail: _*)
      agg.selectExpr(
          s"stack(${ks.length}, " + ks.map(k =>
            s"CAST($k AS BIGINT), cov_$k").mkString(", ") +
            ") as (k, covered)", "tot")
        .select(col("k"), col("covered"), col("tot").as("total"),
          (col("covered").cast("double") / col("tot").cast("double"))
            .as("coverage"))
    },
      """WITH toks AS (
           SELECT unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS tok
           FROM documents),
         cnts AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           FROM toks GROUP BY tok),
         rk AS (SELECT tok, cnt,
             row_number() OVER (ORDER BY cnt DESC, tok) AS rn
           FROM cnts)
         SELECT CAST(v.k AS BIGINT) AS k,
           CAST(SUM(CASE WHEN rn <= v.k THEN cnt ELSE 0 END) AS BIGINT)
             AS covered,
           (SELECT CAST(SUM(cnt) AS BIGINT) FROM cnts) AS total,
           CAST(SUM(CASE WHEN rn <= v.k THEN cnt ELSE 0 END) AS DOUBLE)
             / CAST((SELECT SUM(cnt) FROM cnts) AS DOUBLE) AS coverage
         FROM rk, (VALUES (100), (1000), (10000)) AS v(k)
         GROUP BY v.k"""),

    // `e107_bigram_lm` — bigram language-model table: conditional
    // next-token probabilities for the corpus' top first-tokens — the count
    // statistic behind LM-based quality filtering. Exact integer counts;
    // probability is the single per-row division.
    Judged("e107_bigram_lm", (s, dir) => {
      // bigram counts: one narrow map (adjacent-token zip) + two hash
      // aggregates; the report is top-5 next-tokens for the top-10
      // first-tokens (all orderings fully tie-broken). At 100 TB the
      // pair counts are the only exchange; the report side is top-k.
      val tk = graft.operators.TextAnalysis.tokens(col("text"))
      val bg = tBalanced(s, dir, "documents")
        .select(explode(arrays_zip(
          slice(tk, lit(1), size(tk) - 1).as("t1"),
          slice(tk, lit(2), size(tk) - 1).as("t2"))).as("b"))
        .select(col("b.t1").as("t1"), col("b.t2").as("t2"))
      val pairCnt = bg.groupBy("t1", "t2").agg(count(lit(1)).as("pair_n"))
      val firstCnt = pairCnt.groupBy("t1")
        .agg(sum(col("pair_n")).as("first_n"))
      val topFirst = firstCnt
        .orderBy(col("first_n").desc, col("t1")).limit(10)
      val wNext = Window.partitionBy("t1")
        .orderBy(col("pair_n").desc, col("t2"))
      pairCnt.join(broadcast(topFirst), Seq("t1"))
        .withColumn("rk", row_number().over(wNext))
        .where(col("rk") <= 5)
        .select(col("t1"), col("t2"), col("rk").cast("long").as("rk"),
          col("pair_n"), col("first_n"),
          (col("pair_n").cast("double") / col("first_n").cast("double"))
            .as("p"))
    },
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '') AS tk
           FROM documents),
         bg AS (
           SELECT tk[g.i] AS t1, tk[g.i + 1] AS t2
           FROM toks, generate_series(1, 127) AS g(i)
           WHERE g.i < len(tk)),
         pc AS (SELECT t1, t2, count(*) AS pair_n FROM bg GROUP BY 1, 2),
         fc AS (SELECT t1, CAST(SUM(pair_n) AS BIGINT) AS first_n FROM pc GROUP BY 1),
         topf AS (SELECT t1, first_n FROM fc
           ORDER BY first_n DESC, t1 LIMIT 10),
         ranked AS (
           SELECT pc.t1, pc.t2, pc.pair_n, topf.first_n,
             row_number() OVER (PARTITION BY pc.t1
               ORDER BY pc.pair_n DESC, pc.t2) AS rk
           FROM pc JOIN topf USING (t1))
         SELECT t1, t2, CAST(rk AS BIGINT) AS rk, pair_n, first_n,
           CAST(pair_n AS DOUBLE) / CAST(first_n AS DOUBLE) AS p
         FROM ranked WHERE rk <= 5"""),

    // COLLOCATION extraction — the keyphrase/multi-word-expression
    // miner a curation pass runs before tokenizer training: bigrams
    // whose corpus frequency far exceeds the independence expectation,
    // ranked by LIFT n_ab·N / (n_a·n_b). Lift orders identically to
    // PMI (log is monotone) with NO logarithm anywhere — the rank key
    // is the exact integer floor((n_ab·N·1e6) / (n_a·n_b)) in
    // DECIMAL/HUGEINT (n_ab·N·1e6 overflows long at ×100), so the
    // top-k frontier is bit-deterministic cross-engine. Plan: ONE
    // corpus scan builds the joint successor histogram (arrays_zip
    // null-pads the shorter slice, so each document-final token
    // contributes a (t, null) row — every token occurrence appears
    // exactly once as t1); the unigram histogram is then a VOCAB-
    // sized re-agg of the joint frame, never a second corpus pass.
    // The joint histogram is durably staged (three downstream slices
    // read it, and it is exactly the n-gram checkpoint a corpus
    // pipeline persists between jobs); everything after it is
    // vocab-bounded hash joins + TakeOrdered(25).
    Judged("e117_collocations", (s, dir) => {
      val tk = graft.operators.TextAnalysis.tokens(col("text"))
      val hist = Stage.durableFrame(s, "e117-joint-hist", dir) {
        tBalanced(s, dir, "documents")
          .select(explode(arrays_zip(
            tk.as("t1"),
            slice(tk, lit(2), greatest(size(tk) - 1, lit(0)))
              .as("t2"))).as("p"))
          .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
          .groupBy("t1", "t2").agg(count(lit(1)).as("n"))
      }
      val uni = hist.groupBy(col("t1").as("t"))
        .agg(sum(col("n")).as("n"))
      val tot = uni.agg(sum(col("n")).as("nn"))
      val bg = hist.where(col("t2").isNotNull)
        .select(col("t1"), col("t2"), col("n").as("n_ab"))
        .where(col("n_ab") >= 20)
      bg.join(uni.select(col("t").as("t1"), col("n").as("n_a")), "t1")
        .join(uni.select(col("t").as("t2"), col("n").as("n_b")), "t2")
        .crossJoin(broadcast(tot))
        .select(col("t1"), col("t2"), col("n_ab"),
          graft.operators.Quantiles.ldiv(
            col("n_ab").cast("decimal(38,0)") * col("nn") * lit(1000000L),
            col("n_a").cast("decimal(38,0)") * col("n_b"))
            .cast("long").as("lift_micro"))
        .orderBy(col("lift_micro").desc, col("t1"), col("t2"))
        .limit(25)
    },
      // lift ranked by the exact integer micro-lift — HUGEINT product,
      // integer floor division, BIGINT re-narrow for the judged column
      s"""WITH tok AS (SELECT unnest($tokensSql) AS t FROM documents),
         uni AS (SELECT t, count(*) AS n FROM tok GROUP BY t),
         tot AS (SELECT SUM(n) AS nn FROM uni),
         bgx AS (
           SELECT tk[CAST(j AS INT)] AS t1, tk[CAST(j AS INT) + 1] AS t2
           FROM (SELECT tk, unnest(range(1, len(tk))) AS j
                 FROM (SELECT $tokensSql AS tk FROM documents))),
         bg AS (SELECT t1, t2, count(*) AS n_ab FROM bgx
                GROUP BY t1, t2 HAVING count(*) >= 20)
         SELECT t1, t2, n_ab,
           CAST((CAST(n_ab AS HUGEINT) * nn * 1000000) //
             (CAST(a.n AS HUGEINT) * b.n) AS BIGINT) AS lift_micro
         FROM bg
         JOIN uni a ON a.t = bg.t1
         JOIN uni b ON b.t = bg.t2, tot
         ORDER BY lift_micro DESC, t1, t2 LIMIT 25"""),

    // `e118_lexical_richness` — Yule's K, Simpson's D, hapax rate,
    // type-token ratio: ALL from the durably-staged full token histogram —
    // zero corpus passes at query time, pure vocabulary-bounded algebra
    // (the repeat-rate statistics that flag templated/boilerplate corpora
    // before training).
    //
    // LEXICAL RICHNESS report — Yule's K, Simpson's D, hapax/
    // dis-legomena rates, type-token ratio: the repeat-rate family
    // that flags templated or boilerplate-heavy corpora before
    // training (a spammy corpus shows K and D far above organic
    // text). EVERY statistic derives from the durably-staged full
    // token histogram — the query runs ZERO corpus passes; Σcnt² is
    // an exact decimal, and each output is one closed-form double.
    // No logarithm anywhere (K and D are rational; the entropy-form
    // richness measures are not oracle-safe cross-engine).
    Judged("e118_lexical_richness", (s, dir) => {
      // the corpus histogram is a RE-AGG of the shared per-doc token
      // histogram (DedupQueries.docTokenHist) — one tokenize pass
      // serves both fixtures, never a second scan of the text.
      // Resolved BEFORE the durableFrame thunk (hoisting discipline).
      val perDoc = DedupQueries.docTokenHist(s, dir)
      val hist = Stage.durableFrame(s, "token-hist-full", dir) {
        perDoc.groupBy("w").agg(sum(col("cnt")).as("cnt"))
      }
      val ag = hist.agg(count(lit(1)).as("types"),
        sum(col("cnt")).as("toks"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("dis"),
        sum(InferenceQueries.dec38(col("cnt")) * col("cnt")).as("s2"))
      ag.select(col("types").as("word_types"),
        col("toks").as("n_tokens"),
        col("hapax"), col("dis").as("dislegomena"),
        round(lit(10000.0) * (d(col("s2")) - d(col("toks"))) /
          (d(col("toks")) * d(col("toks"))), 8).as("yule_k"),
        round((d(col("s2")) - d(col("toks"))) /
          (d(col("toks")) * (d(col("toks")) - lit(1.0))), 8)
          .as("simpson_d"),
        round(d(col("hapax")) / d(col("types")), 8).as("hapax_rate"),
        round(d(col("types")) / d(col("toks")), 8).as("ttr"))
    },
      // all four richness statistics from the token histogram; K and D
      // are rational, so no logarithm crosses an engine boundary.
      s"""WITH hist AS (
           SELECT tk AS w, count(*) AS cnt
           FROM (SELECT unnest($tokensSql) AS tk FROM documents)
           GROUP BY 1),
         ag AS (SELECT
             CAST(count(*) AS BIGINT) AS types,
             CAST(SUM(cnt) AS BIGINT) AS toks,
             CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax,
             CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dis,
             SUM(CAST(cnt AS HUGEINT) * cnt) AS s2
           FROM hist)
         SELECT types AS word_types, toks AS n_tokens, hapax,
           dis AS dislegomena,
           round(10000.0 * (CAST(s2 AS DOUBLE) - CAST(toks AS DOUBLE)) /
             (CAST(toks AS DOUBLE) * CAST(toks AS DOUBLE)), 8) AS yule_k,
           round((CAST(s2 AS DOUBLE) - CAST(toks AS DOUBLE)) /
             (CAST(toks AS DOUBLE) * (CAST(toks AS DOUBLE) - 1.0)), 8)
             AS simpson_d,
           round(CAST(hapax AS DOUBLE) / CAST(types AS DOUBLE), 8)
             AS hapax_rate,
           round(CAST(types AS DOUBLE) / CAST(toks AS DOUBLE), 8) AS ttr
         FROM ag"""),

    // Language-ID confusion matrix: the judged e4_langid heuristic
    // audited against the labeled lang column — the classifier-eval
    // report a curation pipeline keeps for its router (which true
    // languages leak into which predicted buckets, at what rate).
    // Reuses e4_langid's exact derivation (one tokenize pass); the
    // matrix is ≤ |langs|² rows, per-lang totals join back broadcast.
    Judged("e127_langid_confusion", (s, dir) => {
      val det = SparkEntry.queries("e4_langid")(s, dir)
      val cm = t(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(det, "doc_id")
        .groupBy("lang", "detected").agg(count(lit(1)).as("n"))
      val tot = cm.groupBy("lang").agg(sum(col("n")).as("n_lang"))
      cm.join(broadcast(tot), "lang")
        .select(col("lang"), col("detected"), col("n"),
          round(col("n").cast("double") / col("n_lang"), 8).as("frac"))
    },
      s"""WITH det AS (${langidSql}),
          cm AS (SELECT d.lang, det.detected, count(*) AS n
                 FROM documents d JOIN det USING (doc_id)
                 GROUP BY d.lang, det.detected),
          tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang
                  FROM cm GROUP BY lang)
          SELECT lang, detected, n,
            round(CAST(n AS DOUBLE) / n_lang, 8) AS frac
          FROM cm JOIN tot USING (lang)"""),

    // `e134_top_bigram` — per-document top-2-gram concentration, the
    // Gopher/MassiveText repetition rule: fraction of a doc's bigrams taken
    // by its single most frequent bigram. e4_repetition is the UNIGRAM
    // distinct-ratio rule; e107/e112 are CORPUS-level bigram statistics;
    // this is the per-doc phrase-loop screen.
    //
    // Gopher rule: per doc, the share of bigram slots taken by the
    // single most frequent bigram. Adjacent-token zip (the e107
    // derivation, kept per-doc), two hash aggregates, one division.
    Judged("e134_top_bigram", (s, dir) => {
      val tk = TextAnalysis.tokens(col("text"))
      val bg = tBalanced(s, dir, "documents")
        .select(col("doc_id"), explode(arrays_zip(
          slice(tk, lit(1), size(tk) - 1).as("t1"),
          slice(tk, lit(2), size(tk) - 1).as("t2"))).as("b"))
        .select(col("doc_id"), col("b.t1").as("t1"), col("b.t2").as("t2"))
      bg.groupBy("doc_id", "t1", "t2").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum(col("cnt")).as("n_bigrams"), max(col("cnt")).as("top_cnt"))
        .select(col("doc_id"), col("n_bigrams"), col("top_cnt"),
          round(d(col("top_cnt")) / d(col("n_bigrams")), 8).as("top_frac"))
    },
      s"""WITH toks AS (
           SELECT doc_id, $tokensSql AS tk FROM documents),
         bg AS (
           SELECT doc_id, tk[g.i] AS t1, tk[g.i + 1] AS t2
           FROM toks, generate_series(1, 127) AS g(i)
           WHERE g.i < len(tk)),
         pc AS (SELECT doc_id, t1, t2, count(*) AS cnt
           FROM bg GROUP BY 1, 2, 3),
         agg AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
             CAST(MAX(cnt) AS BIGINT) AS top_cnt
           FROM pc GROUP BY 1)
         SELECT doc_id, n_bigrams, top_cnt,
           round(CAST(top_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 8)
             AS top_frac
         FROM agg"""),

    // `e156_texttiling` — TextTiling-style WITHIN-document topic-shift
    // segmentation (Hearst 1997, exact-arithmetic form): adjacent 20-token
    // blocks, boundary where distinct-token Jaccard < 0.1 held as an
    // integer cross-product compare, cohesion as a pooled ratio of sums.
    // Fully narrow — blocks, overlaps, and the rollup ride one projection;
    // zero shuffles before the report.
    //
    // TextTiling-style topic-shift segmentation (Hearst 1997,
    // simplified to an exact-arithmetic form): per document, adjacent
    // 20-token blocks compared by distinct-token Jaccard; a boundary
    // fires where inter·10 < union (the 0.1 threshold held as an
    // exact integer cross-product compare). The WITHIN-document
    // structure operator the text family lacked (e14 chunks by size,
    // e61/e66 find cross-doc repeats; this finds topic seams inside
    // one doc). Fully narrow: blocks, pair overlaps, and the rollup
    // all ride ONE projection over the tokens array — no explode, no
    // shuffle until the final doc-keyed report. Cohesion is the
    // pooled Σinter/Σunion (ratio of sums, not mean of ratios — exact
    // integers, order-free).
    Judged("e156_texttiling", (s, dir) => {
      import Quantiles.ldiv
      val W = 20
      val blocks = transform(
        sequence(lit(1L),
          ldiv(size(col("tk")).cast("long") - 1L, lit(W.toLong)) + 1L),
        i => array_distinct(slice(col("tk"),
          ((i - 1L) * W + 1L).cast("int"), lit(W))))
      // sequence(1, 0) DESCENDS in Spark, so a single-block doc must
      // short-circuit to an empty pair list explicitly
      val pairs = when(size(col("blocks")) > 1, transform(
        sequence(lit(1), size(col("blocks")) - 1),
        i => struct(
          size(array_intersect(element_at(col("blocks"), i),
            element_at(col("blocks"), i + 1))).cast("long").as("i"),
          size(array_union(element_at(col("blocks"), i),
            element_at(col("blocks"), i + 1))).cast("long").as("u"))))
        .otherwise(array().cast("array<struct<i:bigint,u:bigint>>"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .where(size(col("tk")) > 0)
        .select(col("doc_id"), blocks.as("blocks"))
        .select(col("doc_id"),
          size(col("blocks")).cast("long").as("n_blocks"),
          pairs.as("ps"))
        .select(col("doc_id"), col("n_blocks"),
          size(col("ps")).cast("long").as("n_pairs"),
          aggregate(col("ps"), lit(0L), (a, p) => a + p.getField("i"))
            .as("sum_inter"),
          aggregate(col("ps"), lit(0L), (a, p) => a + p.getField("u"))
            .as("sum_union"),
          aggregate(col("ps"), lit(0L), (a, p) =>
            a + when(p.getField("i") * 10L < p.getField("u"), 1L)
              .otherwise(0L)).as("n_boundaries"))
        .withColumn("pooled_jacc",
          round(when(col("sum_union") > 0,
            d(col("sum_inter")) / col("sum_union")), 8))
    },
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents
           WHERE len($tokensSql) > 0),
         bl AS (SELECT doc_id,
             CAST((len(tk) - 1) // 20 + 1 AS BIGINT) AS n_blocks,
             list_transform(generate_series(1,
                 CAST((len(tk) - 1) // 20 + 1 AS BIGINT)),
               i -> list_distinct(tk[(i - 1) * 20 + 1 : i * 20]))
               AS blocks
           FROM tk),
         pr AS (SELECT doc_id, n_blocks,
             list_transform(generate_series(1, n_blocks - 1),
               i -> struct_pack(
                 i := len(list_intersect(blocks[i], blocks[i + 1])),
                 u := len(list_distinct(blocks[i] || blocks[i + 1]))))
               AS ps
           FROM bl),
         pe AS (SELECT doc_id, unnest(ps) AS p FROM pr),
         sums AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS np,
             CAST(SUM(p.i) AS BIGINT) AS si,
             CAST(SUM(p.u) AS BIGINT) AS su,
             CAST(SUM(CASE WHEN p.i * 10 < p.u THEN 1 ELSE 0 END)
               AS BIGINT) AS nb
           FROM pe GROUP BY 1)
         SELECT pr.doc_id, n_blocks,
           CAST(COALESCE(np, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(si, 0) AS BIGINT) AS sum_inter,
           CAST(COALESCE(su, 0) AS BIGINT) AS sum_union,
           CAST(COALESCE(nb, 0) AS BIGINT) AS n_boundaries,
           round(CASE WHEN COALESCE(su, 0) > 0 THEN
             CAST(si AS DOUBLE) / su END, 8) AS pooled_jacc
         FROM pr LEFT JOIN sums USING (doc_id)"""),

    // `e165_heaps_growth` — vocabulary-growth (Heaps' law) audit over
    // NESTED deterministic hash samples: the 1-in-4 md5 slice (e164's
    // sample) ⊂ the 1-in-2 slice ⊂ the full corpus. One tokenize pass
    // carries both membership flags, so the three (docs, words, vocab)
    // panels come from ONE token-level hash aggregate + one tiny rollup —
    // the sample-sizing table a tokenizer/dedup run reads to decide how big
    // a slice is representative. No logs on any data path (the Heaps
    // exponent is the reader's division); exact integers only.
    Judged("e165_heaps_growth", (s, dir) => {
      val docs = tBalanced(s, dir, "documents")
        .select(col("text"), (docHash % 2 === 0).as("m2"),
          (docHash % 4 === 0).as("m4"))
      val dCounts = broadcast(docs.agg(
        count(lit(1)).as("docs_100"),
        sum(when(col("m2"), 1L).otherwise(0L)).as("docs_50"),
        sum(when(col("m4"), 1L).otherwise(0L)).as("docs_25")))
      docs
        .select(col("m2"), col("m4"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("m2"), 1L).otherwise(0L)).as("c2"),
          sum(when(col("m4"), 1L).otherwise(0L)).as("c4"))
        .agg(count(lit(1)).as("vocab_100"),
          count(when(col("c2") > 0, lit(1))).as("vocab_50"),
          count(when(col("c4") > 0, lit(1))).as("vocab_25"),
          sum(col("cnt")).as("words_100"),
          sum(col("c2")).as("words_50"),
          sum(col("c4")).as("words_25"))
        .crossJoin(dCounts)
        .select(col("docs_25"), col("words_25"), col("vocab_25"),
          col("docs_50"), col("words_50"), col("vocab_50"),
          col("docs_100"), col("words_100"), col("vocab_100"))
    },
      s"""WITH dd AS (
           SELECT text, $mdHashSql % 2 = 0 AS m2, $mdHashSql % 4 = 0 AS m4
           FROM documents),
         dc AS (SELECT CAST(count(*) AS BIGINT) AS docs_100,
             CAST(SUM(CASE WHEN m2 THEN 1 ELSE 0 END) AS BIGINT) AS docs_50,
             CAST(SUM(CASE WHEN m4 THEN 1 ELSE 0 END) AS BIGINT) AS docs_25
           FROM dd),
         tk AS (SELECT m2, m4, unnest($tokensSql) AS tok FROM dd),
         tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt,
             CAST(SUM(CASE WHEN m2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
             CAST(SUM(CASE WHEN m4 THEN 1 ELSE 0 END) AS BIGINT) AS c4
           FROM tk GROUP BY tok),
         v AS (SELECT CAST(count(*) AS BIGINT) AS vocab_100,
             CAST(count(CASE WHEN c2 > 0 THEN 1 END) AS BIGINT) AS vocab_50,
             CAST(count(CASE WHEN c4 > 0 THEN 1 END) AS BIGINT) AS vocab_25,
             CAST(SUM(cnt) AS BIGINT) AS words_100,
             CAST(SUM(c2) AS BIGINT) AS words_50,
             CAST(SUM(c4) AS BIGINT) AS words_25
           FROM tc)
         SELECT docs_25, words_25, vocab_25, docs_50, words_50, vocab_50,
           docs_100, words_100, vocab_100
         FROM v, dc"""))
}

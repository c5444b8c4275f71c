package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Bpe

import scala.reflect.runtime.universe.TypeTag

/** Tokenizer training and application: BPE merges (trained in one
  * task), byte-pair counts, fertility and tokenization.
  */
object TokenizerQueries extends Family {
  import Tables._

  /** Number of BPE merge rounds e113 and e164 train — deep enough (32)
    * that the merge table is well past the two-character regime (merged
    * symbols winning later rounds, chains of chains).
    */
  val bpeIters = 32

  /** Batched-BPE schedule parameters (e177): [[bpeBatchPasses]] passes
    * of up to [[bpeBatchM]] merges each, candidates drawn from the
    * per-pass top-[[bpeBatchWindow]] ranked pairs. 8×4 = the same
    * 32-merge vocab as [[bpeIters]].
    */
  val bpeBatchPasses = 8

  val bpeBatchM = 4

  private[graft] val bpeBatchWindow = 12

  /** The trained merge table, TRAINED ONCE per testdata dir per JVM
    * and shared by `e113_bpe_train` and `e115_bpe_apply` (the shared-
    * model discipline of `SimilarityQueries.trainedCentroids`).
    */
  private val trainedMerges = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Long, String, String, Long)]]()

  /** Deterministic 1-in-4 document sample: exact integer from the md5
    * hex prefix of the doc id (the e35 idiom — reproducible on any
    * partitioning, identically expressible in the oracle).
    */
  private def sampleFilter = (conv(substring(
    md5(col("doc_id").cast("string")), 1, 6), 16, 10)
    .cast("long") % 4) === 0

  /** The character-level symbol state over the durably-staged word
    * histogram — round 0 of training, and the base the apply pass
    * re-segments from. `sampled = true` builds it over the 1-in-4
    * hash-sampled subcorpus (its own durable stage).
    */
  private def initialSymbolState(s: SparkSession, dir: String,
      sampled: Boolean = false): DataFrame = {
    val name = if (sampled) "word-hist-s4" else "word-hist"
    val hist = Stage.durableFrame(s, name, dir) {
      val docs = tBalanced(s, dir, "documents")
      (if (sampled) docs.where(sampleFilter) else docs)
        .select(explode(
          graft.operators.TextAnalysis.tokens(col("text"))).as("w"))
        .where(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
    }
    hist.select(
      concat(lit("  "), array_join(
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))), "  "), lit("  ")).as("s"),
      col("cnt"))
  }

  /** Runs a merge schedule over the (s, cnt) symbol state in ONE task
    * and collects only the merge rows. The type frame is
    * vocabulary-bounded at any corpus size, so one task is the right
    * shape; `coalesce(1)`, not `repartition(1)`, keeps training one
    * stage with no exchange.
    */
  private def inOneTask[T <: Product : TypeTag](state: DataFrame)(
      schedule: Seq[(String, Long)] => Seq[T]): Seq[T] = {
    val s = state.sparkSession
    import s.implicits._
    state.select("s", "cnt").as[(String, Long)].coalesce(1)
      .mapPartitions(it => schedule(it.toSeq).iterator).collect().toSeq
  }

  /** Merge tables over a char-split symbol state ([[initialSymbolState]]
    * in the judged path; specs feed a toy frame): e113/e164's sequential
    * [[Bpe.train]] and e177's [[Bpe.trainBatched]].
    */
  private[graft] def bpeMerges(state: DataFrame, iters: Int)
      : Seq[(Long, String, String, Long)] =
    inOneTask(state)(Bpe.train(_, iters))

  private def mergesFor(s: SparkSession, dir: String)
      : Seq[(Long, String, String, Long)] =
    trainedMerges.computeIfAbsent(dir,
      _ => bpeMerges(initialSymbolState(s, dir), bpeIters))

  /** e164's merge table: the same trainer run on the md5-sampled
    * quarter subcorpus (the production pattern — at 100 TB you train
    * merges on a hash-sampled slice, then apply to everything).
    * Cached per dir like [[mergesFor]], under a distinct key.
    */
  private def sampledMergesFor(s: SparkSession, dir: String)
      : Seq[(Long, String, String, Long)] =
    trainedMerges.computeIfAbsent(dir + "#s4",
      _ => bpeMerges(initialSymbolState(s, dir, sampled = true), bpeIters))

  /** e177's batched merge table — (global merge_idx, pass, left,
    * right, pair count) — trained once per dir like [[mergesFor]].
    * Project off the pass column for an e113-shaped (idx, a, b, n)
    * table; the apply chain consumes either.
    */
  private val trainedBatchedMerges =
    new java.util.concurrent.ConcurrentHashMap[
      String, Seq[(Long, Long, String, String, Long)]]()

  private[graft] def bpeMergesBatched(state: DataFrame, passes: Int,
      m: Int, window: Int): Seq[(Long, Long, String, String, Long)] =
    inOneTask(state)(Bpe.trainBatched(_, passes, m, window))

  private def batchedMergesFor(s: SparkSession, dir: String)
      : Seq[(Long, Long, String, String, Long)] =
    trainedBatchedMerges.computeIfAbsent(dir,
      _ => bpeMergesBatched(initialSymbolState(s, dir),
        bpeBatchPasses, bpeBatchM, bpeBatchWindow))

  /** One oracle-side BPE round: pair counts from the previous state,
    * the winning pair by the same (n desc, a, b) order, and the
    * replace-applied next state — a SQL transcription of one round of
    * [[Bpe.train]].
    */
  private def bpeIterCte(i: Int, st: String = "st", top: String = "top",
      pc: String = "pc"): String =
    s"""$pc$i AS (
         SELECT tk[CAST(j AS INT)] AS a, tk[CAST(j AS INT) + 1] AS b,
           SUM(cnt) AS n
         FROM (SELECT tk, cnt, unnest(range(1, len(tk))) AS j
               FROM (SELECT str_split(trim(s, ' '), '  ') AS tk, cnt
                     FROM $st${i - 1}))
         GROUP BY 1, 2),
       $top$i AS MATERIALIZED (
         SELECT a, b, n FROM $pc$i ORDER BY n DESC, a, b LIMIT 1),
       $st$i AS MATERIALIZED (
         SELECT replace(s, ' ' || t.a || '  ' || t.b || ' ',
           ' ' || t.a || t.b || ' ') AS s, cnt
         FROM $st${i - 1}, $top$i t)"""

  private def bpeOracle: String = {
    val iters = (1 to bpeIters).map(i => bpeIterCte(i)).mkString(",\n       ")
    val rows = (1 to bpeIters).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS merge_idx, a AS left_sym,
            b AS right_sym, a || b AS merged, CAST(n AS BIGINT) AS pair_n
          FROM top$i"""
    }.mkString("\n          UNION ALL ")
    s"""WITH w AS (
         SELECT tk AS word, count(*) AS cnt
         FROM (SELECT unnest($tokensSql) AS tk FROM documents)
         WHERE len(tk) >= 2 GROUP BY tk),
       st0 AS MATERIALIZED (
         SELECT '  ' || array_to_string(list_transform(
             range(1, len(word) + 1),
             i -> substr(word, CAST(i AS INT), 1)), '  ') || '  ' AS s,
           cnt
         FROM w),
       $iters
       $rows"""
  }

  /** SQL mirror of e115: the shared training-CTE chain ends
    * in st{bpeIters}; the report aggregates its re-split symbol lists.
    */
  private def bpeApplyOracle: String = {
    val iters = (1 to bpeIters).map(i => bpeIterCte(i)).mkString(",\n       ")
    s"""WITH w AS (
         SELECT tk AS word, count(*) AS cnt
         FROM (SELECT unnest($tokensSql) AS tk FROM documents)
         WHERE len(tk) >= 2 GROUP BY tk),
       st0 AS MATERIALIZED (
         SELECT '  ' || array_to_string(list_transform(
             range(1, len(word) + 1),
             i -> substr(word, CAST(i AS INT), 1)), '  ') || '  ' AS s,
           cnt
         FROM w),
       $iters,
       seg AS (SELECT str_split(trim(s, ' '), '  ') AS tk, cnt
               FROM st$bpeIters)
       SELECT CAST(count(*) AS BIGINT) AS word_types,
         CAST(SUM(cnt) AS BIGINT) AS words_total,
         CAST(SUM(cnt * len(tk)) AS BIGINT) AS subwords_total,
         CAST(SUM(CASE WHEN len(tk) = 1 THEN cnt ELSE 0 END) AS BIGINT)
           AS single_token_words,
         CAST(SUM(cnt * len(tk)) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
           AS fertility
       FROM seg"""
  }

  /** SQL mirror of e164: the training CTE chain (`ss*`/`stop*`) runs
    * over the md5-sampled quarter histogram; the apply chain (`ap*`)
    * replays each sampled winner `stop$i` over the FULL char-split
    * state in merge order — the same replace semantics, two chains.
    */
  private def bpeSampledOracle: String = {
    val train = (1 to bpeIters)
      .map(i => bpeIterCte(i, "ss", "stop", "spc")).mkString(",\n       ")
    val apply = (1 to bpeIters).map { i =>
      s"""ap$i AS MATERIALIZED (
           SELECT replace(s, ' ' || t.a || '  ' || t.b || ' ',
             ' ' || t.a || t.b || ' ') AS s, cnt
           FROM ap${i - 1}, stop$i t)"""
    }.mkString(",\n       ")
    s"""WITH w AS (
         SELECT tk AS word, count(*) AS cnt
         FROM (SELECT unnest($tokensSql) AS tk FROM documents)
         WHERE len(tk) >= 2 GROUP BY tk),
       ws AS (
         SELECT tk AS word, count(*) AS cnt
         FROM (SELECT unnest($tokensSql) AS tk FROM documents
               WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                 1, 6) AS BIGINT) % 4 = 0)
         WHERE len(tk) >= 2 GROUP BY tk),
       ss0 AS MATERIALIZED (
         SELECT '  ' || array_to_string(list_transform(
             range(1, len(word) + 1),
             i -> substr(word, CAST(i AS INT), 1)), '  ') || '  ' AS s,
           cnt
         FROM ws),
       $train,
       ap0 AS MATERIALIZED (
         SELECT '  ' || array_to_string(list_transform(
             range(1, len(word) + 1),
             i -> substr(word, CAST(i AS INT), 1)), '  ') || '  ' AS s,
           cnt
         FROM w),
       $apply,
       seg AS (SELECT str_split(trim(s, ' '), '  ') AS tk, cnt
               FROM ap$bpeIters)
       SELECT (SELECT CAST(count(*) AS BIGINT) FROM ws)
           AS sample_word_types,
         CAST(count(*) AS BIGINT) AS word_types,
         CAST(SUM(cnt) AS BIGINT) AS words_total,
         CAST(SUM(cnt * len(tk)) AS BIGINT) AS subwords_total,
         CAST(SUM(CASE WHEN len(tk) = 1 THEN cnt ELSE 0 END) AS BIGINT)
           AS single_token_words,
         CAST(SUM(cnt * len(tk)) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
           AS fertility
       FROM seg"""
  }

  /** One oracle-side batched pass (e177): pair counts from the
    * previous state, the ranked top-window, the disjointness-selected
    * batch (the NOT EXISTS rule — conflict vs ALL higher-ranked
    * window pairs), and bpeBatchM replace steps chained through
    * scalar subqueries. A step whose `k` slot is empty (pass selected
    * fewer than bpeBatchM pairs) degrades to the identity replace via
    * a chr(1) sentinel that never occurs in a symbol state.
    */
  private def bpeBatchPassCte(i: Int): String = {
    val head = s"""bpc$i AS (
         SELECT tk[CAST(j AS INT)] AS a, tk[CAST(j AS INT) + 1] AS b,
           SUM(cnt) AS n
         FROM (SELECT tk, cnt, unnest(range(1, len(tk))) AS j
               FROM (SELECT str_split(trim(s, ' '), '  ') AS tk, cnt
                     FROM bst${i - 1}))
         GROUP BY 1, 2),
       brk$i AS MATERIALIZED (
         SELECT a, b, n, row_number() OVER (ORDER BY n DESC, a, b) AS r
         FROM bpc$i ORDER BY n DESC, a, b LIMIT $bpeBatchWindow),
       bsel$i AS MATERIALIZED (
         SELECT a, b, n, r, row_number() OVER (ORDER BY r) AS k
         FROM brk$i x
         WHERE NOT EXISTS (SELECT 1 FROM brk$i y WHERE y.r < x.r
           AND (y.a = x.a OR y.a = x.b OR y.b = x.a OR y.b = x.b))
         QUALIFY k <= $bpeBatchM)"""
    val steps = (1 to bpeBatchM).map { j =>
      val prev = if (j == 1) s"bst${i - 1}" else s"bst${i}_${j - 1}"
      val nm = if (j == bpeBatchM) s"bst$i" else s"bst${i}_$j"
      s"""$nm AS MATERIALIZED (
         SELECT replace(s,
           coalesce((SELECT ' ' || a || '  ' || b || ' '
             FROM bsel$i WHERE k = $j), chr(1)),
           coalesce((SELECT ' ' || a || b || ' '
             FROM bsel$i WHERE k = $j), chr(1))) AS s, cnt
         FROM $prev)"""
    }.mkString(",\n       ")
    s"$head,\n       $steps"
  }

  private def bpeBatchedOracle: String = {
    val passes = (1 to bpeBatchPasses).map(bpeBatchPassCte)
      .mkString(",\n       ")
    val rows = (1 to bpeBatchPasses).map { i =>
      s"SELECT CAST($i AS BIGINT) AS pass, k, a, b, n FROM bsel$i"
    }.mkString("\n          UNION ALL ")
    s"""WITH w AS (
         SELECT tk AS word, count(*) AS cnt
         FROM (SELECT unnest($tokensSql) AS tk FROM documents)
         WHERE len(tk) >= 2 GROUP BY tk),
       bst0 AS MATERIALIZED (
         SELECT '  ' || array_to_string(list_transform(
             range(1, len(word) + 1),
             i -> substr(word, CAST(i AS INT), 1)), '  ') || '  ' AS s,
           cnt
         FROM w),
       $passes,
       allsel AS ($rows)
       SELECT CAST(row_number() OVER (ORDER BY pass, k) AS BIGINT)
           AS merge_idx,
         pass, a AS left_sym, b AS right_sym, a || b AS merged,
         CAST(n AS BIGINT) AS pair_n
       FROM allsel"""
  }

  val judged: Seq[Judged] = Seq(
    // First BPE merge-candidate scan: adjacent character-pair
    // frequencies over every token occurrence — the counting pass a
    // tokenizer trainer runs per merge round. Narrow double-generate
    // (tokens, then in-token positions) → one hash exchange on the
    // pair; top-30 via TakeOrdered
    Judged("e42_bpe_pairs", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(
          graft.operators.TextAnalysis.tokens(col("text"))).as("tk"))
        .where(length(col("tk")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(tk)-1), i -> substring(tk, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(30),
      s"""WITH tok AS (SELECT unnest($tokensSql) AS tk FROM documents),
          p AS (SELECT unnest(list_transform(range(1, len(tk)),
                  i -> substr(tk, i, 2))) AS pair
                FROM tok WHERE len(tk) >= 2)
          SELECT pair, count(*) AS n FROM p GROUP BY pair
          ORDER BY n DESC, pair LIMIT 30"""),

    // Tokenizer APPLY: map every token to an id via a corpus-derived
    // vocab (top-64 tokens by document frequency, ids assigned in
    // (df desc, token) order) with an engine-portable arithmetic OOV
    // bucket, then reassemble each document's id sequence in token
    // order. The vocab is dimension-sized → broadcast; the corpus side
    // is posexplode → one broadcast join → re-aggregate by doc, with
    // order restored from the token position (array_sort on (pos, id)
    // pairs — no window, no assumption that collect_list preserves
    // order). The id sequence hash-matches DuckDB's list(... ORDER BY
    // pos), so "same tokenizer, same ids, any engine" is judged.
    Judged("e50_tokenize", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val top = toks.select(col("doc_id"), col("tok")).distinct()
        .groupBy("tok").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("tok")).limit(64)
      // ids in (df desc, tok) order via a 64-row self-join rank — no
      // global window (even a 64-row one lands on the AllTuples path)
      val vocab = broadcast(top.as("a")
        .join(top.as("b"),
          col("b.df") > col("a.df") ||
            (col("b.df") === col("a.df") && col("b.tok") < col("a.tok")),
          "left")
        .groupBy(col("a.tok").as("tok"))
        .agg(count(col("b.tok")).as("vocab_id")))
      // OOV buckets 64..95: engine-portable arithmetic fingerprint
      // (length + first-char code), NOT an engine hash
      val oov = lit(64L) +
        pmod(length(col("tok")) * lit(31) + ascii(substring(col("tok"), 1, 1)),
          lit(32)).cast("long")
      // the id sequence is judged as a space-joined string: the
      // driver's canonicalizer sorts cells, and raw array cells are
      // unhashable there (house rule — list outputs serialize, like
      // q35_collect)
      toks.join(vocab, Seq("tok"), "left")
        .withColumn("id", coalesce(col("vocab_id"), oov))
        .groupBy("doc_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("id")))),
          x => x.getField("id")).as("idseq"))
        .select(col("doc_id"),
          array_join(transform(col("idseq"), _.cast("string")), " ")
            .as("ids"),
          size(col("idseq")).cast("long").as("n_ids"))
    },
      // same vocab (df desc, tok), same OOV arithmetic, order restored
      // from position on both engines
      """WITH tk AS (
           SELECT doc_id,
                  unnest(string_split(text, ' ')) AS tok,
                  unnest(generate_series(0,
                    len(string_split(text, ' ')) - 1)) AS pos
           FROM documents),
          df AS (SELECT tok, count(DISTINCT doc_id) AS df
                 FROM tk GROUP BY tok),
          top AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 64),
          vocab AS (SELECT a.tok, count(b.tok) AS vocab_id
                    FROM top a LEFT JOIN top b
                      ON b.df > a.df OR (b.df = a.df AND b.tok < a.tok)
                    GROUP BY a.tok),
          ids AS (SELECT t.doc_id, t.pos,
                    COALESCE(v.vocab_id,
                      64 + ((len(t.tok) * 31 +
                        ascii(substr(t.tok, 1, 1))) % 32)) AS id
                  FROM tk t LEFT JOIN vocab v ON t.tok = v.tok)
          SELECT doc_id,
                 array_to_string(list(id ORDER BY pos), ' ') AS ids,
                 count(*) AS n_ids
          FROM ids GROUP BY doc_id"""),

    // TOKENIZER FERTILITY by language: BPE-ish subword count over
    // whitespace-word count — the per-language tokenizer-cost metric a
    // multilingual pipeline tracks when budgeting context windows
    // (high fertility = language pays more tokens per word). Narrow
    // expression-only map + one small group-by; exact integer sums,
    // one final division.
    Judged("e81_tokenizer_fertility", (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"),
          graft.operators.TextAnalysis.tokenCount(col("text")).as("nw"),
          graft.operators.TextAnalysis.bpeTokenCount(col("text")).as("nb"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("n_words"), sum(col("nb")).as("n_bpe"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe"),
          (col("n_bpe").cast("double") / col("n_words")).as("fertility")),
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
          FROM g"""),

    // `e113_bpe_train` — ITERATIVE BPE merge training: N real merge rounds
    // over the corpus word histogram, each round counting adjacent symbol
    // pairs weighted by corpus frequency, taking the winning pair and
    // merging it into the next round's symbol state ([[Bpe]], run in one
    // Spark task). The derive-then-apply cycle applied to the tokenizer
    // itself (reference analog: the transform loop's derive-then-apply
    // discipline, `etl.py:146-158`); extends the one-pass `e42_bpe_pairs`
    // candidate scan to an actual trainer. At 100 TB the corpus is
    // tokenized ONCE into the durable word histogram (the checkpoint a
    // tokenizer-training pipeline persists); the whole merge schedule then
    // runs on the type frame, whose cardinality is vocabulary-bounded, not
    // corpus-bounded.
    Judged("e113_bpe_train", (s, dir) => {
      val rows = mergesFor(s, dir).map {
        case (i, a, b, n) => (i, a, b, a + b, n)
      }
      import s.implicits._
      rows.toDF("merge_idx", "left_sym", "right_sym", "merged", "pair_n")
    },
      bpeOracle),

    // `e115_bpe_apply` — the trained merge table applied back to the type
    // frame; fertility / segmentation stats (the vocab-sizing report).
    //
    // BPE APPLY at corpus scale — the trainer's sibling: segment every
    // word TYPE with the trained merge table (the same single-replace-
    // per-merge projection chain, N narrow map steps, no shuffle) and
    // report the segmentation statistics a tokenizer-sizing pass
    // publishes: types, corpus word/subword totals (weighted by the
    // histogram counts — one tiny hash agg), fully-merged words, and
    // the fertility ratio (avg subwords per corpus word), the number
    // that prices a vocab size in sequence length. At 100 TB: apply
    // is vocabulary-bounded (runs on the staged TYPE frame); the
    // per-document corpus pass would be the same replace chain fused
    // into the scan.
    Judged("e115_bpe_apply", (s, dir) => {
      val ms = mergesFor(s, dir)
      val seg = ms.foldLeft(initialSymbolState(s, dir)) { (st, m) =>
        st.withColumn("s",
          replace(col("s"), lit(s" ${m._2}  ${m._3} "),
            lit(s" ${m._2}${m._3} ")))
      }
      seg.select(col("cnt"),
          size(split(trim(col("s")), "  ")).cast("long").as("nsub"))
        .agg(count(lit(1)).as("word_types"),
          sum(col("cnt")).as("words_total"),
          sum(col("cnt") * col("nsub")).as("subwords_total"),
          sum(when(col("nsub") === 1, col("cnt")).otherwise(0L))
            .as("single_token_words"))
        .select(col("word_types"), col("words_total"),
          col("subwords_total"), col("single_token_words"),
          (col("subwords_total").cast("double") /
            col("words_total").cast("double")).as("fertility"))
    },
      bpeApplyOracle),

    // BATCHED BPE training — e113's merge-table shape from a different
    // schedule: each pass ranks the pair histogram ONCE, then applies
    // up to bpeBatchM pairwise-SYMBOL-DISJOINT merges from the
    // top-bpeBatchWindow ranked window in one chained replace. The
    // schedule is EXACT, not approximate: a pair (c,d) disjoint from
    // (a,b) has its adjacency count invariant under applying (a,b) —
    // merging a,b into `ab` can neither create a new c–d adjacency (the
    // merged symbol still sits between its neighbors) nor destroy one
    // (no c/d occurrence participates in an " a  b " window) — so every
    // applied merge's recorded count is its true count at application
    // time (SELECTION rule, shared verbatim with the oracle: see
    // Bpe.trainBatched). Rank 1 always survives, so every pass makes
    // progress. Training is one Spark task, like e113's. The merge
    // table matches e113's (merge_idx, left, right, n) semantics, so
    // the e115 apply chain consumes either.
    Judged("e177_bpe_batched", (s, dir) => {
      val rows = batchedMergesFor(s, dir).map {
        case (i, p, a, b, n) => (i, p, a, b, a + b, n)
      }
      import s.implicits._
      rows.toDF("merge_idx", "pass", "left_sym", "right_sym",
        "merged", "pair_n")
    },
      bpeBatchedOracle),

    // SAMPLED-train BPE — the production pattern at 100 TB: merges are
    // trained on a deterministic 1-in-4 hash-sampled subcorpus (the
    // e35 md5-prefix idiom, reproducible on any partitioning), then
    // applied to the FULL type frame; the report is e115's
    // segmentation panel plus the sampled histogram's type count (the
    // evidence the training leg really ran on the slice). Cost shape:
    // training reads a quarter-size type frame, and the apply pass is
    // unchanged — at corpus scale the tokenize pass over 3/4 of the
    // documents is skipped entirely during training.
    Judged("e164_bpe_sampled", (s, dir) => {
      val ms = sampledMergesFor(s, dir)
      val seg = ms.foldLeft(initialSymbolState(s, dir)) { (st, m) =>
        st.withColumn("s",
          replace(col("s"), lit(s" ${m._2}  ${m._3} "),
            lit(s" ${m._2}${m._3} ")))
      }
      val sampleTypes = broadcast(initialSymbolState(s, dir,
        sampled = true).agg(count(lit(1)).as("sample_word_types")))
      seg.select(col("cnt"),
          size(split(trim(col("s")), "  ")).cast("long").as("nsub"))
        .agg(count(lit(1)).as("word_types"),
          sum(col("cnt")).as("words_total"),
          sum(col("cnt") * col("nsub")).as("subwords_total"),
          sum(when(col("nsub") === 1, col("cnt")).otherwise(0L))
            .as("single_token_words"))
        .crossJoin(sampleTypes)
        .select(col("sample_word_types"), col("word_types"),
          col("words_total"), col("subwords_total"),
          col("single_token_words"),
          (col("subwords_total").cast("double") /
            col("words_total").cast("double")).as("fertility"))
    },
      bpeSampledOracle))
}

package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{Corpus, Dedup, Quantiles, Rank, TextAnalysis}

/** Corpus shaping: splits, sampling, mixing, packing and chunking,
  * contamination checks and privacy releases.
  */
object CorpusQueries extends Family {
  import Tables._

  /** Hashed-bigram feature buckets (the paper's hashed n-gram space;
    * 64 keeps the histogram broadcast-trivial and collision-rich,
    * which is the point of HASHED features).
    */
  private val dsirBuckets = 64

  /** e125_dsir_weights's oracle, shared with the queries that embed it. */
  private val dsirWeightsSql =
      s"""WITH tk AS (SELECT doc_id, lang, $tokensSql AS tk FROM documents
                      WHERE len($tokensSql) > 1),
          bg AS (SELECT doc_id, lang,
                   CAST('0x' || substr(md5(tk[i] || ' ' || tk[i+1]), 1, 4)
                     AS BIGINT) % $dsirBuckets AS b
                 FROM (SELECT doc_id, lang, tk,
                         unnest(range(1, CAST(len(tk) AS BIGINT))) AS i
                       FROM tk)),
          docb AS (SELECT doc_id, lang, b, count(*) AS c
                   FROM bg GROUP BY doc_id, lang, b),
          hist AS (SELECT b, CAST(SUM(c) AS BIGINT) AS n_raw,
                     CAST(COALESCE(SUM(c) FILTER (WHERE lang = 'en'), 0)
                       AS BIGINT) AS n_tgt
                   FROM docb GROUP BY b),
          tot AS (SELECT CAST(SUM(n_raw) AS BIGINT) AS nr,
                    CAST(SUM(n_tgt) AS BIGINT) AS nt FROM hist)
          SELECT doc_id,
            CAST(SUM(c * n_tgt) AS BIGINT) AS w_num,
            CAST(SUM(c * n_raw) AS BIGINT) AS w_den,
            round((CAST(SUM(c * n_tgt) AS DOUBLE) * nr) /
              (CAST(SUM(c * n_raw) AS DOUBLE) * nt), 8) AS dsir_weight
          FROM docb JOIN hist USING (b), tot
          GROUP BY doc_id, nr, nt"""

  private val bigramsSql =
    "list_distinct(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]))"

  private val splitBucketSql =
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100"

  private val splitNameSql =
    s"""CASE WHEN $splitBucketSql < 90 THEN 'train'
        WHEN $splitBucketSql < 95 THEN 'val' ELSE 'test' END"""

  /** [[splitNameSql]] parameterized on the hashed column (e85 splits
    * on the cluster label as well as the doc id).
    */
  private def splitCaseSql(c: String): String = {
    val b = s"CAST('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 4) " +
      s"AS BIGINT) % 100"
    s"CASE WHEN $b < 90 THEN 'train' WHEN $b < 95 THEN 'val' " +
      "ELSE 'test' END"
  }

  /** Per-doc DSIR sufficient statistics — shared by e125 (the weight
    * report) and e143 (the decile-gains audit of those weights):
    * (doc_id, lang, w_num, w_den, nr, nt), where w_num/w_den are the
    * exact integer count-weighted target/corpus frequency sums and
    * nr/nt the corpus-wide bucket totals that normalize the final
    * ratio. ONE corpus tokenize pass to per-(doc, bucket) counts,
    * durably staged (the e118 token-histogram discipline): histogram,
    * totals, and the per-doc weights are all re-aggregations of that
    * frame — zero query-time corpus passes on fixture hits.
    */
  private[queries] def dsirDocWeights(s: SparkSession, dir: String): DataFrame = {
    val docb = Stage.durableFrame(s, "dsir-docb64", dir) {
      val tk = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokens(col("text")).as("tk"))
        .where(size(col("tk")) > 1)
      // word bigrams → md5 bucket (the established engine-portable
      // hash: conv(md5-prefix) here, '0x'||substr(md5) in the oracle)
      tk.select(col("doc_id"), col("lang"),
          explode(transform(sequence(lit(1), size(col("tk")) - 1),
            i => concat(element_at(col("tk"), i), lit(" "),
              element_at(col("tk"), i + lit(1))))).as("bgr"))
        .select(col("doc_id"), col("lang"),
          (conv(substring(md5(col("bgr").cast("binary")), 1, 4), 16, 10)
            .cast("long") % dsirBuckets).as("b"))
        .groupBy("doc_id", "lang", "b")
        .agg(count(lit(1)).as("c"))
    }
    val hist = docb.groupBy("b").agg(sum(col("c")).as("n_raw"),
      sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("n_tgt"))
    val tot = hist.agg(sum(col("n_raw")).as("nr"),
      sum(col("n_tgt")).as("nt"))
    docb.join(broadcast(hist), "b")
      .groupBy("doc_id", "lang")
      .agg(sum(col("c") * col("n_tgt")).as("w_num"),
        sum(col("c") * col("n_raw")).as("w_den"))
      .crossJoin(broadcast(tot))
  }

  /** e144's fixed token budget (the knob a mixture run fixes first). */
  private val mixBudget = 100000L

  /** The α=0.5 mixture report off a (source, n_tok) frame — shared by
    * e144 (batch counts) and c42 (the streaming counter image), so the
    * judged algebra exists once per engine. √c is quantized to
    * fixed-point longs BEFORE the cross-source sum: the normalizer is
    * exact integer addition, order-independent at any parallelism.
    */
  private[queries] def mixReport(counts: DataFrame): DataFrame = {
    val c = counts
      .withColumn("qs", floor(sqrt(d(col("n_tok"))) * lit(1e6)).cast("long"))
      .localCheckpoint(true) // |sources| rows, read by total + report
    val tot = broadcast(c.agg(sum(col("n_tok")).as("t_tok"),
      sum(col("qs")).as("t_qs")))
    // degenerate-fixture guard (r16 advice): an all-empty source makes
    // n_tok = 0 (and an all-empty corpus t_tok = t_qs = 0); 0/0 is NaN
    // in Spark but engine-dependent in SQL oracles, so every division
    // is NULL-gated identically on both plans.
    c.crossJoin(tot)
      .select(col("source"), col("n_tok"), col("qs"),
        when(col("t_tok") > 0,
          round(d(col("n_tok")) / col("t_tok"), 8)).as("w_prop"),
        when(col("t_qs") > 0,
          round(d(col("qs")) / col("t_qs"), 8)).as("w_temp"),
        when(col("n_tok") > 0 && col("t_qs") > 0,
          round(d(col("qs")) * mixBudget /
            (d(col("t_qs")) * col("n_tok")), 8)).as("epochs"))
      .orderBy(col("source"))
  }

  /** e153: the fixed sample budget Neyman allocation distributes. */
  private val allocBudget = 100L

  /** Shared by e144 and its streaming twin c42 (same judged frame). */
  private[queries] val temperatureMixSql =
    s"""WITH c AS (SELECT source,
         CAST(SUM(len($tokensSql)) AS BIGINT) AS n_tok
         FROM documents GROUP BY 1),
       q AS (SELECT source, n_tok,
           CAST(floor(sqrt(CAST(n_tok AS DOUBLE)) * 1000000.0) AS BIGINT)
             AS qs FROM c),
       t AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t_tok,
           CAST(SUM(qs) AS BIGINT) AS t_qs FROM q)
       SELECT source, n_tok, qs,
         CASE WHEN t_tok > 0 THEN
           round(CAST(n_tok AS DOUBLE) / t_tok, 8) END AS w_prop,
         CASE WHEN t_qs > 0 THEN
           round(CAST(qs AS DOUBLE) / t_qs, 8) END AS w_temp,
         CASE WHEN n_tok > 0 AND t_qs > 0 THEN
           round(CAST(qs AS DOUBLE) * $mixBudget /
             (CAST(t_qs AS DOUBLE) * n_tok), 8) END AS epochs
       FROM q, t ORDER BY source"""

  val judged: Seq[Judged] = Seq(
    // Sliding-window chunking: 50-token windows, stride 40 (10-token
    // overlap), partial tail kept — chunk count and boundaries are pure
    // arithmetic on the token array, no shuffle
    Judged("e14_chunk", (s, dir) =>
      graft.operators.Corpus.chunkTokens(
        t(s, dir, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk")),
        id = "doc_id", tk = "tk", window = 50, stride = 40),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents)
          SELECT doc_id,
            (st - 1) // 40 AS chunk_id,
            CAST(len(tk[st : st + 49]) AS BIGINT) AS n_tok,
            array_to_string(tk[st : st + 49], ' ') AS chunk_text
          FROM (SELECT doc_id, tk,
                  unnest(range(1, greatest(len(tk) - 10, 1) + 1, 40)) AS st
                FROM tk)"""),

    // Stratified rebalancing: cap every language at its 20
    // hash-first documents — the per-stratum downsampling pass that
    // balances a multilingual corpus. Hash order makes the sample
    // deterministic and uniform; one shuffle on the stratum key
    Judged("e17_balance", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 20)
    },
      """SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
         FROM (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
               FROM documents)
         WHERE rk <= 20"""),

    // Benchmark decontamination, soft form: fraction of each candidate
    // document's distinct bigrams that appear anywhere in the benchmark
    // slice (doc_id % 20 = 0). The benchmark shingle set is broadcast —
    // eval sets are tiny next to a 100 TB corpus, so the scan side
    // never shuffles
    Judged("e20_ngram_contam", (s, dir) => {
      // both the benchmark set and the candidate scan read this frame;
      // persisted, the tokenize→bigram→explode pass runs once
      val sh = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          explode(TextAnalysis.wordShinglesFromTokens(col("tk"))).as("s"))
        .persist()
      val bench = sh.where(col("doc_id") % 20 === 0)
        .select("s").distinct().withColumn("hit", lit(1L))
      sh.where(col("doc_id") % 20 =!= 0)
        .join(broadcast(bench), Seq("s"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("doc_id"), col("n_sh"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_sh")).as("contam_frac"))
    },
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
          sh AS (SELECT doc_id, unnest($bigramsSql) AS s FROM tk),
          bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0)
          SELECT doc_id, count(*) AS n_sh,
            CAST(count(*) FILTER (WHERE s IN (SELECT s FROM bench))
              AS BIGINT) AS n_hit,
            CAST(count(*) FILTER (WHERE s IN (SELECT s FROM bench))
              AS DOUBLE) / count(*) AS contam_frac
          FROM sh WHERE doc_id % 20 <> 0 GROUP BY doc_id"""),

    // Exact-substring decontamination: each benchmark probe (a 40-char
    // prefix of an eval document) is scanned for verbatim containment in
    // the candidate corpus. Probes are broadcast — the corpus side stays
    // a narrow scan with a per-row substring search, the shape a 100 TB
    // leak scan must have (never a shuffle of the corpus)
    Judged("e25_exact_contam", (s, dir) => {
      val docs = t(s, dir, "documents")
      val probes = broadcast(
        docs.where(col("doc_id") % 100 === 0 && col("n_chars") >= 40)
          .select(col("doc_id").as("probe_id"),
            substring(col("text"), 1, 40).as("probe")))
      docs.where(col("doc_id") % 100 =!= 0).crossJoin(probes)
        .groupBy("probe_id")
        .agg(count(when(instr(col("text"), col("probe")) > 0, 1))
          .as("n_hits"))
    },
      """WITH p AS (SELECT doc_id AS probe_id, substr(text, 1, 40) AS probe
           FROM documents WHERE doc_id % 100 = 0 AND n_chars >= 40)
         SELECT probe_id,
           CAST(count(*) FILTER (WHERE instr(d.text, p.probe) > 0)
             AS BIGINT) AS n_hits
         FROM documents d, p WHERE d.doc_id % 100 <> 0
         GROUP BY probe_id"""),

    // Sequence packing: assign documents to fixed-size context-window
    // bins (2048 tokens) via a running token total — the batching pass a
    // training pipeline runs before tokenized-example serialization.
    // Packing is inherently sequential per stream, so it is partitioned
    // by a shard key (lang here); each shard's running sum is one
    // window, no global sort — the 100 TB shape
    Judged("e9_pack", (s, dir) =>
      graft.operators.Corpus.packSequences(
        t(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tok")),
        shard = "lang", order = "doc_id", weight = "n_tok",
        windowTokens = 2048),
      s"""WITH tc AS (SELECT lang, doc_id, CAST(len($tokensSql) AS BIGINT)
            AS n_tok FROM documents)
          SELECT lang, doc_id, n_tok,
            CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tok,
            CAST((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
              AS BIGINT) // 2048 AS bin
          FROM tc"""),

    // Deterministic hash split: the train/val/test assignment a training
    // pipeline derives from a stable id hash (engine-portable via md5)
    Judged("e8_split", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        Corpus.hashBucket(col("doc_id")).as("bucket"),
        Corpus.splitName(Corpus.hashBucket(col("doc_id"))).as("split")),
      s"""SELECT doc_id, $splitBucketSql AS bucket, $splitNameSql AS split
          FROM documents"""),

    // Cross-split contamination check: evaluation (val/test) documents
    // whose canonical fingerprint also appears in the train split — the
    // decontamination pass every training pipeline runs before eval.
    // Semi join on the fingerprint key: one shuffle, no pairs
    Judged("e10_contam", (s, dir) =>
      Corpus.contamination(
        t(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          Corpus.splitName(Corpus.hashBucket(col("doc_id"))).as("split")),
        key = "fp", split = "split")
        .select("doc_id", "fp", "split"),
      s"""WITH d AS (SELECT doc_id,
            md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
            $splitNameSql AS split
          FROM documents)
          SELECT doc_id, fp, split FROM d
          WHERE split <> 'train'
            AND fp IN (SELECT fp FROM d WHERE split = 'train')"""),

    // DEDUP-AWARE SPLIT audit: eval leakage happens when near-duplicate
    // documents land on opposite sides of the train/eval fence — the
    // per-doc hash split (e8) guarantees it for any multi-doc cluster
    // whose members hash to different buckets. Assigning the split from
    // the CLUSTER label (hash the component, not the doc) pins every
    // near-dup family to one split by construction. One row per
    // strategy: how many clusters straddle >1 split and how many docs
    // sit inside them (per_cluster must audit to zero). Cost: one
    // corpus-key scan joined to the tiny staged label frame — the
    // clustering itself is never recomputed here, and at 100 TB the
    // label frame is the candidate graph (dup-rate-sized), not the
    // corpus.
    Judged("e85_cluster_split", (s, dir) => {
      val labels = DedupQueries.componentLabels(s, dir)
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val labeled = docs
        .join(labels, docs("doc_id") === labels("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster"))
      val assigned = labeled.select(col("cluster"),
        Corpus.splitName(Corpus.hashBucket(col("doc_id"))).as("doc_split"),
        Corpus.splitName(Corpus.hashBucket(col("cluster")))
          .as("cluster_split"))
      val byStrategy = assigned
        .select(col("cluster"), lit("per_doc").as("strategy"),
          col("doc_split").as("split"))
        .unionByName(assigned.select(col("cluster"),
          lit("per_cluster").as("strategy"),
          col("cluster_split").as("split")))
      byStrategy.groupBy("strategy", "cluster")
        .agg(countDistinct(col("split")).as("n_splits"),
          count(lit(1)).as("n_docs"))
        .groupBy("strategy")
        .agg(count(lit(1)).as("n_clusters"),
          sum(when(col("n_splits") > 1, 1L).otherwise(0L))
            .as("straddling_clusters"),
          sum(when(col("n_splits") > 1, col("n_docs")).otherwise(0L))
            .as("leaked_docs"))
    },
      // same reachability CTE; per split strategy, clusters whose
      // members straddle >1 split (per_cluster is zero by construction)
      s"""WITH RECURSIVE ${DedupQueries.shingleCte},
          ${DedupQueries.bandPairsCte},
          ${DedupQueries.reachCte},
          comp AS (SELECT id, min(reach) AS component FROM r GROUP BY id),
          lab AS (SELECT d.doc_id,
                    COALESCE(c.component, d.doc_id) AS cluster
                  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
          a AS (SELECT cluster, ${splitCaseSql("doc_id")} AS doc_split,
                  ${splitCaseSql("cluster")} AS cluster_split
                FROM lab),
          st AS (SELECT cluster, 'per_doc' AS strategy,
                   doc_split AS split FROM a
                 UNION ALL
                 SELECT cluster, 'per_cluster', cluster_split FROM a),
          g AS (SELECT strategy, cluster,
                  count(DISTINCT split) AS n_splits, count(*) AS n_docs
                FROM st GROUP BY 1, 2)
          SELECT strategy, count(*) AS n_clusters,
            CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS straddling_clusters,
            CAST(sum(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END)
              AS BIGINT) AS leaked_docs
          FROM g GROUP BY 1"""),

    // NEAR-DUP cross-split contamination — the leakage exact-hash
    // decontamination (e10) cannot see: an eval (val/test) document
    // that is a VERIFIED near-duplicate (J ≥ 0.3) of a train
    // document still leaks the answer even though no fingerprint
    // matches. This is the decontamination pass training pipelines
    // actually need (n-gram-overlap checks in published eval
    // protocols are exactly this shape). Cost: the staged candidate
    // pairs + jaccard verification (∝ pairs) + two split-label joins
    // — the corpus is never re-scanned.
    Judged("e110_neardup_contam", (s, dir) => {
      val verified = Dedup.jaccardForPairs(DedupQueries.candidatePairs(s, dir),
          DedupQueries.shingledDocs(s, dir), "doc_id", "sh")
        .where(col("jaccard") >= 0.3)
      val splits = t(s, dir, "documents").select(col("doc_id"),
        Corpus.splitName(Corpus.hashBucket(col("doc_id"))).as("split"))
      val lab = verified
        .join(splits.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(splits.as("sb"), col("id_b") === col("sb.doc_id"))
        .select(col("id_a"), col("id_b"), col("jaccard"),
          col("sa.split").as("split_a"), col("sb.split").as("split_b"))
      val evalA = lab
        .where(col("split_a") =!= "train" && col("split_b") === "train")
        .select(col("id_a").as("eval_id"), col("split_a").as("split"),
          col("id_b").as("train_id"), col("jaccard"))
      val evalB = lab
        .where(col("split_b") =!= "train" && col("split_a") === "train")
        .select(col("id_b").as("eval_id"), col("split_b").as("split"),
          col("id_a").as("train_id"), col("jaccard"))
      evalA.unionAll(evalB)
    },
      // verified near-dup pairs × split labels, both orientations: the
      // eval side of every (eval, train) pair
      s"""WITH ${DedupQueries.shingleCte},
          ${DedupQueries.bandPairsCte},
          ${DedupQueries.verifiedCte},
          lab AS (SELECT v.id_a, v.id_b, v.jaccard,
              ${splitCaseSql("v.id_a")} AS split_a,
              ${splitCaseSql("v.id_b")} AS split_b
            FROM verified v WHERE v.jaccard >= 0.3)
          SELECT id_a AS eval_id, split_a AS split, id_b AS train_id,
            jaccard
          FROM lab WHERE split_a <> 'train' AND split_b = 'train'
          UNION ALL
          SELECT id_b, split_b, id_a, jaccard
          FROM lab WHERE split_b <> 'train' AND split_a = 'train'"""),

    // Deterministic WEIGHTED sampling, 5 docs per language: priority
    // key u/w where u = first 6 md5 hex digits of the id (exact
    // integer) and w = n_chars — the exponential-race trick with a
    // hash-derived uniform, so longer documents are proportionally
    // likelier to be picked and the draw is reproducible run-to-run.
    // Scale shape: per-partition top-5 per language FIRST (narrow, no
    // skew), then the global top-5 over ≤ 5·partitions survivors per
    // language — a heavy-hitter language never concentrates the sort
    // on one task, unlike a naive corpus-wide Window.partitionBy(lang)
    Judged("e35_weighted_sample", (s, dir) => {
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
    },
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
          FROM r WHERE rk <= 5"""),

    // Curriculum bucketing: decile of a GLOBAL ordering by document
    // length — via the scale-safe two-pass global rank (range partition
    // → local row_number → broadcast prefix offsets), not a
    // single-partition Window.orderBy; ntile derives in closed form
    Judged("e36_curriculum", (s, dir) =>
      Rank.withGlobalRowNumber(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        Seq(col("n_chars"), col("doc_id")))
        .select(col("doc_id"), col("n_chars"),
          Rank.ntileOf(col("rn"), col("n_total"), 10).as("bucket")),
      """SELECT doc_id, n_chars,
           CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
             AS bucket
         FROM documents"""),

    // Chunker round-trip integrity: rebuild each document from its
    // sliding-window chunks (window 50 / stride 40, same params as
    // e14_chunk) by mapping every chunk token to its global position
    // (start = chunk_id·stride + 1) and deduplicating the overlap —
    // the audit that proves the segmentation pass loses nothing. All
    // narrow generates plus one hash agg on doc_id
    Judged("e43_dechunk", (s, dir) => {
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
    },
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
          FROM r JOIN tk ON r.doc_id = tk.doc_id"""),

    // Packing-efficiency report downstream of e9_pack: per language,
    // bins used, docs and token mass packed, and the fill fraction
    // against the 2048-token window — the utilization number a
    // sequence-packing pass publishes. Exact integer sums; one IEEE
    // division per group
    Judged("e44_pack_stats", (s, dir) =>
      SparkEntry.queries("e9_pack")(s, dir)
        .groupBy("lang", "bin")
        .agg(sum("n_tok").as("fill"), count(lit(1)).as("n_docs"))
        .groupBy("lang").agg(
          count(lit(1)).as("n_bins"),
          sum("n_docs").as("n_docs"),
          sum("fill").as("tok_total"),
          (sum("fill").cast("double") /
            (count(lit(1)) * lit(2048L)).cast("double")).as("fill_frac")),
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
          FROM b GROUP BY lang"""),

    // Model-style corpus gate in LOGIT space: a fixed-weight logistic
    // regression over cheap exact features (token count T, character
    // mass C → average token length, distinct tokens D, distinct
    // stopwords present S). The logit
    //   -2 + T/250 + avg_len/4 + 2·D/T - 3·S/T
    // is rescaled by its positive common denominator 1000·T into an
    // ALL-INTEGER numerator 4T² - 2000T + 250(C-T+1) + 2000D - 3000S,
    // so the keep decision (sigmoid monotone: score > 0.5 ⟺ logit > 0)
    // is exact long arithmetic — no transcendental, no double-rounding
    // or fma-contraction hazard at the decision boundary on ANY engine.
    // The displayed logit is one exact-integer-double division (both
    // operands exactly representable ⇒ correctly rounded, identical
    // everywhere). This is the "classifier filter" stage of an LLM data
    // pipeline with the model stubbed to public fixed weights; learned
    // weights change the numbers, not the plan (one narrow map, no
    // shuffle).
    Judged("e48_model_gate", (s, dir) => {
      val toks = split(col("text"), " ")
      val stop = array(lit("data"), lit("table"), lit("row"), lit("key"),
        lit("value"))
      val d = t(s, dir, "documents")
        .withColumn("t_", size(toks).cast("long"))
        .withColumn("c_", col("n_chars"))
        .withColumn("d_", size(array_distinct(toks)).cast("long"))
        .withColumn("s_", size(array_intersect(toks, stop)).cast("long"))
        .withColumn("num",
          lit(4L) * col("t_") * col("t_") - lit(2000L) * col("t_") +
            lit(250L) * (col("c_") - col("t_") + lit(1L)) +
            lit(2000L) * col("d_") - lit(3000L) * col("s_"))
      d.select(col("doc_id"),
        round(col("num").cast("double") /
          (lit(1000.0) * col("t_").cast("double")), 8).as("logit"),
        (col("num") > 0L).as("keep"))
    },
      // same fixed weights, same integer-exact numerator, same single
      // exact division for the displayed logit
      """WITH f AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS t,
                  n_chars AS c,
                  CAST(len(list_distinct(string_split(text, ' ')))
                    AS BIGINT) AS d,
                  CAST(len(list_intersect(string_split(text, ' '),
                    ['data','table','row','key','value'])) AS BIGINT) AS s
           FROM documents),
          g AS (
           SELECT doc_id, t,
                  4 * t * t - 2000 * t + 250 * (c - t + 1) +
                    2000 * d - 3000 * s AS num
           FROM f)
          SELECT doc_id,
                 round(CAST(num AS DOUBLE) / (1000.0 * CAST(t AS DOUBLE)), 8)
                   AS logit,
                 num > 0 AS keep
          FROM g"""),

    // The curation FUNNEL a real corpus run publishes: per-stage
    // survivor counts for exact dedup → model gate → benchmark
    // decontamination → token-length band, computed in ONE scan. Both
    // text-keyed signals (canonical-copy flag and probe-collision flag)
    // come from a single window over the text key — high-cardinality,
    // so the one exchange stays parallel at any corpus size — and the
    // funnel itself is four boolean columns summed in one tiny
    // aggregate: no per-stage re-scan, no driver loop over stages.
    Judged("e49_curation_funnel", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("text")
      val toks = split(col("text"), " ")
      val stop = array(lit("data"), lit("table"), lit("row"), lit("key"),
        lit("value"))
      val d = t(s, dir, "documents")
        .withColumn("t_", size(toks).cast("long"))
        .withColumn("d_", size(array_distinct(toks)).cast("long"))
        .withColumn("s_", size(array_intersect(toks, stop)).cast("long"))
        .withColumn("num",
          lit(4L) * col("t_") * col("t_") - lit(2000L) * col("t_") +
            lit(250L) * (col("n_chars") - col("t_") + lit(1L)) +
            lit(2000L) * col("d_") - lit(3000L) * col("s_"))
        .withColumn("min_id", min(col("doc_id")).over(w))
        .withColumn("probed",
          max(when(col("doc_id") % 97 === 0, 1).otherwise(0)).over(w))
        .withColumn("k1", col("doc_id") === col("min_id"))
        .withColumn("k2", col("k1") && col("num") > 0L)
        .withColumn("k3", col("k2") && col("probed") === 0)
        .withColumn("k4", col("k3") && col("t_").between(20L, 200L))
      val agg = d.agg(
        count(lit(1)).as("total"),
        sum(col("k1").cast("long")).as("exact_dedup"),
        sum(col("k2").cast("long")).as("model_gate"),
        sum(col("k3").cast("long")).as("decontam"),
        sum(col("k4").cast("long")).as("token_band"))
      agg.selectExpr(
        """stack(5, 1, 'total', total, 2, 'exact_dedup', exact_dedup,
           3, 'model_gate', model_gate, 4, 'decontam', decontam,
           5, 'token_band', token_band) AS (stage, name, rows_kept)""")
    },
      // same one-pass funnel: cumulative boolean stages summed
      """WITH f AS (
           SELECT doc_id, text, n_chars,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS t,
                  CAST(len(list_distinct(string_split(text, ' ')))
                    AS BIGINT) AS d,
                  CAST(len(list_intersect(string_split(text, ' '),
                    ['data','table','row','key','value'])) AS BIGINT) AS s,
                  min(doc_id) OVER (PARTITION BY text) AS min_id,
                  max(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY text) AS probed
           FROM documents),
          g AS (
           SELECT *,
                  4 * t * t - 2000 * t + 250 * (n_chars - t + 1) +
                    2000 * d - 3000 * s AS num
           FROM f),
          k AS (
           SELECT (doc_id = min_id) AS k1,
                  (doc_id = min_id AND num > 0) AS k2,
                  (doc_id = min_id AND num > 0 AND probed = 0) AS k3,
                  (doc_id = min_id AND num > 0 AND probed = 0
                    AND t BETWEEN 20 AND 200) AS k4
           FROM g),
          a AS (
           SELECT count(*) AS total,
                  CAST(sum(CAST(k1 AS BIGINT)) AS BIGINT) AS exact_dedup,
                  CAST(sum(CAST(k2 AS BIGINT)) AS BIGINT) AS model_gate,
                  CAST(sum(CAST(k3 AS BIGINT)) AS BIGINT) AS decontam,
                  CAST(sum(CAST(k4 AS BIGINT)) AS BIGINT) AS token_band
           FROM k)
          SELECT 1 AS stage, 'total' AS name, total AS rows_kept FROM a
          UNION ALL SELECT 2, 'exact_dedup', exact_dedup FROM a
          UNION ALL SELECT 3, 'model_gate', model_gate FROM a
          UNION ALL SELECT 4, 'decontam', decontam FROM a
          UNION ALL SELECT 5, 'token_band', token_band FROM a"""),

    // STRATIFIED sampling with an exact per-group quota: a training
    // mixture wants "exactly N docs per source", not Bernoulli's
    // approximately-N (sampleBy), and it wants the same N docs on
    // every engine and every rerun. Rank inside each stratum by a
    // stable md5 of the id (deterministic, uncorrelated with content)
    // and keep rank ≤ 20. One hash exchange on the stratum key, a
    // per-partition sort bounded by the largest stratum — no global
    // sort. At 100 TB with few huge strata the same plan holds because
    // the window's sort is (stratum-local, spillable); quota selection
    // could also early-stop per partition via limit pushdown.
    Judged("e53_stratified_sample", (s, dir) => {
      val key = md5(col("doc_id").cast("string"))
      t(s, dir, "documents")
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source")).orderBy(key, col("doc_id")))
          .cast("long"))
        .where(col("rk") <= 20)
        .select(col("doc_id"), col("source"), col("rk"))
    },
      """WITH r AS (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
         FROM r WHERE rk <= 20"""),

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
    Judged("e63_token_budget", (s, dir) => {
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
    },
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
         WHERE cum - n_tok < 600"""),

    // Deterministic training-order shuffle — the write-side op every
    // training pipeline ends with: a reproducible global permutation of
    // the corpus into N shards. shard = md5(id) mod N (uniform, engine-
    // portable), pos = rank of md5(id) within the shard. The plan is
    // ONE hash exchange on shard + a per-shard sort — never a global
    // total order; at 100 TB N is chosen ∝ corpus/shard-file-size
    // (thousands), so each per-shard sort is executor-sized and the
    // whole permutation is retry/partitioning independent
    Judged("e68_shuffle_shards", (s, dir) => {
      val h = md5(col("doc_id").cast("string"))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("h"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), h.as("h"),
          (conv(substring(h, 1, 4), 16, 10).cast("long") % 8).as("shard"))
        .withColumn("pos", row_number().over(w).cast("long"))
        .drop("h")
    },
      """SELECT doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
             % 8 AS shard,
           CAST(row_number() OVER (
             PARTITION BY CAST('0x' ||
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 8
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
         FROM documents"""),

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
    Judged("e84_source_cap", (s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("src_rank", row_number().over(w).cast("long"))
        .withColumn("kept", col("src_rank") <= 20)
    },
      """WITH r AS (SELECT doc_id, source, n_chars,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS BIGINT) AS src_rank
           FROM documents)
         SELECT doc_id, source, n_chars, src_rank,
           (src_rank <= 20) AS kept
         FROM r"""),

    // K-ANONYMITY re-identification risk curve (Sweeney, 2002) — the
    // privacy-governance audit a dataset release runs next to
    // redaction (e4_redact) and forget-cascades (c16): group the
    // population by quasi-identifiers (nation, segment, $1000
    // account-balance band), then for k ∈ {2, 5, 10} report how many
    // equivalence classes are smaller than k and what fraction of
    // people sit in them. Banding is exact-integer (cents, shifted
    // positive so `div` floors identically in both engines); the
    // whole curve rides ONE aggregate over one scan with conditional
    // sums, unpivoted to k rows — no per-k re-scan, and at any corpus
    // size the plan is a map-side-combine groupBy on the QI domain.
    Judged("e88_k_anon", (s, dir) => {
      val qi = t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          (dec(col("c_acctbal"), 2) * 100).cast("long").as("cents"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          expr("(cents + 100000000) div 100000").as("bal_band"))
      val cls = qi.groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(count(lit(1)).as("n"))
      val ks = Seq(2L, 5L, 10L)
      val aggs = Seq(count(lit(1)).as("n_classes"),
        sum(col("n")).as("n_cust")) ++
        ks.flatMap { k => Seq(
          sum(when(col("n") < k, lit(1L)).otherwise(lit(0L)))
            .as(s"cb_$k"),
          sum(when(col("n") < k, col("n")).otherwise(lit(0L)))
            .as(s"cr_$k")) }
      cls.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(ks.map(k => struct(
          lit(k).as("k"), col("n_classes"),
          col(s"cb_$k").as("classes_below_k"),
          col(s"cr_$k").as("customers_at_risk"),
          expr(s"cr_$k * 1000000 div n_cust").as("risk_ppm"))): _*))
          .as("r"))
        .select(col("r.k"), col("r.n_classes"), col("r.classes_below_k"),
          col("r.customers_at_risk"), col("r.risk_ppm"))
    },
      // the k-curve: classes smaller than k and the population share
      // inside them, integer-exact (cents banding, ppm floor division)
      """WITH cls AS (
           SELECT c_nationkey, c_mktsegment,
             (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               + 100000000) // 100000 AS bal_band,
             count(*) AS n
           FROM customer GROUP BY 1, 2, 3),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_classes,
             CAST(sum(n) AS BIGINT) AS n_cust,
             CAST(sum(CASE WHEN n < 2 THEN 1 ELSE 0 END) AS BIGINT) AS cb2,
             CAST(sum(CASE WHEN n < 2 THEN n ELSE 0 END) AS BIGINT) AS cr2,
             CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS cb5,
             CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS cr5,
             CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS cb10,
             CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
               AS cr10
           FROM cls)
         SELECT CAST(2 AS BIGINT) AS k, n_classes,
           cb2 AS classes_below_k, cr2 AS customers_at_risk,
           CAST((cr2 * 1000000) // n_cust AS BIGINT) AS risk_ppm FROM t
         UNION ALL
         SELECT 5, n_classes, cb5, cr5,
           CAST((cr5 * 1000000) // n_cust AS BIGINT) FROM t
         UNION ALL
         SELECT 10, n_classes, cb10, cr10,
           CAST((cr10 * 1000000) // n_cust AS BIGINT) FROM t"""),

    // DIFFERENTIAL-PRIVACY noisy histogram release via the geometric
    // mechanism (discrete Laplace, α = 1/2 ⇒ ε = ln 2): per-(lang,
    // source) document counts + seeded two-sided-geometric noise +
    // a post-noise publication threshold (noisy n ≥ 10) — what a
    // governance pipeline applies before publishing corpus
    // composition stats. The draw (operators/Privacy.scala) is
    // integer-exact bit-length arithmetic over a 48-bit md5 uniform —
    // no transcendental touches the judged frame, so the strict
    // cross-engine compare holds bit-for-bit. Scale shape: ONE
    // map-side-combine groupBy over the corpus; the noise is a
    // per-group scalar expression — no second pass, no state.
    Judged("e89_dp_release", (s, dir) => {
      import graft.operators.Privacy
      val grp = t(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      // Seed key is LENGTH-PREFIXED + null-flagged so distinct groups
      // can never collide onto one noise draw: a bare 'lang_source'
      // concat makes ('a_b','c') and ('a','b_c') identical, and a
      // NULL-skipping concat_ws diverges from an oracle whose ||
      // propagates NULL. 'N:' vs '<digits>:' is unambiguous (length
      // prefixes start with a digit), and the first field's extent is
      // recoverable from its own prefix.
      def enc(c: Column): Column =
        when(c.isNull, lit("N:"))
          .otherwise(concat(length(c).cast("string"), lit(":"), c))
      val k = Privacy.geometricPseudoNoise(
        Privacy.seededU48(concat(enc(col("lang")), lit("|"),
          enc(col("source")))))
      grp.select(col("lang"), col("source"), col("n"),
          (col("n") + k).as("noisy_n"))
        .withColumn("released", col("noisy_n") >= 10L)
    },
      // identical integer-only geometric-mechanism arithmetic: 48-bit
      // md5 uniform, t = 3u, noise from length(bin(...)) bit lengths —
      // no float ever enters the judged frame (2^49 = 562949953421312,
      // 3·2^48 = 844424930131968)
      """WITH g AS (SELECT lang, source, count(*) AS n
            FROM documents GROUP BY 1, 2),
          u AS (SELECT lang, source, n,
                  3 * CAST('0x' || substr(md5(
                    CASE WHEN lang IS NULL THEN 'N:'
                      ELSE length(lang) || ':' || lang END || '|' ||
                    CASE WHEN source IS NULL THEN 'N:'
                      ELSE length(source) || ':' || source END), 1, 12)
                    AS BIGINT) AS t
                FROM g),
          z AS (SELECT lang, source, n,
                  CASE WHEN t < 562949953421312
                    THEN CAST(length(bin(t + 1)) AS BIGINT) - 49
                    ELSE 49 - CAST(length(bin(844424930131968 - t - 1))
                      AS BIGINT) END AS k
                FROM u)
          SELECT lang, source, n, n + k AS noisy_n,
            (n + k) >= 10 AS released
          FROM z"""),

    // L-DIVERSITY audit (Machanavalli et al., 2007) — k-anonymity's
    // companion: an equivalence class can be large yet still leak if
    // every member shares the same SENSITIVE value. Classes here are
    // (source, 200-char length band) over documents; the sensitive
    // attribute is lang; the curve reports, for l ∈ {2, 3}, how many
    // classes carry fewer than l distinct languages and how many
    // documents sit in them. Two aggregates total (distinct-per-class,
    // then the curve over the tiny class frame), both map-side-
    // combining; integer-exact throughout.
    Judged("e90_l_diversity", (s, dir) => {
      val cls = t(s, dir, "documents")
        .select(col("source"), expr("n_chars div 200").as("len_band"),
          col("lang"))
        .groupBy("source", "len_band")
        .agg(count(lit(1)).as("n"),
          count_distinct(col("lang")).as("n_langs"))
      val ls = Seq(2L, 3L)
      val aggs = Seq(count(lit(1)).as("n_classes"),
        sum(col("n")).as("n_docs")) ++
        ls.flatMap { l => Seq(
          sum(when(col("n_langs") < l, lit(1L)).otherwise(lit(0L)))
            .as(s"cb_$l"),
          sum(when(col("n_langs") < l, col("n")).otherwise(lit(0L)))
            .as(s"dr_$l")) }
      cls.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(ls.map(l => struct(
          lit(l).as("l"), col("n_classes"),
          col(s"cb_$l").as("classes_below_l"),
          col(s"dr_$l").as("docs_at_risk"))): _*)).as("r"))
        .select(col("r.l"), col("r.n_classes"), col("r.classes_below_l"),
          col("r.docs_at_risk"))
    },
      """WITH cls AS (
           SELECT source, n_chars // 200 AS len_band,
             count(*) AS n, count(DISTINCT lang) AS n_langs
           FROM documents GROUP BY 1, 2),
          t AS (SELECT CAST(count(*) AS BIGINT) AS n_classes,
              CAST(sum(n) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN n_langs < 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS cb2,
              CAST(sum(CASE WHEN n_langs < 2 THEN n ELSE 0 END) AS BIGINT)
                AS dr2,
              CAST(sum(CASE WHEN n_langs < 3 THEN 1 ELSE 0 END) AS BIGINT)
                AS cb3,
              CAST(sum(CASE WHEN n_langs < 3 THEN n ELSE 0 END) AS BIGINT)
                AS dr3
            FROM cls)
          SELECT CAST(2 AS BIGINT) AS l, n_classes,
            cb2 AS classes_below_l, dr2 AS docs_at_risk FROM t
          UNION ALL
          SELECT 3, n_classes, cb3, dr3 FROM t"""),

    // `e119_t_closeness` — total-variation distance between each
    // quasi-identifier class's sensitive-attribute distribution and the
    // global one: completes e88/e90's privacy-audit triad. The numerator
    // Σ|n_gs·N − n_s·n_g| is exact integer arithmetic on class-bounded
    // frames.
    //
    // T-CLOSENESS audit — completes the privacy triad with e88
    // (k-anonymity) and e90 (l-diversity) on the same release shape:
    // for each quasi-identifier class (source × length band), the
    // total-variation distance between the class's sensitive-
    // attribute (lang) distribution and the corpus-wide one. TV's
    // numerator is computed EXACTLY: 2·n_g·N·t_g = Σ_s|n_gs·N −
    // n_s·n_g|, with the absent-language mass folded in as
    // n_g·(N − Σ_present n_s) — so `t` is one exact integer divided
    // once. All frames after the one corpus pass are class- or
    // language-bounded.
    Judged("e119_t_closeness", (s, dir) => {
      // NULL sensitive values are a CATEGORY, not droppable rows: the
      // class assembly equi-joins on lang, and a null key would never
      // match — its mass would silently flow through the absent-
      // language term and overstate t. Sentinel-coalesce keeps the
      // arithmetic exact for any future fixture (mirrored in the
      // oracle).
      val cls = t(s, dir, "documents")
        .select(col("source"), expr("n_chars div 200").as("len_band"),
          coalesce(col("lang"), lit("(null)")).as("lang"))
        .groupBy("source", "len_band", "lang")
        .agg(count(lit(1)).as("n_gs"))
      val langTot = cls.groupBy("lang").agg(sum(col("n_gs")).as("n_s"))
      val nTot = langTot.agg(sum(col("n_s")).as("nn"))
      val grpTot = cls.groupBy("source", "len_band")
        .agg(sum(col("n_gs")).as("n_g"))
      // class-bounded assembly: each class-lang cell contributes the
      // exact |n_gs·N − n_s·n_g|; languages ABSENT from a class
      // contribute n_s·n_g each, folded in as n_g·(N − Σ_present n_s)
      val pc = cls
        .join(broadcast(langTot), "lang")
        .join(grpTot, Seq("source", "len_band"))
        .crossJoin(broadcast(nTot))
        .groupBy("source", "len_band")
        .agg(max(col("n_g")).as("n_g"), max(col("nn")).as("nn"),
          sum(abs(InferenceQueries.dec38(col("n_gs")) * col("nn") -
            InferenceQueries.dec38(col("n_s")) * col("n_g"))).as("pa"),
          sum(col("n_s")).as("pns"))
      val tNum = col("pa") + InferenceQueries.dec38(col("n_g")) * (col("nn") - col("pns"))
      pc.select(col("source"), col("len_band"),
        col("n_g").as("n_docs"),
        tNum.cast("long").as("t_num"),
        (d(tNum) / (lit(2.0) * d(col("n_g")) * d(col("nn")))).as("t"))
    },
      // exact TV numerator per class: present cells contribute
      // |n_gs·N − n_s·n_g|, absent languages n_g·(N − Σ_present n_s).
      """WITH cls AS (
           SELECT source, n_chars // 200 AS len_band,
             coalesce(lang, '(null)') AS lang, count(*) AS n_gs
           FROM documents GROUP BY 1, 2, 3),
         lt AS (SELECT lang, SUM(n_gs) AS n_s FROM cls GROUP BY 1),
         nt AS (SELECT SUM(n_s) AS nn FROM lt),
         gt AS (SELECT source, len_band, SUM(n_gs) AS n_g
           FROM cls GROUP BY 1, 2),
         pc AS (
           SELECT c.source, c.len_band,
             max(g.n_g) AS n_g, max(nt.nn) AS nn,
             SUM(abs(CAST(c.n_gs AS HUGEINT) * nt.nn -
               CAST(l.n_s AS HUGEINT) * g.n_g)) AS pa,
             SUM(l.n_s) AS pns
           FROM cls c
           JOIN lt l USING (lang)
           JOIN gt g ON g.source = c.source AND g.len_band = c.len_band,
           nt
           GROUP BY 1, 2)
         SELECT source, len_band, CAST(n_g AS BIGINT) AS n_docs,
           CAST(pa + CAST(n_g AS HUGEINT) * (nn - pns) AS BIGINT)
             AS t_num,
           CAST(pa + CAST(n_g AS HUGEINT) * (nn - pns) AS DOUBLE) /
             (2.0 * CAST(n_g AS DOUBLE) * CAST(nn AS DOUBLE)) AS t
         FROM pc"""),

    // `e125_dsir_weights` — DSIR-style importance weighting (the public
    // method of Xie et al. 2023, "Data Selection for Language Models via
    // Importance Resampling"): score each document by its hashed-bigram
    // feature counts against a TARGET-domain vs whole-corpus frequency
    // ratio. Here in log-free rational form so the statistic is
    // oracle-exact: per doc, w_num = Σ_f c_f·n_tgt(f) and w_den = Σ_f
    // c_f·n_raw(f) are exact integer sufficient statistics, and the weight
    // (w_num·N_raw)/(w_den·N_tgt) — the count-weighted mean target/corpus
    // frequency ratio, normalized so a domain-typical document scores 1 —
    // is ONE final double formula. Plan shape: one corpus tokenize pass to
    // per-(doc, bucket) counts, histogram + totals re-aggregated from THAT
    // frame (not the corpus), then a broadcast join of the 64-row histogram
    // back onto the per-doc counts — the "two histogram passes + one
    // broadcast join" shape that makes DSIR linear at 100 TB. Natural
    // neighbor of e11's quality gate and e78's novelty scoring.
    Judged("e125_dsir_weights", (s, dir) =>
      dsirDocWeights(s, dir)
        .select(col("doc_id"), col("w_num"), col("w_den"),
          round(col("w_num").cast("double") * col("nr") /
            (col("w_den").cast("double") * col("nt")), 8)
            .as("dsir_weight")),
      dsirWeightsSql),

    // `e143_dsir_gains` — decile gains/lift audit of the e125 DSIR weights
    // against the target-domain label they estimate: rank docs by weight,
    // cut into 10 equal-frequency bins by exact rank arithmetic, and report
    // per-bin target rate, cumulative capture, and lift — the
    // selection-audit table a curation run reads before committing to
    // importance resampling (e125 computes the weights; this grades their
    // RANKING power). Zero new corpus passes: weights re-aggregate the
    // staged dsir-docb64 frame.
    //
    // DSIR gains table: rank by the exact rational weight (nr/nt is
    // constant across docs, so w_num/w_den orders identically to the
    // full ratio — both engines divide the same integers, bit-equal
    // IEEE), deciles by exact rank arithmetic, cumulative capture via
    // a broadcast triangle over the 10-row per-decile frame (never an
    // unpartitioned window).
    Judged("e143_dsir_gains", (s, dir) => {
      import Quantiles.ldiv
      val w = dsirDocWeights(s, dir)
        .select(col("doc_id"), col("lang"),
          (d(col("w_num")) / col("w_den")).as("wd"))
      val dec = Rank.withGlobalRowNumber(w,
          Seq(col("wd").desc, col("doc_id").asc))
        .select(col("lang"), col("wd"),
          ldiv((col("rn") - 1L) * 10L, col("n_total")).as("decile"))
      val per = dec.groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
          min(col("wd")).as("w_min"), max(col("wd")).as("w_max"))
        .localCheckpoint(true) // 10 rows, read by the triangle + total
      val tot = broadcast(per.agg(sum(col("n_en")).as("n_en_tot"),
        sum(col("n_docs")).as("n_tot")))
      val cum = per.as("a").join(broadcast(per.as("b")),
          col("b.decile") <= col("a.decile"))
        .groupBy(col("a.decile").as("decile"))
        .agg(sum(col("b.n_en")).as("cum_en"))
      per.join(broadcast(cum), "decile").crossJoin(tot)
        .select(col("decile"), col("n_docs"), col("n_en"),
          round(d(col("n_en")) / col("n_docs"), 8).as("en_rate"),
          col("w_min"), col("w_max"), col("cum_en"),
          round(d(col("cum_en")) / col("n_en_tot"), 8).as("capture"),
          round(d(col("n_en")) * col("n_tot") /
            (d(col("n_docs")) * col("n_en_tot")), 8).as("lift"))
        .orderBy(col("decile"))
    },
      {
      val w = dsirWeightsSql
      s"""WITH w AS MATERIALIZED ($w),
         r AS (SELECT d.lang, ${castD("w.w_num")} / w.w_den AS wd,
             row_number() OVER (ORDER BY ${castD("w.w_num")} / w.w_den
               DESC, w.doc_id) AS rn,
             count(*) OVER () AS n_total
           FROM w JOIN documents d USING (doc_id)),
         dec AS (SELECT lang, wd, (rn - 1) * 10 // n_total AS decile
           FROM r),
         per AS (SELECT decile, count(*) AS n_docs,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en,
             min(wd) AS w_min, max(wd) AS w_max
           FROM dec GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_en) AS BIGINT) AS n_en_tot,
             CAST(SUM(n_docs) AS BIGINT) AS n_tot FROM per),
         cum AS (SELECT a.decile, SUM(b.n_en) AS cum_en
           FROM per a JOIN per b ON b.decile <= a.decile GROUP BY 1)
         SELECT CAST(p.decile AS BIGINT) AS decile,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_en AS BIGINT) AS n_en,
           round(${castD("n_en")} / n_docs, 8) AS en_rate,
           w_min, w_max, CAST(cum_en AS BIGINT) AS cum_en,
           round(${castD("cum_en")} / n_en_tot, 8) AS capture,
           round(${castD("n_en")} * n_tot /
             (${castD("n_docs")} * n_en_tot), 8) AS lift
         FROM per p JOIN cum ON cum.decile = p.decile, tot
         ORDER BY decile"""
    }),

    // `e144_temperature_mix` — temperature-based source mixing (the
    // multilingual-corpus sampling rule of mT5/XLM-R: sample source s with
    // probability ∝ c_s^α, α = 1/2, which upweights small sources relative
    // to proportional sampling): per source, the proportional weight, the
    // α=0.5 weight, and the effective epochs over that source under a fixed
    // token budget. e63 SELECTS docs under per-source quotas; e35 samples
    // by per-row weight; this computes the corpus-level mixture ratios
    // themselves. √c is quantized to fixed-point longs before the
    // cross-source sum (the e109/e139 discipline), so the normalizing total
    // is order-independent in any engine at any parallelism.
    //
    // Temperature mixing: ONE narrow corpus pass to per-source token
    // totals (a |sources|-row frame), √c quantized to micro-units so
    // the normalizing sum is exact integer addition.
    Judged("e144_temperature_mix", (s, dir) =>
      mixReport(t(s, dir, "documents")
        .select(col("source"), TextAnalysis.tokenCount(col("text")).as("n"))
        .groupBy("source").agg(sum(col("n")).as("n_tok"))),
      temperatureMixSql),

    // `e153_neyman_alloc` — Neyman optimal allocation of a fixed sample
    // budget across language strata (n_h ∝ N_h·S_h, the variance-minimizing
    // survey design): the principled upgrade of e53's proportional
    // stratified sample. Exact integer moments per stratum, fixed-point
    // normalizer, integer floor allocation.
    //
    // Neyman optimal allocation of a fixed sample budget across the
    // language strata (survey sampling: n_h ∝ N_h·S_h, minimizing the
    // stratified-mean variance): the principled version of e53's
    // proportional stratified sample — strata with more internal
    // variance get more budget. Per-stratum S_h from exact integer
    // moments; N_h·S_h quantized to micro-units before the
    // cross-stratum normalizer (the e144 discipline); integer floor
    // allocation so the judged counts are exact.
    Judged("e153_neyman_alloc", (s, dir) => {
      import Quantiles.ldiv
      val st = t(s, dir, "documents")
        .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("x"))
        .groupBy("lang").agg(count(lit(1)).as("n_h"),
          sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
        .where(col("n_h") > 1)
        .select(col("lang"), col("n_h"),
          sqrt((d(col("n_h")) * col("sxx") - d(col("sx")) * col("sx")) /
            (d(col("n_h")) * (d(col("n_h")) - lit(1.0)))).as("s_h"))
        .select(col("lang"), col("n_h"), col("s_h"),
          floor(d(col("n_h")) * col("s_h") * lit(1e6)).cast("long")
            .as("qw"))
        .localCheckpoint(true) // |langs| rows, read by total + report
      val tot = broadcast(st.agg(sum(col("qw")).as("t_qw")))
      st.crossJoin(tot)
        .select(col("lang"), col("n_h"), round(col("s_h"), 8).as("s_h"),
          col("qw"),
          round(d(col("qw")) / col("t_qw"), 8).as("share"),
          ldiv(col("qw") * allocBudget, col("t_qw")).as("n_alloc"))
        .orderBy(col("lang"))
    },
      s"""WITH st AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_h,
           CAST(SUM(len($tokensSql)) AS BIGINT) AS sx,
           CAST(SUM(CAST(len($tokensSql) AS BIGINT) * len($tokensSql))
             AS BIGINT) AS sxx
           FROM documents GROUP BY 1 HAVING count(*) > 1),
         q AS (SELECT lang, n_h,
             sqrt((CAST(n_h AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) /
               (CAST(n_h AS DOUBLE) * (CAST(n_h AS DOUBLE) - 1.0)))
               AS s_h FROM st),
         w AS (SELECT lang, n_h, s_h,
             CAST(floor(CAST(n_h AS DOUBLE) * s_h * 1000000.0) AS BIGINT)
               AS qw FROM q),
         t AS (SELECT CAST(SUM(qw) AS BIGINT) AS t_qw FROM w)
         SELECT lang, n_h, round(s_h, 8) AS s_h, qw,
           round(CAST(qw AS DOUBLE) / t_qw, 8) AS share,
           CAST(qw * $allocBudget // t_qw AS BIGINT) AS n_alloc
         FROM w, t ORDER BY lang"""))
}

package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{Corpus, Dedup, Quantiles, Similarity, TextAnalysis}

/** Deduplication: exact and near-duplicate detection (MinHash, SimHash,
  * Jaccard, embeddings), candidate-pair graphs and their components.
  */
object DedupQueries extends Family {
  import Tables._

  private[queries] val minhashK = 8

  private[queries] val shingleCte =
    s"""toks AS (SELECT doc_id, $tokensSql AS tk FROM documents
                 WHERE len($tokensSql) > 1),
        sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] AS s
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, len(tk)-1)) AS i FROM toks))"""

  // mirror of Dedup.minhashSignatures: one md5 per shingle, k linear
  // permutations (a_j·h + b_j) mod P, min per signature
  private[queries] def sigExprs(k: Int): String =
    Dedup.minhashParams(k).zipWithIndex.map { case ((a, b), j) =>
      s"""min(($a * CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) + $b)
          % ${Dedup.minhashPrime}) AS sig_$j"""
    }.mkString(", ")

  /** LSH band buckets → distinct candidate pairs (k=8, 4 bands of 2) —
    * the shared tail of every minhash-family oracle.
    */
  private[queries] val bandPairsCte =
    s"""sig AS (SELECT doc_id, ${sigExprs(minhashK)} FROM sh GROUP BY doc_id),
        band AS (SELECT doc_id, unnest([
          md5(concat_ws('_', '0', sig_0, sig_1)),
          md5(concat_ws('_', '1', sig_2, sig_3)),
          md5(concat_ws('_', '2', sig_4, sig_5)),
          md5(concat_ws('_', '3', sig_6, sig_7))]) AS band FROM sig),
        pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM band a JOIN band b ON a.band = b.band
            AND a.doc_id < b.doc_id)"""

  /** The candidate graph's symmetric edges `e` and their reachability
    * closure `r` (needs `WITH RECURSIVE`); min(reach) per id is the
    * component label.
    */
  private[queries] val reachCte =
    """e AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
          r AS (SELECT a AS id, a AS reach FROM e
                UNION
                SELECT r.id, e.b FROM r JOIN e ON r.reach = e.a)"""

  /** Exact shingle-set Jaccard of every candidate pair: `sizes`,
    * `inter` and `verified` (id_a, id_b, jaccard) over `sh` and `pairs`.
    */
  private[queries] val verifiedCte =
    """sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          inter AS (SELECT p.id_a, p.id_b, count(*) AS n_common
            FROM pairs p
            JOIN sh a ON p.id_a = a.doc_id
            JOIN sh b ON p.id_b = b.doc_id AND a.s = b.s
            GROUP BY p.id_a, p.id_b),
          verified AS (SELECT p.id_a, p.id_b,
              CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                / (na.n + nb.n - COALESCE(i.n_common, 0)) AS jaccard
            FROM pairs p
            LEFT JOIN inter i ON p.id_a = i.id_a AND p.id_b = i.id_b
            JOIN sizes na ON p.id_a = na.doc_id
            JOIN sizes nb ON p.id_b = nb.doc_id)"""

  /** e1_minhash_pairs's oracle, shared with the queries that embed it. */
  private[queries] val minhashPairsSql =
      s"""WITH $shingleCte,
          sig AS (SELECT doc_id, ${sigExprs(minhashK)} FROM sh GROUP BY doc_id),
          band AS (SELECT doc_id, unnest([
            md5(concat_ws('_', '0', sig_0, sig_1)),
            md5(concat_ws('_', '1', sig_2, sig_3)),
            md5(concat_ws('_', '2', sig_4, sig_5)),
            md5(concat_ws('_', '3', sig_6, sig_7))]) AS band FROM sig)
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM band a JOIN band b ON a.band = b.band AND a.doc_id < b.doc_id"""

  /** e32_simhash_pairs's oracle, shared with the queries that embed it. */
  private[queries] val simhashPairsSql =
      s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS tk
            FROM documents WHERE len($tokensSql) > 0),
          bits AS (SELECT doc_id, g.j,
              SUM(CASE WHEN (CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)
                             >> g.j) % 2 = 1 THEN 1 ELSE -1 END) AS bsum
            FROM tok, generate_series(0, 59) AS g(j)
            GROUP BY doc_id, g.j),
          sh AS (SELECT doc_id,
              CAST(SUM(CASE WHEN bsum > 0 THEN CAST(1 AS BIGINT) << j
                ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""

  /** e15_components's oracle, shared with the queries that embed it. */
  private[queries] val componentsSql =
      s"""WITH RECURSIVE $shingleCte,
          $bandPairsCte,
          $reachCte
          SELECT id AS doc_id, min(reach) AS component
          FROM r GROUP BY id"""

  /** Shared non-overlapping 16-token chunk fingerprints
    * (doc_id, cid, fp), durably staged: ONE corpus tokenize+chunk
    * pass per (sf × testdata fingerprint), after which both
    * e28_passage_dedup and e126_dup_spans are equi-key
    * joins/aggregations over this frame — zero query-time corpus
    * passes, and the two passage-level dedup reports provably audit
    * the SAME chunk inventory.
    */
  private[queries] def chunkFp16(s: SparkSession, dir: String): DataFrame =
    Stage.durableFrame(s, "chunks16-fp", dir) {
      val tk = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      graft.operators.Corpus.chunkTokens(tk, "doc_id", "tk", 16, 16)
        .select(col("doc_id"), col("chunk_id").as("cid"),
          md5(col("chunk_text").cast("binary")).as("fp"))
    }

  /** SimHash near-dup pairs, Manku-style multi-index: 60-bit simhash,
    * 4 bands of 15 bits, Hamming ≤ 3. Pigeonhole makes the banded
    * equi-join EXACT — any pair within 3 flipped bits shares an
    * untouched band — so the oracle is the exhaustive all-pairs
    * definition while the plan never compares beyond band buckets.
    * 2^15 buckets per band keep in-bucket pairs ~n²/32768: the 10×
    * scale bench showed the previous 8-bit bands (256 buckets) going
    * quadratic (×16.8 at ×10 data); 15-bit bands restore ~linear.
    * The bit-vote fold runs in the native codegen expression
    * (simhash_fold — bit-identical to Dedup.simhash60OfHashes, see the
    * OperatorsSpec equality property); the HOF fold form was ~12 s of
    * a 17 s query at the 10× corpus. Durably STAGED (r16, the
    * lsh-pairs discipline): e32 judges the frame, e138's
    * capture–recapture census re-reads it — the tokenize→hash→fold→
    * band pipeline runs once per JVM×sf, not once per consumer.
    */
  private[queries] def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    // the build-side pin is released AFTER durableFrame's eager write
    // (the e129/e131 discipline — a persist inside a staging thunk
    // would otherwise outlive the build by the whole JVM)
    var pinned: DataFrame = null
    val res = Stage.durableFrame(s, "simhash60-pairs", dir) {
      val sh = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.Dedup.tokenHashes60(
            TextAnalysis.tokens(col("text"))).as("th"))
        .where(size(col("th")) > 0)
        .select(col("doc_id"),
          call_function("simhash_fold", col("th"), lit(60)).as("simhash"))
      // both sides of the self-join read this frame: persisted, the
      // tokenize→hash→bit-fold pipeline runs once, not twice
      val banded = sh.select(col("doc_id"), col("simhash"),
        posexplode(array(
          graft.operators.Dedup.simhash60Bands(col("simhash")): _*)))
        .persist()
      pinned = banded
      val a = banded.as("a")
      val b = banded.as("b")
      a.join(b, col("a.pos") === col("b.pos") &&
          col("a.col") === col("b.col") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
            .cast("long").as("hamming"))
        .where(col("hamming") <= 3)
        .distinct()
    }
    if (pinned != null) pinned.unpersist()
    res
  }

  private[queries] val bands = 4

  /** tokens → distinct word shingles — the frame every minhash-family
    * query derives from, and the first durable checkpoint of the dedup
    * stage chain (shingles → hashes → signatures → pairs → components,
    * each a durable stage under target/graft-fixtures): a corpus
    * pipeline tokenizes a snapshot exactly once, and every re-entrant
    * audit below reads the checkpoint instead of re-tokenizing.
    */
  private[queries] def shingledDocs(s: SparkSession, dir: String): DataFrame =
    Stage.durableFrame(s, "shingles", dir) {
      tBalanced(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .where(size(col("tk")) > 1)
        .select(col("doc_id"),
          TextAnalysis.wordShinglesFromTokens(col("tk")).as("sh"))
    }

  /** Per-shingle md5 hashes — durable like [[shingledDocs]] (the hash
    * pass is the CPU-heavy step of signature derivation; checkpointing
    * it means k-fold re-derivations and the k=4 audit never re-hash).
    */
  private def stagedShingleHashes(s: SparkSession, dir: String): DataFrame = {
    val sh = shingledDocs(s, dir) // hoisted (see Stage scaladoc)
    Stage.durableFrame(s, "shingle-hashes", dir) {
      sh.select(col("doc_id"),
        transform(col("sh"), x => Dedup.shingleHash(x)).as("hs"))
    }
  }

  /** The LSH candidate-pair frame and its connected-component labels,
    * each a DURABLE checkpoint (once per sf × testdata fingerprint,
    * across JVMs — Stage.durableFrame) and reused:
    * e1_minhash_pairs judges the pairs, e1_dedup_pipeline verifies
    * them, e15 judges the component labels, e38 their size profile —
    * in round 7 each of those queries re-derived the banded pairs from
    * the corpus independently (e15+e38 alone were the two slowest
    * clean bench lines, 12.6 s combined). This is exactly the stage
    * boundary a real corpus pipeline checkpoints: candidate pairs are
    * computed once per corpus snapshot and feed removal, clustering,
    * and audits downstream. The first caller pays the compute; every
    * later read is a narrow scan. A deterministic stage path, never a
    * Spark cache (nothing pins executor memory across queries).
    */
  /** k=8 MinHash signatures, a durable checkpoint (once per sf ×
    * testdata fingerprint, across JVMs): the k-fold over the staged
    * shingle hashes that every minhash-family query needs. Downstream
    * consumers (banding, pair audit e39) read this narrow (id, 8×long)
    * parquet instead of re-hashing the corpus.
    */
  private[queries] def stagedSignatures(s: SparkSession, dir: String): DataFrame = {
    val hashes = stagedShingleHashes(s, dir) // hoisted (see Stage scaladoc)
    Stage.durableFrame(s, "sig", dir) {
      hashes.select(col("doc_id") +:
        Dedup.minhashSignaturesFromHashes(col("hs"), minhashK): _*)
    }
  }

  /** Durably-staged per-document token histogram (doc_id, w, cnt) —
    * the ONE corpus tokenize pass behind every token-count consumer:
    * e121's pair overlaps read it per doc, and e118's corpus-wide
    * histogram is a re-agg of it (never a second tokenize of the
    * text). Public: shared across query files.
    */
  def docTokenHist(s: SparkSession, dir: String): DataFrame =
    Stage.durableFrame(s, "doc-token-hist", dir) {
      tBalanced(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    }

  private[queries] def candidatePairs(s: SparkSession, dir: String): DataFrame = {
    val sig = stagedSignatures(s, dir) // hoisted (see Stage scaladoc)
    Stage.durableFrame(s, "lsh-pairs", dir) {
      // band + self-join over the STAGED signatures: both join sides
      // re-scan the tiny sig parquet (no persist needed), the corpus
      // text is never touched again
      val banded = sig.select(col("doc_id") +:
        Dedup.bandKeys((0 until minhashK).map(j => col(s"sig_$j")), bands): _*)
      val long = banded.select(col("doc_id"), explode(array(
        (0 until bands).map(b => col(s"band_$b")): _*)).as("band"))
      long.as("a")
        .join(long.as("b"), col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
    }
  }

  private[queries] def componentLabels(s: SparkSession, dir: String): DataFrame = {
    val pairs = candidatePairs(s, dir) // hoisted (see Stage scaladoc)
    // the sweeps run when the frame is constructed: digest the pairs
    Stage.durableFrame(s, "cc", dir, inputs = Seq(pairs)) {
      Dedup.connectedComponents(pairs, "id_a", "id_b")
    }
  }

  /** Standing component labels of the corpus-internal candidate graph
    * (both ends doc_id % 10 ≠ 0, the e54 incremental split), durably
    * staged once: e180 reads them as a frame and c47 copies the
    * published files as its v0 label table.
    */
  private[queries] def baseComponentLabels(s: SparkSession,
      dir: String): java.nio.file.Path = {
    val internal = candidatePairs(s, dir)
      .where(col("id_a") % 10 =!= 0 && col("id_b") % 10 =!= 0)
    Stage.durable("cc-base", dir, Seq(internal)) { p =>
      Dedup.connectedComponents(internal, "id_a", "id_b")
        .write.mode("overwrite").parquet(p.toString)
    }
  }

  private def nMatchSql(k: Int): String = (0 until k)
    .map(j => s"CASE WHEN sa.sig_$j = sb.sig_$j THEN 1 ELSE 0 END")
    .mkString(" + ")

  /** e126: fingerprints shared by more chunk instances than this are
    * degenerate boilerplate and excluded from the pair join (engine
    * AND oracle) — the span audit is about document pairs, not the
    * one header every doc carries.
    */
  private[graft] val dupFpCap = 64

  /** SemDeDup near-dup threshold: at the synthetic corpus's cosine
    * distribution (~99th pct ≈ 0.29) τ=0.3 prunes a real but sparse
    * near-dup set.
    */
  private[queries] val semThreshold = 0.3

  // ---- oracles ----

  private def semDedupSql: String = {
    import SimilarityQueries.{foldDot, ivfCellSql, ivfMaxScoreSql}
    s"""WITH a AS (SELECT vec_id,
           CAST(${ivfCellSql("embedding")} AS BIGINT) AS cell,
           ${ivfMaxScoreSql("embedding")} AS cscore,
           ${foldDot("embedding", "embedding")} AS nf,
           embedding
         FROM embeddings),
       p AS (SELECT x.vec_id AS ida, y.vec_id AS idb,
           x.cscore AS ca, y.cscore AS cb
         FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
         WHERE ${foldDot("x.embedding", "y.embedding")} /
           (sqrt(x.nf) * sqrt(y.nf)) > $semThreshold),
       losers AS (SELECT DISTINCT CASE WHEN ca > cb THEN ida
           WHEN ca < cb THEN idb ELSE greatest(ida, idb) END AS vec_id
         FROM p)
       SELECT a.vec_id, a.cell, round(a.cscore, 8) AS cscore,
         (l.vec_id IS NULL) AS keep
       FROM a LEFT JOIN losers l ON a.vec_id = l.vec_id"""
  }

  private[queries] def semDedupDeltaSql: String = {
    import SimilarityQueries.{foldDot, ivfCellSql}
    s"""WITH a AS (SELECT vec_id,
           CAST(${ivfCellSql("embedding")} AS BIGINT) AS cell,
           ${foldDot("embedding", "embedding")} AS nf,
           embedding
         FROM embeddings),
       d AS (SELECT * FROM a WHERE vec_id % 4 = 0),
       c AS (SELECT * FROM a WHERE vec_id % 4 <> 0)
       SELECT d.vec_id, d.cell,
         CAST(SUM(CASE WHEN ${foldDot("d.embedding", "c.embedding")} /
             (sqrt(d.nf) * sqrt(c.nf)) > $semThreshold
           THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
         CAST(SUM(CASE WHEN ${foldDot("d.embedding", "c.embedding")} /
             (sqrt(d.nf) * sqrt(c.nf)) > $semThreshold
           THEN 1 ELSE 0 END) AS BIGINT) = 0 AS admitted
       FROM d LEFT JOIN c ON d.cell = c.cell
       GROUP BY 1, 2"""
  }

  /** e179's near-dup threshold — e174's value (the corpus cosine
    * distribution doesn't move with k; only cell membership does).
    */
  private val semThreshold16 = 0.3

  private val semK16 = 16

  // ---- oracles ----

  /** k=16 centroid literals (double text of each float — parses back
    * to the identical IEEE value in DuckDB).
    */
  private def centLit16: Seq[String] =
    Similarity.syntheticCentroids(semK16, 64)
      .map(_.map(_.toDouble.toString).mkString("[", ", ", "]"))

  /** Score-list argmax form of the IVF assignment for k=16: each
    * centroid score appears once in a LIST literal; cell = index of
    * the LAST maximum (list_position over the reversed list), which
    * is greatest(struct(score, idx)).getField("idx")'s tie rule;
    * cscore = list_max. The k=4 oracles keep their CASE-chain form
    * (shared with e2_ivf); at k=16 the chain would repeat each score
    * O(k) times.
    */
  private def semDedup16Sql: String = {
    import SimilarityQueries.foldDot
    val scores = centLit16.map { c =>
      s"${foldDot("embedding", c)} / (sqrt(${foldDot("embedding", "embedding")}) * sqrt(${foldDot(c, c)}))"
    }.mkString("[", ",\n           ", "]")
    s"""WITH s0 AS (SELECT vec_id, embedding,
           $scores AS sl,
           ${foldDot("embedding", "embedding")} AS nf
         FROM embeddings),
       a AS (SELECT vec_id, embedding, nf,
           CAST($semK16 - list_position(list_reverse(sl), list_max(sl))
             AS BIGINT) AS cell,
           list_max(sl) AS cscore
         FROM s0),
       p AS (SELECT x.vec_id AS ida, y.vec_id AS idb,
           x.cscore AS ca, y.cscore AS cb
         FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
         WHERE ${foldDot("x.embedding", "y.embedding")} /
           (sqrt(x.nf) * sqrt(y.nf)) > $semThreshold16),
       losers AS (SELECT DISTINCT CASE WHEN ca > cb THEN ida
           WHEN ca < cb THEN idb ELSE greatest(ida, idb) END AS vec_id
         FROM p)
       SELECT a.vec_id, a.cell, round(a.cscore, 8) AS cscore,
         (l.vec_id IS NULL) AS keep
       FROM a LEFT JOIN losers l ON a.vec_id = l.vec_id"""
  }

  val judged: Seq[Judged] = Seq(
    // SimHash near-dup pairs, Manku-style multi-index: 60-bit simhash,
    // 4 bands of 15 bits, Hamming ≤ 3. Pigeonhole makes the banded
    // equi-join EXACT — any pair within 3 flipped bits shares an
    // untouched band — so the oracle is the exhaustive all-pairs
    // definition while the plan never compares beyond band buckets.
    // 2^15 buckets per band keep in-bucket pairs ~n²/32768: the 10×
    // scale bench showed the previous 8-bit bands (256 buckets) going
    // quadratic (×16.8 at ×10 data); 15-bit bands restore ~linear
    Judged("e32_simhash_pairs", (s, dir) => simhashPairs(s, dir),
      simhashPairsSql),

    // Dedup audit by provenance: which sources contribute near-duplicate
    // candidates, at what rate — the report that decides where to spend
    // curation effort. Reuses the judged LSH candidate-pair definition;
    // the pair set is tiny next to the corpus, so the join back is a
    // broadcast at any scale
    Judged("e29_dedup_by_source", (s, dir) => {
      val pairs = SparkEntry.queries("e1_minhash_pairs")(s, dir)
      val dupIds = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id")))
        .distinct().withColumn("dup", lit(1L))
      t(s, dir, "documents")
        .join(broadcast(dupIds), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(col("dup")).as("n_dup_involved"),
          (count(col("dup")).cast("double") / count(lit(1)))
            .as("dup_rate"))
    },
      s"""WITH pr AS (${minhashPairsSql}),
          ids AS (SELECT id_a AS doc_id FROM pr
                  UNION SELECT id_b FROM pr)
          SELECT source, count(*) AS n_docs,
            CAST(count(i.doc_id) AS BIGINT) AS n_dup_involved,
            CAST(count(i.doc_id) AS DOUBLE) / count(*) AS dup_rate
          FROM documents d LEFT JOIN ids i ON d.doc_id = i.doc_id
          GROUP BY source"""),

    // Repeated-passage scan: non-overlapping 16-token chunks fingerprinted
    // across the corpus; a chunk whose fingerprint occurs more than once
    // anywhere marks duplicated passage content (the within-corpus
    // boilerplate signal line-level dedup targets). Chunking is a narrow
    // generate stage; the only exchanges are on the constant-width
    // fingerprint — never the text. The chunk-fp frame is durably
    // staged ([[chunkFp16]]) and shared with e126's span-extent audit.
    Judged("e28_passage_dedup", (s, dir) => {
      val ch = chunkFp16(s, dir)
      val dup = ch.groupBy("fp").agg(count(lit(1)).as("cnt"))
      ch.join(dup, "fp")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          count(when(col("cnt") > 1, 1)).as("n_dup_chunks"),
          (count(when(col("cnt") > 1, 1)).cast("double") / count(lit(1)))
            .as("dup_frac"))
    },
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
          ch AS (SELECT doc_id,
              md5(array_to_string(tk[s : least(s + 15,
                CAST(len(tk) AS BIGINT))], ' ')) AS fp
            FROM (SELECT doc_id, tk,
                    unnest(range(1, CAST(len(tk) AS BIGINT) + 1, 16)) AS s
                  FROM tk WHERE len(tk) > 0)),
          dup AS (SELECT fp, count(*) AS cnt FROM ch GROUP BY fp)
          SELECT doc_id, count(*) AS n_chunks,
            CAST(count(*) FILTER (WHERE cnt > 1) AS BIGINT) AS n_dup_chunks,
            CAST(count(*) FILTER (WHERE cnt > 1) AS DOUBLE) / count(*)
              AS dup_frac
          FROM ch JOIN dup USING (fp) GROUP BY doc_id"""),

    // Exact dedup keyed by full text: keeper + duplicate count
    Judged("e1_exact", (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), col("text"), col("doc_id")),
      """SELECT text AS dedup_key, min(doc_id) AS kept, count(*) AS n_copies
         FROM documents GROUP BY text"""),

    // Exact dedup keyed by canonical fingerprint (whitespace/punct-blind)
    Judged("e1_exact_fp", (s, dir) =>
      Dedup.exact(t(s, dir, "documents"),
        TextAnalysis.fingerprint(col("text")), col("doc_id")),
      """SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
           AS dedup_key,
         min(doc_id) AS kept, count(*) AS n_copies
         FROM documents GROUP BY 1"""),

    // MinHash signatures (k=4 shown; universal-hash min over word
    // bigrams). Each derivation stage is its own projection —
    // tokens → shingles → hashes → signatures — so no pass recomputes
    // (expression trees don't CSE across lambdas).
    Judged("e1_minhash_sig", (s, dir) => {
      val hashed = stagedShingleHashes(s, dir)
      hashed.select(col("doc_id") +:
        Dedup.minhashSignaturesFromHashes(col("hs"), 4): _*)
    },
      s"""WITH $shingleCte
          SELECT doc_id, ${sigExprs(4)} FROM sh GROUP BY doc_id"""),

    // MinHash-LSH candidate pairs (k=8, 4 bands of 2) — the scale path:
    // equi-join on band keys, never all-pairs
    Judged("e1_minhash_pairs", (s, dir) => candidatePairs(s, dir),
      minhashPairsSql),

    // INCREMENTAL dedup — the daily-ingest shape: today's delta
    // (doc_id % 10 = 0 here) banded against the standing corpus, so
    // per-ingest work scales with the delta while the corpus
    // contributes one scan of its (materialized, append-only) banded
    // image. Corpus-internal pairs are never produced — at 100 TB
    // re-deriving them daily is exactly the bill this shape avoids.
    Judged("e54_incremental_dedup", (s, dir) => {
      val docs = shingledDocs(s, dir)
      Dedup.minhashCandidatePairsBetween(
        docs.where(col("doc_id") % 10 === 0),
        docs.where(col("doc_id") % 10 =!= 0),
        "doc_id", "sh", minhashK, bands)
    },
      // delta-vs-corpus banding: same sig/band derivation, asymmetric join
      s"""WITH $shingleCte,
          sig AS (SELECT doc_id, ${sigExprs(minhashK)} FROM sh GROUP BY doc_id),
          band AS (SELECT doc_id, unnest([
            md5(concat_ws('_', '0', sig_0, sig_1)),
            md5(concat_ws('_', '1', sig_2, sig_3)),
            md5(concat_ws('_', '2', sig_4, sig_5)),
            md5(concat_ws('_', '3', sig_6, sig_7))]) AS band FROM sig)
          SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_corpus
          FROM band a JOIN band b ON a.band = b.band
          WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0"""),

    // SimHash (32-bit) per document; token hashes are projected once,
    // then the bit-vote fold runs in the NATIVE codegen expression
    // (simhash_fold — bit-identical to Dedup.simhashOfHashes's 32 HOF
    // folds, OperatorsSpec equality property; the e32 simhash60
    // path took the same step in r16 after the HOF form measured ~12 s
    // of a 17 s query at the 10× corpus: one tight two-level loop, no
    // per-token lambda dispatch). Zero-token docs are filtered on BOTH
    // sides: the oracle's unnest() drops them implicitly, so without
    // this guard Spark would emit simhash=0 rows the oracle never
    // produces (latent, data-dependent divergence)
    Judged("e1_simhash", (s, dir) => {
      tBalanced(s, dir, "documents")
        .select(col("doc_id"),
          Dedup.tokenHashes(TextAnalysis.tokens(col("text"))).as("th"))
        .where(size(col("th")) > 0)
        .select(col("doc_id"),
          call_function("simhash_fold", col("th"), lit(32)).as("simhash"))
    },
      s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS tk FROM documents),
          bits AS (SELECT doc_id, g.j,
              SUM(CASE WHEN (CAST('0x' || substr(md5(tk), 1, 8) AS BIGINT)
                             >> g.j) % 2 = 1 THEN 1 ELSE -1 END) AS bsum
            FROM tok, generate_series(0, 31) AS g(j)
            GROUP BY doc_id, g.j)
          SELECT doc_id,
            CAST(SUM(CASE WHEN bsum > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END)
              AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id"""),

    // n-gram Jaccard on a bounded candidate set (doc_id < 30 → ≤435
    // pairs): the verification stage that follows LSH candidate gen
    Judged("e1_jaccard", (s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 30)
        .select(col("doc_id"),
          TextAnalysis.charShingles(col("text"), 3).as("sh"))
      Dedup.ngramJaccardPairs(docs, "doc_id", "sh")
    },
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
          sh AS (SELECT DISTINCT doc_id, substr(lower(text), i, 3) AS s
                 FROM (SELECT doc_id, text,
                         unnest(generate_series(1, greatest(len(text)-2, 0))) AS i
                       FROM d)),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      count(*) AS n_common
                    FROM sh a JOIN sh b
                      ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT id_a, id_b,
            CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
          FROM inter
          JOIN sizes na ON id_a = na.doc_id
          JOIN sizes nb ON id_b = nb.doc_id"""),

    // The full near-dup removal pipeline: LSH candidates → Jaccard
    // verify → greedy drop id_b — returns surviving doc ids
    Judged("e1_dedup_pipeline", (s, dir) =>
      Dedup.nearDupRemoveWithPairs(shingledDocs(s, dir),
        candidatePairs(s, dir), "doc_id", "sh",
        minJaccard = 0.3).select("doc_id"),
      s"""WITH $shingleCte,
          $bandPairsCte,
          $verifiedCte
          SELECT t.doc_id FROM toks t
          WHERE t.doc_id NOT IN
            (SELECT id_b FROM verified WHERE jaccard >= 0.3)"""),

    // Duplicate CLUSTERS: LSH candidate pairs chained into connected
    // components (a~b, b~c ⇒ {a,b,c}), each labeled by its min doc_id —
    // what a dedup pipeline actually needs when picking one survivor
    // per cluster rather than per pair
    Judged("e15_components", (s, dir) =>
      componentLabels(s, dir)
        .select(col("id").as("doc_id"), col("component")),
      componentsSql),

    // Duplicate-cluster SIZE profile: the report a dedup run publishes
    // (how many pairs/triples/blobs) — two tiny group-bys downstream of
    // the component labels, nothing new touches the corpus
    Judged("e38_cluster_sizes", (s, dir) =>
      componentLabels(s, dir)
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters")),
      s"""WITH RECURSIVE $shingleCte, $bandPairsCte,
          $reachCte,
          comp AS (SELECT id, min(reach) AS component FROM r GROUP BY id),
          cs AS (SELECT component, count(*) AS cluster_size FROM comp
                 GROUP BY component)
          SELECT cluster_size, count(*) AS n_clusters
          FROM cs GROUP BY cluster_size"""),

    // SURVIVOR SELECTION over duplicate clusters — the policy step a
    // real dedup pipeline runs after clustering: keep the best-quality
    // member (longest text here; any score column slots in), not
    // blindly the min id. Singletons (docs in no candidate pair)
    // survive as their own cluster via the left join + coalesce. One
    // scan of the corpus metadata + the (tiny, staged) label frame,
    // single-pass argmax per cluster: max_by over the total order
    // (n_chars, -doc_id) makes ties deterministic on every engine.
    Judged("e55_cluster_survivor", (s, dir) => {
      val labels = componentLabels(s, dir)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val labeled = docs.join(labels, docs("doc_id") === labels("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"),
          col("n_chars"))
      labeled.groupBy("component").agg(
        max_by(col("doc_id"),
          struct(col("n_chars"), lit(0L) - col("doc_id"))).as("survivor_id"),
        max(col("n_chars")).as("survivor_chars"),
        count(lit(1)).as("cluster_size"))
    },
      // same reachability CTE, then keep the longest doc per cluster
      // (ties -> min doc_id); singletons are their own cluster
      s"""WITH RECURSIVE $shingleCte,
          $bandPairsCte,
          $reachCte,
          comp AS (SELECT id, min(reach) AS component FROM r GROUP BY id),
          lab AS (SELECT d.doc_id,
                    COALESCE(c.component, d.doc_id) AS component, d.n_chars
                  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
          g AS (SELECT component, max(n_chars) AS mx,
                  count(*) AS cluster_size
                FROM lab GROUP BY component)
          SELECT l.component, min(l.doc_id) AS survivor_id,
                 g.mx AS survivor_chars, g.cluster_size
          FROM lab l JOIN g ON l.component = g.component
            AND l.n_chars = g.mx
          GROUP BY l.component, g.mx, g.cluster_size"""),

    // BAND-PARAMETER SWEEP: candidate-pair counts for every (bands ×
    // rows-per-band) split of the SAME staged k=8 signatures — the
    // S-curve sizing audit run before committing an LSH config (more
    // bands = higher recall = more pairs to verify; the count is the
    // verification bill). Four narrow scans of the tiny signature
    // parquet, one band self-join each; the corpus is never re-hashed.
    Judged("e79_band_sweep", (s, dir) => {
      val sig = stagedSignatures(s, dir)
      // all four configs ride ONE exploded key frame and ONE self-join
      // keyed on (config, band) — the per-config band keys can never
      // collide across configs because the config id is part of the
      // join key. One shuffle + one distinct + one group-by instead of
      // four of each (the sweep was 4 sequential join rounds; at sf0.1
      // that was stage-count-bound, and at 100 TB one pass over the
      // signature frame beats four)
      val long = Seq(1, 2, 4, 8).map { nb =>
        val banded = sig.select(col("doc_id") +:
          Dedup.bandKeys((0 until minhashK).map(j => col(s"sig_$j")), nb): _*)
        banded.select(lit(nb.toLong).as("bands"), col("doc_id"),
          explode(array((0 until nb).map(b => col(s"band_$b")): _*))
            .as("band"))
      }.reduce(_ unionAll _)
      long.as("a")
        .join(long.as("b"), col("a.bands") === col("b.bands") &&
          col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.bands").as("bands"), col("a.doc_id").as("id_a"),
          col("b.doc_id").as("id_b"))
        .distinct()
        .groupBy(col("bands"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(col("bands"),
          Quantiles.ldiv(lit(minhashK.toLong), col("bands"))
            .as("rows_per_band"),
          col("n_pairs"))
    },
      {
      def bandCte(nb: Int): String = {
        val r = minhashK / nb
        val groups = (0 until nb).map { b =>
          val cols = (b * r until (b + 1) * r).map(j => s"sig_$j")
            .mkString(", ")
          s"md5(concat_ws('_', '$b', $cols))"
        }.mkString(", ")
        s"""b$nb AS (SELECT doc_id, unnest([$groups]) AS band FROM sig),
            p$nb AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM b$nb a JOIN b$nb b
                ON a.band = b.band AND a.doc_id < b.doc_id)"""
      }
      s"""WITH $shingleCte,
          sig AS (SELECT doc_id, ${sigExprs(minhashK)} FROM sh
                  GROUP BY doc_id),
          ${bandCte(1)}, ${bandCte(2)}, ${bandCte(4)}, ${bandCte(8)}
          SELECT CAST(1 AS BIGINT) AS bands, CAST(8 AS BIGINT)
              AS rows_per_band,
            (SELECT count(*) FROM p1) AS n_pairs
          UNION ALL SELECT 2, 4, (SELECT count(*) FROM p2)
          UNION ALL SELECT 4, 2, (SELECT count(*) FROM p4)
          UNION ALL SELECT 8, 1, (SELECT count(*) FROM p8)"""
    }),

    // CONTAINMENT check over the LSH candidate pairs: which near-dup
    // candidates are literal substring containments (quote, excerpt,
    // boilerplate-wrapped copy) vs merely-similar text — the triage a
    // dedup pipeline runs to pick removal policy (containment → keep
    // superset doc; similarity → keep best-quality). Work = one narrow
    // text join per pair side over the staged pair frame; the corpus
    // is never self-joined on text.
    Judged("e77_containment", (s, dir) => {
      val pairs = candidatePairs(s, dir)
      val txt = t(s, dir, "documents").select(col("doc_id"), col("text"))
      pairs
        .join(txt.as("ta"), col("id_a") === col("ta.doc_id"))
        .join(txt.as("tb"), col("id_b") === col("tb.doc_id"))
        .select(col("id_a"), col("id_b"),
          col("ta.text").contains(col("tb.text")).as("a_contains_b"),
          col("tb.text").contains(col("ta.text")).as("b_contains_a"))
    },
      s"""WITH $shingleCte, $bandPairsCte
          SELECT id_a, id_b,
            contains(ta.text, tb.text) AS a_contains_b,
            contains(tb.text, ta.text) AS b_contains_a
          FROM pairs
          JOIN documents ta ON id_a = ta.doc_id
          JOIN documents tb ON id_b = tb.doc_id"""),

    // MinHash fidelity audit: per LSH candidate pair, the signature
    // agreement estimate (n_match/k) against the exact shingle Jaccard
    // — the measured sketch-quality evidence (E[n_match/k] = J). All
    // arithmetic is exact-integer + one IEEE division per column, so
    // the audit itself is judged, not just asserted
    Judged("e39_minhash_est", (s, dir) => {
      // signatures and candidate pairs come from the shared stage dirs
      // (one md5+signature pass per sf × testdata snapshot, amortized
      // across the whole
      // minhash family) — this query adds only narrow scans + two joins
      // plus the exact-Jaccard verification over the pair set
      val sig = stagedSignatures(s, dir)
      val pairs = candidatePairs(s, dir)
      val nMatch = (0 until minhashK)
        .map(j => when(col(s"sa.sig_$j") === col(s"sb.sig_$j"), lit(1L))
          .otherwise(lit(0L)))
        .reduce(_ + _)
      val est = pairs
        .join(sig.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(sig.as("sb"), col("id_b") === col("sb.doc_id"))
        .select(col("id_a"), col("id_b"), nMatch.as("n_match"))
      // exact verification explodes shingles for CANDIDATE docs only
      // (semi-join first): jaccardForPairs' cost is then ∝ pair count,
      // not corpus size — at 100 TB exploding the full shingle frame
      // for a pair-restricted join would dominate the audit
      val candIds = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id"))).distinct()
      val exact = Dedup.jaccardForPairs(pairs,
        shingledDocs(s, dir).join(candIds, Seq("doc_id"), "left_semi"),
        "doc_id", "sh")
      val estJ = col("n_match").cast("double") / lit(minhashK.toDouble)
      est.join(exact, Seq("id_a", "id_b"))
        .select(col("id_a"), col("id_b"), col("n_match"),
          estJ.as("est_jaccard"), col("jaccard").as("true_jaccard"),
          abs(estJ - col("jaccard")).as("abs_err"))
    },
      s"""WITH $shingleCte, $bandPairsCte,
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          inter AS (SELECT p.id_a, p.id_b, count(*) AS n_common
                    FROM pairs p
                    JOIN sh a ON p.id_a = a.doc_id
                    JOIN sh b ON p.id_b = b.doc_id AND a.s = b.s
                    GROUP BY p.id_a, p.id_b),
          m AS (SELECT p.id_a, p.id_b,
                  CAST(${nMatchSql(minhashK)} AS BIGINT) AS n_match
                FROM pairs p
                JOIN sig sa ON p.id_a = sa.doc_id
                JOIN sig sb ON p.id_b = sb.doc_id),
          j AS (SELECT p.id_a, p.id_b,
                  CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                    / (na.n + nb.n - COALESCE(i.n_common, 0)) AS true_jaccard
                FROM pairs p
                LEFT JOIN inter i ON p.id_a = i.id_a AND p.id_b = i.id_b
                JOIN sizes na ON p.id_a = na.doc_id
                JOIN sizes nb ON p.id_b = nb.doc_id)
          SELECT m.id_a, m.id_b, n_match,
            CAST(n_match AS DOUBLE)/$minhashK.0 AS est_jaccard, true_jaccard,
            abs(CAST(n_match AS DOUBLE)/$minhashK.0 - true_jaccard) AS abs_err
          FROM m JOIN j ON m.id_a = j.id_a AND m.id_b = j.id_b"""),

    // DUP-RATE BY SOURCE PAIR: verified near-dup pairs (J ≥ 0.3)
    // joined to document metadata and rolled up per unordered source
    // pair — the curation report that tells a corpus team WHICH feeds
    // duplicate each other (mirror sites, syndication, re-crawls) and
    // so which acquisition to turn off. Reads the durable pair/shingle
    // checkpoints; the only new work is verification (∝ pairs) plus
    // two metadata joins and a tiny group-by.
    Judged("e95_dup_rate_by_source", (s, dir) => {
      val verified = Dedup.jaccardForPairs(candidatePairs(s, dir),
          shingledDocs(s, dir), "doc_id", "sh")
        .where(col("jaccard") >= 0.3)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      verified
        .join(src.as("da"), col("id_a") === col("da.doc_id"))
        .join(src.as("db"), col("id_b") === col("db.doc_id"))
        .select(least(col("da.source"), col("db.source")).as("source_x"),
          greatest(col("da.source"), col("db.source")).as("source_y"))
        .groupBy("source_x", "source_y")
        .agg(count(lit(1)).as("n_pairs"))
    },
      // same sig/band/pairs/verified chain, rolled up per unordered
      // source pair of the verified (J ≥ 0.3) near-dups
      s"""WITH $shingleCte,
          $bandPairsCte,
          $verifiedCte
          SELECT least(da.source, db.source) AS source_x,
            greatest(da.source, db.source) AS source_y,
            count(*) AS n_pairs
          FROM verified v
          JOIN documents da ON v.id_a = da.doc_id
          JOIN documents db ON v.id_b = db.doc_id
          WHERE v.jaccard >= 0.3
          GROUP BY 1, 2"""),

    // ROUGE-1 F₁ audit of the LSH candidate pairs — the
    // decontamination/summarization-eval metric as a SECOND opinion
    // on the shingle-set Jaccard (e1_jaccard verifies SET overlap of
    // word bigrams; this is frequency-CLIPPED unigram overlap, the
    // ROUGE definition — a doc that repeats a phrase 50× no longer
    // matches a doc containing it once). The harmonic mean collapses
    // to the rational 2·ov/(n_a+n_b) (ov = Σ_w min(cnt_a, cnt_b)), so
    // one exact integer per pair and ONE final division. Plan: the
    // per-doc token histogram is durably staged (the same checkpoint
    // the richness stats read corpus-wide); each pair's overlap is an
    // equi-join on (doc, word) — pair-bounded, never all-pairs.
    Judged("e121_rouge_audit", (s, dir) => {
      val pairs = candidatePairs(s, dir)
      val tokCnt = docTokenHist(s, dir)
      val tots = tokCnt.groupBy("doc_id").agg(sum(col("cnt")).as("ntok"))
      val ov = pairs
        .join(tokCnt.select(col("doc_id").as("id_a"), col("w"),
          col("cnt").as("ca")), Seq("id_a"))
        .join(tokCnt.select(col("doc_id").as("id_b"), col("w"),
          col("cnt").as("cb")), Seq("id_b", "w"))
        .groupBy("id_a", "id_b")
        .agg(sum(least(col("ca"), col("cb"))).as("ov"))
      pairs
        .join(ov, Seq("id_a", "id_b"), "left")
        .join(tots.select(col("doc_id").as("id_a"),
          col("ntok").as("na")), Seq("id_a"), "left")
        .join(tots.select(col("doc_id").as("id_b"),
          col("ntok").as("nb")), Seq("id_b"), "left")
        .select(col("id_a"), col("id_b"),
          coalesce(col("ov"), lit(0L)).as("overlap"),
          coalesce(col("na"), lit(0L)).as("n_a"),
          coalesce(col("nb"), lit(0L)).as("n_b"),
          when(coalesce(col("na"), lit(0L)) +
              coalesce(col("nb"), lit(0L)) > 0,
            lit(2.0) * coalesce(col("ov"), lit(0L)).cast("double") /
              (coalesce(col("na"), lit(0L)) +
                coalesce(col("nb"), lit(0L))).cast("double"))
            .as("rouge1_f"))
    },
      // frequency-clipped unigram overlap per candidate pair; the
      // harmonic F collapses to 2·ov/(n_a+n_b) — one exact integer, one
      // final division (CASE mirrors the Spark `when` null-guard)
      s"""WITH $shingleCte,
          $bandPairsCte,
          tc AS (SELECT doc_id, tk AS w, count(*) AS cnt
                 FROM (SELECT doc_id, unnest($tokensSql) AS tk
                       FROM documents)
                 GROUP BY 1, 2),
          tot AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS ntok
                  FROM tc GROUP BY 1),
          ov AS (SELECT p.id_a, p.id_b,
                   CAST(SUM(LEAST(a.cnt, b.cnt)) AS BIGINT) AS ov
                 FROM pairs p
                 JOIN tc a ON a.doc_id = p.id_a
                 JOIN tc b ON b.doc_id = p.id_b AND b.w = a.w
                 GROUP BY 1, 2)
          SELECT p.id_a, p.id_b,
            coalesce(o.ov, 0) AS overlap,
            coalesce(ta.ntok, 0) AS n_a,
            coalesce(tb.ntok, 0) AS n_b,
            CASE WHEN coalesce(ta.ntok, 0) + coalesce(tb.ntok, 0) > 0
              THEN 2.0 * CAST(coalesce(o.ov, 0) AS DOUBLE) /
                CAST(coalesce(ta.ntok, 0) + coalesce(tb.ntok, 0)
                  AS DOUBLE) END AS rouge1_f
          FROM pairs p
          LEFT JOIN ov o ON o.id_a = p.id_a AND o.id_b = p.id_b
          LEFT JOIN tot ta ON ta.doc_id = p.id_a
          LEFT JOIN tot tb ON tb.doc_id = p.id_b"""),

    // Blocked fuzzy entity resolution: candidate pairs ONLY within a
    // blocking key, verified by edit distance — the classic ER shape.
    // The key must DISCRIMINATE: (nation × segment) alone is 125 fixed
    // blocks, so within-block pairs grow O(N²) with the corpus. Here
    // each name emits TWO name-prefix block keys (multi-pass blocking:
    // name minus its last 2 chars; name with chars 15-16 masked out),
    // so key cardinality grows O(N) and block size is bounded by the
    // masked-suffix alphabet (≤10² rows) at ANY corpus size — total
    // candidate work is linear, not quadratic. Recall: any pair within
    // ≤2 trailing-region substitutions shares a key; wider typos are
    // the documented blocking trade-off (production adds more passes /
    // phonetic keys, same plan shape). levenshtein is builtin codegen
    // — no UDF in the verify stage.
    Judged("e65_entity_match", (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_mktsegment"))
      val keyed = c.select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_mktsegment"),
        posexplode(array(
          substring(col("c_name"), 1, 16),
          concat(substring(col("c_name"), 1, 14),
            substring(col("c_name"), 17, 2)))).as(Seq("ci", "bkey")))
      val a = keyed.select(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"), col("ci"), col("bkey"),
        col("c_custkey").as("id_a"), col("c_name").as("name_a"))
      val b = keyed.select(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"), col("ci"), col("bkey"),
        col("c_custkey").as("id_b"), col("c_name").as("name_b"))
      a.join(b, Seq("nation", "segment", "ci", "bkey"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("nation"), col("segment"),
          col("name_a"), col("name_b"))
        .distinct()
        .where(levenshtein(col("name_a"), col("name_b")) <= 2)
        .select(col("id_a"), col("id_b"), col("nation"), col("segment"),
          levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
    },
      """WITH k AS (
           SELECT c_custkey, c_name, c_nationkey, c_mktsegment, ci,
                  CASE ci WHEN 0 THEN substr(c_name, 1, 16)
                          ELSE substr(c_name, 1, 14) || substr(c_name, 17, 2)
                  END AS bkey
           FROM customer, (VALUES (0), (1)) t(ci)),
         cand AS (
           SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b,
                  a.c_nationkey AS nation, a.c_mktsegment AS segment,
                  a.c_name AS name_a, b.c_name AS name_b
           FROM k a JOIN k b
             ON a.c_nationkey = b.c_nationkey
            AND a.c_mktsegment = b.c_mktsegment
            AND a.ci = b.ci AND a.bkey = b.bkey
            AND a.c_custkey < b.c_custkey)
         SELECT id_a, id_b, nation, segment,
                CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
         FROM cand WHERE levenshtein(name_a, name_b) <= 2"""),

    // Boilerplate segment removal WITH reassembly (the C4-style cleanup
    // e61 only detects): split each doc into non-overlapping 8-token
    // segments, drop every segment that appears verbatim in ≥2 distinct
    // docs, and reassemble the survivors in order. Plan: one shuffle to
    // (doc, seg) — the segment-frequency side aggregates to a tiny
    // frame joined back (broadcast at scale); reassembly is a per-doc
    // sort_array over collected (seg_id, seg) structs, never a global
    // sort. Docs fully consumed by boilerplate keep a row with ''
    Judged("e66_segment_dedup", (s, dir) =>
      Corpus.segmentDedup(tBalanced(s, dir, "documents"),
        "doc_id", "text", segTokens = 8, minDocs = 2),
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                  generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
           FROM documents),
         segs AS (
           SELECT doc_id, pos // 8 AS seg_id,
                  string_agg(tok, ' ' ORDER BY pos) AS seg
           FROM toks GROUP BY doc_id, pos // 8),
         dup AS (SELECT seg FROM segs
                 GROUP BY seg HAVING count(DISTINCT doc_id) >= 2),
         mk AS (SELECT s.doc_id, s.seg_id, s.seg,
                       d.seg IS NOT NULL AS is_dup
                FROM segs s LEFT JOIN dup d USING (seg))
         SELECT doc_id,
           coalesce(string_agg(seg, ' ' ORDER BY seg_id)
             FILTER (NOT is_dup), '') AS clean_text,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(count(*) FILTER (is_dup) AS BIGINT) AS n_removed
         FROM mk GROUP BY doc_id"""),

    // `e87_prefix_join` — exact Jaccard-threshold similarity self-join via
    // AllPairs/PPJoin-style prefix filtering (Bayardo et al., WWW'07;
    // Chaudhuri et al., ICDE'06): order each document's token set by
    // ascending global frequency, emit only the first n − ceil(τ·n) + 1
    // tokens, and equi-join on those prefix tokens. The bound is LOSSLESS
    // for Jaccard ≥ τ (the smallest common token in the global order sits
    // within both prefixes), so after exact verification the result equals
    // the all-pairs answer — while at scale the join only fans out on RARE
    // tokens, never the Zipf head that makes a naive token join quadratic.
    //
    // PREFIX-FILTERED exact Jaccard self-join (τ = 1/2, integer-exact:
    // J ≥ 1/2  ⇔  3·|a∩b| ≥ |a| + |b|). Stages, each a narrow
    // declarative step: distinct word tokens → global document
    // frequency (the tiny side, broadcast) → per-doc token list sorted
    // by (df, tok) → explode only the first n div 2 + 1 tokens →
    // equi-join candidates on the prefix token → exact verify on the
    // full sets. Fixture texts draw from a ~31-word vocabulary, so
    // locally the prefix prunes little (44 845 → 32 347 pairs); on a
    // real Zipfian vocabulary the prefix is exactly the rare tail and
    // the join never touches stop-word buckets. Bounded to doc_id<300
    // so the DuckDB all-pairs oracle stays tractable.
    Judged("e87_prefix_join", (s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 300)
      val toks = docs.select(col("doc_id"),
        explode(array_distinct(filter(
          split(lower(col("text")), "[^a-z0-9]+"),
          x => length(x) > 0))).as("tok"))
      val freq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      val lists = toks.join(broadcast(freq), "tok")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("tok"))))
          .as("sorted"))
        .select(col("doc_id"),
          transform(col("sorted"), x => x("tok")).as("toks"),
          size(col("sorted")).as("n"))
      val prefix = lists.select(col("doc_id"),
        explode(slice(col("toks"), lit(1), expr("n div 2 + 1"))).as("tok"))
      val cand = prefix.as("a")
        .join(prefix.as("b"),
          col("a.tok") === col("b.tok") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      cand
        .join(lists.select(col("doc_id").as("id_a"), col("toks").as("ta"),
          col("n").as("n_a")), "id_a")
        .join(lists.select(col("doc_id").as("id_b"), col("toks").as("tb"),
          col("n").as("n_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("ta"), col("tb"))).as("n_common"),
          col("n_a"), col("n_b"))
        .where(col("n_common") * 3 >= col("n_a") + col("n_b"))
    },
      // oracle computes the UNFILTERED all-pairs answer — prefix
      // filtering is lossless, so the engines must agree exactly
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
          tk AS (SELECT DISTINCT doc_id, tok FROM
                   (SELECT doc_id,
                      unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
                        AS tok
                    FROM d)
                 WHERE tok <> ''),
          sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
          inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      count(*) AS n_common
                    FROM tk a JOIN tk b
                      ON a.tok = b.tok AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b
          FROM inter
          JOIN sz sa ON sa.doc_id = id_a
          JOIN sz sb ON sb.doc_id = id_b
          WHERE 3 * n_common >= sa.n + sb.n"""),

    // `e126_dup_spans` — duplicated-span EXTENT audit: e28 counts how many
    // 16-token chunks repeat; this reports, per candidate doc pair, the
    // MAXIMAL run of CONSECUTIVE shared chunk fingerprints — the metric
    // that distinguishes boilerplate headers (max_run 1) from wholesale
    // document copies (max_run ≈ doc length). Off the SAME durably-staged
    // chunk-fp frame as e28 ([[chunkFp16]]): zero new
    // corpus passes. Runs via index arithmetic (islands-and-gaps): shared
    // positions (ia, ib) group by diagonal delta = ia−ib, and within a
    // diagonal consecutive ia values share island id ia − row_number — a
    // partitioned window over (pair, delta), never an all-pairs or
    // unpartitioned scan. Pair volume is quadratic only in PER- FINGERPRINT
    // multiplicity (the e1 LSH-candidate shape, tiny next to the corpus),
    // and fps above [[dupFpCap]] are EXCLUDED in both engines — the in-plan
    // defense that bounds the worst diagonal at 100 TB (never binding at
    // the judged scales).
    Judged("e126_dup_spans", (s, dir) => {
      val ch = chunkFp16(s, dir)
      // degenerate-boilerplate defense, IN the plan (not just prose):
      // a fingerprint shared by thousands of docs would make the pair
      // join quadratic in its multiplicity, so fps above the cap are
      // excluded — mirrored exactly in the oracle; never binding at
      // the judged scales (max multiplicity is single-digit), it
      // bounds the worst diagonal at 100 TB
      val freq = ch.groupBy("fp").agg(count(lit(1)).as("df_fp"))
      val kept = ch.join(freq.where(col("df_fp") <= dupFpCap)
        .select("fp"), "fp")
      val left = kept.select(col("doc_id").as("doc_a"),
        col("cid").as("ia"), col("fp"))
      val right = kept.select(col("doc_id").as("doc_b"),
        col("cid").as("ib"), col("fp"))
      val pr = left.join(right, "fp")
        .where(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("ia"),
          (col("ia") - col("ib")).as("delta"))
      val w = Window.partitionBy("doc_a", "doc_b", "delta").orderBy("ia")
      // islands-and-gaps: consecutive ia on one diagonal share
      // (ia − row_number); run length = island size
      val il = pr.withColumn("island", col("ia") - row_number().over(w))
        .groupBy("doc_a", "doc_b", "delta", "island")
        .agg(count(lit(1)).as("run_len"))
      il.groupBy("doc_a", "doc_b")
        .agg(sum(col("run_len")).as("n_shared"),
          max(col("run_len")).as("max_run"))
    },
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
          ch AS (SELECT doc_id, CAST((s - 1) // 16 AS BIGINT) AS cid,
                   md5(array_to_string(tk[s : least(s + 15,
                     CAST(len(tk) AS BIGINT))], ' ')) AS fp
                 FROM (SELECT doc_id, tk,
                         unnest(range(1, CAST(len(tk) AS BIGINT) + 1, 16))
                           AS s
                       FROM tk WHERE len(tk) > 0)),
          kept AS (SELECT ch.* FROM ch
                   JOIN (SELECT fp FROM ch GROUP BY fp
                         HAVING count(*) <= $dupFpCap) ok USING (fp)),
          pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.cid AS ia, a.cid - b.cid AS delta
                 FROM kept a JOIN kept b USING (fp)
                 WHERE a.doc_id < b.doc_id),
          runs AS (SELECT doc_a, doc_b, delta,
                     ia - row_number() OVER
                       (PARTITION BY doc_a, doc_b, delta ORDER BY ia)
                       AS island
                   FROM pr),
          il AS (SELECT doc_a, doc_b, count(*) AS run_len
                 FROM runs GROUP BY doc_a, doc_b, delta, island)
          SELECT doc_a, doc_b, CAST(SUM(run_len) AS BIGINT) AS n_shared,
            CAST(max(run_len) AS BIGINT) AS max_run
          FROM il GROUP BY doc_a, doc_b"""),

    // `e138_dup_census` — capture–recapture (Chapman) estimate of the TOTAL
    // near-dup pair population from the overlap of the two judged
    // detectors' catches (MinHash-LSH × SimHash multi-index): the "how many
    // dupes did both miss" census next to the per-method recall audits.
    //
    // Capture–recapture census of the near-dup pair population:
    // MinHash-LSH (e1) and SimHash multi-index (e32) are two
    // independent detectors over the same corpus; the Chapman
    // estimator N̂ = (n1+1)(n2+1)/(m+1) − 1 turns their catch overlap
    // into an estimate of the TOTAL pair population including what
    // BOTH missed — the "how many dupes are still in the corpus"
    // number a dedup QA pass reports (e24-style recalls grade one
    // method against exact; this estimates the unseen mass, with the
    // usual positive-correlation caveat making it a lower bound).
    // Zero new derivations: both pair frames are the judged queries'
    // own (the LSH side durably staged), the overlap an equi-join.
    Judged("e138_dup_census", (s, dir) => {
      val mh = SparkEntry.queries("e1_minhash_pairs")(s, dir)
        .select("id_a", "id_b")
      val sh2 = simhashPairs(s, dir)
        .select("id_a", "id_b")
      val n1 = mh.agg(count(lit(1)).as("n_minhash"))
      val n2 = sh2.agg(count(lit(1)).as("n_simhash"))
      val m = mh.join(sh2, Seq("id_a", "id_b"))
        .agg(count(lit(1)).as("n_both"))
      n1.crossJoin(broadcast(n2)).crossJoin(broadcast(m))
        .select(col("n_minhash"), col("n_simhash"), col("n_both"),
          round((d(col("n_minhash")) + lit(1.0)) *
            (d(col("n_simhash")) + lit(1.0)) /
            (d(col("n_both")) + lit(1.0)) - lit(1.0), 8)
            .as("chapman_nhat"),
          round(d(col("n_both")) / d(col("n_simhash")), 8)
            .as("recall_minhash"),
          round(d(col("n_both")) / d(col("n_minhash")), 8)
            .as("recall_simhash"))
    },
      // both pair sets re-derived verbatim from the judged detectors'
      // own oracle texts (nested CTEs, MATERIALIZED against DuckDB's
      // exponential inlining of doubly-referenced chains)
      {
      val mh = minhashPairsSql
      val sh = simhashPairsSql
      s"""WITH mh AS MATERIALIZED ($mh),
         shp AS MATERIALIZED (SELECT id_a, id_b FROM ($sh)),
         c AS (SELECT
           CAST((SELECT count(*) FROM mh) AS BIGINT) AS n_minhash,
           CAST((SELECT count(*) FROM shp) AS BIGINT) AS n_simhash,
           CAST((SELECT count(*) FROM mh JOIN shp USING (id_a, id_b))
             AS BIGINT) AS n_both)
         SELECT n_minhash, n_simhash, n_both,
           round((CAST(n_minhash AS DOUBLE) + 1.0) *
             (CAST(n_simhash AS DOUBLE) + 1.0) /
             (CAST(n_both AS DOUBLE) + 1.0) - 1.0, 8) AS chapman_nhat,
           round(CAST(n_both AS DOUBLE) / CAST(n_simhash AS DOUBLE), 8)
             AS recall_minhash,
           round(CAST(n_both AS DOUBLE) / CAST(n_minhash AS DOUBLE), 8)
             AS recall_simhash
         FROM c"""
    }),

    // `e174_semdedup` — SemDeDup semantic dedup (Abbas et al. 2023,
    // arXiv:2303.09540), the embedding-CLUSTER-then-prune family that
    // complements MinHash (lexical), SimHash (bit-vote) and cosine-LSH
    // (bucketed pairs): every vector joins its nearest IVF centroid's
    // cluster ([[Similarity.ivfCell]] — the e2_ivf index layout, plan-
    // literal centroids), pair comparison is STRICTLY cluster-local
    // (equi-join on the cell key, no cross-cluster pairs, never all-pairs),
    // and of a near-dup pair the member CLOSER to its centroid is pruned —
    // the paper keeps cluster-edge members to preserve diversity. Pair
    // cosines ride the native codegen `vec_dot` with hoisted self-norms
    // (one kernel call per pair, the e60/e1_embed_neardup discipline); both
    // they and the centroid scores are the plain left-to-right double fold
    // the oracle's list_reduce reproduces bit-for-bit. At 100 TB the
    // centroid count scales with the corpus (the paper runs k ≈ 50k) so
    // clusters stay O(1) and the corpus partitions by cell.
    //
    // Pair stage through the native codegen vec_dot (the e1_embed_neardup
    // discipline: the left-to-right double fold is bit-agreed with the
    // oracle's list_reduce, and the kernel skips the per-pair zipped-array
    // allocation the HOF fold pays — the x10 study measured the default
    // fixed-point HOF pair stage at 519 s vs 22 s native)
    Judged("e174_semdedup", (s, dir) => {
      val vd = (a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column) =>
        call_function("vec_dot", a, b)
      Dedup.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        Similarity.syntheticCentroids(SimilarityQueries.ivfN, 64),
        semThreshold,
        selfDot = v => vd(v, v),
        pairCosine = (a, b, na, nb) => vd(a, b) / (sqrt(na) * sqrt(nb)))
    },
      semDedupSql),

    // `e176_semdedup_delta` — e174's ingest-admission (delta-vs-corpus)
    // form, the minhash-incremental discipline in embedding space.
    //
    // Incremental SemDeDup — e174's ingest-admission form (the
    // minhashCandidatePairsBetween discipline in embedding space):
    // delta docs (vec_id % 4 = 0) checked against the existing corpus
    // only, LEFT equi-join on the IVF cell key, rejected iff any
    // cluster-mate corpus doc exceeds the cosine threshold. Native
    // vec_dot pair stage, hoisted self-norms.
    Judged("e176_semdedup_delta", (s, dir) => {
      val vd = (a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column) =>
        call_function("vec_dot", a, b)
      val all = t(s, dir, "embeddings")
      Dedup.semDedupDelta(
        all.where(col("vec_id") % 4 === 0),
        all.where(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding",
        Similarity.syntheticCentroids(SimilarityQueries.ivfN, 64),
        semThreshold,
        selfDot = v => vd(v, v),
        pairCosine = (a, b, na, nb) => vd(a, b) / (sqrt(na) * sqrt(nb)))
    },
      semDedupDeltaSql),

    // `e179_semdedup_k16` — SemDeDup at the PRODUCTION cell-size regime:
    // e174 judges the k=4 toy (cells grow with the corpus — the quadratic
    // trap the ×100 fence documents); k=16 at the same corpus puts ~4×
    // fewer members per cell, the regime the paper's k ∝ N sizing
    // maintains. Same operator, same native vec_dot pair kernel, same
    // threshold; the oracle swaps the k=4 CASE chain for a score-LIST
    // argmax (each of the 16 centroid scores appears ONCE in the SQL;
    // `list_max` + reversed `list_position` reproduces the greatest-struct
    // tie-to-higher-index rule exactly).
    //
    // SemDeDup at k=16 — the production cell-size regime, judged.
    // Identical operator + kernel hooks to e174; only the centroid
    // set (and with it the per-cell pair volume) changes.
    Judged("e179_semdedup_k16", (s, dir) => {
      val vd = (a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column) =>
        call_function("vec_dot", a, b)
      Dedup.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        Similarity.syntheticCentroids(semK16, 64),
        semThreshold16,
        selfDot = v => vd(v, v),
        pairCosine = (a, b, na, nb) => vd(a, b) / (sqrt(na) * sqrt(nb)))
    },
      semDedup16Sql),

    // `e180_components_delta` — incremental connected components (the
    // verdict's item 5): delta candidate edges CONTRACT to existing
    // component labels and only the delta-sized contracted graph is
    // re-clustered; prior labels relabel through one hash join against the
    // merge map ([[Dedup.connectedComponentsDelta]]). Judged on e15's
    // recursive-CTE oracle VERBATIM — the delta path must reproduce the
    // from-scratch clustering of the unioned edge set bit-for-bit, which is
    // exactly the operator's contract.
    //
    // Incremental CC: standing labels from the corpus-internal
    // candidate graph (doc_id % 10 ≠ 0, the e54 incremental-dedup
    // split), delta edges = every candidate pair touching a delta
    // doc. The output must equal e15's from-scratch clustering of
    // the FULL candidate graph — that equality IS the judged
    // contract (same oracle text).
    Judged("e180_components_delta", (s, dir) => {
      val pairs = candidatePairs(s, dir)
      val baseLabels = s.read.parquet(
        baseComponentLabels(s, dir).toString)
      val deltaEdges = pairs
        .where(col("id_a") % 10 === 0 || col("id_b") % 10 === 0)
      Dedup.connectedComponentsDelta(baseLabels, deltaEdges,
          "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
    },
      // the incremental path must reproduce the from-scratch clustering
      // of the unioned edge set — e15's recursive CTE, verbatim
      componentsSql))
}

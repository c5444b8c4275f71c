package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.operators.Similarity

/** Round-8 surface growth, fourth wave: NOT IN null semantics (the
  * null-aware anti join), product quantization of embeddings, the
  * deterministic training-order shuffle, and a complete-output-mode
  * aggregate through the real micro-batch engine.
  *
  * House determinism rules (see [[Tables]]): md5-derived hashes for
  * engine-portable pseudo-randomness, floor-quantized BIGINT fixed
  * point for doubles the oracle re-derives, every oracle-side integer
  * SUM/COUNT cast back to BIGINT.
  */
object Surface14Queries extends QuerySet {
  import Tables._

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

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // NOT IN (subquery) under three-valued logic — the null-aware anti
    // join. A single NULL in the list makes `x NOT IN (...)` UNKNOWN
    // for every non-member row, so the nullable leg returns 0 — the
    // classic silent-empty-result trap, judged here against the
    // standard semantics both engines implement. Plan: the null-free
    // leg is a plain broadcast LeftAnti; the nullable leg plans as a
    // null-aware anti join (broadcast, single-key) — Spark requires the
    // list side broadcastable, which holds at 100 TB exactly when the
    // exclusion list is dimension-sized (blocked customers), the only
    // sane shape for NOT IN at scale anyway
    "q102_notin_null" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_q102")
      t(s, dir, "customer").createOrReplaceTempView("customer_q102")
      s.sql(
        """SELECT
             (SELECT CAST(count(*) AS BIGINT) FROM orders_q102
              WHERE o_custkey IN
                (SELECT c_custkey FROM customer_q102
                 WHERE c_mktsegment = 'BUILDING')) AS n_in,
             (SELECT CAST(count(*) AS BIGINT) FROM orders_q102
              WHERE o_custkey NOT IN
                (SELECT c_custkey FROM customer_q102
                 WHERE c_mktsegment = 'BUILDING')) AS n_notin,
             (SELECT CAST(count(*) AS BIGINT) FROM orders_q102
              WHERE o_custkey NOT IN
                (SELECT c_custkey FROM customer_q102
                 WHERE c_mktsegment = 'BUILDING'
                 UNION ALL SELECT CAST(NULL AS BIGINT))) AS n_notin_null""")
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
    "e67_pq" -> ((s, dir) => {
      val v = col("embedding")
      t(s, dir, "embeddings").select(col("vec_id"),
        pqCodeCol(v, 0).as("code_0"), pqCodeCol(v, 1).as("code_1"),
        pqCodeCol(v, 2).as("code_2"), pqCodeCol(v, 3).as("code_3"),
        floor((pqBestCol(v, 0) + pqBestCol(v, 1) + pqBestCol(v, 2) +
          pqBestCol(v, 3)) * 1e6).cast("long").as("cohesion_c"))
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
    "e69_pq_adc" -> ((s, dir) => {
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
    }),

    // Deterministic training-order shuffle — the write-side op every
    // training pipeline ends with: a reproducible global permutation of
    // the corpus into N shards. shard = md5(id) mod N (uniform, engine-
    // portable), pos = rank of md5(id) within the shard. The plan is
    // ONE hash exchange on shard + a per-shard sort — never a global
    // total order; at 100 TB N is chosen ∝ corpus/shard-file-size
    // (thousands), so each per-shard sort is executor-sized and the
    // whole permutation is retry/partitioning independent
    "e68_shuffle_shards" -> ((s, dir) => {
      val h = md5(col("doc_id").cast("string"))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("h"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), h.as("h"),
          (conv(substring(h, 1, 4), 16, 10).cast("long") % 8).as("shard"))
        .withColumn("pos", row_number().over(w).cast("long"))
        .drop("h")
    }),

    // COMPLETE output mode through the RUNTIME — the third and last
    // output mode (append: c9, update: c26): every micro-batch emits
    // the ENTIRE aggregate image, which the sink overwrites wholesale
    // (epoch-atomic rewrite, the live-dashboard contract). Complete
    // mode keeps all groups in state forever, so it is only finite for
    // dimension-bounded aggregates (event types here) — that bound is
    // the 100 TB design rule, not a limitation of the test. The judged
    // frame is the final overwritten image: it must equal the batch
    // restatement of the whole feed, proving the last epoch's image
    // covered rows from every earlier epoch (checkpoint offsets audit
    // the epoch count)
    "c29_stream_complete" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "event_type")
      val tmp = Stage.tempDir("graft-c29-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val feed = Stage.durableChunkFeed("feed-c29", dir)(Seq(
        ev.where(col("event_id") % 2 === 0),
        ev.where(col("event_id") % 2 =!= 0)))
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType)))
      Stage.drain(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n")),
        ckpt, "complete")(
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(out)
          ()
        })
      val nBatches = new java.io.File(s"$ckpt/offsets").listFiles()
        .count(f => f.getName.forall(_.isDigit))
      s.read.parquet(out)
        .withColumn("n_epochs", lit(nBatches.toLong))
        .withColumn("complete_ok", lit(nBatches == 2))
    }),

    // CHAINED stateful operators in one streaming query — streaming
    // dedup feeding a windowed aggregation, both keeping state in the
    // SAME micro-batch pipeline (the shape Spark only admits when every
    // stateful op rides the one event-time watermark). The feed injects
    // duplicates (event_id % 7 re-sent in-batch); dedup suppresses them
    // within the watermark horizon, the downstream hourly count sees
    // each event once, and append mode emits exactly the windows the
    // final watermark (max ts − 1 h) finalized. State audit: the
    // checkpoint must hold TWO state-store operators. At 100 TB/day
    // both stores stay finite: dedup keys age out at the watermark,
    // windows close at the watermark — one pipeline, no intermediate
    // sink between the two stateful stages
    "c30_stream_chained" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("ts", "event_id")
      val tmp = Stage.tempDir("graft-c30-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val cut = lit("2024-01-21").cast("timestamp")
      def leg(rows: DataFrame): DataFrame =
        rows.unionAll(rows.where(col("event_id") % 7 === 0))
      val feed = Stage.durableChunkFeed("feed-c30", dir)(Seq(
        leg(ev.where(col("ts") < cut)),
        leg(ev.where(col("ts") >= cut))))
      val schema = StructType(Seq(
        StructField("ts", org.apache.spark.sql.types.TimestampType),
        StructField("event_id", LongType)))
      Stage.drain(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
          .select(col("window.start").as("win_start"), col("n")),
        ckpt)(_.format("parquet").option("path", out))
      val nStateOps = new java.io.File(s"$ckpt/state").listFiles()
        .count(_.isDirectory)
      s.read.parquet(out)
        .withColumn("n_state_ops", lit(nStateOps.toLong))
    }))

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

  val oracles: Map[String, String] = Map(
    "q102_notin_null" ->
      """SELECT
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_custkey IN
              (SELECT c_custkey FROM customer
               WHERE c_mktsegment = 'BUILDING')) AS n_in,
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_custkey NOT IN
              (SELECT c_custkey FROM customer
               WHERE c_mktsegment = 'BUILDING')) AS n_notin,
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_custkey NOT IN
              (SELECT c_custkey FROM customer
               WHERE c_mktsegment = 'BUILDING'
               UNION ALL SELECT CAST(NULL AS BIGINT))) AS n_notin_null""",
    "e67_pq" -> {
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
    },
    "e68_shuffle_shards" ->
      """SELECT doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
             % 8 AS shard,
           CAST(row_number() OVER (
             PARTITION BY CAST('0x' ||
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 8
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
         FROM documents""",
    "c29_stream_complete" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(2 AS BIGINT) AS n_epochs, TRUE AS complete_ok
         FROM events GROUP BY event_type""",
    "e69_pq_adc" -> {
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
    },
    "c30_stream_chained" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
          wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e),
          b AS (SELECT date_trunc('hour', ts) AS win_start,
                  CAST(count(*) AS BIGINT) AS n
                FROM e GROUP BY 1)
          SELECT win_start, n, CAST(2 AS BIGINT) AS n_state_ops
          FROM b, wm WHERE win_start + INTERVAL 1 HOUR <= w""")
}

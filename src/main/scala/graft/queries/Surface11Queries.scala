package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 surface growth: training-pipeline shapes that were still
  * missing after the §2 inventory closed — exact per-group sampling
  * and the point-in-time dimension join every feature/label pipeline
  * needs for temporal correctness.
  */
object Surface11Queries extends QuerySet {
  import Tables._

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
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
    "e53_stratified_sample" -> ((s, dir) => {
      val key = md5(col("doc_id").cast("string"))
      t(s, dir, "documents")
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source")).orderBy(key, col("doc_id")))
          .cast("long"))
        .where(col("rk") <= 20)
        .select(col("doc_id"), col("source"), col("rk"))
    }),

    // POINT-IN-TIME join (temporal correctness): each fact row joins
    // the dimension VERSION that was valid at the fact's event time —
    // the query that prevents feature leakage when training on
    // historical facts against an SCD2 dimension. The join is an
    // EQUI-join on the dimension key with the validity interval as a
    // residual predicate: versions-per-key is small (2 here, bounded
    // in any real SCD2), so the per-key filter is O(versions), and the
    // plan is the same single hash exchange as a plain dim join — no
    // range-join machinery, no broadcast of the fact side. The
    // version set is synthesized from customer (v2 opens 1997-01-01
    // for custkey % 3 = 0 with acctbal + 100), so every order matches
    // exactly one version by construction.
    "q91_pit_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val v2open = lit("1997-01-01").cast("timestamp")
      val never = lit("2999-01-01").cast("timestamp")
      val v1 = c.select(col("c_custkey"), col("c_acctbal"),
        lit("1990-01-01").cast("timestamp").as("eff_from"),
        when(col("c_custkey") % 3 === 0, v2open).otherwise(never)
          .as("eff_to"))
      val v2 = c.where(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("c_acctbal"),
          v2open.as("eff_from"), never.as("eff_to"))
      t(s, dir, "orders")
        .join(v1.unionByName(v2), col("o_custkey") === col("c_custkey") &&
          col("o_orderdate") >= col("eff_from") &&
          col("o_orderdate") < col("eff_to"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("c_acctbal").as("acctbal_at_order"))
    }),

    // RUNTIME Bloom-filter join pruning: the dim side's selective
    // filter (one order month) is turned into a bloom filter applied
    // to the FACT side's scan before the join shuffle — at 100 TB this
    // is the mechanism that keeps a shuffle join from moving 98% of
    // lineitem rows that can never match. The query REQUIRES the
    // injected `might_contain` probe in its own physical plan (the
    // broadcast path is disabled so bloom pruning, not broadcast, is
    // what's proven), and the result is still hash-checked against the
    // oracle — pruning must be semantically invisible.
    "q92_runtime_filter" -> ((s, dir) => {
      val tmp = Stage.tempDir("graft-q92-").toString
      graft.Session.withConf(s)(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
          "0") {
        val ord = t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-03-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
          .select("o_orderkey", "o_orderdate")
        val joined = t(s, dir, "lineitem")
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderdate"))
          .agg(count(lit(1)).as("n_lines"),
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("revenue"))
        val plan = joined.queryExecution.executedPlan.toString
        require(plan.contains("might_contain"),
          s"runtime bloom filter must be injected:\n$plan")
        joined.write.mode("overwrite").parquet(s"$tmp/result")
      }
      s.read.parquet(s"$tmp/result")
    }),

    // AQE RUNTIME SKEW-JOIN: the other half of the skew story (q13 is
    // manual salting). A hot key holding ~90% of the fact side would
    // pin a sort-merge join to one straggler task; AQE measures the
    // actual shuffle-partition sizes at runtime and SPLITS the
    // oversized partition into parallel sub-joins — no salting column,
    // no plan rewrite by the user, and at 100 TB this is what turns a
    // one-task 90-TB partition into hundreds of bounded tasks. The
    // query REQUIRES `skew=true` on the executed SortMergeJoin (the
    // broadcast path is disabled so the skew handler, not a broadcast,
    // is what's proven) and the result is still hash-checked against
    // the oracle — the split must be semantically invisible. Detection
    // thresholds are lowered in proportion to the fixture (a real
    // cluster keeps the 256 MB default); factor 1 + tiny advisory size
    // make the 90%-key partition skewed at any sf.
    "q105_skew_join" -> ((s, dir) => {
      val tmp = Stage.tempDir("graft-q105-").toString
      graft.Session.withConf(s)(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB") {
        // hot key: ~90% of lineitem rows join to order key 1 (present
        // at every sf); the rest keep their real key. The repartition
        // synthesizes upstream MAP parallelism: AQE splits a skewed
        // reduce partition at mapper granularity, and the local
        // single-row-group parquet fixture yields exactly one mapper
        // (nothing to split) — a 100 TB input has thousands of mappers
        // and needs no such step.
        val fact = t(s, dir, "lineitem").repartition(8).select(
          when(col("l_orderkey") % 10 =!= 0, lit(1L))
            .otherwise(col("l_orderkey")).as("k"),
          col("l_extendedprice"), col("l_discount"))
        val joined = fact
          .join(t(s, dir, "orders"), col("k") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_lines"),
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("revenue"))
        // AQE decides at runtime, so the assert must read a
        // QueryExecution that actually RAN. r18 ran the join twice for
        // this (a toRdd.count() gate execution, then the judged write);
        // now a QueryExecutionListener captures the WRITE's own
        // post-execution QueryExecution — the gate inspects the very
        // execution that produced the judged parquet, and the join runs
        // once (guide §1.2: don't compute things you throw away).
        val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
        val gate = new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            seen.add(qe.executedPlan.toString)
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        }
        s.listenerManager.register(gate)
        val plan =
          try {
            joined.write.mode("overwrite").parquet(s"$tmp/result")
            // the listener bus is async; wait (bounded) for the write's
            // QE to arrive
            val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
            while (seen.isEmpty && System.nanoTime() < deadline)
              Thread.sleep(5)
            import scala.jdk.CollectionConverters._
            seen.asScala.mkString("\n---\n")
          } finally s.listenerManager.unregister(gate)
        // belt-and-braces: if the async bus ever dropped/outran the
        // event (never observed; bounded-wait insurance only), fall
        // back to the r18 gate — a dedicated execution via toRdd whose
        // finalized adaptive plan is read directly. The judged parquet
        // is already written either way.
        val gatedPlan =
          if (plan.contains("skew=true")) plan
          else {
            val qe = joined.queryExecution
            qe.toRdd.count()
            qe.executedPlan.toString
          }
        require(gatedPlan.contains("skew=true"),
          s"AQE must split the skewed join partition:\n$gatedPlan")
      }
      s.read.parquet(s"$tmp/result")
    }),

    // VARIANT semi-structured ingestion (Spark 4 native): event
    // payloads arrive as JSON text, are parsed ONCE into the binary
    // VARIANT encoding, and typed fields are extracted with
    // `variant_get` path expressions — the open-schema metadata-blob
    // shape every training corpus carries. Unlike a rigid from_json
    // schema, unknown paths return null instead of failing, and the
    // judged frame proves typed round-trip (bigint/string/double and
    // an array index) plus missing-path null semantics. The parse and
    // extraction are per-row expression work inside one codegen'd
    // projection — no shuffle, columnar-pruned scan underneath.
    "q93_variant" -> ((s, dir) => {
      val payload = to_json(struct(
        col("event_id").as("id"),
        struct(col("event_type").as("type"), col("value").as("value"))
          .as("meta"),
        array(col("event_type"), lit("corpus")).as("tags")))
      events(s, dir)
        .select(parse_json(payload).as("v"))
        .select(
          variant_get(col("v"), "$.id", "bigint").as("id"),
          variant_get(col("v"), "$.meta.type", "string").as("etype"),
          variant_get(col("v"), "$.meta.value", "double").as("val"),
          variant_get(col("v"), "$.tags[1]", "string").as("tag1"),
          variant_get(col("v"), "$.meta.absent", "string").as("missing"))
    }),

    // INLINE data-quality metrics via the Observation API: null/range
    // audits computed as accumulator-style aggregates DURING the main
    // pass — at 100 TB a separate quality scan doubles the job's I/O,
    // while observe() rides the same task set for free. The main pass
    // here is a real write (events → parquet); the judged frame is the
    // audit row the pipeline would publish. Values are proven against
    // the oracle computing the same aggregates relationally.
    "q94_observe" -> ((s, dir) => {
      import s.implicits._
      val tmp = Stage.tempDir("graft-q94-").toString
      val obs = new org.apache.spark.sql.Observation("q94_audit")
      events(s, dir)
        .observe(obs,
          count(lit(1)).as("n_rows"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_values"),
          sum(when(col("value") < 0, 1L).otherwise(0L)).as("neg_values"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("n_views"),
          max(col("event_id")).as("max_event_id"))
        .write.mode("overwrite").parquet(s"$tmp/out")
      val m = obs.get
      Seq((m("n_rows").asInstanceOf[Long], m("null_values").asInstanceOf[Long],
        m("neg_values").asInstanceOf[Long], m("n_views").asInstanceOf[Long],
        m("max_event_id").asInstanceOf[Long]))
        .toDF("n_rows", "null_values", "neg_values", "n_views",
          "max_event_id")
    }))

  val oracles: Map[String, String] = Map(
    "e53_stratified_sample" ->
      """WITH r AS (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
         FROM r WHERE rk <= 20""",
    "q91_pit_join" ->
      """WITH dim AS (
           SELECT c_custkey, c_acctbal,
                  TIMESTAMP '1990-01-01' AS eff_from,
                  CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '1997-01-01'
                       ELSE TIMESTAMP '2999-01-01' END AS eff_to
           FROM customer
           UNION ALL
           SELECT c_custkey, c_acctbal + 100.0,
                  TIMESTAMP '1997-01-01', TIMESTAMP '2999-01-01'
           FROM customer WHERE c_custkey % 3 = 0)
         SELECT o_orderkey, o_custkey, o_orderdate,
                c_acctbal AS acctbal_at_order
         FROM orders JOIN dim ON o_custkey = c_custkey
           AND o_orderdate >= eff_from AND o_orderdate < eff_to""",
    // the skew split must be semantically invisible: plain join SQL
    "q105_skew_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
                CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(38,4))) AS DOUBLE) AS revenue
         FROM (SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 1
                           ELSE l_orderkey END AS k,
                      l_extendedprice, l_discount
               FROM lineitem) l
         JOIN orders ON k = o_orderkey
         GROUP BY o_orderpriority""",
    "q92_runtime_filter" ->
      """SELECT o_orderdate, count(*) AS n_lines,
                CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(38,4))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderdate >= TIMESTAMP '1996-03-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
         GROUP BY o_orderdate""",
    // typed extraction must round-trip the source values; unknown
    // paths are null
    "q93_variant" ->
      """SELECT event_id AS id, event_type AS etype, value AS val,
                'corpus' AS tag1, CAST(NULL AS VARCHAR) AS missing
         FROM events""",
    "q94_observe" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS null_values,
                CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS neg_values,
                CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_views,
                max(event_id) AS max_event_id
         FROM events""")
}

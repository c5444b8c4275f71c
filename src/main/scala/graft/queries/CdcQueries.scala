package graft.queries

import org.apache.spark.sql.functions._

import graft.cdc.Debezium
import graft.operators.Incremental
import graft.schemas.Catalog
import graft.sinks.Sinks

/** The CDC route: Debezium envelopes unwrapped, routed, upserted and
  * replayed into keyed sinks, plus the sink catalog (`c*`, `k*`).
  */
object CdcQueries extends Family {
  import Tables._

  private val k3Values: String = Catalog.ddlRows
    .map { case (t, c, d, i) => s"('$t','$c','$d',$i)" }
    .mkString(", ")

  val judged: Seq[Judged] = Seq(
    // C1+C2: envelope round-trip with op filter — create/read/update kept,
    // delete dropped (reference: cassandra-sink-config.json:19-20)
    Judged("c2_unwrap", (s, dir) => {
      val o = t(s, dir, "orders")
      val op = when(col("o_orderstatus") === "O", "c")
        .when(col("o_orderstatus") === "F", "r").otherwise("d")
      val enveloped = Debezium.wrap(o, op, "orders",
        unix_millis(col("o_orderdate").cast("timestamp")))
      Debezium.unwrap(enveloped, o.schema)
    },
      "SELECT * FROM orders WHERE o_orderstatus IN ('O', 'F')"),

    // C3+C4: multiplexed two-table CDC feed → route on topic → per-topic
    // field mapping (reference: cassandra-sink-config.json:6,14-18)
    Judged("c3_route_map", (s, dir) => {
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      val feed =
        Debezium.wrap(n, lit("c"), "nation", lit(1L))
          .withColumn("topic", lit(Debezium.topicFor("nation")))
          .unionByName(
            Debezium.wrap(r, lit("c"), "region", lit(1L))
              .withColumn("topic", lit(Debezium.topicFor("region"))))
      val routed = Debezium.routeTable(feed, "nation")
      Debezium.mappingSelect(
        Debezium.unwrap(routed, n.schema),
        Seq("n_nationkey" -> "nation_id", "n_name" -> "name",
            "n_regionkey" -> "region_id"))
    },
      """SELECT n_nationkey AS nation_id, n_name AS name,
         n_regionkey AS region_id FROM nation"""),

    // C7+K2: snapshot (op=r) unioned with a later update stream (op=u),
    // then keyed last-wins upsert — the Cassandra PK-upsert semantics
    // (reference: debezium-config.json:15; cassandra-init.cql:4)
    Judged("c7_snapshot_upsert", (s, dir) => {
      val c = t(s, dir, "customer")
      val snapshot = Debezium.wrap(c, lit("r"), "customer", lit(0L))
      val updates = Debezium.wrap(
        c.where(col("c_custkey") % 3 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 100.0),
        lit("u"), "customer", lit(1L))
      val merged = Sinks.upsertLastWins(
        Debezium.unwrapWithMeta(
          Debezium.snapshotThenStream(snapshot, updates), c.schema),
        keys = Seq("c_custkey"), orderCols = Seq("ts_ms"))
      merged.select(c.columns.map(col).toIndexedSeq: _*)
    },
      """SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END
           AS c_acctbal,
         c_mktsegment FROM customer"""),

    // C2+C7+K2 with tombstones: snapshot ∪ updates ∪ DELETES reduced to
    // final state — the delete-aware change-log application the
    // reference's sink sidesteps (its SMT drops deletes); keys whose
    // final event is a delete vanish from the table
    Judged("c8_tombstone", (s, dir) => {
      val c = t(s, dir, "customer")
      val snapshot = Debezium.wrap(c, lit("r"), "customer", lit(0L))
      val updates = Debezium.wrap(
        c.where(col("c_custkey") % 3 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 100.0),
        lit("u"), "customer", lit(1L))
      val deletes = Debezium.wrapDelete(
        c.where(col("c_custkey") % 5 === 0), "customer", lit(2L))
      val log = Debezium.unwrapWithDeletes(
        snapshot.unionByName(updates).unionByName(deletes), c.schema)
      Sinks.applyChangeLog(log, keys = Seq("c_custkey"),
        orderCols = Seq("ts_ms"))
        .select(c.columns.map(col).toIndexedSeq: _*)
    },
      """SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END
           AS c_acctbal,
         c_mktsegment FROM customer WHERE c_custkey % 5 <> 0"""),

    // SCD Type-2 dimension history from the same envelope change log as
    // c8, plus a post-delete resurrect (ts 3): every key VERSION with
    // [effective_from, effective_to) and is_current; the delete closes
    // its prior version's interval and the resurrect opens a fresh one.
    // One window over the dimension key (high-cardinality exchange) —
    // the warehouse-standard type-2 load the reference's drop-deletes
    // sink cannot express
    Judged("c12_scd2", (s, dir) => {
      val c = t(s, dir, "customer")
      val snapshot = Debezium.wrap(c, lit("r"), "customer", lit(0L))
      val updates = Debezium.wrap(
        c.where(col("c_custkey") % 3 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 100.0),
        lit("u"), "customer", lit(1L))
      val deletes = Debezium.wrapDelete(
        c.where(col("c_custkey") % 5 === 0), "customer", lit(2L))
      val resurrects = Debezium.wrap(
        c.where(col("c_custkey") % 15 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 7.0),
        lit("u"), "customer", lit(3L))
      val log = Debezium.unwrapWithDeletes(
        snapshot.unionByName(updates).unionByName(deletes)
          .unionByName(resurrects), c.schema)
      Sinks.scd2History(log, keys = Seq("c_custkey"), orderCol = "ts_ms")
        .select(col("c_custkey"), col("c_acctbal"), col("effective_from"),
          col("effective_to"), col("is_current"))
    },
      """WITH log AS (
           SELECT c_custkey, c_acctbal, 'r' AS op, CAST(0 AS BIGINT) AS ts
             FROM customer
           UNION ALL
           SELECT c_custkey, c_acctbal + 100.0, 'u', 1 FROM customer
             WHERE c_custkey % 3 = 0
           UNION ALL
           SELECT c_custkey, NULL, 'd', 2 FROM customer
             WHERE c_custkey % 5 = 0
           UNION ALL
           SELECT c_custkey, c_acctbal + 7.0, 'u', 3 FROM customer
             WHERE c_custkey % 15 = 0),
          v AS (SELECT *, lead(ts) OVER
              (PARTITION BY c_custkey ORDER BY ts) AS effective_to
            FROM log)
          SELECT c_custkey, c_acctbal, ts AS effective_from, effective_to,
            effective_to IS NULL AS is_current
          FROM v WHERE op <> 'd'"""),

    // Incremental aggregate maintenance ([[Incremental]]): the
    // per-customer order totals view is refreshed by folding one
    // "day's" delta STATE into the stored base STATE — the base fact
    // slice is scanned once when the view lands, never again. The
    // judged frame is the refreshed view; the oracle is the full
    // recompute over all of orders, so the merge is proven
    // indistinguishable from rescanning history (count and exact
    // decimal sum are monoids — associativity is the whole trick).
    Judged("c13_incremental_agg", (s, dir) => {
      val o = t(s, dir, "orders")
      val cut = lit("1997-01-01").cast("timestamp")
      // day 0: the view's stored state lands (simulated MV table) —
      // durably staged: "the base fact slice is scanned once when the
      // view lands, never again" is now literally true across runs
      val base = Stage.durableFrame(s, "c13-base-state", dir) {
        Incremental.aggState(o.where(col("o_orderdate") < cut),
          Seq("o_custkey"), "o_totalprice", scale = 2)
      }
      // day 1: fold the delta's state in — only the delta is scanned
      val delta = Incremental.aggState(o.where(col("o_orderdate") >= cut),
        Seq("o_custkey"), "o_totalprice", scale = 2)
      Incremental.finalizeState(
        Incremental.mergeStates(Seq(base, delta), Seq("o_custkey")),
        Seq("o_custkey"))
    },
      // the incremental refresh must equal the full recompute
      """SELECT o_custkey, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total,
         CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) / count(*)
           AS avg_v
         FROM orders GROUP BY o_custkey"""),

    // Schema evolution across CDC generations: a v1 batch (three
    // columns) and a v2 batch (adds c_mktsegment) land in the same
    // table directory; a mergeSchema read presents the union schema
    // with v1 rows null-filled — the Debezium column-add drift case the
    // reference's fixed DDL cannot absorb. Key ranges are disjoint so
    // the oracle is a plain UNION ALL with a NULL literal.
    Judged("c15_schema_evolution", (s, dir) => {
      val c = t(s, dir, "customer")
      // durableChunkFeed appends both generations into ONE dir (the
      // CDC-sink table under schema drift); mtime pinning is
      // irrelevant here (batch read) but harmless
      val tbl = Stage.durableChunkFeed("feed-c15", dir)(Seq(
        c.where(col("c_custkey") % 2 === 0)
          .select("c_custkey", "c_name", "c_acctbal"),
        c.where(col("c_custkey") % 2 === 1)
          .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")))
      s.read.option("mergeSchema", "true").parquet(tbl)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    },
      // the union schema with v1 rows null-filled
      """SELECT c_custkey, c_name, c_acctbal, CAST(NULL AS VARCHAR)
           AS c_mktsegment
         FROM customer WHERE c_custkey % 2 = 0
         UNION ALL
         SELECT c_custkey, c_name, c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 2 = 1"""),

    // Dead-letter quarantine ([[Debezium.quarantine]]): a feed where
    // some envelopes are truncated mid-JSON (malformed) and some are
    // valid JSON with no `after` image (shape drift) must route every
    // row to exactly one of clean/malformed_json/missing_after — never
    // drop, never crash. The judged frame is the routing scorecard
    // (count + key mass per reason); corruption is keyed on the
    // envelope's OWN extracted key, so the oracle states the outcome
    // directly over customer.
    Judged("c18_dead_letter", (s, dir) => {
      val c = t(s, dir, "customer")
      val env = Debezium.wrap(c, lit("r"), "customer", lit(0L))
        .withColumn("k",
          get_json_object(col("value"), "$.after.c_custkey").cast("long"))
        .withColumn("value",
          when(col("k") % 13 === 0,
            expr("substring(value, 1, length(value) - 5)"))
            .when(col("k") % 17 === 0,
              to_json(struct(lit("r").as("op"), lit(0L).as("ts_ms"))))
            .otherwise(col("value")))
      Debezium.quarantine(env)
        .groupBy("reason")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
    },
      // every row routed to exactly one reason; corruption is modular on
      // the key, so the scorecard is stated directly over customer
      """SELECT CASE WHEN c_custkey % 13 = 0 THEN 'malformed_json'
                     WHEN c_custkey % 17 = 0 THEN 'missing_after'
                     ELSE 'clean' END AS reason,
                count(*) AS n, CAST(sum(c_custkey) AS BIGINT) AS sum_k
         FROM customer GROUP BY 1"""),

    // K2 alone: last-wins upsert over a natural key on testdata — keep the
    // final lineitem per order (reference: cassandra-init.cql upsert-by-PK)
    // orderCols form a total order over the projected columns so the
    // survivor is deterministic even with duplicate line numbers
    Judged("k2_upsert", (s, dir) =>
      Sinks.upsertLastWins(t(s, dir, "lineitem"),
        keys = Seq("l_orderkey"),
        orderCols = Seq("l_linenumber", "l_partkey", "l_quantity"))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"),
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
         QUALIFY row_number() OVER
           (PARTITION BY l_orderkey
            ORDER BY l_linenumber DESC, l_partkey DESC, l_quantity DESC) = 1"""),

    // K3: the declared five-table schema catalog as an
    // information_schema-style relation (reference: init-db.sql:3-49)
    Judged("k3_catalog", (s, dir) => {
      import s.implicits._
      Catalog.ddlRows.toDF("table_name", "column_name", "data_type", "ordinal")
    },
      s"""SELECT * FROM (VALUES $k3Values)
          AS t(table_name, column_name, data_type, ordinal)"""))
}

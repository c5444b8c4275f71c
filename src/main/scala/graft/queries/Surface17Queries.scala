package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 surface growth: two scale techniques a 100 TB pipeline
  * leans on that the judged surface did not yet exercise explicitly.
  *
  *  - `q106_bloom_semi` — the CROSS-JOB form of the runtime Bloom
  *    filter: q92 proves the optimizer injects `might_contain` inside
  *    one query; here the filter is built by one job
  *    (`df.stat.bloomFilter` over the small side's join key), shipped
  *    as a serialized binary literal, and applied at the big side's
  *    scan by a later job — the pattern a real pipeline uses when the
  *    dimension job and the fact scan are separate applications with a
  *    durable artifact between them. Membership is approximate (false
  *    positives), so an exact semi-join scrubs candidates afterwards —
  *    the judged result is EXACT; the Bloom only prunes the scan.
  *  - `e87_prefix_join` — exact Jaccard-threshold similarity self-join
  *    via AllPairs/PPJoin-style prefix filtering (Bayardo et al.,
  *    WWW'07; Chaudhuri et al., ICDE'06): order each document's token
  *    set by ascending global frequency, emit only the first
  *    n − ceil(τ·n) + 1 tokens, and equi-join on those prefix tokens.
  *    The bound is LOSSLESS for Jaccard ≥ τ (the smallest common token
  *    in the global order sits within both prefixes), so after exact
  *    verification the result equals the all-pairs answer — while at
  *    scale the join only fans out on RARE tokens, never the Zipf head
  *    that makes a naive token join quadratic.
  *
  * Reference parity: the reference's pandas loop (etl.py:1-246) has no
  * joins at all; both entries extend the engine along SURVEY §2.6's
  * LLM-pipeline axis (decontamination semi-joins, near-dup joins).
  */
object Surface17Queries extends QuerySet {
  import Tables._

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // EXPLICIT cross-job Bloom semi-join: March-1996 orders (small
    // side) → driver-built Bloom over o_orderkey → pre-filter the
    // lineitem scan → exact semi-join scrub → per-flag aggregate.
    // At 100 TB the bloom (~77 KB at 2^16 keys / 1% fpp) ships with the
    // plan as a binary constant and prunes non-matching lineitem rows
    // AT THE SCAN, before the exchange the semi-join would otherwise
    // pay on the full fact table. (Past ~10^7 keys the constant should
    // ride an explicit broadcast instead of the task binary — same
    // predicate, different transport.) The in-query `require` proves
    // the predicate reached the plan.
    "q106_bloom_semi" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-03-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select("o_orderkey")
      // expectedNumItems is a capacity bound, not a count — derived
      // from the orders table's parquet FOOTER row count (driver-side
      // metadata read, no job): one month is ≲ 1/84 of the 7-year
      // order span, so total/42 is a ≥2× margin at any sf. The 2^16
      // floor keeps the filter a fixed ~77 KB plan constant at small
      // sf; past ~10^7 keys the capacity (and transport — explicit
      // broadcast, not task binary) should step up with it.
      val cap = math.max(1L << 16, parquetRowCount(s, dir, "orders") / 42)
      val bf = ord.stat.bloomFilter("o_orderkey", cap, 0.01)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      val bfLit = lit(bos.toByteArray)
      val pruned = t(s, dir, "lineitem")
        .where(call_function("bloom_might_contain", bfLit,
          col("l_orderkey")))
      val out = pruned
        .join(ord, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"),
          dsum(col("l_quantity"), 2).as("sum_qty"))
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("might_contain"),
        s"driver-built bloom filter must reach the lineitem scan:\n$plan")
      out
    }),

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
    "e87_prefix_join" -> ((s, dir) => {
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
    }),

    // MATCH_RECOGNIZE-style STRICT-SEQUENCE detection (the CEP
    // primitive Flink CEP / Trino MATCH_RECOGNIZE expose): per user,
    // occurrences of view → click → purchase as three CONSECUTIVE
    // events in (ts, event_id) order with the whole span under 24 h —
    // contiguity is what distinguishes this from q76's eventual-order
    // funnel. Reduction: a lead-chain over one per-user window pass
    // (the pattern is fixed-length, so no NFA state is needed), fully
    // partition-parallel, gap arithmetic in exact epoch micros.
    "q107_match" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"))
        .withColumn("t1", lead(col("event_type"), 1).over(w))
        .withColumn("t2", lead(col("event_type"), 2).over(w))
        .withColumn("ts2", lead(col("ts"), 2).over(w))
        .where(col("event_type") === "view" && col("t1") === "click" &&
          col("t2") === "purchase" &&
          unix_micros(col("ts2")) - unix_micros(col("ts")) <
            lit(86400000000L))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_matches"),
          min(col("ts")).as("first_match_ts"))
    }),

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
    "e88_k_anon" -> ((s, dir) => {
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
    }),

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
    "e89_dp_release" -> ((s, dir) => {
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
    }),

    // L-DIVERSITY audit (Machanavalli et al., 2007) — k-anonymity's
    // companion: an equivalence class can be large yet still leak if
    // every member shares the same SENSITIVE value. Classes here are
    // (source, 200-char length band) over documents; the sensitive
    // attribute is lang; the curve reports, for l ∈ {2, 3}, how many
    // classes carry fewer than l distinct languages and how many
    // documents sit in them. Two aggregates total (distinct-per-class,
    // then the curve over the tiny class frame), both map-side-
    // combining; integer-exact throughout.
    "e90_l_diversity" -> ((s, dir) => {
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
    }),

    // CORPUS SNAPSHOT DIFF — the delta audit a crawl refresh runs
    // before reprocessing: full outer join of two corpus snapshots on
    // doc id, each row classified added / removed / modified /
    // unchanged, where "modified" compares constant-width md5
    // FINGERPRINTS, never document text (at 100 TB the join and the
    // compare both move 32-byte keys — text stays at rest). The two
    // snapshots here derive deterministically from the fixture (v1
    // drops doc_id ≡ 3 mod 11, v2 drops ≡ 5 mod 13 and rewrites
    // ≡ 0 mod 7). One hash exchange per side on doc_id; with both
    // snapshots bucketed by doc_id (q86's layout) the join is
    // exchange-free. Judged frame = per-class counts + id-range
    // evidence.
    "e91_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v1 = docs.where(col("doc_id") % 11 =!= 3)
        .select(col("doc_id").as("id1"), md5(col("text")).as("fp1"))
      val v2 = docs.where(col("doc_id") % 13 =!= 5)
        .select(col("doc_id").as("id2"),
          md5(when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" [refreshed]")))
            .otherwise(col("text"))).as("fp2"))
      v1.join(v2, col("id1") === col("id2"), "full_outer")
        .select(
          when(col("id1").isNull, lit("added"))
            .when(col("id2").isNull, lit("removed"))
            .when(col("fp1") =!= col("fp2"), lit("modified"))
            .otherwise(lit("unchanged")).as("status"),
          coalesce(col("id1"), col("id2")).as("doc_id"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    }),

    // EXACT DYADIC EWMA — time-series smoothing with α = 1/2 over a
    // bounded 16-event lookback, the sensor/clickstream baseline a
    // monitoring pipeline keeps per key. EWMA is a RECURSION (no
    // declarative window recursion exists), but α = 1/2 over a
    // bounded frame has a closed form in exact integers: value
    // quantized to micro-units, frame collected oldest→newest, term
    // j weighted 2^(j-1) — newest dominates, num ≤ 2^15·16·|v|_fp
    // fits a long, den = 2^n − 1. One partition-parallel window pass
    // per user in (ts, event_id) order; no float enters the judged
    // num/den, and the ratio is a single IEEE division of two exact
    // longs — identical in any engine. Null values are excluded
    // BEFORE the frame (engines disagree on nulls in collected
    // lists), matching how a monitor skips failed readings.
    "e92_ewma" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-15, org.apache.spark.sql.expressions.Window.currentRow)
      events(s, dir)
        .where(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"),
          // floor(v·1e6), never a decimal cast: the double multiply
          // and floor are IEEE-identical in any engine, while decimal
          // rounding MODES (half-up vs half-even) are not
          floor(col("value") * lit(1000000.0)).cast("long").as("v_fp"))
        .withColumn("lst", collect_list(col("v_fp")).over(w))
        .select(col("event_id"), col("user_id"),
          size(col("lst")).as("n_window"),
          aggregate(col("lst"),
            struct(lit(0L).as("s"), lit(1L).as("w")),
            (acc, x) => struct((acc("s") + x * acc("w")).as("s"),
              (acc("w") * lit(2L)).as("w")),
            acc => acc("s")).as("ewma_num"),
          (expr("shiftleft(CAST(1 AS BIGINT), size(lst))") - 1)
            .as("ewma_den"))
        .withColumn("ewma",
          col("ewma_num").cast("double") /
            col("ewma_den").cast("double") / lit(1000000.0))
    }),

    // BURST DETECTION — the rate-ratio anomaly rule a monitoring
    // pipeline evaluates per key: an event is a burst point when its
    // trailing 1 h event count, scaled to the 24 h horizon, is ≥ 3×
    // its trailing 24 h count (and the hour has ≥ 5 events — no
    // bursts from silence). Two RANGE frames over exact epoch micros
    // on ONE window pass (same exchange, same sort — RANGE peers make
    // tie-breaks irrelevant for counts); the ratio test is exact
    // integer cross-multiplication, never a rate division. Judged
    // per-user rollup: events, burst points, peak trailing-hour
    // count.
    "e93_burst" -> ((s, dir) => {
      val base = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tu"))
      val w1 = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("tu")
        .rangeBetween(-3600000000L, 0L)
      val w24 = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("tu")
        .rangeBetween(-86400000000L, 0L)
      base
        .withColumn("n1h", count(lit(1)).over(w1))
        .withColumn("n24h", count(lit(1)).over(w24))
        .withColumn("is_burst",
          col("n1h") * 24 >= col("n24h") * 3 && col("n1h") >= 5)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("is_burst"), 1L).otherwise(0L)).as("n_burst"),
          max(col("n1h")).as("peak_1h"))
    })
  )

  val oracles: Map[String, String] = Map(
    // the bloom is a pruning artifact only — the judged answer is the
    // plain exact semi-join aggregate, decimal-exact on quantity
    "q106_bloom_semi" ->
      """SELECT l_returnflag, count(*) AS n_lines,
                CAST(sum(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE)
                  AS sum_qty
         FROM lineitem
         WHERE l_orderkey IN
           (SELECT o_orderkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-03-01'
              AND o_orderdate < TIMESTAMP '1996-04-01')
         GROUP BY l_returnflag""",
    // oracle computes the UNFILTERED all-pairs answer — prefix
    // filtering is lossless, so the engines must agree exactly
    "e87_prefix_join" ->
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
          WHERE 3 * n_common >= sa.n + sb.n""",
    // strict contiguity: the same lead-chain in the oracle engine;
    // both sides tie-break the per-user order on (ts, event_id)
    "q107_match" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP)
             AS ts, event_id FROM events),
         l AS (SELECT user_id, event_type, ts,
                 lead(event_type, 1) OVER w AS t1,
                 lead(event_type, 2) OVER w AS t2,
                 lead(ts, 2) OVER w AS ts2
               FROM e
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, count(*) AS n_matches,
           min(ts) AS first_match_ts
         FROM l
         WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
           AND epoch_us(ts2) - epoch_us(ts) < 86400000000
         GROUP BY user_id""",
    // the k-curve: classes smaller than k and the population share
    // inside them, integer-exact (cents banding, ppm floor division)
    "e88_k_anon" ->
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
           CAST((cr10 * 1000000) // n_cust AS BIGINT) FROM t""",
    // identical integer-only geometric-mechanism arithmetic: 48-bit
    // md5 uniform, t = 3u, noise from length(bin(...)) bit lengths —
    // no float ever enters the judged frame (2^49 = 562949953421312,
    // 3·2^48 = 844424930131968)
    "e89_dp_release" ->
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
          FROM z""",
    "e90_l_diversity" ->
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
          SELECT 3, n_classes, cb3, dr3 FROM t""",
    // same synthetic snapshots, same fingerprint classification
    "e91_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id AS id1, md5(text) AS fp1
            FROM documents WHERE doc_id % 11 <> 3),
          v2 AS (SELECT doc_id AS id2,
                   md5(CASE WHEN doc_id % 7 = 0
                     THEN text || ' [refreshed]' ELSE text END) AS fp2
            FROM documents WHERE doc_id % 13 <> 5),
          d AS (SELECT CASE WHEN id1 IS NULL THEN 'added'
                            WHEN id2 IS NULL THEN 'removed'
                            WHEN fp1 <> fp2 THEN 'modified'
                            ELSE 'unchanged' END AS status,
                       COALESCE(id1, id2) AS doc_id
                FROM v1 FULL OUTER JOIN v2 ON id1 = id2)
          SELECT status, count(*) AS n_docs,
                 min(doc_id) AS min_id, max(doc_id) AS max_id
          FROM d GROUP BY status""",
    // same micro-unit quantization, same oldest→newest dyadic
    // weighting via the indexed list lambda; num cast from HUGEINT
    "e92_ewma" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                      CAST(floor(value * 1000000.0) AS BIGINT) AS v_fp
            FROM events WHERE value IS NOT NULL),
          w AS (SELECT event_id, user_id,
                  list(v_fp) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS lst
                FROM e)
          SELECT event_id, user_id,
            CAST(len(lst) AS INTEGER) AS n_window,
            CAST(list_sum(list_transform(lst,
              (x, i) -> x * (1 << (i - 1)))) AS BIGINT) AS ewma_num,
            CAST((1 << len(lst)) - 1 AS BIGINT) AS ewma_den,
            CAST(list_sum(list_transform(lst,
              (x, i) -> x * (1 << (i - 1)))) AS DOUBLE)
              / CAST((1 << len(lst)) - 1 AS DOUBLE) / 1000000.0 AS ewma
          FROM w""",
    // same two RANGE frames over epoch micros, same integer
    // cross-multiplied ratio rule
    "e93_burst" ->
      """WITH e AS (SELECT user_id,
              epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
          f AS (SELECT user_id,
              count(*) OVER (PARTITION BY user_id ORDER BY tu
                RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                AS n1h,
              count(*) OVER (PARTITION BY user_id ORDER BY tu
                RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
                AS n24h
            FROM e)
          SELECT user_id, count(*) AS n_events,
            CAST(sum(CASE WHEN n1h * 24 >= n24h * 3 AND n1h >= 5
              THEN 1 ELSE 0 END) AS BIGINT) AS n_burst,
            CAST(max(n1h) AS BIGINT) AS peak_1h
          FROM f GROUP BY user_id"""
  )
}

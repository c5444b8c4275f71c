package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.SparkEntry
import graft.operators.Quantiles

/** Graph analytics over event and duplicate graphs: triangles,
  * PageRank, HITS, modularity, assortativity and recursive closure.
  */
object GraphQueries extends Family {
  import Tables._

  /** PageRank fixed-point scale: ranks live in parts-per-10^12. */
  private val prS = 1000000000000L

  private val prIters = 5

  val judged: Seq[Judged] = Seq(
    // e47_dup_triangles: triangle census of the near-dup candidate graph —
    // the structural audit that distinguishes tight duplicate cliques from
    // chains before cluster collapse. Distributed triangle enumeration over
    // canonically-ordered edges (id_a < id_b), the standard two-join shape
    // that never materializes all pairs.
    //
    // Triangle census of the simhash candidate graph: edges are the
    // judged e32 near-dup pairs (already canonical id_a < id_b, so each
    // triangle a<b<c is enumerated exactly once: p1=(a,b) ⋈ p2=(b,c)
    // closed by p3=(a,c)). Wedge join keyed on the shared vertex, edge
    // set persisted once and read three times — at corpus scale this is
    // the textbook distributed triangle count (no all-pairs stage; the
    // wedge exchange is the only data-proportional shuffle). The output
    // also carries edge/vertex counts, so the judged row pins the whole
    // graph shape, not just the census
    Judged("e47_dup_triangles", (s, dir) => {
      val pairs = SparkEntry.queries("e32_simhash_pairs")(s, dir)
        .select("id_a", "id_b").persist()
      val tri = pairs.as("p1")
        .join(pairs.as("p2"), col("p1.id_b") === col("p2.id_a"))
        .join(pairs.as("p3"), col("p3.id_a") === col("p1.id_a") &&
          col("p3.id_b") === col("p2.id_b"))
        .agg(count(lit(1)).as("n_triangles"))
      val edges = pairs.agg(count(lit(1)).as("n_edges"))
      val nodes = pairs.select(col("id_a").as("v"))
        .unionAll(pairs.select(col("id_b").as("v")))
        .agg(count_distinct(col("v")).as("n_nodes"))
      tri.crossJoin(broadcast(edges)).crossJoin(broadcast(nodes))
    },
      s"""WITH pr AS (SELECT id_a, id_b
              FROM (${DedupQueries.simhashPairsSql})),
          tri AS (SELECT count(*) AS n_triangles
                  FROM pr p1
                  JOIN pr p2 ON p1.id_b = p2.id_a
                  JOIN pr p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b),
          ed AS (SELECT count(*) AS n_edges FROM pr),
          nd AS (SELECT count(DISTINCT v) AS n_nodes FROM
                   (SELECT id_a AS v FROM pr
                    UNION ALL SELECT id_b FROM pr))
          SELECT n_triangles, n_edges, n_nodes FROM tri, ed, nd"""),

    // Recursive CTE (Spark 4 UnionLoop): depth of every customer in a
    // synthetic parent tree (parent(k) = k div 2, rooted at 0) —
    // iterative plan, each UnionLoop step a narrow join of the frontier
    // against the broadcast-able parent edge set; depth ≤ log₂(keys).
    Judged("q89_recursive", (s, dir) => {
      t(s, dir, "customer").select("c_custkey")
        .createOrReplaceTempView("q89_cust")
      s.sql("""
        WITH RECURSIVE reach(c_custkey, depth) AS (
          SELECT CAST(0 AS BIGINT) AS c_custkey, 0 AS depth
          UNION ALL
          SELECT c.c_custkey, r.depth + 1
          FROM q89_cust c JOIN reach r ON c.c_custkey DIV 2 = r.c_custkey
          WHERE c.c_custkey > 0)
        SELECT c_custkey, depth FROM reach""")
    },
      // same synthetic parent tree, same reachability semantics
      """WITH RECURSIVE reach(c_custkey, depth) AS (
           SELECT CAST(0 AS BIGINT) AS c_custkey, 0 AS depth
           UNION ALL
           SELECT c.c_custkey, r.depth + 1
           FROM customer c JOIN reach r ON c.c_custkey // 2 = r.c_custkey
           WHERE c.c_custkey > 0)
         SELECT c_custkey, depth FROM reach"""),

    // PageRank over the supplier↔customer fulfillment graph (edges =
    // distinct (customer, supplier) pairs that share an order line,
    // walked in both directions) — the link-analysis op behind
    // web-graph quality weighting in corpus curation (rank a page by
    // who links to it, weight its documents by the rank). Exact
    // integer fixed point: ranks are parts-per-1e12 BIGINTs, each
    // neighbor contribution is rank div degree, damping is
    // (85·sum) div 100 — no float ever enters, so 5 iterations
    // hash-match the oracle's unrolled CTEs exactly. Scale shape:
    // bulk-synchronous iteration, one hash exchange on dst per step
    // (the groupBy); the static edge+degree frame is built once and
    // persisted, ranks are the only thing that moves. The n-node
    // count is the query's one driver-side scalar (a 1-row count)
    Judged("e71_pagerank", (s, dir) => {
      val pairs = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey").cast("string")).as("c"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("s"))
        .distinct()
      // static per-iteration join side, a durable checkpoint (once per
      // sf × testdata fingerprint): every iteration (and the node
      // count) is a narrow scan of the (src, dst, od) frame — nothing
      // stays pinned in executor memory after the query, and on a
      // cluster the stage is durable storage
      val edgesD = Stage.durableFrame(s, "pr-edges", dir) {
        val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
          .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
        val deg = edges.groupBy("src").agg(count(lit(1)).as("od"))
        edges.join(deg, "src")
      }
      val n = edgesD.select(countDistinct(col("src"))).head().getLong(0)
      val tele = (15L * (prS / n)) / 100L
      var ranks = edgesD.select(col("src").as("node")).distinct()
        .withColumn("r", lit(prS / n))
      for (_ <- 1 to prIters) {
        ranks = edgesD.join(ranks, edgesD("src") === ranks("node"))
          .select(col("dst"), Quantiles.ldiv(col("r"), col("od")).as("contrib"))
          .groupBy("dst")
          .agg((lit(tele) +
            Quantiles.ldiv(lit(85L) * sum(col("contrib")), 100L)).as("r"))
          .withColumnRenamed("dst", "node")
      }
      ranks.orderBy(col("r").desc, col("node")).limit(20)
        .select(col("node"), col("r").as("rank_fp"))
    },
      {
      val iters = (1 to prIters).map { k =>
        s"""r$k AS (
             SELECT e.dst AS node,
               CAST((15 * ($prS // nn.n)) // 100
                 + (85 * sum(r.r // e.od)) // 100 AS BIGINT) AS r
             FROM edges e JOIN r${k - 1} r ON e.src = r.node, nn
             GROUP BY e.dst, nn.n)"""
      }.mkString(",\n          ")
      s"""WITH pairs AS (
            SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
                   's' || CAST(l_suppkey AS VARCHAR) AS s
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          e0 AS (SELECT c AS src, s AS dst FROM pairs
                 UNION ALL SELECT s, c FROM pairs),
          deg AS (SELECT src, CAST(count(*) AS BIGINT) AS od
                  FROM e0 GROUP BY src),
          edges AS (SELECT e0.src, e0.dst, deg.od
                    FROM e0 JOIN deg ON e0.src = deg.src),
          nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
          r0 AS (SELECT src AS node, CAST($prS // nn.n AS BIGINT) AS r
                 FROM deg, nn),
          $iters
          SELECT node, r AS rank_fp FROM r$prIters
          ORDER BY r DESC, node LIMIT 20"""
    }),

    // `e145_hits` — HITS hubs-and-authorities (Kleinberg) over the
    // bipartite user→item click graph (item = props.k): e71 ranks pages by
    // PageRank on the dup graph; HITS is the query-dependent twin with two
    // mutually-recursive scores — here two exact unrolled iterations (h₀ =
    // 1 ⇒ a₁ = in-weight ⇒ h₁ ⇒ a₂) with integer sufficient statistics,
    // normalized once at the end. Each iteration is one equi-join + groupBy
    // on the edge list (the item-score side stays broadcast-small); at
    // extreme scale the integer scores widen to DECIMAL(38,0) without
    // changing shape.
    //
    // HITS, two exact iterations. The edge list (user, item, weight)
    // is the only corpus-sized frame; it is materialized once and
    // reused by all three score joins. Item scores are |items| rows
    // (broadcast); the user-score join shuffles edges on user_id once.
    Judged("e145_hits", (s, dir) => {
      val edges = events(s, dir)
        .where(col("event_type") === "click")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
        .where(col("item").isNotNull)
        .groupBy("user_id", "item").agg(count(lit(1)).as("w"))
        .localCheckpoint(true) // E rows; feeds a1, h1, a2
      val a1 = edges.groupBy("item").agg(sum(col("w")).as("a1"))
      val h1 = edges.join(broadcast(a1), "item")
        .groupBy("user_id").agg(sum(col("w") * col("a1")).as("h1"))
      val a2 = edges.join(h1, "user_id")
        .groupBy("item").agg(sum(col("w") * col("h1")).as("a2"))
        .localCheckpoint(true) // |items| rows; read by total + report
      val tot = broadcast(a2.agg(sum(col("a2")).as("t_a2")))
      a2.join(broadcast(a1), "item").crossJoin(tot)
        .select(col("item"), col("a1"), col("a2"),
          round(d(col("a2")) / col("t_a2"), 8).as("auth_frac"))
        .orderBy(col("a2").desc, col("item")).limit(10)
    },
      """WITH e AS (SELECT user_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS item,
           CAST(count(*) AS BIGINT) AS w
           FROM events WHERE event_type = 'click'
             AND json_extract(props, '$.k') IS NOT NULL
           GROUP BY 1, 2),
         a1 AS (SELECT item, CAST(SUM(w) AS BIGINT) AS a1
           FROM e GROUP BY 1),
         h1 AS (SELECT user_id, CAST(SUM(w * a1) AS BIGINT) AS h1
           FROM e JOIN a1 USING (item) GROUP BY 1),
         a2 AS (SELECT item, CAST(SUM(w * h1) AS BIGINT) AS a2
           FROM e JOIN h1 USING (user_id) GROUP BY 1),
         t AS (SELECT CAST(SUM(a2) AS BIGINT) AS t_a2 FROM a2)
         SELECT item, a1, a2,
           round(CAST(a2 AS DOUBLE) / t_a2, 8) AS auth_frac
         FROM a2 JOIN a1 USING (item), t
         ORDER BY a2 DESC, item LIMIT 10"""),

    // `e149_modularity` — Newman modularity of the near-dup graph under the
    // SOURCE partition (within-source vs cross-source duplication
    // concentration; e29 reports per-source RATES, this is the graph-level
    // grade). Exact integer Σ(4·m·m_c − D_c²) over one division by 4m²;
    // zero corpus passes off the staged pairs.
    //
    // Newman modularity of the near-dup graph under the SOURCE
    // partition: are duplicate edges concentrated within sources
    // (mirror/boilerplate duplication) or spread across them
    // (syndication)? Q = Σ_c (m_c/m − (D_c/2m)²), held as the exact
    // integer Σ_c (4·m·m_c − D_c²) over one final division by 4m².
    // Zero corpus passes: the edge list is the judged detector's own
    // staged frame; degrees and within-counts are pair-frame re-aggs.
    // e29 reports per-source dup RATES; this is the graph-level
    // within-vs-across concentration grade.
    Judged("e149_modularity", (s, dir) => {
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val lab = SparkEntry.queries("e1_minhash_pairs")(s, dir)
        .select("id_a", "id_b")
        .join(src.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(src.as("sb"), col("id_b") === col("sb.doc_id"))
        .select(col("sa.source").as("src_a"), col("sb.source").as("src_b"))
        .localCheckpoint(true) // pair-frame sized; read by 3 re-aggs
      val m = broadcast(lab.agg(count(lit(1)).as("n_edges")))
      val dsum = lab
        .select(explode(array(col("src_a"), col("src_b"))).as("src"))
        .groupBy("src").agg(count(lit(1)).as("dc"))
      val within = lab.where(col("src_a") === col("src_b"))
        .groupBy(col("src_a").as("src")).agg(count(lit(1)).as("mc"))
      dsum.join(within, Seq("src"), "left")
        .select(col("dc"), coalesce(col("mc"), lit(0L)).as("mc"))
        .crossJoin(m)
        .agg(max(col("n_edges")).as("n_edges"),
          sum(col("mc")).as("n_within"),
          sum(lit(4L) * col("n_edges") * col("mc") -
            col("dc") * col("dc")).as("q_num"))
        .select(col("n_edges"), col("n_within"), col("q_num"),
          round(d(col("q_num")) /
            (lit(4.0) * d(col("n_edges")) * col("n_edges")), 8)
            .as("modularity"))
    },
      {
      val mh = DedupQueries.minhashPairsSql
      s"""WITH mh AS MATERIALIZED ($mh),
         lab AS (SELECT sa.source AS src_a, sb.source AS src_b
           FROM mh JOIN documents sa ON sa.doc_id = mh.id_a
           JOIN documents sb ON sb.doc_id = mh.id_b),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM lab),
         dsum AS (SELECT src, count(*) AS dc FROM (
             SELECT src_a AS src FROM lab
             UNION ALL SELECT src_b FROM lab) GROUP BY 1),
         w AS (SELECT src_a AS src, count(*) AS mc FROM lab
           WHERE src_a = src_b GROUP BY 1),
         c AS (SELECT CAST(max(n_edges) AS BIGINT) AS n_edges,
             CAST(SUM(COALESCE(mc, 0)) AS BIGINT) AS n_within,
             CAST(SUM(4 * n_edges * COALESCE(mc, 0) - dc * dc)
               AS BIGINT) AS q_num
           FROM dsum LEFT JOIN w USING (src), m)
         SELECT n_edges, n_within, q_num,
           round(CAST(q_num AS DOUBLE) /
             (4.0 * CAST(n_edges AS DOUBLE) * n_edges), 8) AS modularity
         FROM c"""
    }),

    // `e150_assortativity` — Newman degree assortativity of the same graph
    // (Pearson of endpoint degrees over the 2m orientation list):
    // hubs-duplicate-hubs vs template-plus-copies shape, next to e47's
    // triangle census. Three exact integer moments.
    //
    // Degree assortativity of the near-dup graph (Newman's r: the
    // Pearson correlation of endpoint degrees over edge orientations):
    // positive r = hub docs duplicate each other (a boilerplate core),
    // negative = hubs attach to leaves (template + one-off copies) —
    // the graph-shape diagnostic next to e47's triangle census. Exact
    // integer moments over the 2m orientation list; by symmetry
    // Σx = Σy and Σx² = Σy², so three sums suffice.
    Judged("e150_assortativity", (s, dir) => {
      val pairs = SparkEntry.queries("e1_minhash_pairs")(s, dir)
        .select("id_a", "id_b").localCheckpoint(true) // staged-frame read
      val deg = pairs
        .select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val o = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionAll(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      val xy = o
        .join(deg.select(col("id").as("u"), col("deg").as("dx")), "u")
        .join(deg.select(col("id").as("v"), col("deg").as("dy")), "v")
        .agg(count(lit(1)).as("n_orientations"),
          sum(col("dx")).as("sx"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dx") * col("dy")).as("sxy"))
      val den = d(col("n_orientations")) * col("sxx") -
        d(col("sx")) * col("sx")
      xy.select(col("n_orientations"), col("sx"), col("sxx"), col("sxy"),
        round(when(den =!= 0.0,
          (d(col("n_orientations")) * col("sxy") -
            d(col("sx")) * col("sx")) / den), 8).as("assortativity"))
    },
      {
      val mh = DedupQueries.minhashPairsSql
      val den = "CAST(n_orientations AS DOUBLE) * sxx - " +
        "CAST(sx AS DOUBLE) * sx"
      s"""WITH mh AS MATERIALIZED ($mh),
         deg AS (SELECT id, count(*) AS deg FROM (
             SELECT id_a AS id FROM mh
             UNION ALL SELECT id_b FROM mh) GROUP BY 1),
         o AS (SELECT id_a AS u, id_b AS v FROM mh
           UNION ALL SELECT id_b, id_a FROM mh),
         xy AS (SELECT du.deg AS dx, dv.deg AS dy
           FROM o JOIN deg du ON du.id = o.u
           JOIN deg dv ON dv.id = o.v),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_orientations,
             CAST(SUM(dx) AS BIGINT) AS sx,
             CAST(SUM(dx * dx) AS BIGINT) AS sxx,
             CAST(SUM(dx * dy) AS BIGINT) AS sxy
           FROM xy)
         SELECT n_orientations, sx, sxx, sxy,
           round(CASE WHEN ($den) <> 0.0 THEN
             (CAST(n_orientations AS DOUBLE) * sxy -
               CAST(sx AS DOUBLE) * sx) / ($den) END, 8)
             AS assortativity
         FROM ag"""
    }),

    // `e148_power_iteration` — top principal component by two exact
    // unrolled power-iteration steps on the centered embedding column, with
    // λ₁ and the explained-variance share against the exact trace: the
    // DIRECTIONAL companion of e139 (anisotropy says the vectors share a
    // direction; this names the direction and how much variance it owns —
    // the spectral-collapse audit). Per-dim accumulators micro-quantized to
    // longs (order-independent), the 64-cell iterates assembled in-plan,
    // three linear corpus passes.
    //
    // PCA power iteration — the DIRECTIONAL companion of e139's
    // anisotropy screen (e139 says "vectors share a direction"; this
    // names it): two exact unrolled iterations of v ← Σ(x−μ)((x−μ)·v)
    // from v₀ = 1⃗, per-dim accumulators micro-quantized to longs so
    // every cross-row sum is order-independent, the 64-cell vectors
    // assembled IN-PLAN (sort_array'd collect_list — no driver
    // collect), λ₁ from the last un-normalized image's norm and the
    // explained-variance share against the exact-quantized trace.
    // Three linear corpus passes (dim sums; two scoring passes), all
    // map-side-combinable on 64 keys.
    Judged("e148_power_iteration", (s, dir) => {
      import graft.operators.Similarity
      val corpus = t(s, dir, "embeddings").where(col("vec_id") =!= 0)
      val nF = broadcast(corpus.agg(count(lit(1)).as("n")))
      val xD = (i: org.apache.spark.sql.Column) => i.cast("double")
      val dimSums = corpus
        .select(posexplode(col("embedding")).as(Seq("p0", "v")))
        .select(col("p0"),
          floor(xD(col("v")) * lit(1e7)).cast("long").as("q"),
          floor(xD(col("v")) * xD(col("v")) * lit(1e7)).cast("long").as("q2"))
        .groupBy("p0").agg(sum(col("q")).as("sq"), sum(col("q2")).as("sq2"))
      def foldSum(arr: org.apache.spark.sql.Column) =
        aggregate(arr, lit(0.0), (a, x) => a + x)
      // 1-row frame: μ (array), per-dim Σx² (array), n, cv1 = μ·1⃗
      val muRow = dimSums
        .agg(sort_array(collect_list(struct(col("p0"), col("sq"),
          col("sq2")))).as("ps"))
        .crossJoin(nF)
        .select(
          transform(col("ps"), p => p.getField("sq").cast("double")
            / lit(1e7) / col("n").cast("double")).as("mu"),
          transform(col("ps"), p => p.getField("sq2").cast("double")
            / lit(1e7)).as("sx2"),
          col("n"))
        .withColumn("cv", foldSum(col("mu")))
        .localCheckpoint(true)
      // one scoring pass: s = x·v − μ·v per row, then per-dim
      // quantized Σ(x_j − μ_j)·s. vExpr(prev) gives the direction the
      // pass scores against (1⃗ for iteration 1, v₁ for iteration 2).
      def qPass(prev: DataFrame, sExpr: org.apache.spark.sql.Column): DataFrame =
        corpus.crossJoin(broadcast(prev))
          .select(col("embedding"), col("mu"), sExpr.as("s"))
          .select(posexplode(transform(col("embedding"), (x, i) =>
            floor((xD(x) - element_at(col("mu"), i + 1)) * col("s") *
              lit(1e6)).cast("long"))).as(Seq("p0", "t")))
          .groupBy("p0").agg(sum(col("t")).as("q"))
      def assemble(qs: DataFrame, prev: DataFrame): DataFrame =
        qs.agg(sort_array(collect_list(struct(col("p0"), col("q"))))
            .as("ps"))
          .crossJoin(broadcast(prev.drop("cv")))
          .select(col("mu"), col("sx2"), col("n"),
            transform(col("ps"), p => p.getField("q").cast("double")
              / lit(1e6)).as("vq"))
          .withColumn("nrm", sqrt(foldSum(transform(col("vq"),
            x => x * x))))
          .withColumn("v", transform(col("vq"), x => x / col("nrm")))
          .withColumn("cv", foldSum(zip_with(col("mu"), col("v"),
            (a, b) => a * b)))
          .localCheckpoint(true)
      val s1 = foldSum(transform(col("embedding"), x => xD(x))) - col("cv")
      val v1Row = assemble(qPass(muRow, s1), muRow)
      val s2 = Similarity.dot(col("embedding"), col("v")) - col("cv")
      val q2 = qPass(v1Row, s2).localCheckpoint(true) // 64 rows, read 2×
      val fin = q2
        .agg(sort_array(collect_list(struct(col("p0"), col("q")))).as("ps"))
        .crossJoin(broadcast(v1Row.select("mu", "sx2", "n")))
        .select(col("n"),
          sqrt(foldSum(transform(col("ps"), p =>
            (p.getField("q").cast("double") / lit(1e6)) *
              (p.getField("q").cast("double") / lit(1e6))))).as("nrm2"),
          (foldSum(col("sx2")) - col("n").cast("double") *
            foldSum(zip_with(col("mu"), col("mu"), (a, b) => a * b)))
            .as("tr_num"))
      q2.crossJoin(broadcast(fin))
        .select((col("p0") + 1).cast("long").as("pos"),
          col("q").as("loading_q"),
          round((d(col("q")) / lit(1e6)) / col("nrm2"), 8).as("loading"),
          round(col("nrm2") / (d(col("n")) - lit(1.0)), 8).as("lambda1"),
          round(col("nrm2") / col("tr_num"), 8).as("explained_frac"))
        .orderBy(col("pos"))
    },
      {
      def foldD(body: String) =
        s"""list_reduce(list_transform(generate_series(1, 64),
            fi -> $body), (acc, x) -> acc + x)"""
      s"""WITH nn AS (SELECT count(*) AS n FROM embeddings
           WHERE vec_id <> 0),
         ds AS (SELECT g.i AS pos,
             SUM(CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 10000000.0)
               AS BIGINT)) AS sq,
             SUM(CAST(floor(CAST(embedding[g.i] AS DOUBLE) *
               CAST(embedding[g.i] AS DOUBLE) * 10000000.0)
               AS BIGINT)) AS sq2
           FROM embeddings, generate_series(1, 64) AS g(i)
           WHERE vec_id <> 0 GROUP BY 1),
         mu AS (SELECT n,
             list(CAST(sq AS DOUBLE) / 10000000.0 / CAST(n AS DOUBLE)
               ORDER BY pos) AS mu,
             list(CAST(sq2 AS DOUBLE) / 10000000.0 ORDER BY pos) AS sx2
           FROM ds, nn GROUP BY n),
         c1 AS (SELECT n, mu, sx2, ${foldD("m.mu[fi]")} AS cv
           FROM mu m),
         q1 AS (SELECT g.i AS pos,
             SUM(CAST(floor((CAST(e.embedding[g.i] AS DOUBLE) -
               m.mu[g.i]) *
               (${foldD("CAST(e.embedding[fi] AS DOUBLE)")} - m.cv) *
               1000000.0) AS BIGINT)) AS q
           FROM embeddings e, c1 m, generate_series(1, 64) AS g(i)
           WHERE e.vec_id <> 0 GROUP BY 1),
         v1 AS (SELECT list(CAST(q AS DOUBLE) / 1000000.0 ORDER BY pos)
             AS vq FROM q1),
         vn AS (SELECT vq, sqrt(${foldD("v.vq[fi] * v.vq[fi]")}) AS nrm
           FROM v1 v),
         vv AS (SELECT list_transform(vq, x -> x / nrm) AS v FROM vn),
         c2 AS (SELECT m.n, m.mu, m.sx2, v.v,
             ${foldD("m.mu[fi] * v.v[fi]")} AS cv
           FROM mu m, vv v),
         q2 AS (SELECT g.i AS pos,
             SUM(CAST(floor((CAST(e.embedding[g.i] AS DOUBLE) -
               m.mu[g.i]) *
               (${foldD("CAST(e.embedding[fi] AS DOUBLE) * m.v[fi]")} -
                 m.cv) * 1000000.0) AS BIGINT)) AS q
           FROM embeddings e, c2 m, generate_series(1, 64) AS g(i)
           WHERE e.vec_id <> 0 GROUP BY 1),
         v2 AS (SELECT list(CAST(q AS DOUBLE) / 1000000.0 ORDER BY pos)
             AS vq2 FROM q2),
         fin AS (SELECT m.n,
             sqrt(${foldD("w.vq2[fi] * w.vq2[fi]")}) AS nrm2,
             (${foldD("m.sx2[fi]")} - CAST(m.n AS DOUBLE) *
               ${foldD("m.mu[fi] * m.mu[fi]")}) AS tr_num
           FROM mu m, v2 w)
         SELECT CAST(q2.pos AS BIGINT) AS pos,
           CAST(q2.q AS BIGINT) AS loading_q,
           round((CAST(q2.q AS DOUBLE) / 1000000.0) / f.nrm2, 8)
             AS loading,
           round(f.nrm2 / (CAST(f.n AS DOUBLE) - 1.0), 8) AS lambda1,
           round(f.nrm2 / f.tr_num, 8) AS explained_frac
         FROM q2, fin f ORDER BY pos"""
    }))
}

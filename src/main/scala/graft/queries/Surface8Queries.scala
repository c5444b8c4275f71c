package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Eighth tranche (round 7c): robust statistics and dedup-graph
  * analytics over the corpus.
  *
  *  - e45_mad: median absolute deviation — the robust dispersion number
  *    a curation run reports per slice (outlier-insensitive, unlike
  *    stddev). Exercises the scale-safe exact-quantile operator twice,
  *    chained through a broadcast join.
  *  - e47_dup_triangles: triangle census of the near-dup candidate
  *    graph — the structural audit that distinguishes tight duplicate
  *    cliques from chains before cluster collapse. Distributed triangle
  *    enumeration over canonically-ordered edges (id_a < id_b), the
  *    standard two-join shape that never materializes all pairs.
  */
object Surface8Queries extends QuerySet {
  import Tables._

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MAD per language: median of |n_chars − median(n_chars)|, both
    // medians interpolated (percentile_cont semantics) and exact — on
    // integer inputs every intermediate is a multiple of 1/4, so the
    // doubles are bit-identical on any engine at any parallelism. Plan:
    // two orderStats histogram passes (hash exchange each) + one
    // broadcast join of the 5-row median frame onto the fact scan —
    // nothing sorts or buffers a whole group
    "e45_mad" -> ((s, dir) => {
      import graft.operators.Quantiles._
      def lerp(lo: String, hi: String): Column =
        col(lo).cast("double") + fracAt(col("n_total"), 1, 2) *
          (col(hi).cast("double") - col(lo).cast("double"))
      val half = Seq[(String, Column => Column)](
        "lo" -> (c => loRank(c, 1, 2)), "hi" -> (c => hiRank(c, 1, 2)))
      val docs = t(s, dir, "documents").select(col("lang"), col("n_chars"))
      val med = orderStats(docs, Seq("lang"), "n_chars", half)
        .select(col("lang"), lerp("lo", "hi").as("median_chars"))
      val dev = docs.join(broadcast(med), "lang")
        .select(col("lang"), col("median_chars"),
          abs(col("n_chars").cast("double") - col("median_chars")).as("dev"))
      orderStats(dev, Seq("lang", "median_chars"), "dev", half)
        .select(col("lang"), col("median_chars"),
          lerp("lo", "hi").as("mad"), col("n_total").as("n_docs"))
    }),

    // Triangle census of the simhash candidate graph: edges are the
    // judged e32 near-dup pairs (already canonical id_a < id_b, so each
    // triangle a<b<c is enumerated exactly once: p1=(a,b) ⋈ p2=(b,c)
    // closed by p3=(a,c)). Wedge join keyed on the shared vertex, edge
    // set persisted once and read three times — at corpus scale this is
    // the textbook distributed triangle count (no all-pairs stage; the
    // wedge exchange is the only data-proportional shuffle). The output
    // also carries edge/vertex counts, so the judged row pins the whole
    // graph shape, not just the census
    "e47_dup_triangles" -> ((s, dir) => {
      val pairs = Surface4Queries.all("e32_simhash_pairs")(s, dir)
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
    }))

  val oracles: Map[String, String] = Map(
    "e45_mad" ->
      """WITH med AS (SELECT lang,
             quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS median_chars
           FROM documents GROUP BY lang),
          dv AS (SELECT d.lang, median_chars,
                   abs(CAST(n_chars AS DOUBLE) - median_chars) AS dev
                 FROM documents d JOIN med USING (lang))
          SELECT lang, median_chars, quantile_cont(dev, 0.5) AS mad,
            count(*) AS n_docs
          FROM dv GROUP BY lang, median_chars""",
    "e47_dup_triangles" ->
      s"""WITH pr AS (SELECT id_a, id_b
              FROM (${Surface4Queries.oracles("e32_simhash_pairs")})),
          tri AS (SELECT count(*) AS n_triangles
                  FROM pr p1
                  JOIN pr p2 ON p1.id_b = p2.id_a
                  JOIN pr p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b),
          ed AS (SELECT count(*) AS n_edges FROM pr),
          nd AS (SELECT count(DISTINCT v) AS n_nodes FROM
                   (SELECT id_a AS v FROM pr
                    UNION ALL SELECT id_b FROM pr))
          SELECT n_triangles, n_edges, n_nodes FROM tri, ed, nd""")
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query naming: p_ and s1_ prefixes are transform+source parity
  * (SURVEY.md §2.1, §2.3); c_ and k_ are the CDC+sink surface (§2.2,
  * §2.4); q_ is the relational surface (§2.5-2.6).
  */
object SparkEntry {

  /** Flagship query; driver smoke-checks rows>0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    queries("q1_agg")(spark, dir)
  }

  /** Every judged query family, listed once. */
  val families: Seq[Family] = Seq(
    TransformQueries, CdcQueries, StreamingQueries, RelationalQueries,
    TpchQueries, StatisticsQueries, InferenceQueries, TextQueries,
    TokenizerQueries, DedupQueries, SimilarityQueries, MultimodalQueries,
    CorpusQueries, SketchQueries, GraphQueries)

  /** Every judged query, each name once. */
  lazy val judged: Seq[Judged] = distinct(families.flatMap(_.judged))

  /** One entry per implemented operator from SURVEY.md §2. Each plan
    * registers the native functions on its session before it builds,
    * so a plan analyzes the same on any session.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    judged.map { j =>
      j.name -> { (s: SparkSession, dir: String) =>
        functions.GraftFunctions.register(s)
        j.plan(s, dir)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  lazy val oracleSql: Map[String, String] =
    judged.map(j => j.name -> j.oracle).toMap

  /** `js` unchanged; a name defined twice throws instead of letting the
    * later entry shadow the earlier one.
    */
  private[graft] def distinct(js: Seq[Judged]): Seq[Judged] = {
    val twice = js.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(twice.isEmpty,
      s"judged query names defined twice: ${twice.toSeq.sorted.mkString(", ")}")
    js
  }
}

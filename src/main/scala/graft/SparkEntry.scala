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

  /** Every judged query object, listed once. */
  val querySets: Seq[QuerySet] = Seq(
    TransformQueries, CdcQueries, RelationalQueries, JoinQueries,
    SqlSurfaceQueries, Surface2Queries, Surface3Queries, Surface4Queries,
    StatsQueries, TextQueries, DedupQueries, SimilarityQueries,
    WindowQueries, MiscQueries, RuntimeQueries, Surface5Queries,
    Surface6Queries, Surface7Queries, Surface8Queries, Surface9Queries,
    Surface10Queries, Surface11Queries, Surface12Queries, Surface13Queries,
    Surface14Queries, Surface15Queries, Surface16Queries, Surface17Queries,
    Surface18Queries, Surface19Queries, Surface20Queries, Surface21Queries,
    Surface22Queries, Surface23Queries, Surface24Queries, Surface25Queries,
    Surface26Queries, Surface27Queries, Surface28Queries, Surface29Queries)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    merged("query", querySets.map(_.all))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  lazy val oracleSql: Map[String, String] =
    merged("oracle", querySets.map(_.oracles))

  /** The union of `maps`; a name defined in two of them throws instead
    * of letting the later map shadow the earlier one.
    */
  private[graft] def merged[V](what: String, maps: Seq[Map[String, V]]): Map[String, V] = {
    val twice = maps.flatMap(_.keys).groupBy(identity)
      .collect { case (k, ks) if ks.size > 1 => k }
    require(twice.isEmpty,
      s"$what names defined in two query objects: ${twice.toSeq.sorted.mkString(", ")}")
    maps.foldLeft(Map.empty[String, V])(_ ++ _)
  }
}

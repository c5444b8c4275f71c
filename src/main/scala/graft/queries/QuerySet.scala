package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One object's judged queries: `all` maps each query name to its
  * plan, `oracles` maps a name to the DuckDB SQL that must give the
  * same result. [[graft.SparkEntry]] lists every set once.
  */
trait QuerySet {
  def all: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}

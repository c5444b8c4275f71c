package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One judged query: its plan over an sf directory, and the DuckDB SQL
  * that must give the same result on the same parquet tables.
  */
final case class Judged(name: String,
                        plan: (SparkSession, String) => DataFrame,
                        oracle: String)

/** The judged queries that compute one kind of thing. The object is the
  * family; [[graft.SparkEntry.families]] lists every family once.
  */
trait Family {
  def judged: Seq[Judged]
}

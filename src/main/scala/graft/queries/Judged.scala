package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One judged query: its plan over an sf directory, and the DuckDB SQL
  * that must give the same result on the same parquet tables.
  */
final case class Judged(name: String,
                        plan: (SparkSession, String) => DataFrame,
                        oracle: String)

object Judged {

  /** A judged query written in SQL: its text is stated once and both
    * engines run it. The plan registers each `<name>.parquet` table of
    * the sf dir it runs on that the text names as a temp view under its
    * own name ([[Tables.names]]; `events` through [[Tables.events]]),
    * so a text reads the tables of that dir and never a view an earlier
    * query left in the session, then runs `text`. The text is written
    * in the dialect both engines parse: `STRING` (which DuckDB takes
    * as `VARCHAR`), `CAST(count(*) AS BIGINT)`, no `DIV` or `//`.
    */
  def sql(name: String, text: String): Judged = sql(name, text, text)

  /** [[sql]] with its own DuckDB `oracle`, for a text whose functions
    * only Spark spells that way.
    */
  def sql(name: String, text: String, oracle: String): Judged =
    Judged(name, SqlText(text), oracle)

  /** The plan of a [[sql]] query, its text kept for inspection. */
  final case class SqlText(text: String)
      extends ((SparkSession, String) => DataFrame) {
    def apply(s: SparkSession, dir: String): DataFrame = {
      // a table the text does not name is not read: registering all of
      // them cost a small query ~0.15 s of reads it never used
      Tables.names(s, dir).filter(mentions).foreach(n =>
        Tables.table(s, dir, n).createOrReplaceTempView(n))
      s.sql(text)
    }

    /** Whether the text holds `n` as a word, in any case. */
    private def mentions(n: String): Boolean =
      s"(?i)\\b${java.util.regex.Pattern.quote(n)}\\b".r
        .findFirstIn(text).isDefined
  }
}

/** The judged queries that compute one kind of thing. The object is the
  * family; [[graft.SparkEntry.families]] lists every family once.
  */
trait Family {
  def judged: Seq[Judged]
}

package graft

import org.apache.spark.sql.functions.col

import graft.functions.SimHashFold
import graft.queries.{Family, Judged, Tables}

/** [[SparkEntry]]'s registry: every family listed once, every judged
  * query a plan and its oracle in one entry, and the two driver maps
  * derived from that one list.
  */
class RegistrySpec extends SparkSpec {
  private def entry(name: String) = Judged(name, (s, _) => s.emptyDataFrame, "SELECT 1")

  test("registry: a name defined in two families throws and names it") {
    val a = new Family { val judged = Seq(entry("q1"), entry("q2")) }
    val b = new Family { val judged = Seq(entry("q3"), entry("q2")) }
    val e = intercept[IllegalArgumentException](
      SparkEntry.distinct(Seq(a, b).flatMap(_.judged)))
    assert(e.getMessage.contains("q2") && !e.getMessage.contains("q1"))
    assert(SparkEntry.distinct(a.judged).map(_.name) === Seq("q1", "q2"))
  }

  test("registry: both driver maps hold exactly the registry's names, 391 in all") {
    val fams = SparkEntry.families
    assert(fams.distinct.size === fams.size, "a family is listed twice")
    val names = fams.flatMap(_.judged.map(_.name))
    assert(fams.map(_.judged.size).sum === 391)
    assert(names.toSet.size === 391)
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.oracleSql.keySet === names.toSet)
    assert(SparkEntry.oracleSql.collect { case (n, sql) if sql == null || sql.trim.isEmpty => n }
      .isEmpty, "an oracle read a helper before it was initialized")
  }

  test("registry: a plan registers the native functions on a fresh session") {
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("simhash_fold"))
    val df = SparkEntry.queries("e1_simhash")(fresh, Recount.dir)
    val plan = df.queryExecution.analyzed
    assert(plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[SimHashFold]))))
  }

  test("Judged.sql: a text reads its tables from the sf dir it is given") {
    val byDir = Seq("/root/testdata/sf0.01", Recount.dir).map { dir =>
      val got = Recount.query("q36_having", dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      val plain = Tables.t(spark, dir, "orders").groupBy("o_custkey").count()
        .where(col("count") >= 20).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(got == plain, dir)
      got
    }
    // sf0.01 has customers with 20+ orders, sf0.001 none: the second
    // run read its own dir, not the views the first one registered
    assert(byDir.head.nonEmpty && byDir.last.isEmpty)
  }

  test("Judged.sql: a SQL-text query's oracle is its text, but for the two " +
    "whose functions DuckDB spells otherwise") {
    val texts = SparkEntry.judged.collect {
      case Judged(name, Judged.SqlText(text), _) => name -> text
    }
    assert(texts.size == 20)
    val own = texts.collect { case (n, t) if SparkEntry.oracleSql(n) != t => n }
    assert(own.toSet == Set("q41_lateral", "q61_time_range"))
  }
}

package graft

/** [[Session.withConf]]: confs set for the body only, the previous
  * state put back afterwards, also when the body throws.
  */
class SessionSpec extends SparkSpec {
  private val Unset = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val Partitions = "spark.sql.shuffle.partitions"

  /** The explicitly set values (None = unset). */
  private def explicit(): Seq[Option[String]] = {
    val set = spark.conf.getAll
    Seq(set.get(Unset), set.get(Partitions))
  }

  test("withConf: a key unset before is unset after, a set key gets its value back") {
    spark.conf.unset(Unset)
    val before = explicit()
    assert(before(0).isEmpty && before(1).nonEmpty, before)
    val inside = Session.withConf(spark)(Unset -> "1KB", Partitions -> "7")(explicit())
    assert(inside === Seq(Some("1KB"), Some("7")))
    assert(explicit() === before)
  }

  test("withConf: a throwing body propagates and still restores every key") {
    spark.conf.unset(Unset)
    val before = explicit()
    val e = intercept[IllegalStateException] {
      Session.withConf(spark)(Unset -> "1KB", Partitions -> "7") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(explicit() === before)
  }
}

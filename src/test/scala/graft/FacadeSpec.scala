package graft


/** Library-facade contract: the session policy helper and the native
  * functions an embedder relies on.
  */
class FacadeSpec extends SparkSpec {
  import spark.implicits._

  test("Graft.tune applies the engine optimizer policy to a live session") {
    Graft.tune(spark)
    assert(spark.conf.get("spark.sql.optimizer.excludedRules") ===
      Graft.excludedOptimizerRules)
    assert(Graft.excludedOptimizerRules
      .contains("InferFiltersFromGenerate"))
  }

  test("Graft.tune preserves an embedder's pre-existing exclusions") {
    Session.withConf(spark)(
        "spark.sql.optimizer.excludedRules" -> "org.example.SomeAppRule") {
      Graft.tune(spark)
      val v = spark.conf.get("spark.sql.optimizer.excludedRules")
      assert(v.contains("org.example.SomeAppRule"),
        "tune must append, never overwrite, an application's exclusions")
      assert(v.contains("InferFiltersFromGenerate"))
    }
  }

  test("registerFunctions exposes native vec_dot to SQL") {
    Graft.registerFunctions(spark)
    val d = Seq((Seq(1f, 2f), Seq(3f, 4f))).toDF("a", "b")
      .selectExpr("vec_dot(a, b) AS d").as[Double].head()
    assert(d === 11.0)
  }
}

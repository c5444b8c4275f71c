package graft

/** Plan-audit tool: prints the formatted physical plan of judged queries
  * (defaults to the headline set) so scan pruning, pushed filters,
  * broadcast choices and exchange counts can be reviewed per round.
  *
  * Usage: runMain graft.Explain [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.local(Session.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) {
      if (args.sameElements(Array("all"))) SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq
    } else Seq("p1_project", "q1_agg", "q3_join", "q4_window",
      "e2_topk_double", "e1_minhash_pairs", "e5_session", "c2_unwrap",
      "e2_ivf", "e9_pack", "q29_range_join", "e10_contam")
    names.foreach { n =>
      println(s"\n======== $n ========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

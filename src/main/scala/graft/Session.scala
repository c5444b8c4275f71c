package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory of the driver mains (Bench,
  * Verify, Explain) and the test suites.
  */
object Session {
  /** `SPARK_GRAFT_CPUS`, default 4: the core count the mains run on. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time, no UI, parquet TIMESTAMP(NANOS) read as epoch-nanos longs
    * (the legacy `events` encoding [[graft.queries.Tables.events]]
    * normalizes), the engine's excluded optimizer rules and its native
    * functions registered, so every query plans the same way from the
    * first one on.
    */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules", Graft.excludedOptimizerRules)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    functions.GraftFunctions.register(s)
    s
  }

  /** Run `body` with the confs `kv` set on `s`, then put back what was
    * there before, also when `body` throws: a previous value is
    * restored and a key that was unset is unset again.
    */
  def withConf[T](s: SparkSession)(kv: (String, String)*)(body: => T): T = {
    val before = s.conf.getAll
    val prev = kv.map { case (k, _) => k -> before.get(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}

package graft.queries

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Quantiles.{ldiv, limb}

/** Testdata table loaders + cross-engine determinism helpers.
  *
  * Every parquet read of an immutable input (a testdata table, a
  * published stage dir) goes through [[parquet]], which infers a path's
  * schema once per JVM per file listing and passes it explicitly on
  * every later read, so building a plan starts no schema job.
  *
  * Every judged query must hash-match a DuckDB oracle on the same parquet
  * (TESTDATA.md). Two engine-difference hazards are handled centrally:
  *
  *  1. `events.ts` has drifted across driver fixture generations:
  *     originally parquet TIMESTAMP(NANOS) (which Spark's reader rejects,
  *     so [[graft.Session.local]] sets
  *     `spark.sql.legacy.parquet.nanosAsLong`, the column reads as
  *     epoch-nanos long and is truncated to micros),
  *     currently TIMESTAMP(MICROS) (read natively as TIMESTAMP_NTZ).
  *     [[events]] dispatches on the schema it actually finds and
  *     normalizes either form to microsecond `TimestampType` in the UTC
  *     session zone — the exact value DuckDB produces with
  *     `CAST(ts AS TIMESTAMP)`. `EventsFixtureSpec` is the drift canary:
  *     it fails loudly if the fixture changes to a third encoding.
  *  2. Double aggregation order differs between engines (and between runs
  *     of a parallel engine), so judged sums go through exact,
  *     order-independent decimal arithmetic: cast each term to a decimal
  *     whose scale matches the data's true decimal structure (money/qty
  *     columns are 2-decimal; two-factor products 4; three-factor 6), sum
  *     exactly, cast the total back to double. Identical in any engine at
  *     any parallelism — this is also the right 100 TB answer, since it
  *     makes results independent of partitioning and retries.
  */
object Tables {

  /** One parquet table from the sf dir. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The names of the sf dir's tables: each `<name>.parquet` in it,
    * sorted.
    */
  def names(spark: SparkSession, dir: String): Seq[String] = {
    val root = new Path(dir)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case n if n.endsWith(".parquet") => n.stripSuffix(".parquet") }
      .sorted
  }

  /** Table `name` of the sf dir: [[events]] for `events`, else [[t]]. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else t(spark, dir, name)

  /** A read of the parquet file-or-directory at `path` whose schema is
    * inferred once per JVM. Without a schema, Spark infers it with a
    * one-task job while it analyzes the read, so every plan that reads
    * the path would start a job before anything executes. The first
    * read of a path is that inferring read, and its schema is kept;
    * every later read passes it with `.schema(...)` and starts no job.
    * The kept schema is keyed on the path, a digest of its file listing
    * (name, size, mtime) and the session values of the reader confs
    * that change inference, so a rewritten path or a changed conf
    * infers again. Meant for inputs that do not change while read:
    * testdata tables and published stage dirs. A run-scoped sink is
    * read once, with `spark.read.parquet`.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = (path, listingDigest(parquetFiles(spark, path)),
      inferenceConfs.map(spark.conf.getOption))
    Option(inferredSchemas.get(key)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        inferredSchemas.put(key, df.schema)
        df
    }
  }

  /** Reader confs whose value changes the schema Spark infers. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  /** The schemas [[parquet]] has inferred, by (path, listing digest,
    * inference conf values).
    */
  private[graft] val inferredSchemas = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Seq[Option[String]]), StructType]()

  private def listingDigest(files: Seq[FileStatus]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(files.map(st =>
          s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
        .sorted.mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** A table about to feed a CPU-heavy narrow derivation (per-shingle
    * md5, tokenization, signature folds), rebalanced to cluster
    * parallelism IF the source is under-split. A small-sf parquet is
    * one input split, so without this the whole hashing pass runs on
    * one core of 32; a 100 TB table has thousands of splits, takes the
    * `else` branch, and never pays the shuffle. The round-robin
    * exchange moves only the raw rows — cheap relative to the per-row
    * hashing it parallelizes.
    */
  def tBalanced(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(spark, dir, name)
    val parallelism = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < parallelism) df.repartition(parallelism)
    else df
  }

  /** `events` with ts normalized to microsecond TimestampType (see above).
    * Schema-dispatched so both known fixture encodings work: epoch-nanos
    * long (legacy TIMESTAMP(NANOS) fixture) and native TIMESTAMP(MICROS).
    * Reads with the session's confs as they are and sets none.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = t(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case TimestampNTZType =>
        // NTZ wall-clock reinterpreted in the UTC session zone — identical
        // micros value to the legacy path and to DuckDB's TIMESTAMP read.
        df.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts fixture drifted to unsupported type $other; " +
            "update Tables.events dispatch")
    }
  }

  /** Exact decimal image of a double column at the data's decimal scale. */
  def dec(c: Column, scale: Int): Column = c.cast(DecimalType(38, scale))

  /** Order-independent sum of a double column: exact fixed-point sum →
    * double. Value-identical to `sum(dec(c, scale)).cast(double)` (the
    * r1–r18 form) but ~3× faster: the decimal(38,s) aggregation buffer
    * is BigDecimal-backed in the UnsafeRow (deserialize + add +
    * serialize PER ROW), while this form aggregates three LONG limbs
    * under whole-stage codegen and reconstructs the exact decimal once
    * per output row (guide §1.2 "per-task work": q1_agg measured
    * 1.22 s → 0.40 s at sf0.1/local[32], bit-identical output).
    *
    * PRECONDITION (why the rounding is provably the oracle's): every
    * call site feeds data whose TRUE values are decimals of ≤ `scale`
    * places with |value|·10^scale < 2^50 (TPC-H money/qty columns are
    * generated 2-decimal; their 2- and 3-factor products are exact 4-
    * and 6-decimal rationals; events.value is generated 2-decimal —
    * certified against the sf0.1 parquet: zero rows off-grid, max
    * |value| ≤ 5e5, so the largest u = value·10^6 ≈ 1.2e14 carries
    * absolute double error ≤ u·6·2⁻⁵² ≈ 0.13 < 0.5). Under that bound
    * `floor(x·10^s + 0.5)` recovers exactly the integer the oracle's
    * `CAST(x AS DECIMAL(38,s))` produces — both are the true value's
    * unscaled form, and no value sits near a rounding boundary. For
    * arbitrary (non-fixed-point) doubles use `sum(dec(c, s))` instead:
    * there the two roundings can genuinely differ.
    *
    * Overflow posture at 100 TB: per-row |u| < 2^50; each limb is
    * < 10^6, so a limb sum reaches 9.2e18 (long max) only past ~9e12
    * rows per group-set — an order of magnitude above a 100 TB
    * lineitem (~7e11 rows). The reconstruction is exact decimal(38,0)
    * arithmetic: limbSum_hi·10¹² + limbSum_mid·10⁶ + limbSum_lo, then
    * one exact division by 10^s (result scale ≥ 6 ≥ s, so no rounding
    * occurs), cast to the same decimal(38,s) type the old form
    * produced. Partition-count/retry invariant like the decimal form:
    * long addition is associative-commutative and exact.
    */
  def dsum(c: Column, scale: Int): Column =
    dsumDec(c, scale).cast(DoubleType)

  /** Decimal-typed exact sum (for ratios computed in double afterwards);
    * the fixed-point limb form of `sum(dec(c, scale))` — see [[dsum]]
    * for the equivalence proof and bounds. Returns the identical
    * DecimalType(38, scale) the decimal-buffer form returned, so all
    * downstream decimal arithmetic types (and the judged schema) are
    * unchanged.
    */
  def dsumDec(c: Column, scale: Int): Column = {
    val u = floor(c * lit(math.pow(10, scale)) + lit(0.5)).cast(LongType)
    // exact: lsum(u)/10^s has ≤ s ≤ 6 decimal places and the divide's
    // result scale is ≥ 6, so HALF_UP never fires; the final cast to
    // (38, s) is also exact (the value is on the 10^-s grid)
    (lsum(u) / lit(math.pow(10, scale).toLong)).cast(DecimalType(38, scale))
  }

  /** Exact sum of a LONG column as DecimalType(38, 0), aggregated as
    * three long limbs (base 10⁶) under whole-stage codegen instead of
    * a BigDecimal-backed decimal buffer — value-identical to
    * `sum(c.cast(DecimalType(38, 0)))` by pure integer identity
    * (u = hi·10¹² + mid·10⁶ + lo for truncated div/mod, either sign;
    * no rounding exists anywhere on this path). Valid while each limb
    * sum fits a long: |c| < 10¹⁸ per row and ≲ 9·10¹² rows per
    * group-set (hi ≤ |c|/10¹² caps the hi-limb sum correspondingly —
    * for rank-like values ≤ ~10¹² that is ~9·10¹² rows again).
    */
  def lsum(c: Column): Column = {
    // integral `div`: limb inputs from [[lprodSum]] legitimately reach
    // ~10^18, past where a double division is exact
    (sum(ldiv(c, limb * limb)).cast(DecimalType(38, 0)) *
      lit(limb * limb) +
      sum(ldiv(c, limb) % limb).cast(DecimalType(38, 0)) *
        lit(limb) +
      sum(c % limb).cast(DecimalType(38, 0)))
  }

  /** Exact Σ x·y over LONG columns as DecimalType(38, 0) — the
    * fixed-point form of `sum(x.cast(decimal(38,0)) * y)` for
    * rank-style products whose per-row value can exceed a long
    * (ranks ~10¹² square to ~10²⁴). Split x = a·10⁶ + b (truncated
    * div/mod, sign-correct); then x·y = (a·y)·10⁶ + b·y with each
    * partial product |a·y| ≤ (|x|/10⁶)·|y| and |b·y| < 10⁶·|y| — both
    * inside long for |x|, |y| < ~2·10¹² (doubled ranks at ~10¹² rows).
    * Each partial is limb-summed exactly ([[lsum]]) and the total
    * recombines in decimal(38,0) — integer-exact at any partitioning,
    * same ~9·10¹² row headroom. The decimal(38,0)-cast product form
    * stays the fallback beyond that regime.
    */
  def lprodSum(x: Column, y: Column): Column = {
    val a = ldiv(x, limb)
    val b = x % limb
    (lsum(a * y) * lit(limb) + lsum(b * y))
  }

  /** Exact Σ w·x·y over LONG columns as DecimalType(38, 0) — the
    * HISTOGRAM-weighted form of [[lprodSum]] for rank products over a
    * collapsed `(group, x, y) → w` frame: Σ_rows x·y = Σ_cells w·x·y
    * when x and y are constant within a cell. Split x = a₁·10⁶ + b₁,
    * y = a₂·10⁶ + b₂ (truncated div/mod, sign-correct); then
    * x·y = A·10¹² + B·10⁶ + C with A = a₁a₂, B = a₁b₂ + a₂b₁,
    * C = b₁b₂, each a per-row LONG of magnitude ≤ ~4.4·10¹² for
    * |x|, |y| < ~2.1·10¹² (doubled ranks at ~10¹² rows). Each
    * Σ w·{A,B,C} runs through [[lprodSum]] (splitting the ≤4.4·10¹²
    * factor, weighting by w), so every per-row partial product stays
    * ≤ 4.4·10⁶·w — inside long for cell counts w < ~2·10¹² — and every
    * limb sum is bounded by Σw = the total ROW count (≤ ~9·10¹²), not
    * the cell count. Integer-exact at any partitioning; the
    * decimal(38,0)-cast triple product stays the documented fallback
    * beyond that regime.
    */
  def lprodSum3(w: Column, x: Column, y: Column): Column = {
    val a1 = ldiv(x, limb); val b1 = x % limb
    val a2 = ldiv(y, limb); val b2 = y % limb
    (lprodSum(a1 * a2, w) * lit(limb * limb) +
      lprodSum(a1 * b2 + a2 * b1, w) * lit(limb) +
      lprodSum(b1 * b2, w))
  }

  /** Exact row count of a parquet table from file FOOTER metadata only —
    * a driver-side open of each footer (KBs each), no Spark job, no data
    * pages read. This is how capacity bounds (bloom filter sizing, hash
    * table pre-allocation) should be derived at 100 TB: the count is
    * already materialized in the layout, so never pay a scan for it.
    */
  def parquetRowCount(spark: SparkSession, dir: String, name: String): Long =
    parquetRowCountAt(spark, s"$dir/$name.parquet")

  /** [[parquetRowCount]] for an arbitrary parquet file-or-directory
    * path (staged feeds, sink dirs) — same footer-only discipline.
    */
  def parquetRowCountAt(spark: SparkSession, path: String): Long = {
    parquetFiles(spark, path).map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** The data files of a parquet file-or-directory path, recursing
    * through partition-style subdirectories (epoch=N sinks) and
    * skipping `_`/`.` names as Spark's reader does.
    */
  private def parquetFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(st: FileStatus): Seq[FileStatus] = {
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Seq.empty
      else if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq(st)
    }
    val rootSt = fs.getFileStatus(root)
    if (rootSt.isDirectory) fs.listStatus(root).toSeq.flatMap(walk)
    else Seq(rootSt)
  }

  /** DuckDB token list of `text`: lowercased, split on runs of
    * non-alphanumerics, empty tokens dropped.
    */
  private[queries] val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  /** `c` as double. */
  private[queries] def d(c: Column): Column = c.cast("double")

  /** Oracle-side [[d]]: SQL text casting `x` to DOUBLE. */
  private[queries] def castD(x: String) = s"CAST($x AS DOUBLE)"
}

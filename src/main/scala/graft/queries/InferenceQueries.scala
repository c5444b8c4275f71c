package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{Quantiles, Rank, TextAnalysis}

/** Statistical inference: hypothesis tests, resampling,
  * multiple-testing control and experiment analysis (A/B guardrails,
  * CUPED, difference-in-differences), with exact sufficient statistics
  * and one final division.
  */
object InferenceQueries extends Family {
  import Tables._

  private val evTypes = Seq("click", "error", "purchase", "signup", "view")

  private val evPairs = for {
    i <- evTypes.indices; j <- evTypes.indices if i < j
  } yield (evTypes(i), evTypes(j))

  /** Benford's expected first-digit probability log10(1 + 1/d),
    * evaluated ONCE at query-build time on the driver; the identical
    * literal is embedded in the oracle text, so neither engine ever
    * evaluates a logarithm (cross-engine log rounding is the reason
    * the float discipline bans ln/log on data paths).
    */
  private def benfordP(d: Int): Double = math.log10(1.0 + 1.0 / d)

  private def benfordOracle: String = {
    // the e0 exponent makes DuckDB parse the literal as DOUBLE via
    // strtod (correctly rounded, bit-identical to the JVM's parse); a
    // bare decimal literal would go through DECIMAL(18,17) first and
    // can land one ulp off after the decimal→double cast
    val cases = (1 to 9).map(d =>
      s"WHEN $d THEN ${benfordP(d)}e0").mkString(" ")
    s"""WITH d AS (
         SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
             AS VARCHAR), 1, 1) AS INT) AS digit
         FROM lineitem WHERE l_extendedprice IS NOT NULL),
       c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
       t AS (SELECT SUM(n) AS t FROM c)
       SELECT digit, CAST(n AS BIGINT) AS n,
         CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS observed_p,
         CASE digit $cases END AS expected_p
       FROM c, t"""
  }

  /** Pooled (value → per-group counts) histogram of
    * `l_extendedprice` by `l_returnflag` with GLOBAL cumulative
    * counts, pooled AND per group: one corpus pass to the
    * value-domain-bounded joint histogram, then ONE partitioned
    * cumulative pass ([[Rank.withGlobalCumsums]]) over all four
    * count columns. `cum___t` carries the pooled rank spans (hi =
    * cum, lo = cum − t + 1); `cum_f_g` are the per-group empirical
    * CDF numerators. Shared by q119 (rank sums) and e122 (CDF
    * distance) — every pooled-rank statistic reads this one staged
    * frame. Durably staged like [[StatisticsQueries.priceSpans]].
    */
  private def pooledPriceCums(s: SparkSession, dir: String): DataFrame =
    Stage.durableFrame(s, "li-pooled-cums", dir) {
      val hist = t(s, dir, "lineitem")
        .where(col("l_extendedprice").isNotNull)
        .groupBy(col("l_extendedprice").as("v"))
        .agg(count(lit(1)).as("__t"),
          sum(when(col("l_returnflag") === "A", 1L).otherwise(0L))
            .as("f_a"),
          sum(when(col("l_returnflag") === "N", 1L).otherwise(0L))
            .as("f_n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("f_r"))
      Rank.withGlobalCumsums(hist, Seq(col("v")),
        Seq("__t", "f_a", "f_n", "f_r"))
    }

  private[queries] def dec38(c: Column): Column = c.cast("decimal(38,0)")

  /** Shared one-way F decomposition over a `(l_returnflag, z)` frame
    * (z = integer cents): pivoted exact per-group n/Σz/Σz² in ONE
    * scan, then F = (SSB/(k−1))/(SSW/(N−k)) and per-group means
    * `<meanName>_{a,n,r}` as closed-form doubles (round 8). The same
    * machinery serves q120 (z = |x − median|, Brown–Forsythe) and
    * q122 (z = raw value, classic ANOVA) — and [[fStatSql]] is its
    * oracle-text twin, so the formula text lives in exactly one
    * place per engine.
    */
  private def pivotedF(dev: DataFrame, meanName: String): DataFrame = {
    // r19: Σz and Σz² flow through the long-limb exact sums
    // (Tables.lsum / lprodSum — pure integer identities, same
    // decimal(38,0) values as the dec38-cast sums they replace) so the
    // fact-scale aggregate runs on codegen'd longs instead of
    // BigDecimal-backed buffers. z is integer cents (|z| ≤ ~10⁷ at any
    // sf — per-row values don't grow with the corpus), so z·z ≤ ~10¹⁴
    // fits a long per row and the limb sums hold past 9e12 rows.
    def n1(f: String) = sum(when(col("l_returnflag") === f, 1L)
      .otherwise(0L)).as(s"n_$f")
    def zg(f: String) = when(col("l_returnflag") === f, col("z"))
      .otherwise(lit(0L))
    def s1(f: String) = Tables.lsum(zg(f)).as(s"s1_$f")
    def s2(f: String) = Tables.lprodSum(zg(f), zg(f)).as(s"s2_$f")
    val ag = dev.agg(n1("A"), n1("N"), n1("R"),
      s1("A"), s1("N"), s1("R"), s2("A"), s2("N"), s2("R"))
    val nt = d(col("n_A") + col("n_N") + col("n_R"))
    val tA = d(col("s1_A")) * d(col("s1_A")) / d(col("n_A"))
    val tN = d(col("s1_N")) * d(col("s1_N")) / d(col("n_N"))
    val tR = d(col("s1_R")) * d(col("s1_R")) / d(col("n_R"))
    val tot = d(col("s1_A")) + d(col("s1_N")) + d(col("s1_R"))
    val ssb = tA + tN + tR - tot * tot / nt
    val ssw = d(col("s2_A")) + d(col("s2_N")) + d(col("s2_R")) -
      (tA + tN + tR)
    ag.select(col("n_A").as("n_a"), col("n_N").as("n_n"),
      col("n_R").as("n_r"),
      round(d(col("s1_A")) / d(col("n_A")) / lit(100.0), 8)
        .as(s"${meanName}_a"),
      round(d(col("s1_N")) / d(col("n_N")) / lit(100.0), 8)
        .as(s"${meanName}_n"),
      round(d(col("s1_R")) / d(col("n_R")) / lit(100.0), 8)
        .as(s"${meanName}_r"),
      round((ssb / lit(2.0)) / (ssw / (nt - lit(3.0))), 8).as("f_stat"))
  }

  /** Oracle twin of [[pivotedF]]: `prelude` must be a `WITH` chain
    * ending in a CTE `dev(l_returnflag, z)` with z already HUGEINT
    * cents.
    */
  private def fStatSql(prelude: String, meanName: String): String =
    s"""$prelude,
         ag AS (SELECT
             CAST(SUM(CASE WHEN l_returnflag='A' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN l_returnflag='N' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_n,
             CAST(SUM(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_r,
             SUM(CASE WHEN l_returnflag='A' THEN z ELSE 0 END) AS s1a,
             SUM(CASE WHEN l_returnflag='N' THEN z ELSE 0 END) AS s1n,
             SUM(CASE WHEN l_returnflag='R' THEN z ELSE 0 END) AS s1r,
             SUM(CASE WHEN l_returnflag='A' THEN z*z ELSE 0 END) AS s2a,
             SUM(CASE WHEN l_returnflag='N' THEN z*z ELSE 0 END) AS s2n,
             SUM(CASE WHEN l_returnflag='R' THEN z*z ELSE 0 END) AS s2r
           FROM dev),
         f AS (SELECT *,
             CAST(n_a + n_n + n_r AS DOUBLE) AS nt,
             CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) /
               CAST(n_a AS DOUBLE) AS ta,
             CAST(s1n AS DOUBLE) * CAST(s1n AS DOUBLE) /
               CAST(n_n AS DOUBLE) AS tn,
             CAST(s1r AS DOUBLE) * CAST(s1r AS DOUBLE) /
               CAST(n_r AS DOUBLE) AS tr,
             CAST(s1a AS DOUBLE) + CAST(s1n AS DOUBLE) +
               CAST(s1r AS DOUBLE) AS tot
           FROM ag),
         g AS (SELECT *,
             ta + tn + tr - tot * tot / nt AS ssb,
             CAST(s2a AS DOUBLE) + CAST(s2n AS DOUBLE) +
               CAST(s2r AS DOUBLE) - (ta + tn + tr) AS ssw
           FROM f)
         SELECT n_a, n_n, n_r,
           round(CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0, 8)
             AS ${meanName}_a,
           round(CAST(s1n AS DOUBLE) / CAST(n_n AS DOUBLE) / 100.0, 8)
             AS ${meanName}_n,
           round(CAST(s1r AS DOUBLE) / CAST(n_r AS DOUBLE) / 100.0, 8)
             AS ${meanName}_r,
           round((ssb / 2.0) / (ssw / (nt - 3.0)), 8) AS f_stat
         FROM g"""

  /** e142's three screens share these thresholds with the oracle text:
    * repetition = distinct-ratio < 0.55 held as the exact integer
    * cross-product compare 20·distinct < 11·total; short = n_tok < 40.
    */
  private val repNum = 11L

  private val repDen = 20L

  private val shortTok = 40L

  /** e147: Poisson(1) bootstrap — replicate count and the inverse-CDF
    * thresholds (cumulative e⁻¹/k! as exact double literals; the SAME
    * text is interpolated into the oracle, so both engines draw
    * identical weights from identical hashed uniforms).
    */
  private val bootB = 32

  private val poissonCdf = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712")

  /** 2⁵² as a double literal: 13 md5 hex chars → uniform in [0, 1). */
  private val hashDen = "4503599627370496.0"

  /** e159: sign-flip replicates; e160: jackknife groups. */
  private val permB = 64

  private val jackG = 10L

  /** e163: standard-normal quantiles as shared double literals
    * (z₀.₉₇₅ for α = 0.05 two-sided; z₀.₈ for power 0.8) — the same
    * text parses in both engines, so no engine-local inverse CDF.
    */
  private val z975 = "1.959963984540054"

  private val z80 = "0.8416212335729143"

  /** e163's A/B guardrail algebra over a (grp, x) per-user frame —
    * SRM χ², Welch z of the per-user metric, and the α=0.05/power-0.8
    * MDE. Shared with the streaming twin c43 (the c42 discipline:
    * one judged algebra per engine, two input paths); exact integer
    * moments until three closed-form doubles.
    */
  private[queries] def guardrailPanel(perUser: DataFrame): DataFrame = {
    val g = perUser.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    val piv = g.agg(
      max(when(col("grp") === 0, col("n"))).as("n_c"),
      max(when(col("grp") === 0, col("sx"))).as("sx_c"),
      max(when(col("grp") === 0, col("sxx"))).as("sxx_c"),
      max(when(col("grp") === 1, col("n"))).as("n_t"),
      max(when(col("grp") === 1, col("sx"))).as("sx_t"),
      max(when(col("grp") === 1, col("sxx"))).as("sxx_t"))
    def variance(n: String, sx: String, sxx: String) =
      (d(col(n)) * col(sxx) - d(col(sx)) * col(sx)) /
        (d(col(n)) * (d(col(n)) - lit(1.0)))
    val seDiff = sqrt(variance("n_c", "sx_c", "sxx_c") / col("n_c") +
      variance("n_t", "sx_t", "sxx_t") / col("n_t"))
    val diff = d(col("sx_t")) / col("n_t") - d(col("sx_c")) / col("n_c")
    piv.select(col("n_c"), col("n_t"),
      round((d(col("n_c")) - col("n_t")) *
        (d(col("n_c")) - col("n_t")) /
        (d(col("n_c")) + col("n_t")), 8).as("srm_chi2"),
      round(d(col("sx_c")) / col("n_c"), 8).as("mean_c"),
      round(d(col("sx_t")) / col("n_t"), 8).as("mean_t"),
      round(diff, 8).as("diff"),
      round(seDiff, 8).as("se_diff"),
      round(diff / seDiff, 8).as("z"),
      round((expr(z975) + expr(z80)) * seDiff, 8).as("mde"))
  }

  /** e163's oracle text — also judges the streaming twin c43. */
  private[queries] def guardrailsSql: String = {
      def vr(n: String, sx: String, sxx: String) =
        s"(CAST($n AS DOUBLE) * $sxx - CAST($sx AS DOUBLE) * $sx) / " +
          s"(CAST($n AS DOUBLE) * (CAST($n AS DOUBLE) - 1.0))"
      val se = s"sqrt(${vr("n_c", "sx_c", "sxx_c")} / n_c + " +
        s"${vr("n_t", "sx_t", "sxx_t")} / n_t)"
      val diff = "CAST(sx_t AS DOUBLE) / n_t - CAST(sx_c AS DOUBLE) / n_c"
      s"""WITH pu AS (SELECT user_id % 2 AS grp,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS x
           FROM events GROUP BY user_id),
         g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx
           FROM pu GROUP BY 1),
         p AS (SELECT
             CAST(max(CASE WHEN grp = 0 THEN n END) AS BIGINT) AS n_c,
             CAST(max(CASE WHEN grp = 0 THEN sx END) AS BIGINT) AS sx_c,
             CAST(max(CASE WHEN grp = 0 THEN sxx END) AS BIGINT) AS sxx_c,
             CAST(max(CASE WHEN grp = 1 THEN n END) AS BIGINT) AS n_t,
             CAST(max(CASE WHEN grp = 1 THEN sx END) AS BIGINT) AS sx_t,
             CAST(max(CASE WHEN grp = 1 THEN sxx END) AS BIGINT) AS sxx_t
           FROM g)
         SELECT n_c, n_t,
           round((CAST(n_c AS DOUBLE) - n_t) * (CAST(n_c AS DOUBLE) - n_t)
             / (CAST(n_c AS DOUBLE) + n_t), 8) AS srm_chi2,
           round(CAST(sx_c AS DOUBLE) / n_c, 8) AS mean_c,
           round(CAST(sx_t AS DOUBLE) / n_t, 8) AS mean_t,
           round($diff, 8) AS diff,
           round($se, 8) AS se_diff,
           round(($diff) / ($se), 8) AS z,
           round(($z975 + $z80) * ($se), 8) AS mde
         FROM p"""
    }

  /** One daily-count series of one event type — shared by e157 and
    * e159 (the paired-series tests), one definition per engine.
    */
  private def dailyEvents(s: SparkSession, dir: String,
                          tpe: String, out: String): DataFrame =
    events(s, dir).where(col("event_type") === tpe)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as(out))

  /** [[dailyEvents]]'s oracle twin (dv/dc CTE text). */
  private def dailySql(tpe: String, out: String): String =
    s"""SELECT CAST(ts AS DATE) AS d, count(*) AS $out
       FROM events WHERE event_type = '$tpe' GROUP BY 1"""

  /** e170's CUPED panel from a per-user `(grp, x, c)` frame — extracted
    * so the streaming twin (`c45_stream_cuped`) reuses the identical
    * closed-form moment algebra: θ, adjusted means/variances, the
    * adjusted Welch z, and the variance-reduction ratio, all from
    * per-group exact integer moments (no per-user double ever crosses
    * a partition).
    */
  private[queries] def cupedPanel(perUser: DataFrame): DataFrame = {
    val g = perUser.groupBy("grp").agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("c")).as("sc"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("c") * col("c")).as("scc"),
      sum(col("x") * col("c")).as("sxc"))
    def side(p: String, grp: Int) = Seq("n", "sx", "sc", "sxx",
      "scc", "sxc").map(m =>
      max(when(col("grp") === grp, col(m))).as(s"$m$p"))
    val piv = g.agg((side("_c", 0) ++ side("_t", 1)).head,
      (side("_c", 0) ++ side("_t", 1)).tail: _*)
    // pooled moments: integer sums of the two sides
    def pool(m: String) = col(s"${m}_c") + col(s"${m}_t")
    val nP = d(pool("n"))
    val covP = (d(pool("sxc")) - d(pool("sx")) * pool("sc") / nP) / nP
    val varcP = (d(pool("scc")) - d(pool("sc")) * pool("sc") / nP) / nP
    val theta = covP / varcP
    val mcP = d(pool("sc")) / nP
    // per-side adjusted mean and variance in CLOSED FORM from the
    // same integer moments (no per-user double ever aggregated):
    // mean_y = mean_x - θ(mean_c - mc_pooled);
    // var_y = var_x - 2θcov + θ²var_c (sample, n-1)
    def meanY(p: String) = d(col(s"sx$p")) / col(s"n$p") -
      theta * (d(col(s"sc$p")) / col(s"n$p") - mcP)
    def varS(p: String, a: String, b: String) =
      (d(col(s"n$p")) * col(s"s$a$b$p") -
        d(col(s"s$a$p")) * col(s"s$b$p")) /
        (d(col(s"n$p")) * (d(col(s"n$p")) - lit(1.0)))
    def varS2(p: String) =
      (d(col(s"n$p")) * col(s"sxc$p") -
        d(col(s"sx$p")) * col(s"sc$p")) /
        (d(col(s"n$p")) * (d(col(s"n$p")) - lit(1.0)))
    def varY(p: String) = varS(p, "x", "x") -
      lit(2.0) * theta * varS2(p) + theta * theta * varS(p, "c", "c")
    val seAdj = sqrt(varY("_c") / col("n_c") + varY("_t") / col("n_t"))
    val diffAdj = meanY("_t") - meanY("_c")
    piv.select(col("n_c"), col("n_t"),
      round(theta, 8).as("theta"),
      round(meanY("_c"), 8).as("mean_adj_c"),
      round(meanY("_t"), 8).as("mean_adj_t"),
      round(diffAdj, 8).as("diff_adj"),
      round(seAdj, 8).as("se_adj"),
      round(diffAdj / seAdj, 8).as("z_adj"),
      round((varY("_c") * (d(col("n_c")) - 1) +
        varY("_t") * (d(col("n_t")) - 1)) /
        ((varS("_c", "x", "x") * (d(col("n_c")) - 1) +
          varS("_t", "x", "x") * (d(col("n_t")) - 1))), 8)
        .as("var_ratio"))
  }

  /** e170's oracle: the same closed-form moment algebra, mirrored
    * TEXTUALLY so both engines evaluate identical IEEE operation
    * trees (round(_, 8) absorbs fma contraction, the q19 discipline).
    */
  private[queries] def cupedOracle: String = {
    def pool(m: String) = s"(${m}_c + ${m}_t)"
    val np = s"CAST(${pool("n")} AS DOUBLE)"
    val covP = s"((CAST(${pool("sxc")} AS DOUBLE) - " +
      s"CAST(${pool("sx")} AS DOUBLE) * ${pool("sc")} / $np) / $np)"
    val varcP = s"((CAST(${pool("scc")} AS DOUBLE) - " +
      s"CAST(${pool("sc")} AS DOUBLE) * ${pool("sc")} / $np) / $np)"
    val theta = s"($covP / $varcP)"
    val mcP = s"(CAST(${pool("sc")} AS DOUBLE) / $np)"
    def meanY(p: String) =
      s"(CAST(sx_$p AS DOUBLE) / n_$p - $theta * " +
        s"(CAST(sc_$p AS DOUBLE) / n_$p - $mcP))"
    def varS(p: String, a: String, b: String) =
      s"((CAST(n_$p AS DOUBLE) * s$a$b" + s"_$p - " +
        s"CAST(s${a}_$p AS DOUBLE) * s${b}_$p) / " +
        s"(CAST(n_$p AS DOUBLE) * (CAST(n_$p AS DOUBLE) - 1.0)))"
    def varY(p: String) =
      s"(${varS(p, "x", "x")} - 2.0 * $theta * ${varS(p, "x", "c")} + " +
        s"$theta * $theta * ${varS(p, "c", "c")})"
    val se = s"sqrt(${varY("c")} / n_c + ${varY("t")} / n_t)"
    val diff = s"(${meanY("t")} - ${meanY("c")})"
    def mcell(m: String, g: Int, p: String) =
      s"CAST(max(CASE WHEN grp = $g THEN $m END) AS BIGINT) AS ${m}_$p"
    val cells = Seq("n", "sx", "sc", "sxx", "scc", "sxc").flatMap(m =>
      Seq(mcell(m, 0, "c"), mcell(m, 1, "t"))).mkString(",\n             ")
    s"""WITH e AS (SELECT user_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS tm FROM events),
         mm AS (SELECT min(tm) AS lo, max(tm) AS hi FROM e),
         pu AS (SELECT user_id % 2 AS grp,
             CAST(SUM(CASE WHEN event_type = 'purchase'
               AND 2 * tm >= lo + hi THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'view'
               AND 2 * tm < lo + hi THEN 1 ELSE 0 END) AS BIGINT) AS c
           FROM e, mm GROUP BY user_id),
         g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(c) AS BIGINT) AS sc,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(c * c) AS BIGINT) AS scc,
             CAST(SUM(x * c) AS BIGINT) AS sxc
           FROM pu GROUP BY 1),
         p AS (SELECT
             $cells
           FROM g)
         SELECT n_c, n_t,
           round($theta, 8) AS theta,
           round(${meanY("c")}, 8) AS mean_adj_c,
           round(${meanY("t")}, 8) AS mean_adj_t,
           round($diff, 8) AS diff_adj,
           round($se, 8) AS se_adj,
           round(($diff) / ($se), 8) AS z_adj,
           round((${varY("c")} * (CAST(n_c AS DOUBLE) - 1) +
             ${varY("t")} * (CAST(n_t AS DOUBLE) - 1)) /
             ((${varS("c", "x", "x")} * (CAST(n_c AS DOUBLE) - 1) +
               ${varS("t", "x", "x")} * (CAST(n_t AS DOUBLE) - 1))), 8)
             AS var_ratio
         FROM p"""
  }

  /** e175: the metric panel (the five event types) and the BH step-up
    * thresholds Φ⁻¹(1 − α·i/2m) for α = 0.05, m = 5, i = 1..5 —
    * standard-normal quantiles as shared double literals (the e163
    * idiom: the same text parses in both engines, no engine-local
    * inverse CDF ever runs).
    */
  private val fdrTypes = Seq("click", "error", "purchase", "signup", "view")

  private val fdrZcrit = Seq(
    "2.5758293035489", "2.3263478740408408", "2.17009037758456",
    "2.053748910631822", "1.9599639845400536")

  private def fdrSql: String = {
    val typeRows = fdrTypes.map(t => s"('$t')").mkString(", ")
    val zList = fdrZcrit.mkString("[", ", ", "]")
    def variance(p: String) =
      s"""((CAST(n_$p AS DOUBLE) * sxx_$p -
          CAST(sx_$p AS DOUBLE) * sx_$p) /
          (CAST(n_$p AS DOUBLE) * (CAST(n_$p AS DOUBLE) - 1.0)))"""
    val se = s"sqrt(${variance("c")} / n_c + ${variance("t")} / n_t)"
    val diff = "(CAST(sx_t AS DOUBLE) / n_t - CAST(sx_c AS DOUBLE) / n_c)"
    s"""WITH census AS (SELECT DISTINCT user_id FROM events),
       cu AS (SELECT user_id, t.event_type
         FROM census, (VALUES $typeRows) AS t(event_type)),
       cnt AS (SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS x
         FROM events GROUP BY 1, 2),
       pu AS (SELECT cu.event_type, cu.user_id % 2 AS grp,
           COALESCE(cnt.x, 0) AS x
         FROM cu LEFT JOIN cnt ON cu.user_id = cnt.user_id
           AND cu.event_type = cnt.event_type),
       g AS (SELECT event_type, grp, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(x * x) AS BIGINT) AS sxx
         FROM pu GROUP BY 1, 2),
       piv AS (SELECT event_type,
           max(CASE WHEN grp = 0 THEN n END) AS n_c,
           max(CASE WHEN grp = 0 THEN sx END) AS sx_c,
           max(CASE WHEN grp = 0 THEN sxx END) AS sxx_c,
           max(CASE WHEN grp = 1 THEN n END) AS n_t,
           max(CASE WHEN grp = 1 THEN sx END) AS sx_t,
           max(CASE WHEN grp = 1 THEN sxx END) AS sxx_t
         FROM g GROUP BY 1),
       zs AS (SELECT event_type, n_c, n_t,
           CASE WHEN $se > 0 THEN $diff / $se END AS z0
         FROM piv),
       rk AS (SELECT *, CAST(row_number() OVER
             (ORDER BY abs(z0) DESC NULLS LAST, event_type) AS BIGINT)
             AS rk
         FROM zs),
       wc AS (SELECT *, ($zList)[rk] AS zcrit,
           (z0 IS NOT NULL AND abs(z0) >= ($zList)[rk]) AS hit
         FROM rk),
       ks AS (SELECT COALESCE(max(CASE WHEN hit THEN rk END),
           CAST(0 AS BIGINT)) AS k_star FROM wc)
       SELECT event_type, n_c, n_t, round(z0, 8) AS z, rk, zcrit, hit,
         k_star, rk <= k_star AS rejected
       FROM wc, ks"""
  }

  val judged: Seq[Judged] = Seq(
    // `e103_ks_pairs` — exact two-sample Kolmogorov–Smirnov distances
    // between every event-type pair's value distributions: one
    // distinct-value cumulative pass, integer cross-multiplied ECDF
    // sup-gaps, a single final division per pair.
    //
    // Exact two-sample Kolmogorov–Smirnov distance between the `value`
    // distributions of every event-type pair — the distribution-shift
    // test next to e78's chi-square drift. ONE pass builds per-type
    // cumulative counts over the UNION of distinct values (hash
    // aggregate + a single value-ordered window), then each of the 10
    // pairs takes max |cum_a·n_b − cum_b·n_a| — INTEGER-exact sup of
    // the ECDF gap (cross-multiplied, no per-row division); the only
    // double is the final D = num/(n_a·n_b). At 100 TB the aggregate
    // collapses rows to distinct values and the window runs over that
    // much smaller domain — same shape as q108's weighted median.
    Judged("e103_ks_pairs", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pairs = for {
        i <- types.indices; j <- types.indices if i < j
      } yield (types(i), types(j))
      val counts = events(s, dir)
        .groupBy("value")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
      // (totals derived AFTER the cumulative pass below — max cum =
      // per-type n — so the corpus-scan pivot runs exactly once, into
      // the cumsum machinery's persisted range frame)
      // Range-partitioned cumulative pass (Rank.withGlobalCumsums):
      // the per-type ECDF counts accumulate in parallel partitions
      // with broadcast prefix offsets — no single-task
      // Window.orderBy anywhere, so the plan survives an
      // unbounded-domain value column unchanged (PlanAuditSpec
      // asserts no unpartitioned window here).
      val cums = graft.operators.Rank
        .withGlobalCumsums(counts, Seq(col("value")), types)
        .select(col("value") +: types.map(t => col(s"cum_$t")): _*)
      val totals = cums.agg(
        max(col(s"cum_${types.head}")).as(s"n_${types.head}"),
        types.tail.map(t => max(col(s"cum_$t")).as(s"n_$t")): _*)
      val gapped = cums.crossJoin(broadcast(totals))
      val maxima = gapped.agg(
        max(abs(col(s"cum_${pairs.head._1}") * col(s"n_${pairs.head._2}") -
          col(s"cum_${pairs.head._2}") * col(s"n_${pairs.head._1}")))
          .as(s"d_${pairs.head._1}_${pairs.head._2}"),
        pairs.tail.map { case (a, b) =>
          max(abs(col(s"cum_$a") * col(s"n_$b") -
            col(s"cum_$b") * col(s"n_$a"))).as(s"d_${a}_$b")
        } :+ first(col(s"n_${types.head}")).as(s"n_${types.head}") :++
          types.tail.map(t => first(col(s"n_$t")).as(s"n_$t")): _*)
      val stacked = maxima.selectExpr(
        s"stack(${pairs.length}, " + pairs.map { case (a, b) =>
          s"'$a', '$b', n_$a, n_$b, d_${a}_$b"
        }.mkString(", ") + ") as (type_a, type_b, n_a, n_b, d_num)")
      stacked.select(col("type_a"), col("type_b"), col("n_a"),
        col("n_b"), col("d_num"),
        (col("d_num").cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("d"))
    },
      // ECDF cumulative counts over distinct values, sup-gap per pair by
      // integer cross-multiplication — mirrors the Spark frame exactly
      {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pairs = for {
        i <- types.indices; j <- types.indices if i < j
      } yield (types(i), types(j))
      val cnt = types.map(t =>
        s"count(*) FILTER (event_type = '$t') AS $t").mkString(", ")
      val tot = types.map(t =>
        s"CAST(SUM($t) AS BIGINT) AS n_$t").mkString(", ")
      val cum = types.map(t =>
        s"CAST(SUM($t) OVER w AS BIGINT) AS cum_$t").mkString(", ")
      val maxes = pairs.map { case (a, b) =>
        s"max(abs(cum_$a*n_$b - cum_$b*n_$a)) AS d_${a}_$b"
      }.mkString(", ")
      val carry = types.map(t => s"max(n_$t) AS n_$t").mkString(", ")
      val rows = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS type_a, '$b' AS type_b, n_$a AS n_a,
            n_$b AS n_b, CAST(d_${a}_$b AS BIGINT) AS d_num,
            CAST(d_${a}_$b AS DOUBLE) /
              CAST(n_$a * n_$b AS DOUBLE) AS d FROM g"""
      }.mkString(" UNION ALL ")
      s"""WITH c AS (SELECT value, $cnt FROM events GROUP BY value),
          t AS (SELECT $tot FROM c),
          cum AS (SELECT $cum FROM c WINDOW w AS (ORDER BY value
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          g AS (SELECT $maxes, $carry FROM cum CROSS JOIN t)
          $rows"""
    }),

    // `e104_mannwhitney` — exact two-sample Mann–Whitney U (average ranks
    // for ties, tie-corrected normal approximation) for every event-type
    // pair, the rank-test complement of e103's KS: U is assembled from the
    // SAME distinct-value count frame, with the rank sums in half-units
    // (2·RS is an integer) so ties never produce a float before the final z
    // formula.
    Judged("e104_mannwhitney", (s, dir) => {
      // distinct-value count frame (one hash agg), then the
      // range-partitioned cumulative pass — same machinery as e103
      val counts = events(s, dir)
        .groupBy("value")
        .pivot("event_type", evTypes)
        .agg(count(lit(1)))
        .na.fill(0L, evTypes)
      val cums = graft.operators.Rank
        .withGlobalCumsums(counts, Seq(col("value")), evTypes)
      // totals from the CUMULATIVE frame (max cum = per-type n): the
      // histogram-sized pass reuses the persisted ranged frame, where
      // an agg over `counts` would re-scan the corpus a second time
      val totals = cums.agg(
        max(col(s"cum_${evTypes.head}")).as(s"n_${evTypes.head}"),
        evTypes.tail.map(t => max(col(s"cum_$t")).as(s"n_$t")): _*)
      // per pair: 2·ranksum_a = Σ ca·(2·prev + m + 1) with
      // prev = combined cumulative BEFORE this value, m = ca+cb the
      // combined tie group; tie term Σ (m³ − m). All integers.
      def rs2(a: String, b: String): Column = {
        val ca = col(a); val cb = col(b)
        val prev = (col(s"cum_$a") - ca) + (col(s"cum_$b") - cb)
        val m = ca + cb
        sum(ca * (lit(2) * prev + m + lit(1)))
      }
      def ties(a: String, b: String): Column = {
        val m = col(a) + col(b)
        sum(m * m * m - m)
      }
      val aggCols = evPairs.flatMap { case (a, b) =>
        Seq(rs2(a, b).as(s"rs2_${a}_$b"), ties(a, b).as(s"t_${a}_$b"))
      } ++ evTypes.map(t => first(col(s"n_$t")).as(s"n_$t"))
      val agg = cums.crossJoin(broadcast(totals))
        .agg(aggCols.head, aggCols.tail: _*)
      val stacked = agg.selectExpr(
        s"stack(${evPairs.length}, " + evPairs.map { case (a, b) =>
          s"'$a', '$b', n_$a, n_$b, rs2_${a}_$b - n_$a * (n_$a + 1), t_${a}_$b"
        }.mkString(", ") + ") as (type_a, type_b, n_a, n_b, u2, ties)")
      // z from exact integers, ONE formula (mirrored in the oracle):
      // z = (u2 − na·nb) / (2·sqrt(na·nb/12 · ((N+1) − ties/(N(N−1)))))
      // (u2 = 2U, so numerator = 2(U − na·nb/2) and the 2 in the
      // denominator cancels the doubling)
      val bigN = col("n_a") + col("n_b")
      stacked.select(col("type_a"), col("type_b"), col("n_a"),
        col("n_b"), col("u2"), col("ties"),
        round((col("u2") - col("n_a") * col("n_b")).cast("double") /
          (lit(2.0) * sqrt(
            (col("n_a") * col("n_b")).cast("double") / lit(12.0) *
              ((bigN + lit(1)).cast("double") -
                col("ties").cast("double") /
                  (bigN * (bigN - lit(1))).cast("double")))), 8)
          .as("z"))
    },
      {
      s"""WITH ev AS (SELECT event_type, value FROM events),
         cnt AS (
           SELECT value,
             ${evTypes.map(t =>
               s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS c_$t")
               .mkString(", ")}
           FROM ev GROUP BY value),
         cum AS (
           SELECT value,
             ${evTypes.map(t =>
               s"""c_$t, CAST(SUM(c_$t) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_$t""").mkString(", ")}
           FROM cnt),
         tot AS (
           ${evTypes.map(t =>
             s"SELECT '$t' AS t, CAST(SUM(c_$t) AS BIGINT) AS n FROM cnt").mkString(
             "\n           UNION ALL ")}),
         pairs AS (
           ${evPairs.map { case (a, b) =>
             s"""SELECT '$a' AS type_a, '$b' AS type_b,
               (SELECT n FROM tot WHERE t = '$a') AS n_a,
               (SELECT n FROM tot WHERE t = '$b') AS n_b,
               CAST(SUM(c_$a * (2 * ((cum_$a - c_$a) + (cum_$b - c_$b))
                 + (c_$a + c_$b) + 1)) AS BIGINT) AS rs2,
               CAST(SUM((c_$a + c_$b) * (c_$a + c_$b) * (c_$a + c_$b)
                 - (c_$a + c_$b)) AS BIGINT) AS ties
             FROM cum"""
           }.mkString("\n           UNION ALL ")})
         SELECT type_a, type_b, n_a, n_b,
           rs2 - n_a * (n_a + 1) AS u2, ties,
           round(CAST(rs2 - n_a * (n_a + 1) - n_a * n_b AS DOUBLE) /
             (2.0 * sqrt(CAST(n_a * n_b AS DOUBLE) / 12.0 *
               (CAST(n_a + n_b + 1 AS DOUBLE) -
                 CAST(ties AS DOUBLE) /
                 CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE)))), 8)
             AS z
         FROM pairs"""
    }),

    // `e105_chisq` — chi-square independence of event_type × campaign
    // decile over a FIXED 5×10 cell grid: one hash aggregate to 50 integer
    // cells, margins and χ² evaluated in a single fixed-order expression
    // (sum order is part of the judged semantics — float addition does not
    // commute across engines).
    Judged("e105_chisq", (s, dir) => {
      // FIXED 5×10 grid: decile = props.k div 10. One hash aggregate
      // to 50 integer cells; margins + chi-square in a single
      // fixed-order expression so the float sum order is identical
      // in both engines.
      val ev = events(s, dir).select(col("event_type"),
        graft.operators.Quantiles.ldiv(
          get_json_object(col("props"), "$.k").cast("long"), 10L)
          .as("d"))
      val cells = for (t <- evTypes; j <- 0 until 10) yield (t, j)
      val aggCols = cells.map { case (t, j) =>
        sum(when(col("event_type") === t && col("d") === j.toLong, 1L)
          .otherwise(0L)).as(s"o_${t}_$j")
      }
      val one = ev.agg(aggCols.head, aggCols.tail: _*)
      def o(t: String, j: Int) = col(s"o_${t}_$j")
      def row(t: String): Column =
        (0 until 10).map(j => o(t, j)).reduce(_ + _)
      def colTot(j: Int): Column = evTypes.map(t => o(t, j)).reduce(_ + _)
      val n = evTypes.map(row).reduce(_ + _)
      // term_ij = (O·N − r·c)² / (N·r·c), summed row-major — d·d in
      // double (the square would overflow long past sf0.1)
      val chi2 = cells.map { case (t, j) =>
        val d = (o(t, j) * n - row(t) * colTot(j)).cast("double")
        d * d / (n * row(t) * colTot(j)).cast("double")
      }.reduce(_ + _)
      one.select(round(chi2, 8).as("chi2"),
        lit((evTypes.length - 1) * 9).cast("long").as("dof"),
        n.as("n"))
    },
      {
      val cells = for (t <- evTypes; j <- 0 until 10) yield (t, j)
      val cellSums = cells.map { case (t, j) =>
        s"""CAST(SUM(CASE WHEN event_type = '$t' AND d = $j
            THEN 1 ELSE 0 END) AS BIGINT) AS o_${t}_$j"""
      }.mkString(",\n             ")
      def row(t: String) = (0 until 10).map(j => s"o_${t}_$j")
        .mkString("(", " + ", ")")
      def colT(j: Int) = evTypes.map(t => s"o_${t}_$j")
        .mkString("(", " + ", ")")
      val n = evTypes.map(row).mkString("(", " + ", ")")
      val chi2 = cells.map { case (t, j) =>
        s"""(CAST(o_${t}_$j * $n - ${row(t)} * ${colT(j)} AS DOUBLE)
            * CAST(o_${t}_$j * $n - ${row(t)} * ${colT(j)} AS DOUBLE)
            / CAST($n * ${row(t)} * ${colT(j)} AS DOUBLE))"""
      }.mkString("\n           + ")
      s"""WITH ev AS (
           SELECT event_type,
             CAST(json_extract(props, '$$.k') AS BIGINT) // 10 AS d
           FROM events),
         one AS (
           SELECT
             $cellSums
           FROM ev)
         SELECT round($chi2, 8) AS chi2,
           CAST(${(evTypes.length - 1) * 9} AS BIGINT) AS dof,
           $n AS n
         FROM one"""
    }),

    // `e106_spearman` — per-group Spearman rank correlation as Pearson over
    // DOUBLED average ranks (2·avgrank = 2·rank+cnt−1 is an integer even at
    // half-rank ties): two partitioned window passes for the ranks, integer
    // moment sums, one closed-form double.
    Judged("e106_spearman", (s, dir) => {
      // doubled average ranks WITHOUT a per-group row sort: for a
      // value with rank span [__lo, __hi], 2·avgrank = __lo + __hi —
      // so the ranks come from the rank-span CDF (hash agg to the
      // distinct-value histogram + the range-partitioned span pass).
      // At ×100 data the r12 windowed form was sort-bound (83 s,
      // n log n over 20 M rows/group); r13–r19 joined both span
      // frames back to the FACT rows, paying TWO fact-scale hash
      // exchanges and a 24-sum fact-scale moment aggregate. r20
      // (guide §2.3/§2.4 — shuffle fewer bytes, remove exchanges):
      //  1. every MARGINAL moment (n, Σrx, Σrx², Σry, Σry²) is a
      //     weighted sum over its own span frame — Σ_rows f(r) =
      //     Σ_values __n·f(r) exactly, because r is constant per
      //     (g, value). No join, no fact pass: histogram-sized aggs.
      //  2. only the CROSS moment Σ rx·ry touches the fact, and rx
      //     is constant given (g, x) — so Σ rx·ry =
      //     Σ_x rx·(Σ_{rows with x} ry): ONE fact-scale join attaches
      //     ry (the high-cardinality side), a groupBy (g, x) whose
      //     exchange carries only x-domain-sized limb partials
      //     (map-side combine), and rx multiplies in on the x-span
      //     frame (x-domain rows, broadcast).
      // Net: 2 fact exchanges → 1, and the fact-scale agg shrinks
      // from 24 sums to the 3 limb sums of Σry. The full
      // joint-histogram form ((g,x,y)→w first, spans joined to the
      // cells) was measured and REJECTED for the judged shape: at
      // sf0.1 prices are near-unique, cells ≈ rows, and it ran
      // 5.5–6.8 s vs 3.9–4.6 s for the fact forms (the histogram
      // build is pure overhead until the joint domain compresses);
      // at extreme joint-domain compression it becomes the better
      // shape and stays the documented alternative (see
      // OPTIMIZATION_r20.md).
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      def spans(v: String): DataFrame =
        graft.operators.Quantiles.rankSpans(
          li.groupBy(col("g"), col(v))
            .agg(count(lit(1)).as("__n")), Seq("g"), v)
          .withColumn("r", (col("__lo") + col("__hi")).cast("long"))
      val xs = spans("x"); val ys = spans("y")
      // moment sums must be WIDE (at x10 data — ~6M rows/group,
      // doubled ranks ~1.2e7 — Σrx·ry exceeds long range before the
      // final formula does), but a decimal(38,0)-cast per-row product
      // would pay a BigDecimal multiply + BigDecimal-backed buffer
      // per row. Tables.lprodSum/lprodSum3 compute the identical
      // exact integers through long-limb partial sums (pure integer
      // identity — no rounding anywhere), recombined to the same
      // decimal(38,0) once per group; valid through doubled ranks
      // < ~2e12 at ~1.3e12 rows per group-set (≈ 2× a 100 TB
      // lineitem; the n³ term of Σ__n·r² binds first), with the
      // decimal-cast form as the documented fallback beyond that.
      def marg(sp: DataFrame, pre: String): DataFrame =
        sp.groupBy("g").agg(
          sum(col("__n")).as(s"n_$pre"),
          lprodSum(col("r"), col("__n")).as(s"s$pre"),
          lprodSum3(col("__n"), col("r"), col("r")).as(s"s$pre$pre"))
      val tGx = li
        .join(ys.select(col("g"), col("y"), col("r").as("ry")),
          Seq("g", "y"))
        .groupBy("g", "x").agg(lsum(col("ry")).as("t"))
      val sxy = tGx
        .join(broadcast(xs.select(col("g"), col("x"), col("r").as("rx"))),
          Seq("g", "x"))
        .groupBy("g")
        .agg(sum(col("rx").cast("decimal(38,0)") * col("t")).as("sxy"))
      // n = Σ__n over the x spans is the exact fact row count the
      // previous fact-scale count(1) produced
      val agg = marg(xs, "x").join(marg(ys, "y"), "g").join(sxy, "g")
        .select(col("g"), col("n_x").as("n"), col("sx"), col("sy"),
          col("sxy"), col("sxx"), col("syy"))
      // final products exceed long range past sf0.1 (n·sxx ≈ 6e21);
      // DECIMAL(38,0) keeps them exact (HUGEINT on the oracle side),
      // with the one cast to double after the subtraction
      agg.select(col("g").as("l_returnflag"), col("n"),
        round((dec38(col("n")) * col("sxy") - dec38(col("sx")) * col("sy"))
          .cast("double") /
          (sqrt((dec38(col("n")) * col("sxx") - dec38(col("sx")) * col("sx"))
            .cast("double")) *
            sqrt((dec38(col("n")) * col("syy") - dec38(col("sy")) * col("sy"))
              .cast("double"))), 8).as("rho"))
    },
      """WITH li AS (
           SELECT l_returnflag AS g, l_quantity AS x,
             l_extendedprice AS y FROM lineitem),
         ranked AS (
           SELECT g,
             2 * rank() OVER (PARTITION BY g ORDER BY x)
               + count(*) OVER (PARTITION BY g, x) - 1 AS rx,
             2 * rank() OVER (PARTITION BY g ORDER BY y)
               + count(*) OVER (PARTITION BY g, y) - 1 AS ry
           FROM li),
         agg AS (
           SELECT g, count(*) AS n,
             SUM(rx) AS sx, SUM(ry) AS sy,
             SUM(CAST(rx AS HUGEINT) * ry) AS sxy,
             SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
             SUM(CAST(ry AS HUGEINT) * ry) AS syy
           FROM ranked GROUP BY g)
         SELECT g AS l_returnflag, n,
           round(CAST(CAST(n AS HUGEINT) * sxy
               - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
             (sqrt(CAST(CAST(n AS HUGEINT) * sxx
               - CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
              sqrt(CAST(CAST(n AS HUGEINT) * syy
               - CAST(sy AS HUGEINT) * sy AS DOUBLE))), 8) AS rho
         FROM agg"""),

    // BENFORD first-digit audit — the fraud/synthetic-data smell test
    // a data-quality pass runs on value columns: observed first-digit
    // frequencies against Benford's log-law expectation. The digit is
    // extracted POSITIONALLY (first char of the integer part) — no
    // log10 on the data path, per the oracle float discipline; the 9
    // expected probabilities are compile-time literals shared verbatim
    // with the oracle text, so no cross-engine log evaluation exists
    // at all. One hash agg to 9 cells + a broadcast total.
    Judged("e116_benford", (s, dir) => {
      val digit = substring(
        floor(col("l_extendedprice")).cast("long").cast("string"), 1, 1)
        .cast("int")
      val cnts = t(s, dir, "lineitem")
        .where(col("l_extendedprice").isNotNull)
        .groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
      val tot = cnts.agg(sum(col("n")).as("t"))
      val expected = coalesce((1 to 9).map(d =>
        when(col("digit") === d, lit(benfordP(d)))): _*)
      cnts.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          (col("n").cast("double") / col("t").cast("double"))
            .as("observed_p"),
          expected.as("expected_p"))
    },
      benfordOracle),

    // `e114_kendall` — Kendall's tau-b rank correlation per group,
    // completing the rank-correlation pair with e106's Spearman:
    // concordant/discordant pairs come from the JOINT (x, y) value
    // histogram — domain-bounded cells (≤ |x|·|y| per group at ANY corpus
    // size), so the pair enumeration is a self-join of a sub-thousand-row
    // frame, never of rows. All sufficient statistics are exact integers
    // (decimal-38 sums — the ×10 overflow lesson); tau-b is ONE final
    // double formula.
    Judged("e114_kendall", (s, dir) => {
      // joint value histogram: the ONLY corpus-sized pass; everything
      // after runs on ≤ |x|·|y| cells per group (550 here: 50
      // quantities × 11 discounts), invariant in the row count
      val h = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("g"), col("l_quantity").as("x"),
          col("l_discount").as("y"))
        .agg(count(lit(1)).as("n"))
      // each unordered cell pair once, oriented by strict x order;
      // y up = concordant, y down = discordant, y tie = neither
      val cd = h.as("a")
        .join(h.as("b"), col("a.g") === col("b.g") &&
          col("a.x") < col("b.x"))
        .groupBy(col("a.g").as("g"))
        .agg(
          sum(when(col("a.y") < col("b.y"),
            col("a.n").cast("decimal(38,0)") * col("b.n"))
            .otherwise(lit(0))).as("c"),
          sum(when(col("a.y") > col("b.y"),
            col("a.n").cast("decimal(38,0)") * col("b.n"))
            .otherwise(lit(0))).as("d"))
      // tie terms in DOUBLED form (t·(t−1), no /2 on the integer
      // side): n0p − n1p etc. stay exact integers; the halving rides
      // the final double formula where /2.0 is an exact FP step
      def tiePrime(key: String, out: String) =
        h.groupBy(col("g"), col(key)).agg(sum(col("n")).as("t"))
          .groupBy("g")
          .agg(sum(col("t").cast("decimal(38,0)") * (col("t") - 1))
            .as(out))
      val tx = tiePrime("x", "n1p")
      val ty = tiePrime("y", "n2p")
      val tot = h.groupBy("g").agg(sum(col("n")).as("nn"))
        .select(col("g"),
          (col("nn").cast("decimal(38,0)") * (col("nn") - 1)).as("n0p"))
      cd.join(tx, "g").join(ty, "g").join(tot, "g")
        .select(col("g").as("l_returnflag"),
          col("c").cast("long").as("concordant"),
          col("d").cast("long").as("discordant"),
          ((col("c") - col("d")).cast("double") /
            (sqrt((col("n0p") - col("n1p")).cast("double") / lit(2.0)) *
              sqrt((col("n0p") - col("n2p")).cast("double") / lit(2.0))))
            .as("tau_b"))
    },
      // tau-b from the joint histogram: HUGEINT pair sums (DuckDB
      // SUM(BIGINT) is HUGEINT anyway — judged integers re-narrowed to
      // BIGINT per the dtype discipline), doubled tie terms, one final
      // double formula shared verbatim with the Spark side.
      """WITH h AS (
           SELECT l_returnflag AS g, l_quantity AS x, l_discount AS y,
             count(*) AS n
           FROM lineitem GROUP BY 1, 2, 3),
         cd AS (
           SELECT a.g,
             SUM(CASE WHEN a.y < b.y
               THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS c,
             SUM(CASE WHEN a.y > b.y
               THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS d
           FROM h a JOIN h b ON a.g = b.g AND a.x < b.x
           GROUP BY a.g),
         tx AS (SELECT g, SUM(CAST(t AS HUGEINT) * (t - 1)) AS n1p
           FROM (SELECT g, x, SUM(n) AS t FROM h GROUP BY g, x)
           GROUP BY g),
         ty AS (SELECT g, SUM(CAST(t AS HUGEINT) * (t - 1)) AS n2p
           FROM (SELECT g, y, SUM(n) AS t FROM h GROUP BY g, y)
           GROUP BY g),
         tot AS (SELECT g, CAST(SUM(n) AS HUGEINT) * (SUM(n) - 1) AS n0p
           FROM h GROUP BY g)
         SELECT g AS l_returnflag,
           CAST(c AS BIGINT) AS concordant,
           CAST(d AS BIGINT) AS discordant,
           CAST(c - d AS DOUBLE) /
             (sqrt(CAST(n0p - n1p AS DOUBLE) / 2.0) *
              sqrt(CAST(n0p - n2p AS DOUBLE) / 2.0)) AS tau_b
         FROM cd JOIN tx USING (g) JOIN ty USING (g) JOIN tot USING (g)"""),

    // `q119_kruskal` — Kruskal–Wallis H (tie-corrected) across the three
    // return-flag populations: the k-group extension of e104's pairwise
    // Mann–Whitney. GLOBAL rank spans come from the pooled value histogram
    // (domain-bounded) via the partitioned cumulative pass, group rank sums
    // are conditional integer aggregates over that frame, and H is one
    // final double formula over a FIXED 3-group pivot — no sum-order
    // nondeterminism.
    //
    // KRUSKAL–WALLIS H across the k=3 return-flag groups, tie-
    // corrected — the k-population rank test that closes the
    // nonparametric family (e103 KS, e104 Mann–Whitney pairwise,
    // e114 Kendall, e106 Spearman). A value's global rank span
    // contributes f_g·(lo+hi) to TWICE the group rank sum exactly
    // (ties land on the shared average rank for free), so every
    // sufficient statistic is an exact integer off the staged pooled
    // spans; the 3 groups are a FIXED domain, so the statistic is
    // built from pivoted scalar columns — no row-order-dependent
    // double summation anywhere. At 100 TB: one corpus pass lives in
    // the staged histogram; the test itself is value-domain-bounded.
    Judged("q119_kruskal", (s, dir) => {
      val spans = pooledPriceCums(s, dir)
        .withColumn("__hi", col("cum___t"))
        .withColumn("__lo", col("__hi") - col("__t") + lit(1L))
      val ag = spans.agg(
        sum(col("f_a")).as("n_a"), sum(col("f_n")).as("n_n"),
        sum(col("f_r")).as("n_r"),
        sum(dec38(col("f_a")) * (col("__lo") + col("__hi"))).as("r2_a"),
        sum(dec38(col("f_n")) * (col("__lo") + col("__hi"))).as("r2_n"),
        sum(dec38(col("f_r")) * (col("__lo") + col("__hi"))).as("r2_r"),
        sum(dec38(col("__t")) * col("__t") * col("__t") - col("__t"))
          .as("tie_cube"))
      val nt = d(col("n_a") + col("n_n") + col("n_r"))
      // R_j = r2_j / 2, so Σ R_j²/n_j = Σ r2_j² / (4 n_j)
      val term = d(col("r2_a")) * d(col("r2_a")) / (lit(4.0) * d(col("n_a"))) +
        d(col("r2_n")) * d(col("r2_n")) / (lit(4.0) * d(col("n_n"))) +
        d(col("r2_r")) * d(col("r2_r")) / (lit(4.0) * d(col("n_r")))
      val hRaw = lit(12.0) * term / (nt * (nt + lit(1.0))) -
        lit(3.0) * (nt + lit(1.0))
      val tieC = lit(1.0) - d(col("tie_cube")) / (nt * nt * nt - nt)
      ag.select(
        (col("n_a") + col("n_n") + col("n_r")).as("n_total"),
        col("n_a"), col("n_n"), col("n_r"),
        col("r2_a").cast("long").as("rank_sum2_a"),
        col("r2_n").cast("long").as("rank_sum2_n"),
        col("r2_r").cast("long").as("rank_sum2_r"),
        round(hRaw, 8).as("h"),
        round(hRaw / tieC, 8).as("h_tie_adj"))
    },
      // pooled global spans via window cumsum; lo+hi = 2·hi − t + 1;
      // every sufficient statistic HUGEINT, the H formula the same
      // double expression text as the Spark side, rounded to 8.
      """WITH h AS (
           SELECT l_extendedprice AS v, count(*) AS t,
             SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS fa,
             SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS fn,
             SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS fr
           FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
         sp AS (
           SELECT t, fa, fn, fr,
             SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
           FROM h),
         ag AS (SELECT
             CAST(SUM(fa) AS BIGINT) AS n_a,
             CAST(SUM(fn) AS BIGINT) AS n_n,
             CAST(SUM(fr) AS BIGINT) AS n_r,
             SUM(CAST(fa AS HUGEINT) * (2*hi - t + 1)) AS r2a,
             SUM(CAST(fn AS HUGEINT) * (2*hi - t + 1)) AS r2n,
             SUM(CAST(fr AS HUGEINT) * (2*hi - t + 1)) AS r2r,
             SUM(CAST(t AS HUGEINT) * t * t - t) AS tie_cube
           FROM sp),
         f AS (SELECT *,
             CAST(n_a + n_n + n_r AS DOUBLE) AS nt,
             12.0 * (CAST(r2a AS DOUBLE) * CAST(r2a AS DOUBLE) /
                 (4.0 * CAST(n_a AS DOUBLE)) +
               CAST(r2n AS DOUBLE) * CAST(r2n AS DOUBLE) /
                 (4.0 * CAST(n_n AS DOUBLE)) +
               CAST(r2r AS DOUBLE) * CAST(r2r AS DOUBLE) /
                 (4.0 * CAST(n_r AS DOUBLE))) /
               (CAST(n_a + n_n + n_r AS DOUBLE) *
                 (CAST(n_a + n_n + n_r AS DOUBLE) + 1.0)) -
               3.0 * (CAST(n_a + n_n + n_r AS DOUBLE) + 1.0) AS h_raw
           FROM ag)
         SELECT CAST(n_a + n_n + n_r AS BIGINT) AS n_total,
           n_a, n_n, n_r,
           CAST(r2a AS BIGINT) AS rank_sum2_a,
           CAST(r2n AS BIGINT) AS rank_sum2_n,
           CAST(r2r AS BIGINT) AS rank_sum2_r,
           round(h_raw, 8) AS h,
           round(h_raw / (1.0 - CAST(tie_cube AS DOUBLE) /
             (nt * nt * nt - nt)), 8) AS h_tie_adj
         FROM f"""),

    // `q120_levene` — Brown–Forsythe variance-homogeneity test (Levene with
    // group medians): medians from the SHARED staged rank spans, ONE corpus
    // scan for the absolute deviations (integer cents), F from exact
    // per-group sums.
    //
    // BROWN–FORSYTHE variance-homogeneity test (Levene on deviations
    // from the group MEDIAN — the robust form): medians are rank
    // selections over the SHARED staged span frame (no new corpus
    // pass for the centers), then ONE corpus scan computes integer
    // cent deviations against the broadcast 3-row median frame, and
    // F is a closed-form double over six exact integer sums pivoted
    // into one row. The test a curation pass runs before trusting a
    // pooled-variance model across sources.
    Judged("q120_levene", (s, dir) => {
      val med = Quantiles.selectRanks(StatisticsQueries.priceSpans(s, dir),
        Seq("l_returnflag"), "l_extendedprice",
        Seq("med" -> Quantiles.medianRank))
      val dev = t(s, dir, "lineitem")
        .where(col("l_extendedprice").isNotNull)
        .join(broadcast(med), "l_returnflag")
        .select(col("l_returnflag"),
          abs(round(col("l_extendedprice") * 100).cast("long") -
            round(col("med") * 100).cast("long")).as("z"))
      pivotedF(dev, "mad")
    },
      // group medians by the contains-rank rule (q118's recipe), then
      // one scan for integer cent deviations; F machinery via the
      // shared fStatSql twin of pivotedF.
      fStatSql(
      """WITH h AS (
           SELECT l_returnflag, l_extendedprice, count(*) AS cnt
           FROM lineitem WHERE l_extendedprice IS NOT NULL
           GROUP BY 1, 2),
         sp AS (
           SELECT l_returnflag, l_extendedprice,
             SUM(cnt) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS nn
           FROM h),
         med AS (
           SELECT l_returnflag,
             min(CASE WHEN hi >= (nn + 1) // 2
               THEN l_extendedprice END) AS med
           FROM sp GROUP BY 1),
         dev AS (
           SELECT li.l_returnflag,
             CAST(abs(CAST(round(li.l_extendedprice * 100) AS BIGINT) -
                 CAST(round(m.med * 100) AS BIGINT)) AS HUGEINT) AS z
           FROM lineitem li JOIN med m USING (l_returnflag)
           WHERE li.l_extendedprice IS NOT NULL)""", "mad")),

    // CRAMÉR–VON MISES two-sample distance (tie-aware) between the
    // A and R price populations — the L² companion to e103's
    // Kolmogorov–Smirnov sup-norm (KS sees the single worst CDF gap;
    // CvM integrates ALL of it, the usual drift score when the
    // difference is spread thin). Tie-aware form over the pooled
    // value histogram: T = Σ_v t_v·(m·cumA_v − n·cumR_v)² /
    // (n·m·(n+m)²) — the numerator is ONE exact DECIMAL(38,0) sum
    // off the shared staged pooled-cums frame (no new corpus pass),
    // and T is one closed-form double. Σ t·(m·cumA − n·cumR)² at
    // ×100 peaks ≈ 6e36 < 10³⁸ — sized for two decades of headroom.
    Judged("e122_cvm", (s, dir) => {
      val cums = pooledPriceCums(s, dir)
      val tot = cums.agg(max(col("cum_f_a")).as("n"),
        max(col("cum_f_r")).as("m"))
      val diff = dec38(col("m")) * col("cum_f_a") -
        dec38(col("n")) * col("cum_f_r")
      // integration weight is the A∪R multiplicity f_a + f_r, NOT the
      // 3-group pooled __t: the 'N' population is in neither sample,
      // and an N-only value must contribute zero mass to the integral
      val ag = cums.crossJoin(broadcast(tot))
        .agg(max(col("n")).as("n_a"), max(col("m")).as("n_r"),
          sum(dec38(col("f_a") + col("f_r")) * diff * diff).as("num"))
      val nm = d(col("n_a")) * d(col("n_r"))
      val np = d(col("n_a")) + d(col("n_r"))
      // T = (nm/(n+m)²)·Σ t·(F−G)², and (F−G)² = diff²/(nm)², so the
      // denominator is nm·(n+m)²
      ag.select(col("n_a"), col("n_r"),
        round(d(col("num")) / (nm * np * np), 8).as("t_cvm"))
    },
      // pooled per-group cumulative counts via window sums; the same
      // exact-integer numerator and one closed-form double as the
      // Spark side
      """WITH h AS (
           SELECT l_extendedprice AS v,
             SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS fa,
             SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS fr
           FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
         sp AS (
           SELECT fa + fr AS t,
             SUM(fa) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             SUM(fr) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr
           FROM h),
         tot AS (SELECT max(ca) AS n, max(cr) AS m FROM sp),
         ag AS (SELECT max(tot.n) AS n_a, max(tot.m) AS m_r,
             SUM(CAST(sp.t AS HUGEINT) *
               (CAST(tot.m AS HUGEINT) * sp.ca -
                CAST(tot.n AS HUGEINT) * sp.cr) *
               (CAST(tot.m AS HUGEINT) * sp.ca -
                CAST(tot.n AS HUGEINT) * sp.cr)) AS num
           FROM sp, tot)
         SELECT CAST(n_a AS BIGINT) AS n_a, CAST(m_r AS BIGINT) AS n_r,
           round(CAST(num AS DOUBLE) /
             (CAST(n_a AS DOUBLE) * CAST(m_r AS DOUBLE) *
              (CAST(n_a AS DOUBLE) + CAST(m_r AS DOUBLE)) *
              (CAST(n_a AS DOUBLE) + CAST(m_r AS DOUBLE))), 8) AS t_cvm
         FROM ag"""),

    // `q122_anova` — one-way ANOVA F, the parametric mean-equality member
    // of the same family (q119 nonparametric twin; q120 the
    // variance-homogeneity precondition).
    //
    // One-way ANOVA F — the parametric mean-equality test that pairs
    // with q119 (its nonparametric twin) and q120 (which tests
    // VARIANCE homogeneity — ANOVA's precondition — on median
    // deviations; this tests MEAN location on the raw values). Same
    // fixed-pivot discipline: per-group n / Σcents / Σcents² as exact
    // decimals in ONE scan, the F decomposition in one closed-form
    // double over six scalars.
    Judged("q122_anova", (s, dir) => {
      pivotedF(t(s, dir, "lineitem")
        .where(col("l_extendedprice").isNotNull)
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("z")),
        "mean")
    },
      // same pivoted exact-sum discipline as q120, raw cents instead of
      // median deviations — one shared F text per engine
      fStatSql(
      """WITH dev AS (
           SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS HUGEINT) AS z
           FROM lineitem WHERE l_extendedprice IS NOT NULL)""", "mean")),

    // MANN–KENDALL monotonic-trend test on the daily ingest series —
    // the NONPARAMETRIC member of the feed-trend family (e97 fits an
    // OLS slope, q121 scores level changes via CUSUM; this tests
    // "is the series drifting at all" with no distribution
    // assumption). S = Σ_{i<j} sign(x_j − x_i) over the calendar-
    // bounded daily frame (a days² triangular self-join of a tiny
    // frame — the corpus is touched once for the daily counts), the
    // tie-corrected variance numerator is exact integer arithmetic,
    // and the normal-approximation z is one closed-form double
    // (sqrt is IEEE-correctly-rounded in both engines).
    Judged("q123_mann_kendall", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
      val p = daily.as("a").join(daily.as("b"), col("b.d") > col("a.d"))
        .agg(sum(when(col("b.x") > col("a.x"), 1L)
          .when(col("b.x") < col("a.x"), -1L).otherwise(0L)).as("s_stat"))
      val n = daily.agg(count(lit(1)).as("nd"))
      val tie = daily.groupBy("x").agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(col("t") * (col("t") - 1) *
          (lit(2L) * col("t") + 5)), lit(0L)).as("tie"))
      val vn = col("nd") * (col("nd") - 1) * (lit(2L) * col("nd") + 5) -
        col("tie")
      val sd = sqrt(d(col("var_num")) / lit(18.0))
      p.crossJoin(broadcast(n)).crossJoin(broadcast(tie))
        .select(col("nd").as("n_days"), col("s_stat"),
          vn.as("var_num"))
        .select(col("n_days"), col("s_stat"), col("var_num"),
          round(when(col("s_stat") > 0,
              (d(col("s_stat")) - lit(1.0)) / sd)
            .when(col("s_stat") < 0,
              (d(col("s_stat")) + lit(1.0)) / sd)
            .otherwise(lit(0.0)), 8).as("z"))
    },
      // triangular pair walk over the days-bounded daily frame; the
      // tie-corrected variance numerator is exact, z one closed form
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS d, count(*) AS x
           FROM events GROUP BY 1),
         p AS (SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
           FROM daily a JOIN daily b ON b.d > a.d),
         n AS (SELECT count(*) AS nd FROM daily),
         t AS (SELECT CAST(coalesce(SUM(t * (t - 1) * (2 * t + 5)), 0)
               AS BIGINT) AS tie
           FROM (SELECT count(*) AS t FROM daily GROUP BY x)),
         v AS (SELECT CAST(n.nd AS BIGINT) AS nd,
             CAST(n.nd * (n.nd - 1) * (2 * n.nd + 5) - t.tie AS BIGINT)
               AS vn
           FROM n, t)
         SELECT v.nd AS n_days, p.s AS s_stat, v.vn AS var_num,
           round(CASE WHEN p.s > 0 THEN (CAST(p.s AS DOUBLE) - 1.0) /
               sqrt(CAST(v.vn AS DOUBLE) / 18.0)
             WHEN p.s < 0 THEN (CAST(p.s AS DOUBLE) + 1.0) /
               sqrt(CAST(v.vn AS DOUBLE) / 18.0)
             ELSE 0.0 END, 8) AS z
         FROM p, v"""),

    // One-sample KS uniformity TEST of the doc-id hash over 100
    // buckets — the partition-skew audit a team runs BEFORE trusting
    // hash-bucketed layouts (e68 builds such a layout; e105 tests
    // independence of two observed columns; this tests the hash
    // itself against the uniform null): D = max_k |F̂(k) − (k+1)/B|,
    // kept exact as the integer numerator max_k |B·cum_k − (k+1)·N|
    // with ONE final double division. Cumulative counts over the
    // FIXED 100-bucket spine (absent buckets matter — they hold the
    // deviation flat while the null grows) via the shared partitioned
    // cumsum machinery.
    Judged("e131_hash_uniformity", (s, dir) => {
      val bN = 100
      val counts = t(s, dir, "documents")
        .select((conv(substring(md5(col("doc_id").cast("string")
          .cast("binary")), 1, 4), 16, 10).cast("long") % bN).as("k"))
        .groupBy("k").agg(count(lit(1)).as("nk"))
      val full = s.range(bN).select(col("id").as("k"))
        .join(counts, Seq("k"), "left")
        .select(col("k"), coalesce(col("nk"), lit(0L)).as("nk"))
        .persist()
      // the spine is FIXED at 100 rows no matter the corpus scale, so
      // the cumulative counts come from a bounded triangular
      // broadcast self-join (10k comparisons, one stage) instead of
      // the corpus-sized repartition machinery withGlobalCumsums
      // rightly uses on data-sized frames
      val cums = full.as("a").join(broadcast(full.as("b")),
          col("b.k") <= col("a.k"))
        .groupBy(col("a.k").as("k")).agg(sum(col("b.nk")).as("cum_nk"))
      val tot = broadcast(cums.agg(max(col("cum_nk")).as("n_total")))
      // ONE aggregation selects the sup deviation AND its first
      // argmax bucket: struct max orders (dev, −k) lexicographically,
      // so ties resolve to the smallest k — no second max/filter pass
      // 1-row result: materialize eagerly so the (tiny, but cached)
      // bucket spine is unpersisted at query end instead of lingering
      val res = cums.crossJoin(tot)
        .select(col("n_total"),
          struct(abs(lit(bN) * col("cum_nk") -
              (col("k") + 1) * col("n_total")).as("dev"),
            (-col("k")).as("negk")).as("dk"))
        .groupBy(col("n_total"))
        .agg(max(col("dk")).as("m"))
        .select(col("n_total"), col("m.dev").as("d_num"),
          (-col("m.negk")).as("worst_bucket"),
          round(col("m.dev").cast("double") /
            (col("n_total") * lit(bN.toLong)), 8).as("ks_d"))
        .localCheckpoint(true)
      full.unpersist()
      res
    },
      """WITH c AS (SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               1, 4) AS BIGINT) % 100 AS k FROM documents),
         cnt AS (SELECT k, count(*) AS nk FROM c GROUP BY k),
         spine AS (SELECT unnest(range(0, 100)) AS k),
         f AS (SELECT spine.k, COALESCE(cnt.nk, 0) AS nk
               FROM spine LEFT JOIN cnt USING (k)),
         cum AS (SELECT k, SUM(nk) OVER (ORDER BY k
             ROWS UNBOUNDED PRECEDING) AS cum_nk FROM f),
         tot AS (SELECT CAST(max(cum_nk) AS BIGINT) AS n_total FROM cum),
         dev AS (SELECT k,
             CAST(abs(100 * cum_nk - (k + 1) * n_total) AS BIGINT) AS dev
           FROM cum, tot),
         mx AS (SELECT CAST(max(dev) AS BIGINT) AS d_num FROM dev)
         SELECT tot.n_total, mx.d_num,
           CAST(min(dev.k) AS BIGINT) AS worst_bucket,
           round(CAST(mx.d_num AS DOUBLE) / (tot.n_total * 100), 8)
             AS ks_d
         FROM dev, mx, tot WHERE dev.dev = mx.d_num
         GROUP BY tot.n_total, mx.d_num"""),

    // `q126_runs_test` — Wald–Wolfowitz runs test on the daily order count
    // against its exact median: detects ANY serial dependence in the
    // above/below-median sign sequence, where q123 (Mann–Kendall) detects
    // monotone TREND and q116/e98 measure linear autocorrelation at fixed
    // lags. Statistic is three integers (n_above, n_below, n_runs) plus the
    // closed-form null moments.
    //
    // Runs test: daily order counts (integer, exact) vs their exact
    // median (contains-rank over the count histogram — the q88 rule).
    // Days equal to the median are dropped (the classical definition);
    // the sign sequence's adjacency comes from a triangular next-day
    // struct-min over the calendar-bounded day spine (the q123 shape,
    // whitelisted in PlanAuditSpec), never an unpartitioned window.
    Judged("q126_runs_test", (s, dir) => {
      import Quantiles.ldiv
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"))
        .withColumn("epd",
          datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
        .localCheckpoint(true) // day spine: one orders pass, reused 4×
      val nd = daily.agg(count(lit(1)).as("n_days"))
      val hist = daily.groupBy("x").agg(count(lit(1)).as("hn"))
      val cum = hist.as("a").join(broadcast(hist.as("b")),
          col("b.x") <= col("a.x"))
        .groupBy(col("a.x").as("x")).agg(sum(col("b.hn")).as("cum"))
      // med (1 row) and signs (day-spine-sized) are each read by
      // several downstream frames; materialize eagerly so the
      // histogram triangle runs ONCE, not once per lazy reference
      val med = cum.crossJoin(broadcast(nd))
        .agg(min(when(col("cum") >= ldiv(col("n_days") + 1, 2L),
          col("x"))).as("med"))
        .localCheckpoint(true)
      val signs = daily.crossJoin(broadcast(med))
        .where(col("x") =!= col("med"))
        .select(col("epd"),
          when(col("x") > col("med"), 1L).otherwise(0L).as("sgn"))
        .localCheckpoint(true)
      val nx = signs.as("a").join(broadcast(signs.as("b")),
          col("b.epd") > col("a.epd"))
        .groupBy(col("a.epd"), col("a.sgn"))
        .agg(min(struct(col("b.epd"), col("b.sgn"))).as("nxt"))
      val flips = nx.agg(coalesce(sum(
        when(col("sgn") =!= col("nxt.sgn"), 1L).otherwise(0L)),
        lit(0L)).as("flips"))
      val cn = signs.agg(sum(col("sgn")).as("n1"),
        (count(lit(1)) - sum(col("sgn"))).as("n2"))
      val a = d(col("n1")); val b = d(col("n2")); val m = a + b
      nd.crossJoin(broadcast(med)).crossJoin(broadcast(cn))
        .crossJoin(broadcast(flips))
        .select(col("n_days"), col("med").as("median_cnt"),
          col("n1").as("n_above"), col("n2").as("n_below"),
          // an empty sign sequence (every day AT the median) has 0
          // runs, not flips+1 = 1 — mirrored in the oracle text
          when(col("n1") + col("n2") > 0, col("flips") + 1L)
            .otherwise(0L).as("n_runs"),
          round(when(col("n1") + col("n2") > 0,
            lit(1.0) + (lit(2.0) * a * b) / m), 8).as("mu_runs"),
          round(when(col("n1") + col("n2") > 1,
            (lit(2.0) * a * b * (lit(2.0) * a * b - a - b)) /
              (m * m * (m - lit(1.0)))), 8).as("var_runs"))
    },
      {
      val a = castD("n1"); val b = castD("n2")
      val m = s"($a + $b)"
      s"""WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS x
           FROM orders GROUP BY 1),
         nd AS (SELECT count(*) AS n_days FROM daily),
         h AS (SELECT x, count(*) AS hn FROM daily GROUP BY 1),
         c AS (SELECT a.x, SUM(b.hn) AS cum
           FROM h a JOIN h b ON b.x <= a.x GROUP BY 1),
         med AS (SELECT min(CASE WHEN cum >= (n_days + 1) // 2
             THEN x END) AS med FROM c, nd),
         s AS (SELECT d, CASE WHEN x > med THEN 1 ELSE 0 END AS sgn
           FROM daily, med WHERE x <> med),
         nx AS (SELECT a.d, a.sgn, min_by(b.sgn, b.d) AS nsgn
           FROM s a JOIN s b ON b.d > a.d GROUP BY 1, 2),
         fl AS (SELECT COALESCE(SUM(CASE WHEN sgn <> nsgn
             THEN 1 ELSE 0 END), 0) AS flips FROM nx),
         cn AS (SELECT CAST(SUM(sgn) AS BIGINT) AS n1,
             CAST(count(*) - SUM(sgn) AS BIGINT) AS n2 FROM s)
         SELECT CAST(n_days AS BIGINT) AS n_days,
           CAST(med AS BIGINT) AS median_cnt,
           n1 AS n_above, n2 AS n_below,
           CAST(CASE WHEN n1 + n2 > 0 THEN flips + 1 ELSE 0 END
             AS BIGINT) AS n_runs,
           round(CASE WHEN n1 + n2 > 0 THEN
             1.0 + (2.0 * $a * $b) / $m END, 8) AS mu_runs,
           round(CASE WHEN n1 + n2 > 1 THEN
             (2.0 * $a * $b * (2.0 * $a * $b - $a - $b)) /
               ($m * $m * ($m - 1.0)) END, 8) AS var_runs
         FROM nd, med, cn, fl"""
    }),

    // `q127_friedman` — Friedman rank test over BLOCKED data (weeks ×
    // day-of-week slots): the repeated-measures twin of q119
    // (Kruskal–Wallis assumes INDEPENDENT groups; Friedman ranks within
    // each week block, removing the between-week level). Tie-corrected via
    // average ranks kept integer as s = 2r.
    //
    // Friedman test: blocks = calendar weeks (epoch-day DIV 7),
    // treatments = the 7 day-in-week slots, measure = daily order
    // count. Only complete blocks rank; average ranks with ties stay
    // integer as s = 2r = 2·rank + tie_count − 1, so the tie-corrected
    // statistic Q = 6·Σ_j(SR_j − 8n)² / (Σs² − 448n) is exact integer
    // algebra with ONE final double division (k=7: k−1=6, n(k+1)=8n,
    // n·k(k+1)²=448n). Windows are partitioned by week — 7 rows each.
    Judged("q127_friedman", (s, dir) => {
      import Quantiles.ldiv
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"))
      val epd = datediff(col("d"), lit("1970-01-01").cast("date"))
        .cast("long")
      // calendar-bounded (wk, dow, x) spine read by the complete-week
      // filter AND the rank side: materialize so orders is scanned once
      val db = daily.select(ldiv(epd, 7L).as("wk"),
        pmod(epd, lit(7L)).as("dow"), col("x"))
        .localCheckpoint(true)
      val fullWk = db.groupBy("wk").agg(count(lit(1)).as("ndw"))
        .where(col("ndw") === 7).select("wk")
      val r = db.join(fullWk, "wk")
        .withColumn("rk",
          rank().over(Window.partitionBy("wk").orderBy("x")).cast("long"))
        .withColumn("tc",
          count(lit(1)).over(Window.partitionBy("wk", "x")))
        .select(col("wk"), col("dow"),
          (lit(2L) * col("rk") + col("tc") - 1L).as("s2r"))
      val srCols = (0 to 6).map(j =>
        sum(when(col("dow") === j, col("s2r")).otherwise(0L)).as(s"sr_$j"))
      val ag = r.agg(countDistinct(col("wk")).as("n"),
        (sum(col("s2r") * col("s2r")).as("ss") +: srCols): _*)
      val dn = d(col("n"))
      val num = (0 to 6).map { j =>
        val t = d(col(s"sr_$j")) - lit(8.0) * dn; t * t
      }.reduce(_ + _)
      val den = d(col("ss")) - lit(448.0) * dn
      ag.select((col("n").as("n_weeks") +:
        (0 to 6).map(j => col(s"sr_$j"))) :+
        round(when(den =!= 0.0, lit(6.0) * num / den), 8)
          .as("q_friedman"): _*)
    },
      {
      val srs = (0 to 6).map(j =>
        s"CAST(SUM(CASE WHEN dow = $j THEN s2r ELSE 0 END) AS BIGINT) AS sr_$j")
        .mkString(", ")
      val num = (0 to 6).map(j =>
        s"(${castD(s"sr_$j")} - 8.0 * ${castD("n")}) * " +
          s"(${castD(s"sr_$j")} - 8.0 * ${castD("n")})")
        .mkString(" + ")
      val den = s"${castD("ss")} - 448.0 * ${castD("n")}"
      s"""WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS x
           FROM orders GROUP BY 1),
         db AS (SELECT (d - DATE '1970-01-01') // 7 AS wk,
             (d - DATE '1970-01-01') % 7 AS dow, x FROM daily),
         fw AS (SELECT wk FROM db GROUP BY wk HAVING count(*) = 7),
         r AS (SELECT db.wk, db.dow,
             2 * rank() OVER (PARTITION BY db.wk ORDER BY db.x) +
               count(*) OVER (PARTITION BY db.wk, db.x) - 1 AS s2r
           FROM db JOIN fw USING (wk)),
         ag AS (SELECT count(DISTINCT wk) AS n,
             CAST(SUM(CAST(s2r AS BIGINT) * s2r) AS BIGINT) AS ss, $srs
           FROM r)
         SELECT CAST(n AS BIGINT) AS n_weeks,
           sr_0, sr_1, sr_2, sr_3, sr_4, sr_5, sr_6,
           round(CASE WHEN $den <> 0.0 THEN
             6.0 * ($num) / ($den) END, 8) AS q_friedman
         FROM ag"""
    }),

    // `e140_langid_kappa` — Cohen's kappa of the judged e4_langid detector
    // against the labeled lang column: the CHANCE-CORRECTED scalar grade of
    // the router (e127 reports the full confusion MATRIX; raw accuracy
    // flatters a detector that just predicts the majority class — kappa
    // subtracts the agreement two independent raters with these marginals
    // would reach anyway). po and pe stay exact integer rationals (N·agree,
    // Σ row_tot·col_tot) until one final double division.
    //
    // Cohen's kappa: confusion cells from the SAME single-pass
    // detector derivation e127 audits; the matrix is ≤ |langs|² rows,
    // so every downstream frame is broadcast-trivial. kappa =
    // (N·agree − Σrt·ct) / (N² − Σrt·ct) — exact integers until the
    // one division (N² ≈ 2.5e13 at ×100: comfortably BIGINT).
    Judged("e140_langid_kappa", (s, dir) => {
      val cm = t(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(SparkEntry.queries("e4_langid")(s, dir), "doc_id")
        .groupBy("lang", "detected").agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // ≤ |langs|² rows, read by 3 frames
      val ag = cm.agg(sum(col("n")).as("n_docs"),
        coalesce(sum(when(col("lang") === col("detected"), col("n"))),
          lit(0L)).as("n_agree"))
      val rt = cm.groupBy("lang").agg(sum(col("n")).as("rt"))
      val ct = cm.groupBy("detected").agg(sum(col("n")).as("ct"))
      val pe = rt.join(broadcast(ct), rt("lang") === ct("detected"))
        .agg(coalesce(sum(col("rt") * col("ct")), lit(0L)).as("pe_num"))
      ag.crossJoin(broadcast(pe))
        .select(col("n_docs"), col("n_agree"), col("pe_num"),
          round(d(col("n_agree")) / col("n_docs"), 8).as("po"),
          round(d(col("pe_num")) / (d(col("n_docs")) * col("n_docs")), 8)
            .as("pe"),
          round((d(col("n_docs")) * col("n_agree") - col("pe_num")) /
            (d(col("n_docs")) * col("n_docs") - col("pe_num")), 8)
            .as("kappa"))
    },
      {
      val det = TextQueries.langidSql
      s"""WITH det AS MATERIALIZED ($det),
         cm AS (SELECT d.lang, det.detected, count(*) AS n
           FROM documents d JOIN det USING (doc_id) GROUP BY 1, 2),
         ag AS (SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(n) FILTER (WHERE lang = detected), 0)
             AS BIGINT) AS n_agree FROM cm),
         rt AS (SELECT lang, SUM(n) AS rt FROM cm GROUP BY 1),
         ct AS (SELECT detected, SUM(n) AS ct FROM cm GROUP BY 1),
         pe AS (SELECT CAST(COALESCE(SUM(rt * ct), 0) AS BIGINT)
           AS pe_num FROM rt JOIN ct ON ct.detected = rt.lang)
         SELECT n_docs, n_agree, pe_num,
           round(${castD("n_agree")} / n_docs, 8) AS po,
           round(${castD("pe_num")} / (${castD("n_docs")} * n_docs), 8)
             AS pe,
           round((${castD("n_docs")} * n_agree - pe_num) /
             (${castD("n_docs")} * n_docs - pe_num), 8) AS kappa
         FROM ag, pe"""
    }),

    // `e141_mcnemar_dedup` — McNemar's paired test of the two judged
    // near-dup detectors at DOC level: e138 estimates the total pair
    // population from catch overlap; this asks the other QA question — do
    // MinHash-LSH and SimHash flag the SAME documents, or is one
    // systematically catching docs the other misses? On paired binary data
    // the marginal comparison uses only the discordant cells: χ² =
    // (b−c)²/(b+c) over exact integer cell counts.
    //
    // McNemar at doc level: a doc is "caught" by a detector when it
    // appears in any of that detector's candidate pairs. Both pair
    // frames are the judged detectors' own (the LSH side durably
    // staged) — zero new derivations; flags land on the doc spine via
    // two left joins, cells in one agg.
    Judged("e141_mcnemar_dedup", (s, dir) => {
      def caught(p: DataFrame, flag: String): DataFrame = p
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct().withColumn(flag, lit(1L))
      val mh = caught(SparkEntry.queries("e1_minhash_pairs")(s, dir)
        .select("id_a", "id_b"), "f_mh")
      val sh = caught(DedupQueries.simhashPairs(s, dir)
        .select("id_a", "id_b"), "f_sh")
      val cells = t(s, dir, "documents").select(col("doc_id"))
        .join(mh, Seq("doc_id"), "left").join(sh, Seq("doc_id"), "left")
        .select(coalesce(col("f_mh"), lit(0L)).as("f_mh"),
          coalesce(col("f_sh"), lit(0L)).as("f_sh"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("f_mh") * col("f_sh")).as("n_both"),
          sum(col("f_mh") * (lit(1L) - col("f_sh"))).as("n_mh_only"),
          sum((lit(1L) - col("f_mh")) * col("f_sh")).as("n_sh_only"))
      cells.select(col("n_docs"), col("n_both"), col("n_mh_only"),
        col("n_sh_only"),
        (col("n_docs") - col("n_both") - col("n_mh_only") -
          col("n_sh_only")).as("n_neither"),
        round(when(col("n_mh_only") + col("n_sh_only") > 0,
          (d(col("n_mh_only")) - col("n_sh_only")) *
            (d(col("n_mh_only")) - col("n_sh_only")) /
            (d(col("n_mh_only")) + col("n_sh_only"))), 8)
          .as("mcnemar_chi2"))
    },
      {
      val mh = DedupQueries.minhashPairsSql
      val sh = DedupQueries.simhashPairsSql
      s"""WITH mh AS MATERIALIZED ($mh),
         shp AS MATERIALIZED (SELECT id_a, id_b FROM ($sh)),
         fm AS (SELECT DISTINCT doc_id FROM (
           SELECT id_a AS doc_id FROM mh
           UNION ALL SELECT id_b FROM mh)),
         fs AS (SELECT DISTINCT doc_id FROM (
           SELECT id_a AS doc_id FROM shp
           UNION ALL SELECT id_b FROM shp)),
         j AS (SELECT
             CASE WHEN fm.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_mh,
             CASE WHEN fs.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_sh
           FROM documents d
           LEFT JOIN fm ON fm.doc_id = d.doc_id
           LEFT JOIN fs ON fs.doc_id = d.doc_id),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(f_mh * f_sh) AS BIGINT) AS n_both,
             CAST(SUM(f_mh * (1 - f_sh)) AS BIGINT) AS n_mh_only,
             CAST(SUM((1 - f_mh) * f_sh) AS BIGINT) AS n_sh_only
           FROM j)
         SELECT n_docs, n_both, n_mh_only, n_sh_only,
           n_docs - n_both - n_mh_only - n_sh_only AS n_neither,
           round(CASE WHEN n_mh_only + n_sh_only > 0 THEN
             (${castD("n_mh_only")} - n_sh_only) *
               (${castD("n_mh_only")} - n_sh_only) /
               (${castD("n_mh_only")} + n_sh_only) END, 8)
             AS mcnemar_chi2
         FROM c"""
    }),

    // `e142_cochran_q` — Cochran's Q across k=3 correlated binary screens
    // per document (e62's blocklist, the e4_repetition distinct-ratio rule
    // at 0.55, a short-doc floor at 40 tokens): the k-screen generalization
    // of e141's McNemar (k=2 Cochran IS McNemar) — "do my curation screens
    // reject at the same rate, accounting for per-doc correlation". All
    // three flags come off ONE tokenize pass; Q is pure integer algebra
    // with one final double division.
    //
    // Cochran's Q, k = 3: Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²).
    // Docs where all screens agree (R_i ∈ {0, k}) contribute nothing
    // to either side and are kept — dropping them would change T.
    // ΣC² ≈ (3N)² at ×100 (≈ 2e14): BIGINT-safe.
    Judged("e142_cochran_q", (s, dir) => {
      val scr = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(
          when(size(array_intersect(array_distinct(col("tk")),
            lit(TextQueries.blocklistTerms.toArray))) > 0, 1L)
            .otherwise(0L).as("s1"),
          when(size(array_distinct(col("tk"))).cast("long") * repDen <
            size(col("tk")).cast("long") * repNum, 1L)
            .otherwise(0L).as("s2"),
          when(size(col("tk")) < shortTok, 1L).otherwise(0L).as("s3"))
        .withColumn("r", col("s1") + col("s2") + col("s3"))
      val ag = scr.agg(count(lit(1)).as("n_docs"),
        sum(col("s1")).as("c_blocklist"),
        sum(col("s2")).as("c_repetition"),
        sum(col("s3")).as("c_short"),
        sum(col("r")).as("t_total"),
        sum(col("r") * col("r")).as("sum_r2"))
      val num = lit(3.0) * (d(col("c_blocklist")) * col("c_blocklist") +
        d(col("c_repetition")) * col("c_repetition") +
        d(col("c_short")) * col("c_short")) -
        d(col("t_total")) * col("t_total")
      val den = lit(3.0) * col("t_total") - d(col("sum_r2"))
      ag.select(col("n_docs"), col("c_blocklist"), col("c_repetition"),
        col("c_short"), col("t_total"), col("sum_r2"),
        round(when(den =!= 0.0, lit(2.0) * num / den), 8).as("q_cochran"))
    },
      {
      val num = s"3.0 * (${castD("c_blocklist")} * c_blocklist + " +
        s"${castD("c_repetition")} * c_repetition + " +
        s"${castD("c_short")} * c_short) - " +
        s"${castD("t_total")} * t_total"
      val den = s"3.0 * t_total - ${castD("sum_r2")}"
      s"""WITH scr AS (SELECT
           CASE WHEN len(list_intersect(list_distinct($tokensSql),
             ${TextQueries.blocklistTermsSql})) > 0
             THEN 1 ELSE 0 END AS s1,
           CASE WHEN len(list_distinct($tokensSql)) * $repDen <
             len($tokensSql) * $repNum THEN 1 ELSE 0 END AS s2,
           CASE WHEN len($tokensSql) < $shortTok THEN 1 ELSE 0 END AS s3
           FROM documents),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(s1) AS BIGINT) AS c_blocklist,
             CAST(SUM(s2) AS BIGINT) AS c_repetition,
             CAST(SUM(s3) AS BIGINT) AS c_short,
             CAST(SUM(s1 + s2 + s3) AS BIGINT) AS t_total,
             CAST(SUM((s1 + s2 + s3) * (s1 + s2 + s3)) AS BIGINT)
               AS sum_r2
           FROM scr)
         SELECT n_docs, c_blocklist, c_repetition, c_short, t_total,
           sum_r2,
           round(CASE WHEN ($den) <> 0.0 THEN
             2.0 * ($num) / ($den) END, 8) AS q_cochran
         FROM ag"""
    }),

    // `e161_conformal` — split-conformal prediction interval for doc token
    // count (Vovk; Lei et al.): the modern distribution-free interval with
    // finite-sample coverage — exact-rank calibration quantile on the val
    // split, measured coverage on test, e8's hash-split convention, one
    // tokenize pass for all three splits.
    //
    // Split-conformal prediction interval (Vovk; Lei et al.) for doc
    // token count under a per-language mean predictor: the modern
    // DISTRIBUTION-FREE interval with finite-sample coverage — fit on
    // the train split, take the ⌈(n+1)(1−α)⌉-th smallest absolute
    // residual on the CALIBRATION split as the interval half-width
    // (exact rank selection, the engine's contains-rank discipline,
    // α = 0.2), then report measured coverage on the held-out test
    // split. Reuses e8's hash-split convention; one tokenize pass
    // serves all three splits.
    Judged("e161_conformal", (s, dir) => {
      import Quantiles.ldiv
      import graft.operators.Corpus
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("x"),
          Corpus.splitName(Corpus.hashBucket(col("doc_id"))).as("split"))
        .localCheckpoint(true) // ONE tokenize pass, read by 3 splits
      val m = broadcast(base.where(col("split") === "train")
        .groupBy("lang")
        .agg((d(sum(col("x"))) / count(lit(1))).as("m")))
      val cal = base.where(col("split") === "val").join(m, "lang")
        .select(col("doc_id"), abs(d(col("x")) - col("m")).as("r"))
      val qhat = Rank.withGlobalRowNumber(cal,
          Seq(col("r").asc, col("doc_id").asc))
        .where(col("rn") ===
          ldiv((col("n_total") + 1L) * 4L + 4L, 5L))
        .select(col("r").as("qhat"), col("n_total").as("n_cal"),
          col("rn").as("k_rank"))
        .localCheckpoint(true) // 1 row, read by the coverage pass
      // grouped (not global) agg: the report row exists iff BOTH the
      // calibration quantile and test rows exist — a global agg would
      // emit a spurious all-null row on an empty join while the
      // oracle's grouped form emits none
      base.where(col("split") === "test").join(m, "lang")
        .crossJoin(broadcast(qhat))
        .groupBy(col("n_cal"), col("k_rank"), col("qhat"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(abs(d(col("x")) - col("m")) <= col("qhat"), 1L)
            .otherwise(0L)).as("n_covered"))
        .select(col("n_cal"), col("k_rank"),
          round(col("qhat"), 8).as("qhat"),
          col("n_test"), col("n_covered"),
          round(d(col("n_covered")) / col("n_test"), 8).as("coverage"))
    },
      s"""WITH b AS (SELECT doc_id, lang,
           CAST(len($tokensSql) AS BIGINT) AS x,
           CASE WHEN bucket < 90 THEN 'train'
             WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
           FROM (SELECT doc_id, lang, text,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
               AS BIGINT) % 100 AS bucket FROM documents)),
         m AS (SELECT lang, CAST(SUM(x) AS DOUBLE) / count(*) AS m
           FROM b WHERE split = 'train' GROUP BY 1),
         cal AS (SELECT abs(CAST(x AS DOUBLE) - m) AS r, doc_id
           FROM b JOIN m USING (lang) WHERE split = 'val'),
         rk AS (SELECT r, row_number() OVER (ORDER BY r, doc_id) AS rn,
             count(*) OVER () AS n_cal FROM cal),
         q AS (SELECT r AS qhat, CAST(n_cal AS BIGINT) AS n_cal,
             CAST(rn AS BIGINT) AS k_rank
           FROM rk WHERE rn = ((n_cal + 1) * 4 + 4) // 5),
         t AS (SELECT n_cal, k_rank, qhat,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN abs(CAST(x AS DOUBLE) - m) <= qhat
               THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
           FROM b JOIN m USING (lang), q WHERE split = 'test'
           GROUP BY 1, 2, 3)
         SELECT n_cal, k_rank, round(qhat, 8) AS qhat, n_test,
           n_covered,
           round(CAST(n_covered AS DOUBLE) / n_test, 8) AS coverage
         FROM t"""),

    // A/B experimentation guardrail panel over the parity assignment
    // (the page an experimentation platform renders before anyone
    // reads a lift number): sample-ratio-mismatch χ² on the user
    // split, the Welch z of the per-user purchase metric, and the
    // minimum detectable effect at α=0.05 / power 0.8 — the normal
    // quantiles ride BOTH plans as the same double literals (never an
    // engine-local inverse CDF). Per-user metric includes zero-fill
    // by construction (conditional count over ALL observed users);
    // exact integer moments, three closed-form doubles.
    Judged("e163_ab_guardrails", (s, dir) =>
      guardrailPanel(events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("x"))
        .select((col("user_id") % 2).as("grp"), col("x"))),
      guardrailsSql),

    // `e162_did` — difference-in-differences over the event stream: the
    // textbook causal-analytics primitive (treated change minus control
    // change across an exact midpoint time split); cell means exact counts
    // over per-group user totals, one events pass.
    //
    // Difference-in-differences over the event stream — the textbook
    // causal-analytics primitive (two groups × two periods, estimate =
    // the treated group's change minus the control group's change):
    // group = user_id parity (the deterministic assignment proxy a
    // synthetic fixture supports), periods split at the exact midpoint
    // of the observed time range (2·t < lo + hi — integer micros, no
    // division), cell means = exact event counts over per-group user
    // totals. ONE events pass + a broadcast (lo, hi) scalar.
    Judged("e162_did", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tm"))
      val mm = broadcast(ev.agg(min(col("tm")).as("lo"),
        max(col("tm")).as("hi")))
      val x = ev.crossJoin(mm)
        .select((col("user_id") % 2).as("grp"),
          when(lit(2L) * col("tm") < col("lo") + col("hi"), 1L)
            .otherwise(2L).as("p"),
          col("user_id"))
      x.agg(
          countDistinct(when(col("grp") === 0, col("user_id"))).as("u_c"),
          countDistinct(when(col("grp") === 1, col("user_id"))).as("u_t"),
          sum(when(col("grp") === 0 && col("p") === 1, 1L).otherwise(0L))
            .as("c_c1"),
          sum(when(col("grp") === 0 && col("p") === 2, 1L).otherwise(0L))
            .as("c_c2"),
          sum(when(col("grp") === 1 && col("p") === 1, 1L).otherwise(0L))
            .as("c_t1"),
          sum(when(col("grp") === 1 && col("p") === 2, 1L).otherwise(0L))
            .as("c_t2"))
        .select(col("u_c"), col("u_t"), col("c_c1"), col("c_c2"),
          col("c_t1"), col("c_t2"),
          round((d(col("c_t2")) - col("c_t1")) / col("u_t") -
            (d(col("c_c2")) - col("c_c1")) / col("u_c"), 8).as("did"))
    },
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP))
           AS tm FROM events),
         mm AS (SELECT min(tm) AS lo, max(tm) AS hi FROM e),
         x AS (SELECT user_id % 2 AS grp,
             CASE WHEN 2 * tm < lo + hi THEN 1 ELSE 2 END AS p, user_id
           FROM e, mm),
         c AS (SELECT
             CAST(count(DISTINCT CASE WHEN grp = 0 THEN user_id END)
               AS BIGINT) AS u_c,
             CAST(count(DISTINCT CASE WHEN grp = 1 THEN user_id END)
               AS BIGINT) AS u_t,
             CAST(SUM(CASE WHEN grp = 0 AND p = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS c_c1,
             CAST(SUM(CASE WHEN grp = 0 AND p = 2 THEN 1 ELSE 0 END)
               AS BIGINT) AS c_c2,
             CAST(SUM(CASE WHEN grp = 1 AND p = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS c_t1,
             CAST(SUM(CASE WHEN grp = 1 AND p = 2 THEN 1 ELSE 0 END)
               AS BIGINT) AS c_t2
           FROM x)
         SELECT u_c, u_t, c_c1, c_c2, c_t1, c_t2,
           round((CAST(c_t2 AS DOUBLE) - c_t1) / u_t -
             (CAST(c_c2 AS DOUBLE) - c_c1) / u_c, 8) AS did
         FROM c"""),

    // `e159_permutation_test` — seeded sign-flip permutation test on the
    // day-paired series: the distribution-free companion of e157 (the
    // p-value comes from the statistic's own randomization distribution, no
    // normal approximation), B=64 md5-seeded sign patterns, every number an
    // exact integer, p the add-one rational. Completes the resampling trio
    // with e147/e160.
    //
    // Seeded sign-flip permutation test on the day-paired series —
    // the DISTRIBUTION-FREE companion of e157 (Wilcoxon still leans
    // on the normal approximation of its null; the permutation test
    // compares T_obs = Σd against its own exact randomization
    // distribution): B=64 sign patterns from md5(b, day) (the
    // e89/e147 seeded discipline — no RNG state, embarrassingly
    // parallel), every statistic an exact integer, p-value the
    // add-one rational. ONE pass over the calendar-bounded day spine
    // × a broadcast 64-row replicate spine.
    Judged("e159_permutation_test", (s, dir) => {
      val diffs = dailyEvents(s, dir, "view", "x")
        .join(dailyEvents(s, dir, "click", "y"), "d")
        .select(datediff(col("d"), lit("1970-01-01").cast("date"))
          .cast("long").as("epd"), (col("x") - col("y")).as("diff"))
        .localCheckpoint(true) // day-spine sized; read by obs + perms
      val obs = broadcast(diffs.agg(count(lit(1)).as("n_days"),
        sum(col("diff")).as("t_obs")))
      val spine = broadcast(s.range(1, permB + 1).select(col("id").as("b")))
      val sgn = lit(1L) - lit(2L) *
        (conv(substring(md5(concat(col("b").cast("string"), lit("#"),
          col("epd").cast("string")).cast("binary")), 1, 13), 16, 10)
          .cast("long") % 2L)
      val perms = diffs.crossJoin(spine)
        .select(col("b"), (sgn * col("diff")).as("sd"))
        .groupBy("b").agg(sum(col("sd")).as("t_b"))
      perms.crossJoin(obs)
        .agg(max(col("n_days")).as("n_days"), max(col("t_obs")).as("t_obs"),
          count(lit(1)).as("b_reps"),
          sum(when(abs(col("t_b")) >= abs(col("t_obs")), 1L)
            .otherwise(0L)).as("n_ge"))
        .select(col("n_days"), col("t_obs"), col("b_reps"), col("n_ge"),
          round((d(col("n_ge")) + lit(1.0)) /
            (d(col("b_reps")) + lit(1.0)), 8).as("p_value"))
    },
      {
      val sgn = "(1 - 2 * (CAST('0x' || substr(md5(CAST(b AS VARCHAR) " +
        "|| '#' || CAST(epd AS VARCHAR)), 1, 13) AS BIGINT) % 2))"
      s"""WITH dv AS (${dailySql("view", "x")}),
         dc AS (${dailySql("click", "y")}),
         df AS (SELECT (d - DATE '1970-01-01') AS epd, x - y AS diff
           FROM dv JOIN dc USING (d)),
         obs AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(SUM(diff) AS BIGINT) AS t_obs FROM df),
         p AS (SELECT b, CAST(SUM($sgn * diff) AS BIGINT) AS t_b
           FROM df, generate_series(1, $permB) AS g(b) GROUP BY 1),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS b_reps,
             CAST(SUM(CASE WHEN abs(t_b) >= abs(t_obs)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_ge
           FROM p, obs)
         SELECT n_days, t_obs, b_reps, n_ge,
           round((CAST(n_ge AS DOUBLE) + 1.0) /
             (CAST(b_reps AS DOUBLE) + 1.0), 8) AS p_value
         FROM obs, ag"""
    }),

    // `e160_jackknife` — delete-one-group jackknife SE of the corpus mean
    // (G=10 md5 buckets): the grouped jackknife is the form that works
    // distributed (leave-one-row-out would need N passes); pseudo-values
    // from ONE pass of per-bucket integer sums, deviations micro-quantized
    // to exact integer algebra.
    //
    // Delete-one-group jackknife SE of the corpus mean token count —
    // the third member of the resampling trio (e147 bootstrap, e159
    // permutation): G=10 md5 buckets, leave-one-bucket-out pseudo
    // estimates from ONE pass of per-bucket integer sums, deviations
    // micro-quantized so the cross-group variance is exact integer
    // algebra. The grouped ("delete-d") jackknife is precisely the
    // form that works distributed — leave-one-ROW-out would need N
    // passes.
    Judged("e160_jackknife", (s, dir) => {
      val g = conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 4), 16, 10).cast("long") % jackG
      val bk = t(s, dir, "documents")
        .select(g.as("g"), TextAnalysis.tokenCount(col("text")).as("x"))
        .groupBy("g").agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"))
        .localCheckpoint(true) // G rows, read by totals + pseudo values
      val tot = broadcast(bk.agg(sum(col("n_g")).as("n"),
        sum(col("s_g")).as("s")))
      val pseudo = bk.crossJoin(tot)
        .select(floor((d(col("s")) - col("s_g")) /
          (d(col("n")) - col("n_g")) * lit(1e6)).cast("long").as("q"))
        .localCheckpoint(true) // G rows, read by sum + deviations
      val qtot = broadcast(pseudo.agg(sum(col("q")).as("sq"),
        count(lit(1)).as("gn")))
      pseudo.crossJoin(qtot)
        .select(((col("q") * col("gn") - col("sq")) *
          (col("q") * col("gn") - col("sq"))).as("dev2"),
          col("gn"), col("sq"))
        .groupBy("gn").agg(sum(col("dev2")).as("sdev2"))
        .crossJoin(tot)
        .select(col("n").as("n_docs"), col("gn").as("g_buckets"),
          round(d(col("s")) / col("n"), 8).as("theta_hat"),
          round(sqrt((d(col("gn")) - lit(1.0)) / col("gn") *
            col("sdev2")) / (d(col("gn")) * lit(1e6)), 8).as("se_jack"))
    },
      s"""WITH bk AS (SELECT
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
             AS BIGINT) % $jackG AS g,
           CAST(count(*) AS BIGINT) AS n_g,
           CAST(SUM(len($tokensSql)) AS BIGINT) AS s_g
           FROM documents GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS BIGINT) AS s FROM bk),
         ps AS (SELECT CAST(floor((CAST(s AS DOUBLE) - s_g) /
             (CAST(n AS DOUBLE) - n_g) * 1000000.0) AS BIGINT) AS q
           FROM bk, tot),
         qt AS (SELECT CAST(SUM(q) AS BIGINT) AS sq,
             CAST(count(*) AS BIGINT) AS gn FROM ps),
         dv AS (SELECT CAST(SUM((q * gn - sq) * (q * gn - sq))
             AS BIGINT) AS sdev2 FROM ps, qt)
         SELECT n AS n_docs, gn AS g_buckets,
           round(CAST(s AS DOUBLE) / n, 8) AS theta_hat,
           round(sqrt((CAST(gn AS DOUBLE) - 1.0) / gn * sdev2) /
             (CAST(gn AS DOUBLE) * 1000000.0), 8) AS se_jack
         FROM tot, qt, dv"""),

    // Wilcoxon signed-rank test — the PAIRED two-sample member the
    // nonparametric battery lacked (e104 Mann–Whitney assumes
    // independent samples; q127 Friedman needs k blocked treatments;
    // this pairs the two daily event series BY DAY and tests whether
    // their per-day difference is centered at zero). Zero diffs drop
    // (classical); |d| average ranks stay integral as s = 2r via the
    // histogram triangle (the q126 calendar-bounded shape); W⁺, the
    // null moments, and the tie correction are exact integers with
    // one closed-form z.
    Judged("e157_wilcoxon", (s, dir) => {
      val paired = dailyEvents(s, dir, "view", "x")
        .join(dailyEvents(s, dir, "click", "y"), "d")
        .select((col("x") - col("y")).as("diff"))
        .where(col("diff") =!= 0)
        .select(abs(col("diff")).as("absd"),
          when(col("diff") > 0, 1L).otherwise(0L).as("pos"))
      val h = paired.groupBy("absd")
        .agg(count(lit(1)).as("t"), sum(col("pos")).as("npos"))
        .localCheckpoint(true) // |distinct diffs| rows, read by triangle
      val ranked = h.as("a").join(broadcast(h.as("b")),
          col("b.absd") < col("a.absd"), "left")
        .groupBy(col("a.absd"), col("a.t"), col("a.npos"))
        .agg(coalesce(sum(col("b.t")), lit(0L)).as("below"))
        .select(col("t"), col("npos"),
          (lit(2L) * col("below") + col("t") + 1L).as("s2r"))
      val ag = ranked.agg(sum(col("t")).as("n_pairs"),
        sum(col("npos") * col("s2r")).as("s2_wplus"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tie_term"))
      val nD = d(col("n_pairs"))
      val mu2 = nD * (nD + lit(1.0)) / lit(2.0)
      val var2 = nD * (nD + lit(1.0)) * (lit(2.0) * nD + lit(1.0)) /
        lit(6.0) - d(col("tie_term")) / lit(12.0)
      ag.select(col("n_pairs"), col("s2_wplus"), col("tie_term"),
        round(mu2, 8).as("mu2_null"),
        round(var2, 8).as("var2_null"),
        round(when(var2 > 0.0, (d(col("s2_wplus")) - mu2) / sqrt(var2)),
          8).as("z"))
    },
      {
      val nD = "CAST(n_pairs AS DOUBLE)"
      val mu2 = s"$nD * ($nD + 1.0) / 2.0"
      val var2 = s"$nD * ($nD + 1.0) * (2.0 * $nD + 1.0) / 6.0 - " +
        "CAST(tie_term AS DOUBLE) / 12.0"
      s"""WITH dv AS (${dailySql("view", "x")}),
         dc AS (${dailySql("click", "y")}),
         p AS (SELECT abs(x - y) AS absd,
             CASE WHEN x - y > 0 THEN 1 ELSE 0 END AS pos
           FROM dv JOIN dc USING (d) WHERE x <> y),
         h AS (SELECT absd, count(*) AS t, SUM(pos) AS npos
           FROM p GROUP BY 1),
         r AS (SELECT a.t, a.npos,
             2 * COALESCE(SUM(b.t), 0) + a.t + 1 AS s2r
           FROM h a LEFT JOIN h b ON b.absd < a.absd
           GROUP BY a.absd, a.t, a.npos),
         ag AS (SELECT CAST(SUM(t) AS BIGINT) AS n_pairs,
             CAST(SUM(npos * s2r) AS BIGINT) AS s2_wplus,
             CAST(SUM(t * t * t - t) AS BIGINT) AS tie_term
           FROM r)
         SELECT n_pairs, s2_wplus, tie_term,
           round($mu2, 8) AS mu2_null,
           round($var2, 8) AS var2_null,
           round(CASE WHEN ($var2) > 0.0 THEN
             (CAST(s2_wplus AS DOUBLE) - $mu2) / sqrt($var2) END, 8)
             AS z
         FROM ag"""
    }),

    // Per-class classifier report of the langid router — precision,
    // recall, F1, and Matthews correlation per TRUE language, the
    // standard multi-class evaluation page (e127 publishes the raw
    // confusion MATRIX; e140 one chance-corrected scalar; this is the
    // per-class operating report). All cells exact integers off the
    // same single-pass detector derivation; F1 in the 2TP/(2TP+FP+FN)
    // rational form; MCC's four marginal factors multiply as doubles
    // in fixed order (N⁴ exceeds BIGINT at extreme scale).
    Judged("e158_classifier_report", (s, dir) => {
      val cm = t(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(SparkEntry.queries("e4_langid")(s, dir), "doc_id")
        .groupBy("lang", "detected").agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // ≤ |langs|² rows, read by 4 frames
      val nF = broadcast(cm.agg(sum(col("n")).as("n_total")))
      val rt = cm.groupBy("lang").agg(sum(col("n")).as("row_tot"))
      val diag = cm.where(col("lang") === col("detected"))
        .select(col("lang"), col("n").as("tp"))
      val ct = cm.groupBy("detected").agg(sum(col("n")).as("col_tot"))
      val cls = rt.join(broadcast(diag), Seq("lang"), "left")
        .join(broadcast(ct), rt("lang") === ct("detected"), "left")
        .crossJoin(nF)
        .select(col("lang"),
          coalesce(col("tp"), lit(0L)).as("tp"),
          (coalesce(col("col_tot"), lit(0L)) -
            coalesce(col("tp"), lit(0L))).as("fp"),
          (col("row_tot") - coalesce(col("tp"), lit(0L))).as("fn"),
          (col("n_total") - col("row_tot") -
            coalesce(col("col_tot"), lit(0L)) +
            coalesce(col("tp"), lit(0L))).as("tn"))
      val mccDen = sqrt(d(col("tp") + col("fp")) * (col("tp") + col("fn")) *
        (col("tn") + col("fp")) * (col("tn") + col("fn")))
      cls.select(col("lang"), col("tp"), col("fp"), col("fn"), col("tn"),
          round(when(col("tp") + col("fp") > 0,
            d(col("tp")) / (col("tp") + col("fp"))), 8).as("precision"),
          round(when(col("tp") + col("fn") > 0,
            d(col("tp")) / (col("tp") + col("fn"))), 8).as("recall"),
          round(when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
            lit(2.0) * col("tp") /
              (lit(2L) * col("tp") + col("fp") + col("fn"))), 8)
            .as("f1"),
          round(when(mccDen > 0.0,
            (d(col("tp")) * col("tn") - d(col("fp")) * col("fn")) /
              mccDen), 8).as("mcc"))
        .orderBy(col("lang"))
    },
      {
      val det = TextQueries.langidSql
      val mccDen = "sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn) * " +
        "(tn + fp) * (tn + fn))"
      s"""WITH det AS MATERIALIZED ($det),
         cm AS (SELECT d.lang, det.detected, count(*) AS n
           FROM documents d JOIN det USING (doc_id) GROUP BY 1, 2),
         nt AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cm),
         rt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS row_tot
           FROM cm GROUP BY 1),
         dg AS (SELECT lang, CAST(n AS BIGINT) AS tp FROM cm
           WHERE lang = detected),
         ct AS (SELECT detected, CAST(SUM(n) AS BIGINT) AS col_tot
           FROM cm GROUP BY 1),
         cls AS (SELECT rt.lang,
             COALESCE(tp, 0) AS tp,
             COALESCE(col_tot, 0) - COALESCE(tp, 0) AS fp,
             row_tot - COALESCE(tp, 0) AS fn,
             n_total - row_tot - COALESCE(col_tot, 0) + COALESCE(tp, 0)
               AS tn
           FROM rt LEFT JOIN dg USING (lang)
           LEFT JOIN ct ON ct.detected = rt.lang, nt)
         SELECT lang, tp, fp, fn, tn,
           round(CASE WHEN tp + fp > 0 THEN
             CAST(tp AS DOUBLE) / (tp + fp) END, 8) AS precision,
           round(CASE WHEN tp + fn > 0 THEN
             CAST(tp AS DOUBLE) / (tp + fn) END, 8) AS recall,
           round(CASE WHEN 2 * tp + fp + fn > 0 THEN
             2.0 * tp / (2 * tp + fp + fn) END, 8) AS f1,
           round(CASE WHEN ($mccDen) > 0.0 THEN
             (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn) /
               ($mccDen) END, 8) AS mcc
         FROM cls ORDER BY lang"""
    }),

    // `e147_poisson_bootstrap` — Poisson(1) bootstrap SE of the corpus mean
    // token count (Chamandy et al.'s at-scale bootstrap: per- replicate
    // multinomial resampling needs the full sample in one place, Poisson
    // weights are iid per (replicate, row) and stream): B=32 replicates in
    // ONE pass over a broadcast replicate spine, weights by inverse CDF
    // over seeded md5 uniforms (the e89 discipline), replicate means
    // micro-quantized before the cross-replicate variance so nothing is
    // row-order-dependent. e30/e45/q113 report point statistics; this is
    // the UNCERTAINTY attached to one.
    //
    // Poisson bootstrap (Chamandy et al., the at-scale bootstrap:
    // per-replicate multinomial resampling is impossible in one pass,
    // but Poisson(1) weights per (replicate, row) are iid and give the
    // same SE estimate): B=32 replicates of the corpus mean token
    // count, weights drawn by inverse-CDF over a SEEDED md5 uniform
    // (both engines hash the same string, compare against the same
    // literal thresholds — the e89 seeded-mechanism discipline).
    // Replicate means are exact-integer ratios; the cross-replicate
    // SE runs over micro-quantized means so no double sum is
    // row-order-dependent. ONE tokenize pass × a broadcast 32-row
    // replicate spine, map-side-combinable per-replicate sums.
    Judged("e147_poisson_bootstrap", (s, dir) => {
      val xs = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("x"))
      // replicate 0 carries weight 1 everywhere = the full sample, so
      // ONE tokenize pass serves the point estimate AND all B
      // replicates (33 groups, map-side combined)
      val spine = broadcast(s.range(0, bootB + 1).select(col("id").as("b")))
      val u = conv(substring(md5(concat(col("b").cast("string"), lit("#"),
        col("doc_id").cast("string")).cast("binary")), 1, 13), 16, 10)
        .cast("long").cast("double") / expr(hashDen)
      val w = when(col("b") === 0, lit(1L)).otherwise(
        poissonCdf.zipWithIndex.foldRight(lit(7L): org.apache.spark.sql.Column) {
          case ((c, k), rest) => when(u < expr(c), k.toLong).otherwise(rest)
        })
      val byRep = xs.crossJoin(spine)
        .select(col("b"), w.as("w"), col("x"))
        .groupBy("b").agg(sum(col("w")).as("n_b"),
          sum(col("w") * col("x")).as("s_b"))
        .localCheckpoint(true) // B+1 rows, read by full + reps
      val full = broadcast(byRep.where(col("b") === 0)
        .select(col("n_b").as("n_docs"), col("s_b").as("sum_x")))
      val reps = byRep.where(col("b") > 0)
        .select(floor(d(col("s_b")) / col("n_b") * lit(1e6))
          .cast("long").as("mq"))
      reps.agg(count(lit(1)).as("b_reps"), sum(col("mq")).as("sum_m"),
          sum(col("mq") * col("mq")).as("sum_m2"),
          min(col("mq")).as("mq_min"), max(col("mq")).as("mq_max"))
        .crossJoin(full)
        .select(col("n_docs"), col("b_reps"),
          round(d(col("sum_x")) / col("n_docs"), 8).as("mean_full"),
          round(d(col("mq_min")) / lit(1e6), 8).as("m_min"),
          round(d(col("mq_max")) / lit(1e6), 8).as("m_max"),
          round(sqrt((d(col("b_reps")) * col("sum_m2") -
              d(col("sum_m")) * col("sum_m")) /
              (d(col("b_reps")) * (d(col("b_reps")) - lit(1.0)))) /
            lit(1e6), 8).as("se_boot"))
    },
      {
      val u = "CAST('0x' || substr(md5(CAST(b AS VARCHAR) || '#' || " +
        "CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) / " + hashDen
      val w = "CASE " + poissonCdf.zipWithIndex.map { case (c, k) =>
        s"WHEN u < $c THEN $k" }.mkString(" ") + " ELSE 7 END"
      s"""WITH xs AS (SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS x
           FROM documents),
         f AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(x) AS BIGINT) AS sum_x FROM xs),
         rw AS (SELECT b, x, $w AS w
           FROM (SELECT x, b, $u AS u
                 FROM xs, generate_series(1, $bootB) AS g(b))),
         reps AS (SELECT b, CAST(floor(CAST(SUM(w * x) AS DOUBLE) /
             SUM(w) * 1000000.0) AS BIGINT) AS mq
           FROM rw GROUP BY 1),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS b_reps,
             CAST(SUM(mq) AS BIGINT) AS sum_m,
             CAST(SUM(mq * mq) AS BIGINT) AS sum_m2,
             CAST(min(mq) AS BIGINT) AS mq_min,
             CAST(max(mq) AS BIGINT) AS mq_max
           FROM reps)
         SELECT n_docs, b_reps,
           round(CAST(sum_x AS DOUBLE) / n_docs, 8) AS mean_full,
           round(CAST(mq_min AS DOUBLE) / 1000000.0, 8) AS m_min,
           round(CAST(mq_max AS DOUBLE) / 1000000.0, 8) AS m_max,
           round(sqrt((CAST(b_reps AS DOUBLE) * sum_m2 -
               CAST(sum_m AS DOUBLE) * sum_m) /
               (CAST(b_reps AS DOUBLE) * (CAST(b_reps AS DOUBLE) - 1.0))) /
             1000000.0, 8) AS se_boot
         FROM ag, f"""
    }),

    // `e170_cuped` — CUPED variance reduction (Deng et al. 2013, the
    // standard pre-period covariate adjustment every experimentation
    // platform runs before the t-test): covariate = pre-midpoint view
    // count, metric = post-midpoint purchase count per user (e162's integer
    // midpoint split), θ = pooled cov/var. EVERYTHING — θ, adjusted means,
    // adjusted variances var(x−θc) = var_x − 2θcov + θ²var_c, the adjusted
    // Welch z, and the variance- reduction ratio — is closed-form algebra
    // over per-group exact integer moments (n, Σx, Σc, Σx², Σc², Σxc), so
    // no per-user double ever crosses a partition: order-independent at any
    // parallelism, one events pass + a broadcast (lo, hi) scalar.
    Judged("e170_cuped", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tm"))
      val mm = broadcast(ev.agg(min(col("tm")).as("lo"),
        max(col("tm")).as("hi")))
      val perUser = ev.crossJoin(mm)
        .select(col("user_id"),
          when(col("event_type") === "purchase" &&
            lit(2L) * col("tm") >= col("lo") + col("hi"), 1L)
            .otherwise(0L).as("x"),
          when(col("event_type") === "view" &&
            lit(2L) * col("tm") < col("lo") + col("hi"), 1L)
            .otherwise(0L).as("c"))
        .groupBy("user_id")
        .agg(sum(col("x")).as("x"), sum(col("c")).as("c"))
        .select((col("user_id") % 2).as("grp"), col("x"), col("c"))
      cupedPanel(perUser)
    },
      cupedOracle),

    // `e175_fdr` — Benjamini–Hochberg step-up FDR correction over the
    // per-event-type Welch-z guardrail panel (see the query comment).
    //
    // Benjamini–Hochberg step-up over the per-event-type Welch-z
    // panel: the multiple-testing correction an experimentation
    // platform applies when one experiment reads m guardrail metrics
    // at once (testing each at α alone inflates false positives m×).
    // Metrics = per-user event counts per type over the FULL user
    // census (absent users count 0, so every metric shares one n);
    // exact integer moments → closed-form Welch z (NULL-gated on
    // se > 0, the e158 0/0 discipline); the BH thresholds Φ⁻¹(1−αi/2m)
    // are driver-computed shared double literals (the e163 idiom — no
    // engine-local inverse CDF); the step-up rank runs over the m=5
    // metric rows (domain-bounded window) and k* is a broadcast 1-row
    // scalar. At 100 TB the panel is still m rows — only the per-user
    // census pass sees the data.
    Judged("e175_fdr", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"))
      val census = ev.select("user_id").distinct()
        .select(col("user_id"),
          explode(array(fdrTypes.map(lit): _*)).as("event_type"))
      val counts = ev.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("x"))
      val perUser = census
        .join(counts, Seq("user_id", "event_type"), "left")
        .select(col("event_type"), (col("user_id") % 2).as("grp"),
          coalesce(col("x"), lit(0L)).as("x"))
      val g = perUser.groupBy("event_type", "grp")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
      def side(p: String, grp: Int) = Seq("n", "sx", "sxx").map(c =>
        max(when(col("grp") === grp, col(c))).as(s"${c}_$p"))
      val aggs = side("c", 0) ++ side("t", 1)
      val piv = g.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
      def variance(p: String) =
        (d(col(s"n_$p")) * col(s"sxx_$p") -
          d(col(s"sx_$p")) * col(s"sx_$p")) /
          (d(col(s"n_$p")) * (d(col(s"n_$p")) - lit(1.0)))
      val se = sqrt(variance("c") / col("n_c") + variance("t") / col("n_t"))
      val diff = d(col("sx_t")) / col("n_t") - d(col("sx_c")) / col("n_c")
      val scored = piv.select(col("event_type"), col("n_c"), col("n_t"),
        when(se > 0, diff / se).as("__z"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(abs(col("__z")).desc_nulls_last, col("event_type"))
      // cast each quantile literal to double (Spark parses a bare
      // decimal literal as DECIMAL; the oracle's list is DOUBLE)
      val zArr = array(fdrZcrit.map(z => expr(z).cast("double")): _*)
      val ranked = scored
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("zcrit", element_at(zArr, col("rk").cast("int")))
        .withColumn("hit",
          col("__z").isNotNull && abs(col("__z")) >= col("zcrit"))
      val kstar = broadcast(ranked.agg(
        coalesce(max(when(col("hit"), col("rk"))), lit(0L)).as("k_star")))
      ranked.crossJoin(kstar)
        .select(col("event_type"), col("n_c"), col("n_t"),
          round(col("__z"), 8).as("z"), col("rk"), col("zcrit"),
          col("hit"), col("k_star"),
          (col("rk") <= col("k_star")).as("rejected"))
    },
      fdrSql))
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench stdout framing gate — the r14 regression made permanent.
  *
  * The driver keeps only the LAST ~2000 chars of Bench's stdout. In
  * round 14 a cold host produced 24 inline outlier entries which
  * pushed the leading `{"metric":"total"` prefix out of that window
  * and the round's headline bench record was lost (`parsed:null`).
  * This spec synthesizes that exact run shape (and worse) against
  * [[Bench.headlineJson]] and asserts the three defenses: hard length
  * budget, capped outlier disclosure, headline fields last.
  */
class BenchFramingSpec extends AnyFunSuite {

  private val queries: Seq[(String, Double)] =
    (1 to 317).map(i => f"c36_stream_attribution_tws_$i%03d" -> (318 - i) / 10.0)
  private val outliers: Seq[(String, Double, Double, Double, Boolean)] =
    (1 to 24).map(i => (f"e115_bpe_apply_variant_$i%02d", 5.0 + i, 1.2, 1.1, true))
  private val probeJson =
    """"probes":{"n":17,"min":0.118,"max":0.706,"spread":5.983}"""

  private def line(fail: Seq[String] = Nil) =
    Bench.headlineJson(267.034, 317, "/root/testdata/sf0.1",
      queries, fail, probeJson, outliers, refLoaded = 317, suspect = true)

  test("r14 shape (24 outliers, 317 queries) fits the tail window") {
    val l = line()
    assert(l.length <= Bench.lineBudget, s"line ${l.length} chars")
    assert(l.length <= 2000)
  }

  test("headline fields are the LAST fields, so truncation cannot eat them") {
    val l = line()
    val tailFields = Seq("\"ref_loaded\":317", "\"suspect\":true",
      "\"n\":317", "\"value\":267.034")
    // all four must live in the final 120 chars of the line
    val tail = l.takeRight(120)
    tailFields.foreach(f => assert(tail.contains(f), s"$f not in tail: $tail"))
    assert(l.endsWith("\"value\":267.034}"))
  }

  test("inline outliers are capped with a total count; worst ratios kept") {
    val l = line()
    assert(l.contains("\"outliers_total\":24"))
    val inline = "\"name\":".r.findAllIn(l).size
    assert(inline == Bench.maxInlineOutliers, s"$inline inline outliers")
    // worst first/ref ratio is (5+24)/1.1 — entry 24 must be present,
    // entry 1 (smallest ratio) must be the one dropped
    assert(l.contains("e115_bpe_apply_variant_24"))
    assert(!l.contains("e115_bpe_apply_variant_01\""))
  }

  test("line parses as JSON with the driver-contract fields intact") {
    val l = line()
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
    assert(m.get("metric").asText == "total")
    assert(m.get("value").asDouble == 267.034)
    assert(m.get("unit").asText == "sec")
    assert(m.get("n").asInt == 317)
    assert(m.get("suspect").asBoolean)
    assert(m.get("ref_loaded").asInt == 317)
    assert(m.get("outliers_total").asInt == 24)
    assert(m.get("outliers").size == Bench.maxInlineOutliers)
    assert(m.get("queries").size > 0)
    assert(m.get("sf").asText == "/root/testdata/sf0.1")
  }

  test("pathological failed list is capped and the line still fits the window") {
    val l = line(fail = (1 to 40).map(i => f"q_failed_with_a_long_name_$i%02d"))
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
    assert(m.get("value").asDouble == 267.034)
    assert(l.endsWith("\"value\":267.034}"))
    assert(l.length <= Bench.lineBudget, s"line ${l.length} chars")
    // inline failed list is capped; the true count is disclosed
    assert(m.get("failed").size == Bench.maxInlineFailed)
    assert(m.get("failed_total").asInt == 40)
  }

  test("quotes/backslashes/control chars in names and sfDir stay parseable") {
    val evil = "/tmp/we\"ird\\dir\n"
    val l = Bench.headlineJson(1.0, 2, evil,
      Seq("q\"quote" -> 0.6, "q\\back" -> 0.4), Seq("f\"ail"),
      probeJson, Seq(("o\"ut", 2.0, 0.5, 0.4, true)),
      refLoaded = 2, suspect = false)
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
    assert(m.get("sf").asText == evil)
    assert(m.get("failed").get(0).asText == "f\"ail")
    assert(m.get("outliers").get(0).get("name").asText == "o\"ut")
    assert(m.get("queries").has("q\"quote") && m.get("queries").has("q\\back"))
  }

  test("pinned scale probes and cpus ride the line regardless of rank") {
    // q1_agg/q3_join rank far below the top 25 here (0.01 s) — they
    // must still appear in the map so the driver's low-core scaling
    // probe has core-scalable batch queries to compare, and the line
    // must say which core count produced it
    val qs = queries ++ Seq("q1_agg" -> 0.01, "q3_join" -> 0.012)
    val l = Bench.headlineJson(267.0, 319, "/root/testdata/sf0.1",
      qs.sortBy(-_._2), Nil, probeJson, Nil,
      refLoaded = 319, suspect = false, cpus = 8)
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
    assert(m.get("cpus").asInt == 8)
    assert(m.get("queries").has("q1_agg") && m.get("queries").has("q3_join"))
    assert(m.get("queries").size == 27) // top-25 + the two pins
    assert(l.length <= Bench.lineBudget)
    // when a pin IS in the topK it is not duplicated
    val l2 = Bench.headlineJson(267.0, 319, "/root/testdata/sf0.1",
      (Seq("q1_agg" -> 99.0, "q3_join" -> 98.0) ++ queries).sortBy(-_._2),
      Nil, probeJson, Nil, refLoaded = 319, suspect = false, cpus = 32)
    val m2 = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l2)
    assert(m2.get("queries").size == 25)
    assert(m2.get("queries").has("q1_agg"))
  }

  test("suspect: a run whose queries and probes all failed is never clean") {
    // the shape of an empty SPARK_GRAFT_SF_DIR with
    // SPARK_GRAFT_ONLY=q1_agg,c9_stream_window: both timed queries fail,
    // every probe fails and so none is timed, nothing passes
    assert(Bench.probeSpread(Nil) === 1.0)
    assert(Bench.suspect(Bench.probeSpread(Nil), probesFailed = 2, failed = 2, n = 0,
      unadjudicated = 0, refLoaded = 391))
    def alone(spread: Double = 1.2, probesFailed: Int = 0, failed: Int = 0,
              n: Int = 10, unadjudicated: Int = 0, refLoaded: Int = 391) =
      Bench.suspect(spread, probesFailed, failed, n, unadjudicated, refLoaded)
    assert(!alone(), "a clean run is not suspect")
    assert(alone(probesFailed = 1))
    assert(alone(failed = 1))
    assert(alone(n = 0))
    assert(alone(spread = Bench.probeSpread(Seq(0.1, 0.35))))
    assert(alone(unadjudicated = 1))
    assert(alone(refLoaded = 0))
  }

  test("clean run (zero outliers, short run) keeps the courtesy top-25 map") {
    val l = Bench.headlineJson(250.9, 317, "/root/testdata/sf0.1",
      queries, Nil, probeJson, Nil, refLoaded = 317, suspect = false)
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
    assert(m.get("queries").size == 25)
    assert(m.get("outliers_total").asInt == 0)
    assert(!m.get("suspect").asBoolean)
    assert(l.length <= Bench.lineBudget)
  }
}

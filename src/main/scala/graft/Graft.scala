package graft

import org.apache.spark.sql.SparkSession

/** graft — a Spark-native analytics engine with the data-processing
  * surface of the reference real-time ETL pipeline plus the operator
  * set a large-scale LLM-training-data pipeline needs.
  *
  * Quick start:
  * {{{
  * import graft.Graft
  *
  * // the reference's transform surface
  * val prices = Graft.transforms.latestPrices(parsedJson)
  *
  * // CDC: unwrap a Debezium topic into a typed table
  * val rows = Graft.cdc.unwrap(kafkaFrame, schema)
  *
  * // LLM-pipeline operators
  * val clean    = Graft.dedup.nearDupRemove(docs, "doc_id", "sh")
  * val clusters = Graft.dedup.connectedComponents(pairs, "id_a", "id_b")
  * val chunks   = Graft.corpus.chunkTokens(docs, "doc_id", "tk", 2048, 1792)
  * val topK     = Graft.similarity.bruteForceTopK(corpus, "id", "vec", q, 10)
  * val quality = docs.select(Graft.text.qualityFeatures(col("text")).map {
  *   case (n, c) => c.as(n) }: _*)
  *
  * // mergeable sketches and multi-criteria selection
  * val cells = Graft.sketches.countMinCells(hist, col("tok"), col("cnt"))
  * val merged = Graft.sketches.countMinMerge(Seq(cellsA, cellsB))
  * val front  = Graft.skyline.skyline2d(docs, "n_chars", "distinct_toks")
  *
  * // native codegen functions (vec_dot) on an existing session
  * Graft.registerFunctions(spark)
  * }}}
  *
  * Every operator is a declarative Catalyst plan — see SCALE.md for the
  * 100 TB design notes and COVERAGE.md for the operator-by-operator
  * correctness evidence.
  */
object Graft {
  val transforms: graft.transforms.Transforms.type = graft.transforms.Transforms
  val cdc: graft.cdc.Debezium.type = graft.cdc.Debezium
  val sinks: graft.sinks.Sinks.type = graft.sinks.Sinks
  val sources: graft.sources.FixtureSource.type = graft.sources.FixtureSource
  val poll: graft.sources.PollSource.type = graft.sources.PollSource
  val pipeline: graft.streaming.Pipeline.type = graft.streaming.Pipeline
  val ingest: graft.streaming.Ingest.type = graft.streaming.Ingest
  val admission: graft.streaming.BandAdmission.type =
    graft.streaming.BandAdmission
  val attribution: graft.streaming.Attribution.type =
    graft.streaming.Attribution
  val text: graft.operators.TextAnalysis.type = graft.operators.TextAnalysis
  val dedup: graft.operators.Dedup.type = graft.operators.Dedup
  val similarity: graft.operators.Similarity.type = graft.operators.Similarity
  val multimodal: graft.operators.Multimodal.type = graft.operators.Multimodal
  val corpus: graft.operators.Corpus.type = graft.operators.Corpus
  val asof: graft.operators.AsofJoin.type = graft.operators.AsofJoin
  val skew: graft.operators.Skew.type = graft.operators.Skew
  val catalog: graft.schemas.Catalog.type = graft.schemas.Catalog
  val quantiles: graft.operators.Quantiles.type = graft.operators.Quantiles
  val rank: graft.operators.Rank.type = graft.operators.Rank
  val incremental: graft.operators.Incremental.type =
    graft.operators.Incremental
  val zorder: graft.operators.ZOrder.type = graft.operators.ZOrder
  val heavyHitters: graft.operators.HeavyHitters.type =
    graft.operators.HeavyHitters
  val privacy: graft.operators.Privacy.type = graft.operators.Privacy
  val sketches: graft.operators.Sketches.type = graft.operators.Sketches
  val skyline: graft.operators.Skyline.type = graft.operators.Skyline

  /** The IVF vector-index lifecycle over a cell-partitioned layout:
    * `build` / `append` (streaming ingest) / `probe` (directory-pruned
    * top-k) / `compact` (per-cell, duplicates dropped at rest) — see
    * [[graft.operators.VectorIndex]].
    */
  val vectorIndex: graft.operators.VectorIndex.type =
    graft.operators.VectorIndex

  /** Register the engine's native SQL functions (`vec_dot`,
    * `vec_sign_ham`, `simhash_fold`, `bloom_might_contain`) and the
    * fold-to-kernel rewrite on a live session.
    */
  def registerFunctions(spark: SparkSession): Unit =
    graft.functions.GraftFunctions.register(spark)

  /** Catalyst rules the engine excludes, as a `spark.sql.optimizer
    * .excludedRules` value. `InferFiltersFromGenerate` synthesizes a
    * `size(gen_input) > 0 AND isnotnull(gen_input)` filter above every
    * explode and lets pushdown inline the generator input into it —
    * for this engine's generator inputs (token/shingle/hash arrays
    * built by nested lambda expressions) the inlined copy re-runs the
    * whole derivation per ELEMENT access, turning a narrow map into
    * O(array length) re-tokenizations per row (measured 18× on the
    * sf0.1 shingle explode: 14.2 s → 0.8 s). The filter only skips
    * empty-array rows, which our sources don't produce in volume, so
    * excluding the rule is pure win. Apply on any session that runs
    * graft operators:
    * {{{ .config("spark.sql.optimizer.excludedRules",
    *             Graft.excludedOptimizerRules) }}}
    */
  val excludedOptimizerRules: String =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Apply the engine's session-level optimizer policy to a live
    * session (runtime-settable conf; no restart needed). Appends to any
    * exclusions the embedding application already set — never replaces
    * them.
    */
  def tune(spark: SparkSession): SparkSession = {
    val existing = spark.conf.getOption("spark.sql.optimizer.excludedRules")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val merged = (existing ++ excludedOptimizerRules.split(",").map(_.trim))
      .distinct.mkString(",")
    spark.conf.set("spark.sql.optimizer.excludedRules", merged)
    spark
  }
}

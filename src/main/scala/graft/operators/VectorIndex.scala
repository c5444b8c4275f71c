package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The IVF vector-index LIFECYCLE over a cell-partitioned parquet
  * layout — the 100 TB ANN serving shape SCALE.md prescribes, as a
  * library operator a pipeline calls directly:
  *
  *   1. [[build]]   — cell-assign the corpus and write it
  *                    `PARTITIONED BY ivf_cell` (pay the write once
  *                    when the index lands).
  *   2. [[append]]  — streaming-ingest maintenance: assign each
  *                    micro-batch of new vectors and APPEND into the
  *                    same layout; the index accepts appends and never
  *                    rebuilds. An at-least-once retry duplicates
  *                    rows; probe with `dedupKey = true` until the
  *                    next compaction (duplicate rows are identical,
  *                    so the pick is deterministic).
  *   3. [[probe]]   — the pruned read: a LITERAL `isin` on the probed
  *                    cells becomes static directory pruning, so a
  *                    1000-executor scan planner lists only
  *                    `nprobe / k` of the corpus before a byte moves.
  *   4. [[compact]] — per-cell rewrite (narrow `coalesce(1)`, never a
  *                    cluster-wide exchange) that drops duplicate keys
  *                    AT REST: post-compaction probes need no
  *                    read-side dedup and read one file per probed
  *                    cell.
  *
  * Judged end to end by `e178_ivf_pruned_probe` /
  * `c48_stream_index_append` / `e181_index_compact` (all on the same
  * nprobe=2 oracle — layout and maintenance change cost, never
  * answers) and plan-gated in PlanAuditSpec (`PartitionFilters` on
  * `ivf_cell`, ≤ nprobe selected files post-compaction).
  */
object VectorIndex {

  /** `corpus` with its `ivf_cell` against `centroids`. */
  def assign(corpus: DataFrame, vecCol: String,
             centroids: Seq[Seq[Float]]): DataFrame =
    corpus.withColumn("ivf_cell", Similarity.ivfCell(col(vecCol), centroids))

  /** Cell-assign `corpus` against `centroids` and write it
    * partitioned by `ivf_cell` at `path`.
    */
  def build(corpus: DataFrame, vecCol: String,
            centroids: Seq[Seq[Float]], path: String,
            mode: String = "overwrite"): Unit =
    assign(corpus, vecCol, centroids)
      .write.mode(mode).partitionBy("ivf_cell").parquet(path)

  /** Streaming-ingest maintenance: assign a (micro-)batch of new
    * vectors and APPEND into an existing layout. Call from
    * `foreachBatch`; retries leave duplicate rows that [[probe]]'s
    * `dedupKey` absorbs until the next [[compact]].
    */
  def append(batch: DataFrame, vecCol: String,
             centroids: Seq[Seq[Float]], path: String): Unit =
    build(batch, vecCol, centroids, path, mode = "append")

  /** Driver-side probe-cell selection for one query vector:
    * left-to-right double fold of the cosine, ties to the HIGHER
    * index — the same total order [[Similarity.ivfCell]]'s
    * greatest-struct realizes, so element 0 is always the query's own
    * cell. Driver-side because the partition filter must be a LITERAL
    * for the scan planner to prune directories statically. Cosine is
    * undefined on a zero-norm vector (NaN score): supply nonzero
    * `q`/`centroids`, as any trained or [[Similarity.syntheticCentroids]]
    * set is.
    */
  def probeCells(q: Seq[Float], centroids: Seq[Seq[Float]],
                 nprobe: Int): Seq[Int] = {
    def score(c: Seq[Float]): Double = {
      val dot = c.zip(q).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(c.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(q.map(x => x.toDouble * x.toDouble).sum))
    }
    centroids.zipWithIndex
      .map { case (c, i) => (score(c), i) }
      .sortBy { case (sc, i) => (-sc, -i) }
      .take(nprobe).map(_._2)
  }

  /** Pruned top-k probe over the layout: scans ONLY the probed cells
    * (literal `isin` → static directory pruning), exact cosine
    * within, deterministic ties by id. `dedupKey = true` reads
    * through `dropDuplicates(idCol)` — required between an
    * at-least-once [[append]] retry and the next [[compact]].
    * `extraFilter` narrows the candidate set (e.g. excluding the
    * query vector itself).
    */
  def probe(spark: SparkSession, path: String, q: Seq[Float],
            probedCells: Seq[Int], k: Int, idCol: String, vecCol: String,
            dedupKey: Boolean = false,
            extraFilter: Column = lit(true)): DataFrame = {
    val qe = array(q.map(v => lit(v)): _*)
    val base = spark.read.parquet(path)
      .where(col("ivf_cell").isin(probedCells: _*) && extraFilter)
    val cand = if (dedupKey) base.dropDuplicates(idCol) else base
    cand
      .select(col(idCol), Similarity.cosine(col(vecCol), qe).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Per-cell compaction: rewrite each `ivf_cell=` directory of
    * `path` into ONE file under `outPath`, dropping duplicate
    * `idCol` rows at rest. Each cell is its own narrow job (leaf-dir
    * read → `dropDuplicates` → `coalesce(1)` → leaf-dir write) —
    * never a cluster-wide exchange; at 100 TB a maintenance scheduler
    * runs this only for cells whose file count crossed a threshold,
    * exactly how segmented ANN indexes (and LSM stores) compact.
    * Returns the compacted cell directory names.
    */
  def compact(spark: SparkSession, path: String, outPath: String,
              idCol: String): Seq[String] = {
    val cellDirs = new java.io.File(path).listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("ivf_cell="))
      .map(_.getName).sorted
    cellDirs.foreach { cd =>
      spark.read.parquet(s"$path/$cd").dropDuplicates(idCol)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outPath/$cd")
    }
    cellDirs
  }
}

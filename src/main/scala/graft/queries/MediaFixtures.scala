package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Multimodal
import graft.queries.Tables.t

/** Durable-staged media fixtures — encode ONCE per (sf × testdata
  * fingerprint), read many. The PNG/WAV/GIF encode passes are the
  * most expensive per-row work in the whole suite (codec init, raster
  * build, container write); before staging, each media query re-ran
  * its encode from scratch (~12 s combined per suite run at sf0.1,
  * ~8 s of it redundant). This is the reference's own shape — media
  * is ingested/encoded once and queried many times (etl.py:114-179
  * runs one transform per poll cycle, never re-acquires) — and the
  * same checkpoint discipline the MinHash signature and rank-span
  * stages already use: at 100 TB the encoded corpus is a durable
  * table, and decode-side queries scan it.
  *
  * The encoders run inside `mapPartitions`, which no plan digest can
  * see, so each stage is keyed on its input (documents) alone: a
  * regenerated documents.parquet invalidates every staged payload,
  * and an edit to an encoder must bump `Stage.layoutVersion`.
  */
object MediaFixtures {
  private def encoded(s: SparkSession, dir: String, name: String)
                     (encode: DataFrame => DataFrame): DataFrame = {
    val docs = t(s, dir, "documents")
    Stage.durableFrame(s, name, dir, inputs = Seq(docs))(encode(docs))
  }

  /** Grayscale PNG per doc (see [[Multimodal.fixtureFromDocuments]]). */
  def png(s: SparkSession, dir: String): DataFrame =
    encoded(s, dir, "media-png")(Multimodal.fixtureFromDocuments)

  /** 8 kHz PCM WAV per doc (see [[Multimodal.audioFixtureFromDocuments]]). */
  def wav(s: SparkSession, dir: String): DataFrame =
    encoded(s, dir, "media-wav")(Multimodal.audioFixtureFromDocuments)

  /** Animated GIF per doc (see [[Multimodal.videoFixtureFromDocuments]]). */
  def gif(s: SparkSession, dir: String): DataFrame =
    encoded(s, dir, "media-gif")(Multimodal.videoFixtureFromDocuments)
}

package graft

import java.security.MessageDigest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, explode, length}

/** Driver-side reference code the specs share: the fixture they read,
  * the judged-query runner, and the plain-Scala recounts their
  * assertions compare the engine against.
  */
object Recount {
  private def spark = SparkTestSession.session

  /** The sf0.001 fixture the recounts read. */
  val dir = "/root/testdata/sf0.001"

  /** The judged query `name` over the fixture at `sf`. */
  def query(name: String, sf: String = dir): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** documents as (doc_id, text, lang, source). */
  def docs(): Array[(Long, String, String, String)] =
    graft.queries.Tables.t(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))

  /** embeddings as (vec_id, vector), the query vector (vec_id 0) included. */
  def embeddings(): Array[(Long, Array[Float])] =
    graft.queries.Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

  /** `TextAnalysis.tokens` on the driver: lower-cased [a-z0-9] runs. */
  def toks(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  def md5Bytes(s: String): Array[Byte] =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))

  def md5hex(s: String): String = md5Bytes(s).map("%02x".format(_)).mkString

  /** The first `digits` hex digits of md5(s), as a number. */
  def md5Prefix(s: String, digits: Int): Long =
    java.lang.Long.parseLong(md5hex(s).take(digits), 16)

  /** Left-to-right double fold from 0.0: the engine's and the oracle's
    * order, so a recount is bit-equal, not merely close.
    */
  def dot(a: collection.Seq[Float], b: collection.Seq[Float]): Double =
    a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)

  def cosine(a: collection.Seq[Float], b: collection.Seq[Float]): Double =
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

  /** The fixed-point pair dot: each product floored at 1e7. */
  def dotFixed(a: collection.Seq[Float], b: collection.Seq[Float]): Long =
    a.zip(b).foldLeft(0L)((acc, p) =>
      acc + math.floor(p._1.toDouble * p._2.toDouble * 1e7).toLong)

  def cosFixed(a: collection.Seq[Float], b: collection.Seq[Float]): Double =
    (dotFixed(a, b).toDouble / 1e7) /
      (math.sqrt(dotFixed(a, a).toDouble / 1e7) *
        math.sqrt(dotFixed(b, b).toDouble / 1e7))

  /** Corpus word histogram (words of length >= 2), driver side. */
  def wordHist: Seq[(String, Long)] =
    graft.queries.Tables.t(spark, dir, "documents")
      .select(explode(
        graft.operators.TextAnalysis.tokens(col("text"))).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq

  /** Greedy left-to-right BPE merge of (a, b) over a symbol list. */
  def applyMerge(syms: List[String], a: String, b: String)
      : List[String] = syms match {
    case x :: y :: rest if x == a && y == b =>
      (a + b) :: applyMerge(rest, a, b)
    case x :: rest => x :: applyMerge(rest, a, b)
    case Nil => Nil
  }
}

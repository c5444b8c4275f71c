package graft

import org.apache.spark.sql.functions._
import graft.operators.{Corpus, Similarity}

/** Unit coverage for the round-8 third-wave shapes on handcrafted
  * frames: the SemDeDup keep-peripheral rule and boilerplate segment
  * removal/reassembly.
  */
class Surface13Spec extends SparkSpec {
  import spark.implicits._

  test("semdedup rule removes the centroid-closer member of a pair") {
    // centroid c0 = (1, 0); a is nearly on it, b is 30° off but still
    // cos(a,b) ≈ 0.87 ≥ τ=0.8 → pair fires, a (closer to c0) removed
    val cents = Seq(Seq(1f, 0f), Seq(0f, 1f))
    val vecs = Seq(
      (1L, Seq(0.99f, 0.01f)),
      (2L, Seq(0.87f, 0.5f)),
      (3L, Seq(0.1f, 0.99f))).toDF("vec_id", "embedding")
    val e = vecs.select(col("vec_id"), col("embedding"),
      Similarity.ivfCell(col("embedding"), cents).cast("long").as("cell"),
      Similarity.ivfCellScore(col("embedding"), cents).as("cscore"))
    val a = e.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("ea"), col("cscore").as("sa"))
    val b = e.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("eb"), col("cscore").as("sb"))
    val removed = a.join(b, Seq("cell")).where(col("id_a") < col("id_b"))
      .where(Similarity.cosine(col("ea"), col("eb")) >= 0.8)
      .select(when(col("sa") > col("sb"), col("id_a"))
        .otherwise(col("id_b")).as("vec_id"))
      .distinct().as[Long].collect().toSet
    assert(removed == Set(1L)) // vec 1 is closer to its centroid than 2
  }

  test("ivfCellScore is the cosine to the assigned (nearest) centroid") {
    val cents = Seq(Seq(1f, 0f), Seq(0f, 1f))
    val r = Seq((1L, Seq(0f, 2f))).toDF("vec_id", "embedding")
      .select(Similarity.ivfCell(col("embedding"), cents).as("cell"),
        Similarity.ivfCellScore(col("embedding"), cents).as("s"))
      .as[(Int, Double)].collect().head
    assert(r._1 == 1 && math.abs(r._2 - 1.0) < 1e-12)
  }

  test("segmentDedup removes cross-doc segments and reassembles order") {
    val docs = Seq(
      (1L, "a b c d x1 x2 x3 x4"), // seg0 "a b c d" shared, seg1 unique
      (2L, "a b c d y1 y2 y3 y4"),
      (3L, "z1 z2 z3 z4 q1 q2 q3 q4")).toDF("doc_id", "text")
    val out = Corpus.segmentDedup(docs, "doc_id", "text",
        segTokens = 4, minDocs = 2)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, "x1 x2 x3 x4", 2L, 1L)))
    assert(out(2L) == ((2L, "y1 y2 y3 y4", 2L, 1L)))
    assert(out(3L) == ((3L, "z1 z2 z3 z4 q1 q2 q3 q4", 2L, 0L)))
  }

  test("segmentDedup keeps a fully-boilerplate doc as an empty row") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"),
      (3L, "u v w x a b c d")).toDF("doc_id", "text")
    val out = Corpus.segmentDedup(docs, "doc_id", "text", 4, 2)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, "", 1L, 1L)))
    assert(out(3L) == ((3L, "u v w x", 2L, 1L)))
  }
}

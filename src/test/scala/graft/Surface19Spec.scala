package graft

import org.apache.spark.sql.functions._
import Recount._

/** Invariants for the round-11 third wave. */
class Surface19Spec extends SparkSpec {
  test("AudioCodec: WAV encode -> decode is an exact PCM round trip") {
    import graft.operators.Multimodal.AudioCodec
    val samples = Array.tabulate(160)(i =>
      ((i * 4093 + 11) % 65536 - 32768).toShort)
    val (rate, decoded) = AudioCodec.decodePcmWav(
      AudioCodec.encodePcmWav(samples, 8000))
    assert(rate == 8000)
    assert(decoded.toSeq == samples.toSeq)
  }

  test("e101_audio_stats: columns agree with a direct driver-side " +
    "recompute of the fixture signal") {
    val rows = query("e101_audio_stats")
      .orderBy("doc_id").limit(5).collect()
    val docs = graft.queries.Tables.t(spark, dir, "documents")
      .select("doc_id", "text", "n_chars").orderBy("doc_id").limit(5)
      .collect()
    docs.zip(rows).foreach { case (d, r) =>
      val dig = md5Bytes(d.getString(1))
      val n = (d.getLong(2) % 96 + 32).toInt
      val s = Array.tabulate(n)(i => (dig(i % 16) & 0xff) * 257 - 32768)
      assert(r.getLong(1) == n)
      assert(r.getLong(3) == n * 125L)
      assert(r.getLong(4) == s.map(math.abs).max)
      assert(r.getLong(5) == s.map(_.toLong).sum)
      assert(r.getLong(6) == s.map(v => v.toLong * v).sum)
      assert(r.getLong(7) ==
        s.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)))
    }
  }

  test("VideoCodec: animated-GIF encode -> decode is an exact " +
    "multi-frame round trip") {
    import graft.operators.Multimodal.VideoCodec
    val (w, h) = (11, 4)
    val frames = (0 until 5).map(f =>
      Array.tabulate(w * h)(i => ((i * 7 + f * 31) % 256).toByte))
    val decoded = VideoCodec.decodeGrayGifFrames(
      VideoCodec.encodeGrayGif(frames, w, h))
    assert(decoded.length == frames.length)
    decoded.zip(frames).foreach { case ((dw, dh, px), want) =>
      assert((dw, dh) == (w, h))
      assert(px.toSeq == want.toSeq)
    }
  }

  test("e103_ks_pairs: D in [0, 1], 10 unordered pairs, and the " +
    "KS identity D = sup|F1 - F2| holds on a driver recompute") {
    val rows = query("e103_ks_pairs").collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val d = r.getDouble(5)
      assert(d >= 0.0 && d <= 1.0)
      assert(r.getString(0) < r.getString(1), "pairs are ordered a < b")
    }
    // Recompute one pair's statistic directly from the raw values.
    val ev = graft.queries.Tables.events(spark, dir)
      .select(col("event_type"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    val (a, b) = ("click", "view")
    val xs = ev.filter(_._1 == a).map(_._2).sorted
    val ys = ev.filter(_._1 == b).map(_._2).sorted
    val grid = (xs ++ ys).distinct.sorted
    val dExp = grid.map { v =>
      math.abs(xs.count(_ <= v).toLong * ys.length -
        ys.count(_ <= v).toLong * xs.length)
    }.max
    val row = rows.find(r => r.getString(0) == a && r.getString(1) == b).get
    assert(row.getLong(4) == dExp,
      s"d_num($a,$b): got ${row.getLong(4)} expected $dExp")
  }

  test("e100_gini: coefficient in [0, 1), one row per language") {
    val rows = query("e100_gini").collect()
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
    rows.foreach { r =>
      val g = r.getDouble(2)
      assert(g >= 0.0 && g < 1.0, s"lang=${r.getString(0)} gini=$g")
    }
    // Hand-check one language against the textbook formula on the
    // driver (the domain is tiny — this is the defining identity, not
    // a second engine).
    val lang = rows.head.getString(0)
    val xs = graft.queries.Tables.t(spark, dir, "documents")
      .where(col("lang") === lang)
      .groupBy("source").agg(sum("n_chars").as("x"))
      .collect().map(_.getLong(1)).sorted
    val n = xs.length.toLong
    val sx = xs.sum
    val six = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    val expected = (2.0 * six - (n + 1) * sx) / (n.toDouble * sx)
    val got = rows.find(_.getString(0) == lang).get.getDouble(2)
    assert(math.abs(got - expected) < 1e-12,
      s"gini($lang): got $got expected $expected")
  }
}

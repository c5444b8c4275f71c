package graft

import graft.operators.Bpe
import graft.queries.TokenizerQueries
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The BPE training kernel: tie-break order, greedy replace, early stop,
  * and the one-task wiring's job count.
  */
class BpeSpec extends SparkSpec {
  private def enc(w: String) = "  " + w.map(_.toString).mkString("  ") + "  "
  private def types(ws: (String, Long)*) = ws.map { case (w, c) => (enc(w), c) }

  test("kernel: (n desc, a, b) tie-break and greedy self-pair chains") {
    // (a,a)=3 from aaaa; (a,b)=2 ties (b,a)=2 (abab + ba) and (a,c)=2
    val merges = Bpe.train(
      types(("aaaa", 1L), ("abab", 1L), ("ba", 1L), ("ac", 2L)), 8)
    assert(merges == Seq(
      (1L, "a", "a", 3L),   // aaaa -> aa aa (greedy, not aa a a)
      (2L, "a", "b", 2L),   // tie at 2: left a < b, right b < c; abab -> ab ab
      (3L, "a", "c", 2L),   // now alone at 2
      (4L, "aa", "aa", 1L), // three-way tie at 1: aa < ab < b
      (5L, "ab", "ab", 1L),
      (6L, "b", "a", 1L)))
  }

  test("kernel: left/right compare in Spark's UTF-8 byte order, " +
    "not UTF-16") {
    import spark.implicits._
    val (bmp, astral) = ("Ａ", "😀") // U+FF21 vs U+1F600
    assert(astral.compareTo(bmp) < 0) // UTF-16 puts the emoji first
    val sparkFirst = Seq(astral, bmp).toDF("a").orderBy("a").as[String].head()
    val m1 = Bpe.train(Seq((s"  $astral  x  ", 1L), (s"  $bmp  x  ", 1L)), 1)
    assert(sparkFirst == bmp && m1 == Seq((1L, bmp, "x", 1L)))
  }

  test("kernel: a pair count that overflows a long throws, as ANSI " +
    "sum does") {
    intercept[ArithmeticException](
      Bpe.train(types(("ab", Long.MaxValue), ("ab", 1L)), 1))
  }

  test("training stops when no pair is left") {
    import spark.implicits._
    val hist = types(("ab", 3L), ("cd", 2L)).toDF("s", "cnt")
    assert(TokenizerQueries.bpeMerges(hist, 5) ==
      Seq((1L, "a", "b", 3L), (2L, "c", "d", 2L)))
    assert(TokenizerQueries.bpeMergesBatched(hist, 5, 1, 1).size == 2)
  }

  test("training is one Spark job whatever the merge count") {
    import spark.implicits._
    val hist = types(("abcdefghijklmnopqrstuvwxyz0123456789", 2L),
      ("abab", 3L), ("aaaa", 1L)).toDF("s", "cnt")
    val tagKey = "graft.spec.bpe"
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tagKey)))
          .foreach(tags.add)
    }
    val sc = spark.sparkContext
    def tagged[T](tag: String)(body: => T): T = {
      sc.setLocalProperty(tagKey, tag)
      try body finally sc.setLocalProperty(tagKey, null)
    }
    def jobsFor(iters: Int): Int = {
      assert(tagged(s"train-$iters")(
        TokenizerQueries.bpeMerges(hist, iters)).size == iters)
      // listener events arrive in order: once the sentinel job's start
      // is seen, every job start before it has been delivered
      tagged(s"sentinel-$iters")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!tags.contains(s"sentinel-$iters") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(tags.contains(s"sentinel-$iters"))
      tags.toArray.count(_ == s"train-$iters")
    }
    sc.addSparkListener(listener)
    try {
      val (j4, j32) = (jobsFor(4), jobsFor(32))
      assert(j4 == j32 && j4 >= 1 && j4 <= 2, s"jobs: iters=4 $j4, iters=32 $j32")
    } finally sc.removeSparkListener(listener)
  }
}

package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

/** BPE merge training over a word-type histogram, as one sequential
  * program — the way reference BPE learners (Sennrich et al., ACL 2016)
  * run the whole merge schedule in one process over a word-count table.
  * The histogram is vocabulary-bounded at any corpus size, so the
  * engine runs this kernel inside ONE Spark task: training is one job
  * whatever the merge count, with no per-round job and no lineage to
  * cut.
  *
  * Symbol-state encoding: each word's current segmentation is a
  * DOUBLE-SPACE-joined string padded with two spaces at each end
  * ("␣␣a␣␣b␣␣…"), so applying merge (a,b) is ONE
  * `replace(s, "␣a␣␣b␣", "␣ab␣")`: the pattern anchors each symbol with
  * one space per side (no token-suffix false matches) while consuming
  * only the INNER half of every double separator, so left-to-right
  * non-overlapping replace is exactly BPE's greedy merge scan, chains
  * included ("a a a" → "aa a", "a b a b" → "ab ab"). The apply chain of
  * e115/e164 and the DuckDB oracle use the same encoding and replace.
  *
  * Every step copies the semantics of the Spark plan the oracle judges,
  * so each merge table is bit-identical to the oracle's:
  *  - `trim` strips only U+0020 and `split(…, "  ")` keeps trailing
  *    empty strings (`split("  ", -1)`);
  *  - `String.replace` is left-to-right and non-overlapping, like
  *    `UTF8String.replace`;
  *  - pairs rank by (count desc, left, right), strings compared in
  *    UTF-8 unsigned-byte order (`UTF8String.compareTo`), not UTF-16;
  *  - pair counts sum with `Math.addExact`, as an ANSI `sum` throws on
  *    overflow.
  *
  * `types` are (symbol state, corpus count) rows; merges are
  * (merge_idx, left, right, weighted pair count). Training stops early
  * once no word has two symbols left (the oracle's `top{i}` is empty
  * from then on).
  */
object Bpe {

  /** Sequential argmax schedule (e113/e164): each merge is the top
    * ranked pair of the state left by the merges before it. This is the
    * batched schedule with a one-pair window — rank 1 always survives
    * the selection, so each pass applies exactly the argmax.
    */
  def train(types: Seq[(String, Long)], iters: Int)
      : Seq[(Long, String, String, Long)] =
    trainBatched(types, iters, 1, 1).map { case (i, _, a, b, n) => (i, a, b, n) }

  /** Disjoint-window schedule (e177): each pass ranks the pair counts
    * ONCE and applies up to `m` pairwise-symbol-disjoint merges from the
    * top-`window` ranked pairs, in rank order. A window pair survives
    * iff NO strictly higher-ranked window pair shares a symbol with it
    * (conflict is vs ALL higher-ranked pairs, not only kept ones — the
    * rule a NOT EXISTS self-join states identically in SQL); the first
    * `m` survivors apply. Disjoint pairs' counts are invariant under
    * each other's application, so every recorded count is the pair's
    * true count when it applies.
    *
    * Returns (global merge_idx, pass, left, right, pair count) in
    * application order.
    */
  def trainBatched(types: Seq[(String, Long)], passes: Int, m: Int,
      window: Int): Seq[(Long, Long, String, String, Long)] = {
    var state = types
    val out = Seq.newBuilder[(Long, Long, String, String, Long)]
    var idx = 0L
    var exhausted = false
    for (p <- 1 to passes if !exhausted) {
      val win = pairCounts(state).toArray.sorted(rank).take(window)
      exhausted = win.isEmpty
      val chosen = win.zipWithIndex.filter { case ((a, b, _), i) =>
        !win.take(i).exists { case (xa, xb, _) =>
          xa == a || xa == b || xb == a || xb == b }
      }.map(_._1).take(m)
      for ((a, b, n) <- chosen) {
        idx += 1; out += ((idx, p.toLong, a, b, n))
      }
      state = state.map { case (s, cnt) =>
        (chosen.foldLeft(s) { case (t, (a, b, _)) =>
          t.replace(s" $a  $b ", s" $a$b ") }, cnt)
      }
    }
    out.result()
  }

  /** Adjacent-symbol pair counts weighted by corpus count. */
  private def pairCounts(state: Seq[(String, Long)])
      : Iterable[(String, String, Long)] = {
    val n = scala.collection.mutable.HashMap.empty[(String, String), Long]
    for ((s, cnt) <- state) {
      val tk = trimSpaces(s).split("  ", -1)
      for (j <- 0 until tk.length - 1) {
        val k = (tk(j), tk(j + 1))
        n(k) = n.get(k).fold(cnt)(Math.addExact(_, cnt))
      }
    }
    n.map { case ((a, b), c) => (a, b, c) }
  }

  private def trimSpaces(s: String): String = {
    val i = s.indexWhere(_ != ' ')
    if (i < 0) "" else s.substring(i, s.lastIndexWhere(_ != ' ') + 1)
  }

  private val utf8Order: Ordering[String] = (x, y) =>
    java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8))

  /** (count desc, left, right), strings in UTF-8 unsigned-byte order. */
  private val rank: Ordering[(String, String, Long)] =
    Ordering.Tuple3(Ordering.Long.reverse, utf8Order, utf8Order)
      .on { case (a, b, n) => (n, a, b) }
}

package graft

import org.apache.spark.sql.functions._

/** Driver-side first-principles recounts for the round-19 wave:
  * the cell-partitioned IVF probe, SemDeDup at
  * the production k=16 regime, and incremental connected components.
  */
class Surface29Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("e178: the pruned-layout probe returns exactly the unpruned " +
    "nprobe=2 result (layout changes cost, never answers)") {
    val pruned = SparkEntry.queries("e178_ivf_pruned_probe")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val unpruned = SparkEntry.queries("e33_ivf_probe2")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pruned == unpruned,
      s"pruned $pruned != unpruned $unpruned")
  }

  test("e179: k=16 cell assignment, cohesion score, and keep/prune " +
    "decisions match a driver-side brute-force recount") {
    val out = SparkEntry.queries("e179_semdedup_k16")(spark, dir)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    val vecs = graft.queries.Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toIndexedSeq).toMap
    val cents = graft.operators.Similarity.syntheticCentroids(16, 64)
    // left-to-right double folds — the engine's (and oracle's) order
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val assigned = vecs.map { case (id, v) =>
      val scores = cents.map(c => cos(v, c))
      val mx = scores.max
      // greatest(struct(score, idx)): ties to the HIGHER index
      id -> ((scores.lastIndexOf(mx).toLong, mx))
    }
    val pruned = scala.collection.mutable.Set[Long]()
    for (ida <- vecs.keys; idb <- vecs.keys
         if ida < idb && assigned(ida)._1 == assigned(idb)._1) {
      val c = dot(vecs(ida), vecs(idb)) /
        (math.sqrt(dot(vecs(ida), vecs(ida))) *
          math.sqrt(dot(vecs(idb), vecs(idb))))
      if (c > 0.3) {
        val (ca, cb) = (assigned(ida)._2, assigned(idb)._2)
        pruned += (if (ca > cb) ida
          else if (ca < cb) idb else math.max(ida, idb))
      }
    }
    assert(out.keySet == vecs.keySet)
    out.foreach { case (id, (cell, cscore, keep)) =>
      assert(cell == assigned(id)._1, s"vec $id cell")
      assert(math.abs(cscore - assigned(id)._2) < 1e-8, s"vec $id cscore")
      assert(keep == !pruned.contains(id), s"vec $id keep")
    }
    // the k=16 regime is real: multiple cells occupied, and something
    // was actually pruned (non-degenerate fixture)
    assert(assigned.values.map(_._1).toSet.size > 4)
    assert(pruned.nonEmpty)
  }

  test("e180: the delta path reproduces e15's from-scratch clustering " +
    "of the full candidate graph, row for row") {
    val delta = SparkEntry.queries("e180_components_delta")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val scratch = SparkEntry.queries("e15_components")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(delta == scratch,
      s"delta-only ${delta -- scratch}; scratch-only ${scratch -- delta}")
  }

  test("connectedComponentsDelta: toy — a new node bridges two " +
    "standing components; a delta-only pair forms its own; " +
    "re-applying the same delta is a no-op (retry idempotence)") {
    import spark.implicits._
    val base = Seq((1L, 2L), (5L, 6L)).toDF("a", "b")
    val labels = graft.operators.Dedup.connectedComponents(base, "a", "b")
    val delta = Seq((2L, 9L), (9L, 6L), (7L, 8L)).toDF("a", "b")
    val once = graft.operators.Dedup
      .connectedComponentsDelta(labels, delta, "a", "b")
    val out = once.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L,
      9L -> 1L, 7L -> 7L, 8L -> 7L), s"got $out")
    // the c47 retry argument: edges already absorbed contract to
    // intra-component pairs, so a second application changes nothing
    val twice = graft.operators.Dedup
      .connectedComponentsDelta(
        once.select(col("id"), col("component")), delta, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(twice == out, s"re-apply changed labels: $twice")
  }

  test("c48: the post-ingest pruned probe over the appended layout " +
    "equals e178's all-at-once batch index — stream equals batch") {
    val stream = SparkEntry.queries("c48_stream_index_append")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = SparkEntry.queries("e178_ivf_pruned_probe")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stream == batch, s"stream $stream != batch $batch")
  }

  test("e181: the probe over the compacted index equals e178's " +
    "over the freshly-built one — maintenance never changes answers") {
    val compacted = SparkEntry.queries("e181_index_compact")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fresh = SparkEntry.queries("e178_ivf_pruned_probe")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(compacted == fresh, s"compacted $compacted != fresh $fresh")
  }

  test("c49: the checkpoint's state store contents equal the batch " +
    "aggregate — the engine's internals, not just its output") {
    val state = SparkEntry.queries("c49_state_audit")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val batch = graft.queries.Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 1000).cast("long")).as("value_m"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(state == batch, s"state $state != batch $batch")
  }

  test("c50: the TWS ValueState contents equal the batch arg_max — " +
    "custom state judged like engine buffers") {
    val state = SparkEntry.queries("c50_tws_state_audit")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .toSet
    val batch = graft.queries.Tables.events(spark, dir)
      .select(concat(col("event_type"), lit("-"),
          (col("user_id") % 64).cast("string")).as("key"),
        col("event_id").as("seq"), col("value"))
      .groupBy("key")
      .agg(max_by(col("value"), col("seq")).as("last_value"),
        count(lit(1)).as("n_seen"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .toSet
    assert(state == batch, s"state size ${state.size} != batch recount")
  }

  test("e182: the spliced table equals a first-principles full " +
    "aggregate, and the late slice was genuinely non-empty") {
    val out = SparkEntry.queries("e182_backfill_overwrite")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val ev = graft.queries.Tables.events(spark, dir)
      .select(col("event_id"),
        to_date(col("ts")).cast("string").as("day"), col("event_type"),
        floor(col("value") * 1000).cast("long").as("vm"))
    val full = ev.groupBy("day", "event_type")
      .agg(count(lit(1)).as("cnt"), sum(col("vm")).as("value_m"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(out == full, "spliced table diverged from the full aggregate")
    // the backfill must have had something to splice: the fixture's
    // late slice (event_id % 5 == 0 on the last two days) is non-empty
    val days = ev.select("day").distinct().orderBy(col("day").desc)
      .limit(2).collect().map(_.getString(0)).toSeq
    val late = ev.where(col("day").isin(days: _*) &&
      col("event_id") % 5 === 0).count()
    assert(late > 0, "late slice empty — the splice was a no-op")
  }

  test("c47: the streamed two-chunk merge lands on exactly e180's " +
    "(= e15's) table — stream equals batch") {
    val stream = SparkEntry.queries("c47_stream_components")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = SparkEntry.queries("e180_components_delta")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stream == batch,
      s"stream-only ${stream -- batch}; batch-only ${batch -- stream}")
  }
}

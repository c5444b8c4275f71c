package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for LLM-data pipelines (north star §2.6):
  * exact, MinHash+LSH banding, SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB): every path is group-by/join on a derived key —
  * never an all-pairs comparison. Exact dedup is one hash exchange on the
  * key; MinHash banding turns near-dup search into an equi-join on band
  * buckets (candidate pairs only); SimHash reduces a document to one
  * 32-bit key groupable/joinable at any scale. The only quadratic
  * operator, [[ngramJaccardPairs]], is for verifying candidate pairs and
  * must be fed a bounded candidate set (e.g. LSH bucket mates), not a
  * corpus.
  */
object Dedup {

  /** Exact dedup: keep one row (min of `keep`) per equal `key`, with the
    * duplicate count — `dropDuplicates` plus lineage. One shuffle.
    */
  def exact(df: DataFrame, key: Column, keep: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(keep).as("kept"), count(lit(1)).as("n_copies"))

  /** Universal-hash MinHash parameters: k deterministic (a, b) pairs for
    * h_j(x) = (a·x + b) mod P. Seeded constants baked into the plan as
    * literals — identical on every executor and reproducible in SQL.
    */
  val minhashPrime: Long = 4294967311L // smallest prime > 2^32

  def minhashParams(k: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(k)((rnd.nextInt(Int.MaxValue - 1).toLong + 1,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** 32-bit base hash of a shingle (md5 computed ONCE per shingle; the k
    * signatures are cheap linear permutations of it — a·x < 2^63, no
    * overflow).
    */
  def shingleHash(s: Column): Column =
    conv(substring(md5(s.cast(BinaryType)), 1, 8), 16, 10).cast(LongType)

  /** k MinHash signatures from a PRE-PROJECTED shingle-hash array
    * column (see [[tokenHashes]]): min over shingles of (a_j·h + b_j)
    * mod P — k multiply-add passes over longs, md5 not re-run.
    * Engine-portable (exact integer arithmetic) and order-independent.
    */
  def minhashSignaturesFromHashes(hashes: Column, k: Int): Seq[Column] =
    minhashParams(k).zipWithIndex.map { case ((a, b), j) =>
      array_min(transform(hashes,
        h => (lit(a) * h + lit(b)) % minhashPrime)).as(s"sig_$j")
    }

  /** Single-expression convenience form. Expression trees duplicate
    * (no CSE across lambdas), so in hot paths project
    * [[tokenHashes]] first and use [[minhashSignaturesFromHashes]] —
    * otherwise the md5 pass runs k times.
    */
  def minhashSignatures(shingles: Column, k: Int): Seq[Column] =
    minhashSignaturesFromHashes(transform(shingles, s => shingleHash(s)), k)

  /** LSH band keys from minhash signature columns: `bands` groups of
    * `rowsPerBand` signatures hashed together. Docs sharing any band key
    * are near-dup candidates. The band INDEX is folded into the hash so
    * equal signature values in different band positions land in
    * different buckets — without it, cross-band value collisions
    * manufacture candidate pairs the (band, key) model never intended.
    */
  def bandKeys(sigCols: Seq[Column], bands: Int): Seq[Column] = {
    val rowsPerBand = sigCols.size / bands
    (0 until bands).map { b =>
      md5(concat_ws("_",
        lit(b.toString) +:
          sigCols.slice(b * rowsPerBand, (b + 1) * rowsPerBand): _*)
        .cast(BinaryType)).as(s"band_$b")
    }
  }

  /** MinHash-LSH candidate pairs: df must carry an id column and a
    * shingle array column. Returns distinct (id_a, id_b) with id_a < id_b
    * sharing at least one band. Equi-join on the band key — shuffle on
    * band, no cross join.
    */
  /** (id, band) long-format LSH frame: one row per document per band —
    * the joinable image every banding consumer (symmetric self-join,
    * delta-vs-corpus join) derives candidate pairs from.
    */
  def minhashBandLong(df: DataFrame, id: String, shingles: String,
                      k: Int = 8, bands: Int = 4): DataFrame = {
    val hashed = df.select(col(id),
      transform(col(shingles), s => shingleHash(s)).as("__sh_hashes"))
    val sigs = hashed.select(
      col(id) +: minhashSignaturesFromHashes(col("__sh_hashes"), k): _*)
    val banded = sigs.select(
      col(id) +: bandKeys((0 until k).map(j => col(s"sig_$j")), bands): _*)
    banded.select(col(id), explode(array(
      (0 until bands).map(b => col(s"band_$b")): _*)).as("band"))
  }

  def minhashCandidatePairs(df: DataFrame, id: String, shingles: String,
                            k: Int = 8, bands: Int = 4): DataFrame = {
    // both sides of the self-join read this frame: persist it so the
    // md5 + signature derivation over the corpus runs once, not twice
    val long = minhashBandLong(df, id, shingles, k, bands).persist()
    val a = long.as("a")
    val b = long.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .distinct()
  }

  /** INCREMENTAL near-dup candidates: new documents (`delta`) banded
    * against an existing corpus (`corpus`) — the daily-ingest shape. A
    * pipeline that re-ran [[minhashCandidatePairs]] over corpus∪delta
    * would pay the full corpus self-join every day; here the join is
    * delta-bands ⋈ corpus-bands, so per-ingest work scales with the
    * DELTA (corpus side is one scan of its banded image, which a real
    * deployment keeps materialized — band keys are append-only).
    * Returns distinct (id_new, id_corpus); corpus-internal pairs are
    * by construction never produced.
    */
  def minhashCandidatePairsBetween(delta: DataFrame, corpus: DataFrame,
                                   id: String, shingles: String,
                                   k: Int = 8, bands: Int = 4): DataFrame = {
    val d = minhashBandLong(delta, id, shingles, k, bands)
    val c = minhashBandLong(corpus, id, shingles, k, bands)
    d.as("a").join(c.as("b"), col("a.band") === col("b.band"))
      .select(col(s"a.$id").as("id_new"), col(s"b.$id").as("id_corpus"))
      .distinct()
  }

  /** Per-token 32-bit hashes (md5 computed once per token). Compute this
    * into its own projected column before [[simhashOfHashes]] so the 32
    * bit-sums reuse one hash array instead of re-hashing per bit.
    */
  def tokenHashes(tokens: Column): Column = transform(tokens, h => shingleHash(h))

  /** 32-bit SimHash from a precomputed token-hash array: each bit
    * position accumulates +1/-1 by the token hash's bit; the sign vector
    * is the hash. Pure expression tree — no UDF, no shuffle.
    */
  def simhashOfHashes(hashes: Column): Column = {
    val bitSums = (0 until 32).map { j =>
      aggregate(hashes, lit(0L),
        (acc, h) => acc +
          when(shiftright(h, j) % 2 === 1, 1L).otherwise(-1L))
    }
    bitSums.zipWithIndex.map { case (s, j) =>
      when(s > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Convenience single-expression form (hashes inlined — prefer the
    * two-step projection in hot paths so md5 runs once per token).
    */
  def simhash(tokens: Column): Column = simhashOfHashes(tokenHashes(tokens))

  /** Per-token 60-bit hashes (15 hex chars of md5): the widest md5
    * prefix that stays positive in a signed 64-bit long on every
    * engine, so shifts never sign-extend. Feed [[simhash60OfHashes]].
    */
  def tokenHashes60(tokens: Column): Column =
    transform(tokens, h =>
      conv(substring(md5(h.cast(BinaryType)), 1, 15), 16, 10)
        .cast(LongType))

  /** 60-bit SimHash (same +1/−1 bit-vote as [[simhashOfHashes]]).
    *
    * Width is what makes banded search scale: split into 4 bands of 15
    * bits, any pair at Hamming ≤ 3 shares an EXACT band (pigeonhole:
    * 3 flipped bits can dirty at most 3 of 4 bands) — so a 4-probe
    * equi-join on 15-bit band keys has FULL recall at the ≤3
    * threshold, while 2^15 buckets per band keep in-bucket candidate
    * pairs ~n²/32768 — linear in practice where 8-bit bands (256
    * buckets) went quadratic. This is the standard multi-index form
    * (Manku et al., WWW'07, public literature).
    */
  def simhash60OfHashes(hashes: Column): Column = {
    val bitSums = (0 until 60).map { j =>
      aggregate(hashes, lit(0L),
        (acc, h) => acc +
          when(shiftright(h, j) % 2 === 1, 1L).otherwise(-1L))
    }
    bitSums.zipWithIndex.map { case (s, j) =>
      when(s > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** The 4 × 15-bit band keys of a 60-bit simhash. */
  def simhash60Bands(sh: Column): Seq[Column] =
    (0 until 4).map(j => shiftright(sh, j * 15) % 32768)

  /** Hamming distance between two simhashes (for near-dup thresholding). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Jaccard similarity computed ONLY for given candidate pairs (the
    * verification stage after LSH): two equi-joins carry each pair's
    * shingle arrays onto the pair row, then one codegen'd
    * `array_intersect`/`array_distinct` projection computes |A∩B| and
    * |A|,|B| — cost proportional to candidate count, not corpus².
    * Set semantics hold for ANY input: arrays are `array_distinct`'d
    * in the projection, so callers may pass raw (non-distinct)
    * shingle arrays.
    */
  def jaccardForPairs(pairs: DataFrame, docs: DataFrame, id: String,
                      shingles: String): DataFrame = {
    // The intersection is ONE codegen'd projection that never leaves
    // the task. The previous form (explode → shingle equi-join →
    // re-aggregate → 3-way re-join, with a persist barrier to stop
    // lineage recompute) paid 4 extra shuffle stages to compute the
    // same counts; shuffle volume is pairs × shingle payload either
    // way. `array_distinct` makes |A|/|B| set cardinalities even for
    // non-distinct caller arrays (array_intersect already dedups the
    // numerator, so without it the two would disagree).
    val a = docs.select(col(id).as("__ida"),
      array_distinct(col(shingles)).as("__sha"))
    val b = docs.select(col(id).as("__idb"),
      array_distinct(col(shingles)).as("__shb"))
    pairs
      .join(a, col("id_a") === col("__ida"))
      .join(b, col("id_b") === col("__idb"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__sha"), col("__shb")))
          .cast("long").as("__nc"),
        size(col("__sha")).cast("long").as("__na"),
        size(col("__shb")).cast("long").as("__nb"))
      .select(col("id_a"), col("id_b"),
        (col("__nc").cast(DoubleType) /
          (col("__na") + col("__nb") - col("__nc"))).as("jaccard"))
  }

  /** End-to-end near-dup removal: MinHash+LSH candidates → Jaccard
    * verification → greedy keep-lowest-id (every id_b of a verified
    * pair is dropped). Returns the surviving rows of `df`. Every stage
    * is an equi-join/group-by — the full pipeline a training corpus
    * dedup runs at scale.
    */
  def nearDupRemove(df: DataFrame, id: String, shingles: String,
                    k: Int = 8, bands: Int = 4,
                    minJaccard: Double = 0.3): DataFrame = {
    // persist the input: its lineage (typically tokenize→shingle over
    // the corpus) is referenced from the candidate-gen, verification,
    // and final-output branches, and would otherwise recompute 3×
    val d = df.persist()
    // persist the (small) candidate set: the lazy DAG references it from
    // three branches, and at scale this stage boundary is where a real
    // pipeline would checkpoint anyway
    val pairs = minhashCandidatePairs(d, id, shingles, k, bands).persist()
    nearDupRemoveWithPairs(d, pairs, id, shingles, minJaccard)
  }

  /** [[nearDupRemove]] with the candidate pairs supplied by the caller —
    * the form a staged pipeline uses when the LSH pair frame is already
    * materialized (a real corpus run checkpoints candidate pairs once
    * and feeds removal, cluster labeling, and audits from that stage).
    * `pairs` must be (id_a, id_b) from the same id domain as `df(id)`.
    */
  def nearDupRemoveWithPairs(df: DataFrame, pairs: DataFrame, id: String,
                             shingles: String,
                             minJaccard: Double = 0.3): DataFrame = {
    val d = df.persist()
    val candIds = pairs.select(col("id_a").as(id))
      .union(pairs.select(col("id_b").as(id))).distinct()
    // shingle explosion for verification touches candidate docs only,
    // not the corpus
    val cand = d.join(candIds, Seq(id), "left_semi")
    val verified = jaccardForPairs(pairs, cand, id, shingles)
      .where(col("jaccard") >= minJaccard)
    d.join(verified.select(col("id_b").as(id)).distinct(),
      Seq(id), "left_anti")
  }

  /** Connected components over an undirected edge list — duplicate
    * CLUSTERS, not just pairs: near-dup candidate pairs (a~b, b~c) chain
    * into one cluster {a,b,c} labeled by its minimum id. Iterative
    * min-label propagation: each sweep every node adopts the minimum of
    * its own and its neighbors' labels, repeated until a sweep changes
    * nothing. One hop of propagation per sweep ⇒ sweeps ≤ graph
    * diameter — small for LSH candidate graphs, which are unions of
    * near-cliques. A graph that exhausts the sweep budget (extreme
    * diameter) automatically falls back to
    * [[connectedComponentsContraction]], whose round count is O(log n)
    * regardless of diameter.
    *
    * Returns (id, component) for every node incident to an edge.
    */
  def connectedComponents(edges: DataFrame, a: String, b: String,
                          maxSweeps: Int = 50): DataFrame = {
    // Size the iteration to the GRAPH, not the session: the candidate
    // graph is orders of magnitude smaller than the corpus it came
    // from (LSH pairs from a 100 TB corpus are GBs, not TBs), and
    // every sweep pays two exchanges + a checkpoint + a count per
    // partition. ~1M edges per partition keeps partitions comfortably
    // in memory; a big graph stays at the session default, a small one
    // stops paying dozens of near-empty state round-trips per sweep.
    // The conf is restored after the loop (sweeps replan each
    // iteration, so the setting takes effect per sweep); the persisted
    // symmetric adjacency is coalesced to the same width so the
    // per-hop scans match the shuffle.
    val spark = edges.sparkSession
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions")
    // materialize the edge frame ONCE up front: the symmetric union
    // below references it twice and the sizing count a third time —
    // un-checkpointed, each reference would re-run the whole candidate
    // generation feeding this operator
    val edgesM = edges.localCheckpoint(true)
    val graphParts = math.max(1L, math.min(sessionParts.toLong,
      edgesM.count() / 1000000L + 1)).toInt
    val sym = edgesM.select(col(a).as("src"), col(b).as("dst"))
      .union(edgesM.select(col(b).as("src"), col(a).as("dst")))
      .coalesce(graphParts)
      .persist()
    graft.Session.withConf(spark)(
        "spark.sql.shuffle.partitions" -> graphParts.toString) {
    // Each sweep references the previous labels frame several times
    // (neighbor join, least(), change count), so chaining plain lazy
    // plans doubles the plan tree per sweep — 2^sweeps nodes by sweep 30.
    // localCheckpoint(eager) truncates lineage to the materialized
    // partitions, keeping every sweep's plan constant-size. (A cluster
    // run would use reliable checkpoint() to survive executor loss.)
    // seed with the first propagation sweep fused into initialization:
    // label(v) = min(v, min direct neighbor) — one aggregation instead
    // of a join+checkpoint+count cycle (every node appears as src
    // because sym carries both directions)
    var labels = sym.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nb"))
      .select(col("id"), least(col("id"), col("nb")).as("label"))
      .localCheckpoint(true)
    var sweep = 1
    var changed = 1L
    while (changed > 0 && sweep < maxSweeps) {
      // (loop body replans under the graph-sized shuffle setting)
      // TWO propagation hops per materialize+count cycle: the
      // checkpoint and the convergence count are the per-iteration
      // fixed costs, and labels are monotone non-increasing under
      // least(), so "no change across a double hop" is exactly the
      // single-hop fixpoint (a hop can never undo another). Same total
      // join work, half the materializations.
      def hop(l: DataFrame): DataFrame = {
        val neighborMin = sym.join(l, col("dst") === col("id"))
          .groupBy(col("src")).agg(min(col("label")).as("nb_label"))
        l.join(neighborMin, col("id") === col("src"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nb_label"), col("label")))
              .as("label"),
            col("old"))
      }
      // the pre-cycle label rides along as `old` so convergence is read
      // off the already-materialized partitions — a narrow scan, not the
      // extra shuffle join a separate next⋈labels comparison would cost
      val next = hop(hop(
        labels.select(col("id"), col("label"), col("label").as("old"))))
        .localCheckpoint(true)
      changed = next.where(col("label") =!= col("old")).count()
      labels = next.select("id", "label")
      sweep += 1
    }
    sym.unpersist()
    if (changed != 0)
      // propagation needs ~diameter sweeps; a graph that blows the sweep
      // budget (long chains) switches to the O(log n)-round contraction
      connectedComponentsContraction(edgesM, a, b)
    else
      labels.select(col("id"), col("label").as("component"))
    }
  }

  /** Alternating large-star/small-star contraction (the public
    * MapReduce connected-components algorithm of Kiveris et al., 2014):
    * converges in O(log n) rounds regardless of graph diameter, where
    * min-label propagation needs ~diameter sweeps. Each round is two
    * grouped aggregations + joins on the edge frame — the same
    * shuffle-on-key dataflow as one propagation sweep, so the per-round
    * cost is comparable and the round count is exponentially smaller on
    * chain-like graphs.
    *
    *  - large-star(u): connect every neighbor v > u to
    *    m = min(Γ(u) ∪ u);
    *  - small-star(v): over smaller neighbors Γ<(v), connect each (and
    *    v itself) to their minimum.
    *
    * Edges stay canonical (u < v) and distinct; at the fixpoint the
    * edge set is a star forest whose centers are the component minima —
    * identical labels to [[connectedComponents]].
    *
    * Returns (id, component) for every node incident to an edge.
    */
  def connectedComponentsContraction(edges: DataFrame, a: String, b: String,
                                     maxRounds: Int = 40): DataFrame = {
    val nodes = edges.select(col(a).as("id"))
      .union(edges.select(col(b).as("id"))).distinct()
    var e = edges
      .select(least(col(a), col(b)).as("u"), greatest(col(a), col(b)).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    var cnt = e.count()
    var round = 0
    var converged = cnt == 0L
    while (!converged && round < maxRounds) {
      // large-star over the symmetric adjacency; emitted edges (m, v)
      // are already canonical because m ≤ u < v
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val ls = sym
        .join(sym.groupBy("u").agg(min(col("v")).as("mn")), "u")
        .where(col("v") > col("u"))
        .select(least(col("u"), col("mn")).as("u"), col("v"))
        .distinct()
      // small-star groups by the LARGE endpoint; m = min of the smaller
      // neighbors, so (m, n) and (m, v) stay canonical
      val mns = ls.groupBy("v").agg(min(col("u")).as("mn"))
      val next = ls.join(mns, "v")
        .where(col("u") =!= col("mn"))
        .select(col("mn").as("u"), col("u").as("v"))
        .union(mns.select(col("mn").as("u"), col("v")))
        .distinct()
        .localCheckpoint(true)
      val nextCnt = next.count()
      converged = nextCnt == cnt &&
        next.except(e).limit(1).count() == 0L
      e = next
      cnt = nextCnt
      round += 1
    }
    require(converged,
      s"connectedComponentsContraction did not converge in $maxRounds rounds")
    // fixpoint stars: leaves label to their center, centers to themselves;
    // the node-set left join restores nodes whose only edges were self
    // loops (dropped from the canonical edge set)
    val labels = e.select(col("v").as("id"), col("u").as("component"))
      .union(e.select(col("u").as("id"), col("u").as("component")))
      .distinct()
    nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** INCREMENTAL connected components — the ingest-admission
    * discipline ([[minhashCandidatePairsBetween]], [[semDedupDelta]])
    * applied to cluster MEMBERSHIP: new candidate edges merge
    * EXISTING component labels instead of recomputing the clustering
    * from scratch per corpus snapshot.
    *
    * `labels` is a prior `(id, component)` frame where each component
    * is labeled by its minimum member id (exactly what
    * [[connectedComponents]] returns); `edges` are the delta's
    * candidate pairs (delta-vs-corpus and delta-internal alike).
    *
    * Algorithm: CONTRACT each delta edge to the endpoints' current
    * labels (an unlabeled endpoint — a brand-new doc — labels
    * itself), drop the edges that land inside one component, and run
    * [[connectedComponents]] on the contracted graph. Contraction
    * preserves connectivity, and min-label over a merged set of
    * min-ids is the global min id, so relabeling every prior node
    * through the resulting `label → merged-label` map yields EXACTLY
    * the labels a from-scratch run over the unioned edge set
    * produces (the oracle recomputes that via one recursive CTE).
    *
    * Scale shape (100 TB corpus + daily delta): the contracted graph
    * is DELTA-sized (≤ |delta edges| edges over component labels, a
    * tiny fraction of the corpus candidate graph), the iterative part
    * runs only on it, and the corpus-sized work is exactly two hash
    * joins — delta endpoints against the label frame, then the label
    * frame against the delta-sized merge map. Corpus-internal pairs
    * are never re-derived and the standing labels are never
    * re-clustered.
    *
    * Returns `(id, component)` for every prior node and every delta
    * endpoint.
    */
  def connectedComponentsDelta(labels: DataFrame, edges: DataFrame,
                               a: String, b: String): DataFrame = {
    val la = labels.select(col("id").as("__u"), col("component").as("__cu"))
    val lb = labels.select(col("id").as("__v"), col("component").as("__cv"))
    val contracted = edges
      .select(col(a).as("__u"), col(b).as("__v"))
      .join(la, Seq("__u"), "left").join(lb, Seq("__v"), "left")
      .select(coalesce(col("__cu"), col("__u")).as("cu"),
        coalesce(col("__cv"), col("__v")).as("cv"))
      .where(col("cu") =!= col("cv"))
    val merged = connectedComponents(contracted, "cu", "cv")
      .select(col("id").as("lbl"), col("component").as("__m"))
    // prior nodes carry their old label; delta endpoints unknown to
    // the label frame enter labeled by themselves
    val nodes = labels.select(col("id"), col("component").as("lbl"))
      .unionByName(
        edges.select(col(a).as("id")).union(edges.select(col(b).as("id")))
          .distinct()
          .join(labels.select("id"), Seq("id"), "left_anti")
          .select(col("id"), col("id").as("lbl")))
    nodes.join(merged, Seq("lbl"), "left")
      .select(col("id"),
        coalesce(col("__m"), col("lbl")).as("component"))
  }

  /** n-gram Jaccard similarity for a bounded candidate-pair set.
    * `df(id)`, `df(shingles)` (pre-distinct shingle arrays). Computes
    * |A∩B| / |A∪B| via explode + equi-join on shingle — for candidate
    * verification, not corpus-wide search.
    */
  def ngramJaccardPairs(df: DataFrame, id: String, shingles: String): DataFrame = {
    val sh = df.select(col(id).as("doc"), explode(col(shingles)).as("s"))
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.as("na"), col("id_a") === col("na.doc"))
      .join(sizes.as("nb"), col("id_b") === col("nb.doc"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast(DoubleType) /
          (col("na.n") + col("nb.n") - col("n_common"))).as("jaccard"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * cluster-then-prune. Every vector is assigned to its nearest
    * centroid ([[Similarity.ivfCell]] — a narrow codegen'd projection
    * against plan-literal centroids); pair comparison happens ONLY
    * between cluster mates (equi-join on the cell key, never all-pairs);
    * of a near-duplicate pair (cosine > `minCosine`) the member CLOSER
    * to its centroid is pruned — keeping the cluster's edge members
    * preserves the diversity the paper optimizes for. Ties on the
    * centroid score prune the higher `id`, so the survivor set is
    * deterministic at any parallelism.
    *
    * Output: one row per input vector — `(id, cell, cscore, keep)` with
    * `cscore` the cosine to the assigned centroid rounded to 8 places
    * and `keep=false` iff some cluster mate above the threshold beats it.
    *
    * Arithmetic: pair cosines go through the fixed-point fold
    * ([[Similarity.dotFixedLong]] / [[Similarity.cosineFromFixed]]) with
    * self-norms hoisted out of the pair loop (one 64-wide fold per pair,
    * the e60 discipline); centroid scores are the plain double fold that
    * the oracle's `list_reduce` reproduces bit-for-bit.
    *
    * Scale shape (100 TB): production sizes the centroid set so clusters
    * stay O(1) rows (the paper runs k ≈ 50k on LAION); the within-cell
    * self-join is then a bucket-local equi-join on a key the corpus can
    * be partitioned by, and the centroid matrix (k × dim floats) ships
    * as plan literals / a broadcast — exactly the e2_ivf index layout.
    * At large k the kernel hooks swap in the native codegen `vec_dot`
    * ([[graft.functions.FloatVecDot]]) for both the k-wide assignment
    * scan and the pair stage — the default higher-order folds exist for
    * exact cross-engine (oracle) reproducibility, the native kernels
    * for the hot loop (see SCALE.md's ×10/×100 semdedup rows).
    */
  def semDedup(corpus: DataFrame, id: String, vec: String,
               centroids: Seq[Seq[Float]], minCosine: Double,
               scorer: (Column, Column) => Column = Similarity.cosine,
               selfDot: Column => Column =
                 v => Similarity.dotFixedLong(v, v),
               pairCosine: (Column, Column, Column, Column) => Column =
                 (a, b, na, nb) => Similarity.cosineFromFixed(
                   Similarity.dotFixedLong(a, b), na, nb)): DataFrame = {
    // materialize the assignment frame ONCE: it feeds three consumers
    // (both self-join sides + the final left join), and the k-wide
    // centroid-assignment scan is the expensive pass at production k
    // (≈50k) — un-checkpointed, each consumer would recompute it. A
    // cluster pipeline would durably stage this frame (partitioned by
    // cell) between jobs; within one invocation a LAZY localCheckpoint
    // is the same cut without a cross-query artifact: the returned
    // frame stays a declarative plan until first executed (building /
    // explaining it costs nothing), then the checkpointed partitions
    // serve all three consumers. The materialized blocks live until
    // the RDD is GC'd — at production k the caller wants exactly that
    // reuse; a caller composing further filters should apply them to
    // `corpus` (below the cut), not to this operator's output.
    val base = corpus.select(col(id), col(vec),
      Similarity.ivfCell(col(vec), centroids, scorer)
        .cast(LongType).as("cell"),
      Similarity.ivfCellScore(col(vec), centroids, scorer).as("cscore"),
      selfDot(col(vec)).as("__nf"))
      .localCheckpoint(false)
    def side(tag: String) = base.select(col(id).as(s"id_$tag"),
      col(vec).as(s"v_$tag"), col("cell"), col("cscore").as(s"cs_$tag"),
      col("__nf").as(s"nf_$tag"))
    val losers = side("a").join(side("b"), Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .where(pairCosine(col("v_a"), col("v_b"),
        col("nf_a"), col("nf_b")) > minCosine)
      .select(when(col("cs_a") > col("cs_b"), col("id_a"))
        .when(col("cs_a") < col("cs_b"), col("id_b"))
        .otherwise(greatest(col("id_a"), col("id_b"))).as(id))
      .distinct()
      .withColumn("__pruned", lit(true))
    base.join(losers, Seq(id), "left")
      .select(col(id), col("cell"), round(col("cscore"), 8).as("cscore"),
        col("__pruned").isNull.as("keep"))
  }

  /** Incremental SemDeDup — the ingest-admission form (the
    * [[minhashCandidatePairsBetween]] discipline applied to
    * embedding space): each NEW document is checked against the
    * EXISTING corpus only, never corpus × corpus. Both sides are
    * assigned to their IVF cell; the candidate set is a LEFT equi-join
    * on the cell key (a delta doc in an empty cell admits trivially),
    * and a delta doc is rejected iff any cluster-mate corpus doc sits
    * above the cosine threshold. Output: one row per delta doc —
    * `(id, cell, n_matches, admitted)` with `n_matches` the exact
    * count of corpus near-dups.
    *
    * Admission only, not a post-ingest dedup: near-dup pairs entirely
    * within the delta are all admitted, and admitted docs do not join
    * the index for later delta docs in the same call. For a dedup'd
    * post-ingest corpus, run [[semDedup]] over the delta as a second
    * step.
    *
    * Scale shape (100 TB corpus + daily delta): the corpus is stored
    * partitioned by cell, so the join reads only the delta's cells;
    * per-delta work is one cell's corpus members (O(1) rows when the
    * centroid count scales with the corpus). Kernel hooks as in
    * [[semDedup]].
    */
  def semDedupDelta(delta: DataFrame, corpus: DataFrame, id: String,
                    vec: String, centroids: Seq[Seq[Float]],
                    minCosine: Double,
                    scorer: (Column, Column) => Column = Similarity.cosine,
                    selfDot: Column => Column =
                      v => Similarity.dotFixedLong(v, v),
                    pairCosine: (Column, Column, Column, Column) => Column =
                      (a, b, na, nb) => Similarity.cosineFromFixed(
                        Similarity.dotFixedLong(a, b), na, nb)): DataFrame = {
    val dl = delta.select(col(id), col(vec),
      Similarity.ivfCell(col(vec), centroids, scorer)
        .cast(LongType).as("cell"),
      selfDot(col(vec)).as("__nfd"))
    val cp = corpus.select(col(vec).as("__cvec"),
      Similarity.ivfCell(col(vec), centroids, scorer)
        .cast(LongType).as("cell"),
      selfDot(col(vec)).as("__nfc"))
    dl.join(cp, Seq("cell"), "left")
      .groupBy(col(id), col("cell"))
      .agg(sum(when(pairCosine(col(vec), col("__cvec"),
          col("__nfd"), col("__nfc")) > minCosine, 1L)
        .otherwise(0L)).as("n_matches"))
      .select(col(id), col("cell"), col("n_matches"),
        (col("n_matches") === 0L).as("admitted"))
  }
}

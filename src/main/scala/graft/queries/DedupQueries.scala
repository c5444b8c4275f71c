package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Corpus, Dedup, TextAnalysis}

/** Judged queries for the dedup operator set (north star §2.6 E1):
  * exact, fingerprint-keyed, MinHash signatures + LSH band candidate
  * pairs, SimHash, and n-gram Jaccard on a bounded pair set — each
  * through [[graft.operators.Dedup]] with a DuckDB oracle replicating
  * the same md5-derived hashing (engine-portable by construction).
  */
object DedupQueries {
  import Tables._

  private val minhashK = 8
  private val bands = 4

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup keyed by full text: keeper + duplicate count
    "e1_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), col("text"), col("doc_id"))),

    // Exact dedup keyed by canonical fingerprint (whitespace/punct-blind)
    "e1_exact_fp" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"),
        TextAnalysis.fingerprint(col("text")), col("doc_id"))),

    // MinHash signatures (k=4 shown; universal-hash min over word
    // bigrams). Each derivation stage is its own projection —
    // tokens → shingles → hashes → signatures — so no pass recomputes
    // (expression trees don't CSE across lambdas).
    "e1_minhash_sig" -> ((s, dir) => {
      val hashed = stagedShingleHashes(s, dir)
      hashed.select(col("doc_id") +:
        Dedup.minhashSignaturesFromHashes(col("hs"), 4): _*)
    }),

    // MinHash-LSH candidate pairs (k=8, 4 bands of 2) — the scale path:
    // equi-join on band keys, never all-pairs
    "e1_minhash_pairs" -> ((s, dir) => candidatePairs(s, dir)),

    // INCREMENTAL dedup — the daily-ingest shape: today's delta
    // (doc_id % 10 = 0 here) banded against the standing corpus, so
    // per-ingest work scales with the delta while the corpus
    // contributes one scan of its (materialized, append-only) banded
    // image. Corpus-internal pairs are never produced — at 100 TB
    // re-deriving them daily is exactly the bill this shape avoids.
    "e54_incremental_dedup" -> ((s, dir) => {
      val docs = shingledDocs(s, dir)
      Dedup.minhashCandidatePairsBetween(
        docs.where(col("doc_id") % 10 === 0),
        docs.where(col("doc_id") % 10 =!= 0),
        "doc_id", "sh", minhashK, bands)
    }),

    // SimHash (32-bit) per document; token hashes are projected once,
    // then the bit-vote fold runs in the NATIVE codegen expression
    // (simhash_fold — bit-identical to Dedup.simhashOfHashes's 32 HOF
    // folds, OperatorsSpec equality property; the Surface4 simhash60
    // path took the same step in r16 after the HOF form measured ~12 s
    // of a 17 s query at the 10× corpus: one tight two-level loop, no
    // per-token lambda dispatch). Zero-token docs are filtered on BOTH
    // sides: the oracle's unnest() drops them implicitly, so without
    // this guard Spark would emit simhash=0 rows the oracle never
    // produces (latent, data-dependent divergence)
    "e1_simhash" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      tBalanced(s, dir, "documents")
        .select(col("doc_id"),
          Dedup.tokenHashes(TextAnalysis.tokens(col("text"))).as("th"))
        .where(size(col("th")) > 0)
        .select(col("doc_id"),
          call_function("simhash_fold", col("th"), lit(32)).as("simhash"))
    }),

    // n-gram Jaccard on a bounded candidate set (doc_id < 30 → ≤435
    // pairs): the verification stage that follows LSH candidate gen
    "e1_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 30)
        .select(col("doc_id"),
          TextAnalysis.charShingles(col("text"), 3).as("sh"))
      Dedup.ngramJaccardPairs(docs, "doc_id", "sh")
    }),

    // The full near-dup removal pipeline: LSH candidates → Jaccard
    // verify → greedy drop id_b — returns surviving doc ids
    "e1_dedup_pipeline" -> ((s, dir) =>
      Dedup.nearDupRemoveWithPairs(shingledDocs(s, dir),
        candidatePairs(s, dir), "doc_id", "sh",
        minJaccard = 0.3).select("doc_id")),

    // Deterministic hash split: the train/val/test assignment a training
    // pipeline derives from a stable id hash (engine-portable via md5)
    "e8_split" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        Corpus.hashBucket(col("doc_id")).as("bucket"),
        Corpus.splitName(Corpus.hashBucket(col("doc_id"))).as("split"))),

    // Cross-split contamination check: evaluation (val/test) documents
    // whose canonical fingerprint also appears in the train split — the
    // decontamination pass every training pipeline runs before eval.
    // Semi join on the fingerprint key: one shuffle, no pairs
    "e10_contam" -> ((s, dir) =>
      Corpus.contamination(
        t(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          Corpus.splitName(Corpus.hashBucket(col("doc_id"))).as("split")),
        key = "fp", split = "split")
        .select("doc_id", "fp", "split")),

    // Duplicate CLUSTERS: LSH candidate pairs chained into connected
    // components (a~b, b~c ⇒ {a,b,c}), each labeled by its min doc_id —
    // what a dedup pipeline actually needs when picking one survivor
    // per cluster rather than per pair
    "e15_components" -> ((s, dir) =>
      componentLabels(s, dir)
        .select(col("id").as("doc_id"), col("component"))),

    // Duplicate-cluster SIZE profile: the report a dedup run publishes
    // (how many pairs/triples/blobs) — two tiny group-bys downstream of
    // the component labels, nothing new touches the corpus
    "e38_cluster_sizes" -> ((s, dir) =>
      componentLabels(s, dir)
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))),

    // SURVIVOR SELECTION over duplicate clusters — the policy step a
    // real dedup pipeline runs after clustering: keep the best-quality
    // member (longest text here; any score column slots in), not
    // blindly the min id. Singletons (docs in no candidate pair)
    // survive as their own cluster via the left join + coalesce. One
    // scan of the corpus metadata + the (tiny, staged) label frame,
    // single-pass argmax per cluster: max_by over the total order
    // (n_chars, -doc_id) makes ties deterministic on every engine.
    "e55_cluster_survivor" -> ((s, dir) => {
      val labels = componentLabels(s, dir)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val labeled = docs.join(labels, docs("doc_id") === labels("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"),
          col("n_chars"))
      labeled.groupBy("component").agg(
        max_by(col("doc_id"),
          struct(col("n_chars"), lit(0L) - col("doc_id"))).as("survivor_id"),
        max(col("n_chars")).as("survivor_chars"),
        count(lit(1)).as("cluster_size"))
    }),

    // DEDUP-AWARE SPLIT audit: eval leakage happens when near-duplicate
    // documents land on opposite sides of the train/eval fence — the
    // per-doc hash split (e8) guarantees it for any multi-doc cluster
    // whose members hash to different buckets. Assigning the split from
    // the CLUSTER label (hash the component, not the doc) pins every
    // near-dup family to one split by construction. One row per
    // strategy: how many clusters straddle >1 split and how many docs
    // sit inside them (per_cluster must audit to zero). Cost: one
    // corpus-key scan joined to the tiny staged label frame — the
    // clustering itself is never recomputed here, and at 100 TB the
    // label frame is the candidate graph (dup-rate-sized), not the
    // corpus.
    "e85_cluster_split" -> ((s, dir) => {
      val labels = componentLabels(s, dir)
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val labeled = docs
        .join(labels, docs("doc_id") === labels("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster"))
      val assigned = labeled.select(col("cluster"),
        Corpus.splitName(Corpus.hashBucket(col("doc_id"))).as("doc_split"),
        Corpus.splitName(Corpus.hashBucket(col("cluster")))
          .as("cluster_split"))
      val byStrategy = assigned
        .select(col("cluster"), lit("per_doc").as("strategy"),
          col("doc_split").as("split"))
        .unionByName(assigned.select(col("cluster"),
          lit("per_cluster").as("strategy"),
          col("cluster_split").as("split")))
      byStrategy.groupBy("strategy", "cluster")
        .agg(countDistinct(col("split")).as("n_splits"),
          count(lit(1)).as("n_docs"))
        .groupBy("strategy")
        .agg(count(lit(1)).as("n_clusters"),
          sum(when(col("n_splits") > 1, 1L).otherwise(0L))
            .as("straddling_clusters"),
          sum(when(col("n_splits") > 1, col("n_docs")).otherwise(0L))
            .as("leaked_docs"))
    }),

    // BAND-PARAMETER SWEEP: candidate-pair counts for every (bands ×
    // rows-per-band) split of the SAME staged k=8 signatures — the
    // S-curve sizing audit run before committing an LSH config (more
    // bands = higher recall = more pairs to verify; the count is the
    // verification bill). Four narrow scans of the tiny signature
    // parquet, one band self-join each; the corpus is never re-hashed.
    "e79_band_sweep" -> ((s, dir) => {
      val sig = stagedSignatures(s, dir)
      // all four configs ride ONE exploded key frame and ONE self-join
      // keyed on (config, band) — the per-config band keys can never
      // collide across configs because the config id is part of the
      // join key. One shuffle + one distinct + one group-by instead of
      // four of each (the sweep was 4 sequential join rounds; at sf0.1
      // that was stage-count-bound, and at 100 TB one pass over the
      // signature frame beats four)
      val long = Seq(1, 2, 4, 8).map { nb =>
        val banded = sig.select(col("doc_id") +:
          Dedup.bandKeys((0 until minhashK).map(j => col(s"sig_$j")), nb): _*)
        banded.select(lit(nb.toLong).as("bands"), col("doc_id"),
          explode(array((0 until nb).map(b => col(s"band_$b")): _*))
            .as("band"))
      }.reduce(_ unionAll _)
      long.as("a")
        .join(long.as("b"), col("a.bands") === col("b.bands") &&
          col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.bands").as("bands"), col("a.doc_id").as("id_a"),
          col("b.doc_id").as("id_b"))
        .distinct()
        .groupBy(col("bands"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(col("bands"),
          call_function("div", lit(minhashK.toLong), col("bands"))
            .as("rows_per_band"),
          col("n_pairs"))
    }),

    // CONTAINMENT check over the LSH candidate pairs: which near-dup
    // candidates are literal substring containments (quote, excerpt,
    // boilerplate-wrapped copy) vs merely-similar text — the triage a
    // dedup pipeline runs to pick removal policy (containment → keep
    // superset doc; similarity → keep best-quality). Work = one narrow
    // text join per pair side over the staged pair frame; the corpus
    // is never self-joined on text.
    "e77_containment" -> ((s, dir) => {
      val pairs = candidatePairs(s, dir)
      val txt = t(s, dir, "documents").select(col("doc_id"), col("text"))
      pairs
        .join(txt.as("ta"), col("id_a") === col("ta.doc_id"))
        .join(txt.as("tb"), col("id_b") === col("tb.doc_id"))
        .select(col("id_a"), col("id_b"),
          col("ta.text").contains(col("tb.text")).as("a_contains_b"),
          col("tb.text").contains(col("ta.text")).as("b_contains_a"))
    }),

    // MinHash fidelity audit: per LSH candidate pair, the signature
    // agreement estimate (n_match/k) against the exact shingle Jaccard
    // — the measured sketch-quality evidence (E[n_match/k] = J). All
    // arithmetic is exact-integer + one IEEE division per column, so
    // the audit itself is judged, not just asserted
    "e39_minhash_est" -> ((s, dir) => {
      // signatures and candidate pairs come from the shared stage dirs
      // (one md5+signature pass per sf × testdata snapshot, amortized
      // across the whole
      // minhash family) — this query adds only narrow scans + two joins
      // plus the exact-Jaccard verification over the pair set
      val sig = stagedSignatures(s, dir)
      val pairs = candidatePairs(s, dir)
      val nMatch = (0 until minhashK)
        .map(j => when(col(s"sa.sig_$j") === col(s"sb.sig_$j"), lit(1L))
          .otherwise(lit(0L)))
        .reduce(_ + _)
      val est = pairs
        .join(sig.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(sig.as("sb"), col("id_b") === col("sb.doc_id"))
        .select(col("id_a"), col("id_b"), nMatch.as("n_match"))
      // exact verification explodes shingles for CANDIDATE docs only
      // (semi-join first): jaccardForPairs' cost is then ∝ pair count,
      // not corpus size — at 100 TB exploding the full shingle frame
      // for a pair-restricted join would dominate the audit
      val candIds = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id"))).distinct()
      val exact = Dedup.jaccardForPairs(pairs,
        shingledDocs(s, dir).join(candIds, Seq("doc_id"), "left_semi"),
        "doc_id", "sh")
      val estJ = col("n_match").cast("double") / lit(minhashK.toDouble)
      est.join(exact, Seq("id_a", "id_b"))
        .select(col("id_a"), col("id_b"), col("n_match"),
          estJ.as("est_jaccard"), col("jaccard").as("true_jaccard"),
          abs(estJ - col("jaccard")).as("abs_err"))
    }),

    // DUP-RATE BY SOURCE PAIR: verified near-dup pairs (J ≥ 0.3)
    // joined to document metadata and rolled up per unordered source
    // pair — the curation report that tells a corpus team WHICH feeds
    // duplicate each other (mirror sites, syndication, re-crawls) and
    // so which acquisition to turn off. Reads the durable pair/shingle
    // checkpoints; the only new work is verification (∝ pairs) plus
    // two metadata joins and a tiny group-by.
    "e95_dup_rate_by_source" -> ((s, dir) => {
      val verified = Dedup.jaccardForPairs(candidatePairs(s, dir),
          shingledDocs(s, dir), "doc_id", "sh")
        .where(col("jaccard") >= 0.3)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      verified
        .join(src.as("da"), col("id_a") === col("da.doc_id"))
        .join(src.as("db"), col("id_b") === col("db.doc_id"))
        .select(least(col("da.source"), col("db.source")).as("source_x"),
          greatest(col("da.source"), col("db.source")).as("source_y"))
        .groupBy("source_x", "source_y")
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // ROUGE-1 F₁ audit of the LSH candidate pairs — the
    // decontamination/summarization-eval metric as a SECOND opinion
    // on the shingle-set Jaccard (e1_jaccard verifies SET overlap of
    // word bigrams; this is frequency-CLIPPED unigram overlap, the
    // ROUGE definition — a doc that repeats a phrase 50× no longer
    // matches a doc containing it once). The harmonic mean collapses
    // to the rational 2·ov/(n_a+n_b) (ov = Σ_w min(cnt_a, cnt_b)), so
    // one exact integer per pair and ONE final division. Plan: the
    // per-doc token histogram is durably staged (the same checkpoint
    // the richness stats read corpus-wide); each pair's overlap is an
    // equi-join on (doc, word) — pair-bounded, never all-pairs.
    "e121_rouge_audit" -> ((s, dir) => {
      val pairs = candidatePairs(s, dir)
      val tokCnt = docTokenHist(s, dir)
      val tots = tokCnt.groupBy("doc_id").agg(sum(col("cnt")).as("ntok"))
      val ov = pairs
        .join(tokCnt.select(col("doc_id").as("id_a"), col("w"),
          col("cnt").as("ca")), Seq("id_a"))
        .join(tokCnt.select(col("doc_id").as("id_b"), col("w"),
          col("cnt").as("cb")), Seq("id_b", "w"))
        .groupBy("id_a", "id_b")
        .agg(sum(least(col("ca"), col("cb"))).as("ov"))
      pairs
        .join(ov, Seq("id_a", "id_b"), "left")
        .join(tots.select(col("doc_id").as("id_a"),
          col("ntok").as("na")), Seq("id_a"), "left")
        .join(tots.select(col("doc_id").as("id_b"),
          col("ntok").as("nb")), Seq("id_b"), "left")
        .select(col("id_a"), col("id_b"),
          coalesce(col("ov"), lit(0L)).as("overlap"),
          coalesce(col("na"), lit(0L)).as("n_a"),
          coalesce(col("nb"), lit(0L)).as("n_b"),
          when(coalesce(col("na"), lit(0L)) +
              coalesce(col("nb"), lit(0L)) > 0,
            lit(2.0) * coalesce(col("ov"), lit(0L)).cast("double") /
              (coalesce(col("na"), lit(0L)) +
                coalesce(col("nb"), lit(0L))).cast("double"))
            .as("rouge1_f"))
    }),

    // STREAMING near-dup admission (§2.6 E1 × C6): the staged band
    // keys replayed through the real micro-batch engine in three
    // doc-id-ordered ingest chunks; [[graft.streaming.BandAdmission]]
    // keeps ONE long of state per band (the min doc id that has
    // carried it — bounded by the band domain, not the corpus) and
    // flags each arriving doc whose band was first seen on a smaller
    // id. Cross-batch state is the point: a band admitted in batch 1
    // must flag a colliding doc in batch 3, through the checkpointed
    // state store. With ordered arrival the admission decision equals
    // the batch definition "shares a band with an earlier doc", which
    // is exactly what the oracle computes from the same sig/band CTEs.
    "c31_stream_neardup" -> ((s, dir) => {
      import s.implicits._
      val sig = stagedSignatures(s, dir)
      val banded = sig.select(col("doc_id") +:
        Dedup.bandKeys((0 until minhashK).map(j => col(s"sig_$j")),
          bands): _*)
      val long = banded.select(col("doc_id"), explode(array(
        (0 until bands).map(b => col(s"band_$b")): _*)).as("band"))
      val tmp = Stage.tempDir("graft-c31-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      // 3 doc-id-range chunks arriving in order (durableChunkFeed
      // pins each chunk's mtime — arrival order is a property of the
      // staged content, not a race on write timestamps). The 1-row
      // max sizing scalar is itself DURABLE: durableChunkFeed builds
      // the (lazy) chunk plans on every invocation to compute the
      // feed's plan digest, so a max job inside the thunk would run
      // per-invocation even on fixture hits — durableScalar makes
      // reuse a one-line file read, truly paid once per fixture.
      val mx = Stage.durableScalar("mx-c31", dir)(
        long.agg(max("doc_id")))
      val feed = Stage.durableChunkFeed("feed-c31", dir)({
        var lo = Long.MinValue
        Seq(mx / 3, 2 * mx / 3, Long.MaxValue).map { hi =>
          val chunk = long.where(col("doc_id") > lo && col("doc_id") <= hi)
          lo = hi
          chunk
        }
      })
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("band",
          org.apache.spark.sql.types.StringType)))
      val prev = s.conf.get("spark.sql.shuffle.partitions", "32")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val in = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
          .as[graft.streaming.BandAdmission.BandRow]
        graft.streaming.BandAdmission.flagStream(in)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              graft.streaming.BandAdmission.BandFlag], _: Long) =>
            batch.write.mode("append").parquet(out); ()
          }
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow)
          .start().awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      s.read.parquet(out).groupBy("doc_id")
        .agg(count(lit(1)).as("n_bands"),
          max(col("dup")).as("is_neardup"))
    }),

    // NEAR-DUP cross-split contamination — the leakage exact-hash
    // decontamination (e10) cannot see: an eval (val/test) document
    // that is a VERIFIED near-duplicate (J ≥ 0.3) of a train
    // document still leaks the answer even though no fingerprint
    // matches. This is the decontamination pass training pipelines
    // actually need (n-gram-overlap checks in published eval
    // protocols are exactly this shape). Cost: the staged candidate
    // pairs + jaccard verification (∝ pairs) + two split-label joins
    // — the corpus is never re-scanned.
    "e110_neardup_contam" -> ((s, dir) => {
      val verified = Dedup.jaccardForPairs(candidatePairs(s, dir),
          shingledDocs(s, dir), "doc_id", "sh")
        .where(col("jaccard") >= 0.3)
      val splits = t(s, dir, "documents").select(col("doc_id"),
        Corpus.splitName(Corpus.hashBucket(col("doc_id"))).as("split"))
      val lab = verified
        .join(splits.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(splits.as("sb"), col("id_b") === col("sb.doc_id"))
        .select(col("id_a"), col("id_b"), col("jaccard"),
          col("sa.split").as("split_a"), col("sb.split").as("split_b"))
      val evalA = lab
        .where(col("split_a") =!= "train" && col("split_b") === "train")
        .select(col("id_a").as("eval_id"), col("split_a").as("split"),
          col("id_b").as("train_id"), col("jaccard"))
      val evalB = lab
        .where(col("split_b") =!= "train" && col("split_a") === "train")
        .select(col("id_b").as("eval_id"), col("split_b").as("split"),
          col("id_a").as("train_id"), col("jaccard"))
      evalA.unionAll(evalB)
    }),

    // HORIZON-bounded streaming admission with state TTL — the
    // production form of c31 for an unbounded ingest: a doc is
    // flagged iff its band's previous occurrence is within `h` doc
    // ids (chains split at larger gaps; the gap test runs in the
    // handler so micro-batch timing can never change a flag), and
    // idle band state is EVICTED via EventTimeTimeout with the
    // eviction audited in-band (doc_id −1 = evicted mid-stream,
    // −2 = live at the final drain — together they partition the
    // band domain, so the state-store size is judged). Event time is
    // doc_id seconds, making the µs→ms watermark floor exact; the
    // horizon 2·(mx div 3)+3 exceeds any inter-chunk watermark gap,
    // so evictions deterministically fire only at the sentinels.
    "c35_stream_neardup_ttl" -> ((s, dir) => {
      import s.implicits._
      val sig = stagedSignatures(s, dir)
      val banded = sig.select(col("doc_id") +:
        Dedup.bandKeys((0 until minhashK).map(j => col(s"sig_$j")),
          bands): _*)
      val long = banded.select(col("doc_id"), explode(array(
          (0 until bands).map(b => col(s"band_$b")): _*)).as("band"))
        // +1 s shift: event time 0 (epoch) is dropped by the
        // late-row filter at the initial zero watermark
        .withColumn("ts",
          timestamp_micros((col("doc_id") + 1) * 1000000L))
      val tmp = Stage.tempDir("graft-c35-").toString
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      // the horizon h is re-derived OUTSIDE the staged build too (the
      // handler needs it every run); the 1-row max it hangs off is a
      // durable scalar — reuse is a file read, not a Spark job
      val mx = Stage.durableScalar("mx-c35", dir)(
        long.agg(max("doc_id")))
      val h = 2 * (mx / 3) + 3
      val feed = Stage.durableChunkFeed("feed-c35", dir)({
        var lo = Long.MinValue
        val chunks = Seq(mx / 3, 2 * mx / 3, Long.MaxValue).map { hi =>
          val chunk = long.where(col("doc_id") > lo && col("doc_id") <= hi)
          lo = hi
          chunk
        }
        chunks ++ Seq(10L, 20L).map { g =>
          s.range(1).select(lit(-1L).as("doc_id"),
            lit(s"__wm$g").as("band"),
            timestamp_micros(lit((mx + 1 + g * h) * 1000000L)).as("ts"))
        }
      })
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("band",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val prev = s.conf.get("spark.sql.shuffle.partitions", "32")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val in = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
          .withWatermark("ts", "0 seconds")
          .as[graft.streaming.BandAdmission.BandRowT]
        graft.streaming.BandAdmission
          .flagStreamTtl(in, h, drainAfterMs = (mx + 1) * 1000L)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              graft.streaming.BandAdmission.BandFlag], _: Long) =>
            batch.write.mode("append").parquet(out); ()
          }
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow)
          .start().awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      s.read.parquet(out).groupBy("doc_id")
        .agg(count(lit(1)).as("n_bands"),
          max(col("dup")).as("is_neardup"))
    }))

  /** The LSH candidate-pair frame and its connected-component labels,
    * each a DURABLE checkpoint (once per sf × testdata fingerprint,
    * across JVMs — Stage.durableFrame) and reused:
    * e1_minhash_pairs judges the pairs, e1_dedup_pipeline verifies
    * them, e15 judges the component labels, e38 their size profile —
    * in round 7 each of those queries re-derived the banded pairs from
    * the corpus independently (e15+e38 alone were the two slowest
    * clean bench lines, 12.6 s combined). This is exactly the stage
    * boundary a real corpus pipeline checkpoints: candidate pairs are
    * computed once per corpus snapshot and feed removal, clustering,
    * and audits downstream. The first caller pays the compute; every
    * later read is a narrow scan. A deterministic stage path, never a
    * Spark cache (nothing pins executor memory across queries).
    */
  /** k=8 MinHash signatures, a durable checkpoint (once per sf ×
    * testdata fingerprint, across JVMs): the k-fold over the staged
    * shingle hashes that every minhash-family query needs. Downstream
    * consumers (banding, pair audit e39) read this narrow (id, 8×long)
    * parquet instead of re-hashing the corpus.
    */
  private def stagedSignatures(s: SparkSession, dir: String): DataFrame = {
    val hashes = stagedShingleHashes(s, dir) // hoisted (see Stage scaladoc)
    Stage.durableFrame(s, "sig", dir) {
      hashes.select(col("doc_id") +:
        Dedup.minhashSignaturesFromHashes(col("hs"), minhashK): _*)
    }
  }

  /** Durably-staged per-document token histogram (doc_id, w, cnt) —
    * the ONE corpus tokenize pass behind every token-count consumer:
    * e121's pair overlaps read it per doc, and e118's corpus-wide
    * histogram is a re-agg of it (never a second tokenize of the
    * text). Public: shared across query files.
    */
  def docTokenHist(s: SparkSession, dir: String): DataFrame =
    Stage.durableFrame(s, "doc-token-hist", dir) {
      tBalanced(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    }

  private[queries] def candidatePairs(s: SparkSession, dir: String): DataFrame = {
    val sig = stagedSignatures(s, dir) // hoisted (see Stage scaladoc)
    Stage.durableFrame(s, "lsh-pairs", dir) {
      // band + self-join over the STAGED signatures: both join sides
      // re-scan the tiny sig parquet (no persist needed), the corpus
      // text is never touched again
      val banded = sig.select(col("doc_id") +:
        Dedup.bandKeys((0 until minhashK).map(j => col(s"sig_$j")), bands): _*)
      val long = banded.select(col("doc_id"), explode(array(
        (0 until bands).map(b => col(s"band_$b")): _*)).as("band"))
      long.as("a")
        .join(long.as("b"), col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
    }
  }

  private def componentLabels(s: SparkSession, dir: String): DataFrame = {
    val pairs = candidatePairs(s, dir) // hoisted (see Stage scaladoc)
    // the sweeps run when the frame is constructed: digest the pairs
    Stage.durableFrame(s, "cc", dir, inputs = Seq(pairs)) {
      Dedup.connectedComponents(pairs, "id_a", "id_b")
    }
  }

  /** Standing component labels of the corpus-internal candidate graph
    * (both ends doc_id % 10 ≠ 0, the e54 incremental split), durably
    * staged once: e180 reads them as a frame and c47 copies the
    * published files as its v0 label table.
    */
  private[queries] def baseComponentLabels(s: SparkSession,
      dir: String): java.nio.file.Path = {
    val internal = candidatePairs(s, dir)
      .where(col("id_a") % 10 =!= 0 && col("id_b") % 10 =!= 0)
    Stage.durable("cc-base", dir, Seq(internal)) { p =>
      Dedup.connectedComponents(internal, "id_a", "id_b")
        .write.mode("overwrite").parquet(p.toString)
    }
  }

  /** tokens → distinct word shingles — the frame every minhash-family
    * query derives from, and the first durable checkpoint of the dedup
    * stage chain (shingles → hashes → signatures → pairs → components,
    * each a durable stage under target/graft-fixtures): a corpus
    * pipeline tokenizes a snapshot exactly once, and every re-entrant
    * audit below reads the checkpoint instead of re-tokenizing.
    */
  private def shingledDocs(s: SparkSession, dir: String): DataFrame =
    Stage.durableFrame(s, "shingles", dir) {
      tBalanced(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .where(size(col("tk")) > 1)
        .select(col("doc_id"),
          TextAnalysis.wordShinglesFromTokens(col("tk")).as("sh"))
    }

  private val splitBucketSql =
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100"

  private val splitNameSql =
    s"""CASE WHEN $splitBucketSql < 90 THEN 'train'
        WHEN $splitBucketSql < 95 THEN 'val' ELSE 'test' END"""

  /** [[splitNameSql]] parameterized on the hashed column (e85 splits
    * on the cluster label as well as the doc id).
    */
  private def splitCaseSql(c: String): String = {
    val b = s"CAST('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 4) " +
      s"AS BIGINT) % 100"
    s"CASE WHEN $b < 90 THEN 'train' WHEN $b < 95 THEN 'val' " +
      "ELSE 'test' END"
  }

  /** Per-shingle md5 hashes — durable like [[shingledDocs]] (the hash
    * pass is the CPU-heavy step of signature derivation; checkpointing
    * it means k-fold re-derivations and the k=4 audit never re-hash).
    */
  private def stagedShingleHashes(s: SparkSession, dir: String): DataFrame = {
    val sh = shingledDocs(s, dir) // hoisted (see Stage scaladoc)
    Stage.durableFrame(s, "shingle-hashes", dir) {
      sh.select(col("doc_id"),
        transform(col("sh"), x => Dedup.shingleHash(x)).as("hs"))
    }
  }

  private val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  private val shingleCte =
    s"""toks AS (SELECT doc_id, $tokensSql AS tk FROM documents
                 WHERE len($tokensSql) > 1),
        sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] AS s
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, len(tk)-1)) AS i FROM toks))"""

  // mirror of Dedup.minhashSignatures: one md5 per shingle, k linear
  // permutations (a_j·h + b_j) mod P, min per signature
  private def sigExprs(k: Int): String =
    Dedup.minhashParams(k).zipWithIndex.map { case ((a, b), j) =>
      s"""min(($a * CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) + $b)
          % ${Dedup.minhashPrime}) AS sig_$j"""
    }.mkString(", ")

  /** LSH band buckets → distinct candidate pairs (k=8, 4 bands of 2) —
    * the shared tail of every minhash-family oracle.
    */
  private val bandPairsCte =
    s"""sig AS (SELECT doc_id, ${sigExprs(minhashK)} FROM sh GROUP BY doc_id),
        band AS (SELECT doc_id, unnest([
          md5(concat_ws('_', '0', sig_0, sig_1)),
          md5(concat_ws('_', '1', sig_2, sig_3)),
          md5(concat_ws('_', '2', sig_4, sig_5)),
          md5(concat_ws('_', '3', sig_6, sig_7))]) AS band FROM sig),
        pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM band a JOIN band b ON a.band = b.band
            AND a.doc_id < b.doc_id)"""

  private def nMatchSql(k: Int): String = (0 until k)
    .map(j => s"CASE WHEN sa.sig_$j = sb.sig_$j THEN 1 ELSE 0 END")
    .mkString(" + ")

  val oracles: Map[String, String] = Map(
    "e38_cluster_sizes" ->
      s"""WITH RECURSIVE $shingleCte, $bandPairsCte,
          e AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
          r AS (SELECT a AS id, a AS reach FROM e
                UNION
                SELECT r.id, e.b FROM r JOIN e ON r.reach = e.a),
          comp AS (SELECT id, min(reach) AS component FROM r GROUP BY id),
          cs AS (SELECT component, count(*) AS cluster_size FROM comp
                 GROUP BY component)
          SELECT cluster_size, count(*) AS n_clusters
          FROM cs GROUP BY cluster_size""",
    "e39_minhash_est" ->
      s"""WITH $shingleCte, $bandPairsCte,
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          inter AS (SELECT p.id_a, p.id_b, count(*) AS n_common
                    FROM pairs p
                    JOIN sh a ON p.id_a = a.doc_id
                    JOIN sh b ON p.id_b = b.doc_id AND a.s = b.s
                    GROUP BY p.id_a, p.id_b),
          m AS (SELECT p.id_a, p.id_b,
                  CAST(${nMatchSql(minhashK)} AS BIGINT) AS n_match
                FROM pairs p
                JOIN sig sa ON p.id_a = sa.doc_id
                JOIN sig sb ON p.id_b = sb.doc_id),
          j AS (SELECT p.id_a, p.id_b,
                  CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                    / (na.n + nb.n - COALESCE(i.n_common, 0)) AS true_jaccard
                FROM pairs p
                LEFT JOIN inter i ON p.id_a = i.id_a AND p.id_b = i.id_b
                JOIN sizes na ON p.id_a = na.doc_id
                JOIN sizes nb ON p.id_b = nb.doc_id)
          SELECT m.id_a, m.id_b, n_match,
            CAST(n_match AS DOUBLE)/$minhashK.0 AS est_jaccard, true_jaccard,
            abs(CAST(n_match AS DOUBLE)/$minhashK.0 - true_jaccard) AS abs_err
          FROM m JOIN j ON m.id_a = j.id_a AND m.id_b = j.id_b""",
    "e15_components" ->
      s"""WITH RECURSIVE $shingleCte,
          sig AS (SELECT doc_id, ${sigExprs(minhashK)} FROM sh GROUP BY doc_id),
          band AS (SELECT doc_id, unnest([
            md5(concat_ws('_', '0', sig_0, sig_1)),
            md5(concat_ws('_', '1', sig_2, sig_3)),
            md5(concat_ws('_', '2', sig_4, sig_5)),
            md5(concat_ws('_', '3', sig_6, sig_7))]) AS band FROM sig),
          pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM band a JOIN band b ON a.band = b.band
              AND a.doc_id < b.doc_id),
          e AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
          r AS (SELECT a AS id, a AS reach FROM e
                UNION
                SELECT r.id, e.b FROM r JOIN e ON r.reach = e.a)
          SELECT id AS doc_id, min(reach) AS component
          FROM r GROUP BY id""",
    // same reachability CTE, then keep the longest doc per cluster
    // (ties -> min doc_id); singletons are their own cluster
    "e55_cluster_survivor" ->
      s"""WITH RECURSIVE $shingleCte,
          sig AS (SELECT doc_id, ${sigExprs(minhashK)} FROM sh GROUP BY doc_id),
          band AS (SELECT doc_id, unnest([
            md5(concat_ws('_', '0', sig_0, sig_1)),
            md5(concat_ws('_', '1', sig_2, sig_3)),
            md5(concat_ws('_', '2', sig_4, sig_5)),
            md5(concat_ws('_', '3', sig_6, sig_7))]) AS band FROM sig),
          pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM band a JOIN band b ON a.band = b.band
              AND a.doc_id < b.doc_id),
          e AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
          r AS (SELECT a AS id, a AS reach FROM e
                UNION
                SELECT r.id, e.b FROM r JOIN e ON r.reach = e.a),
          comp AS (SELECT id, min(reach) AS component FROM r GROUP BY id),
          lab AS (SELECT d.doc_id,
                    COALESCE(c.component, d.doc_id) AS component, d.n_chars
                  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
          g AS (SELECT component, max(n_chars) AS mx,
                  count(*) AS cluster_size
                FROM lab GROUP BY component)
          SELECT l.component, min(l.doc_id) AS survivor_id,
                 g.mx AS survivor_chars, g.cluster_size
          FROM lab l JOIN g ON l.component = g.component
            AND l.n_chars = g.mx
          GROUP BY l.component, g.mx, g.cluster_size""",
    // same reachability CTE; per split strategy, clusters whose
    // members straddle >1 split (per_cluster is zero by construction)
    "e85_cluster_split" ->
      s"""WITH RECURSIVE $shingleCte,
          sig AS (SELECT doc_id, ${sigExprs(minhashK)} FROM sh GROUP BY doc_id),
          band AS (SELECT doc_id, unnest([
            md5(concat_ws('_', '0', sig_0, sig_1)),
            md5(concat_ws('_', '1', sig_2, sig_3)),
            md5(concat_ws('_', '2', sig_4, sig_5)),
            md5(concat_ws('_', '3', sig_6, sig_7))]) AS band FROM sig),
          pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM band a JOIN band b ON a.band = b.band
              AND a.doc_id < b.doc_id),
          e AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
          r AS (SELECT a AS id, a AS reach FROM e
                UNION
                SELECT r.id, e.b FROM r JOIN e ON r.reach = e.a),
          comp AS (SELECT id, min(reach) AS component FROM r GROUP BY id),
          lab AS (SELECT d.doc_id,
                    COALESCE(c.component, d.doc_id) AS cluster
                  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
          a AS (SELECT cluster, ${splitCaseSql("doc_id")} AS doc_split,
                  ${splitCaseSql("cluster")} AS cluster_split
                FROM lab),
          st AS (SELECT cluster, 'per_doc' AS strategy,
                   doc_split AS split FROM a
                 UNION ALL
                 SELECT cluster, 'per_cluster', cluster_split FROM a),
          g AS (SELECT strategy, cluster,
                  count(DISTINCT split) AS n_splits, count(*) AS n_docs
                FROM st GROUP BY 1, 2)
          SELECT strategy, count(*) AS n_clusters,
            CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS straddling_clusters,
            CAST(sum(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END)
              AS BIGINT) AS leaked_docs
          FROM g GROUP BY 1""",
    "e79_band_sweep" -> {
      def bandCte(nb: Int): String = {
        val r = minhashK / nb
        val groups = (0 until nb).map { b =>
          val cols = (b * r until (b + 1) * r).map(j => s"sig_$j")
            .mkString(", ")
          s"md5(concat_ws('_', '$b', $cols))"
        }.mkString(", ")
        s"""b$nb AS (SELECT doc_id, unnest([$groups]) AS band FROM sig),
            p$nb AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM b$nb a JOIN b$nb b
                ON a.band = b.band AND a.doc_id < b.doc_id)"""
      }
      s"""WITH $shingleCte,
          sig AS (SELECT doc_id, ${sigExprs(minhashK)} FROM sh
                  GROUP BY doc_id),
          ${bandCte(1)}, ${bandCte(2)}, ${bandCte(4)}, ${bandCte(8)}
          SELECT CAST(1 AS BIGINT) AS bands, CAST(8 AS BIGINT)
              AS rows_per_band,
            (SELECT count(*) FROM p1) AS n_pairs
          UNION ALL SELECT 2, 4, (SELECT count(*) FROM p2)
          UNION ALL SELECT 4, 2, (SELECT count(*) FROM p4)
          UNION ALL SELECT 8, 1, (SELECT count(*) FROM p8)"""
    },
    "e77_containment" ->
      s"""WITH $shingleCte, $bandPairsCte
          SELECT id_a, id_b,
            contains(ta.text, tb.text) AS a_contains_b,
            contains(tb.text, ta.text) AS b_contains_a
          FROM pairs
          JOIN documents ta ON id_a = ta.doc_id
          JOIN documents tb ON id_b = tb.doc_id""",
    "e1_exact" ->
      """SELECT text AS dedup_key, min(doc_id) AS kept, count(*) AS n_copies
         FROM documents GROUP BY text""",
    "e1_exact_fp" ->
      """SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
           AS dedup_key,
         min(doc_id) AS kept, count(*) AS n_copies
         FROM documents GROUP BY 1""",
    "e1_minhash_sig" ->
      s"""WITH $shingleCte
          SELECT doc_id, ${sigExprs(4)} FROM sh GROUP BY doc_id""",
    "e1_minhash_pairs" ->
      s"""WITH $shingleCte,
          sig AS (SELECT doc_id, ${sigExprs(minhashK)} FROM sh GROUP BY doc_id),
          band AS (SELECT doc_id, unnest([
            md5(concat_ws('_', '0', sig_0, sig_1)),
            md5(concat_ws('_', '1', sig_2, sig_3)),
            md5(concat_ws('_', '2', sig_4, sig_5)),
            md5(concat_ws('_', '3', sig_6, sig_7))]) AS band FROM sig)
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM band a JOIN band b ON a.band = b.band AND a.doc_id < b.doc_id""",
    // delta-vs-corpus banding: same sig/band derivation, asymmetric join
    "e54_incremental_dedup" ->
      s"""WITH $shingleCte,
          sig AS (SELECT doc_id, ${sigExprs(minhashK)} FROM sh GROUP BY doc_id),
          band AS (SELECT doc_id, unnest([
            md5(concat_ws('_', '0', sig_0, sig_1)),
            md5(concat_ws('_', '1', sig_2, sig_3)),
            md5(concat_ws('_', '2', sig_4, sig_5)),
            md5(concat_ws('_', '3', sig_6, sig_7))]) AS band FROM sig)
          SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_corpus
          FROM band a JOIN band b ON a.band = b.band
          WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0""",
    "e1_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS tk FROM documents),
          bits AS (SELECT doc_id, g.j,
              SUM(CASE WHEN (CAST('0x' || substr(md5(tk), 1, 8) AS BIGINT)
                             >> g.j) % 2 = 1 THEN 1 ELSE -1 END) AS bsum
            FROM tok, generate_series(0, 31) AS g(j)
            GROUP BY doc_id, g.j)
          SELECT doc_id,
            CAST(SUM(CASE WHEN bsum > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END)
              AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id""",
    "e1_jaccard" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
          sh AS (SELECT DISTINCT doc_id, substr(lower(text), i, 3) AS s
                 FROM (SELECT doc_id, text,
                         unnest(generate_series(1, greatest(len(text)-2, 0))) AS i
                       FROM d)),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      count(*) AS n_common
                    FROM sh a JOIN sh b
                      ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT id_a, id_b,
            CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
          FROM inter
          JOIN sizes na ON id_a = na.doc_id
          JOIN sizes nb ON id_b = nb.doc_id""",
    "e1_dedup_pipeline" ->
      s"""WITH $shingleCte,
          sig AS (SELECT doc_id, ${sigExprs(minhashK)} FROM sh GROUP BY doc_id),
          band AS (SELECT doc_id, unnest([
            md5(concat_ws('_', '0', sig_0, sig_1)),
            md5(concat_ws('_', '1', sig_2, sig_3)),
            md5(concat_ws('_', '2', sig_4, sig_5)),
            md5(concat_ws('_', '3', sig_6, sig_7))]) AS band FROM sig),
          pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM band a JOIN band b
              ON a.band = b.band AND a.doc_id < b.doc_id),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          inter AS (SELECT p.id_a, p.id_b, count(*) AS n_common
            FROM pairs p
            JOIN sh a ON p.id_a = a.doc_id
            JOIN sh b ON p.id_b = b.doc_id AND a.s = b.s
            GROUP BY p.id_a, p.id_b),
          verified AS (SELECT p.id_a, p.id_b,
              CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                / (na.n + nb.n - COALESCE(i.n_common, 0)) AS jaccard
            FROM pairs p
            LEFT JOIN inter i ON p.id_a = i.id_a AND p.id_b = i.id_b
            JOIN sizes na ON p.id_a = na.doc_id
            JOIN sizes nb ON p.id_b = nb.doc_id)
          SELECT t.doc_id FROM toks t
          WHERE t.doc_id NOT IN
            (SELECT id_b FROM verified WHERE jaccard >= 0.3)""",
    // same sig/band/pairs/verified chain, rolled up per unordered
    // source pair of the verified (J ≥ 0.3) near-dups
    "e95_dup_rate_by_source" ->
      s"""WITH $shingleCte,
          sig AS (SELECT doc_id, ${sigExprs(minhashK)} FROM sh GROUP BY doc_id),
          band AS (SELECT doc_id, unnest([
            md5(concat_ws('_', '0', sig_0, sig_1)),
            md5(concat_ws('_', '1', sig_2, sig_3)),
            md5(concat_ws('_', '2', sig_4, sig_5)),
            md5(concat_ws('_', '3', sig_6, sig_7))]) AS band FROM sig),
          pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM band a JOIN band b
              ON a.band = b.band AND a.doc_id < b.doc_id),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          inter AS (SELECT p.id_a, p.id_b, count(*) AS n_common
            FROM pairs p
            JOIN sh a ON p.id_a = a.doc_id
            JOIN sh b ON p.id_b = b.doc_id AND a.s = b.s
            GROUP BY p.id_a, p.id_b),
          verified AS (SELECT p.id_a, p.id_b,
              CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                / (na.n + nb.n - COALESCE(i.n_common, 0)) AS jaccard
            FROM pairs p
            LEFT JOIN inter i ON p.id_a = i.id_a AND p.id_b = i.id_b
            JOIN sizes na ON p.id_a = na.doc_id
            JOIN sizes nb ON p.id_b = nb.doc_id)
          SELECT least(da.source, db.source) AS source_x,
            greatest(da.source, db.source) AS source_y,
            count(*) AS n_pairs
          FROM verified v
          JOIN documents da ON v.id_a = da.doc_id
          JOIN documents db ON v.id_b = db.doc_id
          WHERE v.jaccard >= 0.3
          GROUP BY 1, 2""",
    // frequency-clipped unigram overlap per candidate pair; the
    // harmonic F collapses to 2·ov/(n_a+n_b) — one exact integer, one
    // final division (CASE mirrors the Spark `when` null-guard)
    "e121_rouge_audit" ->
      s"""WITH $shingleCte,
          $bandPairsCte,
          tc AS (SELECT doc_id, tk AS w, count(*) AS cnt
                 FROM (SELECT doc_id, unnest($tokensSql) AS tk
                       FROM documents)
                 GROUP BY 1, 2),
          tot AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS ntok
                  FROM tc GROUP BY 1),
          ov AS (SELECT p.id_a, p.id_b,
                   CAST(SUM(LEAST(a.cnt, b.cnt)) AS BIGINT) AS ov
                 FROM pairs p
                 JOIN tc a ON a.doc_id = p.id_a
                 JOIN tc b ON b.doc_id = p.id_b AND b.w = a.w
                 GROUP BY 1, 2)
          SELECT p.id_a, p.id_b,
            coalesce(o.ov, 0) AS overlap,
            coalesce(ta.ntok, 0) AS n_a,
            coalesce(tb.ntok, 0) AS n_b,
            CASE WHEN coalesce(ta.ntok, 0) + coalesce(tb.ntok, 0) > 0
              THEN 2.0 * CAST(coalesce(o.ov, 0) AS DOUBLE) /
                CAST(coalesce(ta.ntok, 0) + coalesce(tb.ntok, 0)
                  AS DOUBLE) END AS rouge1_f
          FROM pairs p
          LEFT JOIN ov o ON o.id_a = p.id_a AND o.id_b = p.id_b
          LEFT JOIN tot ta ON ta.doc_id = p.id_a
          LEFT JOIN tot tb ON tb.doc_id = p.id_b""",
    // streaming admission must equal the batch definition: a doc is a
    // near-dup iff some band of it was first seen on a smaller doc id
    "c31_stream_neardup" ->
      s"""WITH $shingleCte,
          sig AS (SELECT doc_id, ${sigExprs(minhashK)} FROM sh
                  GROUP BY doc_id),
          band AS (SELECT doc_id, unnest([
            md5(concat_ws('_', '0', sig_0, sig_1)),
            md5(concat_ws('_', '1', sig_2, sig_3)),
            md5(concat_ws('_', '2', sig_4, sig_5)),
            md5(concat_ws('_', '3', sig_6, sig_7))]) AS band FROM sig),
          m AS (SELECT band, min(doc_id) AS mn FROM band GROUP BY band)
          SELECT b.doc_id, count(*) AS n_bands,
            bool_or(m.mn < b.doc_id) AS is_neardup
          FROM band b JOIN m ON b.band = m.band
          GROUP BY b.doc_id""",
    // verified near-dup pairs × split labels, both orientations: the
    // eval side of every (eval, train) pair
    "e110_neardup_contam" ->
      s"""WITH $shingleCte,
          sig AS (SELECT doc_id, ${sigExprs(minhashK)} FROM sh
                  GROUP BY doc_id),
          band AS (SELECT doc_id, unnest([
            md5(concat_ws('_', '0', sig_0, sig_1)),
            md5(concat_ws('_', '1', sig_2, sig_3)),
            md5(concat_ws('_', '2', sig_4, sig_5)),
            md5(concat_ws('_', '3', sig_6, sig_7))]) AS band FROM sig),
          pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM band a JOIN band b
              ON a.band = b.band AND a.doc_id < b.doc_id),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          inter AS (SELECT p.id_a, p.id_b, count(*) AS n_common
            FROM pairs p
            JOIN sh a ON p.id_a = a.doc_id
            JOIN sh b ON p.id_b = b.doc_id AND a.s = b.s
            GROUP BY p.id_a, p.id_b),
          verified AS (SELECT p.id_a, p.id_b,
              CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                / (na.n + nb.n - COALESCE(i.n_common, 0)) AS jaccard
            FROM pairs p
            LEFT JOIN inter i ON p.id_a = i.id_a AND p.id_b = i.id_b
            JOIN sizes na ON p.id_a = na.doc_id
            JOIN sizes nb ON p.id_b = nb.doc_id),
          lab AS (SELECT v.id_a, v.id_b, v.jaccard,
              ${splitCaseSql("v.id_a")} AS split_a,
              ${splitCaseSql("v.id_b")} AS split_b
            FROM verified v WHERE v.jaccard >= 0.3)
          SELECT id_a AS eval_id, split_a AS split, id_b AS train_id,
            jaccard
          FROM lab WHERE split_a <> 'train' AND split_b = 'train'
          UNION ALL
          SELECT id_b, split_b, id_a, jaccard
          FROM lab WHERE split_b <> 'train' AND split_a = 'train'""",

    // horizon semantics: flagged iff the band's previous occurrence
    // is within h doc ids (chain not broken); audit rows −1/−2 count
    // bands evicted mid-stream vs live at the drain (exact strict-<
    // boundary, event time = doc_id seconds so ms floors are exact)
    "c35_stream_neardup_ttl" ->
      s"""WITH $shingleCte,
          sig AS (SELECT doc_id, ${sigExprs(minhashK)} FROM sh
                  GROUP BY doc_id),
          band AS (SELECT doc_id, unnest([
            md5(concat_ws('_', '0', sig_0, sig_1)),
            md5(concat_ws('_', '1', sig_2, sig_3)),
            md5(concat_ws('_', '2', sig_4, sig_5)),
            md5(concat_ws('_', '3', sig_6, sig_7))]) AS band FROM sig),
          bx AS (SELECT max(doc_id) AS m,
            2 * (max(doc_id) // 3) + 3 AS h FROM band),
          fl AS (SELECT doc_id, band,
            lag(doc_id) OVER (PARTITION BY band ORDER BY doc_id)
              AS prev FROM band),
          docs AS (SELECT doc_id, count(*) AS n_bands,
            bool_or(prev IS NOT NULL AND
              doc_id - prev <= (SELECT h FROM bx)) AS is_neardup
            FROM fl GROUP BY doc_id),
          lastocc AS (SELECT band, max(doc_id) AS last FROM band
            GROUP BY band),
          audit AS (
            SELECT CAST(-1 AS BIGINT) AS doc_id,
              count(*) AS n_bands, FALSE AS is_neardup
            FROM lastocc, bx WHERE last + h < m
            HAVING count(*) > 0
            UNION ALL
            SELECT CAST(-2 AS BIGINT), count(*), FALSE
            FROM lastocc, bx WHERE last + h >= m
            HAVING count(*) > 0)
          SELECT * FROM docs UNION ALL SELECT * FROM audit""",
    "e8_split" ->
      s"""SELECT doc_id, $splitBucketSql AS bucket, $splitNameSql AS split
          FROM documents""",
    "e10_contam" ->
      s"""WITH d AS (SELECT doc_id,
            md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
            $splitNameSql AS split
          FROM documents)
          SELECT doc_id, fp, split FROM d
          WHERE split <> 'train'
            AND fp IN (SELECT fp FROM d WHERE split = 'train')""")
}

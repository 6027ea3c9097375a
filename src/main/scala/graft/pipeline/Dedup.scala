package graft.pipeline

import graft.Caches.CacheOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables
import Hashing._

/** Deduplication suite over `documents` / `embeddings` — the core
  * training-data-pipeline operators, each in its at-scale shape:
  *
  *  - exact:      hash → groupBy (one shuffle on the digest)
  *  - minhash:    shingle → MinHash signature → banded LSH bucket-join →
  *                candidate pairs (no O(n²) anywhere; the bucket-join is the
  *                only shuffle and its width is bounded by band cardinality)
  *  - ngram:      exact Jaccard VERIFICATION of LSH candidates (the verify
  *                stage of the candidates→verify pipeline)
  *  - simhash:    per-doc 32-bit fingerprint, pigeonholed into 4 bands →
  *                bucket-join (Hamming ≤ 3 ⇒ a shared band) → per-doc
  *                nearest banded neighbor via map-side-combinable min
  *  - embedding:  cosine near-dup pairs inside label blocks (IVF-cell
  *                analog), with EXACT integer arithmetic: cos ≥ τ decided as
  *                dot²·25 ≥ |a|²·|b|²·4 over quantized vectors — no float
  *                threshold boundary to disagree on across engines.
  */
object Dedup {

  val MinhashK = 8
  val Bands = 4 // 2 rows per band
  /** Hot-bucket guard: a band bucket with more than this many docs (a
    * degenerate shingle cluster — think boilerplate pages at 100 TB) would
    * contribute O(n²) candidate pairs; such buckets are dropped, the
    * standard LSH skew control. Generous enough that no bucket in the
    * test corpus ever hits it (mirrored exactly in the oracle). */
  val MaxBucket = 200

  /** Exact dedup: survivor (min doc_id) + copy count per text digest. */
  def exact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.table(s, dir, "documents")
      .groupBy(md5($"text").as("digest"))
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select($"doc_id", $"n_copies")
      .orderBy($"doc_id")
  }

  /** Per-doc MinHash signatures, shingles materialized stepwise and the tiny
    * result CACHED: signature columns feed several plan branches (band
    * explode + two pair-side joins), and Column lambdas duplicate their
    * input expression tree per use — without materialization the shingle +
    * md5 work would re-run once per branch per hash position. */
  private[pipeline] def sigsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // One cache: the native RotMinHash consumes the md5-shingle base array
    // exactly once (no lambda expression-tree duplication — the r1 hazard),
    // so only the finished signature table needs materializing for its
    // multiple plan branches (band explode + two pair-join sides).
    docs
      .select($"doc_id", shingleMd5(tokens($"text")).as("bh"))
      .select($"doc_id", minhashSigRot($"bh", MinhashK).as("sig"))
      .graftCache()
  }

  /** Banded LSH candidate pairs from a (doc_id, sig) table: bucket-join on
    * (band, concat of the band's signature rows) — the only shuffle of the
    * candidate stage, with width bounded by band-key cardinality. */
  /** Hot-bucket guard as a BROADCAST anti-join: bucket sizes reduce to a
    * tiny (band, key) count via map-side-combinable aggregation, the few
    * over-[[MaxBucket]] buckets broadcast, and the band rows drop them
    * without being shuffled or sorted — unlike the r2 window-function
    * spelling (`count() OVER (PARTITION BY band, key)`), which shuffled and
    * sorted EVERY band row just to count its bucket. At 100 TB the hot list
    * stays O(degenerate clusters) while the band table is O(corpus). */
  private def dropHotBuckets(bands0: DataFrame): DataFrame = {
    import bands0.sparkSession.implicits._
    val hot = bands0.groupBy($"band", $"key")
      .agg(count(lit(1)).as("bsz"))
      .filter($"bsz" > MaxBucket)
      .select($"band", $"key")
    bands0.join(broadcast(hot), Seq("band", "key"), "left_anti")
  }

  /** Exploded `(doc_id, band, key)` rows of a `(doc_id, sig)` table —
    * UNGUARDED (the arrival side of [[assignOf]]: candidate width there is
    * bounded by the already-guarded index buckets, so the batch side needs
    * no hot-drop of its own). */
  private def rawBandsOf(sg: DataFrame): DataFrame = {
    import sg.sparkSession.implicits._
    sg.select($"doc_id", explode(
      transform(sequence(lit(0), lit(Bands - 1)), b =>
        struct(b.as("band"), concat(element_at($"sig", b * 2 + 1),
          element_at($"sig", b * 2 + 2)).as("key")))).as("bk"))
      .select($"doc_id", $"bk.band", $"bk.key")
  }

  /** [[rawBandsOf]] with the [[MaxBucket]] hot-bucket guard — the band
    * table the self-join candidates and the persisted index are built
    * from. */
  private[pipeline] def bandsOf(sg: DataFrame): DataFrame =
    dropHotBuckets(rawBandsOf(sg))

  private def bandCandidates(sg: DataFrame): DataFrame = {
    import sg.sparkSession.implicits._
    val bands = bandsOf(sg)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** MinHash LSH: banded bucket-join candidates with signature agreement
    * ≥ 4/8; the declared query serves from the [[corpusScoredPairs]]
    * artifact — a filtered parquet scan, nothing recomputed. */
  def minhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    minhashPairsIndexed(s, dir).orderBy($"doc_a", $"doc_b")
  }

  /** Unsorted MinHash near-dup pairs — the composable form: [[cluster]]
    * feeds these straight into a shuffle, where a sort would be dead work. */
  private[graft] def minhashPairs(s: SparkSession, docs: DataFrame): DataFrame =
    // cached: the tokenize→shingle→minhash signature pass feeds the band
    // candidate generation AND both verify-join sides — uncached it
    // replays 3× (the r8 cache-placement sweep; MEMORY_AND_DISK). Block
    // lifetime belongs to the session owner — clearCache between jobs,
    // see the [[graft.GraftSession]] cache-ownership convention.
    pairsFromSigs(sigsOf(docs).graftCache())

  /** Persisted FULL-CORPUS signature artifact (IndexStore variant
    * "mhsigs") — signatures are a pure function of the corpus snapshot,
    * so the corpus is hashed ONCE per snapshot (r13; the
    * train-once/serve-many contract the IVF and band indexes already
    * follow — the build is emitted untimed as mh_build_sec). Since r14
    * the pair-graph analytics serve from the [[corpusScoredPairs]] tier
    * built on top of this one; the signature artifact remains the build
    * input and the serving table for signature-level consumers.
    * Fingerprint-keyed like every artifact: a mutated corpus rebuilds.
    * [[sigsOf]] stays the inline entry for arbitrary frames (probes,
    * filtered subsets like `curateNear`'s MinTokens slice). */
  private[pipeline] def corpusSigs(s: SparkSession, dir: String): DataFrame = {
    val p = IndexStore.getOrBuild(s, dir, "documents", "mhsigs") { out =>
      sigsOf(Tables.table(s, dir, "documents")).write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(out, "sigs").toString)
    }
    Tables.parquet(s, new org.apache.hadoop.fs.Path(p, "sigs").toString)
  }

  /** Persisted FULL-CORPUS SCORED-PAIR artifact (IndexStore variant
    * "mhpairs") — the tier BETWEEN signatures and the graph consumers
    * (r13 verdict #1): the [[corpusSigs]] artifact removed corpus
    * re-hashing, but every pair-graph query still replayed the
    * band-candidate join + the two signature verify joins from the sig
    * scan per query — and the ITERATIVE consumers (hops/pagerank/LPA)
    * paid that replay in their loop prologues, measuring +15–20% vs the
    * pre-artifact round. The verified pair graph is a pure function of
    * the corpus snapshot exactly like the signatures, so it persists
    * beside them and every consumer serves from the parquet scan —
    * zero band joins, zero `zip_with` verifies, zero hashing in any
    * serving plan (pinned in `MinhashIndexSpec`).
    *
    * Stored UNFILTERED (every banded candidate with its agreement count,
    * not just `matches >= 4`) so [[thresholdFrontier]]'s 1..K sweep
    * serves from the same scan; the production pair table is the
    * `matches >= 4` filter, pushed down to the parquet scan. Build cost
    * folds into the untimed `mh_build_sec` ([[trainSigIndex]]). */
  private[pipeline] def corpusScoredPairsPath(s: SparkSession, dir: String): String =
    // variant "mhpairs2" (r16): the artifact grew a second table (`hot`,
    // the corpus hot-bucket list [[minhashPairsSubset]]'s residual path
    // serves from) — a NEW variant name, so a durable root holding the
    // old single-table layout rebuilds instead of failing the hot read
    IndexStore.getOrBuild(s, dir, "documents", "mhpairs2") { out =>
      val sg = corpusSigs(s, dir).graftCache()
      scoredPairsFromSigs(sg)
        .write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(out, "pairs").toString)
      import s.implicits._
      rawBandsOf(sg).groupBy($"band", $"key")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("c"))
        .filter($"c" > MaxBucket).select($"band", $"key")
        .write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(out, "hot").toString)
    }

  private[pipeline] def corpusScoredPairs(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, new org.apache.hadoop.fs.Path(
      corpusScoredPairsPath(s, dir), "pairs").toString)

  /** The corpus HOT-BUCKET list persisted beside the scored pairs (r16):
    * the (band, key) buckets the corpus-level [[MaxBucket]] guard dropped
    * — exactly the buckets a SLICE consumer must re-examine, because a
    * bucket over the cap in the full corpus can be under it in the slice
    * ([[minhashPairsSubset]]'s population-relative guard contract). */
  private def corpusHotBuckets(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, new org.apache.hadoop.fs.Path(
      corpusScoredPairsPath(s, dir), "hot").toString)

  /** EMPTINESS of the persisted hot-bucket table, memoized in the
    * [[Tables.memoAt]] metadata memo on (path, file stamp) (r16, guide §1 —
    * the plan-time `limit(1).isEmpty` gate in [[minhashPairsSubset]] ran a
    * small Spark job per consumer CALL; four pipeline queries pay it once
    * per bench run each). A rewritten artifact dir stamps differently and
    * re-probes. */
  private def corpusHotBucketsEmpty(s: SparkSession, dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(
      corpusScoredPairsPath(s, dir), "hot").toString
    Tables.memoAt(s, "empty", path)(Tables.parquet(s, path).limit(1).isEmpty)
  }

  /** [[minhashPairs]] served from the [[corpusScoredPairs]] artifact —
    * zero signature/candidate/verify computation in the plan (pinned in
    * `MinhashIndexSpec`); the threshold filter pushes down to the scan. */
  private[pipeline] def minhashPairsIndexed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    corpusScoredPairs(s, dir).filter($"matches" >= 4)
  }

  /** [[minhashPairs]] for a doc-id SUBSET of the corpus snapshot (r15):
    * signatures are a pure per-doc function of the text, so a filtered
    * corpus slice — a quality gate, decontamination survivors, a sampled
    * audit — serves its signatures from the one-per-snapshot
    * [[corpusSigs]] artifact via a doc_id semi-join, with ZERO
    * re-tokenize / re-shingle / re-hash in the serving plan. The band
    * candidate join and the [[MaxBucket]] hot-bucket guard still run on
    * the SUBSET's band table: the guard is population-relative (a bucket
    * over the cap in the full corpus can be under it in the slice, so a
    * full-corpus drop does not imply a slice drop), which is exactly why
    * the [[corpusScoredPairs]] tier can NOT be endpoint-restricted to
    * serve a slice — the signature tier is the deepest subset-invariant
    * one. At 100 TB the semi-join moves the per-run cost from re-hashing
    * corpus TEXT (KBs per doc) to scanning signatures (~100 B per doc).
    * Answer-identical to the inline spelling by construction; the
    * equivalence is pinned in `MinhashIndexSpec`. */
  private[graft] def minhashPairsSubset(
      s: SparkSession, dir: String, ids: DataFrame): DataFrame = {
    import s.implicits._
    val idsN = ids.select($"doc_id")
    // SLICE pairs served from the SCORED-PAIR artifact (r16 — one tier up
    // from the r15 signature-artifact serving): a bucket the corpus-level
    // guard KEPT (count ≤ MaxBucket over the full corpus) is kept in any
    // slice too (slice count ≤ corpus count), so every artifact pair with
    // both endpoints in the slice is a slice pair VERBATIM — candidates
    // AND agreement counts are slice-independent. The r15 spelling
    // re-banded + re-verified the slice's signatures per query; now the
    // serving plan is the artifact scan + two endpoint semi-joins.
    // explicit re-select: each using-column semi-join moves its key first,
    // which would silently flip (doc_a, doc_b) positionally downstream
    val kept = corpusScoredPairs(s, dir)
      .join(idsN.select($"doc_id".as("doc_a")), Seq("doc_a"), "left_semi")
      .join(idsN.select($"doc_id".as("doc_b")), Seq("doc_b"), "left_semi")
      .filter($"matches" >= 4)
      .select($"doc_a", $"doc_b", $"matches")
    // The ONLY slice-dependent part of the guard: a bucket the corpus
    // guard DROPPED as hot can be under the cap in the slice — those
    // pairs exist in no artifact and are recomputed from the signature
    // artifact, restricted to the (persisted, O(degenerate-clusters))
    // hot-bucket list. Population-relativity is exactly why the scored
    // tier alone could not serve slices (r15 scaladoc); splitting the
    // residual out preserves it bit-for-bit: slice candidates =
    // (corpus-kept-bucket pairs ∩ slice²) ∪ (corpus-hot, slice-cold
    // bucket pairs), with per-pair `matches` identical on both routes.
    // Plan-time gate, not a plan branch: with NO hot buckets (the usual
    // corpus) the residual is structurally empty and the serving plan
    // stays scan + semi-joins — zero band rows, zero verify sites.
    if (corpusHotBucketsEmpty(s, dir)) kept
    else {
      val hot = corpusHotBuckets(s, dir)
      val sliceSigs = corpusSigs(s, dir)
        .join(idsN, Seq("doc_id"), "left_semi")
        .graftCache()
      val resBands = dropHotBuckets(
        rawBandsOf(sliceSigs)
          .join(broadcast(hot), Seq("band", "key"), "left_semi"))
      val resCand = resBands.as("a").join(resBands.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val resScored = resCand
        .join(sliceSigs.select($"doc_id".as("doc_a"), $"sig".as("sig_a")), "doc_a")
        .join(sliceSigs.select($"doc_id".as("doc_b"), $"sig".as("sig_b")), "doc_b")
        .withColumn("matches",
          aggregate(zip_with($"sig_a", $"sig_b", (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, x) => acc + x))
        .filter($"matches" >= 4)
        .select($"doc_a", $"doc_b", $"matches")
      // a pair can reach the candidate set through BOTH a kept and a
      // residual bucket — distinct on the (equal-by-construction) rows
      kept.unionByName(resScored).distinct()
    }
  }

  /** The candidates→verify pair pipeline over any `(doc_id, sig)` table. */
  private def pairsFromSigs(sg: DataFrame): DataFrame = {
    import sg.sparkSession.implicits._
    scoredPairsFromSigs(sg).filter($"matches" >= 4)
  }

  /** Every banded candidate pair SCORED (signature agreement count),
    * unfiltered — the artifact builder's shape and the threshold sweep's
    * input. */
  private def scoredPairsFromSigs(sg: DataFrame): DataFrame = {
    val s = sg.sparkSession
    import s.implicits._
    bandCandidates(sg)
      .join(sg.select($"doc_id".as("doc_a"), $"sig".as("sig_a")), "doc_a")
      .join(sg.select($"doc_id".as("doc_b"), $"sig".as("sig_b")), "doc_b")
      .withColumn("matches",
        aggregate(zip_with($"sig_a", $"sig_b", (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x))
      .select($"doc_a", $"doc_b", $"matches")
  }

  /** Duplicate-CLUSTER resolution: the MinHash pair table collapsed to
    * whole components (`doc → cluster-min`) via alternating large-star /
    * small-star ([[Components.connectedComponents]]) — near-dup pairs are
    * not actionable until transitively closed (keep ONE doc per cluster,
    * not one per pair). The oracle computes the same closure with a
    * recursive CTE — fine at oracle scale, O(diameter) joins at 100 TB,
    * which is exactly why the Spark side uses the star algorithm instead. */
  def cluster(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = minhashPairsIndexed(s, dir)
      .select($"doc_a", $"doc_b")
    Components.connectedComponents(pairs)
      .select($"node".as("doc_id"), $"root".as("cluster_id"))
      .orderBy($"doc_id")
  }

  /** INCREMENTAL COMPONENT MERGE — fold an arrival batch's near-dup pairs
    * into a FROZEN component map without re-closing the corpus graph
    * (r13; the graph twin of [[mergeMinhashIndex]]/`masterMergeOf`, which
    * closed the index and entity halves of the refresh loop but left the
    * CLUSTER map a full recompute). Two-level contraction, exact by
    * construction:
    *
    *  1. relabel each new pair's corpus endpoints through the frozen map
    *     (component roots ARE their members' minima, so contraction
    *     preserves both connectivity and the min-id election);
    *  2. close ONLY the contracted delta graph — nodes are arrival docs
    *     plus the touched old roots, so the closure costs ∝ arrivals;
    *  3. final map: old nodes re-root through `delta(oldRoot)` when their
    *     root was touched (one join of the batch-sized delta map onto the
    *     frozen map), arrivals read the delta map directly.
    *
    * An old component can join the union component ONLY through a new
    * pair (old edges never cross old components), so untouched clusters
    * are byte-stable — which is also the output's diagnostic: per doc,
    * the union cluster, the PRIOR cluster (−1 for arrivals and previously
    * unpaired docs) and an arrival/stable/merged status — the review feed
    * for "which of my frozen clusters did this batch weld".
    *
    * Declared-query instantiation (the `q_dedup_index_merge` convention):
    * corpus = even doc_ids, arrivals = odd; the in-query "frozen" map is
    * recomputed for oracle parity, and the DuckDB oracle replays BOTH
    * closures from scratch on the union — hash equality at three SFs IS
    * the merged ≡ rebuilt contract. Production serves the frozen map and
    * the merged band index, so steps 1-3 genuinely cost ∝ arrivals. */
  def clusterMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = graft.Caches.materialize(
      minhashPairsIndexed(s, dir).select($"doc_a", $"doc_b"))
    clusterMergeOf(all)
  }

  /** [[clusterMerge]] over any pair table with the odd-id = arrival
    * convention — the fixture entry point (`ComponentsSpec`). */
  private[graft] def clusterMergeOf(all: DataFrame): DataFrame = {
    val s = all.sparkSession
    import s.implicits._
    val oldPairs = all.filter($"doc_a" % 2 === 0 && $"doc_b" % 2 === 0)
    clusterMergeWithMap(all,
      Components.connectedComponents(oldPairs).graftCache())
  }

  /** The merge HALF of [[clusterMergeOf]] given an already-FROZEN map `m`
    * (`(node, root)` over the corpus subgraph) — what production actually
    * runs: delta build + delta closure cost ∝ arrivals, plus two columnar scans of the frozen map
    * (the relabel join and the final re-root join — never a corpus
    * re-closure).
    *
    * STALE-WELD CAVEAT (r13 ADVICE): the merge is edge-MONOTONE — it can
    * only add welds — but the union PAIR set is not: arrivals can push a
    * band bucket over [[MaxBucket]], dropping even-even pairs the frozen
    * map was built on (the merged index's open-time guard drops those
    * rows too). A production frozen map therefore RETAINS components a
    * from-scratch union rebuild would split; the welds persist across
    * hot-bucket transitions until the next full re-closure — the graph
    * twin of the index merge's "dropped rows never resurrect" note. The
    * declared query's merged ≡ rebuilt hash contract holds because it
    * recomputes the frozen map in-query from the same (guarded) union
    * pair table. */
  private[graft] def clusterMergeWithMap(all: DataFrame, m: DataFrame): DataFrame = {
    val s = all.sparkSession
    import s.implicits._
    val merged = mergeComponentMap(m,
      all.filter($"doc_a" % 2 === 1 || $"doc_b" % 2 === 1))
    // LEFT join + self-root coalesce: a node the merged map does not cover
    // (an even-even pair endpoint absent from a stale/truncated frozen
    // map) stays a visible self-rooted singleton — an inner join would
    // silently drop it from the assignment
    all.select(explode(array($"doc_a", $"doc_b")).as("node")).distinct()
      .join(merged.select($"node", $"root".as("cluster1")), Seq("node"), "left")
      .join(m.select($"node", $"root".as("prior0")), Seq("node"), "left")
      .select($"node".as("doc_id"),
        coalesce($"cluster1", $"node").as("cluster_id"),
        coalesce($"prior0", lit(-1L)).as("prior_cluster_id"))
      .withColumn("status",
        when($"doc_id" % 2 === 1, "arrival")
          .when($"prior_cluster_id" === $"cluster_id", "stable")
          .otherwise("merged"))
      .orderBy($"doc_id")
  }

  /** The COMPOSABLE primitive under [[clusterMergeWithMap]] (r13 verdict
    * #6): fold one batch of new pairs into a frozen component map — map
    * `(node, root)` in, map out, covering nodes(m) ∪ the batch's
    * endpoints — so arrival batches CHAIN exactly like
    * [[mergeMinhashIndex]] and `mergeIntoSummary` do on the index and
    * entity halves. Contraction algebra (exact because roots ARE member
    * minima): relabel batch endpoints through the map, close ONLY the
    * contracted delta graph, then re-root old nodes whose root the delta
    * touched and read new endpoints off the delta map directly. Cost per
    * fold ∝ batch + two columnar scans of the frozen map, never a corpus
    * re-closure. `ComponentsSpec` pins the CHAIN: two sequential batches
    * folded through the intermediate map ≡ one closure over the 3-way
    * union, including a batch-2 pair that welds two clusters batch 1
    * created. Same stale-weld caveat as [[clusterMergeWithMap]]. */
  private[graft] def mergeComponentMap(m: DataFrame, newPairs: DataFrame): DataFrame = {
    val s = m.sparkSession
    import s.implicits._
    val delta = newPairs
      .join(m.select($"node".as("doc_a"), $"root".as("ra")), Seq("doc_a"), "left")
      .join(m.select($"node".as("doc_b"), $"root".as("rb")), Seq("doc_b"), "left")
      .select(coalesce($"ra", $"doc_a").as("a"),
        coalesce($"rb", $"doc_b").as("b"))
    // batch-sized; consumed by the old-root re-root join AND the
    // new-endpoint read
    val d = Components.connectedComponents(delta).graftCache()
    val oldSide = m
      .join(d.select($"node".as("root"), $"root".as("nr")), Seq("root"), "left")
      .select($"node", coalesce($"nr", $"root").as("root"))
    val newSide = newPairs
      .select(explode(array($"doc_a", $"doc_b")).as("node")).distinct()
      .join(m.select($"node"), Seq("node"), "left_anti")
      .join(d, Seq("node"), "left")
      .select($"node", coalesce($"root", $"node").as("root"))
    oldSide.unionByName(newSide)
  }

  /** N-gram Jaccard: exact similarity verification over the banded LSH
    * candidates (the candidates→verify pipeline shape; any-single-position
    * blocking floods on small-vocabulary corpora where random pairs share
    * minima); jaccard in integer percent. */
  def ngram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.table(s, dir, "documents")
      .select($"doc_id", tokens($"text").as("w"))
      .select($"doc_id", array_distinct(shingles3($"w")).as("sh"), shingleMd5($"w").as("bh"))
      .graftCache()
      .select($"doc_id", $"sh", minhashSigRot($"bh", MinhashK).as("sig"))
    val cand = bandCandidates(docs.select($"doc_id", $"sig"))
    cand
      .join(docs.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
      // cheap size-ratio bound before the set intersection:
      // jaccard <= min(|A|,|B|) / max(|A|,|B|), so ratios under the
      // threshold can never verify
      .filter(least(size($"sh_a"), size($"sh_b")) * 100L >=
        greatest(size($"sh_a"), size($"sh_b")) * 30L)
      .withColumn("inter", size(array_intersect($"sh_a", $"sh_b")))
      .withColumn("uni", size($"sh_a") + size($"sh_b") - $"inter")
      .withColumn("jac_pct", floor($"inter" * 100L / $"uni").cast("long"))
      .filter($"jac_pct" >= 30)
      .select($"doc_a", $"doc_b", $"jac_pct")
      .orderBy($"doc_a", $"doc_b")
  }

  /** SimHash approximate nearest neighbor, banded: the 32-bit fingerprint is
    * pigeonholed into 4 disjoint 8-bit bands — any pair within Hamming
    * distance 3 shares at least one intact band (Manku et al., WWW '07
    * "Detecting Near-Duplicates for Web Crawling" §3), so a bucket-join on
    * (band, byte) finds every close pair without the O(n²) all-pairs scan
    * the r1 version used. Per doc, the nearest banded candidate is selected
    * with a map-side-combinable min(struct(hamming, nn)) — the shuffle after
    * the bucket-join carries one row per doc. Hot buckets (> MaxBucket docs:
    * template-heavy corpora collapse to few fingerprints) are dropped, the
    * same skew control as the MinHash path. */
  def simhashNN(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Token hashes materialized BEFORE the 32 per-bit folds (each fold's
    // lambda would otherwise embed — and re-execute — the whole char-fold
    // tree), and the per-doc fingerprint table cached across both join sides.
    val fp = Tables.table(s, dir, "documents")
      .select($"doc_id", transform(tokens($"text"), t => charFoldHash(t)).as("hs"))
      .select($"doc_id", simhash($"hs", 32).as("fp"))
      .graftCache()
    val bands = dropHotBuckets(
      fp.select($"doc_id", $"fp", explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright($"fp", 8 * b).bitwiseAND(255).as("key"))): _*)).as("bk"))
        .select($"doc_id", $"fp", $"bk.band", $"bk.key"))
    // A pair sharing several bands appears once per shared band; the min
    // aggregation absorbs duplicates, so no distinct() shuffle is needed.
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id"),
        struct(bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("h"),
          col("b.doc_id").as("nn")).as("hn"))
      .groupBy($"doc_id")
      .agg(min($"hn").as("m"))
      .select($"doc_id", $"m.nn".as("nn_doc"), $"m.h".as("hamming"))
      .orderBy($"doc_id")
  }

  /** Dedup blocking uses MORE planes than the ANN query's 4: dedup wants
    * small buckets (the verify stage pays per candidate pair — the decimal
    * cosine test is the expensive step), and radius-1 multiprobe repairs the
    * boundary misses the extra planes introduce. At 100 TB the plane count
    * grows with the corpus so bucket occupancy stays bounded. */
  val EmbeddingPlanes = 8

  /** Embedding near-dup pairs: cosine ≥ 0.4 among LSH-blocked candidates,
    * decided in exact integer/decimal arithmetic over micro-quantized
    * vectors. Blocking reuses [[Similarity.bucket]] (deterministic
    * random-hyperplane LSH) with radius-1 multiprobe spelled as an EXPLODE
    * of probe keys + equi-join — the 100 TB shape: candidate width is
    * bounded by bucket occupancy, never all-pairs, and a pair appears at
    * most once (probe keys are distinct, each candidate lives in exactly
    * one bucket), so no dedup shuffle is needed. */
  def embedding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec38 = DecimalType(38, 0)
    val planes = EmbeddingPlanes
    val e = Tables.table(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("q"))
      .withColumn("n2", qdot($"q", $"q"))
      .withColumn("bkt", Similarity.bucket($"q", planes))
      // two plan branches (probe side + candidate side): materialize once
      .graftCache()
    val probes = e.select($"vec_id", $"q", $"n2",
      explode(array($"bkt" +:
        (0 until planes).map(p => $"bkt".bitwiseXOR(lit(1L << p))): _*)).as("bkt"))
    val p = probes.as("a").join(e.as("b"),
        col("a.bkt") === col("b.bkt") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        qdot(col("a.q"), col("b.q")).as("dot"),
        col("a.n2").as("na2"), col("b.n2").as("nb2"))
    // The exact cosine test 25·dot² ≥ 4·na²·nb² needs 128-bit arithmetic
    // (operands reach ~4e27) — but Decimal(38) math per candidate pair is
    // the dominant cost of the whole query. Both sides are exact in double
    // up to a ~1e-15 relative error, so a double prescreen decides every
    // pair outside a 1e-12 relative band and the decimal path runs only on
    // borderline pairs (none, in practice). The decision function is
    // bit-identical to the oracle's HUGEINT comparison.
    val lhsD = $"dot".cast("double") * $"dot" * 25d
    val rhsD = $"na2".cast("double") * $"nb2" * 4d
    p.filter($"dot" > 0 &&
        when(lhsD >= rhsD * 1.000000000001d, lit(true))
          .when(lhsD < rhsD * 0.999999999999d, lit(false))
          .otherwise($"dot".cast(dec38) * $"dot" * 25 >= $"na2".cast(dec38) * $"nb2" * 4))
      .select($"vec_a", $"vec_b")
      .orderBy($"vec_a", $"vec_b")
  }

  /** Cosine threshold for [[semantic]] as a ratio: τ² = 9/100 → τ = 0.3
    * (the synthetic embeddings are near-orthogonal — max observed cosine
    * ≈ 0.5 — so the production 0.9-ish SemDeDup threshold would be empty
    * here; the MACHINERY is threshold-independent). */
  val SemTauNum = 9
  val SemTauDen = 100

  /** Hot-CELL guard for [[semantic]] — the IVF-cell analog of [[MaxBucket]]:
    * the within-cell pair space is Σ|cell|², so one degenerate cell (an
    * embedding-space collapse — think near-identical boilerplate vectors at
    * 100 TB) is quadratic on its own. Cells above this size are dropped
    * before the self-join (broadcast anti-join on the tiny over-size list,
    * same shape as [[dropHotBuckets]]); at production scale you'd sub-split
    * them with a local k-means instead. Generous vs the test corpus (max
    * observed cell 143 at sf0.1, K = [[Similarity.IvfK]]); mirrored exactly
    * in the oracle. */
  val MaxCell = 1000

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, arXiv:2303.09540):
    * k-means the embedding space, then compare pairs only WITHIN each
    * learned cell — near-semantic duplicates land in the same cell, so the
    * quadratic pair space shrinks to Σ|cell|². The cells are
    * [[Similarity.ivfCells]] — the same broadcast-join k-means the IVF index
    * uses (cells adapt to the data distribution, unlike [[embedding]]'s
    * data-independent hyperplane buckets — the two are complementary scale
    * paths). At 100 TB, K grows with the corpus so |cell| stays bounded and
    * the within-cell self-join stays narrow; the output contract (each
    * vector's lowest-id near-duplicate in its cell + its match count) is a
    * pure function of the data, independent of cell iteration order.
    * Cosine test `Den·dot² ≥ Num·|a|²·|b|²` needs 128-bit arithmetic —
    * same double-prescreen + Decimal(38) borderline trick as [[embedding]]
    * (bit-identical to the oracle's HUGEINT comparison). */
  def semantic(s: SparkSession, dir: String): DataFrame =
    semanticOf(s, Similarity.ivfCells(s, dir), MaxCell)

  /** [[semantic]] over any `(cell, vec_id, q, n2)` assignment — the
    * adversarial-fixture entry point (`SemanticDedupSpec` drives it with a
    * degenerate cell to pin the [[MaxCell]] guard). */
  private[graft] def semanticOf(
      s: SparkSession, cellsIn: DataFrame, maxCell: Int): DataFrame = {
    import s.implicits._
    val dec38 = DecimalType(38, 0)
    val all = cellsIn.graftCache() // size count + both sides of the self-join
    // over-MaxCell cells reduce to a tiny (cell) list via map-side-combinable
    // count, broadcast, and anti-join — the corpus side never shuffles for it
    val hot = all.groupBy($"cell").agg(count(lit(1)).as("csz"))
      .filter($"csz" > maxCell).select($"cell")
    val cells = all.join(broadcast(hot), Seq("cell"), "left_anti")
    val a = cells.select($"cell", $"vec_id".as("dup_of"),
      $"q".as("qa"), $"n2".as("na2"))
    val b = cells.select($"cell", $"vec_id", $"q".as("qb"), $"n2".as("nb2"))
    val p = a.join(b, Seq("cell"))
      .filter($"dup_of" < $"vec_id")
      .select($"vec_id", $"dup_of", qdot($"qa", $"qb").as("dot"),
        $"na2", $"nb2")
    val lhsD = $"dot".cast("double") * $"dot" * SemTauDen.toDouble
    val rhsD = $"na2".cast("double") * $"nb2" * SemTauNum.toDouble
    p.filter($"dot" > 0 &&
        when(lhsD >= rhsD * 1.000000000001d, lit(true))
          .when(lhsD < rhsD * 0.999999999999d, lit(false))
          .otherwise($"dot".cast(dec38) * $"dot" * SemTauDen >=
            $"na2".cast(dec38) * $"nb2" * SemTauNum))
      .groupBy($"vec_id")
      .agg(min($"dup_of").as("dup_of"), count(lit(1)).as("n_near"))
      .orderBy($"vec_id")
  }

  /** Canonical-document selection: [[cluster]]'s transitive closure resolved
    * to an actionable keep-list — per near-dup cluster, keep the LONGEST
    * member (`n_chars` max, ties to the lower doc_id), the standard curation
    * policy (the longest near-duplicate usually subsumes the others; min-id
    * keep-first is an accident of ingest order). One extra narrow join of
    * the component table against the docs' (doc_id, n_chars) projection plus
    * a map-side-combinable argmax per cluster — the closure dominates, so
    * the at-scale story is [[Components.connectedComponents]]'s. The argmax
    * is spelled `min(struct(-n_chars, doc_id))`: one combinable aggregate,
    * no per-cluster sort. */
  def canonical(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = minhashPairsIndexed(s, dir)
      .select($"doc_a", $"doc_b")
    val comp = Components.connectedComponents(pairs)
    comp.join(
        Tables.table(s, dir, "documents")
          .select($"doc_id".as("node"), $"n_chars"), "node")
      .groupBy($"root")
      .agg(min(struct((-$"n_chars").as("nc"), $"node".as("id"))).as("m"),
        count(lit(1)).as("n_members"))
      .select($"root".as("cluster_id"), $"m.id".as("keep_doc"),
        (-$"m.nc").as("keep_chars"), $"n_members")
      .orderBy($"cluster_id")
  }

  /** Triangle census of the near-dup graph ([[Components.triangleCounts]]
    * over the verified MinHash pairs): per-doc triangle participation — the
    * cohesion diagnostic run before trusting [[cluster]]'s components (a
    * doc in many triangles sits in a boilerplate clique; a bridge doc with
    * pairs but no triangles is the classic false-positive merge point). */
  def triangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = minhashPairsIndexed(s, dir)
      .select($"doc_a", $"doc_b")
    Components.triangleCounts(pairs)
      .select($"node".as("doc_id"), $"n_tri")
      .orderBy($"doc_id")
  }

  /** PageRank iterations for [[pagerank]] — enough rounds for hub scores to
    * separate on dedup-graph diameters (clusters are shallow); the oracle
    * unrolls the same count. */
  val PageRankIters = 5

  /** Duplication-hub centrality: [[Components.pageRank]] over the verified
    * MinHash pair graph — the third graph diagnostic next to [[cluster]]
    * (membership) and [[triangles]] (cohesion). High-rank docs are the
    * templates duplication mass concentrates on; curation reviews those
    * FIRST, because deleting a hub's cluster removes the most redundancy
    * per decision. Integer micro-rank throughout (see
    * [[Components.pageRank]]) so the 5-round power iteration is
    * bit-identical to the oracle's unrolled CTEs. */
  def pagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // cached: the LSH candidates→verify pipeline is the dominant cost and
    // the power iteration's seed and edge list both consume it
    val pairs = minhashPairsIndexed(s, dir)
      .select($"doc_a", $"doc_b").graftCache()
    Components.pageRank(pairs, PageRankIters)
      .select($"node".as("doc_id"), $"rank_micro")
      .orderBy($"doc_id")
  }

  /** Chain-depth map of the near-dup graph ([[Components.hopsFromRoots]]
    * over the verified MinHash pairs): per doc, the BFS hop count to its
    * cluster's canonical exemplar. Read with [[triangles]]: a high-hops
    * member reached only through a chain of borderline matches is the
    * false-positive-merge review queue; hops-1 clique members collapse
    * safely. */
  def hops(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // cached: both the BFS edge list and the components pass replay the
    // LSH pair pipeline otherwise
    val pairs = minhashPairsIndexed(s, dir)
      .select($"doc_a", $"doc_b").graftCache()
    Components.hopsFromRoots(pairs)
      .select($"node".as("doc_id"), $"root".as("cluster_id"), $"hops")
      .orderBy($"doc_id")
  }

  /** THRESHOLD-SENSITIVITY FRONTIER of the MinHash match criterion — the
    * `q_ann_recall_frontier` measure-first discipline applied to dedup:
    * for every threshold t ∈ 1..[[MinhashK]], the number of candidate
    * pairs with signature agreement ≥ t and the number of documents any
    * such pair touches. The shipped `matches ≥ 4` operating point
    * ([[minhashPairs]]) stops being folklore: the frontier shows what a
    * one-notch move costs (pairs explode below, recall starves above)
    * BEFORE a 100 TB run commits to it.
    *
    * Shape at scale: the signature/candidate pipeline is the production
    * one unchanged; the sweep adds ONE aggregate to the K+1-row
    * (matches → pair count) table and one per-doc max-agreement
    * aggregate (map-side combinable), each then non-equi-joined onto the
    * broadcast [[MinhashK]]-row threshold table — all post-aggregation
    * work is K-bounded, nothing corpus-sized is re-scanned per
    * threshold. */
  def thresholdFrontier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // served from the UNFILTERED scored-pair artifact (r14): the sweep
    // reads every banded candidate's agreement count straight off the
    // parquet scan — no signature, band-join, or verify work in the plan;
    // cached because the pair histogram AND the doc-coverage pass consume it
    val scored = corpusScoredPairs(s, dir).graftCache()
    val thr = (1 to MinhashK).toDF("threshold")
    val pairHist = scored.groupBy($"matches").agg(count(lit(1)).as("np"))
    val nPairs = pairHist.join(broadcast(thr), $"matches" >= $"threshold")
      .groupBy($"threshold").agg(sum($"np").as("n_pairs"))
    val docMax = scored
      .select(explode(array($"doc_a", $"doc_b")).as("doc"), $"matches")
      .groupBy($"doc").agg(max($"matches").as("mm"))
      .groupBy($"mm").agg(count(lit(1)).as("nd"))
    val nDocs = docMax.join(broadcast(thr), $"mm" >= $"threshold")
      .groupBy($"threshold").agg(sum($"nd").as("n_docs"))
    thr.join(nPairs, Seq("threshold"), "left")
      .join(nDocs, Seq("threshold"), "left")
      .select($"threshold",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_docs", lit(0L)).as("n_docs"))
      .orderBy($"threshold")
  }

  /** Per-doc CLUSTERING COEFFICIENT over the near-dup graph
    * ([[Components.clusteringCoefficients]]): the normalized tightness
    * read of [[triangles]] — cc_bp ≈ 10000 marks clique members that
    * collapse safely, low cc at high degree marks the template hubs and
    * chain bridges that deserve review first. */
  def clustering(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // cached: degree, triangle, and join branches share the LSH pipeline
    val pairs = minhashPairsIndexed(s, dir)
      .select($"doc_a", $"doc_b").graftCache()
    Components.clusteringCoefficients(pairs)
      .select($"node".as("doc_id"), $"degree", $"n_tri", $"cc_bp")
      .orderBy($"doc_id")
  }

  /** Synchronous-LPA rounds for [[communities]] (fixed horizon — the
    * determinism contract of [[Components.labelPropagation]]). */
  val LpaRounds = 4

  /** COMMUNITY DETECTION inside the near-dup graph
    * ([[Components.labelPropagation]] over the verified MinHash pairs):
    * the complement of [[cluster]] — components say what is REACHABLE,
    * communities say what is DENSE. A chain of borderline matches bridging
    * two dense clusters produces one component but two communities; a
    * member whose community differs from its component majority is the
    * review-before-collapse queue (the same borderline-bridge signal
    * [[hops]] approximates by distance, detected structurally). */
  def communities(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // cached: the LSH candidates→verify pipeline would otherwise replay
    // once per LPA round's lineage
    val pairs = minhashPairsIndexed(s, dir)
      .select($"doc_a", $"doc_b").graftCache()
    Components.labelPropagation(pairs, LpaRounds)
      .select($"node".as("doc_id"), $"label".as("community"))
      .orderBy($"doc_id")
  }

  /** ONE MODULARITY-GUIDED REFINEMENT ROUND over the LPA partition
    * ([[Components.refineOf]] on [[communities]]' assignment) — acting on
    * the [[modularity]] gate instead of only reading it (r11 verdict #3):
    * each doc moves to the neighbor community with maximal exact-integer
    * modularity gain, synchronously, min-label ties. Output per doc:
    * the LPA community and the refined one; `ComponentsSpec` pins
    * Q_bp(refined) ≥ Q_bp(input) on the fixtures. */
  def refine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = minhashPairsIndexed(s, dir)
      .select($"doc_a", $"doc_b").graftCache()
    Components.refineOf(pairs, Components.labelPropagation(pairs, LpaRounds))
      .select($"node".as("doc_id"), $"label".as("community"),
        $"refined".as("refined_community"))
      .orderBy($"doc_id")
  }

  /** CANONICAL KEEP-LIST FROM THE REFINED PARTITION — acting on the
    * refinement instead of only computing it (r12 verdict #3): [[refine]]
    * improves the community assignment, but [[canonical]] still collapses
    * on the raw transitive closure, so a bridge-welded false merge keeps
    * ONE doc even after the refinement split it. This query closes the
    * loop: compute both partitions' exact-integer modularity
    * ([[Components.modularityOf]]) and derive the keep-list from the
    * REFINED labels when the Q gate says refined > LPA, from the LPA
    * labels otherwise — the gate decision rides along as a `basis` column
    * so downstream curation can see which partition acted.
    *
    * Shape at scale: the two modularity folds and the refinement round all
    * reuse the cached verified-pair list; the gate is a 1-row × 1-row
    * crossJoin broadcast onto the per-node table (bounded, allowlisted);
    * the keep-list is one combinable argmax per community — exactly
    * [[canonical]]'s `min(struct(-n_chars, id))`, no per-cluster window. */
  def canonicalRefined(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // materialize (localCheckpoint), not just cache: the pair list feeds
    // LPA's 4 rounds, the refinement round, TWO modularity folds and the
    // keep-list — a dozen self-join arms that would each re-analyze the
    // band/verify lineage at plan time; truncating to a LogicalRDD scan
    // keeps the composed plan Catalyst-sized
    val pairs = graft.Caches.materialize(
      minhashPairsIndexed(s, dir).select($"doc_a", $"doc_b"))
    canonicalRefinedOf(pairs,
      Tables.table(s, dir, "documents")
        .select($"doc_id".as("node"), $"n_chars"))
  }

  /** [[canonicalRefined]] over any pair table + `(node, n_chars)` length
    * map — the fixture entry point (`ComponentsSpec` drives it with a
    * bridge-welded false merge the refinement splits into two kept docs;
    * `rounds` lets the fixture stop LPA at the mid-flood state where the
    * misassignment is provable by hand). */
  private[graft] def canonicalRefinedOf(
      pairs: DataFrame, chars: DataFrame,
      rounds: Int = LpaRounds): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    // materialized, not just cached: the LPA table feeds SIX join arms
    // (refinement lab ×3, both folds' label joins) and the refinement
    // output feeds two more — localCheckpoint truncates the 4-round LPA
    // join chain out of every downstream plan, and without it the
    // refinement DAG would replay for the fold AND the keep-list
    val lpa = graft.Caches.materialize(
      Components.labelPropagation(pairs, rounds))
    val ref = graft.Caches.materialize(Components.refineOf(pairs, lpa))
    val qL = Components.modularityOf(pairs, lpa)
    val qR = Components.modularityOf(
      pairs, ref.select($"node", $"refined".as("label")))
    val gate = qL.select($"q_modularity_bp".as("q_lpa"))
      .crossJoin(broadcast(qR.select($"q_modularity_bp".as("q_ref"))))
      .select(($"q_ref" > $"q_lpa").as("use_ref"))
    ref.crossJoin(broadcast(gate))
      .select($"node",
        when($"use_ref", $"refined").otherwise($"label").as("community"),
        when($"use_ref", "refined").otherwise("lpa").as("basis"))
      .join(chars.toDF("node", "n_chars"), "node")
      .groupBy($"community", $"basis")
      .agg(min(struct((-$"n_chars").as("nc"), $"node".as("id"))).as("m"),
        count(lit(1)).as("n_members"))
      .select($"community".as("cluster_id"), $"m.id".as("keep_doc"),
        (-$"m.nc").as("keep_chars"), $"n_members", $"basis")
      .orderBy($"cluster_id")
  }

  /** Rebuild threshold for [[dedupIndexRefresh]], in basis points of the
    * arrival band keys ABSENT from the index: past this, the frozen
    * snapshot no longer covers what's arriving. The synthetic corpus's
    * odd/even halves share its distribution, so the natural novelty rate
    * sits well below it; `MinhashIndexSpec` plants an out-of-distribution
    * arrival batch that flips the verdict. */
  val NoveltyRebuildBp = 5000L

  /** INDEX-REFRESH decision for the persisted MinHash index — the
    * operational loop-closer ([[Similarity.indexRefresh]]'s drift verdict
    * applied to the dedup index): per arrival source, the admission
    * outcome (how much of what arrives is already-known content) and the
    * NOVELTY rate — the fraction of arrival band keys with NO bucket in
    * the index. A novel band key cannot candidate against anything, so
    * past [[NoveltyRebuildBp]] the frozen snapshot no longer covers the
    * arrival distribution and arrivals silently stop deduping against
    * each other — the rebuild signal. (A key matching a bucket the BUILD
    * dropped as hot counts as missing too: the index genuinely cannot
    * serve it; mirrored in the oracle.)
    *
    * Shape at scale: the reject side is [[assignOf]] unchanged; the
    * novelty side is one anti-join of the batch-sized arrival band rows
    * against the index band scan ([[Bands]] rows per arrival) reduced
    * map-side per doc, then one source-bounded aggregate. Corpus never
    * re-hashed. */
  def dedupIndexRefresh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (ixSigs, ixBands) = minhashIndex(s, dir)
    dedupIndexRefreshOf(
      Tables.table(s, dir, "documents").filter($"doc_id" % 2 === 1),
      ixSigs, ixBands)
  }

  /** [[dedupIndexRefresh]] over any `(doc_id, source, text)` arrival frame
    * + index scans — the fixture entry point (`MinhashIndexSpec` plants an
    * out-of-distribution batch). */
  private[graft] def dedupIndexRefreshOf(
      arrivals: DataFrame, ixSigs: DataFrame, ixBands: DataFrame): DataFrame = {
    val s = arrivals.sparkSession
    import s.implicits._
    val asg = assignOf(arrivals, ixSigs, ixBands)
    val missing = rawBandsOf(sigsOf(arrivals))
      .join(ixBands.select($"band", $"key"), Seq("band", "key"), "left_anti")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_missing"))
    arrivals.select($"doc_id", $"source")
      .join(asg.select($"doc_id", $"verdict"), "doc_id")
      .join(missing, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_arrivals"),
        sum(when($"verdict" === "reject_dup", 1L).otherwise(0L)).as("n_rejects"),
        sum(coalesce($"n_missing", lit(0L))).as("novel_bands"))
      .withColumn("novelty_bp",
        expr(s"(novel_bands * 10000) div (n_arrivals * $Bands)"))
      .withColumn("verdict",
        when($"novelty_bp" > NoveltyRebuildBp, "rebuild").otherwise("keep"))
      .select($"source", $"n_arrivals", $"n_rejects", $"novelty_bp", $"verdict")
      .orderBy($"source")
  }

  /** MODULARITY of the LPA community partition over the near-dup graph
    * ([[Components.modularityOf]] on [[communities]]' assignment): the
    * quality score that says whether the detected communities BEAT random
    * edge placement — the go/no-go gate on acting on [[communities]]' '
    * review-the-bridge signal at all (Q ≈ 0 ⟹ the partition is noise and
    * there are no bridges worth reviewing). One summary row:
    * (n_communities, n_edges, q_modularity_bp). */
  def modularity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = minhashPairsIndexed(s, dir)
      .select($"doc_a", $"doc_b").graftCache()
    Components.modularityOf(pairs, Components.labelPropagation(pairs, LpaRounds))
  }

  /** RECALL AUDIT of the MinHash-LSH dedup index — [[Similarity]]'s
    * `q_ann_recall` discipline applied to dedup: ground truth is every pair
    * with exact Jaccard ≥ 30% (computed via the shingle INVERTED INDEX —
    * sound, because any pair with Jaccard > 0 shares at least one shingle,
    * so the index join enumerates a superset of the truth), and the audit
    * measures how many of those the production banded-LSH criterion
    * (signature agreement ≥ 4/8, [[minhashPairs]]) recovers. One row:
    * truth size, LSH pair count, hits, recall in basis points.
    *
    * SAMPLE-SCALE-ONLY by design: the truth side's shingle self-join is
    * deliberately UNGUARDED — dropping hot shingles there would bias the
    * very ground truth the audit exists to trust — so a viral boilerplate
    * shingle fans its posting list out quadratically. That is the correct
    * trade for an audit (exactness over scalability) and the wrong one
    * for a corpus run: at 100 TB, audit a uniform document sample
    * ([[Sampling]]) — recall is a pair-level rate, estimable from a
    * sample with standard-error guarantees. The input-size require makes
    * the contract explicit instead of a silent 100× foot-gun; the
    * guarded production pendant of this index shape is [[containment]]. */
  def recallAudit(s: SparkSession, dir: String): DataFrame =
    // the MEASURED side serves from the pair artifact (it IS the
    // production criterion's output — bit-equal to the inline spelling,
    // pinned in `MinhashIndexSpec`); the truth side is gram-level and
    // stays inline by design (the artifact stores signatures, not grams)
    recallAuditCore(Tables.table(s, dir, "documents"),
      minhashPairsIndexed(s, dir))

  /** [[recallAudit]] over any `(doc_id, text)` table — fixture entry
    * point (the empty-truth and over-cap contracts are pinned there). */
  private[graft] def recallAuditOf(s: SparkSession, docs: DataFrame): DataFrame =
    recallAuditCore(docs, minhashPairs(s, docs))

  /** The audit body: exact-Jaccard truth from the UNGUARDED shingle
    * inverted index vs any measured pair table. */
  private def recallAuditCore(docs: DataFrame, lshPairs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // distinct md5 shingle KEYS (fixed-width, the source_overlap precedent)
    // — the inverted-index join shuffles 32-char hashes, never gram text
    val base = docs
      .select($"doc_id", array_distinct(shingleMd5(tokens($"text"))).as("sh"))
      .graftCache()
    require(base.count() <= MaxRecallAuditDocs,
      s"recallAudit's exact truth join is unguarded — audit-scale only " +
        s"(≤ $MaxRecallAuditDocs docs); run it on a sample at corpus scale")
    val sizes = base.select($"doc_id", size($"sh").as("n"))
    val inv = base.select($"doc_id", explode($"sh").as("g"))
    // ONE aggregate gives |A ∩ B| directly (sh is distinct per doc: the
    // pair appears exactly once per shared shingle) — no pair distinct, no
    // array carry, no array_intersect re-verify.
    // NOTE (r16): the containment-style postings re-plan (groupBy(g) →
    // collect_list → in-array pairs) was A/B-measured HERE and reverted —
    // warm 1.17-1.42 s → 1.70-2.10 s across two interleaved windows. The
    // truth join is deliberately UNGUARDED (exactness over scalability,
    // bounded by the audit-scale `require` above), so the collect_list
    // aggregate has no bucket cap: on the fine-grained 8-gram key the
    // ObjectHashAggregate falls back to sort-based aggregation and
    // re-introduces the sort the re-plan was meant to remove — the same
    // distribution lesson as winnowPairs. Containment keeps the postings
    // shape because ITS buckets are guard-bounded before the aggregate.
    val inter = inv.as("a").join(inv.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // truth cached (r16): it feeds TWO branches (the hit semi-join and the
    // n_true aggregate) — uncached, the unguarded inverted-index self-join
    // + pair aggregate replayed once per branch, doubling the audit's
    // dominant stage. Audit-scale by the require above, so the cache is
    // bounded like the input.
    val truth = inter
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("la")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("lb")), "doc_b")
      .filter($"inter" * 100L >= ($"la" + $"lb" - $"inter") * 30L)
      .select($"doc_a", $"doc_b")
      .graftCache()
    val lsh = lshPairs.select($"doc_a", $"doc_b")
    val hit = truth.join(lsh, Seq("doc_a", "doc_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_true")).crossJoin(
        lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select($"n_true", $"n_lsh", $"n_hit",
        // empty truth = vacuous audit: report 0 explicitly instead of a
        // NULL (Spark) / division error (DuckDB) divergence
        when($"n_true" === 0L, lit(0L))
          .otherwise(expr("(n_hit * 10000L) div n_true")).as("recall_bp"))
  }

  /** Hard cap on [[recallAudit]]'s input (see its scale contract). */
  val MaxRecallAuditDocs = 100000L

  /** [[recallAuditSampled]] inclusion rate (percent). */
  val RecallSamplePct = 50

  /** [[recallAudit]] on a deterministic uniform DOCUMENT SAMPLE — the
    * executable form of the audit's sample-scale contract: at corpus
    * scale the exact truth join can only run on a sample, so the sampled
    * audit is what production actually executes (dial the rate down as
    * the corpus grows; recall is a pair-level rate, so a uniform doc
    * sample estimates it with standard-error guarantees). Same salted-
    * hash Bernoulli filter as every sampler here — deterministic, so the
    * audit is reproducible and oracle-gated like the full one. */
  def recallAuditSampled(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sample = Tables.table(s, dir, "documents")
      .filter(charFoldHash(concat(lit("rsamp:"), $"doc_id".cast("string")))
        % 100 < RecallSamplePct)
    // the sample is a SUBSET of the snapshot, so its measured side serves
    // its signatures from the corpus artifact ([[minhashPairsSubset]]) —
    // the guard stays population-relative to the sample, exactly what
    // "run the audit on a sample" means
    recallAuditCore(sample,
      minhashPairsSubset(s, dir, sample.select($"doc_id")))
  }

  /** [[containment]] thresholds: flag A-in-B when ≥ 80% of A's shingles
    * appear in B, for docs with at least 10 distinct shingles (below that
    * the percentage is noise). */
  val ContainPct = 80L
  val ContainMinShingles = 10

  /** Hot-shingle guard for [[containment]] — the [[MaxBucket]] analog on
    * the inverted index: a boilerplate shingle present in more than this
    * many docs would fan out O(n²) pairs, so its posting list is dropped
    * (broadcast anti-join) and the containment denominator is the KEPT
    * shingle set — containment over the informative-shingle universe,
    * consistently on both sides of the ratio. Generous vs the test corpus;
    * mirrored in the oracle. */
  val MaxShingleBucket = 200

  /** Asymmetric CONTAINMENT near-dup (Broder 1997's second resemblance
    * measure): ordered pairs where ≥ [[ContainPct]]% of doc A's distinct
    * shingles appear in doc B — the quote-inclusion / doc-in-doc detector
    * Jaccard structurally misses (a paragraph quoted inside a 100× longer
    * page has Jaccard ≈ 1%, containment ≈ 100%; symmetric dedup keeps
    * both, a containment pass flags the subsumed copy). Computed on the
    * same shingle inverted index as [[recallAudit]]'s truth side: the
    * index join enumerates every pair sharing ≥ 1 shingle with the
    * intersection size as ONE count aggregate — exact, never all-pairs.
    * Directed output: `doc_a` is the contained doc, `cont_bp` the
    * containment in basis points.
    *
    * 100 TB shape: one shuffle on 16-byte binary shingle keys (r16 —
    * `unhex` of the md5, half the key bytes of the hex spelling) folding
    * the kept postings into guard-bounded doc arrays, map-side in-array
    * pair generation (unordered pairs counted once, both orientations
    * emitted after the count — the Basket re-plan shape), one n_a side
    * join; a viral boilerplate shingle would fan out quadratically in its
    * bucket, so postings longer than [[MaxShingleBucket]] are dropped up
    * front (broadcast anti-join — the [[MaxBucket]]/MaxFpBucket skew
    * control) with the denominator consistently restricted to the kept
    * shingles. */
  def containment(s: SparkSession, dir: String): DataFrame =
    containmentOf(Tables.table(s, dir, "documents"))

  /** [[containment]] over any `(doc_id, text)` table — fixture entry point. */
  def containmentOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val base = docs
      .select($"doc_id", array_distinct(shingleMd5(tokens($"text"))).as("sh"))
    // cached at the POSTINGS tier: the tokenize→md5-shingle pipeline is the
    // expensive narrow pass, and it feeds the hot-bucket count AND (via
    // inv) the sizes and both self-join sides — caching only `inv` (the r7
    // placement) still replayed the shingle pass once for `hot`
    // (MEMORY_AND_DISK, so at scale it spills rather than recomputes).
    // The shingle key is carried as the 16-byte md5 BINARY (`unhex` of the
    // hex — bijective on md5 output, so every equality/grouping below is
    // unchanged): half the key bytes in the cache and in both g-keyed
    // exchanges (guide §2.3 narrower types).
    val all = base.select($"doc_id", explode($"sh").as("gh"))
      .select($"doc_id", unhex($"gh").as("g")).graftCache()
    // hot cached TOO (r16): `inv` feeds THREE branches (both self-join
    // sides and the n_a sizes) — with only `all` cached, each branch
    // re-ran the hot-bucket count aggregate (Exchange + HashAggregate,
    // twice in the measured plan). Caching the O(degenerate-clusters) hot
    // list makes every inv branch a cache scan + broadcast anti-join with
    // no aggregate; caching `inv` itself instead was measured SLOWER
    // (a second 260k-row cache copy just to avoid re-scanning the first).
    val hot = all.groupBy($"g").agg(count(lit(1)).as("c"))
      .filter($"c" > MaxShingleBucket).select($"g").graftCache()
    val inv = all.join(broadcast(hot), Seq("g"), "left_anti")
    val sizes = inv.groupBy($"doc_id").agg(count(lit(1)).as("n_a"))
    // pair ENUMERATION via guarded postings (the Basket r15 re-plan shape,
    // guide §2.3/§2.4): one g-keyed shuffle collapses the kept postings
    // into sorted doc arrays — bounded at MaxShingleBucket by the guard,
    // so in-array generation is never corpus-quadratic — unordered pairs
    // (d1 < d2, structural from posexplode × strictly-later slice) are
    // counted ONCE, and both directed orientations are emitted map-side
    // after the aggregate (`inter` is symmetric). Replaces the r15 SMJ
    // self-join: no sort on either side, and the pair exchange carries
    // HALF the rows (directed pairs materialize only after the count).
    val und = inv.groupBy($"g")
      .agg(array_sort(collect_list($"doc_id")).as("ds"))
      .select($"ds", posexplode($"ds"))
      .select(col("col").as("d1"),
        explode(slice($"ds", col("pos") + lit(2), size($"ds"))).as("d2"))
      .groupBy($"d1", $"d2").agg(count(lit(1)).as("inter"))
    und
      .select(explode(array(
          struct($"d1".as("doc_a"), $"d2".as("doc_b")),
          struct($"d2".as("doc_a"), $"d1".as("doc_b")))).as("p"), $"inter")
      .select($"p.doc_a".as("doc_a"), $"p.doc_b".as("doc_b"), $"inter")
      .join(sizes.select($"doc_id".as("doc_a"), $"n_a"), "doc_a")
      .filter($"n_a" >= ContainMinShingles &&
        $"inter" * 100L >= $"n_a" * ContainPct)
      .select($"doc_a", $"doc_b", $"inter", $"n_a",
        expr("(inter * 10000L) div n_a").as("cont_bp"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Snapshot split for the PERSISTED near-dup index: even doc_ids are the
    * indexed corpus, odd doc_ids the arrival batch — the
    * [[SpanDedup.incremental]] convention. */
  private def corpusDocs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents").filter(col("doc_id") % 2 === 0)

  /** The persisted MinHash near-dup index — the dedup twin of
    * [[Similarity.writeIvfIndex]] (r10 verdict #2): the corpus signature
    * table `sigs(doc_id, sig)` and the hot-guarded band table
    * `bands(doc_id, band, key)`, built ONCE per (process, dir,
    * table-fingerprint) via the shared [[IndexStore]] registry and served
    * from parquet thereafter. This is what makes incremental admission
    * checks affordable at 100 TB: before r11, every arrival batch replayed
    * the tokenize→shingle→MinHash pass over the WHOLE corpus; with the
    * index, a batch computes its own signatures (batch-sized, narrow) and
    * equi-joins the band scan — the corpus is never re-read, let alone
    * re-hashed. In production the index is written next to the corpus
    * ([[writeMinhashIndex]]) and refreshed per corpus snapshot, exactly
    * the frozen-IVF refresh contract. */
  private[pipeline] def minhashIndexPath(s: SparkSession, dir: String): String =
    IndexStore.getOrBuild(s, dir, "documents", "mh") { out =>
      writeMinhashIndex(s, dir, out)
    }

  /** Build the index artifact at `out` — the production BUILD entry point
    * (the [[Similarity.writeIvfIndex]] shape): one signature pass over the
    * corpus half. Artifact layout (r12, segment-based LSM so a MERGE pays
    * arrival-scale work instead of a corpus re-hash — r11 verdict #1):
    * {{{
    *   out/manifest        segment dirs, one per line (own-root RELATIVE)
    *   out/segK/sigs       (doc_id, sig)       — immutable
    *   out/segK/counts     (band, key, cnt)    — the segment's OWN counts
    *   out/hot             (band, key)         — union buckets > MaxBucket
    * }}}
    * The band table is NOT materialized: [[openMinhashIndex]] derives it
    * from the sigs scan (a narrow 4-rows-per-doc explode over 8-int
    * arrays — no signature work), which makes the artifact ~5× smaller
    * and saves a write per build/merge. The [[MaxBucket]] guard applies
    * at OPEN time (broadcast anti-join against the tiny `hot` list): a
    * bucket crossing the cap at merge N must also drop rows older
    * segments persisted. Counts only GROW under an append-only corpus, so
    * `hot` is maintained INCREMENTALLY ([[mergeMinhashIndex]]) yet always
    * equals the from-scratch union guard — which is what makes a merged
    * artifact serve EXACTLY what a rebuild on the union would
    * (`MinhashIndexSpec` pins it, `q_dedup_index_merge` oracles it). */
  def writeMinhashIndex(s: SparkSession, dir: String, out: String): Unit =
    writeMinhashIndexOf(corpusDocs(s, dir), out)

  /** [[writeMinhashIndex]] over any `(doc_id, text)` corpus frame — the
    * fixture entry point. */
  private[graft] def writeMinhashIndexOf(docs: DataFrame, out: String): Unit = {
    val s = docs.sparkSession
    val sg = sigsOf(docs)
    val seg = s"$out/seg0"
    sg.write.mode("overwrite").parquet(s"$seg/sigs")
    val counts = graft.Caches.cached(segCountsOf(rawBandsOf(sg)))
    counts.write.mode("overwrite").parquet(s"$seg/counts")
    counts.filter(col("cnt") > MaxBucket).select(col("band"), col("key"))
      .write.mode("overwrite").parquet(s"$out/hot")
    writeManifest(s, out, Seq(seg))
  }

  /** MERGE an arrival frame into a persisted index — acting on
    * [[dedupIndexRefresh]]'s "rebuild" verdict WITHOUT the full-corpus
    * re-hash that `writeMinhashIndex` is (r11 verdict #1). Writes to a
    * NEW artifact root `out`: one arrival-sized segment (sigs + the
    * segment's own counts) and the incrementally-updated `hot` list; the
    * manifest references the old segments in place (immutable — the old
    * artifact keeps serving until its registry entry is dropped).
    *
    * `hot` is exact without a metadata rewrite: counts only grow, so
    * ONLY band keys the batch touches can newly cross [[MaxBucket]] —
    * their union totals come from scanning the old per-segment counts
    * restricted by a broadcast semi-join on the (batch-sized) arrival
    * keys, and `hot_new = hot_old ∪ newly_hot` is exactly the
    * from-scratch union guard. Everything WRITTEN is arrival-sized; the
    * only corpus-proportional touch is the columnar counts scan — the
    * corpus text is never re-read, let alone re-hashed.
    *
    * Contract: `arrivals` doc_ids must be disjoint from the indexed docs —
    * the intended feed is [[assignOf]]'s `verdict = 'admit'` subset, which
    * is new content by construction. ENFORCED, not assumed (r12 ADVICE:
    * a re-submitted doc_id would silently duplicate sigs rows, inflate
    * n_dups, and break merged ≡ rebuilt): one broadcast semi-join of the
    * batch-sized arrival ids against the old sigs scan — a columnar
    * doc_id read, no signature work, and merges are refresh-rare. */
  def mergeMinhashIndex(
      arrivals: DataFrame, oldPath: String, out: String): Unit = {
    require(out != oldPath, "merge writes a new artifact root; segments of " +
      s"$oldPath are referenced in place, never mutated")
    val s = arrivals.sparkSession
    val segs = readManifest(s, oldPath)
    val resubmitted = Tables.parquet(s, segs.map(_ + "/sigs"): _*)
      .join(broadcast(arrivals.select(col("doc_id"))), Seq("doc_id"),
        "left_semi")
      .select(col("doc_id")).limit(3).collect()
    require(resubmitted.isEmpty,
      "mergeMinhashIndex: arrival doc_ids must be disjoint from the " +
        "indexed corpus (feed assignOf's admit subset); already indexed: " +
        resubmitted.map(_.getLong(0)).mkString(", "))
    val seg = s"$out/seg${segs.length}"
    val sg = sigsOf(arrivals)
    sg.write.mode("overwrite").parquet(s"$seg/sigs")
    val arrCounts = graft.Caches.cached(segCountsOf(rawBandsOf(sg)))
    arrCounts.write.mode("overwrite").parquet(s"$seg/counts")
    val newlyHot = Tables.parquet(s, segs.map(_ + "/counts"): _*)
      .join(broadcast(arrCounts.select(col("band"), col("key"))),
        Seq("band", "key"), "left_semi")
      .unionByName(arrCounts)
      .groupBy(col("band"), col("key"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
      .filter(col("cnt") > MaxBucket).select(col("band"), col("key"))
    Tables.parquet(s, s"$oldPath/hot").unionByName(newlyHot).distinct()
      .write.mode("overwrite").parquet(s"$out/hot")
    writeManifest(s, out, segs :+ seg)
  }

  /** COMPACT an index (possibly many segments, possibly referencing
    * foreign roots after merges) into ONE self-contained artifact at
    * `out` — the LSM compaction that bounds [[mergeMinhashIndex]]'s
    * fan-out: every merge adds a segment (one more parquet dir per open)
    * and pins its referenced roots in place; compaction rewrites all
    * segments into a single relocatable one. Deliberately O(index) — run
    * on an amortized schedule (manifest length over a segment budget),
    * exactly like any LSM store. The compacted segment's counts are the
    * aggregated union totals (per-segment counts are combinable deltas)
    * and `hot` copies through unchanged — totals don't change, so the
    * serving guard is bit-identical before and after
    * ([[MinhashIndexSpec]] pins it). */
  def compactMinhashIndex(s: SparkSession, oldPath: String, out: String): Unit = {
    require(out != oldPath,
      "compaction writes a new artifact root (segments are immutable)")
    val segs = readManifest(s, oldPath)
    val seg = s"$out/seg0"
    Tables.parquet(s, segs.map(_ + "/sigs"): _*)
      .write.mode("overwrite").parquet(s"$seg/sigs")
    Tables.parquet(s, segs.map(_ + "/counts"): _*)
      .groupBy(col("band"), col("key"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
      .write.mode("overwrite").parquet(s"$seg/counts")
    Tables.parquet(s, s"$oldPath/hot")
      .write.mode("overwrite").parquet(s"$out/hot")
    writeManifest(s, out, Seq(seg))
  }

  /** Segment budget for [[mergeMinhashIndexCompacting]]: past this many
    * segments the merge amortizes a compaction into the same publish —
    * the LSM policy that keeps open-time fan-out (one parquet dir list +
    * scan per segment) bounded no matter how many refresh cycles ran.
    * Small because merges are refresh-rare (a handful per corpus epoch),
    * so even a 100 TB corpus sees single-digit live segments. */
  val SegmentBudget = 4

  /** [[mergeMinhashIndex]] with the compaction POLICY applied (r12
    * verdict #4): if folding this batch would leave the manifest over
    * [[SegmentBudget]] segments, the merge lands in a staging sibling and
    * is immediately compacted into `out` — one self-contained segment,
    * bit-identical serving ([[compactMinhashIndex]]'s pin), and the
    * staging tier deleted after its rows are rewritten. Below budget it
    * is exactly [[mergeMinhashIndex]]. This is the registry path's merge
    * ([[mergedIndexPath]]), so artifact chains self-bound without an
    * operator remembering to compact. */
  def mergeMinhashIndexCompacting(arrivals: DataFrame, oldPath: String,
      out: String, budget: Int = SegmentBudget): Unit = {
    val s = arrivals.sparkSession
    if (readManifest(s, oldPath).length + 1 > budget) {
      // UUID-suffixed staging (r13 ADVICE): a fixed `$out-staging` sibling
      // leaked on a failure between merge and compact, and a retry — or a
      // concurrent merge into the same out — inherited/collided with the
      // stale dir. Unique per attempt + deleted in a finally, the
      // IndexStore `.tmp-*` publish discipline.
      val staging =
        s"$out-staging-${java.util.UUID.randomUUID().toString.take(8)}"
      try {
        mergeMinhashIndex(arrivals, oldPath, staging)
        compactMinhashIndex(s, staging, out)
      } finally {
        val p = new org.apache.hadoop.fs.Path(staging)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true): Unit
      }
    } else mergeMinhashIndex(arrivals, oldPath, out)
  }

  /** A segment's own `(band, key, cnt)` band-key counts — the combinable
    * delta the incremental hot-guard maintenance sums. */
  private def segCountsOf(raw: DataFrame): DataFrame =
    raw.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).cast("long").as("cnt"))

  /** Manifest I/O — shared with the IVF artifact since r13, see
    * [[IndexArtifact]] (relative-when-own-root entries, Hadoop FS). */
  private def writeManifest(s: SparkSession, out: String, segs: Seq[String]): Unit =
    IndexArtifact.writeManifest(s, out, segs)

  private def readManifest(s: SparkSession, path: String): Seq[String] =
    IndexArtifact.readManifest(s, path)

  /** Open an index artifact as `(sigs, bands)` DataFrames: parquet scans
    * over every segment, zero signature replay — the serving band table
    * DERIVES from the sigs scan (a narrow per-row explode of the 8-int
    * signature, no hashing) minus the broadcast `hot` list (anti-join —
    * the open-time spelling of the [[MaxBucket]] guard, see
    * [[writeMinhashIndex]]), so candidate fan-out per probe stays
    * ≤ [[Bands]] × [[MaxBucket]] exactly as a materialized guarded band
    * table gave. */
  private[graft] def openMinhashIndex(
      s: SparkSession, path: String): (DataFrame, DataFrame) = {
    val segs = readManifest(s, path)
    val sigs = Tables.parquet(s, segs.map(_ + "/sigs"): _*)
    val hot = Tables.parquet(s, s"$path/hot")
    val bands = rawBandsOf(sigs)
      .join(broadcast(hot), Seq("band", "key"), "left_anti")
    (sigs, bands)
  }

  /** The registry-served index as DataFrames `(sigs, bands)`. */
  private[graft] def minhashIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    openMinhashIndex(s, minhashIndexPath(s, dir))

  /** Materialize the persisted index — the untimed BUILD entry point
    * `graft.Bench` calls (the [[Similarity.trainIndex]] convention) so
    * index construction is emitted as its own metric instead of landing on
    * q_dedup_assign. */
  def trainIndex(s: SparkSession, dir: String): Unit =
    minhashIndexPath(s, dir): Unit

  /** Materialize the merge-demo artifacts (base quarter-corpus index +
    * the merged index) untimed — the build half of [[indexMerge]], same
    * contract as [[trainIndex]]. */
  def trainMergedIndex(s: SparkSession, dir: String): Unit =
    mergedIndexPath(s, dir): Unit

  /** Materialize the full-corpus signature artifact ([[corpusSigs]]) AND
    * the scored-pair artifact built from it ([[corpusScoredPairs]], r14)
    * untimed — the build half of the pair-graph query suite, same
    * contract as [[trainIndex]]; both fold into `mh_build_sec`. */
  def trainSigIndex(s: SparkSession, dir: String): Unit =
    corpusScoredPairs(s, dir): Unit

  /** ADMISSION CHECK of an arrival batch against the persisted near-dup
    * index — the declared, oracle-gated serving query (q_dedup_assign, the
    * `q_similarity_ivf_assign` convention): per arrival document, its
    * lowest-id corpus near-duplicate (banded LSH candidates against the
    * index band scan, verified at the production ≥ 4/8 signature
    * agreement), the match count, and the admit/reject verdict. Every
    * arrival reports a row — an admission check's output is a VERDICT per
    * candidate document, not just the rejects.
    *
    * Shape at scale: arrival signatures are batch-sized and narrow; the
    * only corpus-sized work is the band-key equi-join against the index
    * scan (bucket width ≤ [[MaxBucket]] by build-time construction, so
    * candidate fan-out is bounded by |batch| × Bands × MaxBucket) and the
    * signature verify join against the index sigs scan. Nothing re-hashes
    * the corpus. */
  def assign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (ixSigs, ixBands) = minhashIndex(s, dir)
    assignOf(
        Tables.table(s, dir, "documents").filter($"doc_id" % 2 === 1),
        ixSigs, ixBands)
      .orderBy($"doc_id")
  }

  /** The MERGED-index demo artifact for [[indexMerge]]: a base index on
    * the `doc_id % 4 == 0` quarter, an arrival batch (`% 4 == 2`) admitted
    * against it, and the ADMITTED docs folded in via [[mergeMinhashIndex]]
    * — registry-cached like every index. The base resolves BEFORE the
    * merged entry's build thunk (nesting is safe since the registry's
    * per-key memo, r12 ADVICE — this is just clearer). */
  private def mergedIndexPath(s: SparkSession, dir: String): String = {
    import s.implicits._
    val base = IndexStore.getOrBuild(s, dir, "documents", "mh4") { out =>
      writeMinhashIndexOf(
        Tables.table(s, dir, "documents").filter($"doc_id" % 4 === 0), out)
    }
    IndexStore.getOrBuild(s, dir, "documents", "mhm") { out =>
      val (ixSigs, ixBands) = openMinhashIndex(s, base)
      val batch = Tables.table(s, dir, "documents").filter($"doc_id" % 4 === 2)
      val admitted = batch.join(
        assignOf(batch, ixSigs, ixBands)
          .filter($"verdict" === "admit").select($"doc_id"),
        "doc_id")
      mergeMinhashIndexCompacting(admitted, base, out)
    }
  }

  /** SERVING FROM A MERGED INDEX — the declared query
    * (q_dedup_index_merge) that closes the refresh loop [[dedupIndexRefresh]]
    * opened: the r11 verdict could SAY "rebuild" but the only path was a
    * full corpus re-hash. Here the `% 4 == 2` arrival batch is admitted
    * against the base (`% 4 == 0`) index, its admitted docs MERGED in
    * ([[mergeMinhashIndex]] — one arrival-sized segment plus a combinable
    * count merge), and the odd-id batch is then admission-checked against
    * the merged artifact, so a late arrival can near-dup against base
    * corpus AND freshly-admitted content. The oracle replays the whole
    * chain from scratch on the union — hash equality IS the
    * merged ≡ rebuilt contract. */
  def indexMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (ixSigs, ixBands) = openMinhashIndex(s, mergedIndexPath(s, dir))
    assignOf(
        Tables.table(s, dir, "documents").filter($"doc_id" % 2 === 1),
        ixSigs, ixBands)
      .orderBy($"doc_id")
  }

  /** [[assign]] over any `(doc_id, text)` arrival frame + index scans —
    * RECORD-LOCAL given the index (no cross-arrival state), which is what
    * makes [[graft.streaming.DedupAssignStream]]'s per-micro-batch replay
    * slicing-invariant (the `EntityAssignStream` argument). */
  def assignOf(arrivals: DataFrame, ixSigs: DataFrame, ixBands: DataFrame): DataFrame = {
    val s = arrivals.sparkSession
    import s.implicits._
    // three consumers (band explode, verify side, left-join base): one
    // batch-sized signature pass, materialized
    val arr = sigsOf(arrivals)
    val ver = dupStatsOf(arr, ixSigs, ixBands)
    arr.select($"doc_id").join(ver, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"dup_of0", lit(-1L)).as("dup_of"),
        coalesce($"n_dups0", lit(0L)).as("n_dups"),
        when($"n_dups0".isNotNull, "reject_dup").otherwise("admit")
          .as("verdict"))
  }

  /** The DUP side of [[assignOf]] factored out: per arrival doc with ≥ 1
    * verified corpus near-duplicate, `(doc_id, dup_of0, n_dups0)`. This
    * table is REJECT-SIZED (dup arrivals only), which is what lets an
    * admit-filtering consumer spell "keep the admits" as one left-anti
    * against it instead of joining the full verdict table back onto the
    * batch (r16: `Curation.curateArrivalsOf` — a batch-wide left-outer +
    * filter + join-back collapsed to a single anti-join with a tiny,
    * broadcastable right side). `assignOf` itself is unchanged: admit ⇔
    * no row here. */
  private[pipeline] def dupStatsOf(
      arr: DataFrame, ixSigs: DataFrame, ixBands: DataFrame): DataFrame = {
    val s = arr.sparkSession
    import s.implicits._
    val cand = rawBandsOf(arr)
      .join(ixBands.select($"band", $"key", $"doc_id".as("corpus_id")),
        Seq("band", "key"))
      .select($"doc_id", $"corpus_id").distinct()
    cand
      .join(arr.select($"doc_id", $"sig".as("sig_a")), "doc_id")
      .join(ixSigs.select($"doc_id".as("corpus_id"), $"sig".as("sig_b")),
        "corpus_id")
      .withColumn("matches",
        aggregate(zip_with($"sig_a", $"sig_b", (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x))
      .filter($"matches" >= 4)
      .groupBy($"doc_id")
      .agg(min($"corpus_id").as("dup_of0"), count(lit(1)).as("n_dups0"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_assign" -> assign _,
    "q_dedup_index_merge" -> indexMerge _,
    "q_dedup_index_refresh" -> dedupIndexRefresh _,
    "q_dedup_exact" -> exact _,
    "q_dedup_containment" -> containment _,
    "q_dedup_canonical" -> canonical _,
    "q_dedup_canonical_refined" -> canonicalRefined _,
    "q_dedup_triangles" -> triangles _,
    "q_dedup_pagerank" -> pagerank _,
    "q_dedup_hops" -> hops _,
    "q_dedup_communities" -> communities _,
    "q_dedup_modularity" -> modularity _,
    "q_dedup_refine" -> refine _,
    "q_dedup_threshold_frontier" -> thresholdFrontier _,
    "q_dedup_clustering" -> clustering _,
    "q_dedup_recall" -> recallAudit _,
    "q_dedup_recall_sampled" -> recallAuditSampled _,
    "q_dedup_minhash" -> minhash _,
    "q_dedup_ngram" -> ngram _,
    "q_dedup_simhash" -> simhashNN _,
    "q_dedup_embedding" -> embedding _,
    "q_dedup_semantic" -> semantic _,
    "q_dedup_cluster" -> cluster _,
    "q_dedup_cluster_merge" -> clusterMerge _,
  )

  private[pipeline] val sigCte =
    s"""WITH d AS (SELECT doc_id, ${duckTokens("text")} AS w FROM documents),
       |sh AS (SELECT doc_id, ${duckShingles("w")} AS shingles FROM d),
       |bh AS (SELECT doc_id, shingles, ${duckMinhashBase("shingles")} AS bh FROM sh),
       |sig AS (SELECT doc_id, shingles, ${duckMinhashSigRot("bh", MinhashK)} AS sigs FROM bh)""".stripMargin

  /** Banded candidate-pair CTEs shared by the minhash / ngram / cluster
    * oracles (requires [[sigCte]] upstream). */
  private[pipeline] val candCtes =
    s"""bands0 AS (SELECT doc_id, b, sigs[2*b+1] || sigs[2*b+2] AS key
       |  FROM sig, (SELECT unnest([0,1,2,3]) AS b)),
       |bands AS (SELECT doc_id, b, key FROM (
       |  SELECT doc_id, b, key, count(*) OVER (PARTITION BY b, key) AS bsz
       |  FROM bands0) WHERE bsz <= $MaxBucket),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |  ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin

  /** Verified-pair + transitive-closure CTEs (requires [[sigCte]] +
    * [[candCtes]] upstream and `WITH RECURSIVE`); shared by the cluster and
    * leakage-free-split oracles. `walk` closes the edge relation so
    * `min(reach) GROUP BY node` is each node's component minimum. */
  /** Symmetric edge list + synchronous-LPA rounds `l0..l<LpaRounds>` as
    * CTEs (requires [[prsCte]] upstream): per round each node adopts its
    * most frequent neighbor label, ties to the smallest — the exact
    * [[Components.labelPropagation]] contract, factored ONCE so the
    * communities / modularity / refine oracles can never diverge on the
    * tie-break spelling. */
  private val lpaCtes: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""l$i AS (SELECT v AS node, label FROM (
         |  SELECT e.v, l.label, count(*) AS cnt,
         |    row_number() OVER (PARTITION BY e.v
         |      ORDER BY count(*) DESC, l.label) AS rk
         |  FROM edges e JOIN l${i - 1} l ON l.node = e.u
         |  GROUP BY e.v, l.label) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
       |  UNION ALL SELECT doc_b, doc_a FROM prs),
       |l0 AS (SELECT DISTINCT u AS node, u AS label FROM edges),
       |$rounds""".stripMargin
  }

  /** The recall-audit oracle body (requires [[sigCte]] + [[candCtes]] +
    * [[prsCte]] upstream): inverted-index truth, hits, and the guarded
    * recall division — shared by the full and sampled audits. */
  private val recallOracleBody =
    s"""ds AS (SELECT doc_id, list_distinct(bh) AS sh FROM bh),
       |sz AS (SELECT doc_id, len(sh) AS n FROM ds),
       |inv AS (SELECT doc_id, unnest(sh) AS g FROM ds),
       |ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    count(*) AS inter
       |  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |truth AS (SELECT doc_a, doc_b
       |  FROM ix JOIN sz sa ON sa.doc_id = ix.doc_a
       |  JOIN sz sb ON sb.doc_id = ix.doc_b
       |  WHERE inter * 100 >= (sa.n + sb.n - inter) * 30),
       |hit AS (SELECT t.doc_a FROM truth t JOIN prs p
       |  ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b)
       |SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       |  CAST((SELECT count(*) FROM prs) AS BIGINT) AS n_lsh,
       |  CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
       |  CAST(CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 0
       |    ELSE ((SELECT count(*) FROM hit) * 10000)
       |      // (SELECT count(*) FROM truth) END AS BIGINT) AS recall_bp""".stripMargin

  /** Verified MinHash pair CTE (requires [[sigCte]] + [[candCtes]]
    * upstream) — the oracle's `minhashPairs`. */
  private[pipeline] val prsCte =
    s"""prs AS (SELECT doc_a, doc_b FROM (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_filter(generate_series(1, $MinhashK),
       |      i -> sa.sigs[i] = sb.sigs[i])) AS INT) AS matches
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.doc_a
       |  JOIN sig sb ON sb.doc_id = c.doc_b)
       |WHERE matches >= 4)""".stripMargin

  private[pipeline] val ccCtes =
    s"""$prsCte,
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
       |  UNION SELECT doc_b, doc_a FROM prs),
       |walk(node, reach) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT w.node, e.v FROM walk w JOIN edges e ON e.u = w.reach)""".stripMargin

  val oracles: Map[String, String] = Map(
    // the index build replayed inline: corpus (even) bands hot-guarded —
    // the guard is a BUILD-time property of the index, so it counts corpus
    // buckets only; arrival (odd) bands unguarded, exactly like assignOf
    "q_dedup_assign" ->
      s"""$sigCte,
         |bands0 AS (SELECT doc_id, b, sigs[2*b+1] || sigs[2*b+2] AS key
         |  FROM sig, (SELECT unnest([0,1,2,3]) AS b)),
         |ixb AS (SELECT doc_id, b, key FROM (
         |  SELECT doc_id, b, key, count(*) OVER (PARTITION BY b, key) AS bsz
         |  FROM bands0 WHERE doc_id % 2 = 0) WHERE bsz <= $MaxBucket),
         |ab AS (SELECT doc_id, b, key FROM bands0 WHERE doc_id % 2 = 1),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_id, i.doc_id AS corpus_id
         |  FROM ab a JOIN ixb i ON a.b = i.b AND a.key = i.key),
         |ver AS (SELECT c.doc_id, min(c.corpus_id) AS dup_of,
         |    count(*) AS n_dups
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.doc_id
         |  JOIN sig sb ON sb.doc_id = c.corpus_id
         |  WHERE len(list_filter(generate_series(1, $MinhashK),
         |    i -> sa.sigs[i] = sb.sigs[i])) >= 4
         |  GROUP BY c.doc_id)
         |SELECT d.doc_id, CAST(COALESCE(v.dup_of, -1) AS BIGINT) AS dup_of,
         |  CAST(COALESCE(v.n_dups, 0) AS BIGINT) AS n_dups,
         |  CASE WHEN v.doc_id IS NULL THEN 'admit' ELSE 'reject_dup' END
         |    AS verdict
         |FROM documents d LEFT JOIN ver v ON v.doc_id = d.doc_id
         |WHERE d.doc_id % 2 = 1
         |ORDER BY d.doc_id""".stripMargin,
    // the merged-index serving chain replayed FROM SCRATCH on the union:
    // tier 1 admits the %4=2 batch against the %4=0 base index (hot-guarded
    // on base counts alone), tier 2 serves the odd batch against the
    // base ∪ admitted union (hot-guarded on UNION counts — the count-merge
    // semantics); hash equality with the Spark side's segment+metadata
    // artifact IS the merged ≡ from-scratch-rebuild contract
    "q_dedup_index_merge" ->
      s"""$sigCte,
         |bands0 AS (SELECT doc_id, b, sigs[2*b+1] || sigs[2*b+2] AS key
         |  FROM sig, (SELECT unnest([0,1,2,3]) AS b)),
         |ixb1 AS (SELECT doc_id, b, key FROM (
         |  SELECT doc_id, b, key, count(*) OVER (PARTITION BY b, key) AS bsz
         |  FROM bands0 WHERE doc_id % 4 = 0) WHERE bsz <= $MaxBucket),
         |ab1 AS (SELECT doc_id, b, key FROM bands0 WHERE doc_id % 4 = 2),
         |c1 AS (SELECT DISTINCT a.doc_id, i.doc_id AS corpus_id
         |  FROM ab1 a JOIN ixb1 i ON a.b = i.b AND a.key = i.key),
         |rej1 AS (SELECT DISTINCT c.doc_id FROM c1 c
         |  JOIN sig sa ON sa.doc_id = c.doc_id
         |  JOIN sig sb ON sb.doc_id = c.corpus_id
         |  WHERE len(list_filter(generate_series(1, $MinhashK),
         |    i -> sa.sigs[i] = sb.sigs[i])) >= 4),
         |uni AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 0
         |  UNION ALL
         |  SELECT doc_id FROM documents WHERE doc_id % 4 = 2
         |    AND doc_id NOT IN (SELECT doc_id FROM rej1)),
         |ixb2 AS (SELECT doc_id, b, key FROM (
         |  SELECT b0.doc_id, b0.b, b0.key,
         |    count(*) OVER (PARTITION BY b0.b, b0.key) AS bsz
         |  FROM bands0 b0 JOIN uni u ON u.doc_id = b0.doc_id)
         |  WHERE bsz <= $MaxBucket),
         |ab2 AS (SELECT doc_id, b, key FROM bands0 WHERE doc_id % 2 = 1),
         |c2 AS (SELECT DISTINCT a.doc_id, i.doc_id AS corpus_id
         |  FROM ab2 a JOIN ixb2 i ON a.b = i.b AND a.key = i.key),
         |ver AS (SELECT c.doc_id, min(c.corpus_id) AS dup_of,
         |    count(*) AS n_dups
         |  FROM c2 c
         |  JOIN sig sa ON sa.doc_id = c.doc_id
         |  JOIN sig sb ON sb.doc_id = c.corpus_id
         |  WHERE len(list_filter(generate_series(1, $MinhashK),
         |    i -> sa.sigs[i] = sb.sigs[i])) >= 4
         |  GROUP BY c.doc_id)
         |SELECT d.doc_id, CAST(COALESCE(v.dup_of, -1) AS BIGINT) AS dup_of,
         |  CAST(COALESCE(v.n_dups, 0) AS BIGINT) AS n_dups,
         |  CASE WHEN v.doc_id IS NULL THEN 'admit' ELSE 'reject_dup' END
         |    AS verdict
         |FROM documents d LEFT JOIN ver v ON v.doc_id = d.doc_id
         |WHERE d.doc_id % 2 = 1
         |ORDER BY d.doc_id""".stripMargin,
    // the refresh verdict replayed: the assign verify chain for rejects +
    // the per-arrival count of band keys absent from the (hot-guarded)
    // index bands, aggregated per source
    "q_dedup_index_refresh" ->
      s"""$sigCte,
         |bands0 AS (SELECT doc_id, b, sigs[2*b+1] || sigs[2*b+2] AS key
         |  FROM sig, (SELECT unnest([0,1,2,3]) AS b)),
         |ixb AS (SELECT doc_id, b, key FROM (
         |  SELECT doc_id, b, key, count(*) OVER (PARTITION BY b, key) AS bsz
         |  FROM bands0 WHERE doc_id % 2 = 0) WHERE bsz <= $MaxBucket),
         |ab AS (SELECT doc_id, b, key FROM bands0 WHERE doc_id % 2 = 1),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_id, i.doc_id AS corpus_id
         |  FROM ab a JOIN ixb i ON a.b = i.b AND a.key = i.key),
         |rej AS (SELECT DISTINCT c.doc_id FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.doc_id
         |  JOIN sig sb ON sb.doc_id = c.corpus_id
         |  WHERE len(list_filter(generate_series(1, $MinhashK),
         |    i -> sa.sigs[i] = sb.sigs[i])) >= 4),
         |ik AS (SELECT DISTINCT b, key FROM ixb),
         |am AS (SELECT a.doc_id, count(*) AS n_missing
         |  FROM ab a LEFT JOIN ik ON ik.b = a.b AND ik.key = a.key
         |  WHERE ik.b IS NULL GROUP BY a.doc_id)
         |SELECT d.source,
         |  CAST(count(*) AS BIGINT) AS n_arrivals,
         |  CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_rejects,
         |  CAST((sum(COALESCE(am.n_missing, 0)) * 10000)
         |    // (count(*) * $Bands) AS BIGINT) AS novelty_bp,
         |  CASE WHEN (sum(COALESCE(am.n_missing, 0)) * 10000)
         |    // (count(*) * $Bands) > $NoveltyRebuildBp
         |    THEN 'rebuild' ELSE 'keep' END AS verdict
         |FROM documents d
         |LEFT JOIN rej r ON r.doc_id = d.doc_id
         |LEFT JOIN am ON am.doc_id = d.doc_id
         |WHERE d.doc_id % 2 = 1
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    "q_dedup_minhash" ->
      s"""$sigCte,
         |$candCtes
         |SELECT doc_a, doc_b, matches FROM (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST(len(list_filter(generate_series(1, $MinhashK),
         |      i -> sa.sigs[i] = sb.sigs[i])) AS INT) AS matches
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.doc_a
         |  JOIN sig sb ON sb.doc_id = c.doc_b)
         |WHERE matches >= 4 ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_ngram" ->
      s"""$sigCte,
         |ds AS (SELECT doc_id, list_distinct(shingles) AS sh FROM sig),
         |$candCtes
         |SELECT doc_a, doc_b, jac_pct FROM (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST(floor(100.0 * len(list_filter(da.sh, x -> list_contains(db.sh, x)))
         |      / (len(da.sh) + len(db.sh)
         |         - len(list_filter(da.sh, x -> list_contains(db.sh, x))))) AS BIGINT) AS jac_pct
         |  FROM cand c JOIN ds da ON da.doc_id = c.doc_a
         |  JOIN ds db ON db.doc_id = c.doc_b)
         |WHERE jac_pct >= 30 ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH d AS (SELECT doc_id, ${duckTokens("text")} AS w FROM documents),
         |th AS (SELECT doc_id, list_transform(w, t -> ${duckCharFold("t")}) AS hs FROM d),
         |fp AS (SELECT doc_id,
         |  CAST(list_sum(list_transform(generate_series(0, 31), j ->
         |    CASE WHEN list_sum(list_transform(hs, h -> ((h >> j) & 1) * 2 - 1)) > 0
         |         THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS fp FROM th),
         |bands0 AS (SELECT doc_id, fp, b, (fp >> (8*b)) & 255 AS key
         |  FROM fp, (SELECT unnest([0,1,2,3]) AS b)),
         |bands AS (SELECT doc_id, fp, b, key FROM (
         |  SELECT doc_id, fp, b, key, count(*) OVER (PARTITION BY b, key) AS bsz
         |  FROM bands0) WHERE bsz <= $MaxBucket),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS nn,
         |    bit_count(xor(a.fp, b.fp)) AS h
         |  FROM bands a JOIN bands b
         |  ON a.b = b.b AND a.key = b.key AND a.doc_id <> b.doc_id),
         |mh AS (SELECT doc_id, min(h) AS minh FROM pairs GROUP BY doc_id)
         |SELECT p.doc_id, min(p.nn) AS nn_doc, CAST(min(p.h) AS INT) AS hamming
         |FROM pairs p JOIN mh ON p.doc_id = mh.doc_id AND p.h = mh.minh
         |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    // The oracle spells the radius-1 multiprobe blocking as
    // bit_count(xor) <= 1 over the pair space — fine for DuckDB at oracle
    // scale, exactly what the Spark plan must NOT do at 100 TB.
    "q_dedup_embedding" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
         |  FROM embeddings),
         |n AS (SELECT vec_id, q,
         |    CAST(list_sum(list_transform(generate_series(1, 64), i -> q[i] * q[i])) AS BIGINT) AS n2,
         |    CAST(list_sum(list_transform(generate_series(0, ${EmbeddingPlanes - 1}), p ->
         |      CASE WHEN list_sum(list_transform(generate_series(1, 64),
         |          d -> q[d] * ((((1103515245 * (d - 1) + 12345 * p) >> 16) & 1) * 2 - 1))) > 0
         |        THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS BIGINT) AS bkt
         |  FROM e),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    CAST(list_sum(list_transform(generate_series(1, 64), i -> a.q[i] * b.q[i])) AS BIGINT) AS dot,
         |    a.n2 AS na2, b.n2 AS nb2
         |  FROM n a JOIN n b
         |  ON bit_count(xor(a.bkt, b.bkt)) <= 1 AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b FROM p
         |WHERE dot > 0
         |  AND CAST(dot AS HUGEINT) * dot * 25 >= CAST(na2 AS HUGEINT) * nb2 * 4
         |ORDER BY vec_a, vec_b""".stripMargin,
    // Within-cell pair space over the SAME k-means CTE chain the IVF oracle
    // uses (`a3` = final assignment); HUGEINT cosine test, exact like the
    // Spark side's decimal path.
    "q_dedup_semantic" ->
      s"""WITH ${Similarity.duckCellCtes},
         |safe AS (SELECT cell FROM a3 GROUP BY cell HAVING count(*) <= $MaxCell),
         |p AS (SELECT b.vec_id, a.vec_id AS dup_of,
         |    CAST(list_sum(list_transform(generate_series(1, 64), i -> a.q[i] * b.q[i])) AS BIGINT) AS dot,
         |    CAST(list_sum(list_transform(generate_series(1, 64), i -> a.q[i] * a.q[i])) AS BIGINT) AS na2,
         |    CAST(list_sum(list_transform(generate_series(1, 64), i -> b.q[i] * b.q[i])) AS BIGINT) AS nb2
         |  FROM a3 a JOIN a3 b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN safe s ON s.cell = a.cell)
         |SELECT vec_id, CAST(min(dup_of) AS BIGINT) AS dup_of,
         |  CAST(count(*) AS BIGINT) AS n_near
         |FROM p
         |WHERE dot > 0
         |  AND CAST(dot AS HUGEINT) * dot * $SemTauDen >= CAST(na2 AS HUGEINT) * nb2 * $SemTauNum
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // Directed containment over the same inverted-index CTEs as the recall
    // truth side (bh = md5 3-gram shingles from sigCte).
    "q_dedup_containment" ->
      s"""$sigCte,
         |ds AS (SELECT doc_id, list_distinct(bh) AS sh FROM bh),
         |al AS (SELECT doc_id, unnest(sh) AS g FROM ds),
         |inv AS (SELECT doc_id, g FROM al
         |  WHERE g NOT IN (SELECT g FROM al GROUP BY g
         |                  HAVING count(*) > $MaxShingleBucket)),
         |sz AS (SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id),
         |ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS inter
         |  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id <> b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
         |  CAST(sa.n AS BIGINT) AS n_a,
         |  CAST((inter * 10000) // sa.n AS BIGINT) AS cont_bp
         |FROM ix JOIN sz sa ON sa.doc_id = ix.doc_a
         |WHERE sa.n >= $ContainMinShingles AND inter * 100 >= sa.n * $ContainPct
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Truth via the shingle inverted index (sound superset), LSH via the
    // production pair CTE — counts and recall as scalar subqueries.
    "q_dedup_recall" ->
      s"""$sigCte,
         |$candCtes,
         |$prsCte,
         |$recallOracleBody""".stripMargin,
    // the same audit rebased onto the deterministic document sample —
    // the executable sample-scale contract (recallAuditSampled)
    "q_dedup_recall_sampled" -> {
      val sigOnSample = sigCte.stripPrefix("WITH ")
        .replace("FROM documents", "FROM docs_r")
      s"""WITH docs_r AS (SELECT * FROM documents
         |  WHERE ${duckCharFold("'rsamp:' || CAST(doc_id AS VARCHAR)")}
         |    % 100 < $RecallSamplePct),
         |$sigOnSample,
         |$candCtes,
         |$prsCte,
         |$recallOracleBody""".stripMargin
    },
    // Triangles by id-ordered enumeration over the verified pair table
    // (doc_a < doc_b by construction) — fine at oracle scale; the Spark
    // side's degree orientation is the shape that survives skewed graphs.
    "q_dedup_triangles" ->
      s"""$sigCte,
         |$candCtes,
         |$prsCte,
         |tri AS (SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
         |  FROM prs e1 JOIN prs e2 ON e2.doc_a = e1.doc_b
         |  JOIN prs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
         |SELECT node AS doc_id, CAST(count(*) AS BIGINT) AS n_tri
         |FROM (SELECT unnest([a, b, c]) AS node FROM tri)
         |GROUP BY node ORDER BY doc_id""".stripMargin,
    // triangle CTE + per-node degree, cc = 2·tri·10⁴ div d(d−1), d ≥ 2
    "q_dedup_clustering" ->
      s"""$sigCte,
         |$candCtes,
         |$prsCte,
         |tri AS (SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
         |  FROM prs e1 JOIN prs e2 ON e2.doc_a = e1.doc_b
         |  JOIN prs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
         |tc AS (SELECT node, count(*) AS n_tri
         |  FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY node),
         |degc AS (SELECT node, count(*) AS d FROM (
         |    SELECT doc_a AS node FROM prs
         |    UNION ALL SELECT doc_b FROM prs) GROUP BY node)
         |SELECT g.node AS doc_id, CAST(g.d AS BIGINT) AS degree,
         |  CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri,
         |  CAST(COALESCE(t.n_tri, 0) * 20000 // (g.d * (g.d - 1)) AS BIGINT)
         |    AS cc_bp
         |FROM degc g LEFT JOIN tc t ON t.node = g.node
         |WHERE g.d >= 2 ORDER BY doc_id""".stripMargin,
    // Unrolled 5-round integer power iteration over the verified pair
    // graph — identical per-edge floor division, so bit-exact vs the Spark
    // side's loop ([[Components.pageRank]]).
    "q_dedup_pagerank" -> {
      val iters = (1 to PageRankIters).map { i =>
        s"""r$i AS (SELECT ed.v AS node,
           |  CAST(${Components.PrBaseMicro} + sum((r.rank * ${Components.PrDampPct}) // (100 * ed.d)) AS BIGINT) AS rank
           |  FROM ed JOIN r${i - 1} r ON r.node = ed.u GROUP BY ed.v)""".stripMargin
      }.mkString(",\n")
      s"""$sigCte,
         |$candCtes,
         |$prsCte,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
         |ed AS (SELECT e.u, e.v, d.d FROM edges e JOIN deg d ON d.u = e.u),
         |r0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
         |$iters
         |SELECT node AS doc_id, rank AS rank_micro
         |FROM r$PageRankIters ORDER BY doc_id""".stripMargin
    },
    // Same closure as q_dedup_cluster, resolved to the keep-longest policy
    // with a per-cluster window instead of the Spark side's combinable argmin
    // struct — equivalent at oracle scale.
    "q_dedup_canonical" ->
      s"""${sigCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$candCtes,
         |$ccCtes,
         |comp AS (SELECT node, min(reach) AS root FROM walk GROUP BY node),
         |cd AS (SELECT c.root, c.node, d.n_chars
         |  FROM comp c JOIN documents d ON d.doc_id = c.node)
         |SELECT cluster_id, keep_doc, keep_chars, n_members FROM (
         |  SELECT root AS cluster_id, node AS keep_doc,
         |    n_chars AS keep_chars,
         |    CAST(count(*) OVER (PARTITION BY root) AS BIGINT) AS n_members,
         |    row_number() OVER (PARTITION BY root
         |      ORDER BY n_chars DESC, node) AS rk
         |  FROM cd)
         |WHERE rk = 1 ORDER BY cluster_id""".stripMargin,
    // Multi-source BFS from the component roots, bounded-depth recursive
    // CTE (UNION dedups (node, d) pairs; d < 40 >> any dedup-cluster
    // diameter) — the Spark side's frontier loop stops at the true
    // fixpoint, which the bound dominates.
    "q_dedup_hops" ->
      s"""${sigCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$candCtes,
         |$ccCtes,
         |comp AS (SELECT node, min(reach) AS root FROM walk GROUP BY node),
         |roots AS (SELECT DISTINCT root FROM comp),
         |bfs(node, d) AS (
         |  SELECT root, 0 FROM roots
         |  UNION
         |  SELECT e.v, b.d + 1 FROM bfs b JOIN edges e ON e.u = b.node
         |  WHERE b.d < 40)
         |SELECT c.node AS doc_id, c.root AS cluster_id,
         |  CAST(min(b.d) AS BIGINT) AS hops
         |FROM comp c JOIN bfs b ON b.node = c.node
         |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    // Transitive closure by recursive reachability + min-per-node: exact at
    // oracle scale, O(component²) expansion — the Spark side's star rounds
    // ([[Components.connectedComponents]]) are the shape that survives 100 TB.
    "q_dedup_cluster" ->
      s"""${sigCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$candCtes,
         |$ccCtes
         |SELECT node AS doc_id, min(reach) AS cluster_id
         |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin,
    // the merge replayed from scratch: BOTH closures (corpus-only and
    // union) as recursive CTEs; the Spark side's contracted delta closure
    // must hash-equal this — the merged ≡ rebuilt contract for clusters
    "q_dedup_cluster_merge" ->
      s"""${sigCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$candCtes,
         |$ccCtes,
         |comp AS (SELECT node, min(reach) AS root FROM walk GROUP BY node),
         |oedges AS (SELECT doc_a AS u, doc_b AS v FROM prs
         |    WHERE doc_a % 2 = 0 AND doc_b % 2 = 0
         |  UNION SELECT doc_b, doc_a FROM prs
         |    WHERE doc_a % 2 = 0 AND doc_b % 2 = 0),
         |owalk(node, reach) AS (
         |  SELECT u, u FROM oedges
         |  UNION
         |  SELECT w.node, e.v FROM owalk w JOIN oedges e ON e.u = w.reach),
         |ocomp AS (SELECT node, min(reach) AS root FROM owalk GROUP BY node)
         |SELECT c.node AS doc_id, c.root AS cluster_id,
         |  COALESCE(o.root, -1) AS prior_cluster_id,
         |  CASE WHEN c.node % 2 = 1 THEN 'arrival'
         |    WHEN COALESCE(o.root, -1) = c.root THEN 'stable'
         |    ELSE 'merged' END AS status
         |FROM comp c LEFT JOIN ocomp o ON o.node = c.node
         |ORDER BY doc_id""".stripMargin,
    // Synchronous LPA unrolled round-by-round: per round, each node adopts
    // its most frequent neighbor label (ties → smallest label) — the same
    // fixed-horizon deterministic contract as the Spark side's argmax.
    "q_dedup_communities" ->
      s"""$sigCte,
         |$candCtes,
         |$prsCte,
         |$lpaCtes
         |SELECT node AS doc_id, CAST(label AS BIGINT) AS community
         |FROM l$LpaRounds ORDER BY doc_id""".stripMargin,
    // Newman modularity of the l4 LPA partition over the verified pair
    // graph — HUGEINT arithmetic, the same +4m² shift before truncating
    // division as the Spark side (Q ≥ −1 keeps the shifted numerator
    // non-negative, where // and div agree)
    "q_dedup_modularity" ->
      s"""$sigCte,
         |$candCtes,
         |$prsCte,
         |$lpaCtes,
         |mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM prs),
         |ec AS (SELECT la.label, count(*) AS e_in
         |  FROM prs p JOIN l$LpaRounds la ON la.node = p.doc_a
         |  JOIN l$LpaRounds lb ON lb.node = p.doc_b
         |  WHERE la.label = lb.label GROUP BY la.label),
         |deg AS (SELECT node, count(*) AS d FROM (
         |    SELECT doc_a AS node FROM prs
         |    UNION ALL SELECT doc_b FROM prs) GROUP BY node),
         |dc AS (SELECT l.label, sum(d.d) AS d_sum
         |  FROM deg d JOIN l$LpaRounds l ON l.node = d.node
         |  GROUP BY l.label),
         |ns AS (SELECT
         |    CAST(sum(4 * mm.m * COALESCE(ec.e_in, 0)
         |      - CAST(dc.d_sum AS HUGEINT) * dc.d_sum) AS HUGEINT) AS n_sum,
         |    count(*) AS n_communities
         |  FROM dc LEFT JOIN ec ON ec.label = dc.label, mm)
         |SELECT CAST(ns.n_communities AS BIGINT) AS n_communities,
         |  CAST(mm.m AS BIGINT) AS n_edges,
         |  CAST(CASE WHEN mm.m = 0 THEN 0 ELSE
         |    ((ns.n_sum + 4 * mm.m * mm.m) * 10000) // (4 * mm.m * mm.m)
         |      - 10000 END AS BIGINT) AS q_modularity_bp
         |FROM ns, mm""".stripMargin,
    // the refinement round unrolled: LPA as in the communities oracle, then
    // per node the exact-integer Louvain gain score over neighbor
    // communities (+ staying), argmax by (score DESC, label ASC) — HUGEINT
    // arithmetic mirroring the Spark side's Decimal(38)
    "q_dedup_refine" ->
      s"""$sigCte,
         |$candCtes,
         |$prsCte,
         |$lpaCtes,
         |mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM prs),
         |deg AS (SELECT node, CAST(count(*) AS HUGEINT) AS k FROM (
         |    SELECT doc_a AS node FROM prs
         |    UNION ALL SELECT doc_b FROM prs) GROUP BY node),
         |dc AS (SELECT l.label, sum(d.k) AS d_sum
         |  FROM deg d JOIN l$LpaRounds l ON l.node = d.node
         |  GROUP BY l.label),
         |nb AS (SELECT e.u, l.label AS cand, CAST(count(*) AS HUGEINT) AS k_ic
         |  FROM edges e JOIN l$LpaRounds l ON l.node = e.v
         |  GROUP BY e.u, l.label),
         |cd AS (SELECT u, cand, sum(k_ic) AS k_ic FROM (
         |    SELECT u, cand, k_ic FROM nb
         |    UNION ALL
         |    SELECT node, label, CAST(0 AS HUGEINT) FROM l$LpaRounds)
         |  GROUP BY u, cand),
         |sc AS (SELECT cd.u, cd.cand,
         |    4 * mm.m * cd.k_ic - 2 * deg.k *
         |      (dc.d_sum - CASE WHEN cd.cand = l.label THEN deg.k
         |        ELSE CAST(0 AS HUGEINT) END) AS score
         |  FROM cd
         |  JOIN deg ON deg.node = cd.u
         |  JOIN l$LpaRounds l ON l.node = cd.u
         |  JOIN dc ON dc.label = cd.cand, mm),
         |pk AS (SELECT u, cand,
         |    row_number() OVER (PARTITION BY u ORDER BY score DESC, cand)
         |      AS rk
         |  FROM sc)
         |SELECT l.node AS doc_id, CAST(l.label AS BIGINT) AS community,
         |  CAST(p.cand AS BIGINT) AS refined_community
         |FROM l$LpaRounds l JOIN pk p ON p.u = l.node AND p.rk = 1
         |ORDER BY doc_id""".stripMargin,
    // the refinement round unrolled as in q_dedup_refine, both partitions'
    // modularity folded (HUGEINT, same +4m² shift), the Q gate picks the
    // label set, then the keep-longest policy per chosen community via a
    // per-cluster window — equivalent at oracle scale to the Spark side's
    // combinable argmin struct
    "q_dedup_canonical_refined" ->
      s"""$sigCte,
         |$candCtes,
         |$prsCte,
         |$lpaCtes,
         |mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM prs),
         |deg AS (SELECT node, CAST(count(*) AS HUGEINT) AS k FROM (
         |    SELECT doc_a AS node FROM prs
         |    UNION ALL SELECT doc_b FROM prs) GROUP BY node),
         |dc AS (SELECT l.label, sum(d.k) AS d_sum
         |  FROM deg d JOIN l$LpaRounds l ON l.node = d.node
         |  GROUP BY l.label),
         |nb AS (SELECT e.u, l.label AS cand, CAST(count(*) AS HUGEINT) AS k_ic
         |  FROM edges e JOIN l$LpaRounds l ON l.node = e.v
         |  GROUP BY e.u, l.label),
         |cd AS (SELECT u, cand, sum(k_ic) AS k_ic FROM (
         |    SELECT u, cand, k_ic FROM nb
         |    UNION ALL
         |    SELECT node, label, CAST(0 AS HUGEINT) FROM l$LpaRounds)
         |  GROUP BY u, cand),
         |sc AS (SELECT cd.u, cd.cand,
         |    4 * mm.m * cd.k_ic - 2 * deg.k *
         |      (dc.d_sum - CASE WHEN cd.cand = l.label THEN deg.k
         |        ELSE CAST(0 AS HUGEINT) END) AS score
         |  FROM cd
         |  JOIN deg ON deg.node = cd.u
         |  JOIN l$LpaRounds l ON l.node = cd.u
         |  JOIN dc ON dc.label = cd.cand, mm),
         |rl AS (SELECT u AS node, cand AS label FROM (
         |    SELECT u, cand,
         |      row_number() OVER (PARTITION BY u ORDER BY score DESC, cand)
         |        AS rk
         |    FROM sc) WHERE rk = 1),
         |eca AS (SELECT la.label, count(*) AS e_in
         |  FROM prs p JOIN l$LpaRounds la ON la.node = p.doc_a
         |  JOIN l$LpaRounds lb ON lb.node = p.doc_b
         |  WHERE la.label = lb.label GROUP BY la.label),
         |qa AS (SELECT CAST(sum(4 * mm.m * COALESCE(ec.e_in, 0)
         |      - dc.d_sum * dc.d_sum) AS HUGEINT) AS n_sum
         |  FROM dc LEFT JOIN eca ec ON ec.label = dc.label, mm),
         |ecb AS (SELECT la.label, count(*) AS e_in
         |  FROM prs p JOIN rl la ON la.node = p.doc_a
         |  JOIN rl lb ON lb.node = p.doc_b
         |  WHERE la.label = lb.label GROUP BY la.label),
         |dcb AS (SELECT l.label, sum(d.k) AS d_sum
         |  FROM deg d JOIN rl l ON l.node = d.node
         |  GROUP BY l.label),
         |qb AS (SELECT CAST(sum(4 * mm.m * COALESCE(ec.e_in, 0)
         |      - dc.d_sum * dc.d_sum) AS HUGEINT) AS n_sum
         |  FROM dcb dc LEFT JOIN ecb ec ON ec.label = dc.label, mm),
         |gate AS (SELECT CASE WHEN mm.m = 0 THEN FALSE ELSE
         |    (((qb.n_sum + 4 * mm.m * mm.m) * 10000) // (4 * mm.m * mm.m)) >
         |    (((qa.n_sum + 4 * mm.m * mm.m) * 10000) // (4 * mm.m * mm.m))
         |  END AS use_ref FROM qa, qb, mm),
         |ch AS (SELECT l.node,
         |    CASE WHEN g.use_ref THEN r.label ELSE l.label END AS community,
         |    CASE WHEN g.use_ref THEN 'refined' ELSE 'lpa' END AS basis
         |  FROM l$LpaRounds l JOIN rl r ON r.node = l.node, gate g),
         |cdx AS (SELECT c.community, c.basis, c.node, d.n_chars
         |  FROM ch c JOIN documents d ON d.doc_id = c.node)
         |SELECT cluster_id, keep_doc, keep_chars, n_members, basis FROM (
         |  SELECT CAST(community AS BIGINT) AS cluster_id,
         |    node AS keep_doc, n_chars AS keep_chars, basis,
         |    CAST(count(*) OVER (PARTITION BY community) AS BIGINT)
         |      AS n_members,
         |    row_number() OVER (PARTITION BY community
         |      ORDER BY n_chars DESC, node) AS rk
         |  FROM cdx)
         |WHERE rk = 1 ORDER BY cluster_id""".stripMargin,
    // unthresholded candidate agreement histogram + per-doc max agreement,
    // each swept over the 1..K threshold table
    "q_dedup_threshold_frontier" ->
      s"""$sigCte,
         |$candCtes,
         |sc AS (SELECT c.doc_a, c.doc_b,
         |    CAST(len(list_filter(generate_series(1, $MinhashK),
         |      i -> sa.sigs[i] = sb.sigs[i])) AS INT) AS matches
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.doc_a
         |  JOIN sig sb ON sb.doc_id = c.doc_b),
         |thr AS (SELECT unnest(generate_series(1, $MinhashK)) AS threshold),
         |ph AS (SELECT matches, count(*) AS np FROM sc GROUP BY matches),
         |np AS (SELECT t.threshold, sum(p.np) AS n_pairs
         |  FROM ph p JOIN thr t ON p.matches >= t.threshold
         |  GROUP BY t.threshold),
         |dm AS (SELECT doc, max(matches) AS mm FROM (
         |    SELECT doc_a AS doc, matches FROM sc
         |    UNION ALL SELECT doc_b, matches FROM sc)
         |  GROUP BY doc),
         |dh AS (SELECT mm, count(*) AS nd FROM dm GROUP BY mm),
         |nd AS (SELECT t.threshold, sum(h.nd) AS n_docs
         |  FROM dh h JOIN thr t ON h.mm >= t.threshold
         |  GROUP BY t.threshold)
         |SELECT CAST(t.threshold AS INT) AS threshold,
         |  CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(COALESCE(nd.n_docs, 0) AS BIGINT) AS n_docs
         |FROM thr t LEFT JOIN np ON np.threshold = t.threshold
         |LEFT JOIN nd ON nd.threshold = t.threshold
         |ORDER BY threshold""".stripMargin,
  )
}

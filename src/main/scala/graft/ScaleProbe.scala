package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe (manual; not part of the driver contract): runs the
  * engine's batch operators — the custom as-of join, dedup, retrieval,
  * graph and forecasting operators — over synthetic data 100× the sf0.1
  * bench (10M events / 100k keys, 10M⋈1M as-of) generated directly from
  * `spark.range` (no IO; deterministic via xxhash64). Prints one JSON line
  * per probe with rows/sec; most probes also assert an at-volume invariant.
  * It runs no CEP: CEP throughput, layer by layer, is the traced
  * `cep_batch` run of `perfbench` (`python3 perfbench/run.py --workload
  * cep_batch --trace 1`).
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleProbe"
  */
object ScaleProbe {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark: SparkSession =
      GraftSession.builder(s"local[$cpus]", cpus.toInt * 2).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nEvents = args.headOption.map(_.toLong).getOrElse(10000000L)
    val users = 100000L

    // ---- custom as-of join: 10M events ⋈ 1M orders on user ----
    val left = spark.range(nEvents).select(
      $"id".as("event_id"),
      pmod(xxhash64($"id" * 7 + 1), lit(users)).as("user_id"),
      (lit(1700000000000000L) +
        pmod(xxhash64($"id" * 13 + 5), lit(30L * 86400 * 1000000L))).as("ts"))
    val right = spark.range(nEvents / 10).select(
      $"id".as("o_id"),
      pmod(xxhash64($"id" * 3 + 2), lit(users)).as("o_user"),
      timestamp_micros(lit(1700000000000000L) +
        pmod(xxhash64($"id" * 17 + 7), lit(30L * 86400 * 1000000L))).as("o_ts"))
    val (nJoined, asofSecs) = time {
      graft.plans.AsOf.join(left, right, "user_id", "o_user", "ts", "o_ts", Seq("o_id"))
        .count()
    }
    println(f"""{"probe":"asof","left":$nEvents,"right":${nEvents / 10},"joined":$nJoined,"secs":$asofSecs%.1f,"rows_per_sec":${(nEvents / asofSecs).toLong}}""")

    // ---- MinHash LSH dedup: synthetic docs at 10× the sf0.1 documents ----
    // ~50 words/doc from a 5000-word vocab, deterministic via xxhash64;
    // every 100th doc is a near-copy of its predecessor (first word
    // changed), so the expected near-dup pair count is ~nDocs/100.
    val nDocs = 50000L
    val base = when(pmod($"id", lit(100L)) === 1, $"id" - 1).otherwise($"id")
    val words = (0 until 50).map { j =>
      val seed = if (j == 0) $"id" else base
      concat(lit("w"), pmod(xxhash64(seed * 53 + j), lit(5000L)))
    }
    val docs = spark.range(nDocs)
      .select($"id".as("doc_id"), concat_ws(" ", words: _*).as("text"))
    val (nPairs, dedupSecs) = time {
      graft.pipeline.Dedup.minhashOf(spark, docs).count()
    }
    spark.catalog.clearCache()
    println(f"""{"probe":"dedup_minhash","docs":$nDocs,"pairs":$nPairs,"secs":$dedupSecs%.1f,"docs_per_sec":${(nDocs / dedupSecs).toLong}}""")

    // ---- Phrase search over the same 10× corpus: every 50th doc gets ----
    // the planted phrase "px py pz" APPENDED (tokens outside the w-vocab,
    // so the query vocabulary filter leaves 3 postings per planted doc
    // and ZERO for the other 49/50 — the narrow-before-wide contract
    // measured, not argued). Exact invariant: hit count == plants; plus a
    // common-token phrase whose postings are corpus-wide (the worst-case
    // vocabulary filter) must still answer.
    val phDocs = docs.withColumn("text",
      when(pmod($"doc_id", lit(50L)) === 0,
        concat($"text", lit(" px py pz"))).otherwise($"text"))
    val (phStats, phSecs) = time {
      val hits = graft.pipeline.Retrieval.phraseOf(phDocs,
        Seq((1, "px py pz"), (2, "w0 w1"))).cache()
      val planted = hits.filter($"phrase" === "px py pz")
        .agg(count(lit(1)), sum($"n_hits")).head()
      val common = hits.filter($"phrase" === "w0 w1").count()
      (planted.getLong(0), planted.getLong(1), common)
    }
    spark.catalog.clearCache()
    assert(phStats._1 == nDocs / 50 && phStats._2 == nDocs / 50,
      s"planted phrase hits ${phStats._1}/${phStats._2} != ${nDocs / 50}")
    println(f"""{"probe":"phrase","docs":$nDocs,"planted_hits":${phStats._1},"common_docs":${phStats._3},"secs":$phSecs%.1f,"docs_per_sec":${(nDocs / phSecs).toLong}}""")

    // ---- span-level dedup + bloom-incremental over the same 10× corpus ----
    // The planted near-copies differ only in word 1, so each copy pair
    // shares EXACTLY the 45 5-token spans that start at positions 2..46 of
    // the 50-word docs (the random 5000-word vocabulary makes accidental
    // 5-gram collisions vanishingly unlikely): 1000 docs with n_dup = 45.
    // The copy (odd id, id%100==1) and its source (even id) always sit on
    // opposite parities, so the incremental probe must flag exactly the 500
    // copy docs.
    val (spanStats, spanSecs) = time {
      val r = graft.pipeline.SpanDedup.spansOf(spark, docs)
        .filter($"n_dup" > 0)
        .agg(count(lit(1)), sum($"n_dup"), max($"n_dup")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    spark.catalog.clearCache()
    assert(spanStats._1 == 1000L, s"span-dup docs ${spanStats._1}")
    assert(spanStats._3 == 45L, s"max n_dup ${spanStats._3}")
    println(f"""{"probe":"dedup_spans","docs":$nDocs,"dup_docs":${spanStats._1},"dup_spans":${spanStats._2},"secs":$spanSecs%.1f,"docs_per_sec":${(nDocs / spanSecs).toLong}}""")

    val (incrHits, incrSecs) = time {
      graft.pipeline.SpanDedup.incrementalOf(spark, docs).count()
    }
    assert(incrHits == 500L, s"incremental hits $incrHits")
    println(f"""{"probe":"dedup_incremental","docs":$nDocs,"flagged":$incrHits,"secs":$incrSecs%.1f,"docs_per_sec":${(nDocs / incrSecs).toLong}}""")

    // ---- CMS-gated heavy hitters over the 10× corpus + planted boilerplate ----
    // 500 extra docs share one fixed 5-word phrase → its three 3-gram
    // shingles occur exactly 500× each; the random-vocabulary shingles of
    // the base corpus stay far below HeavyT (a copied doc only doubles its
    // source's shingles). The probe asserts the sketch-gated plan finds
    // EXACTLY the planted set (sketch changes the plan, never the answer —
    // the HeavyHittersSpec contract, here at 2.4M shingle occurrences).
    val hotDocs = spark.range(500)
      .select(($"id" + nDocs).as("doc_id"),
        lit("alpha beta gamma delta epsilon").as("text"))
    val hhCorpus = docs.unionByName(hotDocs)
    val (hhRows, hhSecs) = time {
      graft.pipeline.HeavyHitters.heavyHittersOf(hhCorpus).collect()
    }
    assert(hhRows.length == 3, s"heavy shingles ${hhRows.length}")
    assert(hhRows.forall(_.getLong(1) == 500L),
      s"heavy counts ${hhRows.map(_.getLong(1)).mkString(",")}")
    val hhShingles = (nDocs + 500) * 48 // ~48 3-gram spans per 50-word doc
    println(f"""{"probe":"heavy_hitters","docs":${nDocs + 500},"heavy":${hhRows.length},"secs":$hhSecs%.1f,"shingles_per_sec":${(hhShingles / hhSecs).toLong}}""")

    // ---- SemDeDup at 50× vectors with K grown 32× (the scale contract: ----
    // K grows with the corpus so per-cell width stays bounded and Σ|cell|²
    // stays linear-ish). 100k 64-dim quantized vectors; every 100th is an
    // EXACT copy of its predecessor (cosine 1 ≥ τ, and identical vectors
    // always assign to the same cell under the deterministic (d, cid)
    // argmin), so all 1000 planted copies MUST appear in the semantic-dedup
    // output regardless of what random near-dups the cells also contain.
    val nVecs = 100000L
    val ivfK = 512 // 32× the bench K for 50× the vectors
    val vbase = when(pmod($"id", lit(100L)) === 1L, $"id" - 1).otherwise($"id")
    val emb = spark.range(nVecs).select(
      $"id".as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        d => pmod(xxhash64(vbase * 67 + d.cast("long") * 13 + 3), lit(2000001L))
          - 1000000L).as("q"))
    val (semStats, semSecs) = time {
      val (_, cells) = graft.pipeline.Similarity.ivfModelOf(spark, emb, ivfK)
      val out = graft.pipeline.Dedup
        .semanticOf(spark, cells, maxCell = nVecs.toInt)
      val planted = out.filter(pmod($"vec_id", lit(100L)) === 1L).count()
      val total = out.count()
      (planted, total)
    }
    spark.catalog.clearCache()
    assert(semStats._1 == nVecs / 100, s"planted semantic dups ${semStats._1}")
    println(f"""{"probe":"dedup_semantic","vecs":$nVecs,"cells":$ivfK,"planted_found":${semStats._1},"flagged":${semStats._2},"secs":$semSecs%.1f,"vecs_per_sec":${(nVecs / semSecs).toLong}}""")

    // ---- Guarded kNN similarity join at 1M vectors with a DEGENERATE ----
    // hot cell: 975k of 1M vectors are near-zero (the k-means collapse the
    // verdict's MaxKnnCell guard exists for — they all assign to the single
    // min-norm cell), 25k diverse vectors spread across K=256 cells
    // (~98/cell). UNGUARDED, the hot cell alone would fan out ≈ 975k² ≈
    // 9.5e11 candidate pairs onto the tasks owning that cell — days of
    // work; guarded, the candidate volume is ~1M queries × nprobe × ~98 ≈
    // 4e8 bounded pairs and the join completes in minutes. Hot members
    // still act as queries (served from their 3 other probed cells).
    val nKnn = 1000000L
    val knnCold = 25000L
    val knnDims = 16
    val knnEmb = spark.range(nKnn).select(
      $"id".as("vec_id"),
      when($"id" < knnCold,
        transform(sequence(lit(0), lit(knnDims - 1)),
          d => pmod(xxhash64($"id" * 67 + d.cast("long") * 13 + 3),
            lit(2000001L)) - 1000000L))
        .otherwise(
          transform(sequence(lit(0), lit(knnDims - 1)),
            d => pmod(xxhash64($"id" * 71 + d.cast("long") * 17 + 7), lit(3L)) - 1L))
        .as("q"))
    val (knnStats, knnSecs) = time {
      val (cents, cells) = graft.pipeline.Similarity.ivfModelOf(spark, knnEmb, 256)
      val hotCell = cells.groupBy($"cell").count()
        .agg(max($"count")).head().getLong(0)
      val out = graft.pipeline.Similarity
        .knnJoinOf(spark, cents, cells, maxCell = 1000).cache()
      val r = out.agg(count(lit(1)), countDistinct($"query_id"),
        max($"vec_id")).head()
      (hotCell, r.getLong(0), r.getLong(1), r.getLong(2))
    }
    spark.catalog.clearCache()
    assert(knnStats._1 >= nKnn - knnCold,
      s"degenerate cell did not form: max cell ${knnStats._1}")
    assert(knnStats._4 < knnCold,
      s"hot-cell member leaked into candidates: max neighbor ${knnStats._4}")
    assert(knnStats._3 == nKnn,
      s"queries missing from the guarded join: ${knnStats._3} of $nKnn")
    println(f"""{"probe":"knn_join_hot_cell","vecs":$nKnn,"hot_cell":${knnStats._1},"cells":256,"out_rows":${knnStats._2},"queries_served":${knnStats._3},"secs":$knnSecs%.1f,"vecs_per_sec":${(nKnn / knnSecs).toLong}}""")

    // ---- Connected components: 1.55M edges over ~2M nodes, adversarial ----
    // shapes for cluster resolution: 1000 chains of length 1000 (worst-case
    // diameter — label propagation would need 1000 rounds; the star
    // algorithm converges in O(log n)), one 100k-degree hub (the viral-
    // boilerplate cluster that kills collect_set approaches), and 450k
    // disjoint near-dup pairs (the common case). Expected components:
    // 1000 + 1 + 450000.
    val chain = spark.range(1000000L)
      .filter(pmod($"id", lit(1000L)) =!= 999L)
      .select($"id".as("u"), ($"id" + 1).as("v"))
    val hub = spark.range(100000L)
      .select(lit(10000000L).as("u"), ($"id" + 10000001L).as("v"))
    val pairsE = spark.range(450000L)
      .select(($"id" * 2 + 20000000L).as("u"), ($"id" * 2 + 20000001L).as("v"))
    val edges = chain.union(hub).union(pairsE)
    val ccRounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val (ccStats, ccSecs) = time {
      val cc = graft.pipeline.Components.connectedComponents(
        edges, (r, n) => ccRounds += ((r, n)))
      val comps = cc.groupBy($"root").count()
      val r = comps.agg(count(lit(1)), max($"count")).head()
      (r.getLong(0), r.getLong(1))
    }
    // early-exit evidence: settled components leave the loop, so the
    // unsettled edge count must shrink every round (the 450k pair stars and
    // the 100k hub star drop out at round 0; only the chains iterate)
    println(s"""{"probe":"components_rounds","unsettled_per_round":[${ccRounds.map(_._2).mkString(",")}]}""")
    val nEdges = 999000L + 100000L + 450000L
    assert(ccStats._1 == 451001L, s"component count ${ccStats._1}")
    assert(ccStats._2 == 100001L, s"max component ${ccStats._2}")
    println(f"""{"probe":"components","edges":$nEdges,"components":${ccStats._1},"max_size":${ccStats._2},"secs":$ccSecs%.1f,"edges_per_sec":${(nEdges / ccSecs).toLong}}""")

    // ---- Triangle census: ~445k edges, adversarial degree skew ----
    // 200 50-cliques (the boilerplate families: 200·C(50,3) = 3.92M
    // triangles) + one 100k-degree hub whose spokes form a chain ring
    // (99,999 hub triangles). The hub is the point: naive u<v orientation
    // enumerates C(100k,2) ≈ 5e9 wedges AT THE HUB (the "curse of the last
    // reducer" — one task owns them all); degree orientation enumerates
    // wedges only at the degree-≤3 spokes and degree-49 clique nodes, so
    // the probe finishing in seconds IS the evidence the orientation works.
    val cliqueN = 200L; val cliqueM = 50L
    // integral div/%: Column./ on longs is DOUBLE division — fractional
    // node ids would silently dissolve every clique
    val cliques = spark.range(cliqueN * cliqueM * cliqueM).select(
        expr(s"id div ${cliqueM * cliqueM}").as("c"),
        expr(s"(id div $cliqueM) % $cliqueM").as("i"),
        expr(s"id % $cliqueM").as("j"))
      .filter($"i" < $"j")
      .select(($"c" * 1000L + $"i" + 40000000L).as("u"),
        ($"c" * 1000L + $"j" + 40000000L).as("v"))
    val hubId = 50000000L
    val spokes = spark.range(100000L)
      .select(lit(hubId).as("u"), ($"id" + hubId + 1).as("v"))
    val ring = spark.range(99999L)
      .select(($"id" + hubId + 1).as("u"), ($"id" + hubId + 2).as("v"))
    val triEdges = cliques.union(spokes).union(ring)
    val expTriangles = cliqueN * (cliqueM * (cliqueM - 1) * (cliqueM - 2) / 6) + 99999L
    val (triStats, triSecs) = time {
      val t = graft.pipeline.Components.triangleCounts(triEdges)
      val r = t.agg(sum($"n_tri"), max($"n_tri"),
        sum(when($"node" === hubId, $"n_tri"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    assert(triStats._1 == 3 * expTriangles, s"participation sum ${triStats._1}")
    assert(triStats._3 == 99999L, s"hub triangles ${triStats._3}")
    val nTriEdges = cliqueN * cliqueM * (cliqueM - 1) / 2 + 100000L + 99999L
    println(f"""{"probe":"triangles","edges":$nTriEdges,"triangles":$expTriangles,"hub_degree":100000,"secs":$triSecs%.1f,"edges_per_sec":${(nTriEdges / triSecs).toLong}}""")

    // ---- PageRank: 5 integer power-iteration rounds over the same ----
    // adversarial 1.55M-edge / 2M-node graph (chains + 100k-degree hub +
    // disjoint pairs). The hub is again the point: its 100k-edge fan-in
    // must collapse in map-side partial aggregation, never in one task's
    // memory. Correctness invariants ride along: every disjoint-pair node
    // is a 1-regular fixpoint (exactly 1e6 micro-rank survives all 5
    // rounds — the integer recurrence preserves it bit-exactly), and the
    // hub is the global max-rank node.
    val (prStats, prSecs) = time {
      val pr = graft.pipeline.Components.pageRank(edges, 5).cache()
      val r = pr.agg(count(lit(1)), max($"rank_micro"),
        sum(when($"node" >= 20000000L, $"rank_micro"))).head()
      val hubRank = pr.filter($"node" === 10000000L).head().getLong(1)
      (r.getLong(0), r.getLong(1), r.getLong(2), hubRank)
    }
    spark.catalog.clearCache()
    assert(prStats._1 == 2000001L, s"pagerank node count ${prStats._1}")
    assert(prStats._3 == 900000L * 1000000L,
      s"pair-node fixpoint mass ${prStats._3}")
    assert(prStats._4 == prStats._2, s"hub ${prStats._4} is not max ${prStats._2}")
    println(f"""{"probe":"pagerank","edges":$nEdges,"nodes":${prStats._1},"iters":5,"hub_rank_micro":${prStats._4},"secs":$prSecs%.1f,"edges_per_sec":${(5 * nEdges / prSecs).toLong}}""")

    // ---- Label propagation: 4 sync rounds over the same adversarial ----
    // graph. The hub is the partial-aggregation test again: in even
    // rounds ALL 100k leaves carry one label, so the (hub, label) count
    // is a single 100k-row group that must collapse map-side. Exact
    // fixed-horizon invariants (sync LPA 2-cycles on bipartite shapes —
    // the documented determinism contract, not a bug):
    //  - every disjoint-pair node sits at its OWN label after any even
    //    round (pairs are 2-cycles: swap, swap back);
    //  - the hub's leaves all share ONE label (the min leaf id) and the
    //    center holds its own.
    val (lpaStats, lpaSecs) = time {
      val lp = graft.pipeline.Components.labelPropagation(edges, 4).cache()
      val pairOwn = lp
        .filter($"node" >= 20000000L && $"label" === $"node").count()
      val leafLabels = lp
        .filter($"node" >= 10000001L && $"node" <= 10100000L)
        .select($"label").distinct().collect().map(_.getLong(0)).toSeq
      val hubLabel = lp.filter($"node" === 10000000L).head().getLong(1)
      (pairOwn, leafLabels, hubLabel)
    }
    spark.catalog.clearCache()
    assert(lpaStats._1 == 900000L, s"pair-node even-round labels ${lpaStats._1}")
    assert(lpaStats._2 == Seq(10000001L), s"leaf labels ${lpaStats._2}")
    assert(lpaStats._3 == 10000000L, s"hub label ${lpaStats._3}")
    println(f"""{"probe":"lpa","edges":$nEdges,"rounds":4,"pair_fixpoints":${lpaStats._1},"secs":$lpaSecs%.1f,"edges_per_sec":${(4 * nEdges / lpaSecs).toLong}}""")

    // ---- LPA community separation at scale: two 1000-cliques (499.5k ----
    // edges each) bridged by ONE edge — a single connected component
    // that must resolve to exactly TWO uniform communities (each clique's
    // majority outvotes the bridge; the converged labels are the clique
    // minima 0 and 1000000). The review-the-bridge contract of
    // q_dedup_communities demonstrated on dense structures, not toys.
    val bbCliqueN = 1000L
    def clique(off: Long) = spark.range(bbCliqueN).as[Long]
      .flatMap(i => (i + 1 until bbCliqueN).map(j => (i + off, j + off)))
      .toDF("u", "v")
    val barbell = clique(0L).union(clique(1000000L))
      .union(Seq((0L, 1000000L)).toDF("u", "v"))
    val (bbStats, bbSecs) = time {
      graft.pipeline.Components.labelPropagation(barbell, 4)
        .groupBy($"label").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    spark.catalog.clearCache()
    assert(bbStats == Map(0L -> 1000L, 1000000L -> 1000L),
      s"barbell communities $bbStats")
    val bbEdges = bbCliqueN * (bbCliqueN - 1) + 1
    println(f"""{"probe":"lpa_barbell","edges":$bbEdges,"communities":${bbStats.size},"secs":$bbSecs%.1f,"edges_per_sec":${(4 * bbEdges / bbSecs).toLong}}""")

    // ---- Anti-entropy diff: 10M-row snapshot vs a replica with ~300 ----
    // drifted keys (1 in ~33k). The point of the two-phase shape: the
    // full-outer KEY join only ever sees mismatched buckets' rows —
    // drift-sized, not table-sized — while the corpus-wide work is two
    // map-side-combinable summary passes. The probe plants exact drift
    // (drops / cent-flips / phantoms on fixed residues) and asserts the
    // diff names precisely those keys.
    val nRows = 10000000L
    val src = spark.range(nRows).select(
      $"id".as("k"),
      (($"id" * 37L) % 100000L).as("cents"),
      ($"id" % 1000L).as("custkey"),
      when($"id" % 3 === 0, "O").when($"id" % 3 === 1, "F")
        .otherwise("P").as("status"))
    val replica = src
      .filter($"k" % 100000L =!= 7L)                       // 100 drops
      .withColumn("cents",
        when($"k" % 99991L === 3L, $"cents" + 1L).otherwise($"cents")) // ~100 flips
      .unionByName(src.filter($"k" % 100000L === 1L)
        .withColumn("k", $"k" + 1000000000L))              // 100 phantoms
    val (diffStats, diffSecs) = time {
      val d = graft.relational.Reconcile.tableDiff(src, replica).cache()
      val byV = d.groupBy($"verdict").agg(count(lit(1)).as("c"))
        .as[(String, Long)].collect().toMap
      (byV.getOrElse("missing", 0L), byV.getOrElse("changed", 0L),
        byV.getOrElse("extra", 0L))
    }
    spark.catalog.clearCache()
    assert(diffStats._1 == nRows / 100000L, s"missing ${diffStats._1}")
    assert(diffStats._2 == (nRows - 1L - 3L) / 99991L + 1L, s"changed ${diffStats._2}")
    assert(diffStats._3 == nRows / 100000L, s"extra ${diffStats._3}")
    println(f"""{"probe":"table_diff","rows":$nRows,"drifted":${diffStats._1 + diffStats._2 + diffStats._3},"secs":$diffSecs%.1f,"rows_per_sec":${(2 * nRows / diffSecs).toLong}}""")

    // ---- C4/Gopher line cleaning at 1M synthetic documents (r10): the ----
    // whole synthesize→split→classify→gate report is per-row array
    // lambdas, so throughput must scale with document count and the
    // output must keep its internal accounting invariant (per-reason
    // counts sum to n_lines) at any volume.
    val nLcDocs = 1000000L
    val lcVocab = array((0 until 32).map(i => lit(s"w$i")): _*)
    val lcDocs = spark.range(nLcDocs).select(
      $"id".as("doc_id"),
      concat_ws(" ", transform(
        sequence(lit(1), (lit(12) + pmod(xxhash64($"id" * 7 + 1), lit(60L))).cast("int")),
        i => element_at(lcVocab,
          (pmod(xxhash64($"id" * 31 + i.cast("long") * 13 + 11), lit(32L)) + 1)
            .cast("int")))).as("text"))
    val (lcStats, lcSecs) = time {
      val rep = graft.pipeline.LineClean.cleanLinesOf(
        lcDocs.select($"doc_id",
          graft.pipeline.LineClean.synthLinedText($"doc_id", $"text").as("text")))
      rep.agg(
          count(lit(1)),
          sum(when($"n_kept" + $"n_dup" + $"n_bullet" + $"n_ellipsis" +
            $"n_nopunct" + $"n_short" =!= $"n_lines", 1L).otherwise(0L)),
          sum(when($"verdict" === "keep", 1L).otherwise(0L)))
        .as[(Long, Long, Long)].head()
    }
    assert(lcStats._1 == nLcDocs && lcStats._2 == 0L,
      s"line-clean accounting broke: $lcStats")
    assert(lcStats._3 > 0L && lcStats._3 < nLcDocs,
      s"degenerate verdicts: ${lcStats._3} of $nLcDocs kept")
    println(f"""{"probe":"line_clean","docs":$nLcDocs,"kept_docs":${lcStats._3},"secs":$lcSecs%.1f,"docs_per_sec":${(nLcDocs / lcSecs).toLong}}""")

    // ---- Holt-Winters forecasting at 10M events / 100k keys (r10): ----
    // the (user, day) rollup + per-user map + in-row shift-fold shape —
    // per-key work is bounded by the DAY SPAN (the corpus time window),
    // never by event volume, so 100 events/user/day and 1 event/user/day
    // must cost the same fold. The span invariant is asserted at volume.
    val hwEvents = spark.range(nEvents).select(
      pmod(xxhash64($"id" * 7 + 1), lit(users)).as("user_id"),
      timestamp_micros(lit(1700000000000000L) +
        pmod(xxhash64($"id" * 13 + 5), lit(30L * 86400 * 1000000L))).as("ts"),
      lit("purchase").as("event_type"),
      (pmod(xxhash64($"id" * 31 + 11), lit(10000L)).cast("double") / 100.0)
        .as("value"))
    val (hwStats, hwSecs) = time {
      graft.relational.TimeSeries.holtWintersOf(hwEvents)
        .agg(count(lit(1)),
          sum(when($"n_days" > 32, 1L).otherwise(0L)),
          sum(when($"forecast1_micro" =!=
            $"level_micro" + $"trend_micro" + $"season_next_micro", 1L)
            .otherwise(0L)))
        .as[(Long, Long, Long)].head()
    }
    assert(hwStats._1 == users, s"holt-winters lost keys: ${hwStats._1}")
    assert(hwStats._2 == 0L, s"day span exceeded the corpus window: $hwStats")
    assert(hwStats._3 == 0L, s"forecast identity broke: $hwStats")
    println(f"""{"probe":"holt_winters","rows":$nEvents,"keys":$users,"secs":$hwSecs%.1f,"rows_per_sec":${(nEvents / hwSecs).toLong}}""")

    // ---- Persisted MinHash index admission at 1M documents (r11): the ----
    // REAL declared path end to end — documents written as a table, the
    // index built once (reported separately, the untimed-build contract),
    // then q_dedup_assign's serving measured: 500k arrivals against the
    // 500k-doc index, corpus never re-hashed. Every 100th doc (ids ≡ 1
    // mod 100 — all odd, so all ARRIVALS) is a near-copy of its even
    // predecessor (first word changed, Jaccard ≈ 0.9), so ~nIdxDocs/100
    // rejects are EXPECTED — the planted-recall assert (measured: exactly
    // 10000/10000 recovered at 1M docs, zero random-pair extras).
    val nIdxDocs = 1000000L
    val idxBase = when(pmod($"id", lit(100L)) === 1, $"id" - 1).otherwise($"id")
    val idxWords = (0 until 50).map { j =>
      val seed = if (j == 0) $"id" else idxBase
      concat(lit("w"), pmod(xxhash64(seed * 53 + j), lit(5000L)))
    }
    val idxDir = java.nio.file.Files.createTempDirectory("graft-probe-mh").toString
    spark.range(nIdxDocs)
      .select($"id".as("doc_id"), concat_ws(" ", idxWords: _*).as("text"))
      .write.mode("overwrite").parquet(s"$idxDir/documents.parquet")
    val (_, mhBuildSecs) = time {
      graft.pipeline.Dedup.trainIndex(spark, idxDir)
    }
    val (asgStats, asgSecs) = time {
      graft.pipeline.Dedup.queries("q_dedup_assign")(spark, idxDir)
        .agg(count(lit(1)),
          sum(when($"verdict" === "reject_dup", 1L).otherwise(0L)))
        .as[(Long, Long)].head()
    }
    spark.catalog.clearCache()
    assert(asgStats._1 == nIdxDocs / 2, s"arrival count broke: $asgStats")
    // the 4/8-agreement banding must recover nearly all planted copies;
    // random pairs must not flood the verdicts
    assert(asgStats._2 >= nIdxDocs / 100 * 8 / 10 &&
      asgStats._2 <= nIdxDocs / 100 * 3 / 2,
      s"planted-copy rejects off: ${asgStats._2} of expected ~${nIdxDocs / 100}")
    println(f"""{"probe":"dedup_assign","corpus":${nIdxDocs / 2},"arrivals":${nIdxDocs / 2},"rejects":${asgStats._2},"build_secs":$mhBuildSecs%.1f,"serve_secs":$asgSecs%.1f,"arrivals_per_sec":${(nIdxDocs / 2 / asgSecs).toLong}}""")

    // ---- Index MERGE cost ∝ arrivals at the same 1M-doc corpus (r12): ----
    // fold a 10k-doc batch into the 500k-doc index and assert the merge
    // pays arrival-scale, not corpus-scale (the whole point of
    // mergeMinhashIndex vs a rebuild) — plus admission IDEMPOTENCE: the
    // same batch re-submitted against the MERGED index is fully rejected
    // (it is known content now), while the pre-merge index admits it.
    val nMergeDocs = 10000L
    val mergeArrivals = spark.range(nIdxDocs + 1, nIdxDocs + 2 * nMergeDocs, 2)
      .select($"id".as("doc_id"), concat_ws(" ",
        (0 until 50).map(j =>
          concat(lit("m"), pmod(xxhash64($"id" * 59 + j), lit(5000L)))): _*)
        .as("text"))
    val (_, ixBuildSecs) = time {
      graft.pipeline.Dedup.writeMinhashIndex(spark, idxDir, s"$idxDir/ix")
    }
    val (preAdmit, _) = time {
      val (s0, b0) = graft.pipeline.Dedup.openMinhashIndex(spark, s"$idxDir/ix")
      graft.pipeline.Dedup.assignOf(mergeArrivals, s0, b0)
        .filter($"verdict" === "admit").count()
    }
    assert(preAdmit == nMergeDocs,
      s"fresh-vocabulary batch should be fully admitted, got $preAdmit")
    val (_, mergeSecs) = time {
      graft.pipeline.Dedup.mergeMinhashIndex(
        mergeArrivals, s"$idxDir/ix", s"$idxDir/ix2")
    }
    // the alternative merge replaces: a from-scratch rebuild on the union
    // (re-hashes the 500k-doc corpus text to fold 10k docs in)
    val (_, rebuildSecs) = time {
      graft.pipeline.Dedup.writeMinhashIndexOf(
        graft.sources.Tables.table(spark, idxDir, "documents")
          .filter($"doc_id" % 2 === 0).select($"doc_id", $"text")
          .unionByName(mergeArrivals),
        s"$idxDir/ix3")
    }
    val (postReject, postSecs) = time {
      val (s1, b1) = graft.pipeline.Dedup.openMinhashIndex(spark, s"$idxDir/ix2")
      graft.pipeline.Dedup.assignOf(mergeArrivals, s1, b1)
        .filter($"verdict" === "reject_dup").count()
    }
    spark.catalog.clearCache()
    assert(postReject == nMergeDocs,
      s"merged index must reject all re-submitted content, got $postReject")
    // wall-clock comparison of two timed Spark jobs on a possibly loaded
    // box — asserted with slack (r12 ADVICE: a strict < raced spuriously);
    // the HARD checks are the row-count asserts above/below, the slack
    // assert only catches a merge that degenerated to corpus-scale work
    assert(mergeSecs < rebuildSecs * 1.5,
      f"merge must be at worst comparable to the union rebuild it " +
        f"replaces: merge $mergeSecs%.1f s vs rebuild $rebuildSecs%.1f s")
    println(f"""{"probe":"dedup_index_merge","corpus":${nIdxDocs / 2},"merged_in":$nMergeDocs,"build_secs":$ixBuildSecs%.1f,"merge_secs":$mergeSecs%.1f,"union_rebuild_secs":$rebuildSecs%.1f,"reassign_rejects":$postReject,"reassign_secs":$postSecs%.1f}""")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxDir))

    // ---- Component MERGE cost ∝ arrivals (r13): fold ~25k arrival ----
    // pairs into a FROZEN 1M-node component map (clusterMergeWithMap's
    // contracted delta closure: relabel through the map, close only the
    // arrival-touched delta graph, re-root by one map join) vs re-closing
    // the ~925k-edge union from scratch. 100k 10-node even chains; every
    // 10th chain pair is welded by an odd bridge doc; 5k disjoint
    // odd-odd pairs form arrival-only clusters.
    val cmChains = 100000L
    val cmOld = spark.range(cmChains)
      .select($"id".as("c"), explode(sequence(lit(0L), lit(8L))).as("i"))
      .select(($"c" * 20 + $"i" * 2).as("doc_a"),
        ($"c" * 20 + $"i" * 2 + 2).as("doc_b"))
    val cmBridge = spark.range(0, cmChains - 1, 10).select($"id".as("c"))
    val cmNew = cmBridge
      .select(($"c" * 20 + 19).as("doc_a"), ($"c" * 20 + 18).as("doc_b"))
      .unionByName(cmBridge
        .select(($"c" * 20 + 19).as("doc_a"), (($"c" + 1) * 20).as("doc_b")))
      .unionByName(spark.range(5000).select(
        ($"id" * 4 + 4000001L).as("doc_a"), ($"id" * 4 + 4000003L).as("doc_b")))
    val cmAll = graft.Caches.materialize(cmOld.unionByName(cmNew))
    // the frozen map is the persisted artifact analog — built once,
    // untimed for the merge measurement
    val ((cmFrozen, cmMapRows), cmMapSecs) = time {
      val m = graft.Caches.materialize(graft.pipeline.Components
        .connectedComponents(cmOld.toDF("a", "b")))
      (m, m.count())
    }
    val (cmMergedCnt, cmMergeSecs) = time {
      graft.pipeline.Dedup.clusterMergeWithMap(cmAll, cmFrozen).count()
    }
    val (cmFullCnt, cmRebuildSecs) = time {
      graft.pipeline.Components.connectedComponents(cmAll.toDF("a", "b")).count()
    }
    // HARD check: the merge path's map is exactly the from-scratch union
    // closure — every node, every root
    val cmMerged = graft.pipeline.Dedup.clusterMergeWithMap(cmAll, cmFrozen)
      .select($"doc_id".as("node"), $"cluster_id".as("root"))
    val cmFull = graft.pipeline.Components.connectedComponents(cmAll.toDF("a", "b"))
    val cmDiff = cmMerged.unionByName(cmFull).distinct().count() - cmFullCnt
    assert(cmDiff == 0L && cmMergedCnt == cmFullCnt,
      s"merge map must equal the union closure: diff=$cmDiff, " +
        s"merged=$cmMergedCnt, full=$cmFullCnt")
    // wall-clock with slack (the r12 ADVICE convention) — the hard checks
    // are the equality asserts; this catches a merge that degenerated to
    // corpus-scale closure work
    assert(cmMergeSecs < cmRebuildSecs * 1.5,
      f"delta merge must be at worst comparable to the union re-closure: " +
        f"merge $cmMergeSecs%.1f s vs rebuild $cmRebuildSecs%.1f s")
    println(f"""{"probe":"dedup_cluster_merge","nodes":$cmMapRows,"arrival_pairs":25000,"map_build_secs":$cmMapSecs%.1f,"merge_secs":$cmMergeSecs%.1f,"union_reclose_secs":$cmRebuildSecs%.1f,"rows":$cmMergedCnt}""")

    // ---- CHAINED component-map folds (r13 verdict #6): the same 25k
    // arrival pairs split into two sequential batches folded through the
    // intermediate map (mergeComponentMap — map in, map out), so the
    // per-fold cost stays ∝ batch even as folds accumulate. HARD check:
    // the chained map equals the one-shot 3-way union closure exactly.
    val (cmB1, cmB2) = {
      val marked = cmNew.withColumn(
        "h", pmod(xxhash64($"doc_a", $"doc_b"), lit(2L)))
      (graft.Caches.materialize(marked.filter($"h" === 0).drop("h")),
        graft.Caches.materialize(marked.filter($"h" === 1).drop("h")))
    }
    val (cmChainCnt, cmChainSecs) = time {
      val m1 = graft.Caches.materialize(
        graft.pipeline.Dedup.mergeComponentMap(cmFrozen, cmB1))
      graft.pipeline.Dedup.mergeComponentMap(m1, cmB2).count()
    }
    val cmChained = {
      val m1 = graft.Caches.materialize(
        graft.pipeline.Dedup.mergeComponentMap(cmFrozen, cmB1))
      graft.pipeline.Dedup.mergeComponentMap(m1, cmB2)
    }
    val cmChainDiff = cmChained.unionByName(cmFull).distinct().count() - cmFullCnt
    assert(cmChainDiff == 0L && cmChainCnt == cmFullCnt,
      s"chained folds must equal the union closure: diff=$cmChainDiff, " +
        s"chained=$cmChainCnt, full=$cmFullCnt")
    assert(cmChainSecs < cmRebuildSecs * 1.5,
      f"two chained folds must stay comparable to ONE union re-closure: " +
        f"chain $cmChainSecs%.1f s vs rebuild $cmRebuildSecs%.1f s")
    println(f"""{"probe":"dedup_cluster_merge_chain","nodes":$cmMapRows,"batches":2,"chain_secs":$cmChainSecs%.1f,"union_reclose_secs":$cmRebuildSecs%.1f,"rows":$cmChainCnt}""")
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

    // ---- pipelineFull END TO END at 1M documents (r11 verdict #4): the ----
    // seven composed stages had only been scale-probed individually; here
    // the whole declared q_pipeline_full plan runs at volume with every
    // drop class PLANTED (short docs, eval source, verbatim 8-token
    // contamination runs, first-word-changed near-dup copies, the 50%
    // salt), and the stage-wise row accounting is asserted against the
    // waterfall's attribution: Σ n_docs = corpus, Σ n_tokens = the
    // corpus's real token count, all seven stages hit, and 7_kept =
    // pipelineFull's output count (the waterfall ≡ pipeline contract
    // CurationSpec pins at fixture scale, now held at 1M).
    val nPfDocs = 1000000L
    val pfDir = java.nio.file.Files.createTempDirectory("graft-probe-pf").toString
    val pfBase = when(pmod($"id", lit(100L)) === 1, $"id" - 1).otherwise($"id")
    val pfWords = (0 until 30).map { j =>
      val seed = if (j == 0) $"id" else pfBase
      concat(lit("w"), pmod(xxhash64(seed * 53 + j), lit(5000L)))
    }
    val pfArr = array(pfWords: _*)
    val pfToks = when(pmod($"id", lit(97L)) === 3, slice(pfArr, 1, 10))
      .otherwise(pfArr)
    val pfRun = array((0 until 8).map(i => lit(s"c$i")): _*)
    val pfSource = when(pmod($"id", lit(101L)) === 5,
      lit(graft.pipeline.Curation.EvalSource))
      .otherwise(concat(lit("src"), pmod($"id", lit(4L)) + 1))
    spark.range(nPfDocs)
      .select($"id".as("doc_id"), pfSource.as("source"),
        concat_ws(" ",
          when(pmod($"id", lit(200L)) === 7 ||
              pmod($"id", lit(101L)) === 5,
            concat(pfToks, pfRun)).otherwise(pfToks)).as("text"))
      .write.mode("overwrite").parquet(s"$pfDir/documents.parquet")
    val (pfKept, pfSecs) = time {
      graft.pipeline.Curation.pipelineFull(spark, pfDir).count()
    }
    Caches.clearAll(); spark.catalog.clearCache()
    val (wfRows, wfSecs) = time {
      graft.pipeline.Curation.pipelineWaterfall(spark, pfDir).collect()
    }
    Caches.clearAll(); spark.catalog.clearCache()
    val byStage = wfRows.map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byStage.keySet == Set("1_gate_short", "2_line_gate",
      "3_eval_excluded", "4_contaminated", "5_near_dup", "6_not_sampled",
      "7_kept"), s"stage set broke: ${byStage.keySet}")
    assert(byStage.values.map(_._1).sum == nPfDocs,
      s"attribution lost documents: ${byStage.values.map(_._1).sum}")
    // every doc_id < n with id % 97 == 3 is planted short, checked FIRST
    assert(byStage("1_gate_short")._1 == (nPfDocs - 1 - 3) / 97 + 1,
      s"short-stage count broke: ${byStage("1_gate_short")}")
    assert(byStage("7_kept")._1 == pfKept,
      s"waterfall 7_kept ${byStage("7_kept")._1} != pipelineFull $pfKept")
    val pfTotTok = spark.read.parquet(s"$pfDir/documents.parquet")
      .agg(sum(size(graft.pipeline.Hashing.tokens($"text")).cast("long")))
      .as[Long].head()
    assert(byStage.values.map(_._2).sum == pfTotTok,
      s"token accounting broke: ${byStage.values.map(_._2).sum} != $pfTotTok")
    println(f"""{"probe":"pipeline_full","docs":$nPfDocs,"kept":$pfKept,"stages":{${byStage.toSeq.sorted.map { case (k, (d, _)) => s""""$k":$d""" }.mkString(",")}},"secs":$pfSecs%.1f,"docs_per_sec":${(nPfDocs / pfSecs).toLong},"waterfall_secs":$wfSecs%.1f,"secs_include_artifact_build":true}""")

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pfDir))

    // ---- SUBSET signature serving (r15, re-cut r16): a gated ~86% ----
    // slice's near-dup pairs served from the snapshot signature artifact
    // (doc_id semi-join, zero re-hash) vs the inline re-hash spelling —
    // the measured form of the minhashPairsSubset claim, with EXACT pair
    // equality asserted distributed (symmetric difference must be empty,
    // never a sampled check). r16 honesty fixes (r15 ADVICE): the probe
    // runs in its OWN fresh dir — the r15 cut reused pfDir after
    // pipelineFull had already built its mhsigs artifact, so the timed
    // trainSigIndex found the signature half memoized and
    // artifact_build_secs under-counted the true build. And the probe now
    // measures BOTH document-size regimes: the r15 record at 1M 30-word
    // (~170 B) docs was break-even because minhashing a tiny doc costs
    // about what scanning its ~100 B signature row does; the KB-class
    // point is the regime the path exists for — the inline side pays per
    // TEXT byte, the served side still scans ~100 B of signature per doc.
    // slice modulus 7: the planted pairs are ((i−1), i) at i % 100 == 1,
    // so a %5 gate would remove EVERY left endpoint (multiples of 100) —
    // a %7 gate drops ~14% of docs while most planted pairs survive.
    def subsetSigsProbe(tag: String, nDocs: Long, wordsPerDoc: Int): Unit = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-probe-ss-$tag").toString
      val base = when(pmod($"id", lit(100L)) === 1, $"id" - 1).otherwise($"id")
      val words = (0 until wordsPerDoc).map { j =>
        val seed = if (j == 0) $"id" else base
        concat(lit("w"), pmod(xxhash64(seed * 53 + j), lit(5000L)))
      }
      spark.range(nDocs)
        .select($"id".as("doc_id"),
          concat_ws(" ", array(words: _*)).as("text"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val avgBytes = spark.read.parquet(s"$dir/documents.parquet")
        .agg(avg(length($"text"))).as[Double].head().toLong
      val slice = spark.read.parquet(s"$dir/documents.parquet")
        .filter($"doc_id" % 7 =!= 3)
      val (inline, inlineSecs) = time {
        val p = graft.pipeline.Dedup.minhashOf(spark, slice)
          .select($"doc_a", $"doc_b")
        val n = p.count(); (p, n)
      }
      val (_, buildSecs) = time {
        // one-per-snapshot artifact build (sigs + scored pairs), untimed
        // in the bench; a FULL build against a dir no other probe touched,
        // so the amortization claim has an honest number
        graft.pipeline.Dedup.trainSigIndex(spark, dir)
      }
      val (served, serveSecs) = time {
        val p = graft.pipeline.Dedup
          .minhashPairsSubset(spark, dir, slice.select($"doc_id"))
          .select($"doc_a", $"doc_b")
        val n = p.count(); (p, n)
      }
      assert(inline._2 == served._2 && inline._2 > 0,
        s"pair counts diverge ($tag): inline ${inline._2} vs served ${served._2}")
      assert(inline._1.exceptAll(served._1).count() == 0L &&
        served._1.exceptAll(inline._1).count() == 0L,
        s"artifact-served subset pairs must equal the inline re-hash ($tag)")
      Caches.clearAll(); spark.catalog.clearCache()
      println(f"""{"probe":"subset_sigs","doc_class":"$tag","docs":$nDocs,"avg_doc_bytes":$avgBytes,"slice_docs":${(nDocs * 6) / 7},"pairs":${inline._2},"inline_secs":$inlineSecs%.1f,"artifact_build_secs":$buildSecs%.1f,"served_secs":$serveSecs%.1f}""")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    subsetSigsProbe("tiny", 1000000L, 30) // the r15 regime: ~break-even
    subsetSigsProbe("kb", 150000L, 250)   // KB-class: the serving regime

    // ---- ASYNC ENRICHMENT pipelining at 200k lookups (r14): the ----
    // mapPartitions request pipeline must OVERLAP lookup latency across
    // `capacity` in-flight requests — serial row-by-row awaiting at a
    // 1 ms store RTT would take ≥ 200 s; the pipelined floor is
    // ~rows × rtt / (capacity × partitions). HARD checks: every row
    // enriched correctly (hot keys exercise the cache/coalescing path);
    // lenient wall-clock: ≥ 5× faster than the serial lower bound.
    val aeRows = 200000L
    val aeDim = (0L until 1000L).map(k => k -> s"v$k").toMap
    val aeIn = spark.range(aeRows)
      .select(pmod(xxhash64($"id"), lit(10000L)).as("k")).as[Long]
      .repartition(32)
    val ((aeHit, aeMiss), aeSecs) = time {
      val out = graft.operators.AsyncEnrich.enrich(
        aeIn, identity[Long],
        () => new graft.operators.AsyncEnrich.MapStoreClient(aeDim, delayMs = 1),
        capacity = 64, cacheSize = 2000)(
        (k, v) => (k, v.getOrElse("")))
      val agg = out.toDF("k", "v")
        .agg(sum(when($"v" =!= "", 1L).otherwise(0L)),
          sum(when($"v" === "", 1L).otherwise(0L))).collect()(0)
      (agg.getLong(0), agg.getLong(1))
    }
    // keys are xxhash64 mod 10000, dim covers 0..999: ~10% hits
    assert(aeHit + aeMiss == aeRows && aeHit > 0 && aeMiss > 0,
      s"enrichment lost rows: hit=$aeHit miss=$aeMiss")
    val aeSerialFloorSecs = aeRows * 0.001
    assert(aeSecs < aeSerialFloorSecs / 5.0,
      f"async pipeline must beat the serial RTT floor ≥5×: " +
        f"$aeSecs%.1f s vs serial $aeSerialFloorSecs%.0f s")
    println(f"""{"probe":"async_enrich","rows":$aeRows,"rtt_ms":1,"hits":$aeHit,"secs":$aeSecs%.1f,"rows_per_sec":${(aeRows / aeSecs).toLong},"serial_floor_secs":${aeSerialFloorSecs.toLong}}""")

    // ---- Classifier INCREMENTAL MERGE at 1M docs (r15): the fold's ----
    // cost must scale with the BATCH, not the corpus — the merge ≡
    // retrain contract at probe scale. Corpus: 1M synthetic labeled docs
    // (~14 tokens each, hashed vocab, ~half 'en'); counts materialized
    // once (the snapshot-artifact stand-in); a 10k arrival batch folds in
    // and the merged weights must EQUAL a full refit over the union —
    // asserted exactly, not sampled. The timing claim is the ratio:
    // fold ≪ refit (the refit re-reads 101× the batch's text).
    val clfDocs = 1000000L
    val clfBatch = 10000L
    def clfSynth(n: Long, off: Long) = spark.range(n).select(
      ($"id" + off).as("doc_id"),
      when(pmod(xxhash64($"id" + off), lit(2L)) === 0L, "en")
        .otherwise("de").as("lang"),
      concat_ws(" ", (0 until 14).map(j =>
        concat(lit("w"), pmod(xxhash64($"id" * 31 + off + j), lit(5000L)))): _*)
        .as("text"))
    val corpusC = clfSynth(clfDocs, 0L)
    val batchC = clfSynth(clfBatch, 10000000L)
    val (baseCounts, clfBaseSecs) = time {
      Caches.materialize(graft.pipeline.TextAnalysis.clfCountsOf(corpusC))
    }
    val (mergedW, clfFoldSecs) = time {
      graft.pipeline.TextAnalysis.fitWeightArrayOf(
        graft.pipeline.TextAnalysis.weightsOfCounts(
          graft.pipeline.TextAnalysis.mergeClfCounts(
            baseCounts, graft.pipeline.TextAnalysis.clfCountsOf(batchC))))
    }
    val (refitW, clfRefitSecs) = time {
      graft.pipeline.TextAnalysis.fitWeightArrayOf(
        graft.pipeline.TextAnalysis.classifierFitOf(
          corpusC.unionByName(batchC)))
    }
    Caches.clearAll(); spark.catalog.clearCache()
    assert(mergedW == refitW,
      "merged weights must equal the full refit over the union")
    assert(clfFoldSecs < clfRefitSecs,
      f"fold ($clfFoldSecs%.1f s) should beat the union refit ($clfRefitSecs%.1f s)")
    println(f"""{"probe":"clf_merge","corpus_docs":$clfDocs,"batch_docs":$clfBatch,"base_fit_secs":$clfBaseSecs%.1f,"fold_secs":$clfFoldSecs%.1f,"union_refit_secs":$clfRefitSecs%.1f,"speedup":${(clfRefitSecs / clfFoldSecs).round}}""")

    spark.stop()
  }
}

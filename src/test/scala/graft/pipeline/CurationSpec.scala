package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Structural invariants of the curation operators on the real sf0.001
  * corpus — properties the DuckDB oracle's value-hash can't articulate.
  */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("chunks tile each document: strides, sizes, exact reconstruction") {
    import spark.implicits._
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val chunks = TextAnalysis.chunk(spark, sf)
      .select($"doc_id", $"chunk_id", $"n_tok", $"chunk")
      .as[(Long, Int, Int, String)].collect()

    chunks.groupBy(_._1).foreach { case (docId, cs) =>
      val toks = docs(docId).split(" ").filter(_.nonEmpty)
      val sorted = cs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == sorted.indices.toSeq, s"doc $docId chunk ids")
      sorted.foreach { case (_, cid, nTok, chunk) =>
        val expect = toks.slice(cid * TextAnalysis.ChunkS,
          cid * TextAnalysis.ChunkS + TextAnalysis.ChunkN)
        assert(chunk == expect.mkString(" "), s"doc $docId chunk $cid content")
        assert(nTok == expect.length)
      }
      // full coverage: the last chunk reaches the end of the document
      val (_, lastCid, lastN, _) = sorted.last
      assert(lastCid * TextAnalysis.ChunkS + lastN == toks.length,
        s"doc $docId not fully covered")
    }
  }

  test("packing is a monotone tiling of the global token stream") {
    import spark.implicits._
    val rows = Curation.pack(spark, sf)
      .select($"doc_id", $"chunk_id", $"pack_id", $"n_tok")
      .as[(Long, Int, Long, Int)].collect()
      .sortBy(r => (r._1, r._2))
    // pack_id must equal floor(running-token-offset / budget) — recompute
    // serially and compare (the operator computes it via two-phase prefix)
    var cum = 0L
    rows.foreach { case (d, c, packId, nTok) =>
      assert(packId == cum / Curation.PackBudget, s"chunk ($d,$c)")
      cum += nTok
    }
    // monotone, starts at 0, no gaps
    val ids = rows.map(_._3)
    assert(ids.head == 0L && ids.zip(ids.tail).forall { case (a, b) => b == a || b == a + 1 })
  }

  test("hierarchical prefixOffsets ≡ serial exclusive prefix sum (multi-tier)") {
    import spark.implicits._
    // fanout 4 over 1000 sparse keys forces REAL work at every tier:
    // 1000 → 250 → 63 rows at the base window (levels = 2)
    val rnd = new scala.util.Random(11)
    val totals = (0 until 1000)
      .map(i => (i.toLong * 3 + rnd.nextInt(2), rnd.nextInt(50).toLong))
      .groupBy(_._1).map { case (g, ts) => (g, ts.map(_._2).sum) }.toSeq
    val df = totals.toDF("g", "tot").repartition(8)
    val got = Curation.prefixOffsets(df, levels = 2, fanout = 4)
      .as[(Long, Long)].collect().toMap
    var acc = 0L
    totals.sortBy(_._1).foreach { case (g, tot) =>
      assert(got(g) == acc, s"g=$g")
      acc += tot
    }
    assert(got.size == totals.size)
  }

  test("stratified sample: exact quota per populated stratum, stable re-run") {
    import spark.implicits._
    val out = Sampling.stratified(spark, sf)
    val perSrc = out.groupBy($"source").count()
      .as[(String, Long)].collect().toMap
    assert(perSrc.values.forall(_ <= Sampling.Quota))
    // sf0.001 has 25 docs/source — every stratum is full, quota must bite
    assert(perSrc.values.forall(_ == Sampling.Quota), perSrc.toString)
    val again = Sampling.stratified(spark, sf).collect().map(_.toString).sorted
    assert(again.sameElements(out.collect().map(_.toString).sorted))
  }

  test("length stats: approx scale path within t-digest rank bounds at sf0.1") {
    import spark.implicits._
    // the documented swap-in for strata too large to sort, asserted by the
    // sketch's own guarantee: relative rank error ≤ 1/Accuracy, so each
    // approx quantile must be an element whose rank lies within
    // p·n ± (n/Accuracy + 1) of the target — checked against the fully
    // sorted per-source values at the bench scale factor
    val sf01 = "/root/testdata/sf0.1"
    val approx = TextAnalysis.lengthStatsApprox(spark, sf01)
      .select($"source", $"n_docs", $"min_chars", $"max_chars",
        $"p50_chars", $"p90_chars")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(approx.nonEmpty)
    val bySource = graft.sources.Tables.table(spark, sf01, "documents")
      .select($"source", $"n_chars").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    approx.foreach { case (src, nDocs, mn, mx, a50, a90) =>
      val vals = bySource(src)
      val n = vals.length
      assert(nDocs == n && mn == vals.head && mx == vals.last, src)
      val slack = n / TextAnalysis.ApproxAccuracy + 1
      for ((p, a) <- Seq(0.5 -> a50, 0.9 -> a90)) {
        val target = (p * n).toInt
        val lo = vals((target - slack).max(0).min(n - 1))
        val hi = vals((target + slack).max(0).min(n - 1))
        assert(a >= lo && a <= hi,
          s"$src p$p approx $a outside rank window [$lo, $hi] (n=$n)")
      }
    }
  }

  test("vocab stats: HLL approx within relative-error bounds of the exact counts at sf0.1") {
    import spark.implicits._
    val sf01 = "/root/testdata/sf0.1"
    val exact = TextAnalysis.vocab(spark, sf01)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val approx = TextAnalysis.vocabApprox(spark, sf01)
      .as[(String, Long, Long)].collect()
    assert(approx.nonEmpty && approx.length == exact.size)
    approx.foreach { case (src, nSh, nApprox) =>
      val (nShExact, nExact) = exact(src)
      assert(nSh == nShExact, src) // the plain count must be exact
      // HLL++ rsd is a standard deviation, not a hard bound: allow 5 sigma
      val tol = 5 * TextAnalysis.VocabRsd * nExact
      assert(math.abs(nApprox - nExact) <= tol,
        s"$src approx $nApprox vs exact $nExact (tol $tol)")
    }
  }

  test("decontamination flags exactly the docs sharing an eval shingle") {
    import spark.implicits._
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select($"doc_id", $"source", $"text")
      .as[(Long, String, String)].collect()
    def shingles(t: String): Set[String] = {
      val w = t.split(" ").filter(_.nonEmpty)
      if (w.length < 3) Set.empty
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val evalSh = docs.filter(_._2 == Curation.EvalSource)
      .flatMap(d => shingles(d._3)).toSet
    val expected = docs.filter(_._2 != Curation.EvalSource)
      .map(d => d._1 -> (shingles(d._3) & evalSh).size)
      .filter(_._2 > 0).toMap
    val got = Curation.decontaminate(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(got.view.mapValues(_.toInt).toMap == expected)
  }

  test("winnow decontamination: the W+K-1 guarantee catches a planted verbatim passage") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // eval doc 1 contains a 10-token passage (≥ W+K−1 = 7: the winnowing
    // guarantee applies); doc 100 copies it verbatim inside unrelated text
    // → MUST share ≥1 fingerprint. Doc 200 shares nothing that long.
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, Curation.EvalSource, s"held out benchmark $passage end of prompt"),
      (100L, "web", s"scraped page begins here $passage and then rambles on"),
      (200L, "web", "totally unrelated words that never echo the benchmark"))
      .toDF("doc_id", "source", "text")
    docs.createOrReplaceTempView("winnow_fixture_docs")
    val ev = graft.pipeline.Winnowing
      .winnowFpOf(docs.filter($"source" === Curation.EvalSource))
      .select($"fp").distinct()
    val flagged = graft.pipeline.Winnowing
      .winnowFpOf(docs.filter($"source" =!= Curation.EvalSource))
      .select($"doc_id", $"fp").distinct()
      .join(broadcast(ev), "fp")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
      .as[(Long, Long)].collect().toMap
    assert(flagged.contains(100L) && flagged(100L) >= 1)
    assert(!flagged.contains(200L))
  }

  test("waterfall: full coverage, and 7_kept == the pipelineFull doc set") {
    val sf = "/root/testdata/sf0.001"
    val wf = Curation.pipelineWaterfall(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every document is attributed to exactly one stage
    val total = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(wf.values.map(_._1).sum == total, wf.toString)
    // the survivors ARE pipelineFull's documents (same populations by
    // construction — this pins it)
    val kept = Curation.pipelineFull(spark, sf)
      .select("doc_id").distinct().count()
    assert(wf("7_kept")._1 == kept, s"waterfall ${wf.get("7_kept")} vs full $kept")
    // attrition is real on this corpus: at least gate, line-gate, near-dup,
    // sample and kept stages are populated
    assert(Seq("1_gate_short", "2_line_gate", "5_near_dup", "6_not_sampled",
      "7_kept").forall(wf.contains), wf.keySet.toString)
  }

  test("eval-shingle artifact serves the inline build's exact set (r16)") {
    import spark.implicits._
    // the persisted "evalsh" artifact (arrivalArtifacts' served table) must
    // be bit-identical to the reference inline spelling — the parity that
    // makes moving the build out of the timed region an optimization, not
    // a semantic change
    val (served, _, _) = Curation.arrivalArtifacts(spark, sf)
    val inline = Curation.buildEvalShingles(spark, sf)
    assert(served.as[String].collect().sorted.toSeq ==
      inline.as[String].collect().sorted.toSeq)
    assert(served.count() > 0)
  }

  test("planted drop classes: the waterfall fills all seven stages, counts " +
    "the planted short docs exactly and accounts every token") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = 3000L
    val dir = java.nio.file.Files.createTempDirectory("curation_planted").toString
    try {
      // 30-word near-copy corpus (PlantedDocs); on top: docs with
      // id % 97 == 3 cut to 10 tokens (short), id % 101 == 5 from the eval
      // source, and an 8-token run appended to the eval docs and to
      // id % 200 == 7 (contaminated)
      val ws = PlantedDocs(spark, n, words = 30)
        .select($"doc_id", split($"text", " ").as("w"))
      val toks = when(pmod($"doc_id", lit(97L)) === 3, slice($"w", 1, 10))
        .otherwise($"w")
      val run = array((0 until 8).map(i => lit(s"c$i")): _*)
      val evalDoc = pmod($"doc_id", lit(101L)) === 5
      ws.select($"doc_id",
          when(evalDoc, lit(Curation.EvalSource))
            .otherwise(concat(lit("src"), pmod($"doc_id", lit(4L)) + 1)).as("source"),
          concat_ws(" ",
            when(pmod($"doc_id", lit(200L)) === 7 || evalDoc, concat(toks, run))
              .otherwise(toks)).as("text"))
        .write.parquet(s"$dir/documents.parquet")
      val kept = Curation.pipelineFull(spark, dir).count()
      val wf = Curation.pipelineWaterfall(spark, dir).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(wf.keySet == Set("1_gate_short", "2_line_gate", "3_eval_excluded",
        "4_contaminated", "5_near_dup", "6_not_sampled", "7_kept"), wf.toString)
      assert(wf.values.map(_._1).sum == n)
      assert(wf("1_gate_short")._1 == (n - 1 - 3) / 97 + 1, wf.toString)
      assert(wf("7_kept")._1 == kept, s"waterfall ${wf("7_kept")} vs full $kept")
      val tokens = spark.read.parquet(s"$dir/documents.parquet")
        .agg(sum(size(Hashing.tokens($"text"))).cast("long")).as[Long].head()
      assert(wf.values.map(_._2).sum == tokens, wf.toString)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}

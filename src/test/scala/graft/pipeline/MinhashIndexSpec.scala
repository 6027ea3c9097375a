package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The persisted-MinHash-index contract (the dedup twin of IvfIndexSpec):
  * an admission check served from the parquet-persisted signature/band
  * index must be bit-identical to one served from inline signature
  * computation, the serving plan must contain ZERO corpus signature
  * replay (no minhash expression over the corpus side — two parquet
  * scans only), and the registry must be STALENESS-KEYED: mutating the
  * source table rebuilds the index instead of silently serving the old
  * snapshot's artifact.
  */
class MinhashIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("assign from the persisted index == inline signatures; no corpus replay") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mh_index").toString
    try {
      Dedup.writeMinhashIndex(spark, sf, dir)
      val (ixSigs, ixBands) = Dedup.openMinhashIndex(spark, dir)
      val arrivals = graft.sources.Tables.table(spark, sf, "documents")
        .filter($"doc_id" % 2 === 1)
      val served = Dedup.assignOf(arrivals, ixSigs, ixBands)
        .orderBy($"doc_id").collect().map(_.toString).toSeq
      assert(served.nonEmpty)
      // inline twin: the same assignment with corpus signatures and bands
      // computed in-plan instead of read from the artifact
      val corpus = graft.sources.Tables.table(spark, sf, "documents")
        .filter($"doc_id" % 2 === 0)
      val sg = Dedup.sigsOf(corpus)
      val inline = Dedup.assignOf(arrivals, sg, Dedup.bandsOf(sg))
        .orderBy($"doc_id").collect().map(_.toString).toSeq
      assert(served == inline,
        "index-served admission must be bit-identical to inline signatures")
      // and both must equal the registry-served declared query
      val declared = Dedup.assign(spark, sf).collect().map(_.toString).toSeq
      assert(declared == served)
      // zero corpus signature replay: exactly ONE rot_minhash site in the
      // serving plan — the batch-sized arrival side; the corpus side is
      // parquet scans of the index artifact
      val plan = Dedup.assignOf(arrivals, ixSigs, ixBands)
        .queryExecution.optimizedPlan.toString
      // the cached arrival projection prints once per reference; distinct
      // lines pin ONE unique signature site (the arrival side)
      val sigSites = plan.split("\n")
        .flatMap(l => "rot_minhash.*".r.findFirstIn(l)).toSet
      assert(sigSites.size == 1,
        s"exactly one (arrival-side) signature site expected, got ${sigSites.size} in:\n$plan")
      val ixScans = plan.split("\n").count(l =>
        l.contains("Relation") && l.contains("parquet"))
      assert(ixScans >= 2, s"expected index parquet scans in:\n$plan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("index refresh: out-of-distribution arrivals flip the verdict to rebuild") {
    import spark.implicits._
    val (ixSigs, ixBands) = Dedup.minhashIndex(spark, sf)
    // in-distribution: verbatim copies of indexed corpus docs — every band
    // key is in the index, novelty 0, verdict keep (and all rejected)
    val corpusCopy = graft.sources.Tables.table(spark, sf, "documents")
      .filter($"doc_id" % 2 === 0).limit(20)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        lit("known").as("source"), $"text")
    val keep = Dedup.dedupIndexRefreshOf(corpusCopy, ixSigs, ixBands).collect()
    assert(keep.length == 1 && keep.head.getString(4) == "keep"
      && keep.head.getLong(3) == 0L && keep.head.getLong(2) == 20L,
      s"verbatim copies should be all-reject / zero-novelty keep: ${keep.toSeq}")
    // out-of-distribution: vocabulary the index never saw — every band key
    // missing, novelty 10000 bp, verdict rebuild
    val alien = (1 to 20).map(i =>
      (2000000L + i, "alien", s"zqx$i vbn$i plm$i wry$i kdf$i hjt$i gps$i " +
        s"mzv$i qwe$i rty$i uio$i asd$i fgh$i jkl$i zxc$i"))
      .toDF("doc_id", "source", "text")
    val rebuild = Dedup.dedupIndexRefreshOf(alien, ixSigs, ixBands).collect()
    assert(rebuild.length == 1 && rebuild.head.getString(4) == "rebuild"
      && rebuild.head.getLong(3) == 10000L,
      s"alien arrivals should be full-novelty rebuild: ${rebuild.toSeq}")
  }

  test("merge ≡ from-scratch build on the union: artifact contents AND serving") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("mh_merge").toString
    try {
      val docs = graft.sources.Tables.table(spark, sf, "documents")
      val corpusA = docs.filter($"doc_id" % 4 === 0)
      val batchB = docs.filter($"doc_id" % 4 === 2)
      val serveC = docs.filter($"doc_id" % 2 === 1)
      // incremental path: build on A, merge B in
      Dedup.writeMinhashIndexOf(corpusA, s"$root/base")
      Dedup.mergeMinhashIndex(batchB, s"$root/base", s"$root/merged")
      // from-scratch path: one build on A ∪ B
      Dedup.writeMinhashIndexOf(corpusA.unionByName(batchB), s"$root/full")
      def dump(path: String): (Seq[String], Seq[String]) = {
        val (sg, bd) = Dedup.openMinhashIndex(spark, path)
        (sg.orderBy($"doc_id").collect().map(_.toString).toSeq,
          bd.orderBy($"doc_id", $"band").collect().map(_.toString).toSeq)
      }
      val (mSigs, mBands) = dump(s"$root/merged")
      val (fSigs, fBands) = dump(s"$root/full")
      assert(mSigs == fSigs, "merged sigs must equal a from-scratch build")
      assert(mBands == fBands,
        "merged serving bands must equal a from-scratch build")
      // and serving an arrival batch from either artifact is bit-identical
      val (ms, mb) = Dedup.openMinhashIndex(spark, s"$root/merged")
      val (fs, fb) = Dedup.openMinhashIndex(spark, s"$root/full")
      val servedM = Dedup.assignOf(serveC, ms, mb)
        .orderBy($"doc_id").collect().map(_.toString).toSeq
      val servedF = Dedup.assignOf(serveC, fs, fb)
        .orderBy($"doc_id").collect().map(_.toString).toSeq
      assert(servedM.nonEmpty && servedM == servedF)
      // old artifact untouched and still serving (immutable segments)
      val (bs, bb) = Dedup.openMinhashIndex(spark, s"$root/base")
      assert(Dedup.assignOf(serveC, bs, bb).count() == serveC.count())
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("a bucket crossing MaxBucket only AFTER the merge drops the old " +
    "segment's rows too (count-merge guard)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("mh_hot").toString
    try {
      // identical text ⟹ identical signature ⟹ one band bucket per band;
      // 150 docs in the base (≤ MaxBucket=200, kept), 100 more in the
      // merge batch (250 > 200 on the union, all four buckets now hot)
      val mk = (ids: Range) => ids.map(i =>
        (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text")
      Dedup.writeMinhashIndexOf(mk(0 until 150), s"$root/base")
      val (_, baseBands) = Dedup.openMinhashIndex(spark, s"$root/base")
      assert(baseBands.count() == 150L * Dedup.Bands,
        "below the cap, every band row serves")
      Dedup.mergeMinhashIndex(mk(1000 until 1100), s"$root/base", s"$root/m")
      val (mSigs, mBands) = Dedup.openMinhashIndex(spark, s"$root/m")
      assert(mSigs.count() == 250L, "sigs are never hot-dropped")
      assert(mBands.count() == 0L,
        "the union count exceeds MaxBucket, so the bucket's rows — " +
          "including the base segment's 150 — must stop serving")
      // from-scratch twin agrees
      Dedup.writeMinhashIndexOf(mk(0 until 150).unionByName(mk(1000 until 1100)),
        s"$root/full")
      val (_, fBands) = Dedup.openMinhashIndex(spark, s"$root/full")
      assert(fBands.count() == 0L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("pair-graph serving from the scored-pair artifact: indexed " +
    "pairs ≡ inline pairs; zero signature, band-join or verify sites " +
    "in the served plan (r13 verdict #1)") {
    import spark.implicits._
    val indexed = Dedup.minhashPairsIndexed(spark, sf)
    val inline = Dedup.minhashPairs(spark,
      graft.sources.Tables.table(spark, sf, "documents"))
    val a = indexed.orderBy($"doc_a", $"doc_b").collect().map(_.toString).toSeq
    val b = inline.orderBy($"doc_a", $"doc_b").collect().map(_.toString).toSeq
    assert(a.nonEmpty && a == b,
      "artifact-served pairs must be bit-identical to inline signatures")
    // the whole point: the corpus is neither re-hashed NOR re-paired — no
    // signature expression, no (band, key) self-join, no zip_with verify
    // anywhere in the served plan: ONE filtered parquet scan of the
    // artifact, with the threshold pushed down
    val plan = indexed.queryExecution.optimizedPlan.toString
    for (tok <- Seq("rot_minhash", "zip_with", "band"))
      assert(!plan.contains(tok),
        s"no '$tok' site may appear in the served plan:\n$plan")
    val pushed = indexed.queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters") &&
      pushed.contains("GreaterThanOrEqual(matches,4)"),
      s"the >=4 threshold must push down to the artifact scan:\n$pushed")
    // the frontier sweep serves from the same UNFILTERED scan: every
    // banded candidate's agreement count, nothing recomputed
    val frontier = Dedup.thresholdFrontier(spark, sf)
    val fplan = frontier.queryExecution.optimizedPlan.toString
    for (tok <- Seq("rot_minhash", "zip_with"))
      assert(!fplan.contains(tok),
        s"no '$tok' site may appear in the frontier plan:\n$fplan")
  }

  test("subset serving from the signature artifact: minhashPairsSubset " +
    "on a filtered slice ≡ inline signatures on the same slice; zero " +
    "hashing sites in the served plan (r15)") {
    import spark.implicits._
    // a gate-shaped slice (drop a doc-id stripe): signatures are per-doc
    // pure, so the artifact semi-join must reproduce the inline run —
    // including the hot-bucket guard evaluated on the SLICE's band table
    val slice = graft.sources.Tables.table(spark, sf, "documents")
      .filter($"doc_id" % 3 =!= 1)
    val sub = Dedup.minhashPairsSubset(spark, sf, slice.select($"doc_id"))
    val inline = Dedup.minhashPairs(spark, slice)
    val a = sub.orderBy($"doc_a", $"doc_b").collect().map(_.toString).toSeq
    val b = inline.orderBy($"doc_a", $"doc_b").collect().map(_.toString).toSeq
    assert(a.nonEmpty && a == b,
      "subset pairs served from the signature artifact must be " +
        "bit-identical to inline signatures on the slice")
    // the slice is never re-hashed: no tokenize/shingle/minhash site in
    // the served plan (the band join and guard DO run — on artifact rows)
    val plan = sub.queryExecution.optimizedPlan.toString
    for (tok <- Seq("rot_minhash", "shingle_md5"))
      assert(!plan.contains(tok),
        s"no '$tok' site may appear in the subset-served plan:\n$plan")
  }

  test("subset serving recovers CORPUS-HOT, SLICE-COLD buckets through " +
    "the persisted hot list (r16 residual path): slice pairs ≡ inline") {
    import spark.implicits._
    // a corpus whose duplicate family exceeds MaxBucket: every band
    // bucket of the family is hot at corpus level, so the scored-pair
    // artifact holds NO pairs for it — but a slice under the cap must
    // still pair them (the population-relative guard), which only the
    // residual path can serve
    val data = java.nio.file.Files.createTempDirectory("mh_hotslice").toString
    try {
      val n = Dedup.MaxBucket + 50
      val fam = (0 until n).map(i =>
        (i.toLong, "alpha beta gamma delta epsilon zeta eta theta"))
      val singles = (0 until 20).map(i =>
        (1000L + i, s"solo$i text$i unique$i gram$i run$i word$i tok$i end$i"))
      (fam ++ singles).toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$data/documents.parquet")
      // slice: 60 family members (< MaxBucket) + all singles
      val slice = graft.sources.Tables.table(spark, data, "documents")
        .filter($"doc_id" < 60 || $"doc_id" >= 1000L)
      val sub = Dedup.minhashPairsSubset(spark, data, slice.select($"doc_id"))
      val inline = Dedup.minhashPairs(spark, slice)
      val a = sub.orderBy($"doc_a", $"doc_b").collect().map(_.toString).toSeq
      val b = inline.orderBy($"doc_a", $"doc_b").collect().map(_.toString).toSeq
      assert(a.size == 60 * 59 / 2,
        s"the slice-cold family must pair fully, got ${a.size}")
      assert(a == b,
        "residual-path slice pairs must be bit-identical to inline")
      // and the FULL corpus (slice = everything) still drops the hot
      // family everywhere, artifact and inline agreeing
      val all = graft.sources.Tables.table(spark, data, "documents")
      val subAll = Dedup.minhashPairsSubset(spark, data, all.select($"doc_id"))
        .orderBy($"doc_a", $"doc_b").collect().map(_.toString).toSeq
      val inlAll = Dedup.minhashPairs(spark, all)
        .orderBy($"doc_a", $"doc_b").collect().map(_.toString).toSeq
      assert(subAll == inlAll,
        "full-population serving must still match inline (hot stays hot)")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(data))
    }
  }

  test("merge-of-merge: two sequential arrival batches ≡ one from-scratch " +
    "build on the 3-way union (r12 verdict #4)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("mh_mseq").toString
    try {
      val docs = graft.sources.Tables.table(spark, sf, "documents")
      val corpusA = docs.filter($"doc_id" % 4 === 0)
      val batchB = docs.filter($"doc_id" % 8 === 2)
      val batchC = docs.filter($"doc_id" % 8 === 6)
      val serveD = docs.filter($"doc_id" % 2 === 1)
      // sequential path: build on A, merge B, then merge C into THAT
      Dedup.writeMinhashIndexOf(corpusA, s"$root/base")
      Dedup.mergeMinhashIndex(batchB, s"$root/base", s"$root/m1")
      Dedup.mergeMinhashIndex(batchC, s"$root/m1", s"$root/m2")
      // from-scratch twin on A ∪ B ∪ C
      Dedup.writeMinhashIndexOf(
        corpusA.unionByName(batchB).unionByName(batchC), s"$root/full")
      def dump(path: String): Seq[String] = {
        val (sg, bd) = Dedup.openMinhashIndex(spark, path)
        (sg.orderBy($"doc_id").collect() ++
          bd.orderBy($"doc_id", $"band").collect()).map(_.toString).toSeq
      }
      assert(dump(s"$root/m2") == dump(s"$root/full"),
        "sequential merges must serve exactly a from-scratch 3-way build")
      val (ms, mb) = Dedup.openMinhashIndex(spark, s"$root/m2")
      val (fs2, fb2) = Dedup.openMinhashIndex(spark, s"$root/full")
      val servedM = Dedup.assignOf(serveD, ms, mb)
        .orderBy($"doc_id").collect().map(_.toString).toSeq
      val servedF = Dedup.assignOf(serveD, fs2, fb2)
        .orderBy($"doc_id").collect().map(_.toString).toSeq
      assert(servedM.nonEmpty && servedM == servedF)
      // the intermediate artifact is untouched by the second merge
      assert(IndexArtifact.readManifest(spark, s"$root/m1").length == 2)
      assert(IndexArtifact.readManifest(spark, s"$root/m2").length == 3)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("auto-compact policy: a merge that would exceed the segment budget " +
    "compacts into one self-contained segment, serving unchanged") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("mh_auto").toString
    try {
      val docs = graft.sources.Tables.table(spark, sf, "documents")
      val corpusA = docs.filter($"doc_id" % 4 === 0)
      val batchB = docs.filter($"doc_id" % 8 === 2)
      val batchC = docs.filter($"doc_id" % 8 === 6)
      Dedup.writeMinhashIndexOf(corpusA, s"$root/base")
      // budget 2: first merge stays under (2 segments, plain append) …
      Dedup.mergeMinhashIndexCompacting(batchB, s"$root/base", s"$root/m1",
        budget = 2)
      assert(IndexArtifact.readManifest(spark, s"$root/m1").length == 2,
        "below budget the merge must append, not compact")
      // … the second would reach 3 > 2, so the policy compacts in-publish
      Dedup.mergeMinhashIndexCompacting(batchC, s"$root/m1", s"$root/m2",
        budget = 2)
      assert(IndexArtifact.readManifest(spark, s"$root/m2").length == 1,
        "over budget the merge must land compacted")
      assert(!new java.io.File(s"$root/m2-staging").exists(),
        "the staging tier must be deleted after compaction")
      // compacted serving ≡ from-scratch 3-way union build
      Dedup.writeMinhashIndexOf(
        corpusA.unionByName(batchB).unionByName(batchC), s"$root/full")
      def dump(path: String): Seq[String] = {
        val (sg, bd) = Dedup.openMinhashIndex(spark, path)
        (sg.orderBy($"doc_id").collect() ++
          bd.orderBy($"doc_id", $"band").collect()).map(_.toString).toSeq
      }
      assert(dump(s"$root/m2") == dump(s"$root/full"))
      // and the auto-compacted artifact is self-contained: survives a move
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$root/m2"),
        java.nio.file.Paths.get(s"$root/moved"))
      assert(dump(s"$root/moved") == dump(s"$root/full"),
        "an auto-compacted artifact must be relocatable")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("compaction: one self-contained relocatable segment, serving " +
    "bit-identical to the merged artifact") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("mh_compact").toString
    try {
      val docs = graft.sources.Tables.table(spark, sf, "documents")
      Dedup.writeMinhashIndexOf(docs.filter($"doc_id" % 4 === 0), s"$root/base")
      Dedup.mergeMinhashIndex(docs.filter($"doc_id" % 4 === 2),
        s"$root/base", s"$root/merged")
      Dedup.compactMinhashIndex(spark, s"$root/merged", s"$root/compact")
      def dump(path: String): Seq[String] = {
        val (sg, bd) = Dedup.openMinhashIndex(spark, path)
        (sg.orderBy($"doc_id").collect() ++
          bd.orderBy($"doc_id", $"band").collect()).map(_.toString).toSeq
      }
      assert(dump(s"$root/compact") == dump(s"$root/merged"),
        "compaction must not change what the index serves")
      // self-contained: the whole artifact survives a MOVE (the merged
      // artifact cannot — it references base's segments in place)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$root/compact"),
        java.nio.file.Paths.get(s"$root/elsewhere"))
      assert(dump(s"$root/elsewhere") == dump(s"$root/merged"),
        "a compacted artifact must be relocatable (relative manifest)")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("registry is staleness-keyed: a mutated source table rebuilds") {
    // copy the documents table to a writable dir so it can be mutated
    val data = java.nio.file.Files.createTempDirectory("mh_stale").toString
    val src = new java.io.File(s"$sf/documents.parquet")
    val dst = new java.io.File(s"$data/documents.parquet")
    if (src.isDirectory)
      org.apache.commons.io.FileUtils.copyDirectory(src, dst)
    else org.apache.commons.io.FileUtils.copyFile(src, dst)
    try {
      val p1 = Dedup.minhashIndexPath(spark, data)
      val p2 = Dedup.minhashIndexPath(spark, data)
      assert(p1 == p2, "unchanged table must serve the same artifact")
      // mutate: touch the table's mtime forward (content unchanged — the
      // fingerprint is name:length:mtime, mirroring IndexStore)
      val t = System.currentTimeMillis() + 5000
      val targets = if (dst.isDirectory) dst.listFiles().toSeq else Seq(dst)
      targets.foreach(f => assert(f.setLastModified(t)))
      val p3 = Dedup.minhashIndexPath(spark, data)
      assert(p3 != p1,
        "a mutated source table must rebuild instead of serving the old index")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(data))
    }
  }

  test("planted near-copies: the index rejects the copies; a fresh batch is " +
    "admitted before the merge and rejected after it") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("mh_planted").toString
    try {
      // 4000 docs: the even half is the corpus, the odd half arrives; the
      // 40 near-copies (Jaccard ≈ 0.9 to their even source) all arrive
      val docs = PlantedDocs(spark, 4000L)
      Dedup.writeMinhashIndexOf(docs.filter($"doc_id" % 2 === 0), s"$root/ix")
      val (s0, b0) = Dedup.openMinhashIndex(spark, s"$root/ix")
      val (arrivals, rejects) = Dedup
        .assignOf(docs.filter($"doc_id" % 2 === 1), s0, b0)
        .agg(count(lit(1)), sum(when($"verdict" === "reject_dup", 1L).otherwise(0L)))
        .as[(Long, Long)].head()
      assert(arrivals == 2000L)
      // the 4/8-agreement banding recovers nearly all 40 planted copies, and
      // random pairs do not flood the verdicts
      assert(rejects >= 32L && rejects <= 60L, s"$rejects rejects, 40 planted")
      // a batch from a vocabulary the corpus never used
      val batch = spark.range(4001L, 4200L, 2).select($"id".as("doc_id"),
        concat_ws(" ", (0 until 50).map(j =>
          concat(lit("m"), pmod(xxhash64($"id" * 59 + j), lit(5000L)))): _*)
          .as("text"))
      def verdicts(ix: String, v: String) = {
        val (sg, bd) = Dedup.openMinhashIndex(spark, ix)
        Dedup.assignOf(batch, sg, bd).filter($"verdict" === v).count()
      }
      assert(verdicts(s"$root/ix", "admit") == 100L)
      Dedup.mergeMinhashIndex(batch, s"$root/ix", s"$root/ix2")
      assert(verdicts(s"$root/ix2", "reject_dup") == 100L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }
}

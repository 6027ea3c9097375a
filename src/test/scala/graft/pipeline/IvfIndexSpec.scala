package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The persisted-IVF-index contract: build once, serve many. A probe query
  * answered from the parquet-persisted model must be bit-identical to one
  * answered from the inline model (same centroids, same cells, same
  * deterministic tie rules) — and the persisted path's lineage is two
  * parquet scans, never a k-means replay; the memoized model array follows
  * a model rewritten at the same path.
  */
class IvfIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("probe query from the persisted index == inline model") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString
    try {
      Similarity.writeIvfIndex(spark, sf, dir)
      val fresh = Similarity.annIvfProbe(spark, sf)
        .collect().map(_.toString).toSeq
      val fromIndex = Similarity.annIvfProbeFromIndex(spark, dir)
        .collect().map(_.toString).toSeq
      assert(fresh.nonEmpty && fromIndex == fresh)
      // the persisted-path plan replays no k-means: the inline model's
      // centroid-update steps posexplode every vector per iteration, so a
      // posexplode (or the quantize of the raw embeddings table) in this
      // plan means training leaked into the serving path
      val plan = Similarity.annIvfProbeFromIndex(spark, dir)
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("posexplode"), s"k-means replay in:\n$plan")
      val scans = plan.split("\n").count(_.contains("Relation"))
      assert(scans >= 2, s"expected parquet scans in:\n$plan")
      // the memoized centroid array follows a model rewritten in place
      val path = s"$dir/centroids"
      val before = Similarity.centroidArrayAt(spark, dir)
      val model = spark.read.parquet(path)
      val kept = model.collect().filter(_.getAs[Long]("cid") != before.head._1)
      spark.createDataFrame(java.util.Arrays.asList(kept: _*), model.schema)
        .write.mode("overwrite").parquet(path)
      assert(Similarity.centroidArrayAt(spark, dir).map(_._1).toSet ==
        before.map(_._1).toSet - before.head._1)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("artifact-tier merge: persisted merged index ≡ plan-level union ≡ " +
    "from-scratch artifact; base immutable; compaction relocatable") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ivf_merge").toString
    try {
      val emb = graft.sources.Tables.table(spark, sf, "embeddings")
      val (cents, snapCells) = Similarity.ivfModelOf(spark,
        emb.filter($"vec_id" < Similarity.IvfSnapshotFloor)
          .select($"vec_id", Hashing.quantize($"embedding").as("q")),
        Similarity.IvfK)
      val arrivals = emb.filter($"vec_id" >= Similarity.IvfSnapshotFloor)
        .select($"vec_id", $"embedding")
      // incremental path: snapshot artifact, then the arrival segment
      Similarity.writeIvfIndexOf(cents, snapCells, s"$root/base")
      val baseServed = Similarity.annIvfProbeFromIndex(spark, s"$root/base")
        .collect().map(_.toString).toSeq
      Similarity.mergeIvfSegments(arrivals, s"$root/base", s"$root/merged")
      // plan-level twin (the r12 spelling) written as ONE artifact — the
      // from-scratch build on the union under FROZEN centroids
      Similarity.writeIvfIndexOf(cents,
        Similarity.mergeIvfCells(cents, snapCells, arrivals), s"$root/full")
      def serve(p: String): Seq[String] =
        Similarity.annIvfProbeFromIndex(spark, p)
          .collect().map(_.toString).toSeq
      def cellsOf(p: String): Seq[String] = {
        val (_, cells) = Similarity.openIvfIndex(spark, p)
        cells.orderBy($"vec_id").collect().map(_.toString).toSeq
      }
      assert(cellsOf(s"$root/merged") == cellsOf(s"$root/full"),
        "merged cell table must equal a from-scratch frozen-assign union")
      val servedM = serve(s"$root/merged")
      assert(servedM.nonEmpty && servedM == serve(s"$root/full"),
        "artifact-served merge must be bit-identical to from-scratch")
      // and to the DECLARED query (registry-served persisted artifact)
      assert(servedM == Similarity.ivfIndexMerge(spark, sf)
        .collect().map(_.toString).toSeq)
      // the base artifact is untouched and still serves (immutability)
      assert(serve(s"$root/base") == baseServed)
      // compaction: one self-contained segment, serving unchanged, MOVABLE
      Similarity.compactIvfIndex(spark, s"$root/merged", s"$root/compact")
      assert(serve(s"$root/compact") == servedM)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$root/compact"),
        java.nio.file.Paths.get(s"$root/elsewhere"))
      assert(serve(s"$root/elsewhere") == servedM,
        "a compacted artifact must be relocatable (relative manifest)")
      // disjointness contract enforced: re-submitting indexed vec_ids fails
      val e = intercept[IllegalArgumentException] {
        Similarity.mergeIvfSegments(
          emb.limit(3).select($"vec_id", $"embedding"),
          s"$root/merged", s"$root/bad")
      }
      assert(e.getMessage.contains("disjoint"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("merge-of-merge: two sequential arrival segments ≡ one " +
    "frozen-assign union build (r12 verdict #4)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ivf_mseq").toString
    try {
      val emb = graft.sources.Tables.table(spark, sf, "embeddings")
      val (cents, snapCells) = Similarity.ivfModelOf(spark,
        emb.filter($"vec_id" < Similarity.IvfSnapshotFloor)
          .select($"vec_id", Hashing.quantize($"embedding").as("q")),
        Similarity.IvfK)
      val arr = emb.filter($"vec_id" >= Similarity.IvfSnapshotFloor)
        .select($"vec_id", $"embedding")
      val arr1 = arr.filter($"vec_id" % 2 === 0)
      val arr2 = arr.filter($"vec_id" % 2 === 1)
      Similarity.writeIvfIndexOf(cents, snapCells, s"$root/base")
      Similarity.mergeIvfSegments(arr1, s"$root/base", s"$root/m1")
      Similarity.mergeIvfSegments(arr2, s"$root/m1", s"$root/m2")
      Similarity.writeIvfIndexOf(cents,
        Similarity.mergeIvfCells(cents,
          Similarity.mergeIvfCells(cents, snapCells, arr1), arr2),
        s"$root/full")
      def cellsOf(p: String): Seq[String] = {
        val (_, cells) = Similarity.openIvfIndex(spark, p)
        cells.orderBy($"vec_id").collect().map(_.toString).toSeq
      }
      def serve(p: String): Seq[String] =
        Similarity.annIvfProbeFromIndex(spark, p)
          .collect().map(_.toString).toSeq
      assert(cellsOf(s"$root/m2") == cellsOf(s"$root/full"),
        "sequential segment merges must equal the one-pass frozen union")
      val s2 = serve(s"$root/m2")
      assert(s2.nonEmpty && s2 == serve(s"$root/full"))
      // the intermediate stays immutable: 2 segments, then 3
      assert(IndexArtifact.readManifest(spark, s"$root/m1").length == 2)
      assert(IndexArtifact.readManifest(spark, s"$root/m2").length == 3)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("merged index makes arrivals searchable; snapshot-only serving cannot") {
    import spark.implicits._
    val merged = Similarity.ivfIndexMerge(spark, sf).collect()
    assert(merged.length == Similarity.QueryVecs * 3)
    // the point of the merge: at least one top-3 result IS an arrival
    // (vec_id >= the snapshot floor), which no snapshot-only index can
    // return because its cell table simply does not contain those rows
    val arrivalHits = merged.count(_.getLong(2) >= Similarity.IvfSnapshotFloor)
    assert(arrivalHits > 0,
      s"merged serving returned no arrivals: ${merged.toSeq}")
    // deterministic across invocations (frozen centroids, exact integers)
    val again = Similarity.ivfIndexMerge(spark, sf).collect()
    assert(merged.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }
}

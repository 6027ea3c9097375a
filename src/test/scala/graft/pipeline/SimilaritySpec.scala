package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.Tables

/** ANN LSH parameterization: the declared 4-plane query is oracle-gated;
  * here the knobs (plane count, multiprobe radius) are exercised at 8 planes
  * and recall is compared against the exact brute-force top-k.
  */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Exact top-3 by the same integer dot (brute force — test oracle only). */
  private def exactTop3: Map[Long, Seq[Long]] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.table(spark, sf, "embeddings")
      .select($"vec_id", Hashing.quantize($"embedding").as("q"))
    val w = Window.partitionBy($"query_id").orderBy($"dot".desc, $"vec_id")
    e.filter($"vec_id" < Similarity.QueryVecs)
      .select($"vec_id".as("query_id"), $"q".as("qv"))
      .crossJoin(e)
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", Hashing.qdot($"qv", $"q").as("dot"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .select($"query_id", $"vec_id")
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSeq).toMap
  }

  private def annResult(planes: Int, radius: Int): Map[Long, Seq[Long]] =
    Similarity.annLshParam(spark, sf, planes = planes, probeRadius = radius)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap

  private def recall(ann: Map[Long, Seq[Long]], exact: Map[Long, Seq[Long]]): Double = {
    val hits = exact.map { case (q, top) =>
      ann.getOrElse(q, Seq.empty).count(top.contains)
    }.sum
    hits.toDouble / exact.values.map(_.size).sum
  }

  test("8 planes + multiprobe returns ranked rows for every query vector") {
    val out = annResult(planes = 8, radius = 1)
    assert(out.keySet == (0L until Similarity.QueryVecs.toLong).toSet)
    out.values.foreach(nbrs => assert(nbrs.nonEmpty && nbrs.size <= 3))
    // deterministic: identical on a repeated run
    assert(annResult(planes = 8, radius = 1) == out)
  }

  test("radius-1 multiprobe recall >= single-bucket recall (8 planes)") {
    val exact = exactTop3
    val r0 = recall(annResult(planes = 8, radius = 0), exact)
    val r1 = recall(annResult(planes = 8, radius = 1), exact)
    assert(r1 >= r0, s"multiprobe recall $r1 < single-bucket $r0")
  }

  test("declared 4-plane radius-2 multiprobe query finds most exact top-3 neighbors") {
    val exact = exactTop3
    val r = recall(annResult(planes = Similarity.Planes, radius = 2), exact)
    assert(r >= 0.8, s"recall $r too low for 4 planes + radius-2 multiprobe")
  }

  test("recall rises with probe radius (honest planes make radius matter)") {
    val exact = exactTop3
    val r0 = recall(annResult(planes = Similarity.Planes, radius = 0), exact)
    val r1 = recall(annResult(planes = Similarity.Planes, radius = 1), exact)
    val r2 = recall(annResult(planes = Similarity.Planes, radius = 2), exact)
    assert(r0 <= r1 && r1 <= r2, s"recall not monotone: $r0 / $r1 / $r2")
  }

  test("knnJoin MaxKnnCell guard drops a degenerate cell's candidates only") {
    import spark.implicits._
    // 4 well-separated 2-d centroids; every query probes all 4 (nprobe = 4)
    val cents = Seq(
      (0L, Seq(1000L, 0L), 1000000L), (1L, Seq(0L, 1000L), 1000000L),
      (2L, Seq(-1000L, 0L), 1000000L), (3L, Seq(0L, -1000L), 1000000L))
      .toDF("cid", "cq", "cn2")
    // cell 0 is DEGENERATE: 6 members (over the cap of 4) — the k-means
    // collapse scenario; cells 1-3 hold 2 members each
    val rows =
      (0L until 6L).map(i => (100L + i, Seq(1000L, i), 1000000L + i * i, 0L)) ++
        Seq((200L, Seq(1L, 1000L), 1000001L, 1L), (201L, Seq(2L, 1000L), 1000004L, 1L),
          (300L, Seq(-1000L, 1L), 1000001L, 2L), (301L, Seq(-1000L, 2L), 1000004L, 2L),
          (400L, Seq(1L, -1000L), 1000001L, 3L), (401L, Seq(2L, -1000L), 1000004L, 3L))
    val cells = rows.toDF("vec_id", "q", "n2", "cell")
    val hotIds = (100L until 106L).toSet

    val guarded = Similarity.knnJoinOf(spark, cents, cells, maxCell = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // no hot-cell member ever appears as a CANDIDATE...
    assert(guarded.forall { case (_, _, cand) => !hotIds.contains(cand) },
      s"hot-cell candidates leaked: ${guarded.mkString(", ")}")
    // ...but hot-cell members still act as QUERIES (served from cold cells)
    assert(hotIds.subsetOf(guarded.map(_._1).toSet))
    // and cold-cell results are intact: 200's best neighbors lead with 201
    val q200 = guarded.filter(_._1 == 200L).sortBy(_._2).map(_._3).toSeq
    assert(q200.head == 201L, s"cold-cell top neighbor wrong: $q200")

    // control: a generous cap restores the hot cell — its members' top
    // neighbors are each other (identical directions, max dot)
    val open = Similarity.knnJoinOf(spark, cents, cells, maxCell = 100)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val q100 = open.filter(_._1 == 100L).map(_._3).toSet
    assert(q100.subsetOf(hotIds), s"ungated top-3 of a hot member: $q100")
    // determinism: the guarded result is stable across runs
    assert(Similarity.knnJoinOf(spark, cents, cells, maxCell = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSeq == guarded.toSeq)
  }

  test("indexRefresh: planted drift flips the per-source verdict") {
    import spark.implicits._
    // frozen model: two well-separated 2-d centroids
    val cents = Seq(
      (0L, Seq(500000L, 0L), 250000000000L),
      (1L, Seq(0L, 500000L), 250000000000L)).toDF("cid", "cq", "cn2")
    // snapshot training assignment: every vector sits d=100 off its
    // centroid, so the baseline mean error is exactly 100
    val snap = Seq(
      (0L, Seq(500000L, 10L), 250000000100L, 0L),
      (1L, Seq(500000L, -10L), 250000000100L, 0L),
      (2L, Seq(10L, 500000L), 250000000100L, 1L),
      (3L, Seq(-10L, 500000L), 250000000100L, 1L))
      .toDF("vec_id", "q", "n2", "cell")
    // arrivals (binary-exact floats — 11/2^20 floors to micro 10; a
    // decimal literal like 1e-5f sits just BELOW 1e-5 and floors to 9):
    // the stable source quantizes at the baseline error, the drifted one
    // lands BETWEEN the centroids at ~10^9× it
    val eps = 11.0f / 1048576.0f // exact; 1e6 * eps = 10.49 -> micro 10
    val arrivals = Seq(
      (100L, Seq(0.5f, eps)),    // -> (500000, 10), cell 0, d = 100
      (101L, Seq(eps, 0.5f)),    // -> (10, 500000), cell 1, d = 100
      (102L, Seq(0.25f, 0.25f)), // -> equidistant, d = 1.25e11
      (103L, Seq(0.25f, 0.25f)))
      .toDF("vec_id", "embedding")
    val docs = Seq((100L, "stable"), (101L, "stable"),
      (102L, "drifted"), (103L, "drifted")).toDF("doc_id", "source")

    val out = Similarity.indexRefreshOf(cents, snap, arrivals, docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5))).toSeq
    val bySrc = out.map(r => r._1 -> r).toMap
    // stable: arrivals quantize exactly at the baseline -> 10000 bp, keep
    assert(bySrc("stable") == ("stable", 2L, 100L, 100L, 10000L, "keep"), out)
    // drifted: both arrivals sit 1.25e11 off the frozen centroids -> retrain
    val d = bySrc("drifted")
    assert(d._3 == 125000000000L && d._4 == 100L && d._6 == "retrain", out)
    assert(d._5 == 125000000000L * 10000L / 100L, out) // exact bp arithmetic

    // the real corpus: every source within threshold (the declared query's
    // natural state — the fixture above is what a drift event looks like)
    val real = Similarity.indexRefresh(spark, sf).collect()
    assert(real.nonEmpty)
    assert(real.forall(_.getString(5) == "keep"),
      real.map(r => (r.getString(0), r.getLong(4))).mkString(", "))
  }

  test("knnJoin on a k-means collapse: the near-zero mass forms one hot " +
    "cell, no hot member is a candidate, every vector is a query") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 1800 of 2000 16-dim vectors are near-zero (components in {-1, 0, 1}):
    // they all take the min-norm cell, far over the cap of 100; the 200
    // diverse vectors spread over the other cells of K = 8
    val (n, cold) = (2000L, 200L)
    val emb = spark.range(n).select($"id".as("vec_id"),
      when($"id" < cold,
        transform(sequence(lit(0), lit(15)),
          d => pmod(xxhash64($"id" * 67 + d.cast("long") * 13 + 3),
            lit(2000001L)) - 1000000L))
        .otherwise(transform(sequence(lit(0), lit(15)),
          d => pmod(xxhash64($"id" * 71 + d.cast("long") * 17 + 7), lit(3L)) - 1L))
        .as("q"))
    val (cents, cells) = Similarity.ivfModelOf(spark, emb, 8)
    val hotCell = cells.groupBy($"cell").count().agg(max($"count")).head().getLong(0)
    assert(hotCell >= n - cold, s"degenerate cell did not form: max cell $hotCell")
    val r = Similarity.knnJoinOf(spark, cents, cells, maxCell = 100)
      .agg(countDistinct($"query_id"), max($"vec_id")).head()
    assert(r.getLong(1) < cold, s"hot-cell member leaked into candidates: ${r.getLong(1)}")
    assert(r.getLong(0) == n, s"queries missing from the guarded join: ${r.getLong(0)}")
  }
}

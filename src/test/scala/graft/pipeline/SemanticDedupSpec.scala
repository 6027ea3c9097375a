package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** SemDeDup semantic dedup: the declared query is oracle-gated at sf0.01;
  * here the same answer is recomputed INDEPENDENTLY — collect the k-means
  * cell assignment and redo the within-cell cosine test in driver-side
  * BigInt (no Decimal(38) prescreen, no Spark expressions) — so a bug in
  * the distributed pair join or the 128-bit comparison path can't hide
  * behind a matching oracle translation of the same plan.
  */
class SemanticDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("matches a driver-side BigInt brute force over the same cells") {
    import spark.implicits._
    val cells = Similarity.ivfCells(spark, sf)
      .select($"vec_id", $"q", $"cell")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    // brute force: all within-cell ordered pairs, exact BigInt cosine test
    val expected = (for {
      (va, qa, ca) <- cells
      (vb, qb, cb) <- cells
      if ca == cb && va < vb
      dot = qa.lazyZip(qb).map(_ * _).sum
      if dot > 0 &&
        BigInt(dot) * dot * Dedup.SemTauDen >=
          BigInt(qa.map(x => x * x).sum) * qb.map(x => x * x).sum * Dedup.SemTauNum
    } yield (vb, va))
      .groupBy(_._1)
      .map { case (v, ps) => (v, ps.map(_._2).min, ps.length.toLong) }
      .toSet
    val got = Dedup.semantic(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got.nonEmpty, "semantic dedup must find pairs at sf0.001 (driver smoke)")
    assert(got == expected)
  }

  test("MaxCell guard drops a degenerate cell but keeps sane cells") {
    import spark.implicits._
    val maxCell = 4
    // cell 0: 6 identical vectors (degenerate — over the bound, all mutually
    // near-dup); cell 1: 2 identical vectors (under the bound)
    val rows =
      (0L until 6L).map(i => (0L, i, Array(1000L, 0L), 1000000L)) ++
        Seq((1L, 10L, Array(0L, 1000L), 1000000L), (1L, 11L, Array(0L, 1000L), 1000000L))
    val cells = rows.toDF("cell", "vec_id", "q", "n2")
    val got = Dedup.semanticOf(spark, cells, maxCell)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // only the sane cell survives: vec 11 near-dups vec 10; nothing from cell 0
    assert(got == Set((11L, 10L, 1L)))
    // control: with the guard slack, the degenerate cell's pairs come back
    val ungated = Dedup.semanticOf(spark, cells, 100)
      .collect().map(_.getLong(0)).toSet
    assert(ungated == Set(1L, 2L, 3L, 4L, 5L, 11L))
  }

  test("planted exact copies meet in one k-means cell and are all flagged") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 2000 64-dim quantized vectors, K = 16; every vector with
    // vec_id % 100 == 1 copies its predecessor: cosine 1, and identical
    // vectors take the same cell under the deterministic (d, cid) argmin, so
    // all 20 copies are flagged whatever random near-dups the cells hold
    val n = 2000L
    val base = when(pmod($"id", lit(100L)) === 1L, $"id" - 1).otherwise($"id")
    val emb = spark.range(n).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        d => pmod(xxhash64(base * 67 + d.cast("long") * 13 + 3), lit(2000001L))
          - 1000000L).as("q"))
    val (_, cells) = Similarity.ivfModelOf(spark, emb, 16)
    val out = Dedup.semanticOf(spark, cells, maxCell = n.toInt)
    assert(out.filter(pmod($"vec_id", lit(100L)) === 1L).count() == n / 100)
  }
}

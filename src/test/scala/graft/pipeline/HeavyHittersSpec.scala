package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The sketch-prefiltered heavy-hitters plan must be answer-identical to
  * the exact full-shuffle plan — the sketch changes the PLAN, never the
  * result (the same contract SpanDedupSpec pins for the Bloom prefilter).
  */
class HeavyHittersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sketch plan ≡ exact plan on the test corpus") {
    val sketch = HeavyHitters.heavyHitters(spark, "/root/testdata/sf0.001").collect()
    val exact = ReferenceSpellings
      .heavyHittersExact(
        graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents"))
      .collect()
    assert(sketch.length > 0, "threshold must bite at sf0.001")
    assert(sketch.toSeq === exact.toSeq)
  }

  test("sketch plan ≡ exact plan under adversarial skew (one dominant key)") {
    // 30 copies of one document (its shingles are heavy), 400 singletons
    // built from a wide vocabulary (their shingles are not).
    val docs = (
      Seq.fill(30)("alpha beta gamma delta epsilon zeta") ++
      Seq.tabulate(400)(i => s"u${i}a u${i}b u${i}c u${i}d")
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val sketch = HeavyHitters.heavyHittersOf(docs).collect()
    val exact = ReferenceSpellings.heavyHittersExact(docs).collect()
    assert(sketch.toSeq === exact.toSeq)
    // the 4 shingles of the repeated doc, 30× each
    assert(sketch.length === 4)
    assert(sketch.forall(_.getLong(1) === 30L))
  }

  test("candidate gate is selective: survivors ≪ corpus shingles") {
    val docs = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val grams = docs.select(
      explode(Hashing.shingles3(Hashing.tokens(lower($"text")))).as("sh"))
    val total = grams.count()
    val cms = grams.agg(count_min_sketch($"sh",
      lit(HeavyHitters.CmsEps), lit(HeavyHitters.CmsConf),
      lit(HeavyHitters.CmsSeed)).as("sk"))
    val survivors = grams.filter(
      graft.functions.CmsEstimate(
        org.apache.spark.sql.graft.ColumnBridge.scalarSubquery(cms), $"sh")
        >= HeavyHitters.HeavyT).count()
    // sf0.001: ~26k shingle occurrences, ~1.3k of them heavy — the gate
    // must cut the exact aggregation's input by at least 10×.
    assert(survivors * 10 <= total,
      s"gate not selective: $survivors of $total passed")
  }
}

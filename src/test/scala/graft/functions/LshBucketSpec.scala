package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.{Hashing, ReferenceSpellings}

/** The native one-pass LSH bucket must agree exactly with the per-plane
  * aggregate-fold spelling it replaces (mirrored by the DuckDB oracles) on
  * the real embeddings, for both plane counts in use. */
class LshBucketSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("native expression == per-plane HOF folds on embeddings (4 and 8 planes)") {
    import spark.implicits._
    val e = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(Hashing.quantize($"embedding").as("q"))
    for (planes <- Seq(4, 8)) {
      val diff = e.select(
          ReferenceSpellings.bucketHof($"q", planes).as("hof"),
          LshBucket($"q", planes).as("native"))
        .filter(!($"hof" <=> $"native"))
        .count()
      assert(diff == 0, s"planes=$planes")
    }
  }

  test("empty and null-poisoned vectors bucket to 0, like the folds") {
    import spark.implicits._
    val df = Seq(
      Tuple1(Seq.empty[java.lang.Long]),
      Tuple1(Seq[java.lang.Long](5L, null, 9L))).toDF("q")
    val out = df.select(
      ReferenceSpellings.bucketHof($"q", 4).as("hof"), LshBucket($"q", 4).as("native")).collect()
    out.foreach { r => assert(r.getLong(1) == 0L && r.getLong(0) == r.getLong(1)) }
  }
}

package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.{Hashing, ReferenceSpellings}

/** The native one-pass SimHash must agree exactly with the per-bit
  * aggregate-fold spelling it replaces (mirrored by the DuckDB oracle) on
  * the real document corpus, plus null/empty edge cases.
  */
class SimHashBitsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("native expression == 32 HOF folds on documents") {
    import spark.implicits._
    val docs = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val hs = docs.select(
      transform(Hashing.tokens($"text"), t => Hashing.charFoldHash(t)).as("hs"))
    val diff = hs.select(
        ReferenceSpellings.simhashHof($"hs", 32).as("hof"),
        SimHashBits($"hs", 32).as("native"))
      .filter(!($"hof" <=> $"native"))
      .count()
    assert(diff == 0)
  }

  test("empty and null-poisoned arrays yield 0, like the folds") {
    import spark.implicits._
    val df = Seq(
      Tuple1(Seq.empty[java.lang.Long]),
      Tuple1(Seq[java.lang.Long](5L, null, 9L))).toDF("hs")
    val out = df.select(
      ReferenceSpellings.simhashHof($"hs", 8).as("hof"), SimHashBits($"hs", 8).as("native"))
      .collect()
    out.foreach { r => assert(r.getLong(1) == 0L && r.getLong(0) == r.getLong(1)) }
  }
}

package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.{Hashing, ReferenceSpellings}

/** The fused tokens→shingle→md5 expression must agree exactly with the
  * built-in spelling it replaces (`minhashBase(shingles3(tokens))`, mirrored
  * by the DuckDB oracle) on the real document corpus, plus edge cases.
  */
class ShingleMd5Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("native expression == md5∘shingles3 on documents") {
    import spark.implicits._
    val docs = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val diff = docs.select(
        Hashing.minhashBase(ReferenceSpellings.shingles3Hof(Hashing.tokens($"text"))).as("hof"),
        ShingleMd5(Hashing.tokens($"text"), 3).as("native"))
      .filter(!($"hof" <=> $"native"))
      .count()
    assert(diff == 0)
  }

  test("fewer than n tokens yields an empty array") {
    import spark.implicits._
    val df = Seq(Seq("a", "b"), Seq.empty[String]).toDF("w")
    assert(df.select(ShingleMd5($"w", 3)).collect()
      .forall(_.getSeq[String](0).isEmpty))
  }

  test("null tokens skipped like concat_ws") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq[String]("a", null, "c", "d"))).toDF("w")
    val hof = df.select(Hashing.minhashBase(
      transform(sequence(lit(1), size($"w") - 2),
        i => concat_ws(" ", slice($"w", i, lit(3)))))).head().getSeq[String](0)
    val nat = df.select(ShingleMd5($"w", 3)).head().getSeq[String](0)
    assert(nat == hof)
  }
}

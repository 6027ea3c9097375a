package graft.functions

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.pipeline.{Hashing, ReferenceSpellings}

/** The fused word-n-gram expression must agree exactly with the built-in
  * HOF spelling it replaces (`transform∘sequence∘slice∘concat_ws` — the
  * form the DuckDB oracle mirrors) on the real corpus, on randomized token
  * arrays, and on the null/short edge cases.
  */
class ShingleStringsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("native expression == shingles3Hof on documents") {
    import spark.implicits._
    val docs = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val diff = docs.select(
        ReferenceSpellings.shingles3Hof(Hashing.tokens($"text")).as("hof"),
        ShingleStrings(Hashing.tokens($"text"), 3).as("native"))
      .filter(!($"hof" <=> $"native"))
      .count()
    assert(diff == 0)
  }

  test("property: native == HOF on random token arrays (incl. empties)") {
    import spark.implicits._
    val tok = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)), Gen.const(""))
    val gen = Gen.listOfN(300, Gen.listOf(tok).map(_.take(7)))
    val rows = gen.apply(Gen.Parameters.default, Seed(42L)).get
    val df = rows.map(Tuple1(_)).toDF("w")
    val diff = df.select(
        ReferenceSpellings.shingles3Hof($"w").as("hof"),
        ShingleStrings($"w", 3).as("native"))
      .filter(!($"hof" <=> $"native")).count()
    assert(diff == 0)
  }

  test("n=2 (the grams() callers — diversity/collocations/repetition, " +
    "r16): native == HOF on documents and random arrays") {
    import spark.implicits._
    def hof2(w: org.apache.spark.sql.Column) =
      when(size(w) >= 2,
        transform(sequence(lit(1), size(w) - 1),
          i => concat_ws(" ", slice(w, i, lit(2)))))
        .otherwise(array().cast("array<string>"))
    val docs = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val diff = docs.select(
        hof2(Hashing.tokens($"text")).as("hof"),
        ShingleStrings(Hashing.tokens($"text"), 2).as("native"))
      .filter(!($"hof" <=> $"native")).count()
    assert(diff == 0)
    val tok = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)), Gen.const(""))
    val gen = Gen.listOfN(200, Gen.listOf(tok).map(_.take(5)))
    val rows = gen.apply(Gen.Parameters.default, Seed(1602L)).get
    val rdf = rows.map(Tuple1(_)).toDF("w")
    val rdiff = rdf.select(hof2($"w").as("hof"),
        ShingleStrings($"w", 2).as("native"))
      .filter(!($"hof" <=> $"native")).count()
    assert(rdiff == 0)
  }

  test("fewer than n tokens yields an empty array") {
    import spark.implicits._
    val df = Seq(Seq("a", "b"), Seq.empty[String]).toDF("w")
    assert(df.select(ShingleStrings($"w", 3)).collect()
      .forall(_.getSeq[String](0).isEmpty))
  }

  test("null tokens skipped like concat_ws") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq[String]("a", null, "c", "d"))).toDF("w")
    val hof = df.select(
      transform(sequence(lit(1), size($"w") - 2),
        i => concat_ws(" ", slice($"w", i, lit(3))))).head().getSeq[String](0)
    val nat = df.select(ShingleStrings($"w", 3)).head().getSeq[String](0)
    assert(nat == hof)
  }

  test("SQL registration: graft_shingles") {
    import spark.implicits._
    val out = Seq(Tuple1(Seq("a", "b", "c", "d"))).toDF("w")
      .createOrReplaceTempView("sh_in")
    assert(spark.sql("SELECT graft_shingles(w) AS s FROM sh_in")
      .head().getSeq[String](0) == Seq("a b c", "b c d"))
  }
}

package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.{Hashing, ReferenceSpellings}

/** The native one-pass RotMinHash must agree exactly with the
  * substring/concat higher-order spelling it replaces
  * (ReferenceSpellings.minhashSigRotHof, mirrored by the DuckDB oracle) on
  * the real document corpus, and handle the empty/null edge cases the HOF form
  * produces.
  */
class RotMinHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("native expression == HOF rotation signature on documents") {
    import spark.implicits._
    val docs = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val base = docs.select(
      Hashing.minhashBase(Hashing.shingles3(Hashing.tokens($"text"))).as("bh"))
    val diff = base.select(
        ReferenceSpellings.minhashSigRotHof($"bh", 8).as("hof"),
        RotMinHash($"bh", 8).as("native"))
      .filter(!($"hof" <=> $"native"))
      .count()
    assert(diff == 0)
  }

  test("empty input yields k nulls, like array_min over empty") {
    import spark.implicits._
    val df = Seq(Seq.empty[String]).toDF("bh")
    val hof = df.select(ReferenceSpellings.minhashSigRotHof($"bh", 4)).head().getSeq[String](0)
    val nat = df.select(RotMinHash($"bh", 4)).head().getSeq[String](0)
    assert(hof == Seq(null, null, null, null))
    assert(nat == hof)
  }

  test("null elements are skipped (array_min semantics)") {
    import spark.implicits._
    val df = Seq(
        (Seq[String](null, "bbbb", "aaaa"), Seq[String]("bbbb", "aaaa"))
      ).toDF("withNull", "without")
    val r = df.select(
        RotMinHash($"withNull", 3).as("a"),
        RotMinHash($"without", 3).as("b"))
      .head()
    assert(r.getSeq[String](0) == r.getSeq[String](1))
  }

  test("rotation order actually differs across positions") {
    import spark.implicits._
    // two 32-char fake hashes whose min flips under rotation
    val a = "0" * 4 + "z" * 28
    val b = "1" * 32
    val sig = Seq(Seq(a, b)).toDF("bh")
      .select(RotMinHash($"bh", 2)).head().getSeq[String](0)
    assert(sig(0) == a)                 // unrotated: "0..." < "1..."
    assert(sig(1) == b.substring(4) + b.substring(0, 4)) // rotated by 4: "zzz..." > "111..."
    assert(sig(1).startsWith("1"))
  }
}

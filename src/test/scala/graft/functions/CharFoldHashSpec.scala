package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The native codegen'd CharFoldHash must agree exactly with the
  * higher-order-function fold it replaces (graft.pipeline.Hashing) on the
  * ASCII corpus, work from SQL after registration, and survive codegen.
  */
class CharFoldHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("native expression == higher-order fold on documents text") {
    import spark.implicits._
    val docs = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val diff = docs.select(
        graft.pipeline.ReferenceSpellings.charFoldHashHof($"text").as("hof"),
        CharFoldHash($"text").as("native"))
      .filter($"hof" =!= $"native")
      .count()
    assert(diff == 0)
  }

  test("seed variants differ and are deterministic") {
    import spark.implicits._
    val df = Seq("hello", "world", "").toDF("s")
    val rows = df.select(CharFoldHash($"s", 0).as("h0"), CharFoldHash($"s", 7).as("h7"))
      .collect()
    assert(rows.length == 3)
    assert(rows.take(2).forall(r => r.getLong(0) != r.getLong(1))) // seeds differ
    // empty string folds to the seed itself
    assert(rows(2).getLong(0) == 0L && rows(2).getLong(1) == 7L)
  }

  test("registered SQL function works") {
    CharFoldHash.register(spark)
    val h = spark.sql("SELECT char_fold_hash('abc') AS h").head().getLong(0)
    // ((0*31+97)*31+98)%M then *31+99 — hand computed
    val expected = ((97L * 31 + 98) * 31 + 99) % CharFoldHash.M
    assert(h == expected)
  }

  test("null-safe") {
    import spark.implicits._
    val r = Seq(Some("x"), None).toDF("s").select(CharFoldHash($"s")).collect()
    assert(r(1).isNullAt(0))
  }
}

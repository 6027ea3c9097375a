package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.{Hashing, ReferenceSpellings}

/** The native fused-loop QDot must agree exactly with the zip_with/aggregate
  * higher-order spelling it replaces (ReferenceSpellings.qdotHof, mirrored
  * by the DuckDB oracle) on real quantized embeddings, including the null-producing edges
  * (length mismatch, null element).
  */
class QDotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("native expression == HOF dot on quantized embedding pairs") {
    import spark.implicits._
    val e = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", Hashing.quantize($"embedding").as("q"))
    val pairs = e.as("a").join(e.as("b"),
      col("a.vec_id") % 7 === col("b.vec_id") % 7 && col("a.vec_id") < col("b.vec_id"))
    val diff = pairs.select(
        ReferenceSpellings.qdotHof(col("a.q"), col("b.q")).as("hof"),
        QDot(col("a.q"), col("b.q")).as("native"))
      .filter(!($"hof" <=> $"native"))
      .count()
    assert(diff == 0)
  }

  test("HOF edge semantics: mismatch and null element yield null, empty yields 0") {
    import spark.implicits._
    val df = Seq(
        (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L, 4L)),   // 11
        (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L)),       // mismatch -> null
        (Seq[java.lang.Long](1L, null), Seq[java.lang.Long](3L, 4L)), // null elem -> null
        (Seq.empty[java.lang.Long], Seq.empty[java.lang.Long])        // empty -> 0
      ).toDF("a", "b")
    val rows = df.select(
        ReferenceSpellings.qdotHof($"a", $"b").as("hof"),
        QDot($"a", $"b").as("native"))
      .collect()
    assert(rows(0).getLong(1) == 11L)
    assert(rows(1).isNullAt(1) && rows(2).isNullAt(1))
    assert(rows(3).getLong(1) == 0L)
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1))
    }
  }
}

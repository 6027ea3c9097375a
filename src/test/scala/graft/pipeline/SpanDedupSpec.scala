package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Span-level dedup invariants on the real sf0.001 corpus, plus the Bloom
  * runtime-filter equivalence pin for the incremental operator.
  */
class SpanDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("spans: totals match a brute-force recount; dup counts are sane") {
    import spark.implicits._
    val out = SpanDedup.spans(spark, sf)
      .as[(Long, Int, Long)].collect().toSeq
    // Brute force: re-derive span multiset on the driver.
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val grams = docs.map { case (id, text) =>
      val w = text.split(" ").filter(_.nonEmpty)
      id -> w.sliding(SpanDedup.SpanK).filter(_.length == SpanDedup.SpanK)
        .map(_.mkString(" ")).toSeq
    }.toMap
    val counts = grams.values.flatten
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(out.map(_._1).toSet == docs.map(_._1).toSet) // every doc present
    out.foreach { case (id, nSpans, nDup) =>
      val g = grams(id)
      assert(nSpans == g.size, s"doc $id n_spans")
      assert(nDup == g.count(counts(_) > 1), s"doc $id n_dup")
    }
    assert(out.map(_._3).sum > 0, "corpus should contain duplicated spans")
  }

  test("incremental: bloom-prefiltered plan ≡ exact plan (bloom never changes the answer)") {
    val withBloom = SpanDedup.incremental(spark, sf).collect().toSeq
    val exact = ReferenceSpellings.incrementalExact(spark, sf).collect().toSeq
    assert(withBloom.map(r => (r.getLong(0), r.getLong(1))) ==
      exact.map(r => (r.getLong(0), r.getLong(1))))
  }

  test("incremental: the bloom subquery plan actually contains the runtime filter") {
    val plan = SpanDedup.incremental(spark, sf).queryExecution.optimizedPlan
    val txt = plan.toString
    assert(txt.contains("bloom_filter_agg") || txt.contains("BloomFilter"),
      s"expected a bloom filter in the plan, got:\n$txt")
    assert(txt.contains("might_contain"), "expected might_contain probe")
  }

  test("planted near-copies: exactly the copy pairs share spans, and the " +
    "incremental plan flags exactly the copies") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 20 copy pairs in 2000 docs of 50 words, each pair differing only in
    // word 1: a pair shares exactly the 45 5-word spans that start at words
    // 2..46 (a random 5-gram collision over a 5000-word vocabulary is
    // vanishingly rare)
    val docs = PlantedDocs(spark, 2000L)
    val r = SpanDedup.spansOf(spark, docs).filter($"n_dup" > 0)
      .agg(count(lit(1)), max($"n_dup")).head()
    assert((r.getLong(0), r.getLong(1)) == ((40L, 45L)))
    // copies are odd and sources even: the incremental plan (odd arrivals
    // against the even corpus) flags exactly the 20 copies, 45 spans each
    val flagged = SpanDedup.incrementalOf(spark, docs).as[(Long, Long)].collect()
    assert(flagged.toSet == (1L until 2000L by 100).map(_ -> 45L).toSet,
      flagged.toSeq.toString)
  }
}

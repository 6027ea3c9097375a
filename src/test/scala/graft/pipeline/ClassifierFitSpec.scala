package graft.pipeline

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The trained-quality-classifier loop (fit → freeze → serve): the
  * literal-array scorer must equal the broadcast-join scoring path
  * bit-for-bit on the REAL fitted model, the frozen scorer must be
  * streaming ≡ batch (stateless projection), and the fit itself must
  * separate a planted label (positive-only tokens score positive,
  * negative-only negative).
  */
class ClassifierFitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("literal-array scorer == broadcast-join path on the real fit") {
    import spark.implicits._
    val model = TextAnalysis.classifierFit(spark, sf).cache()
    try {
      val w = TextAnalysis.fitWeightArrayOf(model)
      val docs = graft.sources.Tables.table(spark, sf, "documents")
      val arr = TextAnalysis.fittedScorerOf(w)(docs)
        .orderBy($"doc_id").collect().map(_.toSeq).toSeq
      val join = TextAnalysis.fittedScoreJoinOf(docs, model)
        .orderBy($"doc_id").collect().map(_.toSeq).toSeq
      assert(arr.nonEmpty && arr == join,
        "frozen literal-array scoring must equal the join path")
    } finally model.unpersist(blocking = false): Unit
  }

  test("frozen scorer is streaming == batch (stateless projection)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = TextAnalysis.fitWeightArrayOf(TextAnalysis.classifierFit(spark, sf))
    val rows = Seq((1L, "the quick brown fox"), (2L, "der schnelle braune fuchs"),
      (3L, "le renard brun rapide"))
    val mem = MemoryStream[(Long, String)]
    val q = TextAnalysis.fittedScorerOf(w)(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("clf_fit_stream")
      .outputMode("append").start()
    mem.addData(rows)
    q.processAllAvailable(); q.stop()
    val got = spark.table("clf_fit_stream").collect().map(_.toSeq).toSet
    val want = TextAnalysis.fittedScorerOf(w)(rows.toDF("doc_id", "text"))
      .collect().map(_.toSeq).toSet
    assert(got == want && got.size == rows.size)
  }

  test("frozen-weights artifact serves the inline fit bit-for-bit (r15)") {
    val art = TextAnalysis.corpusClfWeights(spark, sf)
    val inline = TextAnalysis.fitWeightArrayOf(
      TextAnalysis.classifierFit(spark, sf))
    assert(art == inline,
      "weights reopened from the clfw artifact must equal the inline fit")
  }

  test("classifier merge chains: two sequential count folds == one " +
    "retrain on the 3-way union (r15)") {
    import spark.implicits._
    // three disjoint labeled slices with overlapping vocabulary so merged
    // buckets genuinely SUM (not a disjoint-key union)
    def slice(off: Int, lang: String, tok: String) = (1 to 8).map(i =>
      ((off + i).toLong, lang, s"$tok$i shared$i $tok${i % 3}"))
    val a = slice(0, "en", "alpha").toDF("doc_id", "lang", "text")
    val b = slice(100, "de", "alpha").toDF("doc_id", "lang", "text")
    val c = slice(200, "en", "beta").toDF("doc_id", "lang", "text")
    val folded = TextAnalysis.mergeClfCounts(
      TextAnalysis.mergeClfCounts(
        TextAnalysis.clfCountsOf(a), TextAnalysis.clfCountsOf(b)),
      TextAnalysis.clfCountsOf(c))
    val got = TextAnalysis.weightsOfCounts(folded)
      .orderBy($"bucket").collect().map(_.toSeq).toSeq
    val want = TextAnalysis.classifierFitOf(a.unionByName(b).unionByName(c))
      .orderBy($"bucket").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want,
      "weights from chained count folds must equal a full retrain")
  }

  test("the fit separates a planted label") {
    import spark.implicits._
    // 'en' docs use only goodtokN, others only badtokN — disjoint buckets
    // (distinct token strings hash to distinct buckets here; asserted via
    // the fitted weights' signs rather than assumed)
    val docs = (1 to 20).map { i =>
      if (i % 2 == 0) (i.toLong, "en", s"goodtok$i goodtok$i goodtok${i % 5}")
      else (i.toLong, "de", s"badtok$i badtok$i badtok${i % 5}")
    }.toDF("doc_id", "lang", "text")
    val model = TextAnalysis.classifierFitOf(docs)
    val w = TextAnalysis.fitWeightArrayOf(model)
    val scored = TextAnalysis.fittedScorerOf(w)(docs.select($"doc_id", $"text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1 to 20).foreach { i =>
      if (i % 2 == 0) assert(scored(i.toLong) > 0, s"doc $i should score positive")
      else assert(scored(i.toLong) < 0, s"doc $i should score negative")
    }
  }

  test("threshold frontier: keep_bp is non-increasing in the threshold per " +
    "class, and the thr=0 row reproduces the shipped eval exactly") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val frontier = TextAnalysis.classifierFrontier(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(frontier.length == TextAnalysis.ClfThresholds.length * 2)
    // a stricter threshold can only admit fewer documents
    frontier.groupBy(_._2).foreach { case (pos, rows) =>
      val byThr = rows.sortBy(_._1).map(_._5)
      assert(byThr.zip(byThr.tail).forall { case (a, b) => a >= b },
        s"keep_bp not monotone in threshold for class $pos: ${byThr.toSeq}")
    }
    // the swept rule at thr=0 IS the shipped keep rule
    val eval = TextAnalysis.classifierEval(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val atZero = frontier.filter(_._1 == 0L)
      .map { case (_, pos, n, k, bp) => (pos, n, k, bp) }.toSet
    assert(atZero == eval, s"thr=0 frontier $atZero != eval $eval")
  }

  test("native ClfGramBuckets == the HOF feature spelling on the real corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val toks = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(explode(graft.pipeline.Hashing.tokens(lower($"text"))).as("t"))
    val diff = toks.select(
        graft.functions.ClfGramBuckets($"t", TextAnalysis.ClfBuckets).as("a"),
        ReferenceSpellings.clfFeatureBucketsHof($"t").as("b"))
      .filter($"a" =!= $"b")
      .count()
    assert(diff == 0L, s"$diff tokens diverge between native and HOF features")
    // multibyte: windows advance per code point, folds run over UTF-8 bytes
    val mb = Seq("caf\u00e9", "\u00fcber", "a\u00e9").toDF("t").select(
        graft.functions.ClfGramBuckets($"t", TextAnalysis.ClfBuckets).as("a"),
        ReferenceSpellings.clfFeatureBucketsHof($"t").as("b"))
      .collect()
    mb.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString))
  }
}

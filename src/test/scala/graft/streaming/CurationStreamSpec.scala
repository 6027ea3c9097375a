package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.{Curation, Dedup}

case class ArrDoc(doc_id: Long, source: String, text: String)

/** Composed streaming curation (r16): the gate → eval-exclusion/decon →
  * near-dup-admit → sample COMPOSITION as one live stream, pinned
  * against the batch arrival-curation plan (`q_pipeline_arrivals`) on
  * the real corpus: sealed output ≡ batch on the union under any
  * slicing — including a slicing that cuts BETWEEN two arrivals that
  * are near-dups of each other — plus checkpoint restart. The
  * per-corpus batch stages (cluster canonicalization, packing) are
  * excluded by contract, documented in [[CurationStream]].
  */
class CurationStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext
  private val sf = "/root/testdata/sf0.001"

  private lazy val arts = Curation.arrivalArtifacts(spark, sf)

  private lazy val arrivals: Vector[ArrDoc] = {
    import spark.implicits._
    graft.sources.Tables.table(spark, sf, "documents")
      .filter($"doc_id" % 2 === 1)
      .select($"doc_id", $"source", $"text").as[ArrDoc]
      .collect().toVector.sortBy(_.doc_id)
  }

  private lazy val batchRef: Set[(Long, String, Long)] =
    Curation.pipelineArrivals(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private def run(chunks: Seq[Seq[ArrDoc]]): Set[(Long, String, Long)] = {
    import spark.implicits._
    val (evalSh, ixSigs, ixBands) = arts
    val mem = MemoryStream[ArrDoc]
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, String, Long)]())
    val q = CurationStream.start(mem.toDF(), evalSh, ixSigs, ixBands) {
      (out, _) =>
        out.collect().foreach(r =>
          got.add((r.getLong(0), r.getString(1), r.getLong(2)))): Unit
    }
    try chunks.filter(_.nonEmpty).foreach { c =>
      mem.addData(c); q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    got.asScala.toSet
  }

  test("one micro-batch == the batch arrival-curation plan") {
    assert(batchRef.nonEmpty, "vacuous: batch reference kept nothing")
    assert(run(Seq(arrivals)) == batchRef)
  }

  test("slicing invariance: uneven cuts, including a cut BETWEEN two " +
    "arrivals that are near-dups of each other") {
    import spark.implicits._
    // an odd-odd near-dup pair from the operator's own pair plan — both
    // endpoints are IN the arrival stream
    val pairs = Dedup.minhashPairs(spark,
        graft.sources.Tables.table(spark, sf, "documents")
          .filter($"doc_id" % 2 === 1))
      .select($"doc_a", $"doc_b").orderBy($"doc_a", $"doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty,
      "vacuous: no near-dup pair within the arrival stream at this SF")
    val (a, b) = (math.min(pairs.head._1, pairs.head._2),
      math.max(pairs.head._1, pairs.head._2))
    val cut = arrivals.indexWhere(_.doc_id == a) + 1
    val (s1, s2) = (arrivals.take(cut), arrivals.drop(cut))
    assert(s1.exists(_.doc_id == a) && s2.exists(_.doc_id == b),
      "the cut must separate the near-dup pair")
    assert(run(Seq(s1, s2)) == batchRef,
      "a cut between a near-dup arrival pair must not change the output " +
        "(admission is against the INDEX, not across arrivals)")
    assert(run(arrivals.grouped(arrivals.size / 3 + 1).toSeq) == batchRef,
      "uneven three-way slicing must replay to the batch plan")
  }

  test("checkpoint restart: no arrival is lost across a stop/start") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val (evalSh, ixSigs, ixBands) = arts
    val ckpt = java.nio.file.Files.createTempDirectory("cur_ckpt").toString
    val mem = MemoryStream[ArrDoc]
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, String, Long)]())
    def start() = CurationStream.start(
      mem.toDF(), evalSh, ixSigs, ixBands, checkpoint = Some(ckpt)) {
        (out, _) =>
          out.collect().foreach(r =>
            got.add((r.getLong(0), r.getString(1), r.getLong(2)))): Unit
      }
    val (h1, h2) = arrivals.splitAt(arrivals.size / 2)
    val q1 = start()
    try { mem.addData(h1); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { mem.addData(h2); q2.processAllAvailable() } finally q2.stop()
    assert(got.asScala.toSet == batchRef,
      "the sealed post-restart union must equal the batch plan")
  }
}

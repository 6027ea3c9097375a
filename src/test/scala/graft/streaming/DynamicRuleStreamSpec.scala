package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import DynamicRuleStream.{RuleOrEvent, ThresholdAlert}

/** Dynamic-rule (broadcast-state) operator: a mid-stream rule update flips
  * match behavior at its event-time boundary without a restart; streaming ≡
  * the batch twin, whole AND split at the boundary; slicing invariance;
  * checkpoint restart carries the rule register (r13 verdict #5).
  */
class DynamicRuleStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s"2020-05-01 $s:00")
  private def rule(key: String, at: String, thr: Long) =
    RuleOrEvent("rule", key, ts(at), 0, 0, thr)
  private def data(key: String, at: String, before: Long, after: Long) =
    RuleOrEvent("data", key, ts(at), before, after, 0)
  // far-future reading on an unrelated key: advances the watermark past
  // everything above without alerting (balance rises)
  private val tick = data("9", "23:00", 0, 100)

  /** The boundary fixture: threshold 10 until 11:00, 25 after.
    *  - 10:05 (13→9):  alert under 10
    *  - 10:10 (30→20): NO alert under 10
    *  - 11:05 (30→20): alert under 25
    *  - 11:10 (13→9):  NO alert under 25 (before < threshold — the flip
    *    is visible in BOTH directions)
    */
  private val boundary = "11:00"
  private val fixture = Seq(
    rule("1", "10:00", 10),
    data("1", "10:05", 13, 9),
    data("1", "10:10", 30, 20),
    rule("1", boundary, 25),
    data("1", "11:05", 30, 20),
    data("1", "11:10", 13, 9),
    tick)

  private val expected = Seq(
    ("1", "2020-05-01 10:05:00.0", 13L, 9L, 10L),
    ("1", "2020-05-01 11:05:00.0", 30L, 20L, 25L))

  private def collectAlerts(name: String): Seq[(String, String, Long, Long, Long)] = {
    import spark.implicits._
    spark.table(name).as[ThresholdAlert].collect().toSeq
      .map(a => (a.key, a.ts.toString, a.balanceBefore, a.balanceAfter, a.threshold))
      .sortBy(t => (t._1, t._2))
  }

  private def startQuery(input: MemoryStream[RuleOrEvent], name: String): StreamingQuery =
    DynamicRuleStream.detect(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()

  private def batchAlerts(rows: Seq[RuleOrEvent]): Seq[(String, String, Long, Long, Long)] = {
    import spark.implicits._
    DynamicRuleStream.detectBatch(spark.createDataset(rows)).collect().toSeq
      .map(a => (a.key, a.ts.toString, a.balanceBefore, a.balanceAfter, a.threshold))
      .sortBy(t => (t._1, t._2))
  }

  test("a mid-stream rule update flips match behavior at its event-time " +
    "boundary; streaming ≡ batch replay, whole and split at the boundary") {
    import spark.implicits._
    val input = MemoryStream[RuleOrEvent]
    val q = startQuery(input, "dyn_rule_flip")
    try {
      input.addData(fixture)
      q.processAllAvailable()
      val streamed = collectAlerts("dyn_rule_flip")
      assert(streamed.map(t => (t._1, t._2, t._3, t._4, t._5)) == expected,
        s"boundary flip: got $streamed")
      // ≡ one batch replay over the same tagged rows
      assert(streamed == batchAlerts(fixture))
      // ≡ a batch replay SPLIT at the boundary: the first half ends before
      // the 11:00 rule, the second half starts with it (the rule row IS
      // the boundary's rule state)
      val (pre, post) = fixture.filter(_.key == "1").partition(_.ts.getTime < ts(boundary).getTime)
      assert(streamed == (batchAlerts(pre) ++ batchAlerts(post)).sortBy(t => (t._1, t._2)),
        "split-at-boundary batch replay must reproduce the streamed alerts")
    } finally q.stop()
  }

  test("equal-timestamp rule applies to the reading at the same instant " +
    "(rule-before-data tie order, streaming and batch)") {
    import spark.implicits._
    val rows = Seq(
      rule("2", "10:00", 25),
      // 30→20 crosses the JUST-effective 25, not the default 10: an alert
      // proves the same-instant rule governed the reading
      data("2", "10:00", 30, 20),
      tick)
    val input = MemoryStream[RuleOrEvent]
    val q = startQuery(input, "dyn_rule_tie")
    try {
      input.addData(rows)
      q.processAllAvailable()
      val streamed = collectAlerts("dyn_rule_tie")
      assert(streamed.map(_._5) == Seq(25L), s"tie order: got $streamed")
      assert(streamed == batchAlerts(rows))
    } finally q.stop()
  }

  test("slicing invariance: one batch ≡ row-by-row staged batches") {
    import spark.implicits._
    val staged = MemoryStream[RuleOrEvent]
    val q = startQuery(staged, "dyn_rule_staged")
    try {
      fixture.foreach { r => staged.addData(Seq(r)); q.processAllAvailable() }
      assert(collectAlerts("dyn_rule_staged") == expected.map(t => (t._1, t._2, t._3, t._4, t._5)))
    } finally q.stop()
  }

  test("checkpoint restart carries the rule register: a rule folded before " +
    "the stop governs data that arrives after the restart") {
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("dyn_rule_ckpt").toString
    val input = MemoryStream[RuleOrEvent]
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String, Long, Long, Long)]())
    def start() = DynamicRuleStream.detect(input.toDS())
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[ThresholdAlert], _: Long) =>
        b.collect().foreach(a =>
          got.add((a.key, a.ts.toString, a.balanceBefore, a.balanceAfter, a.threshold)))
        (): Unit
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // run 1: the rule (25) folds into the register — watermark passes it
    val q1 = start()
    try {
      input.addData(Seq(rule("1", "10:00", 25), data("9", "12:00", 0, 100)))
      q1.processAllAvailable()
      assert(got.isEmpty)
    } finally q1.stop()

    // run 2 (fresh query, same checkpoint): data that alerts ONLY under
    // the restored rule (30→20 crosses 25, not the default 10)
    val q2 = start()
    try {
      input.addData(Seq(data("1", "12:30", 30, 20), data("9", "23:00", 0, 100)))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSeq ==
        Seq(("1", "2020-05-01 12:30:00.0", 30L, 20L, 25L)),
        s"restored rule must govern post-restart data: ${got.asScala.toSeq}")
    } finally q2.stop()
  }

  test("state stays bounded by keys plus one batch of buffer while rules " +
    "flip mid-stream; alerts ≡ the batch twin") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 2000 rows of 50 keys over 4 hours, ~20% of them rule rows, in 4
    // in-order micro-batches
    val (users, n, baseSec, span) = (50L, 2000L, 1700000000L, 4L * 3600)
    val raw = spark.range(n).select(
        when(pmod(xxhash64($"id" * 37 + 13), lit(5L)) === 0, lit("rule"))
          .otherwise(lit("data")).as("kind"),
        concat(lit("k"), pmod(xxhash64($"id" * 7 + 1), lit(users)).cast("string"))
          .as("key"),
        timestamp_millis(lit(baseSec * 1000) +
          pmod(xxhash64($"id" * 13 + 5), lit(span * 1000))).as("ts"),
        pmod(xxhash64($"id" * 11 + 3), lit(100L)).as("balanceBefore"),
        pmod(xxhash64($"id" * 29 + 17), lit(100L)).as("balanceAfter"),
        (lit(10L) + pmod(xxhash64($"id" * 41 + 19), lit(9L)) * 10L).as("threshold"))
      .as[RuleOrEvent].collect().sortBy(_.ts.getTime)
    // at most one rule per (key, ts), so the fold order is well defined
    val seen = scala.collection.mutable.HashSet.empty[(String, Long)]
    val rows = raw.filter(r => r.kind != "rule" || seen.add((r.key, r.ts.getTime))).toSeq
    val input = MemoryStream[RuleOrEvent]
    val q = TestSpark.withRowTracking(startQuery(input, "dyn_rule_bound"))
    var maxRows = 0L
    try {
      // the batches, then two far-future readings (balance 0: no alert)
      // that move the watermark past every buffered row
      val flush = (1 to 2).map(k => Seq(RuleOrEvent("data", "zzz",
        new Timestamp((baseSec + span * 10 * k) * 1000), 0L, 0L, 0L)))
      (rows.grouped(rows.length / 4 + 1).toSeq ++ flush).foreach { b =>
        input.addData(b)
        q.processAllAvailable()
        Option(q.lastProgress).foreach(_.stateOperators.foreach(so =>
          maxRows = maxRows.max(so.numRowsTotal)))
      }
      val streamed = collectAlerts("dyn_rule_bound").sorted
      assert(streamed.nonEmpty, "no alerts: thresholds dead")
      assert(streamed == batchAlerts(rows).sorted)
      // a register and an armed timer per key, plus at most one
      // micro-batch of rows buffered within the delay
      assert(maxRows > 0L && maxRows <= 2 * users + n / 4,
        s"state rows $maxRows exceed the keys+buffer bound ${2 * users + n / 4}")
    } finally q.stop()
  }
}

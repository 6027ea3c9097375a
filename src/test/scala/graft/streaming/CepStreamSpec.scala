package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.events.BillingEvent
import graft.operators.AlertOutput

/** Streaming CEP: the golden scenario driven through MemoryStream across
  * staged micro-batches, asserting watermark-gated emission (match appears
  * only once the watermark passes it; timeout fires via event-time timer
  * when the watermark passes A.ts + 1h — the 13:30 event's only role).
  */
class CepStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val golden = Seq(
    BillingEvent("1", "2020-05-01 11:00:00", 13, 9),
    BillingEvent("2", "2020-05-01 11:00:00", 11, 6),
    BillingEvent("2", "2020-05-01 11:15:00", 6, 4),
    BillingEvent("2", "2020-05-01 11:30:00", 4, 3),
    BillingEvent("2", "2020-05-01 11:40:00", 3, 23),
    BillingEvent("1", "2020-05-01 11:45:00", 9, 5))
  private val lateTick = BillingEvent("1", "2020-05-01 13:30:00", 5, 25)

  private def startQuery(input: MemoryStream[BillingEvent], name: String): StreamingQuery =
    BillingAlertsStream.detect(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()

  private def rows(name: String): Seq[(String, String, String, String)] = {
    import spark.implicits._
    spark.table(name).as[AlertOutput].collect().toSeq
      .map(o => (o.kind, o.id, o.alarmTriggerDatetime, o.topupDatetime)).sorted
  }

  test("golden scenario end-to-end in one batch sequence") {
    import spark.implicits._
    val input = MemoryStream[BillingEvent]
    val q = startQuery(input, "cep_all")
    try {
      input.addData(golden :+ lateTick)
      q.processAllAvailable()
      assert(rows("cep_all") == Seq(
        ("match", "2", "2020-05-01 11:00:00", "2020-05-01 11:40:00"),
        ("timeout", "1", "2020-05-01 11:00:00", "")))
    } finally q.stop()
  }

  test("staged batches: emission is watermark-gated; timer fires the absence") {
    import spark.implicits._
    val input = MemoryStream[BillingEvent]
    val q = startQuery(input, "cep_staged")
    try {
      // batch 1: events up to 11:30 — watermark still behind everything
      input.addData(golden.take(4))
      q.processAllAvailable()
      assert(rows("cep_staged").isEmpty)

      // batch 2: C arrives (11:40) + key-1 B — watermark (11:34) has passed
      // key 2's A/B events but not C; still no completed match visible
      input.addData(golden.drop(4))
      q.processAllAvailable()
      assert(!rows("cep_staged").exists(_._1 == "match"))

      // batch 3: late tick advances the watermark to 13:24 — match completes
      // and key 1's 12:00 deadline timer fires the absence timeout
      input.addData(Seq(lateTick))
      q.processAllAvailable()
      assert(rows("cep_staged") == Seq(
        ("match", "2", "2020-05-01 11:00:00", "2020-05-01 11:40:00"),
        ("timeout", "1", "2020-05-01 11:00:00", "")))
    } finally q.stop()
  }

  test("late events (behind the watermark) are dropped, not matched") {
    import spark.implicits._
    val input = MemoryStream[BillingEvent]
    val q = startQuery(input, "cep_late")
    try {
      // advance watermark far past noon with an unrelated key
      input.addData(Seq(BillingEvent("9", "2020-05-01 15:00:00", 50, 60)))
      q.processAllAvailable()
      // now a full match arrives for key 2 — but hours behind the watermark
      input.addData(golden.filter(_.id == "2"))
      q.processAllAvailable()
      input.addData(Seq(BillingEvent("9", "2020-05-01 16:00:00", 50, 60)))
      q.processAllAvailable()
      assert(!rows("cep_late").exists(r => r._1 == "match" && r._2 == "2"))
    } finally q.stop()
  }

  test("query restart from checkpoint preserves NFA state across runs") {
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("cep_ckpt").toString
    val input = MemoryStream[BillingEvent]
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String, String, String)]())
    // memory sink cannot recover from a checkpoint; foreachBatch can
    def start() = BillingAlertsStream.detect(input.toDS())
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[AlertOutput], _: Long) =>
        b.collect().foreach(o =>
          got.add((o.kind, o.id, o.alarmTriggerDatetime, o.topupDatetime)))
        (): Unit
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // run 1: key 2's A + B events only — partial match goes into state
    val q1 = start()
    try {
      input.addData(golden.filter(e => e.id == "2").take(3))
      q1.processAllAvailable()
      assert(got.isEmpty)
    } finally q1.stop()

    // run 2 (fresh query instance, same checkpoint): C + watermark advance
    // complete the match ONLY if the partial survived the restart
    val q2 = start()
    try {
      input.addData(golden.filter(e => e.id == "2").drop(3) :+ lateTick)
      q2.processAllAvailable()
      assert(got.contains(
        ("match", "2", "2020-05-01 11:00:00", "2020-05-01 11:40:00")))
    } finally q2.stop()
  }

  test("a checkpoint of the hand-written processor's state layout fails " +
    "the restart with a schema error before any batch commits") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ckpt = java.nio.file.Files.createTempDirectory("cep_layout_ckpt").toFile
    val input = MemoryStream[BillingEvent]
    val got = new java.util.concurrent.atomic.AtomicLong()
    def start(out: org.apache.spark.sql.Dataset[AlertOutput]) = out.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[AlertOutput], _: Long) =>
        got.addAndGet(b.count()); (): Unit
      }
      .option("checkpointLocation", ckpt.toString).outputMode("append").start()
    val timed = input.toDS()
      .withColumn("event_ts", to_timestamp($"datetime", "yyyy-MM-dd HH:mm:ss"))
      .withWatermark("event_ts", "6 minutes")
      .as[BillingAlertsStream.TimedBilling]
    val q1 = start(timed.groupByKey(_.id).transformWithState(
      new CepStreamSpec.PriorLayout, TimeMode.EventTime(), OutputMode.Append()))
    try {
      input.addData(golden.take(3))
      q1.processAllAvailable()
    } finally q1.stop()
    def commits = new java.io.File(ckpt, "commits").list().count(!_.startsWith("."))
    val committed = commits
    assert(committed > 0)

    val q2 = start(BillingAlertsStream.detect(input.toDS()))
    val err = try {
      input.addData(golden.drop(3) :+ lateTick)
      intercept[StreamingQueryException](q2.processAllAvailable())
    } finally q2.stop()
    assert(err.getMessage.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"),
      err.getMessage)
    assert(commits == committed && got.get == 0L)
  }

  test("until (loop stop) in streaming: micro-batched CepStream ≡ the " +
    "declared q_cep_until batch query on the real sf0.001 events") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.EventPatterns
    import EventPatterns.EventRow
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id", $"event_type")
      .as[EventRow].collect()
      .sortBy(e => (e.ts_us, e.event_id)) // the batch adapter's sort order;
      // CepStream's stable equal-ts arrival-order contract makes the feed
      // order the tiebreak, so parity holds through ms-tied events
    val input = MemoryStream[EventRow]
    val timed = input.toDS()
      .withColumn("ets", timestamp_micros($"ts_us"))
      .withWatermark("ets", "0 seconds")
      .drop("ets").as[EventRow]
    val out = CepStream.matchPattern[Long, EventRow, (Long, Long, Long, Int)](
      timed, _.user_id, _.ts_us / 1000L, EventPatterns.untilPattern,
      (uid, m) => m.first("S").zip(m.first("P")).map { case (s, p) =>
        (uid, s.ts_us / 1000000L, p.ts_us / 1000000L, m("B").size)
      },
      (_, _) => None)
    val q = out.writeStream.format("memory").queryName("cep_until_stream")
      .outputMode("append").start()
    try {
      events.grouped(events.length / 3 + 1).foreach { slice =>
        input.addData(slice.toIndexedSeq); q.processAllAvailable()
      }
      // two far-future sentinels flush the watermark buffer + timers
      (1 to 2).foreach { k =>
        input.addData(Seq(EventRow(-k.toLong,
          events.last.ts_us + k * 48L * 3600 * 1000000L, 999999999L, "view")))
        q.processAllAvailable()
      }
      val streamed = spark.table("cep_until_stream")
        .as[(Long, Long, Long, Int)].collect().toSeq.sorted
      val batch = EventPatterns.untilStreak(spark, "/root/testdata/sf0.001")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000L,
          r.getTimestamp(2).getTime / 1000L, r.getInt(3))).toSeq.sorted
      assert(streamed.nonEmpty && streamed == batch,
        s"streaming until ≠ batch: ${streamed.size} vs ${batch.size} rows")
    } finally q.stop()
  }

  /** The fixed input of the state-traffic pin: three keys over four
    * batches, out-of-order rows inside each key, two matches (keys 2 and
    * 3), and two `within` timeouts that only the last batch's watermark
    * (13:24) fires. */
  private val trafficBatches = Seq(
    Seq(BillingEvent("1", "2020-05-01 11:00:00", 13, 9),
      BillingEvent("2", "2020-05-01 11:15:00", 6, 4),
      BillingEvent("2", "2020-05-01 11:00:00", 11, 6),
      BillingEvent("3", "2020-05-01 11:05:00", 20, 8)),
    Seq(BillingEvent("2", "2020-05-01 11:30:00", 4, 3),
      BillingEvent("3", "2020-05-01 11:12:00", 8, 15),
      BillingEvent("1", "2020-05-01 11:45:00", 9, 5),
      BillingEvent("3", "2020-05-01 11:10:00", 8, 7)),
    Seq(BillingEvent("2", "2020-05-01 11:40:00", 3, 23),
      BillingEvent("3", "2020-05-01 11:50:00", 15, 5),
      BillingEvent("3", "2020-05-01 11:42:00", 30, 15)),
    Seq(lateTick))

  test("state traffic per micro-batch: RocksDB gets and puts, timer " +
    "registers, deletes and expiries are pinned") {
    import spark.implicits._
    val input = MemoryStream[BillingEvent]
    val q = startQuery(input, "cep_traffic")
    try {
      trafficBatches.foreach { b => input.addData(b); q.processAllAvailable() }
      assert(rows("cep_traffic") == Seq(
        ("match", "2", "2020-05-01 11:00:00", "2020-05-01 11:40:00"),
        ("match", "3", "2020-05-01 11:05:00", "2020-05-01 11:12:00"),
        ("timeout", "1", "2020-05-01 11:00:00", ""),
        ("timeout", "3", "2020-05-01 11:50:00", "")))
      val names = Seq("rocksdbGetCount", "rocksdbPutCount", "numRegisteredTimers",
        "numDeletedTimers", "numExpiredTimers")
      // idle progress reports (no batch ran) carry no addBatch time
      val perBatch = q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch")).map { p =>
        names.map(n => p.stateOperators.iterator.map(o =>
          Option(o.customMetrics.get(n)).fold(0L)(_.longValue)).sum)
      }
      // (gets, puts, registered, deleted, expired) per micro-batch, the
      // no-data batches that fire timers included
      assert(perBatch == Seq(
        Seq(15, 9, 3, 0, 0), Seq(24, 15, 3, 3, 3), Seq(18, 11, 2, 2, 0),
        Seq(13, 8, 1, 2, 2), Seq(13, 8, 2, 1, 0), Seq(13, 8, 1, 2, 2),
        Seq(2, 1, 0, 0, 0), Seq(13, 8, 1, 2, 2)).map(_.map(_.toLong)),
        perBatch)
      // the hand-written processor with its own list, packed control blob
      // and counter, which this fold replaced, made 199 gets and 110 puts
      // on this input, with the same timer counts
      assert(perBatch.map(b => b(0) + b(1)).sum <= 199 + 110)
    } finally q.stop()
  }

  test("batch and streaming agree on the golden input") {
    import spark.implicits._
    val batchOut = graft.operators.BillingAlerts
      .detect(spark.createDataset(golden :+ lateTick))
      .collect().toSeq
      .map(o => (o.kind, o.id, o.alarmTriggerDatetime, o.topupDatetime)).sorted
    val input = MemoryStream[BillingEvent]
    val q = startQuery(input, "cep_vs_batch")
    try {
      input.addData(golden :+ lateTick)
      q.processAllAvailable()
      assert(rows("cep_vs_batch") == batchOut)
    } finally q.stop()
  }
}

object CepStreamSpec {
  import BillingAlertsStream.TimedBilling

  /** The state layout `CepStream` had before it became a
    * [[KeyedFold.eventTime]] fold: an event list "buf", a packed binary
    * control blob "ctrl" (`[timer][minBuf][snapshot]`) and a match counter
    * "matchSeq". It buffers every row and arms nothing. */
  final class PriorLayout extends StatefulProcessor[String, TimedBilling, AlertOutput] {
    @transient private var buf: ListState[TimedBilling] = _
    @transient private var ctrl: ValueState[Array[Byte]] = _
    @transient private var matchSeq: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[TimedBilling]("buf", Encoders.product[TimedBilling],
        TTLConfig.NONE)
      ctrl = getHandle.getValueState[Array[Byte]]("ctrl", Encoders.BINARY, TTLConfig.NONE)
      matchSeq = getHandle.getValueState[Long]("matchSeq", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[TimedBilling],
        timerValues: TimerValues): Iterator[AlertOutput] = {
      val in = rows.toArray
      buf.appendList(in)
      ctrl.update(java.nio.ByteBuffer.allocate(16).putLong(Long.MinValue)
        .putLong(in.map(_.event_ts.getTime).min).array())
      matchSeq.update(0L)
      Iterator.empty
    }
  }
}

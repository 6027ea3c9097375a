package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import SessionStream._

/** Streaming sessionization ≡ the batch q_sessionize rollup: sealed
  * sessions carry the same ids, spans, and composition across micro-batch
  * slicings; an out-of-order bridge event merges two open sessions; a
  * session seals only when the watermark passes its gap horizon.
  */
class SessionStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // the PathsSpec sessionize fixture: two sessions for user 1 (2h jump),
  // one strict-30-min-gap session for user 2
  private val events: Seq[(Long, Long, Timestamp, String)] = Seq(
    (1L, 1L, ts("2024-01-01 10:00:00"), "view"),
    (2L, 1L, ts("2024-01-01 10:20:00"), "click"),
    (3L, 1L, ts("2024-01-01 10:40:00"), "purchase"),
    (4L, 1L, ts("2024-01-01 12:40:00"), "view"),
    (5L, 2L, ts("2024-01-01 09:00:00"), "view"),
    (6L, 2L, ts("2024-01-01 09:30:00"), "purchase")
  )

  // far-future sentinels: advance the watermark past every fixture
  // session's gap horizon, then trigger the timer batch
  private val flush: Seq[Seq[(Long, Long, Timestamp, String)]] =
    Seq(Seq((99L, 99L, ts("2024-02-01 00:00:00"), "view")),
      Seq((100L, 99L, ts("2024-03-01 00:00:00"), "view")))

  /** The batch q_sessionize rollup of `evs`. */
  private def rollup(evs: Seq[(Long, Long, Timestamp, String)]): Set[SessRow] = {
    import spark.implicits._
    graft.relational.Paths.sessionizeOf(
        evs.toDF("event_id", "user_id", "ts", "event_type"))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => SessRow(r._1, r._2, r._3, r._4, r._5, r._6, r._7)).toSet
  }

  private def batchExpected: Set[SessRow] = rollup(events)

  private def run(chunks: Seq[Seq[(Long, Long, Timestamp, String)]],
      delay: String = "0 seconds"): Set[SessRow] = {
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, Timestamp, String)]
    val q = SessionStream.sessions(
        mem.toDF().toDF("event_id", "user_id", "ts", "event_type"), delay)
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      (chunks ++ flush).foreach { c =>
        if (c.nonEmpty) mem.addData(c: _*)
        q.processAllAvailable()
      }
      spark.table("sess_out").as[SessRow].collect()
        .filter(_.user_id != 99L).toSet
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS sess_out")
    }
  }

  test("sealed sessions == batch rollup, one batch") {
    val expect = batchExpected
    assert(expect.size == 3)
    assert(run(Seq(events)) == expect)
  }

  test("invariant to micro-batch slicing (open session spans batches)") {
    val ordered = events.sortBy(e => (e._3.getTime, e._1))
    assert(run(ordered.map(Seq(_))) == batchExpected)
    val (a, b) = ordered.splitAt(3)
    assert(run(Seq(a, b)) == batchExpected)
  }

  test("query restart from checkpoint preserves open sessions, ids, and timers") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val ckpt = java.nio.file.Files.createTempDirectory("sess_ckpt").toString
    val mem = MemoryStream[(Long, Long, Timestamp, String)]
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[SessRow]())
    // memory sink cannot recover from a checkpoint; foreachBatch can
    def start() = SessionStream.sessions(
        mem.toDF().toDF("event_id", "user_id", "ts", "event_type"), "0 seconds")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[SessRow], _: Long) =>
        b.collect().foreach(got.add)
        (): Unit
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val ordered = events.sortBy(e => (e._3.getTime, e._1))
    // run 1: user 1's first session stays OPEN (nothing seals yet)
    val q1 = start()
    try {
      mem.addData(ordered.take(3): _*)
      q1.processAllAvailable()
      assert(got.isEmpty, got.toString)
    } finally q1.stop()

    // run 2 (fresh query, same checkpoint): the rest + flush can only
    // reproduce the batch rollup — with session id 1 for the session
    // opened before the restart — if the open list and id counter survived
    val q2 = start()
    try {
      mem.addData(ordered.drop(3): _*)
      q2.processAllAvailable()
      flush.foreach { c => mem.addData(c: _*); q2.processAllAvailable() }
      assert(got.asScala.filter(_.user_id != 99L).toSet == batchExpected,
        got.toString)
    } finally q2.stop()
  }

  test("randomized event sets: sealed sessions == batch rollup (property)") {
    val rnd = new scala.util.Random(20260814L)
    (1 to 6).foreach { trial =>
      val evs = (1 to (20 + rnd.nextInt(60))).map { i =>
        val uid = 1L + rnd.nextInt(4)
        // minute-resolution arrivals over ~6 h: plenty of >30-min gaps
        val t = new Timestamp(
          ts("2024-01-01 00:00:00").getTime + rnd.nextInt(360) * 60000L)
        val kind = if (rnd.nextInt(4) == 0) "purchase" else "view"
        (i.toLong, uid, t, kind)
      }
      val expect = rollup(evs)
      // event-time-ordered ingest in random-sized chunks
      val ordered = evs.sortBy(e => (e._3.getTime, e._1))
      val chunks = ordered.grouped(1 + rnd.nextInt(7)).toSeq
      assert(run(chunks) == expect, s"trial $trial")
    }
  }

  test("an out-of-order bridge event merges two open sessions") {
    // 10:00 and 10:50 are two sessions (50-min gap) until 10:25 arrives
    // late and bridges them into one
    val evs = Seq(
      (1L, 5L, ts("2024-01-01 10:00:00"), "view"),
      (2L, 5L, ts("2024-01-01 10:50:00"), "purchase"),
      (3L, 5L, ts("2024-01-01 10:25:00"), "click"))
    val got = run(Seq(evs.take(2), evs.drop(2)), delay = "2 hours")
      .filter(_.user_id == 5L)
    def sec(s: String) = ts(s).getTime / 1000L
    assert(got == Set(SessRow(5L, 1L,
      sec("2024-01-01 10:00:00"), sec("2024-01-01 10:50:00"), 3L, 1L, 3000L)))
  }

  test("state stays bounded by keys under out-of-order arrival; sealed " +
    "sessions == batch rollup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 3000 events of 20 users over 2 days, 30% on user 0, arriving by a
    // clock up to 20 min past event time in 4 micro-batches: late events
    // extend and bridge open sessions inside the 30-min delay
    val (users, baseSec, spanSec) = (20L, 1700000000L, 2L * 86400)
    val evs = spark.range(3000L).select(
        $"id".as("event_id"),
        when(pmod(xxhash64($"id" * 19 + 3), lit(10L)) < 3, lit(0L))
          .otherwise(pmod(xxhash64($"id" * 7 + 1), lit(users))).as("user_id"),
        (lit(baseSec) + pmod(xxhash64($"id" * 13 + 5), lit(spanSec))).as("ts_sec"),
        when(pmod(xxhash64($"id" * 31 + 11), lit(10L)) === 7, lit("purchase"))
          .otherwise(lit("view")).as("event_type"),
        pmod(xxhash64($"id" * 23 + 9), lit(1200L)).as("lag_sec"))
      .select($"event_id", $"user_id", timestamp_seconds($"ts_sec").as("ts"),
        $"event_type", ($"ts_sec" + $"lag_sec").as("arr_sec"))
      .as[(Long, Long, Timestamp, String, Long)].collect().toSeq
    val sliceW = (spanSec + 1200L) / 4 + 1L
    val chunks = (0 until 4).map { i =>
      evs.filter(e => e._5 >= baseSec + i * sliceW && e._5 < baseSec + (i + 1) * sliceW)
        .map(e => (e._1, e._2, e._3, e._4))
    }
    val expect = rollup(evs.map(e => (e._1, e._2, e._3, e._4)))
    val mem = MemoryStream[(Long, Long, Timestamp, String)]
    val q = TestSpark.withRowTracking(SessionStream.sessions(
        mem.toDF().toDF("event_id", "user_id", "ts", "event_type"), "30 minutes")
      .writeStream.format("memory").queryName("sess_bound").outputMode("append").start())
    var maxRows = 0L
    try {
      (chunks ++ flush).foreach { c =>
        mem.addData(c: _*)
        q.processAllAvailable()
        Option(q.lastProgress).foreach(_.stateOperators.foreach(so =>
          maxRows = maxRows.max(so.numRowsTotal)))
      }
      val got = spark.table("sess_bound").as[SessRow].collect()
        .filter(_.user_id != 99L).toSet
      assert(got == expect, s"${(got -- expect).take(5)} / ${(expect -- got).take(5)}")
      // state is bounded by keys (the 20 users and the sentinel: its open
      // sessions, scalars and timer), never by the 3000 events
      assert(maxRows > 0L && maxRows <= (users + 1) * 3,
        s"state rows $maxRows outside (0, ${(users + 1) * 3}]")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS sess_bound")
    }
  }
}

package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.relational.TimeSeries

/** The [[KeyedFold]] ordering and state contract, pinned through two of its
  * sorted folds: ACROSS micro-batches the fold runs in arrival order — an
  * event that arrives a batch late is folded after the later event, and
  * the stream diverges from its batch twin — WITHIN a batch rows are
  * sorted, so any in-batch shuffle gives the batch result; and the state a
  * sorted fold carries (CUSUM's calibration buffer) survives a checkpoint
  * restart.
  */
class KeyedFoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private type Ev = (Long, Long, Timestamp, String, Double)
  private val cols = Seq("event_id", "user_id", "ts", "event_type", "value")
  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Feeds `chunks` one micro-batch each and returns the LAST emission per
    * user of the EWMA stream. */
  private def ewmaStream(chunks: Seq[Seq[Ev]]): Map[Long, EwmaStream.EwmaRow] = {
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val q = EwmaStream.levels(mem.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName("kf_ewma").outputMode("append").start()
    try {
      chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      spark.table("kf_ewma").as[EwmaStream.EwmaRow].collect()
        .groupBy(_.user_id).view.mapValues(_.maxBy(_.n_obs)).toMap
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS kf_ewma")
    }
  }

  /** The batch `q_ts_ewma` fold (event-time order) per user. */
  private def ewmaBatch(events: Seq[Ev]): Map[Long, EwmaStream.EwmaRow] = {
    import spark.implicits._
    TimeSeries.ewmaOf(events.toDF(cols: _*))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, n, s, c) => u -> EwmaStream.EwmaRow(u, n, s, c) }.toMap
  }

  /** The EWMA integer step folded over `events` in the order given. */
  private def ewmaFold(user: Long, events: Seq[Ev]): EwmaStream.EwmaRow = {
    val xs = events.map(e => math.floor(e._5 * 100).toLong * TimeSeries.EwmaScale)
    val s = xs.tail.foldLeft(xs.head)((s, x) =>
      (x + (TimeSeries.EwmaDen - 1L) * s) / TimeSeries.EwmaDen)
    EwmaStream.EwmaRow(user, xs.size.toLong, s, xs.last / TimeSeries.EwmaScale)
  }

  private val early: Ev = (1L, 1L, ts("2024-01-01 10:00:00"), "purchase", 8.00)
  private val late: Ev = (2L, 1L, ts("2024-01-01 11:00:00"), "purchase", 4.00)

  test("an event arriving a micro-batch late folds in arrival order, diverging from batch") {
    // the event-time-later purchase arrives first, the earlier one a batch later
    val got = ewmaStream(Seq(Seq(late), Seq(early)))(1L)
    val arrival = ewmaFold(1L, Seq(late, early))
    assert(got == arrival)
    assert(got == EwmaStream.EwmaRow(1L, 2L, 500000000L, 800L))
    // the batch twin folds by event time: 8.00 then 4.00 → 7e8, last 4.00
    val batch = ewmaBatch(Seq(early, late))(1L)
    assert(batch == EwmaStream.EwmaRow(1L, 2L, 700000000L, 400L))
    assert(got != batch)
  }

  test("rows shuffled within one micro-batch fold in event-time order == batch") {
    val events: Seq[Ev] = Seq(early, late,
      (3L, 1L, ts("2024-01-01 12:00:00"), "purchase", 6.00),
      (4L, 1L, ts("2024-01-01 12:00:00"), "purchase", 2.00),
      (5L, 2L, ts("2024-01-02 09:00:00"), "purchase", 1.00),
      (6L, 2L, ts("2024-01-02 10:00:00"), "purchase", 9.50),
      (7L, 2L, ts("2024-01-02 11:00:00"), "purchase", 0.01))
    val expect = ewmaBatch(events)
    assert(expect(1L) == ewmaFold(1L, events.filter(_._2 == 1L)))
    assert(ewmaStream(Seq(events.reverse)) == expect)
    assert(ewmaStream(Seq(new scala.util.Random(7).shuffle(events))) == expect)
  }

  test("CUSUM restarted mid-calibration restores its buffer from the checkpoint") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // user 1 shifts after calibration and breaches; user 2 stays stable
    def series(uid: Long, vals: Seq[Double], id0: Long): Seq[Ev] =
      vals.zipWithIndex.map { case (v, i) =>
        (id0 + i, uid, ts(f"2024-01-01 $i%02d:00:00"), "purchase", v) }
    val events =
      series(1L, Seq(10.00, 12.00, 8.00, 10.00, 10.00) ++ Seq.fill(10)(16.00), 100L) ++
      series(2L, Seq(10.00, 9.00, 11.00, 10.00, 10.00, 10.50, 9.50, 11.00), 200L)
    val ordered = events.sortBy(e => (e._3.getTime, e._1))
    // hours 0-2 of both users: three of the five calibration purchases each
    val (first, rest) = ordered.splitAt(6)
    assert(first.groupBy(_._2).values.forall(_.size == 3))

    val ckpt = java.nio.file.Files.createTempDirectory("kf_cusum_ckpt").toString
    val mem = MemoryStream[Ev]
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[CusumStream.CusumRow]())
    def start() = CusumStream.monitor(mem.toDF().toDF(cols: _*))
      .writeStream
      .foreachBatch { (b: Dataset[CusumStream.CusumRow], _: Long) =>
        b.collect().foreach(got.add)
        (): Unit
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try { mem.addData(first); q1.processAllAvailable() } finally q1.stop()
    assert(got.isEmpty, "uncalibrated users emit nothing")
    val q2 = start()
    try { mem.addData(rest); q2.processAllAvailable() } finally q2.stop()

    val fin = got.asScala.groupBy(_.user_id).map { case (u, rs) =>
      val m = rs.maxBy(_.n_obs)
      u -> ((m.n_obs, m.mu_cents, m.s_max, m.breach_at))
    }
    val batch = TimeSeries.cusumOf(events.toDF(cols: _*))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(fin == batch)
    // μ is the floor mean of all five calibration purchases, three of
    // which came back from the checkpoint
    assert(fin(1L)._2 == 1000L && fin(2L)._2 == 1000L)
    assert(fin(1L)._4 > 0L && fin(2L)._4 == 0L)
  }
}

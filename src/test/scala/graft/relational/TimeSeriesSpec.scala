package graft.relational

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Planted-gap fixtures for the [[TimeSeries.gapfill]] resampler: exact
  * grid materialization, forward-fill values, observed/fill flags, and the
  * event-type filter — the semantics the oracle hash pins at corpus scale,
  * asserted here on a hand-computable series.
  */
class TimeSeriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("gapfill materializes gaps with last value carried forward") {
    import spark.implicits._
    val events = Seq(
      // user 1: buckets 00:00 (observed), 06:00 (gap), 12:00 (observed)
      (1L, ts("2024-01-01 01:00:00"), "purchase", 10.00),
      (1L, ts("2024-01-01 13:30:00"), "purchase", 20.00),
      // same bucket as the first event: cents sum, n_obs = 2
      (1L, ts("2024-01-01 02:15:00"), "purchase", 0.50),
      // non-purchase events never enter the series
      (1L, ts("2024-01-01 07:00:00"), "view", 99.0),
      // user 2: single bucket, single row out
      (2L, ts("2024-01-02 18:05:00"), "purchase", 7.25)
    ).toDF("user_id", "ts", "event_type", "value")

    val got = TimeSeries.gapfillOf(events)
      .as[(Long, Timestamp, Long, Long)].collect().toSeq

    assert(got == Seq(
      (1L, ts("2024-01-01 00:00:00"), 1050L, 2L),
      (1L, ts("2024-01-01 06:00:00"), 1050L, 0L),
      (1L, ts("2024-01-01 12:00:00"), 2000L, 1L),
      (2L, ts("2024-01-02 18:00:00"), 725L, 1L)), got.toString)
  }

  test("anomaly flags a spike over the trailing average, warm-up never flags") {
    import spark.implicits._
    // 9 flat buckets of 1.00 then a 10.00 spike; the spike's trailing-8
    // window is all-flat (sum 800): 1000·8 > 5·800. Bucket 9 (the 9th flat
    // one) has a full window too but 100·8 < 5·800 stays quiet; buckets
    // 0..7 are warm-up (tn < 8) and can never flag even if large.
    val base = ts("2024-03-01 00:30:00").getTime
    val flat = (0 until 9).map(i =>
      (7L, new Timestamp(base + i * 6L * 3600 * 1000), "purchase", 1.00))
    val spike = Seq((7L, new Timestamp(base + 9L * 6 * 3600 * 1000), "purchase", 10.00))
    // early large value inside warm-up: must not flag
    val early = Seq((8L, ts("2024-03-01 01:00:00"), "purchase", 500.00),
      (8L, ts("2024-03-01 07:00:00"), "purchase", 1.00))
    val got = TimeSeries.anomalyOf((flat ++ spike ++ early)
        .toDF("user_id", "ts", "event_type", "value"))
      .as[(Long, Timestamp, Long, Long)].collect().toSeq
    assert(got == Seq((7L, ts("2024-03-03 06:00:00"), 1000L, 800L)), got.toString)
  }

  test("gapfill matches an in-memory resample on random event sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val bucketS = TimeSeries.BucketHours * 3600L
    for (trial <- 1 to 4) {
      val events = Seq.fill(120) {
        val u = 1L + rnd.nextInt(5)
        val t = new Timestamp(1704067200000L + // 2024-01-01 UTC
          rnd.nextInt(5 * 86400) * 1000L)
        val typ = if (rnd.nextInt(3) == 0) "view" else "purchase"
        (u, t, typ, rnd.nextInt(10000) / 100.0)
      }
      val got = TimeSeries.gapfillOf(
          events.toDF("user_id", "ts", "event_type", "value"))
        .as[(Long, Timestamp, Long, Long)].collect().toSeq
      // in-memory oracle: same quantization, bucket, span, forward fill
      val expect = events.filter(_._3 == "purchase")
        .groupBy(_._1).toSeq.flatMap { case (u, es) =>
          val obs = es.groupBy(e => Math.floorDiv(e._2.getTime / 1000L, bucketS))
            .map { case (b, xs) =>
              b -> (xs.map(x => math.floor(x._4 * 100).toLong).sum, xs.size.toLong)
            }
          val (b0, b1) = (obs.keys.min, obs.keys.max)
          var lastCents = 0L
          (b0 to b1).map { b =>
            val (c, n) = obs.getOrElse(b, (-1L, 0L))
            if (n > 0) lastCents = c
            (u, new Timestamp(b * bucketS * 1000L), lastCents, n)
          }
        }.sortBy(r => (r._1, r._2.getTime))
      assert(got == expect, s"trial $trial")
    }
  }

  test("gapfill on the driver corpus: grid is dense, fills carry, firsts observed") {
    import spark.implicits._
    val rows = TimeSeries.gapfill(spark, "/root/testdata/sf0.001")
      .as[(Long, Timestamp, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    val step = TimeSeries.BucketHours * 3600L * 1000L
    rows.groupBy(_._1).foreach { case (uid, series) =>
      // orderBy in the query: already (user, bstart)-sorted; grid is dense
      val times = series.map(_._2.getTime)
      assert(times.zip(times.tail).forall { case (a, b) => b - a == step },
        s"user $uid grid not dense")
      // the first bucket is observed by construction (span starts at min)
      assert(series.head._4 > 0, s"user $uid first bucket is a fill")
      // every fill row repeats the previous value
      series.sliding(2).foreach {
        case Seq((_, _, prev, _), (_, t, v, n)) =>
          if (n == 0L) assert(v == prev, s"user $uid fill at $t")
        case _ =>
      }
    }
  }

  test("ewma folds the ordered series with exact integer floor steps") {
    import spark.implicits._
    val events = Seq(
      // user 1 in deliberate shuffled order; sorted: 8.00, 4.00, 6.00
      //   s1 = 8e8; s2 = (4e8 + 3*8e8)/4 = 7e8; s3 = (6e8+21e8)/4 = 675e6
      (3L, 1L, ts("2024-01-01 12:00:00"), "purchase", 6.00),
      (1L, 1L, ts("2024-01-01 10:00:00"), "purchase", 8.00),
      (2L, 1L, ts("2024-01-01 11:00:00"), "purchase", 4.00),
      // equal ts: event_id breaks the tie (5 before 6)
      //   s1 = 100e6 (id 5); s2 = (200e6 + 300e6)/4 = 125e6
      (5L, 2L, ts("2024-01-02 09:00:00"), "purchase", 1.00),
      (6L, 2L, ts("2024-01-02 09:00:00"), "purchase", 2.00),
      // floor at every STEP, not at the end: 1c then 0c then 0c
      //   s1 = 1e6; s2 = 750000; s3 = 562500   (a final-floor fold differs)
      (7L, 3L, ts("2024-01-03 00:00:00"), "purchase", 0.01),
      (8L, 3L, ts("2024-01-03 01:00:00"), "purchase", 0.00),
      (9L, 3L, ts("2024-01-03 02:00:00"), "purchase", 0.00),
      // non-purchase rows never enter
      (4L, 1L, ts("2024-01-01 13:00:00"), "view", 999.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = TimeSeries.ewmaOf(events)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 675000000L, 600L),
      (2L, 2L, 125000000L, 200L),
      (3L, 3L, 562500L, 0L)), got.toString)
  }

  test("cusum flags a sustained shift the spike test misses, not a stable series") {
    import spark.implicits._
    def series(uid: Long, vals: Seq[Double], id0: Long) =
      vals.zipWithIndex.map { case (v, i) =>
        (id0 + i, uid, ts(f"2024-01-01 ${i}%02d:00:00"), "purchase", v) }
    val events = (
      // user 1: calibrates at 10.00, then a sustained +60% shift — each
      // step exceeds μ+κ by 350c, so S grows 350,700,…; h = 3000c is
      // crossed at post-calibration index 9
      series(1L, Seq.fill(5)(10.00) ++ Seq.fill(10)(16.00), 100L) ++
      // user 2: stable around μ — never flags
      series(2L, Seq.fill(5)(10.00) ++ Seq(10.50, 9.50, 10.00, 11.00, 9.00), 200L) ++
      // user 3: too short for calibration — excluded
      series(3L, Seq.fill(5)(10.00), 300L)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = TimeSeries.cusumOf(events)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // user 1: μ=1000, κ=250, step +350 → S_i = 350·i, h=3000 first
    // exceeded at i=9 (S=3150); s_max = 3500 at i=10
    assert(got == Seq(
      (1L, 15L, 1000L, 3500L, 9L),
      (2L, 10L, 1000L, 0L, 0L)), got.toString)
  }

  test("twa weights by holding duration, not observation count") {
    import spark.implicits._
    val events = Seq(
      // user 1: 100c held 10s, then a 1s burst to 900c, then close —
      // count-mean would say 633c; duration-weighted: (100·10 + 900·1)/11 = 172
      (1L, 1L, ts("2024-01-01 10:00:00"), "purchase", 1.00),
      (2L, 1L, ts("2024-01-01 10:00:10"), "purchase", 9.00),
      (3L, 1L, ts("2024-01-01 10:00:11"), "purchase", 9.00),
      // user 2: single purchase — no interval, excluded
      (4L, 2L, ts("2024-01-01 10:00:00"), "purchase", 5.00),
      // user 3: two purchases in the same second — zero-length integral
      (5L, 3L, ts("2024-01-01 10:00:00"), "purchase", 1.00),
      (6L, 3L, ts("2024-01-01 10:00:00.400"), "purchase", 2.00),
      // non-purchase rows never enter
      (7L, 1L, ts("2024-01-01 10:00:05"), "view", 999.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = TimeSeries.twaOf(events)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 11L, 172L)), got.toString)
  }

  test("ewma on the driver corpus == an in-memory fold of the sorted events") {
    import spark.implicits._
    val got = TimeSeries.ewma(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    val raw = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"value")
      .as[(Long, Timestamp, Long, Double)].collect().toSeq
    val expect = raw.groupBy(_._1).toSeq.map { case (u, es) =>
      val xs = es.sortBy(e => (e._2.getTime, e._3))
        .map(e => math.floor(e._4 * 100).toLong * TimeSeries.EwmaScale)
      val s = xs.tail.foldLeft(xs.head)((acc, x) =>
        Math.floorDiv(x + (TimeSeries.EwmaDen - 1L) * acc, TimeSeries.EwmaDen))
      (u, xs.size.toLong, s, xs.last / TimeSeries.EwmaScale)
    }.sortBy(_._1)
    assert(got == expect)
  }
  test("holt: the shift-floored fold matches a driver-side reference") {
    import spark.implicits._
    // user 1: four consecutive days, rising spend 1.00 / 2.00 / 3.00 / 4.00
    // (positive trend); user 2: one day (level = y1, trend 0); user 3:
    // falling spend with a zero-filled gap day (negative trend exercises
    // the arithmetic-shift floor on negatives)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), "purchase", 1.00),
      (1L, ts("2024-01-02 10:00:00"), "purchase", 2.00),
      (1L, ts("2024-01-03 10:00:00"), "purchase", 3.00),
      (1L, ts("2024-01-04 10:00:00"), "purchase", 4.00),
      (2L, ts("2024-02-01 00:00:00"), "purchase", 7.25),
      (3L, ts("2024-03-01 12:00:00"), "purchase", 9.00),
      (3L, ts("2024-03-03 12:00:00"), "purchase", 1.00), // day 2 is a gap
      (3L, ts("2024-03-02 09:00:00"), "view", 50.0)      // never enters
    ).toDF("user_id", "ts", "event_type", "value")

    def ref(ys: Seq[Long]): (Long, Long) = {
      val S = TimeSeries.EwmaScale
      ys.tail.foldLeft((ys.head * S, 0L)) { case ((l, b), y) =>
        val l2 = (y * S + l + b) >> 1
        (l2, (l2 - l + b) >> 1)
      }
    }
    val got = TimeSeries.holtOf(events)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val e1 = ref(Seq(100L, 200L, 300L, 400L))
    val e2 = ref(Seq(725L))
    val e3 = ref(Seq(900L, 0L, 100L))
    assert(got == Seq(
      (1L, 4L, e1._1, e1._2, e1._1 + 7 * e1._2),
      (2L, 1L, e2._1, e2._2, e2._1 + 7 * e2._2),
      (3L, 3L, e3._1, e3._2, e3._1 + 7 * e3._2)), got.toString)
    // direction sanity: rising spend → positive trend, falling → negative
    assert(e1._2 > 0L && e3._2 < 0L && e2._2 == 0L)
  }

  test("holt: same-day purchases sum into one observation") {
    import spark.implicits._
    val events = Seq(
      (9L, ts("2024-05-01 01:00:00"), "purchase", 1.00),
      (9L, ts("2024-05-01 23:00:00"), "purchase", 2.00),
      (9L, ts("2024-05-02 02:00:00"), "purchase", 5.00)
    ).toDF("user_id", "ts", "event_type", "value")
    val r = TimeSeries.holtOf(events).collect().head
    assert(r.getLong(1) == 2L) // two days
    // l2 = (500*S + 300*S + 0) >> 1 = 400*S; b2 = (400S - 300S) >> 1 = 50S
    val S = TimeSeries.EwmaScale
    assert(r.getLong(2) == 400L * S && r.getLong(3) == 50L * S)
  }

  test("holt-winters: the 9-slot rotating fold matches a driver-side reference") {
    import spark.implicits._
    // 14 days: weekday-0 spikes (10.00) over a flat 1.00 base — two full
    // weekly cycles, so the head seasonal slot has been refreshed and the
    // next-day forecast must carry the learned weekly component
    val base = Timestamp.valueOf("2024-01-01 12:00:00").getTime
    val events = (0 until 14).map { d =>
      val v = if (d % 7 == 0) 10.00 else 1.00
      (1L, new Timestamp(base + d * 86400000L), "purchase", v)
    }.toDF("user_id", "ts", "event_type", "value")

    def ref(ys: Seq[Long]): Vector[Long] = {
      val S = TimeSeries.EwmaScale
      ys.tail.foldLeft(Vector(ys.head * S, 0L) ++ Vector.fill(7)(0L)) { (acc, y) =>
        val l2 = (y * S - acc(2) + acc(0) + acc(1)) >> 1
        val b2 = (l2 - acc(0) + acc(1)) >> 1
        val s2 = (y * S - l2 + acc(2)) >> 1
        Vector(l2, b2) ++ acc.slice(3, 9) :+ s2
      }
    }
    val ys = (0 until 14).map(d => if (d % 7 == 0) 1000L else 100L)
    val e = ref(ys)
    val got = TimeSeries.holtWintersOf(events)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 14L, e(0), e(1), e(2), e(0) + e(1) + e(2))), got.toString)
    // day 15 is a spike weekday: its seasonal must push the forecast ABOVE
    // the trend-only projection
    assert(e(2) > 0L, s"spike-day seasonal should be positive: ${e(2)}")
  }

  test("holt-winters: seasonal slot alignment survives a gap day") {
    import spark.implicits._
    // 9 observed days with day 4 missing (zero-filled): the rotation must
    // still consume exactly one slot per GRID day, so the reference fold
    // over the zero-filled series is the contract
    val base = Timestamp.valueOf("2024-02-01 00:30:00").getTime
    val events = (0 until 9).filter(_ != 4).map { d =>
      (2L, new Timestamp(base + d * 86400000L), "purchase", (d + 1).toDouble)
    }.toDF("user_id", "ts", "event_type", "value")
    val ys = (0 until 9).map(d => if (d == 4) 0L else (d + 1) * 100L)
    def ref(v: Seq[Long]): Vector[Long] = {
      val S = TimeSeries.EwmaScale
      v.tail.foldLeft(Vector(v.head * S, 0L) ++ Vector.fill(7)(0L)) { (acc, y) =>
        val l2 = (y * S - acc(2) + acc(0) + acc(1)) >> 1
        val b2 = (l2 - acc(0) + acc(1)) >> 1
        val s2 = (y * S - l2 + acc(2)) >> 1
        Vector(l2, b2) ++ acc.slice(3, 9) :+ s2
      }
    }
    val e = ref(ys)
    val r = TimeSeries.holtWintersOf(events).collect().head
    assert(r.getLong(1) == 9L && r.getLong(2) == e(0) &&
      r.getLong(3) == e(1) && r.getLong(4) == e(2), r.toString)
  }

  test("holt-winters on random events: one row per key, the day span within " +
    "the window, forecast = level + trend + next seasonal") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 4000 purchases of 50 users over a 30-day window
    val users = 50L
    val events = spark.range(4000L).select(
      pmod(xxhash64($"id" * 7 + 1), lit(users)).as("user_id"),
      timestamp_micros(lit(1700000000000000L) +
        pmod(xxhash64($"id" * 13 + 5), lit(30L * 86400 * 1000000L))).as("ts"),
      lit("purchase").as("event_type"),
      (pmod(xxhash64($"id" * 31 + 11), lit(10000L)).cast("double") / 100.0)
        .as("value"))
    val (keys, longSpans, offIdentity) = TimeSeries.holtWintersOf(events)
      .agg(count(lit(1)),
        sum(when($"n_days" > 31, 1L).otherwise(0L)),
        sum(when($"forecast1_micro" =!=
          $"level_micro" + $"trend_micro" + $"season_next_micro", 1L)
          .otherwise(0L)))
      .as[(Long, Long, Long)].head()
    assert(keys == users, s"holt-winters lost keys: $keys")
    assert(longSpans == 0L, s"$longSpans keys span more days than the window")
    assert(offIdentity == 0L, s"$offIdentity forecasts off the identity")
  }
}

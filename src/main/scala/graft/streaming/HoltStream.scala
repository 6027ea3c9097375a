package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.relational.TimeSeries

/** Streaming HOLT–WINTERS forecasting — the live twin of the batch
  * `q_ts_holt_winters` (`TimeSeries.holtWinters`): per user, event-time
  * DAY buckets seal as the watermark passes their end (the
  * [[TimeSeriesStream.bucketFold]] sealer), each sealed day's
  * purchase-cents total — zero for interior gap days, exactly as the
  * batch grid materializes them — folds through the identical
  * shift-floored α = β = γ = 1/2 recursion, and every call that seals
  * at least one day emits the user's REFRESHED
  * (level, trend, next-day seasonal, 1-day forecast) row. Live
  * forecasting is the point of the streaming form: the projection
  * updates the moment a day closes, not at the next nightly batch.
  *
  * Semantics ≡ batch (pinned in `HoltStreamSpec`): the day grid starts
  * at the user's first observed day and never runs ahead of the data
  * (terminal silence emits nothing and parks the key with no timer);
  * once every observed day has sealed, the LAST emission per user is
  * bit-identical to the batch fold over the same events.
  *
  * State contract at scale: one [[KeyedFold.eventTime]] fold per user;
  * its one state value holds the next day to seal, the OPEN days above
  * the watermark (at most horizon/day + 1, never stream length), the day
  * count and the 9-long [l, b, s₁..s₇] register, beside the one armed
  * timer. Late rows below a sealed day are dropped by the WATERMARK
  * before the fold, counted in the query's numRowsDroppedByWatermark
  * metric (sealing never runs ahead of the watermark, so a row under a
  * sealed day is always under the watermark too; the sealer's
  * `b >= next` guard is the defensive second line — `HoltStreamSpec`
  * pins emissions unchanged and the drop counted). Parallelism is the
  * user-key hash partitioning, Flink's keyed scope.
  */
object HoltStream {

  val DayMs: Long = 86400000L

  case class HwRow(user_id: Long, n_days: Long, level_micro: Long,
      trend_micro: Long, season_next_micro: Long, forecast1_micro: Long)
  /** `nDays` = days folded so far; `st` = the [l, b, s₁..s₇] register
    * (empty until the first seal). */
  case class HwState(nDays: Long, st: Array[Long])

  /** `events`: (user_id, ts, event_type, value) streaming or batch frame —
    * the driver events shape. `delay` is the out-of-orderness bound. */
  def forecasts(events: DataFrame, delay: String = "30 minutes"): Dataset[HwRow] = {
    val s = events.sparkSession
    import s.implicits._
    // The sealer buckets days by UTC epoch-day arithmetic
    // (floorDiv(ts, DayMs) — timers must align with epoch-day boundaries),
    // while the batch twin buckets via session-timezone to_date: the
    // documented streaming ≡ batch bit-identity holds only under UTC, so
    // fail loudly instead of silently drifting (r10 ADVICE).
    require(s.conf.get("spark.sql.session.timeZone") == "UTC",
      "HoltStream.forecasts requires spark.sql.session.timeZone=UTC: day " +
        "buckets and sealing timers are epoch-day aligned, and the batch " +
        "twin (TimeSeries.holtWinters) buckets via session-timezone to_date")
    TimeSeriesStream.bucketFold(events, delay, DayMs,
        HwState(0L, Array.emptyLongArray)) { (key, hw, closed) =>
      val st = closed.foldLeft(hw.st) { case (st, (_, cents)) =>
        if (st.isEmpty) seed(cents) else step(st, cents)
      }
      val n = hw.nDays + closed.size
      (HwState(n, st),
        Iterator.single(HwRow(key, n, st(0), st(1), st(2), st(0) + st(1) + st(2))))
    }
  }

  /** One fold step of the batch recursion: `st` must be the 9-long
    * register. */
  private def step(st: Array[Long], yCents: Long): Array[Long] = {
    val S = TimeSeries.EwmaScale
    val y = yCents * S
    val l2 = (y - st(2) + st(0) + st(1)) >> 1
    val b2 = (l2 - st(0) + st(1)) >> 1
    val s2 = (y - l2 + st(2)) >> 1
    val out = new Array[Long](9)
    out(0) = l2; out(1) = b2
    System.arraycopy(st, 3, out, 2, 6)
    out(8) = s2
    out
  }

  private def seed(yCents: Long): Array[Long] = {
    val out = new Array[Long](9)
    out(0) = yCents * TimeSeries.EwmaScale
    out
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.relational.TimeSeries

/** Streaming per-user EWMA — the live twin of the batch `q_ts_ewma`
  * (`graft.relational.TimeSeries.ewma`): the exponentially-weighted
  * spend level is THE canonical streaming statistic (a sequential fold
  * whose state is one number), so the streaming form carries exactly that:
  * per user one ValueState holding the current smoothed level, updated
  * with the same exact integer step `s′ = (x + (EwmaDen−1)·s) div
  * EwmaDen` the batch fold applies, and each micro-batch emits the
  * user's refreshed (n_obs, ewma_micro, last_cents) row.
  *
  * Semantics ≡ batch (pinned in `EwmaStreamSpec`): on event-time-ordered
  * ingest the final emission per user is bit-identical to the batch
  * fold — floor division at every STEP, micro-cent scaling, purchase
  * rows only. Ordering and state contract are [[KeyedFold]]'s, sorted by
  * (ts, event_id) within a batch; the state is one [[Level]] per user.
  */
object EwmaStream {

  case class PEvent(user_id: Long, ts_ms: Long, event_id: Long, x: Long)
  case class EwmaRow(user_id: Long, n_obs: Long, ewma_micro: Long, last_cents: Long)
  case class Level(s: Long, n: Long, lastX: Long)

  /** `events`: (user_id, ts, event_type, value, event_id) streaming or
    * batch frame — the driver events shape. Emits one refreshed row per
    * user per micro-batch that touched it. */
  def levels(events: DataFrame): Dataset[EwmaRow] = {
    val s = events.sparkSession
    import s.implicits._
    val ev = events
      .filter($"event_type" === "purchase")
      .select($"user_id",
        (unix_timestamp(date_trunc("second", $"ts")) * 1000L).as("ts_ms"),
        $"event_id",
        (floor($"value" * 100).cast("long") * TimeSeries.EwmaScale).as("x"))
      .as[PEvent]
    KeyedFold.run(ev)(_.user_id, "level", Encoders.product[Level], null,
        Some(Ordering.by(e => (e.ts_ms, e.event_id)))) { (key, s0, rows) =>
      val st = rows.foldLeft(s0) { (st, e) =>
        if (st == null) Level(e.x, 1L, e.x)
        else Level(
          // plain Long division == Spark's `div` (IntegralDivide truncates
          // toward zero); operands are non-negative so it also equals the
          // oracle's flooring `//`
          (e.x + (TimeSeries.EwmaDen - 1L) * st.s) / TimeSeries.EwmaDen,
          st.n + 1L, e.x)
      }
      (st, Iterator.single(
        EwmaRow(key, st.n, st.s, st.lastX / TimeSeries.EwmaScale)))
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Streaming time-weighted average — the live twin of the batch
  * `q_ts_twa` (`graft.relational.TimeSeries.twa`): the holding-interval
  * integral accrues incrementally — each arriving purchase CLOSES the
  * previous value's holding interval (num += prev_cents·dur,
  * den += dur) and opens its own — so per user the state is five
  * scalars: the open position (ts, cents) and the running
  * (num, den, n). Each micro-batch that extends a user's integral emits
  * the refreshed (n_obs, span_s, twa_cents) row.
  *
  * Semantics ≡ batch (pinned in `TwaStreamSpec`): on event-time-ordered
  * ingest the final emission per user matches the batch lead-window
  * integral exactly, including the exclusion of zero-span users and the
  * truncating integer division. Ordering and state contract are
  * [[KeyedFold]]'s, sorted by (ts, event_id) within a batch; the state is
  * one 5-scalar [[Pos]] per user. */
object TwaStream {

  case class PEvent(user_id: Long, ts_sec: Long, event_id: Long, cents: Long)
  case class TwaRow(user_id: Long, n_obs: Long, span_s: Long, twa_cents: Long)
  case class Pos(ts_sec: Long, cents: Long, num: Long, den: Long, n: Long)

  /** `events`: (user_id, ts, event_type, value, event_id) streaming or
    * batch frame — the driver events shape. */
  def levels(events: DataFrame): Dataset[TwaRow] = {
    val s = events.sparkSession
    import s.implicits._
    val ev = events
      .filter($"event_type" === "purchase")
      .select($"user_id",
        unix_timestamp(date_trunc("second", $"ts")).as("ts_sec"),
        $"event_id",
        floor($"value" * 100).cast("long").as("cents"))
      .as[PEvent]
    KeyedFold.run(ev)(_.user_id, "pos", Encoders.product[Pos], null,
        Some(Ordering.by(e => (e.ts_sec, e.event_id)))) { (key, s0, rows) =>
      val st = rows.foldLeft(s0) { (st, e) =>
        if (st == null) Pos(e.ts_sec, e.cents, 0L, 0L, 1L)
        else {
          val dur = e.ts_sec - st.ts_sec
          Pos(e.ts_sec, e.cents,
            st.num + st.cents * dur, st.den + dur, st.n + 1L)
        }
      }
      // zero-span users (all purchases in one second) have no level to
      // average yet — same exclusion as the batch HAVING
      (st,
        if (st.den > 0L) Iterator.single(TwaRow(key, st.n, st.den, st.num / st.den))
        else Iterator.empty)
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.relational.Paths

/** Streaming event-type TRANSITIONS — the live feed of the batch
  * `q_path_transitions` matrix (`graft.relational.Paths.transitionsOf`):
  * per user, every consecutive event pair within the
  * [[Paths.TransitionGapMin]] session gap emits one (src, dst, gap_s)
  * row; the downstream matrix is a plain streaming aggregation over these
  * (or the batch rollup — `TransitionStreamSpec` pins the PAIR stream
  * against the batch matrix counts).
  *
  * Ordering and state contract are [[KeyedFold]]'s, sorted by
  * (ts, event_id) within a batch; the state is the user's last event
  * (ts, id, type). On event-time-ordered ingest the emitted pairs equal
  * the batch lag-window extraction exactly.
  */
object TransitionStream {

  case class PEvent(user_id: Long, ts_ms: Long, event_id: Long, event_type: String)
  case class Transition(user_id: Long, src: String, dst: String, gap_s: Long)
  case class LastEv(ts_ms: Long, event_id: Long, typ: String)

  /** `events`: (user_id, ts, event_type, event_id) streaming or batch
    * frame — the driver events shape. */
  def transitions(events: DataFrame): Dataset[Transition] = {
    val s = events.sparkSession
    import s.implicits._
    val ev = events
      .select($"user_id",
        (unix_timestamp(date_trunc("second", $"ts")) * 1000L).as("ts_ms"),
        $"event_id", $"event_type")
      .as[PEvent]
    KeyedFold.run(ev)(_.user_id, "last", Encoders.product[LastEv], null,
        Some(Ordering.by(e => (e.ts_ms, e.event_id)))) { (key, s0, rows) =>
      var prev = s0
      val out = Vector.newBuilder[Transition]
      rows.foreach { e =>
        if (prev != null) {
          val gapS = (e.ts_ms - prev.ts_ms) / 1000L
          if (gapS <= Paths.TransitionGapMin * 60L)
            out += Transition(key, prev.typ, e.event_type, gapS)
        }
        prev = LastEv(e.ts_ms, e.event_id, e.event_type)
      }
      (prev, out.result().iterator)
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.relational.Paths

/** Streaming sessionization — the live twin of the batch `q_sessionize`
  * (`graft.relational.Paths.sessionizeOf`), with Flink's MERGING session
  * window semantics: per user, events accrete into OPEN sessions (an
  * out-of-order event may extend a session backwards or BRIDGE two open
  * sessions, which then merge); a session seals when the event-time
  * WATERMARK passes its gap horizon (`last + gap`), emitting the same
  * (session_id, span, composition) row the batch rollup produces, with
  * ids assigned in seal order — chronological, because session intervals
  * of one user are disjoint.
  *
  * Semantics ≡ batch (pinned in `SessionStreamSpec`): same strict-> gap
  * split, same composition counts; on event-time-ordered ingest the
  * sealed sessions are exactly the batch rows. Terminal sessions (no
  * later event, watermark parked) stay open — the streaming contract; a
  * watermark-advancing later event seals them lazily.
  *
  * State contract at scale: one [[KeyedFold.eventTime]] fold per user,
  * sorted by (ts_sec, event_id) within a batch; its one state value holds
  * the OPEN sessions — bounded by (out-of-orderness horizon)/gap, never by
  * stream length — plus two scalars (next id, sealed frontier), beside
  * the one armed timer (the earliest open session's seal instant). Late
  * events behind the sealed frontier are dropped (the standard late-data
  * contract). */
object SessionStream {

  val GapS: Long = Paths.TransitionGapMin * 60L

  case class SEvent(user_id: Long, ts_sec: Long, event_id: Long, purch: Long)
  case class SessRow(user_id: Long, session_id: Long, start_sec: Long,
      end_sec: Long, n_events: Long, n_purchases: Long, duration_s: Long)
  case class Open(start: Long, last: Long, n: Long, np: Long)
  /** `frontier` is [[NoVal]] until the first seal. */
  case class SessCtrl(nextId: Long, frontier: Long, opens: Seq[Open])

  val NoVal: Long = Long.MinValue

  /** `events`: (user_id, ts, event_type, event_id) streaming or batch
    * frame — the driver events shape. `delay` bounds out-of-orderness. */
  def sessions(events: DataFrame, delay: String = "30 minutes"): Dataset[SessRow] = {
    val s = events.sparkSession
    import s.implicits._
    val ev = events
      .select($"user_id", date_trunc("second", $"ts").as("event_ts"),
        $"event_id",
        when($"event_type" === "purchase", 1L).otherwise(0L).as("purch"))
      .withWatermark("event_ts", delay)
      .select($"user_id", (unix_timestamp($"event_ts")).as("ts_sec"),
        $"event_id", $"purch")
      .as[SEvent]
    KeyedFold.eventTime(ev)(_.user_id, "sess", Encoders.product[SessCtrl],
        SessCtrl(1L, NoVal, Vector.empty),
        Some(Ordering.by((e: SEvent) => (e.ts_sec, e.event_id)))) { (key, c0, rows, wmMs) =>
      // behind the sealed frontier = the session it belonged to already
      // emitted: dropped (late-data contract)
      val opens = rows.foldLeft(c0.opens.toVector) { (opens, e) =>
        if (c0.frontier == NoVal || e.ts_sec > c0.frontier + GapS) insert(opens, e)
        else opens
      }
      // seal every open session whose gap horizon the watermark passed
      val (closed, open) = opens.partition(o => (o.last + GapS + 1L) * 1000L <= wmMs)
      val out = closed.zipWithIndex.map { case (o, i) =>
        SessRow(key, c0.nextId + i, o.start, o.last, o.n, o.np, o.last - o.start)
      }
      val frontier =
        if (closed.isEmpty) c0.frontier
        else math.max(c0.frontier, closed.map(_.last).max)
      (SessCtrl(c0.nextId + closed.size, frontier, open), out.iterator,
        open.map(_.last).minOption.map(l => (l + GapS + 1L) * 1000L))
    }
  }

  /** Insert one event into the sorted open-session list, merging any
    * sessions it bridges. */
  private def insert(opens: Vector[Open], e: SEvent): Vector[Open] = {
    // sessions the event touches: [start − gap, last + gap] ∋ ts
    val (touched, rest) = opens.partition(o =>
      e.ts_sec >= o.start - GapS && e.ts_sec <= o.last + GapS)
    val merged =
      if (touched.isEmpty) Open(e.ts_sec, e.ts_sec, 1L, e.purch)
      else Open(
        math.min(touched.map(_.start).min, e.ts_sec),
        math.max(touched.map(_.last).max, e.ts_sec),
        touched.map(_.n).sum + 1L,
        touched.map(_.np).sum + e.purch)
    (rest :+ merged).sortBy(_.start)
  }
}

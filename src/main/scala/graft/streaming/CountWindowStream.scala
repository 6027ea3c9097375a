package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** COUNT windows over a keyed stream — Flink's
  * `keyedStream.countWindow(n)` (the trigger-on-size window of the
  * DataStream API): per key, every [[CountWindowStream.windows]] `n`-th
  * event closes a window and emits its aggregate; the tail stays pending
  * until filled (Flink's count trigger never fires a partial window).
  *
  * A [[KeyedFold]] whose state per key is (window ordinal, fill count,
  * first event) — no buffering of window members (the aggregate here —
  * first/last/count — folds incrementally; a holistic aggregate would
  * buffer at most n-1 rows). Ordering contract is KeyedFold's, sorted by
  * event_id within a batch: when upstream event_ids are arrival-ordered
  * (the normal ingest case), the result equals the batch `q_window_count`
  * restricted to complete windows — pinned in `CountWindowStreamSpec`.
  */
object CountWindowStream {

  case class CwEvent(user_id: Long, event_id: Long)
  case class CwWindow(user_id: Long, win_id: Long, n_events: Long,
      first_ev: Long, last_ev: Long)
  case class CwState(win: Long, cnt: Long, first: Long)

  def windows(ds: Dataset[CwEvent], n: Int): Dataset[CwWindow] = {
    val s = ds.sparkSession
    import s.implicits._
    KeyedFold.run(ds)(_.user_id, "cw", Encoders.product[CwState],
        CwState(0L, 0L, -1L), Some(Ordering.by(_.event_id))) { (key, s0, rows) =>
      var st = s0
      val out = Vector.newBuilder[CwWindow]
      rows.foreach { e =>
        val first = if (st.cnt == 0L) e.event_id else st.first
        val cnt = st.cnt + 1L
        if (cnt == n) {
          out += CwWindow(key, st.win, n.toLong, first, e.event_id)
          st = CwState(st.win + 1L, 0L, -1L)
        } else st = CwState(st.win, cnt, first)
      }
      (st, out.result().iterator)
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.relational.TimeSeries

/** Streaming CUSUM — the live twin of the batch `q_ts_cusum`
  * (`graft.relational.TimeSeries.cusum`): drift monitoring is CUSUM's
  * native habitat (Page 1954 defined it as a SEQUENTIAL test — observe,
  * update one statistic, stop at the first threshold crossing), so the
  * streaming form is the algorithm as published. Per user the processor
  * first CALIBRATES (buffers the first [[TimeSeries.CusumTrainN]]
  * purchase cents, then freezes μ), then MONITORS: the same exact integer
  * recursion `S = max(0, S + x − μ − μ div 4)` as the batch fold, breach
  * at the first `S > 3μ`. Each micro-batch that touches a calibrated user
  * emits the refreshed (n_obs, mu_cents, s_max, breach_at) row.
  *
  * Semantics ≡ batch (pinned in `CusumStreamSpec`): on event-time-ordered
  * ingest the final emission per user is bit-identical to the batch fold /
  * closed form. Ordering and state contract are [[KeyedFold]]'s, sorted
  * by (ts, event_id) within a batch; the state per user is a ≤TrainN
  * calibration buffer that collapses to the 5-long scalar state
  * (μ, S, s_max, breach, i) the moment calibration completes. */
object CusumStream {

  case class PEvent(user_id: Long, ts_ms: Long, event_id: Long, x: Long)
  case class CusumRow(user_id: Long, n_obs: Long, mu_cents: Long,
      s_max: Long, breach_at: Long)
  /** `buf` holds calibration cents until [[TimeSeries.CusumTrainN]] are
    * seen; afterwards it stays empty and (mu, s, smax, b, i) monitor. */
  case class CuState(buf: Seq[Long], n: Long, mu: Long,
      s: Long, smax: Long, b: Long, i: Long)

  /** `events`: (user_id, ts, event_type, value, event_id) streaming or
    * batch frame — the driver events shape. */
  def monitor(events: DataFrame): Dataset[CusumRow] = {
    val s = events.sparkSession
    import s.implicits._
    val ev = events
      .filter($"event_type" === "purchase")
      .select($"user_id",
        (unix_timestamp(date_trunc("second", $"ts")) * 1000L).as("ts_ms"),
        $"event_id",
        floor($"value" * 100).cast("long").as("x"))
      .as[PEvent]
    val trainN = TimeSeries.CusumTrainN
    KeyedFold.run(ev)(_.user_id, "cusum", Encoders.product[CuState],
        CuState(Vector.empty, 0L, 0L, 0L, 0L, 0L, 0L),
        Some(Ordering.by(e => (e.ts_ms, e.event_id)))) { (key, s0, rows) =>
      val st = rows.foldLeft(s0) { (st, e) =>
        if (st.n < trainN) {
          val buf = st.buf :+ e.x
          if (buf.size == trainN)
            // calibration completes: μ = floor mean, buffer collapses
            st.copy(buf = Nil, n = st.n + 1L, mu = buf.sum / trainN)
          else st.copy(buf = buf, n = st.n + 1L)
        } else {
          // plain Long division == Spark's `div`; operands non-negative
          val s2 = math.max(0L, st.s + e.x - st.mu - st.mu / TimeSeries.CusumKDiv)
          val i2 = st.i + 1L
          st.copy(n = st.n + 1L, s = s2, smax = math.max(st.smax, s2),
            b = if (st.b > 0L) st.b
              else if (s2 > TimeSeries.CusumHMult * st.mu) i2 else 0L,
            i = i2)
        }
      }
      (st,
        if (st.n > trainN) Iterator.single(CusumRow(key, st.n, st.mu, st.smax, st.b))
        else Iterator.empty)
    }
  }
}

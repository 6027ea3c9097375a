package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** A per-key running fold over a stream — the reference's third solution,
  * keyed state driven by the arriving events
  * (FlinkProcessFunctionExample.scala:90-111's per-key running state),
  * as one `transformWithState` processor that the fold streams
  * ([[EwmaStream]], [[TwaStream]], [[CusumStream]], [[TransitionStream]],
  * [[CountWindowStream]], [[PackStream]], [[TopKStream]], [[DqStream]],
  * [[SampleStream]], [[QuantileStream]]) each instantiate with their own
  * per-batch function.
  *
  * Per micro-batch and key it reads the key's ONE ValueState (`zero` when
  * the key is new), hands it with the batch's rows of that key to `fold`,
  * writes the returned state back and emits the returned rows. `fold` sees
  * the whole batch slice at once, so it may keep a mutable accumulator
  * for the batch; it must finish its state before returning (the output
  * iterator is drained after the write). `zero` may be `null` for a fold
  * that starts from its first event: Spark calls the processor only for
  * keys with at least one row, so such a fold always returns a state. No
  * timers and no TTL: state is whatever `fold` keeps, O(1) in stream
  * length for every fold above. The event-time form with one timer per
  * key is [[KeyedFold.eventTime]].
  *
  * Ordering contract: ACROSS micro-batches, arrival order; WITHIN a
  * micro-batch, `order` when given — Spark's shuffle does not preserve
  * per-key FIFO inside a batch (unlike Flink's per-channel FIFO), so an
  * order-sensitive fold imposes a deterministic sort (event time, then
  * event id) on each batch's slice, which also makes replays reproduce
  * the same outputs. Order-insensitive folds (counters, histograms,
  * bottom-k) pass no order. When ingest is event-time ordered (the normal
  * case) a sorted fold's final emission equals its batch twin; an event
  * that arrives in a LATER micro-batch than an event-time-later one is
  * folded after it, and the stream then diverges from the batch fold
  * (pinned in `KeyedFoldSpec`). */
final class KeyedFold[K, In, S, Out](
    stateName: String,
    stateEncoder: Encoder[S],
    zero: S,
    order: Option[Ordering[In]],
    fold: (K, S, Iterator[In]) => (S, Iterator[Out]))
  extends StatefulProcessor[K, In, Out] {

  @transient private var state: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[S](stateName, stateEncoder, TTLConfig.NONE)

  override def handleInputRows(key: K, rows: Iterator[In],
      timerValues: TimerValues): Iterator[Out] = {
    val in = order.fold(rows)(o => rows.toVector.sorted(o).iterator)
    val (next, out) = fold(key, if (state.exists()) state.get() else zero, in)
    state.update(next)
    out
  }
}

object KeyedFold {

  /** `in.groupByKey(key)` folded by one [[KeyedFold]] with the given state
    * handle — the whole stateful plan of a fold stream. */
  def run[K: Encoder, In, S, Out: Encoder](in: Dataset[In])(key: In => K,
      stateName: String, stateEncoder: Encoder[S], zero: S,
      order: Option[Ordering[In]] = None)(
      fold: (K, S, Iterator[In]) => (S, Iterator[Out])): Dataset[Out] =
    in.groupByKey(key).transformWithState(
      new KeyedFold(stateName, stateEncoder, zero, order, fold),
      TimeMode.None(), OutputMode.Append())

  /** The event-time form — keyed state plus ONE event-time timer per key,
    * the reference's `onTimer` shape (FlinkProcessFunctionExample.scala:
    * 44-111) that [[TimeSeriesStream]], [[HoltStream]], [[SessionStream]],
    * [[DynamicRuleStream]] and [[CepStream]] instantiate. `in` must carry a
    * watermark.
    *
    * `fold` also sees the current watermark (ms) and returns the instant
    * it next wants to be called, or None: `(key, state, rows, wm) =>
    * (state, outputs, wakeAt)`. The processor keeps the armed instant
    * beside the fold state in the key's one ValueState `(state, armed)`, so
    * each call is one get and one put; it re-arms exactly (delete the old
    * timer, register the new one) only when the instant changes, and when
    * the timer fires it calls `fold` with NO rows. A key with no wake is
    * called again only when it has rows. A fold that returns a null state
    * and no wake clears the key's row, so an idle key costs no storage
    * (the next call starts from `zero`). Everything else a stream keeps
    * lives in its state: [[CepStream]]'s buffered events, runner snapshot
    * and match counter are fields of its one value. Rows below the
    * watermark are dropped by the framework before `fold` (counted in the
    * query's numRowsDroppedByWatermark); `order` sorts each batch slice as
    * in [[KeyedFold]]. */
  def eventTime[K: Encoder, In, S, Out: Encoder](in: Dataset[In])(key: In => K,
      stateName: String, stateEncoder: Encoder[S], zero: S,
      order: Option[Ordering[In]] = None)(
      fold: (K, S, Iterator[In], Long) => (S, Iterator[Out], Option[Long])): Dataset[Out] =
    in.groupByKey(key).transformWithState(
      new Timed(stateName, stateEncoder, zero, order, fold),
      TimeMode.EventTime(), OutputMode.Append())

  private val NoWake = Long.MinValue

  /** The processor of [[eventTime]]. */
  private final class Timed[K, In, S, Out](
      stateName: String,
      stateEncoder: Encoder[S],
      zero: S,
      order: Option[Ordering[In]],
      fold: (K, S, Iterator[In], Long) => (S, Iterator[Out], Option[Long]))
    extends StatefulProcessor[K, In, Out] {

    @transient private var state: ValueState[(S, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(S, Long)](stateName,
        Encoders.tuple(stateEncoder, Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[In],
        timerValues: TimerValues): Iterator[Out] =
      call(key, order.fold(rows)(o => rows.toVector.sorted(o).iterator),
        timerValues, NoWake)

    override def handleExpiredTimer(key: K, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Out] =
      call(key, Iterator.empty, timerValues, expired.getExpiryTimeInMs())

    /** One fold call; `fired` is the timer that just expired (it is no
      * longer registered) or NoWake. */
    private def call(key: K, rows: Iterator[In], timerValues: TimerValues,
        fired: Long): Iterator[Out] = {
      val row = state.get() // null when the key has no row: one get
      val (s0, stored) = if (row == null) (zero, NoWake) else row
      val armed = if (stored == fired) NoWake else stored
      val (s1, out, wake) =
        fold(key, s0, rows, timerValues.getCurrentWatermarkInMs())
      val next = wake.getOrElse(NoWake)
      if (next != armed) {
        if (armed != NoWake) getHandle.deleteTimer(armed)
        if (next != NoWake) getHandle.registerTimer(next)
      }
      if (s1 != null || next != NoWake) state.update((s1, next))
      else if (row != null) state.clear()
      out
    }
  }
}

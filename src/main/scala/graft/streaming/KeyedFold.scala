package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
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
  * length for every fold above.
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
}

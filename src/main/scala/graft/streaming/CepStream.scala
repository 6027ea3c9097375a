package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming._

import graft.pattern.{NFA, NfaRunner, Pattern}

/** Structured Streaming execution of a [[graft.pattern.Pattern]] — the
  * engine's equivalent of the reference's streaming CEP operator with
  * event-time timers (`FlinkCEPExample.scala:76`,
  * `FlinkCEPAbsenceOfEventExample.scala:78-106`,
  * `FlinkProcessFunctionExample.scala:44-87`).
  *
  * Implementation: `transformWithState` (Spark 4.x) in EventTime mode with a
  * per-key [[graft.streaming.CepProcessor]]:
  *   - out-of-order events buffer in `ListState` until the watermark passes
  *     them (the reference buffers in the CEP operator until watermark,
  *     SURVEY.md §2.2 item 8); rows later than the watermark are dropped by
  *     the framework, matching Flink's late-event drop;
  *   - events at or before the watermark are sorted and fed to the
  *     incremental [[NfaRunner]], whose state snapshots into `ValueState`
  *     between micro-batches;
  *   - `registerTimer` fires on watermark advance for (a) buffered events
  *     that became ready and (b) `within` deadlines, so ABSENCE timeouts
  *     emit even when a key receives no further events — real per-key
  *     event-time timers, like Flink's, not the single-timeout
  *     `flatMapGroupsWithState` fallback (SURVEY.md §7.4 item 4);
  *   - matches and timeouts emit into ONE output stream as a tagged ADT
  *     (no side outputs in Spark — split downstream by `kind`).
  *
  * Scale: state per key = live partials (bounded by the `within` horizon) +
  * events buffered within the watermark delay. Use the RocksDB state store
  * provider (see [[CepStream.rocksConf]]) for large keyspaces.
  */
object CepStream {

  /** Config pairs for the RocksDB state store provider (production path).
    * Changelog checkpointing: commit the per-batch DELTA instead of a full
    * store snapshot per partition per batch — at large key counts the
    * per-batch snapshot upload is the throughput floor, not the per-key
    * get/put work (measured in r9).
    *
    * PARTITION SIZING (r10, revised r12): every state-store partition
    * pays a FIXED per-batch commit cost (RocksDB commit + changelog write
    * + timer sweep), so size `spark.sql.shuffle.partitions` to at most
    * cores — ONE task wave per micro-batch — BEFORE starting a stateful
    * query (the first checkpoint pins it for the query's lifetime).
    * Measured at 250k-row triggers, 1M events, 100k keys, local[32]
    * (r10, MemoryStream feed): 64 partitions = 68.8k ev/s, 32 = 115.7k,
    * 16 = 117.7k. r12, with a parquet file-stream feed so driver-side
    * row shipping no longer masks the operator (medians of 3, ±15-20% box
    * noise across invocations):
    * 32 partitions = 164-187k, 16 = 214-221k quiesced / 228-280k
    * pipelined — once input delivery is off the critical path, the
    * per-trigger commit fan-out is the remaining floor and cores/2 wins
    * ~20%. Rule: partitions = the smallest count whose per-partition row
    * work still saturates a task (≈ cores/2 at these trigger sizes),
    * never more than cores. The streaming layer of `perfbench`'s traced
    * `cep_batch` run measures this operator today. */
  val rocksConf: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Run `pattern` per key over a streaming Dataset. `tsFn` must return the
    * same event-time (epoch ms) that the watermark column carries.
    */
  def matchPattern[K, T, O](
      ds: Dataset[T],
      keyFn: T => K,
      tsFn: T => Long,
      pattern: Pattern[T],
      emitMatch: (K, NFA.PatternMatch[T]) => IterableOnce[O],
      emitTimeout: (K, NFA.PatternTimeout[T]) => IterableOnce[O])(
      implicit ke: Encoder[K], te: Encoder[T], oe: Encoder[O],
      ct: scala.reflect.ClassTag[T]): Dataset[O] =
    matchPatternNumbered(ds, keyFn, tsFn, pattern,
      (k: K, m: NFA.PatternMatch[T], _: Long) => emitMatch(k, m), emitTimeout)

  /** Like [[matchPattern]], but `emitMatch` also receives the 1-based
    * per-key LIFETIME match number (SQL `MATCH_NUMBER()`), maintained in a
    * per-key `ValueState` counter that survives across micro-batches —
    * numbering matches what a batch run over the same ordered input yields.
    */
  def matchPatternNumbered[K, T, O](
      ds: Dataset[T],
      keyFn: T => K,
      tsFn: T => Long,
      pattern: Pattern[T],
      emitMatch: (K, NFA.PatternMatch[T], Long) => IterableOnce[O],
      emitTimeout: (K, NFA.PatternTimeout[T]) => IterableOnce[O])(
      implicit ke: Encoder[K], te: Encoder[T], oe: Encoder[O],
      ct: scala.reflect.ClassTag[T]): Dataset[O] =
    ds.groupByKey(keyFn)
      .transformWithState(
        new CepProcessor[K, T, O](pattern, tsFn, emitMatch, emitTimeout),
        TimeMode.EventTime(),
        OutputMode.Append())
}

/** Per-key stateful CEP processor. State:
  *  - "buf": events newer than the watermark, unordered (ListState);
  *  - "ctrl": ONE packed ValueState blob `[timer: i64][minBuf: i64][nfa
  *    snapshot bytes]` — the armed-timer expiry, the earliest buffered
  *    event time, and the [[NFA.Snapshot]] via [[SnapshotCodec]]. Packing
  *    the three into a single value halves the per-key state-store
  *    round-trips (RocksDB get/put are the dominant cost when every key
  *    appears in every micro-batch): the idle path is 1 get + 1 put, the
  *    drain path 1 get + 1 put plus the buf list ops. The NFA bytes are
  *    decoded lazily — a key with no watermark-ready work reads `minBuf`
  *    from the fixed header and never touches the snapshot;
  *  - "matchSeq": per-key lifetime match counter (MATCH_NUMBER), touched
  *    only when a match emits.
  */
final class CepProcessor[K, T, O](
    pattern: Pattern[T],
    tsFn: T => Long,
    emitMatch: (K, NFA.PatternMatch[T], Long) => IterableOnce[O],
    emitTimeout: (K, NFA.PatternTimeout[T]) => IterableOnce[O])(
    implicit te: Encoder[T], ct: scala.reflect.ClassTag[T])
  extends StatefulProcessor[K, T, O] {

  @transient private var buf: ListState[T] = _
  @transient private var ctrl: ValueState[Array[Byte]] = _
  @transient private var matchSeq: ValueState[Long] = _

  // Compact snapshot codec (events through the dataset's own Encoder, deduped
  // by NFA index) — replaces r1's Java serialization, whose reflective graph
  // walk dominated the per-key state round-trip cost.
  private val codec = new SnapshotCodec[T](te)

  private val NoVal = Long.MinValue
  private val Empty = Array.emptyByteArray

  /** Unpacked "ctrl" blob. `timer`/`minBuf` = [[NoVal]] when absent. */
  private final case class Ctrl(timer: Long, minBuf: Long, nfa: Array[Byte])

  private def readCtrl(): Ctrl =
    if (!ctrl.exists()) Ctrl(NoVal, NoVal, Empty)
    else {
      val bb = java.nio.ByteBuffer.wrap(ctrl.get())
      val timer = bb.getLong
      val minBuf = bb.getLong
      val nfa = if (bb.remaining() == 0) Empty else {
        val r = new Array[Byte](bb.remaining()); bb.get(r); r
      }
      Ctrl(timer, minBuf, nfa)
    }

  private def writeCtrl(c: Ctrl): Unit =
    if (c.timer == NoVal && c.minBuf == NoVal && c.nfa.isEmpty) ctrl.clear()
    else {
      val bb = java.nio.ByteBuffer.allocate(16 + c.nfa.length)
      bb.putLong(c.timer).putLong(c.minBuf).put(c.nfa)
      ctrl.update(bb.array())
    }

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[T]("buf", te, TTLConfig.NONE)
    ctrl = getHandle.getValueState[Array[Byte]]("ctrl", Encoders.BINARY, TTLConfig.NONE)
    matchSeq = getHandle.getValueState[Long]("matchSeq", Encoders.scalaLong, TTLConfig.NONE)
  }

  /** Feed every watermark-ready event (buffered and/or newly arrived) to the
    * NFA in timestamp order, advance the watermark, and write back ONLY what
    * changed (r9 — the per-key state-store round-trips were the measured
    * streaming-throughput floor):
    *  - the buffered-event list is READ (and rewritten) only when the packed
    *    header says something buffered is ready (`minBuf <= watermark`); a
    *    drain triggered by a timer or by ready input alone never touches it;
    *  - `readyIn` (new events already at or before the watermark) feed the
    *    NFA directly and never pay the list put/get at all;
    *  - the timer re-arms LAZILY: an armed timer EARLIER than the new
    *    deadline is kept — its spurious fire is one cheap drain that re-arms
    *    precisely — instead of paying delete+register on every drain as
    *    deadlines drift later. Invariant: the armed timer is always at or
    *    before the true next deadline, so nothing ever fires late;
    *  - the packed ctrl blob is rewritten only when its bytes changed.
    */
  private def drain(key: K, watermarkMs: Long, c0: Ctrl,
      readyIn: Seq[T], laterIn: Seq[T]): Iterator[O] = {
    val readBuf = c0.minBuf != NoVal && c0.minBuf <= watermarkMs
    val (bufReady, bufLater) =
      if (readBuf) buf.get().toVector.partition(e => tsFn(e) <= watermarkMs)
      else (Vector.empty[T], Vector.empty[T])
    // stable sort + buffered-before-new keeps equal-ts arrival order
    // identical to the old append-then-partition spelling
    val ready = if (readyIn.isEmpty) bufReady else bufReady ++ readyIn
    val runner = new NfaRunner[T](pattern, tsFn)
    if (c0.nfa.nonEmpty) runner.restore(codec.decode(c0.nfa))
    val out = Vector.newBuilder[O]

    // Per-key lifetime match counter (MATCH_NUMBER): loaded lazily so keys
    // emitting no match this drain skip the extra state round-trip.
    var seq = -1L
    def numbered(m: NFA.PatternMatch[T]): Unit = {
      if (seq < 0) seq = if (matchSeq.exists()) matchSeq.get() else 0L
      seq += 1
      out ++= emitMatch(key, m, seq)
    }
    ready.sortBy(tsFn).foreach { e =>
      val res = runner.onEvent(e)
      res._2.foreach(t => out ++= emitTimeout(key, t))
      res._1.foreach(numbered)
    }
    val (wmMatches, wmTimeouts) = runner.onWatermark(watermarkMs)
    wmMatches.foreach(numbered)
    wmTimeouts.foreach(t => out ++= emitTimeout(key, t))
    if (seq >= 0) matchSeq.update(seq)

    // buffered remnant: one rewrite if the list was read; append-only if not
    val newMinBuf =
      if (readBuf) {
        buf.clear()
        val keep = bufLater ++ laterIn
        if (keep.nonEmpty) buf.appendList(keep.toArray)
        if (keep.nonEmpty) keep.iterator.map(tsFn).min else NoVal
      } else {
        if (laterIn.nonEmpty) buf.appendList(laterIn.toArray)
        val mIn = if (laterIn.nonEmpty) laterIn.iterator.map(tsFn).min else NoVal
        if (c0.minBuf == NoVal) mIn
        else if (mIn == NoVal) c0.minBuf
        else math.min(c0.minBuf, mIn)
      }
    // keep the snapshot while buffered events remain even with no live
    // partials: the runner's event-index counter must stay continuous
    val nfaBytes =
      if (runner.hasLiveState || newMinBuf != NoVal) codec.encode(runner.snapshot())
      else Empty

    // One armed timer per key: at or before the earliest instant anything
    // can happen next (lazy re-arm — see the method Scaladoc).
    val nextAt =
      ((if (newMinBuf != NoVal) Some(newMinBuf) else None) ++
        runner.earliestDeadline).minOption
    val armed = (c0.timer, nextAt) match {
      case (NoVal, None)    => NoVal
      case (NoVal, Some(n)) => getHandle.registerTimer(n); n
      case (t, None)        => getHandle.deleteTimer(t); NoVal
      case (t, Some(n)) if n < t =>
        getHandle.deleteTimer(t); getHandle.registerTimer(n); n
      case (t, Some(_)) => t // earlier armed timer already covers the deadline
    }
    val c1 = Ctrl(armed, newMinBuf, nfaBytes)
    if (c1.timer != c0.timer || c1.minBuf != c0.minBuf ||
        !java.util.Arrays.equals(c1.nfa, c0.nfa)) writeCtrl(c1)
    out.result().iterator
  }

  override def handleInputRows(
      key: K, rows: Iterator[T], timerValues: TimerValues): Iterator[O] = {
    val c0 = readCtrl()
    val wm = timerValues.getCurrentWatermarkInMs()
    val arr = rows.toArray
    if (arr.isEmpty) return drain(key, wm, c0, Nil, Nil)
    val (readyIn, laterIn) = arr.partition(e => tsFn(e) <= wm)
    if (readyIn.nonEmpty || (c0.minBuf != NoVal && c0.minBuf <= wm))
      drain(key, wm, c0, scala.collection.immutable.ArraySeq.unsafeWrapArray(readyIn),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(laterIn))
    else {
      // Nothing is ready: append-only buffer write, no NFA decode (the
      // header read is enough); extend the timer only if the new earliest
      // buffered event precedes the armed one (which, by the lazy-re-arm
      // invariant, is already at or before every NFA deadline).
      buf.appendList(laterIn)
      val newMin = {
        val m = laterIn.iterator.map(tsFn).min
        if (c0.minBuf != NoVal) math.min(c0.minBuf, m) else m
      }
      val armed =
        if (c0.timer != NoVal && c0.timer <= newMin) c0.timer
        else {
          if (c0.timer != NoVal) getHandle.deleteTimer(c0.timer)
          getHandle.registerTimer(newMin)
          newMin
        }
      if (armed != c0.timer || newMin != c0.minBuf)
        writeCtrl(Ctrl(armed, newMin, c0.nfa))
      Iterator.empty
    }
  }

  override def handleExpiredTimer(
      key: K, timerValues: TimerValues, expired: ExpiredTimerInfo): Iterator[O] = {
    val c0 = readCtrl()
    val c1 =
      if (c0.timer == expired.getExpiryTimeInMs()) c0.copy(timer = NoVal) else c0
    drain(key, timerValues.getCurrentWatermarkInMs(), c1, Nil, Nil)
  }
}

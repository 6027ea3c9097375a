package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

import graft.pattern.{NFA, NfaRunner, Pattern}

/** Structured Streaming execution of a [[graft.pattern.Pattern]] — the
  * engine's equivalent of the reference's streaming CEP operator with
  * event-time timers (`FlinkCEPExample.scala:76`,
  * `FlinkCEPAbsenceOfEventExample.scala:78-106`,
  * `FlinkProcessFunctionExample.scala:44-87`).
  *
  * Implementation: one [[KeyedFold.eventTime]] fold per key, the same
  * keyed state and event-time timer the other event-time streams use.
  * The key's one state value ([[CepStream.CepState]]) holds three things:
  *   - the events still ahead of the watermark, encoded through the
  *     dataset's own Encoder in arrival order (the reference buffers in
  *     the CEP operator until watermark, SURVEY.md §2.2 item 8); rows
  *     later than the watermark are dropped by the framework, matching
  *     Flink's late-event drop;
  *   - the incremental [[NfaRunner]]'s snapshot ([[SnapshotCodec]] bytes),
  *     fed every event at or before the watermark in timestamp order;
  *   - the lifetime match counter (SQL `MATCH_NUMBER()`).
  * The fold wakes at the earlier of the earliest buffered event and the
  * runner's earliest `within` deadline, so ABSENCE timeouts emit even when
  * a key receives no further events — real per-key event-time timers, like
  * Flink's, not the single-timeout `flatMapGroupsWithState` fallback
  * (SURVEY.md §7.4 item 4). Matches and timeouts emit into ONE output
  * stream as a tagged ADT (no side outputs in Spark — split downstream by
  * `kind`).
  *
  * Scale: state per key = live partials (bounded by the `within` horizon) +
  * events buffered within the watermark delay; an idle key with no match
  * keeps no state row. Use the RocksDB state store provider (see
  * [[CepStream.rocksConf]]) for large keyspaces.
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

  /** The fold state of one key. `nfa` is the runner's [[SnapshotCodec]]
    * snapshot (empty when the runner holds nothing) and `deadline` its
    * earliest `within` deadline; `buf` is the events ahead of the
    * watermark ([[SnapshotCodec.encodeEvents]], arrival order) and
    * `minBuf` the earliest of their times; `matched` is the lifetime match
    * count. An absent instant is `Long.MaxValue`. */
  private[streaming] final case class CepState(nfa: Array[Byte], deadline: Long,
      buf: Array[Byte], minBuf: Long, matched: Long)

  private val Never = Long.MaxValue
  private val Idle = CepState(Array.emptyByteArray, Never, Array.emptyByteArray, Never, 0L)

  /** Like [[matchPattern]], but `emitMatch` also receives the 1-based
    * per-key LIFETIME match number (SQL `MATCH_NUMBER()`), kept in the
    * key's fold state across micro-batches — numbering matches what a
    * batch run over the same ordered input yields.
    *
    * Per call, only what the watermark has passed is decoded: with
    * nothing due (no arriving or buffered event behind the watermark, no
    * deadline passed) the new events' bytes are appended to the buffer and
    * the snapshot stays encoded. Otherwise the ready events — buffered
    * before new, stably sorted by time, so equal timestamps keep arrival
    * order — feed the restored runner, the watermark advances it, and the
    * snapshot is kept while it has live state or events stay buffered
    * (the runner's event index must stay continuous). The fold's state is
    * named "ctrl", the name the packed control blob of the hand-written
    * processor had: a checkpoint of that layout fails the restart with a
    * schema error instead of restoring as empty state. */
  def matchPatternNumbered[K, T, O](
      ds: Dataset[T],
      keyFn: T => K,
      tsFn: T => Long,
      pattern: Pattern[T],
      emitMatch: (K, NFA.PatternMatch[T], Long) => IterableOnce[O],
      emitTimeout: (K, NFA.PatternTimeout[T]) => IterableOnce[O])(
      implicit ke: Encoder[K], te: Encoder[T], oe: Encoder[O],
      ct: scala.reflect.ClassTag[T]): Dataset[O] = {
    val codec = new SnapshotCodec[T](te)
    def earliest(es: Iterable[T]): Long = es.iterator.map(tsFn).minOption.getOrElse(Never)
    KeyedFold.eventTime(ds)(keyFn, "ctrl", Encoders.product[CepState], null) {
        (key, s, rows, wm) =>
      val st = if (s == null) Idle else s
      val (readyIn, laterIn) = rows.toVector.partition(tsFn(_) <= wm)
      // the buffer is decoded only when one of its events is due
      val (bufReady, kept, keptMin) =
        if (st.minBuf > wm) (Vector.empty[T], st.buf, st.minBuf)
        else {
          val (r, l) = codec.decodeEvents(st.buf).partition(tsFn(_) <= wm)
          (r, codec.encodeEvents(l), earliest(l))
        }
      val buf = if (laterIn.isEmpty) kept else kept ++ codec.encodeEvents(laterIn)
      val minBuf = math.min(keptMin, earliest(laterIn))
      val (s1, out) =
        if (bufReady.isEmpty && readyIn.isEmpty && st.deadline > wm)
          (st.copy(buf = buf, minBuf = minBuf), Iterator.empty)
        else {
          val runner = new NfaRunner[T](pattern, tsFn)
          if (st.nfa.nonEmpty) runner.restore(codec.decode(st.nfa))
          val out = Vector.newBuilder[O]
          var seq = st.matched
          def matched(ms: List[NFA.PatternMatch[T]]): Unit =
            ms.foreach { m => seq += 1; out ++= emitMatch(key, m, seq) }
          (bufReady ++ readyIn).sortBy(tsFn).foreach { e =>
            val (ms, ts) = runner.onEvent(e)
            ts.foreach(t => out ++= emitTimeout(key, t))
            matched(ms)
          }
          val (wmMatches, wmTimeouts) = runner.onWatermark(wm)
          matched(wmMatches)
          wmTimeouts.foreach(t => out ++= emitTimeout(key, t))
          val nfa =
            if (runner.hasLiveState || minBuf != Never) codec.encode(runner.snapshot())
            else Array.emptyByteArray
          (CepState(nfa, runner.earliestDeadline.getOrElse(Never), buf, minBuf, seq),
            out.result().iterator)
        }
      val wake = math.min(s1.minBuf, s1.deadline)
      if (s1.nfa.isEmpty && s1.buf.isEmpty && s1.matched == 0L) (null, out, None)
      else (s1, out, if (wake == Never) None else Some(wake))
    }
  }
}

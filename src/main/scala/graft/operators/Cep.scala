package graft.operators

import org.apache.spark.sql.{Column, Dataset, Encoder}
import org.apache.spark.sql.graft.ColumnBridge

import graft.pattern.{NFA, Pattern}

/** Batch execution of a [[graft.pattern.Pattern]] over a keyed `Dataset` —
  * the engine's equivalent of the reference's `CEP.pattern(keyedStream, pattern)`
  * operator (`/root/reference/src/main/scala/kosmag/FlinkCEPExample.scala:76`)
  * plus the timed-out-partial-match side channel
  * (`FlinkCEPAbsenceOfEventExample.scala:78-106`).
  *
  * Execution shape (scale contract):
  *   - one hash `Exchange` on the key — the same shuffle boundary as the
  *     reference's `keyBy("id")`. The key is the column `groupByKey(keyFn)`
  *     appends; the data columns are then selected back by attribute.
  *   - `sortWithinPartitions(sortCols)`: each partition is walked once in
  *     event-time order, as Flink's operator sees its keys' events. The key
  *     is not a sort column.
  *   - [[NFA.runKeyed]] feeds each event to its key's runner and emits
  *     outputs as they are produced. Memory per partition is the runners
  *     with live state: with `within`, keys that had an event inside the
  *     last horizon (see [[NFA.runKeyed]] for patterns without one).
  *   - Spark has no side outputs: matches and timeouts are emitted into ONE
  *     output dataset as a tagged ADT (a `kind` discriminator column),
  *     split downstream with `filter` (SURVEY.md §7.4).
  */
object Cep {

  /** Run `pattern` per key, emitting user-projected rows for matches and
    * timed-out partial matches. `sortCols` must order events by event time
    * (add a tiebreak column for determinism).
    */
  def matchPattern[K, T, O](
      ds: Dataset[T],
      keyFn: T => K,
      tsFn: T => Long,
      pattern: Pattern[T],
      sortCols: Seq[Column])(
      emitMatch: (K, NFA.PatternMatch[T]) => IterableOnce[O],
      emitTimeout: (K, NFA.PatternTimeout[T]) => IterableOnce[O])(
      implicit ke: Encoder[K], oe: Encoder[O]): Dataset[O] = {
    val (keyed, keyCols, dataCols) = ColumnBridge.appendedKey(ds.groupByKey(keyFn))
    keyed.repartition(keyCols: _*)
      .select(dataCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .as[T](ds.encoder)
      .mapPartitions(events => NFA.runKeyed(events, keyFn, tsFn, pattern)(emitMatch, emitTimeout))
  }
}

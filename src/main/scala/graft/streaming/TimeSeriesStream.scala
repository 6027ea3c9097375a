package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

import graft.relational.TimeSeries

/** Streaming volume-spike detection — the live twin of the batch
  * `q_ts_anomaly` (`graft.relational.TimeSeries.anomaly`): per user,
  * event-time 6 h buckets close as the WATERMARK passes their end, each
  * closed bucket is compared against its trailing
  * [[TimeSeries.TrailN]]-bucket sum with the same integer
  * cross-multiplication (`cents·N > mult·tsum`), and gap buckets count as
  * ZERO volume exactly as the batch grid materializes them. Alerting is
  * the point of the streaming form: a spike flags as soon as its bucket
  * seals, not at the next nightly batch.
  *
  * Semantics ≡ batch (pinned in `TimeSeriesStreamSpec`): the per-user grid
  * starts at the first observed bucket, interior silence closes as zero
  * buckets feeding the trailing window, warm-up buckets (fewer than
  * [[TimeSeries.TrailN]] predecessors) never flag, and the grid never runs
  * ahead of the data — buckets close only up to the LAST observed bucket,
  * so terminal silence emits nothing and parks the state (a later event
  * first closes the interior zeros lazily, which is also why idle keys arm
  * no timers).
  *
  * State contract at scale: one [[KeyedFold.eventTime]] fold per user over
  * the shared bucket sealer ([[bucketFold]]); its one state value holds the
  * next bucket to close, the OPEN buckets (above the watermark — at most
  * horizon/bucket + 1, never stream length) and the trailing ring of
  * ≤ [[TimeSeries.TrailN]] sums, beside the one armed timer. Rows below the
  * watermark are dropped by the framework (the standard late-data
  * contract). Parallelism is the user-key hash partitioning, Flink's keyed
  * scope.
  */
object TimeSeriesStream {

  /** Bucket width in ms — [[TimeSeries.BucketHours]], epoch-aligned like
    * the batch `window()` call. */
  val BucketMs: Long = TimeSeries.BucketHours * 3600L * 1000L

  case class TsPoint(user_id: Long, event_ts: java.sql.Timestamp, vc: Long)
  case class TsFlag(user_id: Long, bstart_ms: Long, cents: Long, tsum: Long)

  /** One key's open buckets: `next` = the next bucket INDEX to seal
    * (`NoSeal` until the first seal — until then the grid's start floats
    * with out-of-order arrivals); `idx`/`cents` = the buckets above the
    * watermark and their purchase cents, ascending by index. */
  case class Buckets(next: Long, idx: Array[Long], cents: Array[Long])

  private val NoSeal = Long.MinValue

  /** `events`: (user_id, ts, event_type, value) streaming or batch frame —
    * the driver events shape. `delay` is the out-of-orderness bound. */
  def anomaly(events: DataFrame, delay: String = "30 minutes"): Dataset[TsFlag] = {
    val s = events.sparkSession
    import s.implicits._
    bucketFold(events, delay, BucketMs, Array.emptyLongArray) { (key, ring0, closed) =>
      // `ring` = oldest-first sums of the last ≤ TrailN sealed buckets
      var ring = ring0
      val flags = closed.flatMap { case (b, cents) =>
        val tsum = ring.sum
        val full = ring.length == TimeSeries.TrailN
        ring = (if (full) ring.tail else ring) :+ cents
        if (full && cents > 0 && cents * TimeSeries.TrailN > TimeSeries.SpikeMult * tsum)
          Some(TsFlag(key, b * BucketMs, cents, tsum))
        else None
      }
      (ring, flags.iterator)
    }
  }

  /** The event-time bucket sealer, shared with [[HoltStream]]: per user,
    * purchase cents of `events` in epoch-aligned buckets of `widthMs`; a
    * bucket seals once the watermark passes its end, and only up to the
    * user's last observed bucket (interior gaps seal as zero). Every call
    * that seals hands `onSeal` the sealed (bucket index, cents) pairs in
    * index order with the user's accumulator; the fold wakes at the end of
    * the next bucket that can seal. */
  private[streaming] def bucketFold[A: Encoder, Out: Encoder](events: DataFrame,
      delay: String, widthMs: Long, zero: A)(
      onSeal: (Long, A, Vector[(Long, Long)]) => (A, Iterator[Out])): Dataset[Out] = {
    val s = events.sparkSession
    import s.implicits._
    val points = events
      .filter($"event_type" === "purchase")
      .select($"user_id", date_trunc("second", $"ts").as("event_ts"),
        floor($"value" * 100).cast("long").as("vc"))
      .withWatermark("event_ts", delay)
      .as[TsPoint]
    KeyedFold.eventTime(points)(_.user_id, "buckets",
        Encoders.tuple(Encoders.product[Buckets], implicitly[Encoder[A]]),
        (Buckets(NoSeal, Array.emptyLongArray, Array.emptyLongArray), zero)) {
      case (key, (open0, acc), rows, wm) =>
        val (open1, closed, wake) = seal(widthMs, open0, rows, wm)
        val (acc1, out) =
          if (closed.isEmpty) (acc, Iterator.empty) else onSeal(key, acc, closed)
        ((open1, acc1), out, wake)
    }
  }

  /** Adds `rows` to the open buckets `b`, then seals every bucket the
    * watermark `wm` has passed, up to the last open one: (open buckets,
    * the sealed (index, cents) pairs in order, the end of the next bucket
    * that can seal). */
  private def seal(widthMs: Long, b: Buckets, rows: Iterator[TsPoint], wm: Long)
      : (Buckets, Vector[(Long, Long)], Option[Long]) = {
    val open = mutable.TreeMap.from(b.idx.iterator.zip(b.cents.iterator))
    rows.foreach { p =>
      val i = Math.floorDiv(p.event_ts.getTime, widthMs)
      // once sealing started, a bucket below `next` is sealed = late row,
      // dropped; before that the span floats
      if (b.next == NoSeal || i >= b.next) open(i) = open.getOrElse(i, 0L) + p.vc
    }
    if (open.isEmpty) (b, Vector.empty, None)
    else {
      // The span start is the MIN observed bucket (the batch `min(b)` span
      // semantics); it pins at the first seal
      var next = if (b.next == NoSeal) open.firstKey else b.next
      val last = open.lastKey
      val closed = Vector.newBuilder[(Long, Long)]
      while (next <= last && (next + 1) * widthMs <= wm) {
        closed += next -> open.remove(next).getOrElse(0L)
        next += 1
      }
      val done = closed.result()
      (Buckets(if (done.isEmpty) b.next else next,
          open.keysIterator.toArray, open.valuesIterator.toArray),
        done, if (next <= last) Some((next + 1) * widthMs) else None)
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming DATA-QUALITY monitor — the live twin of the batch
  * [[graft.pipeline.DataQuality]] verdict suite: per source, RUNNING
  * violation rates for the five streamable constraint classes (accepted
  * values, completeness, freshness, non-negativity, referential
  * integrity), emitted as exact integer basis points after every
  * micro-batch. This is the ingest-side gate that pages BEFORE a bad
  * upstream deploy poisons a day of 100 TB intake — the batch suite then
  * confirms on the at-rest copy.
  *
  * Division of labor with the batch suite (the operator contract):
  *   - Constraint FLAGS are computed in the PLAN, not the processor: the
  *     caller projects each row to booleans (`status IN (...)`,
  *     `priority IS NOT NULL`, date range, `price >= 0`), and referential
  *     integrity comes from the standard STREAM-STATIC left join against
  *     the dimension's key column (broadcast; Structured Streaming
  *     re-plans the static side per micro-batch). The processor only
  *     counts — so the flag set extends without touching state handling.
  *   - UNIQUENESS is deliberately absent: exact distinct-key tracking
  *     needs state linear in keys seen (the one constraint whose state
  *     cannot be bounded); it belongs to the batch audit or a
  *     Bloom-gated approximation, not a bounded-state monitor.
  *
  * A [[KeyedFold]] with no within-batch order; state per source: SIX
  * longs — constant in stream length, the [[TopKStream]]/[[QuantileStream]]
  * bounded-state discipline. Counters add exactly, so the final emission
  * ≡ the batch rates under ANY micro-batch slicing, and a checkpoint
  * restart resumes the counts bit-for-bit (`DqStreamSpec` pins all three,
  * including parity with `DataQuality.verdictOf` on the real dirty-orders
  * registry). `n` is monotone per source, so an unordered emission log
  * folds by max n (the [[TopKStream]] reader convention).
  */
object DqStream {

  /** One validated row: source key + the five constraint flags (true =
    * the row SATISFIES the constraint). */
  case class DqIn(src: String, statusOk: Boolean, priOk: Boolean,
      dateOk: Boolean, priceOk: Boolean, riOk: Boolean)

  /** Running verdict per source: rows seen + measured basis points per
    * constraint (the batch suite's `measured_bp` semantics: satisfied ·
    * 10000 div n). */
  case class DqOut(src: String, n: Long, status_bp: Long, pri_bp: Long,
      date_bp: Long, price_bp: Long, ri_bp: Long)

  case class DqCounts(n: Long, st: Long, pri: Long, dt: Long, pos: Long,
      ri: Long)

  def monitor(in: Dataset[DqIn]): Dataset[DqOut] = {
    val s = in.sparkSession
    import s.implicits._
    KeyedFold.run(in)(_.src, "counts", Encoders.product[DqCounts],
        DqCounts(0L, 0L, 0L, 0L, 0L, 0L)) { (key, c0, rows) =>
      var (n, s1, s2, s3, s4, s5) = (c0.n, c0.st, c0.pri, c0.dt, c0.pos, c0.ri)
      rows.foreach { r =>
        n += 1
        if (r.statusOk) s1 += 1
        if (r.priOk) s2 += 1
        if (r.dateOk) s3 += 1
        if (r.priceOk) s4 += 1
        if (r.riOk) s5 += 1
      }
      (DqCounts(n, s1, s2, s3, s4, s5),
        Iterator.single(DqOut(key, n, s1 * 10000L / n, s2 * 10000L / n,
          s3 * 10000L / n, s4 * 10000L / n, s5 * 10000L / n)))
    }
  }
}

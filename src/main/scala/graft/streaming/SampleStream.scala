package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming UNIFORM SAMPLE per key — a bottom-k sketch (Cohen & Kaplan,
  * "Summarizing data using bottom-k sketches", PODC 2007) as a keyed
  * stateful operator: the live twin of the batch hash/stratified samples
  * (`q_sample_hash` / `q_sample_stratified`), which pick winners by
  * smallest salted hash. Keeping the k SMALLEST (hash, id) pairs per key
  * is a simple random sample without replacement of everything seen —
  * and, unlike a classic reservoir (whose state depends on arrival
  * order), a top-k under a total order is ORDER-INDEPENDENT: any
  * micro-batch slicing, shard merge, or replay converges to the same k
  * rows, which is what makes it exactly testable and restart-safe.
  *
  * The same k-th smallest hash also carries a distinct-count estimate for
  * free (the bottom-k estimator: (k−1)·M div h_k for hashes uniform on
  * [0, M)), emitted alongside the sample — the live sample doubles as a
  * per-key cardinality monitor.
  *
  * A [[KeyedFold]] with no within-batch order; state per key: ≤
  * [[SampleStream.K]] (hash, id) pairs + one counter — constant in stream
  * length, the bounded-state discipline of
  * [[TopKStream]]/[[QuantileStream]]/[[DqStream]]. Hashes are computed in
  * the PLAN and MUST be a uniform 64-bit hash reduced to [0, [[HashM]])
  * — `pmod(xxhash64(salt || id), HashM)` — so batch and stream pick
  * identical winners AND both the sample-uniformity and the estimator
  * assumptions hold. (The repo's polynomial `charFoldHash` is the WRONG
  * hash here: on short sequential ids its value is dominated by the
  * trailing digits — the bottom-k would be biased toward small ids and
  * the estimator off by orders of magnitude; the spec's estimator pin
  * exists precisely to catch that class of mistake.) `n_seen` is
  * monotone per key: an unordered emission log folds by max n_seen.
  */
object SampleStream {

  /** Sample capacity per key. */
  val K = 32

  /** Hash range for the plan-side `pmod(xxhash64(…), HashM)` (the
    * [[graft.pipeline.Hashing.M]] prime) — the estimator's denominator. */
  val HashM = 9007199254740881L

  case class SIn(key: String, h: Long, id: Long)
  /** Current per-key sample: ids sorted by (h, id) — the k winners — plus
    * the arrival count and the bottom-k distinct estimate (= n_seen when
    * fewer than K distinct hashes have arrived: exact below capacity). */
  case class SOut(key: String, n_seen: Long, distinct_est: Long, ids: Seq[Long])
  case class SPick(h: Long, id: Long)
  case class SState(n: Long, picks: Seq[SPick])

  def sample(in: Dataset[SIn]): Dataset[SOut] = {
    val s = in.sparkSession
    import s.implicits._
    KeyedFold.run(in)(_.key, "bottomk", Encoders.product[SState],
        SState(0L, Vector.empty)) { (key, c0, rows) =>
      var n = c0.n
      // merge the batch into the k smallest by (h, id); duplicates of one
      // (h, id) collapse (idempotent under replayed rows)
      val buf = scala.collection.mutable.TreeSet.from(
        c0.picks.map(p => (p.h, p.id)))
      rows.foreach { r =>
        n += 1
        buf.add((r.h, r.id))
        if (buf.size > K) buf.remove(buf.last)
      }
      val picks = buf.toVector
      val est =
        if (picks.size < K) picks.size.toLong
        else (K - 1).toLong * HashM / picks.last._1
      (SState(n, picks.map { case (h, i) => SPick(h, i) }),
        Iterator.single(SOut(key, n, est, picks.map(_._2))))
    }
  }
}

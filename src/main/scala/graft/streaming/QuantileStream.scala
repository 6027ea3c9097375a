package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Streaming per-key QUANTILE monitor over a bounded power-of-two
  * histogram — the live twin of the batch length-distribution queries
  * (`q_text_length_stats` exact ranks / `_approx` t-digest): a stream
  * cannot rank, so it keeps a 64-bucket log₂ histogram per key (bucket
  * b = floor(log₂ v) holds values in [2^b, 2^(b+1))) and answers
  * quantiles as the bucket containing rank ⌈p·n⌉ — the same discrete
  * lower-rank convention `lengthStats` uses, applied to buckets.
  *
  * Contracts (`QuantileStreamSpec`):
  *  - the histogram is EXACT (bucketing loses resolution, never counts),
  *    so streaming ≡ a batch fold of the same bucketing, any slicing;
  *  - bracketing: the exact batch p50/p90 value always lies inside the
  *    reported [2^b, 2^(b+1)) bucket range.
  *
  * State per key: 64 longs + a count — constant in stream length (the
  * whole point: a billion-doc source still holds one cache line of
  * counters). Values must be ≥ 1 (document lengths are). At 100 TB this
  * is the standard live ingest-distribution dashboard feed: per-source
  * histogram state, O(1) update, mergeable across restarts via the
  * checkpointed state store. */
object QuantileStream {

  val Buckets = 64

  case class QIn(key: String, v: Long)
  /** Quantile answers as bucket LOWER bounds (2^b) plus the count — the
    * upper bound is always 2·lo, so one number carries the range. */
  case class QOut(key: String, n: Long, p50_lo: Long, p90_lo: Long, max_lo: Long)
  case class QState(n: Long, counts: Seq[Long])

  def quantiles(in: Dataset[QIn]): Dataset[QOut] = {
    val s = in.sparkSession
    import s.implicits._
    histFold(in) { (key, n, counts) =>
      val top = counts.lastIndexWhere(_ > 0)
      QOut(key, n,
        rankBucketLo(counts, n, 1L, 2L),
        rankBucketLo(counts, n, 9L, 10L),
        if (top < 0) 0L else 1L << top)
    }
  }

  /** The raw per-key SUMMARY emission — same state machine as
    * [[quantiles]], but each batch emits the histogram itself (n + the 64
    * counts) instead of the pre-answered quantile row. This is the
    * MERGEABLE form: histograms add exactly, so a key processed in
    * parallel shards (key = "group|shard") folds back to the unsharded
    * answer bit-for-bit via [[mergeQuantiles]]. `n` is monotone per key,
    * so an unordered emission log folds by max n (the [[TopKStream]]
    * reader convention). */
  case class QHist(key: String, n: Long, counts: Seq[Long])

  def histograms(in: Dataset[QIn]): Dataset[QHist] = {
    val s = in.sparkSession
    import s.implicits._
    histFold(in)((key, n, counts) => QHist(key, n, counts))
  }

  /** The one state machine behind [[quantiles]] and [[histograms]]: a
    * [[KeyedFold]] with no within-batch order over the per-key
    * histogram, emitting `answer(key, n, counts)` after each batch. Both
    * forms use the same state name and layout, so they are
    * interchangeable on one checkpoint. */
  private def histFold[Out: Encoder](in: Dataset[QIn])(
      answer: (String, Long, Vector[Long]) => Out): Dataset[Out] = {
    val s = in.sparkSession
    import s.implicits._
    KeyedFold.run(in)(_.key, "hist", Encoders.product[QState],
        QState(0L, Vector.fill(Buckets)(0L))) { (key, c0, rows) =>
      var n = c0.n
      val counts = c0.counts.toArray
      rows.foreach { r => counts(bucketOf(r.v)) += 1; n += 1 }
      val v = counts.toVector
      (QState(n, v), Iterator.single(answer(key, n, v)))
    }
  }

  /** The dashboard READ path (r8 verdict #7): fold an append-log of shard
    * [[QHist]] emissions to each shard's live histogram, merge shards
    * element-wise (EXACT — bucketing already paid the only resolution
    * loss), and answer the same rank-bucket quantiles [[quantiles]]
    * emits, now over the GROUP total. Input columns: `(gkey, skey, n,
    * counts)` — the caller derives the group key from its shard-key
    * convention (e.g. `split(key, '[|]')[0]`).
    *
    * Scale shape: fully distributed — fold and merge are combinable
    * aggregations keyed by (gkey, skey)/(gkey, pos); the rank scan is a
    * 64-row-per-group window PARTITIONED BY gkey (never a global sort);
    * no collect, no driver fold. Output: `(key, n, p50_lo, p90_lo,
    * max_lo)` — the [[QOut]] shape. */
  def mergeQuantiles(shardHists: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = shardHists.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val folded = shardHists.groupBy($"gkey", $"skey")
      .agg(max(struct($"n", $"counts")).as("s"))
    val byPos = folded
      .select($"gkey", posexplode($"s.counts").as(Seq("pos", "c")))
      .groupBy($"gkey", $"pos").agg(sum($"c").as("c"))
    val wN = Window.partitionBy($"gkey")
    val wCum = Window.partitionBy($"gkey").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // first bucket whose cumulative count reaches the ceil-rank target =
    // the MIN qualifying pos — identical to [[rankBucketLo]]'s scan,
    // spelled as one partitioned aggregation. Aggregate over pos, not
    // 2^pos: shiftleft(1, 63) wraps to Long.MinValue, which would hijack
    // every min() (buckets at or past the first qualifying one ALL
    // qualify, cum is non-decreasing — pos 63 always passes the test)
    byPos
      .withColumn("n", sum($"c").over(wN))
      .withColumn("cum", sum($"c").over(wCum))
      .groupBy($"gkey")
      .agg(max($"n").as("n"),
        min(when($"cum" >= expr("(n + 1) div 2"), $"pos")).as("p50_pos"),
        min(when($"cum" >= expr("(9 * n + 9) div 10"), $"pos")).as("p90_pos"),
        max(when($"c" > 0, $"pos")).as("max_pos"))
      .select($"gkey".as("key"), $"n",
        expr("shiftleft(CAST(1 AS BIGINT), p50_pos)").as("p50_lo"),
        expr("shiftleft(CAST(1 AS BIGINT), p90_pos)").as("p90_lo"),
        expr("shiftleft(CAST(1 AS BIGINT), max_pos)").as("max_lo"))
      .orderBy($"key")
  }

  /** floor(log₂ v) for v ≥ 1 — exact integer, no float log. */
  def bucketOf(v: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(math.max(v, 1L))

  /** Lower bound of the bucket holding rank ⌈p_num/p_den · n⌉ (the
    * lengthStats discrete convention: rank (p_num·n + p_num) div p_den
    * for p90 → here the simpler ⌈·⌉ = (p_num·n + p_den − 1) div p_den). */
  def rankBucketLo(counts: Seq[Long], n: Long, pNum: Long, pDen: Long): Long = {
    val target = (pNum * n + pDen - 1) / pDen
    var acc = 0L
    var b = 0
    while (b < counts.length) {
      acc += counts(b)
      if (acc >= target) return 1L << b
      b += 1
    }
    0L
  }
}

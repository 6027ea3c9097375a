package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming HEAVY HITTERS — the SpaceSaving summary (Metwally, Agrawal &
  * El Abbadi, ICDT 2005) as a keyed stateful operator: the live twin of
  * the batch `q_text_heavyhitters` (which CMS-gates an exact recount; a
  * stream cannot recount, so it keeps the summary itself).
  *
  * Sharding contract: the caller keys every occurrence of one item to the
  * SAME shard (shard = the item, or hash(item) % shards), so the classic
  * single-stream guarantees hold PER ITEM against its shard's arrival
  * count n_shard:
  *   - any item with true count > n_shard/m is present in the summary;
  *   - estimates only overestimate: est ≥ true;
  *   - the per-slot error bound brackets it: est − err ≤ true ≤ est.
  * (`TopKStreamSpec` pins all three against exact batch counts, plus
  * est ≡ true when the shard's distinct items fit the m slots.)
  *
  * State per shard: at most [[TopKStream.Slots]] (item, est, err) entries
  * — bounded and stream-length-independent, the whole point: a billion-
  * token shard still holds m slots. A [[KeyedFold]] sorted by the caller's
  * `seq` within a micro-batch, so replays are deterministic; SpaceSaving
  * itself is order-sensitive only BELOW the guarantee threshold, which is
  * why the spec asserts guarantees (not slot equality) across slicings.
  * Emission: after each batch, the current (est, err) of every item
  * touched in that batch. [[TopKStream.TEst]] carries no batch/sequence
  * column, so in an UNORDERED sink the same item's emissions are told
  * apart by `est` alone: a reader folds by **max est per (shard, item)**,
  * which is the latest emission because a slot's est is monotone
  * non-decreasing while the item stays resident — and if the item was
  * evicted and re-admitted in between, the re-admission inherits the
  * evicted slot's est as its floor, so max est is STILL the most recent
  * state (r8 ADVICE: "fold by max seq" was wrong — there is no seq).
  */
object TopKStream {

  /** Summary capacity m per shard. */
  val Slots = 16

  case class TItem(shard: Long, seq: Long, item: String)
  case class TEst(shard: Long, item: String, est: Long, err: Long)
  case class SsSlot(item: String, est: Long, err: Long)
  case class SsState(n: Long, slots: Seq[SsSlot])

  /** SpaceSaving over a `(shard, seq, item)` stream (or batch frame). */
  def topk(items: Dataset[TItem]): Dataset[TEst] = {
    val s = items.sparkSession
    import s.implicits._
    KeyedFold.run(items)(_.shard, "ss", Encoders.product[SsState],
        SsState(0L, Vector.empty), Some(Ordering.by(_.seq))) { (key, c0, rows) =>
      var n = c0.n
      var slots = c0.slots.toVector
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { r =>
        n += 1
        touched += r.item
        val i = slots.indexWhere(_.item == r.item)
        if (i >= 0) {
          slots = slots.updated(i, slots(i).copy(est = slots(i).est + 1))
        } else if (slots.size < Slots) {
          slots = slots :+ SsSlot(r.item, 1L, 0L)
        } else {
          // evict the min-estimate slot (ties → lexicographically smallest
          // item, so eviction is deterministic); the newcomer inherits the
          // evicted estimate as its error bound — the SpaceSaving invariant
          val mi = slots.indices.minBy(j => (slots(j).est, slots(j).item))
          val m = slots(mi)
          slots = slots.updated(mi, SsSlot(r.item, m.est + 1L, m.est))
        }
      }
      val byItem = slots.map(sl => sl.item -> sl).toMap
      (SsState(n, slots), touched.iterator.flatMap(it =>
        byItem.get(it).map(sl => TEst(key, sl.item, sl.est, sl.err))))
    }
  }

  /** The dashboard READ path (r8 verdict #7): fold an append-log of
    * [[TEst]] emissions to each shard's live summary and merge the shards
    * into the global top-k, ERROR BOUNDS CARRIED. Per the emission
    * contract above, the latest state of a (shard, item) slot is its MAX
    * (est, err) row; under the sharding contract an item's occurrences
    * all hit one shard, and if a caller violated it the per-shard SUM
    * still brackets (each shard's bracket covers that shard's arrivals,
    * and brackets add). `guaranteed_min = est − err` is the count the
    * summary PROVES: est ≥ true ≥ est − err (`TopKStreamSpec` pins both
    * sides against exact batch counts).
    *
    * Scale shape: the input is summaries, not data — ≤ shards × m rows by
    * the SpaceSaving state bound — so the global ranking window runs over
    * a bounded table (the same justification as every audited
    * single-partition site; this is a reader utility, not a declared
    * corpus query). */
  def mergeTopK(emissions: Dataset[TEst], k: Int): org.apache.spark.sql.DataFrame = {
    val s = emissions.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    emissions.groupBy($"shard", $"item")
      .agg(max(struct($"est", $"err")).as("s"))
      .groupBy($"item")
      .agg(sum($"s.est").as("est"), sum($"s.err").as("err"))
      .withColumn("rnk", row_number().over(Window.orderBy($"est".desc, $"item")))
      .filter($"rnk" <= k)
      .select($"rnk", $"item", $"est", $"err",
        ($"est" - $"err").as("guaranteed_min"))
      .orderBy($"rnk")
  }
}

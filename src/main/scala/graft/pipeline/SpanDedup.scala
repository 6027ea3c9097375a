package graft.pipeline

import graft.Caches.CacheOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.sources.Tables
import Hashing._

/** Span-level (sub-document) exact deduplication — the "repeated substring"
  * tier between whole-document exact dedup and MinHash near-dup:
  *
  *  - [[spans]]: corpus-wide duplicated-span detection (the ExactSubstr
  *    operator of Lee et al. 2022, "Deduplicating Training Data Makes
  *    Language Models Better" — suffix-array exact substrings in the paper;
  *    the distributed shape is fixed-width token windows, stride 1, hashed).
  *    A span is duplicated iff its hash occurs more than once in the corpus
  *    (another document OR another position of the same document).
  *  - [[incremental]]: new-batch-vs-corpus span overlap — the ingest-time
  *    question ("which incoming docs repeat content the corpus already
  *    has?"), accelerated by a Bloom-filter runtime prefilter built over the
  *    SMALL side (the batch), applied to the LARGE side (the corpus scan)
  *    before any shuffle — the same build-small/probe-big direction as
  *    Spark's own `InjectRuntimeFilter`, spelled explicitly because the two
  *    sides here meet through an aggregation, not a plain join.
  *
  * Everything is hash-bucketed: one shuffle on the span hash, map-side
  * combinable aggregates, no all-pairs stage — the shape survives a 100 TB
  * corpus (span count = token count × ~1, the same order as the tfidf /
  * perplexity term explodes).
  */
object SpanDedup {

  /** Tokens per span, stride 1. Production exact-substring dedup uses ~50
    * token windows (Lee et al. use 50 BPE tokens); the synthetic corpus's
    * ~54-token docs need 5 for repeated spans to exist at all. */
  val SpanK = 5

  /** Bloom capacity for [[incremental]]'s batch-span filter (default fpp at
    * this capacity ≈ 3%; false positives only cost verify-join input — the
    * exact join keeps the result exact regardless). At production scale size
    * this from the batch's token count. */
  val BloomItems = 1L << 20

  /** Per-doc span-duplication profile: doc_id, total spans, spans whose
    * hash occurs >1× corpus-wide. Plan: one narrow fused pass to per-doc
    * span hashes (native [[graft.functions.ShingleMd5]]), explode, ONE
    * shuffle on the span hash for the occurrence count (map-side
    * combinable), join back on the same key (the exchange is reused — same
    * partitioning), then a doc_id aggregate. The duplicated-hash table is
    * small (only repeated content); AQE broadcasts the join back when it
    * fits, no forced hint. */
  def spans(s: SparkSession, dir: String): DataFrame =
    spansOf(s, Tables.table(s, dir, "documents"))

  /** [[spans]] over any `(doc_id, text)` table — the library entry point
    * (`SpanDedupSpec` drives it with a planted near-copy corpus). */
  def spansOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    // Two plan branches (per-doc totals + the explode) read the span-hash
    // array: materialize it once. At 100 TB you would recompute instead of
    // cache — the narrow ShingleMd5 pass is cheaper than corpus-wide cache
    // residency; the branch structure is identical either way.
    val base = docs
      .select($"doc_id", shingleMd5(tokens($"text"), SpanK).as("hs"))
      .graftCache()
    val sp = base.select($"doc_id", explode($"hs").as("h"))
    val dup = sp.groupBy($"h").agg(count(lit(1)).as("n"))
      .filter($"n" > 1).select($"h")
    val perDoc = sp.join(dup, "h")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_dup"))
    base.select($"doc_id", size($"hs").as("n_spans"))
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"n_spans", coalesce($"n_dup", lit(0L)).as("n_dup"))
      .orderBy($"doc_id")
  }

  /** Incremental ingest dedup: for each new-batch document (odd doc_id —
    * stand-in for the incoming table; the corpus half is even doc_ids),
    * count its span positions whose content already exists in the corpus.
    *
    * The 100 TB shape: the corpus side is the huge one, so a Bloom filter
    * over the BATCH's span hashes (small, bounded by the ingest batch)
    * runtime-filters the corpus span stream before the corpus-side
    * `distinct()` shuffle — the only corpus-sized shuffle shrinks to
    * ~|batch ∩ corpus| + fpp·|corpus|. The subsequent exact equi-join
    * removes Bloom false positives, so the result is exact — the Bloom
    * changes the plan, never the answer (`SpanDedupSpec` pins this). */
  def incremental(s: SparkSession, dir: String): DataFrame =
    incrementalOf(s, Tables.table(s, dir, "documents"))

  /** [[incremental]] over any `(doc_id, text)` table (probe entry point). */
  def incrementalOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    // Three consumers read the span hashes (bloom build, corpus probe, batch
    // join side): materialize the per-doc hash arrays ONCE pre-explode (the
    // compact form — one md5 pass, ~8% the row count of the exploded view).
    // At 100 TB swap the cache for recompute-per-branch; the plan shape is
    // identical (r5 bench: the triple ShingleMd5 pass was 2/3 of the 22.6 s).
    val base = docs
      .select($"doc_id", shingleMd5(tokens($"text"), SpanK).as("hs"))
      .graftCache()
    val spans0 = base.select($"doc_id", explode($"hs").as("h"))
    val batch = spans0.filter($"doc_id" % 2 === 1)
    val corpus = spans0.filter($"doc_id" % 2 === 0)
    val bloom = batch.agg(bloomAgg(xxhash64($"h")).as("bf"))
    val corpusHits = corpus
      .filter(mightContain(ColumnBridge.scalarSubquery(bloom), xxhash64($"h")))
      .select($"h").distinct()
    batch.join(corpusHits, "h")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy($"doc_id")
  }

  /** Streaming [[incremental]]: the same span-overlap count on a LIVE
    * ingest — a stream-static join between the incoming document stream's
    * spans and the (static) corpus span-hash table. Per micro-batch Spark
    * re-plans the static side, so AQE sizes the join each batch; no state
    * store beyond the aggregation. The Bloom direction inverts here: a
    * static-corpus bloom (built once, ~1 GB at 10^9 distinct spans) would
    * prefilter the stream's spans — worth it only when the corpus-side join
    * state dominates; the join itself is already exact without it. Pinned
    * streaming ≡ batch in `PipelineStreamSpec`. */
  def incrementalStream(docs: DataFrame, corpusSpans: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", explode(shingleMd5(tokens($"text"), SpanK)).as("h"))
      .join(corpusSpans, "h")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** `bloom_filter_agg` over a long column (Spark's sketch aggregate — the
    * builder half of the runtime-filter pair). */
  private def bloomAgg(c: Column): Column =
    ColumnBridge.column(
      new BloomFilterAggregate(ColumnBridge.expression(c), BloomItems)
        .toAggregateExpression())

  /** `might_contain(bloom, xxhash64(v))` — the probe half. */
  private def mightContain(bloom: Column, v: Column): Column =
    ColumnBridge.column(
      BloomFilterMightContain(
        ColumnBridge.expression(bloom), ColumnBridge.expression(v)))

  /** DuckDB: per-position K-gram md5 span hashes from token list `w` —
    * byte-identical to the native ShingleMd5 (md5 of `'|' + space-joined
    * gram`). */
  private def duckSpanHashes(w: String): String = {
    val parts = (0 until SpanK).map(j => s"$w[i+$j]").mkString(", ")
    s"CASE WHEN len($w) >= $SpanK THEN " +
      s"list_transform(generate_series(1, len($w) - ${SpanK - 1}), " +
      s"i -> md5('|' || concat_ws(' ', $parts))) ELSE [] END"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_spans" -> spans _,
    "q_dedup_incremental" -> incremental _,
  )

  val oracles: Map[String, String] = Map(
    "q_dedup_spans" ->
      s"""WITH d AS (SELECT doc_id, ${duckTokens("text")} AS w FROM documents),
         |g AS (SELECT doc_id, ${duckSpanHashes("w")} AS hs FROM d),
         |sp AS (SELECT doc_id, unnest(hs) AS h FROM g),
         |c AS (SELECT h FROM sp GROUP BY h HAVING count(*) > 1),
         |pd AS (SELECT sp.doc_id, count(*) AS n_dup
         |  FROM sp JOIN c USING (h) GROUP BY sp.doc_id)
         |SELECT g.doc_id, CAST(len(g.hs) AS INT) AS n_spans,
         |  CAST(COALESCE(pd.n_dup, 0) AS BIGINT) AS n_dup
         |FROM g LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH d AS (SELECT doc_id, ${duckTokens("text")} AS w FROM documents),
         |g AS (SELECT doc_id, ${duckSpanHashes("w")} AS hs FROM d),
         |sp AS (SELECT doc_id, unnest(hs) AS h FROM g),
         |corp AS (SELECT DISTINCT h FROM sp WHERE doc_id % 2 = 0)
         |SELECT sp.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM sp JOIN corp USING (h)
         |WHERE sp.doc_id % 2 = 1
         |GROUP BY sp.doc_id ORDER BY doc_id""".stripMargin,
  )
}

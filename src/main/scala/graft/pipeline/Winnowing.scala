package graft.pipeline

import graft.Caches.CacheOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import Hashing._

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
  * 2003, "Winnowing: Local Algorithms for Document Fingerprinting" — the
  * MOSS algorithm): in every window of [[W]] consecutive k-gram hashes,
  * select the minimum (ties → RIGHTMOST, the paper's rule), and keep the
  * distinct selected positions. Guarantees: any shared substring of at
  * least W + K − 1 tokens produces at least one shared fingerprint, and
  * ~2/(W+1) of the grams are selected — position-robust overlap detection
  * at a fraction of the full span table ([[SpanDedup]] keeps EVERY span;
  * winnowing is its sub-linear fingerprint tier).
  *
  * Shape: one narrow fused pass to per-doc gram hashes (native ShingleMd5),
  * the window-argmin entirely inside per-row array lambdas (no shuffle), an
  * explode of the ~2/(W+1)-sized selection, and ONE distinct-free output —
  * positions are already deduped per doc by `array_distinct` before the
  * explode. The selection key is the md5 hex string: lexicographic order is
  * engine-agnostic, so the argmin (and therefore the fingerprint set) is
  * bit-identical in the oracle.
  */
object Winnowing {

  /** Tokens per k-gram (the noise threshold: matches shorter than K tokens
    * never fingerprint). */
  val K = 4
  /** Window width in grams (guarantee threshold t = W + K − 1 = 7). */
  val W = 4

  def winnow(s: SparkSession, dir: String): DataFrame =
    winnowOf(s, Tables.table(s, dir, "documents"))

  /** [[winnow]] over any `(doc_id, text)` table — fixture entry point. */
  def winnowOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    fingerprints(docs).orderBy($"doc_id", $"pos")
  }

  /** The unsorted `(doc_id, pos, fp)` fingerprint table as a stream-safe
    * DataFrame→DataFrame transform (pure per-row array lambdas, no shuffle
    * and no sort) — the live-ingest spelling of [[winnow]];
    * `PipelineStreamSpec` pins streaming ≡ batch. */
  def winnowFpOf(docs: DataFrame): DataFrame = fingerprints(docs)

  /** [[winnowFpOf]] with passthrough columns carried beside `doc_id` —
    * lets a caller fingerprint a MIXED corpus in ONE pass and split it
    * afterwards by a flag column instead of running the tokenize→gram-hash→
    * winnow pipeline once per disjoint filter
    * ([[Curation.decontaminateWinnow]], r9 verdict #1). */
  private[pipeline] def winnowFpWith(docs: DataFrame, extra: Seq[String]): DataFrame =
    fingerprints(docs, extra)

  /** The window-argmin selection over a gram-hash array column named `hs`
    * at window width `w` — native one-deque-sweep
    * [[graft.functions.WinnowSelect]] (r16: the HOF spelling re-read
    * every window per output through interpreted lambdas — O(len·w) steps
    * per row — and the winnow family spent most of its time there; the
    * fused sweep is O(len)). 1-based positions, ties rightmost. Shared
    * with the video frame-sequence fingerprints ([[Multimodal]], r11). */
  private[graft] def selectOf(w: Int): org.apache.spark.sql.Column =
    graft.functions.WinnowSelect(col("hs"), w)

  /** The unsorted `(doc_id[, extra...], pos, fp)` fingerprint table
    * ([[winnowPairs]] feeds it straight into a shuffle, where the sort
    * would be dead work). */
  private def fingerprints(docs: DataFrame, extra: Seq[String] = Nil): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val carry = col("doc_id") +: extra.map(col)
    docs
      .select(carry :+ shingleMd5(tokens($"text"), K).as("hs"): _*)
      .filter(size($"hs") >= W)
      .select(carry :+ explode(selectOf(W)).as("s"): _*)
      .select(carry :+ $"s.pos".as("pos") :+ $"s.fp".as("fp"): _*)
  }

  /** Hot-fingerprint guard for [[winnowPairs]] — the [[Dedup.MaxBucket]]
    * analog: a boilerplate gram selected in too many documents would
    * contribute O(n²) pairs; its bucket is dropped via broadcast anti-join
    * (generous vs the test corpus; mirrored in the oracle). */
  val MaxFpBucket = 200

  /** MOSS overlap detection — the fingerprints put to their intended use:
    * document pairs sharing at least one selected fingerprint, with the
    * shared count (the plagiarism/contamination candidate table). ONE
    * shuffle on the fingerprint key; pair width bounded by fp-bucket
    * occupancy (guarded), never all-pairs — the same candidates→verify
    * shape as MinHash, at winnowing's ~2/(W+1) index size. */
  def winnowPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // cached at the FINGERPRINT tier: the tokenize→gram-hash→winnow→
    // distinct pipeline is the expensive pass and it feeds the hot-bucket
    // count AND (via cl) both self-join sides — caching only `cl` still
    // replayed the pipeline once for `hot` (the Dedup.containment r8
    // cache-placement fix; MEMORY_AND_DISK, so at scale it spills rather
    // than recomputes)
    val uf = fingerprints(Tables.table(s, dir, "documents"))
      .select($"doc_id", $"fp").distinct().graftCache()
    // hot cached too (r16): `cl` feeds BOTH self-join sides — with only
    // `uf` cached, each side re-ran the bucket-count aggregate (the
    // Dedup.containment hot-cache fix; the hot list is O(boilerplate
    // grams), tiny)
    val hot = uf.groupBy($"fp").agg(count(lit(1)).as("c"))
      .filter($"c" > MaxFpBucket).select($"fp").graftCache()
    val cl = uf.join(broadcast(hot), Seq("fp"), "left_anti")
    // NOTE (r16): the containment-style postings re-plan (groupBy(fp) →
    // collect_list → in-array pairs) was A/B-measured HERE and reverted —
    // 1.55-1.63 s → 1.64-1.90 s warm. The fingerprint index is
    // fine-grained (many fps, tiny buckets), so the collect_list aggregate
    // spills past the ObjectHashAggregate fallback and re-introduces the
    // sort the re-plan was meant to remove, plus per-row array copies; the
    // SMJ self-join is the better shape at this bucket-size distribution.
    cl.as("a").join(cl.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy($"doc_a", $"doc_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_winnow" -> winnow _,
    "q_text_winnow_pairs" -> winnowPairs _,
  )

  /** DuckDB k-gram md5 hashes (1-based positions), byte-identical to the
    * native ShingleMd5 — same construction as SpanDedup's oracle at k=K. */
  private[pipeline] def duckGramHashes(w: String): String = {
    val parts = (0 until K).map(j => s"$w[i+$j]").mkString(", ")
    s"CASE WHEN len($w) >= $K THEN " +
      s"list_transform(generate_series(1, len($w) - ${K - 1}), " +
      s"i -> md5('|' || concat_ws(' ', $parts))) ELSE [] END"
  }

  val oracles: Map[String, String] = Map(
    "q_text_winnow" ->
      s"""WITH d AS (SELECT doc_id, ${duckTokens("text")} AS w FROM documents),
         |g AS (SELECT doc_id, ${duckGramHashes("w")} AS hs FROM d),
         |sel AS (SELECT doc_id,
         |    list_transform(generate_series(1, len(hs) - ${W - 1}), j ->
         |      list_reduce(
         |        list_transform(generate_series(j, j + ${W - 1}),
         |          i -> struct_pack(pos := i, fp := hs[i])),
         |        (a, b) -> CASE WHEN b.fp <= a.fp THEN b ELSE a END)) AS ss
         |  FROM g WHERE len(hs) >= $W),
         |u AS (SELECT DISTINCT doc_id, s.pos AS pos, s.fp AS fp
         |  FROM (SELECT doc_id, unnest(ss) AS s FROM sel))
         |SELECT doc_id, CAST(pos AS INT) AS pos, fp
         |FROM u ORDER BY doc_id, pos""".stripMargin,
    "q_text_winnow_pairs" ->
      s"""WITH d AS (SELECT doc_id, ${duckTokens("text")} AS w FROM documents),
         |g AS (SELECT doc_id, ${duckGramHashes("w")} AS hs FROM d),
         |sel AS (SELECT doc_id,
         |    list_transform(generate_series(1, len(hs) - ${W - 1}), j ->
         |      list_reduce(
         |        list_transform(generate_series(j, j + ${W - 1}),
         |          i -> struct_pack(pos := i, fp := hs[i])),
         |        (a, b) -> CASE WHEN b.fp <= a.fp THEN b ELSE a END)) AS ss
         |  FROM g WHERE len(hs) >= $W),
         |uf AS (SELECT DISTINCT doc_id, s.fp AS fp
         |  FROM (SELECT doc_id, unnest(ss) AS s FROM sel)),
         |cold AS (SELECT doc_id, fp FROM uf
         |  WHERE fp NOT IN (SELECT fp FROM uf GROUP BY fp
         |                   HAVING count(*) > $MaxFpBucket))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin,
  )
}

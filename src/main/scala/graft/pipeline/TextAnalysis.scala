package graft.pipeline

import graft.Caches.CacheOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import Hashing._

/** Text-analysis operators over `documents`: language ID (stopword-vote
  * heuristic), quality scoring (length / punctuation / stopword ratios in
  * exact integer basis points), token counting (whitespace + regex "BPE-ish"
  * tokenization), and document fingerprinting (rolling char-fold hash).
  * All single-pass narrow scans — no shuffle except the final ORDER BY.
  */
object TextAnalysis {

  private val stopEn = Seq("the", "a", "of", "and", "to")
  private val stopDe = Seq("der", "und", "die", "das", "ein")
  private val stopFr = Seq("le", "et", "les", "la", "un")
  private val stopEs = Seq("el", "y", "los", "en", "un")
  private val stopLists = Seq(stopEn, stopDe, stopFr, stopEs)

  /** Built-in-only stopword hit count — the oracle-shaped reference impl
    * and cross-implementation check for [[stopVotes]] (lambda-bearing, so
    * CSE-exempt: NOT for multi-reference hot paths — see StopVotes). */
  private[pipeline] def hits(w: Column, words: Seq[String]): Column =
    size(filter(w, t => t.isInCollection(words)))

  /** All four stoplist counts in one native CSE-eligible pass
    * ([[graft.functions.StopVotes]]). */
  private[pipeline] def stopVotes(text: Column): Column =
    graft.functions.StopVotes(text, stopLists)

  /** Stopword-vote language ID; deterministic tiebreak en > de > fr > es >
    * unk. The scores come from ONE `stop_votes` array (referenced nine
    * times across columns/CASE arms — subexpression elimination evaluates
    * it once per row; the lambda-based spelling re-ran the tokenize+filter
    * per reference and compiled ~28 copies, which is what made this shape's
    * first compile the r5 bench outlier). */
  def langId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = stopVotes(lower($"text"))
    Tables.table(s, dir, "documents")
      .select(
        $"doc_id",
        v.getItem(0).as("s_en"), v.getItem(1).as("s_de"),
        v.getItem(2).as("s_fr"), v.getItem(3).as("s_es"))
      .withColumn("best", greatest($"s_en", $"s_de", $"s_fr", $"s_es"))
      .withColumn("lang_pred",
        when($"best" === 0, "unk")
          .when($"s_en" === $"best", "en")
          .when($"s_de" === $"best", "de")
          .when($"s_fr" === $"best", "fr")
          .otherwise("es"))
      .select($"doc_id", $"s_en", $"s_de", $"s_fr", $"s_es", $"lang_pred")
      .orderBy($"doc_id")
  }

  /** Quality metrics in exact integers: token count, mean token length in
    * centichars, stopword ratio in basis points, punctuation count, and a
    * composite score. */
  def quality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.table(s, dir, "documents")
      .withColumn("w", tokens(lower($"text")))
      .withColumn("n_tok", size($"w"))
      .withColumn("n_stop", hits($"w", stopEn))
      .select(
        $"doc_id",
        $"n_chars",
        $"n_tok",
        // mean token length × 100, exact integer division
        floor(aggregate($"w", lit(0L), (a, t) => a + length(t)) * 100L / $"n_tok")
          .cast("long").as("tok_len_c"),
        floor($"n_stop" * 10000L / $"n_tok").cast("long").as("stop_bp"),
        (length($"text") - length(regexp_replace($"text", "[^a-z0-9 ]", "")))
          .as("n_punct"),
        // composite: long docs with healthy stopword share score higher
        (floor(least($"n_chars", lit(1000)) / 10) +
          floor(least(floor($"n_stop" * 10000L / $"n_tok"), lit(1000)) / 10))
          .cast("long").as("score"))
      .orderBy($"doc_id")
  }

  /** Whitespace vs regex ("BPE-ish" word/number/symbol classes) token counts. */
  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.table(s, dir, "documents")
      .select(
        $"doc_id",
        size(tokens($"text")).as("n_ws"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
          .as("n_re"),
        length($"text").as("len"))
      .orderBy($"doc_id")
  }

  /** Redaction rule set, first match wins: named-entity tokens → `<FIELD>`,
    * then any long token → `<LONG>`. Stand-ins for PII patterns (emails,
    * phone numbers) — the corpus is lowercase word-soup, so the rules target
    * shapes that exist in it; swapping the regexes swaps the policy. */
  private val fieldRe = "^(key|value|row|table)$"
  private val longLen = 6

  /** Token-level redaction: tokenize, rewrite matching tokens, re-join.
    * Token-level (not document-level regexp_replace) so both engines apply
    * identical match semantics — no regex word-boundary divergence — and the
    * whole pass is one narrow codegen'd projection, no shuffle but the
    * final ORDER BY. */
  def redact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    redactOf(Tables.table(s, dir, "documents")).orderBy($"doc_id")
  }

  /** The redaction transform on any `(doc_id, text)` frame — stateless, so
    * it applies unchanged to a streaming DataFrame (pinned by
    * `PipelineStreamSpec`). */
  def redactOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .withColumn("w", tokens($"text"))
      .select(
        $"doc_id",
        size(filter($"w", t => t.rlike(fieldRe) || length(t) >= longLen))
          .as("n_redacted"),
        array_join(
          transform($"w", t =>
            when(t.rlike(fieldRe), lit("<FIELD>"))
              .when(length(t) >= longLen, lit("<LONG>"))
              .otherwise(t)),
          " ").as("redacted"))
  }

  /** Rolling char-fold fingerprint of the full text (portable across engines). */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.table(s, dir, "documents")
      .select($"doc_id", charFoldHash($"text").as("fp"))
      .orderBy($"doc_id")
  }

  /** Chunk window: tokens per chunk / stride between chunk starts. The
    * 32/24 overlap (25%) is the context-window packing shape; short docs
    * yield one (possibly short) chunk. */
  val ChunkN = 32
  val ChunkS = 24

  /** Overlapping token-window chunking — the training-data shape that turns
    * documents into model-context-sized pieces. All array ops (sequence →
    * posexplode → slice → array_join) are codegen'd builtins; the explode is
    * narrow (no shuffle, output partitioning inherits the scan), so chunking
    * 100 TB is embarrassingly parallel. */
  def chunk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    chunkRaw(s, dir).orderBy($"doc_id", $"chunk_id")
  }

  /** Unsorted chunks — the composable form: [[Curation.pack]] feeds these
    * straight into its bucket shuffle, where the query-facing global sort
    * would be a dead rangepartitioning exchange. */
  private[pipeline] def chunkRaw(s: SparkSession, dir: String): DataFrame =
    chunkOf(Tables.table(s, dir, "documents"))

  /** The chunking transform on any `(doc_id, text)` frame — stateless /
    * narrow, so it applies unchanged to a streaming DataFrame. */
  def chunkOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .withColumn("w", tokens($"text"))
      .withColumn("n", size($"w"))
      // chunk count: 1 + ceil((n-N)/S) exactly, in integer arithmetic
      .withColumn("nc",
        when($"n" <= ChunkN, lit(1))
          .otherwise(expr(s"(n - $ChunkN + ${ChunkS - 1}) div $ChunkS") + 1))
      .select($"doc_id", $"w", posexplode(sequence(lit(0), $"nc" - 1)))
      .select(
        $"doc_id",
        $"pos".as("chunk_id"),
        size(slice($"w", $"pos" * ChunkS + 1, lit(ChunkN))).as("n_tok"),
        array_join(slice($"w", $"pos" * ChunkS + 1, lit(ChunkN)), " ").as("chunk"))
  }

  /** Top terms kept per document by [[tfidf]]. */
  val TfIdfTopK = 5

  /** TF-IDF top-terms per document. Scale shape: one shuffle for the
    * (doc, term) term-frequency aggregate; the document-frequency table is
    * vocabulary-sized — usually broadcastable, but a 100 TB crawl's
    * vocabulary can reach billions of distinct tokens, so the join back
    * carries NO forced hint: AQE broadcasts it when its runtime size fits
    * the threshold and falls back to a term-key shuffle when it doesn't.
    * The 1-row doc count keeps its hint (provably bounded). The single
    * float op —
    * `ln(N/df)` — is floor-quantized to integer micros immediately and every
    * downstream step (tf × idf, ranking, compare) is exact integer, per the
    * oracle-determinism rules; df takes only vocabulary-many values, so the
    * quantization boundary is never within double-rounding distance here. */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.table(s, dir, "documents")
    val tf = docs
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf_micro".desc, $"term")
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf_micro",
        $"tf" * floor(log($"n".cast("double") / $"df") * 1e6).cast("long"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= TfIdfTopK)
      .select($"doc_id", $"term", $"tf", $"df", $"tfidf_micro")
      .orderBy($"doc_id", $"term")
  }

  /** Per-source document-length distribution with EXACT discrete quantiles
    * (value at rank ceil(p·n), ties broken by doc_id — deterministic, so
    * oracle-able; interpolated/approximate quantiles are float territory).
    * Shape: one hash partition by stratum + in-partition sort — the standard
    * exact-quantile plan. On strata too large to sort, swap the rank
    * selection for `approx_percentile` (t-digest, mergeable) and drop the
    * oracle to a tolerance check. */
  def lengthStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"n_chars", $"doc_id")
    val wn = Window.partitionBy($"source")
    Tables.table(s, dir, "documents")
      .select($"source", $"doc_id", $"n_chars")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"),
        max(when($"rn" === expr("(n + 1) div 2"), $"n_chars")).as("p50_chars"),
        max(when($"rn" === expr("(9 * n + 9) div 10"), $"n_chars")).as("p90_chars"))
      .orderBy($"source")
  }

  /** Sharded-histogram QUANTILE MERGE as a declared, oracle-gated query —
    * the batch twin of the [[graft.streaming.QuantileStream]] dashboard
    * read path, proving the merge algebra against DuckDB rather than only
    * spec fixtures: each source's document lengths are histogrammed on 4
    * hash shards independently (bucket = floor(log₂ v), spelled exactly as
    * the integer `length(bin(v)) − 1` so both engines agree at power-of-two
    * boundaries where float log2 ties break wrong), the per-shard
    * summaries take the [[graft.streaming.QuantileStream.QHist]] shape (n
    * + a dense 64-bucket count array), and
    * [[graft.streaming.QuantileStream.mergeQuantiles]] folds them into the
    * per-source global p50/p90/max buckets. Histogram counts are exact, so
    * the sharded merge must equal the unsharded answer — the contract the
    * oracle checks by computing the quantiles WITHOUT shards.
    *
    * Shape at scale: one (source, shard, bucket) map-side-combinable
    * count, one (source, shard) fold to the dense array, then the merge's
    * own bounded per-group window — the corpus is never sorted. */
  def quantileMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hists = Tables.table(s, dir, "documents")
      .select($"source", pmod($"doc_id", lit(4L)).as("shard"),
        (length(bin($"n_chars")) - 1).as("bucket"))
      .groupBy($"source", $"shard", $"bucket")
      .agg(count(lit(1)).as("c"))
      .groupBy($"source", $"shard")
      .agg(sum($"c").as("n"),
        map_from_entries(collect_list(struct($"bucket", $"c"))).as("m"))
      .select($"source".as("gkey"),
        concat($"source", lit("|"), $"shard").as("skey"), $"n",
        expr("transform(sequence(0, 63), i -> " +
          "coalesce(element_at(m, i), CAST(0 AS BIGINT)))").as("counts"))
    graft.streaming.QuantileStream.mergeQuantiles(hists)
  }

  /** Word n-grams (space-joined), empty below n tokens — the native
    * one-pass [[graft.functions.ShingleStrings]] (r16: diversity /
    * collocations / repetition were still on the interpreted HOF spelling
    * that [[Hashing.shingles3]] left behind in r8 — same fused loop, same
    * ~10× per-row win; `ShingleStringsSpec` pins native ≡ HOF at both
    * shipped n). */
  private def grams(w: Column, n: Int): Column =
    graft.functions.ShingleStrings(w, n)

  /** Within-document repetition metrics — the Gopher-style quality signals
    * (Rae et al. 2021 §A1.1) that catch boilerplate and degenerate
    * generations BEFORE any corpus-wide dedup: duplicate 2-/3-gram mass and
    * top-token concentration, in exact integer basis points. Single-pass
    * narrow scan (all higher-order-function builtins, no shuffle but the
    * final ORDER BY); the top-token fold is O(distinct × tokens) per doc —
    * bounded per row, embarrassingly parallel at corpus scale. */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    repetitionOf(Tables.table(s, dir, "documents")).orderBy($"doc_id")
  }

  /** The repetition metrics on any `(doc_id, text)` frame — stateless /
    * narrow, so it applies unchanged to a streaming DataFrame (pinned by
    * `PipelineStreamSpec`). */
  def repetitionOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    def dupBp(g: Column): Column =
      when(size(g) > 0,
        floor((size(g) - size(array_distinct(g))) * 10000L / size(g)))
        .otherwise(0L).cast("long")
    docs
      .withColumn("w", tokens($"text"))
      .withColumn("g2", grams($"w", 2))
      .withColumn("g3", grams($"w", 3))
      .select(
        $"doc_id",
        size($"w").as("n_tok"),
        dupBp($"g2").as("dup2_bp"),
        dupBp($"g3").as("dup3_bp"),
        array_max(transform(array_distinct($"w"), t =>
          size(filter($"w", x => x === t)))).as("top_tok"),
        floor(
          array_max(transform(array_distinct($"w"), t =>
            size(filter($"w", x => x === t)))) * 10000L / size($"w"))
          .cast("long").as("top_bp"))
  }

  /** Corpus-level n-gram DIVERSITY per source — the distinct-n ratio
    * (Li et al. 2016, "A Diversity-Promoting Objective Function for Neural
    * Conversation Models": distinct bigrams / total bigrams), the standard
    * degenerate-corpus detector at the SOURCE level that the per-doc
    * [[repetition]] signals can't see (a source of 10k distinct-looking docs
    * sharing one template has clean per-doc metrics and a collapsed
    * distinct-2 ratio). Shape: one bigram-key shuffle into the
    * (source, gram) count table — map-side combinable, vocab²-bounded
    * output — then a tiny per-source rollup; exact integer basis points. */
  def diversity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.table(s, dir, "documents")
      .select($"source", explode(grams(tokens($"text"), 2)).as("g"))
      .groupBy($"source", $"g").agg(count(lit(1)).as("c"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_distinct"), sum($"c").as("n_total"))
      .select($"source", $"n_distinct", $"n_total",
        expr("(n_distinct * 10000L) div n_total").as("distinct_bp"))
      .orderBy($"source")
  }

  /** Unigram cross-entropy quality score — the CCNet-style LM quality proxy
    * (Wenzek et al. 2020 use a 5-gram KenLM; the unigram form keeps the
    * operator SHAPE — train token distribution, score each doc by mean
    * negative log-probability — with an exactly-oracled arithmetic). Low
    * score = common words (fluent-ish), high = rare-token soup. Shape: one
    * (doc, term) explode feeding BOTH the corpus unigram table (one term
    * shuffle, map-side combinable) and the scoring join back (vocab-sized
    * table, AQE-sized like tfidf's df join — no forced broadcast); per-doc
    * aggregate on doc_id. Determinism: the single float op `ln(cnt/total)`
    * is floor-quantized to integer micros immediately; everything after is
    * exact integer, per the oracle-determinism rules. */
  def perplexity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.table(s, dir, "documents")
      .select($"doc_id", explode(tokens($"text")).as("term"))
    val unigram = toks.groupBy($"term").agg(count(lit(1)).as("cnt"))
    val total = unigram.agg(sum($"cnt").as("total"))
    val logp = unigram.crossJoin(broadcast(total))
      .select($"term",
        floor(log($"cnt".cast("double") / $"total") * 1e6).cast("long")
          .as("logp_micro"))
    toks.join(logp, "term")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tok"), (-sum($"logp_micro")).as("nll_micro"))
      .select($"doc_id", $"n_tok".cast("int").as("n_tok"),
        expr("nll_micro div n_tok").as("ce_micro"))
      .orderBy($"doc_id")
  }

  /** Bigram-LM cross-entropy per document — the next fidelity tier above
    * [[perplexity]]'s unigram model (CCNet ships a 5-gram KenLM; the
    * distributed shape is identical at any order: n-gram explode → count →
    * conditional log-prob → join back → per-doc aggregate). Self-scored on
    * the corpus, so every document bigram has a nonzero count and no
    * smoothing branch is needed. Shape: one bigram-key shuffle for the
    * counts (map-side combinable), the per-head total from the PAIR table
    * (vocab²-bounded, not corpus-sized), scoring join back on the same
    * bigram key (exchange reuse), doc_id aggregate. Determinism: the one
    * float op `ln(cab/ca)` floor-quantized to micros immediately. */
  def perplexityBigram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bg = Tables.table(s, dir, "documents")
      .select($"doc_id", tokens($"text").as("w"))
      .filter(size($"w") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(w) - 1), i -> " +
          "named_struct('a', element_at(w, i), 'b', element_at(w, i + 1)))")).as("p"))
      .select($"doc_id", $"p.a".as("a"), $"p.b".as("b"))
    val pairCnt = bg.groupBy($"a", $"b").agg(count(lit(1)).as("cab"))
    val headCnt = pairCnt.groupBy($"a").agg(sum($"cab").as("ca"))
    val logp = pairCnt.join(headCnt, "a")
      .select($"a", $"b",
        floor(log($"cab".cast("double") / $"ca") * 1e6).cast("long")
          .as("logp_micro"))
    bg.join(logp, Seq("a", "b"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigram"), (-sum($"logp_micro")).as("nll_micro"))
      .select($"doc_id", $"n_bigram".cast("int").as("n_bigram"),
        expr("nll_micro div n_bigram").as("ce_micro"))
      .orderBy($"doc_id")
  }

  /** Cross-source contamination audit: distinct word-3-gram shingles shared
    * between every pair of sources — the leakage check run before declaring
    * train/eval splits clean. Shape: one shuffle on the shingle key for the
    * distinct (shingle, source) table; the self-join fans out at most
    * C(#sources, 2) rows per shingle (bounded by source-count², not corpus
    * size), then a tiny pair aggregate. The shingle KEY is the fused native
    * md5 ([[Hashing.shingleMd5]]) rather than the materialized gram string:
    * same distinct/join/count semantics, fixed-width keys, no per-shingle
    * string building — the r5 bench had the string spelling at 2.4× the
    * hashed one. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r16 re-plan (the Basket/containment postings shape): ONE shingle-key
    // shuffle folds the per-shingle source set directly (`collect_set`
    // absorbs the former separate `.distinct()` exchange), pairs are
    // generated IN-ARRAY (fan-out ≤ C(#sources, 2) per shingle — bounded
    // by source-count², never corpus size), and the tiny pair aggregate
    // follows. Replaces distinct-Exchange + SMJ self-join (2 sorts) with
    // one aggregate; `source_a < source_b` is structural (array_sort +
    // strictly-later slice, binary string order on both engines).
    Tables.table(s, dir, "documents")
      .select($"source", explode(array_distinct(shingleMd5(tokens($"text")))).as("sh"))
      .groupBy($"sh").agg(array_sort(collect_set($"source")).as("ss"))
      .select($"ss", posexplode($"ss"))
      .select(col("col").as("source_a"),
        explode(slice($"ss", col("pos") + lit(2), size($"ss"))).as("source_b"))
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy($"source_a", $"source_b")
  }

  /** t-digest accuracy for [[lengthStatsApprox]]: relative rank error ≤
    * 1/Accuracy, the bound `CurationSpec` asserts against the exact ranks. */
  val ApproxAccuracy = 10000

  /** The scale path [[lengthStats]]'s Scaladoc names: per-source quantiles
    * via `approx_percentile` (t-digest — mergeable, map-side-combinable, no
    * per-stratum sort), for strata too large to sort. ONE hash-aggregate
    * shuffle carrying sketches instead of rows; a 10^10-doc stratum costs
    * the same reduce-side state as a 10^3-doc one. Non-oracle (the sketch
    * is implementation-defined): rows-only driver check + a rank-error
    * tolerance test against the exact operator. */
  def lengthStatsApprox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.table(s, dir, "documents")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"),
        percentile_approx($"n_chars", lit(0.5), lit(ApproxAccuracy)).as("p50_chars"),
        percentile_approx($"n_chars", lit(0.9), lit(ApproxAccuracy)).as("p90_chars"))
      .orderBy($"source")
  }

  /** Feature-hash buckets for [[classifier]] (2^10; production fastText uses
    * 2^21 — the arithmetic is bucket-count-agnostic). */
  val ClfBuckets = 1024L
  /** Knuth multiplicative-hash constant: spreads bucket ids over the weight
    * range so adjacent buckets get uncorrelated weights. */
  val ClfMixer = 2654435761L

  /** Deterministic per-bucket weight in [-1000, 1000] milli-units. A trained
    * model ships its weights as a table (broadcast-joined) or a literal
    * array; this derivation keeps the weights reproducible inside BOTH
    * engines so the oracle can check the full scoring pipeline. */
  private def clfWeight(bucket: Column): Column =
    (bucket * ClfMixer) % 2001L - 1000L

  /** Hashed bag-of-words linear quality classifier — the fastText-shaped
    * scorer every pretraining pipeline runs (CCNet / GPT-3 Common Crawl
    * filtering): token → feature-hash bucket → weight lookup → sum →
    * threshold. The hash is the portable char-fold (native codegen'd
    * expression), the "lookup" is pure arithmetic on the bucket id, and the
    * whole document scores in ONE narrow codegen'd pass (an `aggregate`
    * fold over the token array — no explode, no shuffle but the final ORDER
    * BY). At 100 TB this is scan-bound, exactly like langid/quality. */
  def classifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    classifierOf(Tables.table(s, dir, "documents")).orderBy($"doc_id")
  }

  /** The classifier transform on any `(doc_id, text)` frame — stateless /
    * narrow, so it applies unchanged to a streaming DataFrame (pinned by
    * `PipelineStreamSpec`): the live ingest path scores documents with the
    * same plan the backfill job uses. */
  def classifierOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .withColumn("w", tokens(lower($"text")))
      .select(
        $"doc_id",
        aggregate($"w", lit(0L),
          (acc, t) => acc + clfWeight(charFoldHash(t) % ClfBuckets))
          .as("score_milli"))
      .withColumn("keep", ($"score_milli" > 0).cast("int"))
  }

  /** Hashed FEATURE BUCKETS of one token for the TRAINED classifier: the
    * word itself plus its boundary-marked char 3- and 4-grams — fastText's
    * actual discriminative machinery (Bojanowski et al. 2017 subwords),
    * added in r12 because the r11 eval measured the unigram-only signal
    * WEAK (6508 vs 5875 bp separation — r11 verdict #2). `<` and `>`
    * mark word boundaries so prefixes/suffixes hash distinctly from
    * word-internal grams, exactly fastText's convention. All features
    * share the one [[ClfBuckets]] hash space (the hashing trick).
    *
    * Native fused form ([[graft.functions.ClfGramBuckets]] — one pass over
    * the marked token's bytes, zero per-gram allocation; the HOF spelling
    * cost a measured +1.2 s each on fit/eval at sf0.1, and
    * `ClassifierFitSpec` pins native ≡ HOF on the real corpus). */
  private def clfFeatureBuckets(t: Column): Column =
    graft.functions.ClfGramBuckets(t, ClfBuckets)

  /** ONE-PASS QUALITY-CLASSIFIER TRAINING (r10 verdict #3 — the loop
    * [[classifier]] serves but nothing trained): a closed-form
    * Naive-Bayes-shaped fit over hashed bag-of-words features, the
    * fastText-supervised shape (Joulin et al. 2016) reduced to its
    * count-based core. Label = the corpus's `lang = 'en'` slice (the
    * labeled-slice stand-in; any binary label column works); per feature
    * bucket the fit counts positive/negative token occurrences and freezes
    * the add-one-smoothed positive rate, CENTERED, in exact integer
    * milli-units:
    *
    *   w_milli(b) = (1000·(n_pos+1)) div (n_pos+n_neg+2) − prior_milli
    *
    * where prior_milli is the identically-smoothed GLOBAL positive rate —
    * a monotone proxy of the NB log-likelihood-ratio against the prior
    * (same sign, same ordering) chosen over the log itself because it is
    * INTEGER-EXACT, so the whole fit replays bit-identically in the
    * oracle. Unseen buckets score exactly 0 — the prior-centered rate of
    * a bucket carrying no evidence.
    *
    * Shape at scale: token explode → ONE map-side-combinable aggregate on
    * the bucket key; output cardinality is the feature-hash space
    * ([[ClfBuckets]] — 2^21 in production), never the corpus. The fitted
    * table freezes into the same literal-array scorer the hash-derived
    * weights use ([[fittedScorerOf]] — the DSIR fit-offline/score-online
    * pattern); `ClassifierFitSpec` pins literal-array scoring ≡ the
    * broadcast-join path and streaming ≡ batch. */
  def classifierFit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    classifierFitOf(Tables.table(s, dir, "documents")).orderBy($"bucket")
  }

  /** The fit over any `(lang, text)` frame — `(bucket, n_pos, n_neg,
    * w_milli)`, unsorted. Weights center at the CLASS PRIOR (the global
    * positive occurrence rate, same smoothing), not at 500: that is the
    * NB decision rule — a bucket carrying no label signal (rate ≈ prior,
    * e.g. the shared cross-language vocabulary) weighs ≈ 0 instead of
    * dragging every document toward the majority class. Centering at 500
    * made the r11 first cut score ALL documents negative on the 41%-
    * positive corpus — the eval query caught it, which is what it's for.
    * The prior reduces from the bucket-count table itself (one 1-row
    * aggregate over ≤ [[ClfBuckets]] rows — no second corpus pass). */
  def classifierFitOf(docs: DataFrame): DataFrame =
    weightsOfCounts(clfCountsOf(docs))

  /** The per-bucket (n_pos, n_neg) token-occurrence counts of a labeled
    * frame — the COMBINABLE half of the fit: plain sums on the bucket
    * key, so batch counts FOLD ([[mergeClfCounts]]) and merged counts ≡
    * counts of the union bucket-for-bucket. One map-side-combinable
    * aggregate; output ≤ [[ClfBuckets]] rows regardless of corpus size. */
  private[graft] def clfCountsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(($"lang" === "en").cast("long").as("pos"),
        explode(tokens(lower($"text"))).as("t"))
      .select($"pos", explode(clfFeatureBuckets($"t")).as("bucket"))
      .groupBy($"bucket")
      .agg(sum($"pos").as("n_pos"),
        (count(lit(1)) - sum($"pos")).as("n_neg"))
  }

  /** Freeze a count table into weights: the identically-smoothed global
    * prior reduces from the counts themselves, every bucket's smoothed
    * positive rate centers on it — pure integer arithmetic over a
    * ≤[[ClfBuckets]]-row table, so a fit is recoverable from COUNTS alone
    * (what makes the incremental [[classifierMerge]] exact). */
  private[graft] def weightsOfCounts(countsIn: DataFrame): DataFrame = {
    val s = countsIn.sparkSession
    import s.implicits._
    // two consumers (the prior aggregate + the weight projection) of a
    // ≤ClfBuckets-row table — unless the input is ALREADY a materialized
    // leaf (the streaming model state's checkpointed counts), where
    // re-caching a persisted scan buys nothing and every weights() read
    // would grow the cache registry (r15 ADVICE)
    val counts =
      if (graft.Caches.isMaterializedLeaf(countsIn)) countsIn
      else graft.Caches.cached(countsIn)
    val prior = counts.agg(
      expr("(1000 * (sum(n_pos) + 1)) div (sum(n_pos) + sum(n_neg) + 2)")
        .as("prior_milli"))
    counts.crossJoin(broadcast(prior))
      .select($"bucket", $"n_pos", $"n_neg",
        expr("(1000 * (n_pos + 1)) div (n_pos + n_neg + 2) - prior_milli")
          .as("w_milli"))
  }

  /** INCREMENTAL MODEL MERGE — the index/master/component merge
    * discipline applied to the classifier: fold one labeled batch's
    * count table into an existing one by per-bucket addition. Because
    * the fit's sufficient statistics are plain sums (and the prior
    * re-derives from the merged table), the weights frozen from a merged
    * count table are IDENTICAL to a full retrain on the union — the
    * declared `q_classifier_merge`'s oracle replays exactly that full
    * retrain, so hash equality at every SF IS the merge ≡ retrain
    * contract (and the fold chains: summaries in, summaries out). Cost
    * ∝ |batch| + [[ClfBuckets]], never the corpus. */
  private[graft] def mergeClfCounts(base: DataFrame, batch: DataFrame): DataFrame =
    base.unionByName(batch)
      .groupBy(col("bucket"))
      .agg(sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"))

  /** Declared query: fold the `doc_id % 3 == 0` labeled batch into the
    * rest-of-corpus count table and freeze weights from the merged
    * counts — oracled against a FULL retrain on the whole corpus. */
  def classifierMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.table(s, dir, "documents")
    val base = clfCountsOf(docs.filter($"doc_id" % 3 =!= 0))
    val batch = clfCountsOf(docs.filter($"doc_id" % 3 === 0))
    weightsOfCounts(mergeClfCounts(base, batch)).orderBy($"bucket")
  }

  /** Freeze a fitted `(bucket, w_milli)` model into the length-
    * [[ClfBuckets]] literal weight array the row-local scorer consumes —
    * unseen buckets 0, budget-asserted like every frozen model. */
  def fitWeightArrayOf(model: DataFrame): Seq[Long] = {
    val w = new Array[Long](ClfBuckets.toInt)
    model.select(col("bucket"), col("w_milli")).collect()
      .foreach(r => w(r.getLong(0).toInt) = r.getLong(1))
    graft.plans.ModelBudget.assertWithinBudget("classifier weight array", w.toSeq)
    w.toSeq
  }

  /** Score any `(doc_id, text)` frame with FROZEN fitted weights — the
    * serving half: one narrow codegen'd fold per document (no explode, no
    * join, no shuffle), stateless, so the SAME transform runs on batch
    * frames and append-mode streams unchanged. */
  def fittedScorerOf(w: Seq[Long]): DataFrame => DataFrame = { docs =>
    val s = docs.sparkSession
    import s.implicits._
    require(w.length == ClfBuckets.toInt, s"weight array must be $ClfBuckets long")
    val wl = typedLit(w)
    docs.select($"doc_id",
        aggregate(tokens(lower($"text")), lit(0L), (acc, t) =>
          acc + aggregate(clfFeatureBuckets(t), lit(0L), (a, b) =>
            a + element_at(wl, b.cast("int") + 1)))
          .as("score_milli"))
      .withColumn("keep", ($"score_milli" > 0).cast("int"))
  }

  /** EVALUATION of the trained quality classifier — the third leg of the
    * fit → freeze → serve loop (train on the labeled slice, score every
    * document with the FROZEN weights, report the keep-decision confusion
    * against the label): per label class, how many documents the
    * `score > 0` keep rule admits, in exact basis points. A fit whose
    * keep_bp barely separates the classes is noise — the eval-the-filter
    * gate a pipeline runs before trusting `keep` at corpus scale (the
    * [[langIdEval]] discipline applied to the TRAINED scorer).
    *
    * Measured verdicts, recorded honestly: the r11 unigram-only fit read
    * 6508 vs 5875 bp at sf0.1 (weak); r12 added fastText char 3/4-gram
    * subword features ([[clfFeatureBuckets]] — r11 verdict #2), which
    * lifts the small-sample fit sharply (sf0.01: 6743 vs 4539 bp) but
    * converges back to weak at sf0.1 (6687 vs 6174 bp). That is a DATA
    * limit, not a feature limit: the generated language classes share
    * 100% of a 31-word vocabulary (measured — en and non-en token sets
    * are identical; only word frequencies differ per class), so no
    * character statistic can separate what the words themselves don't.
    * (The r11 unigram fit was additionally verified bucket-count-
    * independent — 4096 buckets reproduced the 1024-bucket numbers — and
    * with 31 words the n-gram space occupies only ~225 of 1024 buckets,
    * so collisions are not the limiter.) Surfacing exactly this — "the
    * filter does not clear the bar on this corpus" — before a 100 TB run
    * trusts `keep` is the query's entire job.
    *
    * Shape at scale: the frozen literal-array scorer is one narrow
    * codegen'd pass (no join, no shuffle); the report is ONE map-side-
    * combinable 2-row aggregate. The fit itself collapses into a
    * plan-time model collect (the dsir/knn frozen-literal convention). */
  def classifierEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    scoredLabeledDocs(s, dir)
      .groupBy($"pos")
      .agg(count(lit(1)).as("n_docs"), sum($"keep").as("n_keep"))
      .withColumn("keep_bp", expr("(n_keep * 10000) div n_docs"))
      .orderBy($"pos")
  }

  /** DuckDB twin of [[scoredLabeledDocs]] — the fit replayed (token
    * explode, feature buckets, smoothed-centered weights) and every doc
    * scored via the join path, ending in `sd (pos, score)` with
    * zero-token docs at score 0 (LEFT join + coalesce). ONE chain shared
    * by the eval and frontier oracles so they can never drift. */
  private def duckClfScoreCtes: String =
    s"""d AS (SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS pos,
       |    ${duckTokens("lower(text)")} AS w FROM documents),
       |tk AS (SELECT doc_id, pos, unnest(w) AS t FROM d),
       |gt AS (SELECT doc_id, pos, t, '<' || t || '>' AS g FROM tk),
       |bt AS (SELECT doc_id, pos, unnest($duckClfFeatures) AS bucket
       |  FROM gt),
       |c AS (SELECT bucket, sum(pos) AS np, count(*) AS nt
       |  FROM bt GROUP BY bucket),
       |p AS (SELECT (1000 * (sum(np) + 1)) // (sum(nt) + 2) AS prior
       |  FROM c),
       |m AS (SELECT bucket,
       |    (1000 * (np + 1)) // (nt + 2) - p.prior AS w_milli
       |  FROM c, p),
       |sc AS (SELECT bt.doc_id, sum(m.w_milli) AS score
       |  FROM bt JOIN m USING (bucket) GROUP BY bt.doc_id),
       |sd AS (SELECT d.pos, COALESCE(sc.score, 0) AS score
       |  FROM d LEFT JOIN sc ON sc.doc_id = d.doc_id)""".stripMargin

  /** Persisted FROZEN-WEIGHTS artifact of the quality classifier
    * (IndexStore variant "clfw", r15) — the physical half of the
    * documented fit → FREEZE → serve loop: the fit is a pure function of
    * the corpus snapshot exactly like the MinHash signatures and the IVF
    * centroids, so it trains ONCE per snapshot and every serving consumer
    * ([[classifierEval]], [[classifierFrontier]]) REOPENS the weights
    * (a ≤[[ClfBuckets]]-row parquet read) instead of replaying the
    * token-explode fit at plan-build time. [[classifierFit]] — the
    * declared `q_text_classifier_fit` — stays the inline TRAINING query:
    * it measures the fit itself. Fingerprint-keyed like every artifact
    * (a mutated corpus retrains); build cost emitted untimed by the bench
    * as `clf_build_sec` (the IVF/MinHash convention). */
  private[pipeline] def corpusClfWeights(s: SparkSession, dir: String): Seq[Long] = {
    val p = IndexStore.getOrBuild(s, dir, "documents", "clfw") { out =>
      // the full model row (counts + weight): weights serve the scorer,
      // counts are the fit's sufficient statistics — what a labeled
      // arrival batch folds into ([[mergeClfCounts]]) without re-reading
      // the corpus
      classifierFitOf(Tables.table(s, dir, "documents"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(out, "w").toString)
    }
    fitWeightArrayOf(
      Tables.parquet(s, new org.apache.hadoop.fs.Path(p, "w").toString))
  }

  /** Ensure the frozen-weights artifact exists — the bench's untimed
    * train hook (the `Dedup.trainIndex` convention). */
  def trainClassifier(s: SparkSession, dir: String): Unit = {
    corpusClfWeights(s, dir); ()
  }

  /** Fit → freeze → score → label join, shared by the eval and the
    * frontier so the two can never drift on the scoring chain:
    * `(doc_id, score_milli, keep, pos)` for every document — the weights
    * served from the [[corpusClfWeights]] snapshot artifact. */
  private def scoredLabeledDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.table(s, dir, "documents")
    val w = corpusClfWeights(s, dir)
    fittedScorerOf(w)(docs.select($"doc_id", $"text"))
      .join(docs.select($"doc_id", ($"lang" === "en").cast("long").as("pos")),
        "doc_id")
  }

  /** Admission thresholds swept by [[classifierFrontier]], in milli-score
    * units (the keep rule generalized from `score > 0` to `score > t`). */
  val ClfThresholds: Seq[Long] = Seq(-200L, -100L, -50L, 0L, 50L, 100L, 200L)

  /** THRESHOLD-FREQUENCY FRONTIER of the trained quality classifier — the
    * `q_dedup_threshold_frontier` / `q_ann_recall_frontier` measure-first
    * discipline applied to the admission rule: [[classifierEval]] reports
    * the keep confusion at the single shipped threshold (`score > 0`);
    * this query sweeps the rule across [[ClfThresholds]] and reports, per
    * (threshold, label class), the admission rate in exact basis points —
    * the measured keep/purity trade a pipeline reads to PICK its operating
    * point before a 100 TB run trusts `keep` (a stricter threshold buys
    * purity only if the positive class's keep_bp falls slower than the
    * negative's — visible in one table, not re-runs).
    *
    * Shape at scale: the frozen literal-array scorer is the same single
    * narrow codegen pass as the eval; the threshold axis EXPLODES FROM A
    * LITERAL (the `q_ann_recall_trunc` convention — no BNLJ, no join);
    * the report is one map-side-combinable aggregate over ≤ |thresholds|×2
    * cells. */
  def classifierFrontier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    scoredLabeledDocs(s, dir)
      .withColumn("thr_milli", explode(typedLit(ClfThresholds)))
      .groupBy($"thr_milli", $"pos")
      .agg(count(lit(1)).as("n_docs"),
        sum(($"score_milli" > $"thr_milli").cast("long")).as("n_keep"))
      .withColumn("keep_bp", expr("(n_keep * 10000) div n_docs"))
      .orderBy($"thr_milli", $"pos")
  }

  /** The JOIN-PATH twin of [[fittedScorerOf]] — explode → broadcast-join
    * the fitted model table → per-doc sum. The literal-array scorer must
    * equal this bit-for-bit (`ClassifierFitSpec`); production uses the
    * broadcast join when the feature space outgrows a plan literal
    * (2^21+ buckets). */
  private[pipeline] def fittedScoreJoinOf(docs: DataFrame, model: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", explode(tokens(lower($"text"))).as("t"))
      .select($"doc_id", explode(clfFeatureBuckets($"t")).as("bucket"))
      .join(broadcast(model.select($"bucket", $"w_milli")), Seq("bucket"), "left")
      .groupBy($"doc_id")
      .agg(sum(coalesce($"w_milli", lit(0L))).as("score_milli"))
      .withColumn("keep", ($"score_milli" > 0).cast("int"))
  }

  /** Language-ID quality audit: confusion matrix of the stopword-vote
    * prediction against the corpus's labeled `lang` column — the
    * eval-the-filter step a pipeline runs before trusting a classifier at
    * corpus scale. Shape: the narrow prediction scan feeding ONE tiny
    * aggregate (cells ≤ labels × predictions — bounded by language-set size,
    * not corpus size).
    *
    * Bench note (r5): this query sorts alphabetically BEFORE q_text_langid
    * and pays the shape's one-time codegen compile. With the lambda-based
    * scores that compile was the bench's worst outlier (CSE-exempt filters
    * duplicated ~28× in generated code — 212 s on a slow host); the native
    * `stop_votes` array brought the cold run to ~3 s and the warm run under
    * 1 s (see StopVotes' Scaladoc). */
  def langIdEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = stopVotes(lower($"text"))
    val pred = Tables.table(s, dir, "documents")
      .select($"lang",
        v.getItem(0).as("s_en"), v.getItem(1).as("s_de"),
        v.getItem(2).as("s_fr"), v.getItem(3).as("s_es"))
      .withColumn("best", greatest($"s_en", $"s_de", $"s_fr", $"s_es"))
      .withColumn("lang_pred",
        when($"best" === 0, "unk")
          .when($"s_en" === $"best", "en")
          .when($"s_de" === $"best", "de")
          .when($"s_fr" === $"best", "fr")
          .otherwise("es"))
    pred.groupBy($"lang", $"lang_pred")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"lang_pred")
  }

  /** Per-source shingle-vocabulary stats with EXACT distinct counts — the
    * corpus-composition report (how much unique content does each source
    * contribute?). The exact distinct expands to a two-phase aggregate over
    * the (source, shingle) key — a corpus-sized shuffle; that is what the
    * approx twin below exists to avoid at scale. Keys are the fused native
    * shingle md5, never materialized gram strings. */
  def vocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.table(s, dir, "documents")
      .select($"source", explode(shingleMd5(tokens($"text"))).as("sh"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_shingles"), countDistinct($"sh").as("n_distinct"))
      .orderBy($"source")
  }

  /** Relative standard deviation for [[vocabApprox]]'s HLL++ sketches;
    * `CurationSpec` asserts the observed error against (a multiple of) it. */
  val VocabRsd = 0.01

  /** The sketch scale path for [[vocab]]: `approx_count_distinct` (HLL++ —
    * mergeable, map-side-combinable) replaces the exact distinct's
    * corpus-sized (source, shingle) shuffle with ONE aggregate whose reduce
    * state is #sources × sketch (kilobytes at any corpus size). Non-oracle
    * (the sketch is implementation-defined): rows-only driver check + a
    * relative-error tolerance test against the exact operator. */
  def vocabApprox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.table(s, dir, "documents")
      .select($"source", explode(shingleMd5(tokens($"text"))).as("sh"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_shingles"),
        approx_count_distinct($"sh", VocabRsd).as("n_distinct_approx"))
      .orderBy($"source")
  }

  /** Top-[[FreqK]] tokens per source (count desc, token asc) — the
    * per-subcorpus vocabulary profile used to spot boilerplate and
    * source-level contamination. Shape: narrow explode → `(source, token)`
    * hash aggregation with map-side partial combine (the shuffle carries
    * per-source vocabularies, not the corpus), then the top-k window runs
    * over the AGGREGATED frame — bounded by vocabulary size, never by
    * document count. At 100 TB the vocabulary of a single source still fits
    * a partition (Heaps' law); if it didn't, the same plan takes a
    * count-min-sketch pre-pass to prefilter candidates. */
  def freqItems(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables.table(s, dir, "documents")
      .select($"source", explode(split(lower($"text"), "\\s+")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"source", $"word")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"source").orderBy($"cnt".desc, $"word")
    counts.withColumn("rk", row_number().over(w))
      .filter($"rk" <= FreqK)
      .select($"source", $"word", $"cnt", $"rk")
      .orderBy($"source", $"rk")
  }

  /** Top-k cutoff for [[freqItems]]. */
  val FreqK = 10

  /** [[collocations]] minimum pair count (PMI's classic low-count
    * instability: a hapax pair has infinite lift) and ranking cutoff. */
  val CollocMinCount = 5
  val CollocTopK = 50

  /** PMI-ranked bigram collocations — the phrase detector (Church & Hanks
    * 1990; the word2vec phrase pass, Mikolov et al. 2013 §4): the top
    * [[CollocTopK]] adjacent word pairs by pointwise mutual information,
    * the signal for merging "new york"-style units before tokenizer
    * training. PMI = ln(p(w1w2)/(p(w1)p(w2))) is ranked by its ARGUMENT —
    * the lift (c12·T²)/(B·c1·c2), a ratio of exact integer products — so
    * the score is emitted as floor-quantized integer micro-lift
    * (Decimal(38) / HUGEINT cross-multiplication, no ln and no float
    * division anywhere; ln is monotone, so the PMI ranking is identical).
    *
    * Shape at scale: the bigram and unigram count tables are each ONE
    * map-side-combinable shuffle off the same tokenized scan; scoring is
    * two vocab-keyed joins (AQE-sized) plus two broadcast 1-row totals,
    * and the cutoff is a TakeOrderedAndProject — no global sort
    * materialized. The decimal product is pre-scaled by a per-corpus
    * power of ten once T passes 10^9 tokens (see the inline comment), so
    * it never hits the 38-digit cap at any corpus size. */
  def collocations(s: SparkSession, dir: String): DataFrame =
    collocationsOf(Tables.table(s, dir, "documents"))

  /** [[collocations]] over any table with a `text` column — fixture entry
    * point. */
  def collocationsOf(corpus: DataFrame): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val docs = corpus.select(tokens(lower($"text")).as("w"))
    val uni = docs.select(explode($"w").as("t"))
    val u = uni.groupBy($"t").agg(count(lit(1)).as("c"))
    // NOTE (r16): deriving the totals from the count tiers (T = Σc over
    // u, B = Σc12 over b — exact by definition) was tried and REVERTED:
    // the count tables' groupBy exchange does NOT canonicalize as
    // reusable between the join side and the total side, so each total
    // replayed the full vocab-keyed aggregate pass where the original
    // spelling pays only a combinable global count over the explode —
    // measured 1.22-1.38 → 1.28-1.50 s warm. (Caching u/b was measured
    // slower earlier this round — the shared pass is narrow.)
    val tot = uni.agg(count(lit(1)).as("T"))
    val bg = docs.filter(size($"w") >= 2)
      .select(explode(grams($"w", 2)).as("g"))
      .select(split_part($"g", lit(" "), lit(1)).as("w1"),
        split_part($"g", lit(" "), lit(2)).as("w2"))
    val b = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val btot = bg.agg(count(lit(1)).as("B"))
    b.filter($"c12" >= CollocMinCount)
      .join(u.select($"t".as("w1"), $"c".as("c1")), "w1")
      .join(u.select($"t".as("w2"), $"c".as("c2")), "w2")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
      // Decimal(38) headroom: the binding term was T² (corpus token total,
      // SQUARED — silent non-ANSI NULL once the product passed 38 digits).
      // Pre-scale by the per-corpus constant S = 10^max(0, digits(T)−9):
      // T→T div S in the numerator, B→B div S in the denominator, so the
      // statistic becomes lift/S — a corpus-wide rescale, ranking
      // unchanged. At audit scale S = 1 (T < 10^9) and values are
      // bit-identical to the unscaled formula; at any S both engines
      // compute the same exact integer ops. Headroom: c12·(T div S)²·10^6
      // stays under 38 digits while the hottest bigram < 10^13
      // occurrences — a 100 TB corpus (~10^13 tokens) with margin.
      .withColumn("S", expr(
        "cast(power(10, greatest(0, length(cast(T as string)) - 9)) as bigint)"))
      .withColumn("lift_micro", expr(
        "CAST((CAST(c12 AS DECIMAL(38,0)) * (T div S) * (T div S) * 1000000) div " +
          "(CAST(B div S AS DECIMAL(38,0)) * c1 * c2) AS BIGINT)"))
      .select($"w1", $"w2", $"c12", $"c1", $"c2", $"lift_micro")
      .orderBy($"lift_micro".desc, $"w1", $"w2")
      .limit(CollocTopK)
      .orderBy($"lift_micro".desc, $"w1", $"w2")
  }

  /** Character-level Shannon entropy per document, in micro-nats — the
    * symbol-diversity quality signal (the Gopher/C4 family's cheap spam
    * screen): repeated-character junk scores near 0, natural prose lands
    * around ln(alphabet-in-use); gibberish with a flat symbol histogram
    * maxes out. H = ln n − (1/n)·Σ c·ln c over per-doc char counts,
    * computed as exact integers after the one floor-quantized ln per
    * distinct count (the [[perplexity]]/bm25 idf discipline), so the
    * oracle comparison is bit-exact: `ent_micro = (n·L(n) − Σ c·L(c))
    * div n` with `L(x) = floor(ln(x)·10^6)`.
    *
    * Shape at scale: ENTIRELY per-row — chars, distinct chars, and counts
    * all live in array lambdas (alphabet × length work per doc), zero
    * joins, zero shuffle, so the same transform runs on append streams
    * unchanged (`PipelineStreamSpec`); the oracle computes it RELATIONALLY
    * (unnest → group-by), so the hash match is also a cross-implementation
    * check of the in-row fold. */
  def entropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    entropyOf(Tables.table(s, dir, "documents")).orderBy($"doc_id")
  }

  /** [[entropy]] over any `(doc_id, text)` frame — unsorted, stream-safe. */
  def entropyOf(corpus: DataFrame): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    corpus
      .filter(length($"text") > 0)
      .withColumn("cs", expr(
        "transform(sequence(1, length(text)), i -> substring(text, i, 1))"))
      .withColumn("cnts", expr(
        "transform(array_distinct(cs), d -> CAST(size(filter(cs, c -> c = d)) AS BIGINT))"))
      .select($"doc_id",
        size($"cs").cast("long").as("n_chars_counted"),
        size($"cnts").cast("long").as("n_distinct"),
        expr("""(CAST(size(cs) AS BIGINT)
               |   * CAST(floor(ln(CAST(size(cs) AS DOUBLE)) * 1000000) AS BIGINT)
               | - aggregate(cnts, 0L, (acc, c) ->
               |     acc + c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)))
               |div CAST(size(cs) AS BIGINT)""".stripMargin.replace("\n", " "))
          .as("ent_micro"))
  }

  /** [[tfidfPairs]] emission threshold: cos² ≥ 25% ⇔ |cos| ≥ 0.5. */
  val SparseMinCosBp = 2500L

  /** TF-IDF SPARSE COSINE pair scoring — lexical near-dup detection in
    * vector space without embeddings: candidate pairs come from the
    * PRODUCTION MinHash-LSH index ([[Dedup.minhashPairs]] — banded,
    * `MaxBucket`-guarded, recall measured by `q_dedup_recall`), and each
    * candidate is re-scored by the EXACT tf·idf cosine of the two full
    * sparse term vectors, emitted when cos² ≥ [[SparseMinCosBp]]. The
    * weighting is the point: Jaccard counts shared shingles, containment
    * counts coverage, this weighs shared TERMS by rarity — the classic
    * near-duplicate-news scorer where boilerplate overlap must not
    * outvote a shared rare vocabulary. Cosine² compared in basis points
    * by Decimal(38)/HUGEINT cross-multiplication (no sqrt, no float).
    *
    * An inverted-index ALL-pair spelling (join every posting list) is
    * deliberately NOT used: on a dense shared vocabulary (this corpus: 31
    * terms, df ≈ n) it degenerates to Σ df² ≈ all-pairs — the guarded
    * LSH candidate set is the scale path, and its recall is the audited
    * `q_dedup_recall` number. Exactness/headroom: idf floor-quantized to
    * CENTI-nats (one ln per distinct df); int64 weights/norms safe while
    * a doc's Σtf² < 1.2×10^12. Shape at 100 TB: the guarded LSH
    * pipeline + two combinable count shuffles + candidate-bounded scoring
    * joins on (doc, term). */
  def tfidfPairs(s: SparkSession, dir: String): DataFrame =
    // the candidate set is the full-corpus pair graph — served from the
    // snapshot pair artifact (r15; bit-equal to the inline spelling,
    // pinned in `MinhashIndexSpec`) instead of re-hashing the corpus
    tfidfPairsCore(Tables.table(s, dir, "documents"),
      Dedup.minhashPairsIndexed(s, dir))

  /** [[tfidfPairs]] over any `(doc_id, text)` table — fixture entry point. */
  def tfidfPairsOf(docs: DataFrame): DataFrame =
    tfidfPairsCore(docs, Dedup.minhashPairs(docs.sparkSession, docs))

  /** The scoring body over any candidate pair table. */
  private def tfidfPairsCore(docs: DataFrame, candPairs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tf = docs.select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val cand = candPairs.select($"doc_a", $"doc_b")
    // r16: only CANDIDATE-ENDPOINT postings reach the cache, the norms
    // aggregate and the scoring joins (guide §2.2, shuffle fewer bytes) —
    // the scoring joins are inner on the pair endpoints, so restricting
    // the posting side to the endpoint set is answer-preserving; df/idf
    // stay corpus-wide (computed BEFORE the restriction). The endpoint
    // set is pair-graph-bounded (≪ corpus), so the semi-join broadcasts.
    val ends = cand.select(explode(array($"doc_a", $"doc_b")).as("doc_id"))
      .distinct()
    // cached: the weighted postings feed the norms AND both scoring joins
    val wts = tf.join(broadcast(ends), Seq("doc_id"), "left_semi")
      .join(df, "term")
      .crossJoin(broadcast(n))
      .select($"doc_id", $"term",
        ($"tf" * floor(log($"n".cast("double") / $"df") * 1e2).cast("long"))
          .as("wt"))
      .graftCache()
    val norms = wts.groupBy($"doc_id").agg(sum($"wt" * $"wt").as("n2"))
    cand
      .join(wts.select($"doc_id".as("doc_a"), $"term", $"wt".as("wa")), "doc_a")
      .join(wts.select($"doc_id".as("doc_b"), $"term", $"wt".as("wb")),
        Seq("doc_b", "term"))
      .groupBy($"doc_a", $"doc_b")
      .agg(sum($"wa" * $"wb").as("dot"))
      .join(norms.select($"doc_id".as("doc_a"), $"n2".as("na2")), "doc_a")
      .join(norms.select($"doc_id".as("doc_b"), $"n2".as("nb2")), "doc_b")
      .withColumn("cos2_bp", expr(
        "CAST((CAST(dot AS DECIMAL(38,0)) * dot * 10000) div " +
          "(CAST(na2 AS DECIMAL(38,0)) * nb2) AS BIGINT)"))
      .filter($"dot" > 0 && $"cos2_bp" >= SparseMinCosBp)
      .select($"doc_a", $"doc_b", $"dot", $"cos2_bp")
      .orderBy($"doc_a", $"doc_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_entropy" -> entropy _,
    "q_text_tfidf_pairs" -> tfidfPairs _,
    "q_text_collocations" -> collocations _,
    "q_text_freqitems" -> freqItems _,
    "q_text_langid" -> langId _,
    "q_text_quality" -> quality _,
    "q_text_token_stats" -> tokenStats _,
    "q_text_fingerprint" -> fingerprint _,
    "q_text_redact" -> redact _,
    "q_text_chunk" -> chunk _,
    "q_text_tfidf" -> tfidf _,
    "q_text_length_stats" -> lengthStats _,
    "q_text_length_stats_approx" -> lengthStatsApprox _,
    "q_quantile_merge" -> quantileMerge _,
    "q_text_repetition" -> repetition _,
    "q_text_diversity" -> diversity _,
    "q_source_overlap" -> sourceOverlap _,
    "q_text_perplexity" -> perplexity _,
    "q_text_perplexity_bigram" -> perplexityBigram _,
    "q_text_classifier" -> classifier _,
    "q_text_classifier_fit" -> classifierFit _,
    "q_classifier_merge" -> classifierMerge _,
    "q_text_classifier_eval" -> classifierEval _,
    "q_classifier_frontier" -> classifierFrontier _,
    "q_langid_eval" -> langIdEval _,
    "q_text_vocab" -> vocab _,
    "q_text_vocab_approx" -> vocabApprox _,
  )

  private def duckHits(w: String, words: Seq[String]): String =
    s"len(list_filter($w, t -> t IN (${words.map(x => s"'$x'").mkString(", ")})))"

  /** DuckDB: the classifier feature-bucket list — unigram + boundary-marked
    * char 3/4-grams, mirroring [[clfFeatureBuckets]] exactly (including the
    * `length ≥ 4` guard where Spark's `sequence` would descend). Expects
    * token column `t` and `g = '<' || t || '>'` in scope. */
  private val duckClfFeatures: String =
    // single-line (no leading-pipe continuations): this fragment embeds in
    // outer stripMargin strings, which would eat one pipe of a line-leading
    // `||` list-concat operator
    s"list_concat(list_concat([${duckCharFold("t")} % $ClfBuckets], " +
      s"list_transform(generate_series(1, length(g) - 2), " +
      s"i -> ${duckCharFold("substr(g, i, 3)")} % $ClfBuckets)), " +
      s"CASE WHEN length(g) >= 4 THEN " +
      s"list_transform(generate_series(1, length(g) - 3), " +
      s"i -> ${duckCharFold("substr(g, i, 4)")} % $ClfBuckets) " +
      s"ELSE CAST([] AS BIGINT[]) END)"

  val oracles: Map[String, String] = Map(
    // UNSHARDED per-source histogram quantiles — the Spark side shards per
    // source 4 ways and merges, so the hash match proves shard-merge
    // invariance, not just the bucket arithmetic. Same integer bucket
    // spelling (length(bin(v)) - 1 = floor(log2 v)) in both engines.
    "q_quantile_merge" ->
      """WITH b AS (SELECT source, length(bin(n_chars)) - 1 AS bucket FROM documents),
        |h AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |t AS (SELECT source, bucket, c,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY bucket) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM h)
        |SELECT source AS key, CAST(max(n) AS BIGINT) AS n,
        |  CAST(min(CASE WHEN cum >= (n + 1) // 2
        |    THEN (CAST(1 AS BIGINT) << bucket) END) AS BIGINT) AS p50_lo,
        |  CAST(min(CASE WHEN cum >= (9 * n + 9) // 10
        |    THEN (CAST(1 AS BIGINT) << bucket) END) AS BIGINT) AS p90_lo,
        |  CAST(max(CASE WHEN c > 0
        |    THEN (CAST(1 AS BIGINT) << bucket) END) AS BIGINT) AS max_lo
        |FROM t GROUP BY source ORDER BY key""".stripMargin,
    "q_text_freqitems" ->
      s"""WITH t AS (SELECT source,
         |    unnest(string_split_regex(lower(text), '\\s+')) AS word
         |  FROM documents),
         |c AS (SELECT source, word, count(*) AS cnt FROM t
         |  WHERE word <> '' GROUP BY source, word),
         |r AS (SELECT source, word, cnt,
         |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, word) AS rk
         |  FROM c)
         |SELECT source, word, CAST(cnt AS BIGINT) AS cnt, CAST(rk AS INT) AS rk
         |FROM r WHERE rk <= $FreqK ORDER BY source, rk""".stripMargin,
    "q_text_langid" ->
      s"""WITH d AS (SELECT doc_id, ${duckTokens("lower(text)")} AS w FROM documents),
         |sc AS (SELECT doc_id,
         |    ${duckHits("w", stopEn)} AS s_en, ${duckHits("w", stopDe)} AS s_de,
         |    ${duckHits("w", stopFr)} AS s_fr, ${duckHits("w", stopEs)} AS s_es
         |  FROM d)
         |SELECT doc_id, CAST(s_en AS INT) AS s_en, CAST(s_de AS INT) AS s_de,
         |  CAST(s_fr AS INT) AS s_fr, CAST(s_es AS INT) AS s_es,
         |  CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unk'
         |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
         |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
         |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
         |       ELSE 'es' END AS lang_pred
         |FROM sc ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      s"""WITH d AS (SELECT doc_id, n_chars, text, ${duckTokens("lower(text)")} AS w
         |  FROM documents),
         |m AS (SELECT doc_id, n_chars, text, w, len(w) AS n_tok,
         |    ${duckHits("w", stopEn)} AS n_stop FROM d)
         |SELECT doc_id, n_chars, CAST(n_tok AS INT) AS n_tok,
         |  CAST(floor(CAST(list_sum(list_transform(w, t -> CAST(length(t) AS BIGINT))) AS BIGINT)
         |    * 100 / n_tok) AS BIGINT) AS tok_len_c,
         |  CAST(floor(n_stop * 10000 / n_tok) AS BIGINT) AS stop_bp,
         |  CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS INT) AS n_punct,
         |  CAST(floor(least(n_chars, 1000) / 10)
         |    + floor(least(floor(n_stop * 10000 / n_tok), 1000) / 10) AS BIGINT) AS score
         |FROM m ORDER BY doc_id""".stripMargin,
    "q_text_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len(${duckTokens("text")}) AS INT) AS n_ws,
         |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS INT) AS n_re,
         |  CAST(length(text) AS INT) AS len
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_fingerprint" ->
      s"""SELECT doc_id, ${duckCharFold("text")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_redact" ->
      s"""WITH d AS (SELECT doc_id, ${duckTokens("text")} AS w FROM documents)
         |SELECT doc_id,
         |  CAST(len(list_filter(w, t -> regexp_matches(t, '$fieldRe')
         |    OR length(t) >= $longLen)) AS INT) AS n_redacted,
         |  array_to_string(list_transform(w, t ->
         |    CASE WHEN regexp_matches(t, '$fieldRe') THEN '<FIELD>'
         |         WHEN length(t) >= $longLen THEN '<LONG>'
         |         ELSE t END), ' ') AS redacted
         |FROM d ORDER BY doc_id""".stripMargin,
    "q_text_chunk" ->
      s"""WITH d AS (SELECT doc_id, ${duckTokens("text")} AS w FROM documents),
         |n AS (SELECT doc_id, w, len(w) AS n FROM d),
         |nc AS (SELECT doc_id, w,
         |    CASE WHEN n <= $ChunkN THEN 1
         |         ELSE (n - $ChunkN + ${ChunkS - 1}) // $ChunkS + 1 END AS nc
         |  FROM n),
         |c AS (SELECT doc_id, w, unnest(generate_series(0, nc - 1)) AS cid FROM nc),
         |sl AS (SELECT doc_id, cid,
         |    list_slice(w, cid * $ChunkS + 1, cid * $ChunkS + $ChunkN) AS ls
         |  FROM c)
         |SELECT doc_id, CAST(cid AS INT) AS chunk_id,
         |  CAST(len(ls) AS INT) AS n_tok,
         |  array_to_string(ls, ' ') AS chunk
         |FROM sl ORDER BY doc_id, chunk_id""".stripMargin,
    "q_text_tfidf" ->
      s"""WITH d AS (SELECT doc_id, ${duckTokens("text")} AS w FROM documents),
         |t AS (SELECT doc_id, unnest(w) AS term FROM d),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    tf.tf * CAST(floor(ln(CAST(n.n AS DOUBLE) / df.df) * 1000000)
         |      AS BIGINT) AS tfidf_micro
         |  FROM tf JOIN df USING (term), n),
         |r AS (SELECT *, row_number()
         |    OVER (PARTITION BY doc_id ORDER BY tfidf_micro DESC, term) AS rk
         |  FROM sc)
         |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
         |  CAST(df AS BIGINT) AS df, CAST(tfidf_micro AS BIGINT) AS tfidf_micro
         |FROM r WHERE rk <= $TfIdfTopK ORDER BY doc_id, term""".stripMargin,
    "q_text_repetition" ->
      s"""WITH d AS (SELECT doc_id, ${duckTokens("text")} AS w FROM documents),
         |g AS (SELECT doc_id, w,
         |    CASE WHEN len(w) >= 2 THEN list_transform(generate_series(1, len(w) - 1),
         |      i -> w[i] || ' ' || w[i+1]) ELSE [] END AS g2,
         |    ${duckShingles("w")} AS g3
         |  FROM d),
         |t AS (SELECT doc_id, w, g2, g3,
         |    list_max(list_transform(list_distinct(w),
         |      t -> len(list_filter(w, x -> x = t)))) AS top_tok
         |  FROM g)
         |SELECT doc_id, CAST(len(w) AS INT) AS n_tok,
         |  CAST(CASE WHEN len(g2) > 0
         |    THEN (len(g2) - len(list_distinct(g2))) * 10000 // len(g2)
         |    ELSE 0 END AS BIGINT) AS dup2_bp,
         |  CAST(CASE WHEN len(g3) > 0
         |    THEN (len(g3) - len(list_distinct(g3))) * 10000 // len(g3)
         |    ELSE 0 END AS BIGINT) AS dup3_bp,
         |  CAST(top_tok AS INT) AS top_tok,
         |  CAST(top_tok * 10000 // len(w) AS BIGINT) AS top_bp
         |FROM t ORDER BY doc_id""".stripMargin,
    "q_text_diversity" ->
      s"""WITH d AS (SELECT source, ${duckTokens("text")} AS w FROM documents),
         |g AS (SELECT source, unnest(CASE WHEN len(w) >= 2
         |    THEN list_transform(generate_series(1, len(w) - 1),
         |      i -> w[i] || ' ' || w[i+1]) ELSE [] END) AS g
         |  FROM d),
         |c AS (SELECT source, g, count(*) AS c FROM g GROUP BY source, g)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_distinct,
         |  CAST(sum(c) AS BIGINT) AS n_total,
         |  CAST((count(*) * 10000) // sum(c) AS BIGINT) AS distinct_bp
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    // the production MinHash-LSH candidate chain (Dedup's sig/cand/prs
    // CTEs), each pair re-scored by the exact tf-idf cosine in HUGEINT
    // basis points
    "q_text_tfidf_pairs" ->
      s"""${Dedup.sigCte},
         |${Dedup.candCtes},
         |${Dedup.prsCte},
         |t AS (SELECT doc_id, unnest(${duckTokens("text")}) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents),
         |w AS (SELECT tf.doc_id, tf.term,
         |    CAST(tf.tf * CAST(floor(ln(CAST(nn.n AS DOUBLE) / tdf.df) * 100)
         |      AS BIGINT) AS BIGINT) AS wt
         |  FROM tf JOIN tdf USING (term), nn),
         |nr AS (SELECT doc_id, CAST(sum(wt * wt) AS BIGINT) AS n2
         |  FROM w GROUP BY 1),
         |dts AS (SELECT p.doc_a, p.doc_b,
         |    CAST(sum(a.wt * b.wt) AS BIGINT) AS dot
         |  FROM prs p JOIN w a ON a.doc_id = p.doc_a
         |  JOIN w b ON b.doc_id = p.doc_b AND b.term = a.term
         |  GROUP BY 1, 2),
         |sc AS (SELECT doc_a, doc_b, dot,
         |    CAST((CAST(dot AS HUGEINT) * dot * 10000)
         |      // (CAST(na.n2 AS HUGEINT) * nb.n2) AS BIGINT) AS cos2_bp
         |  FROM dts JOIN nr na ON na.doc_id = dts.doc_a
         |  JOIN nr nb ON nb.doc_id = dts.doc_b)
         |SELECT doc_a, doc_b, dot, cos2_bp FROM sc
         |WHERE dot > 0 AND cos2_bp >= $SparseMinCosBp
         |ORDER BY doc_a, doc_b""".stripMargin,
    // relational spelling (unnest → group-by) of the Spark side's in-row
    // fold — hash equality doubles as the cross-implementation check
    "q_text_entropy" ->
      s"""WITH c AS (SELECT doc_id,
         |    unnest(list_transform(generate_series(1, length(text)),
         |      i -> substring(text, i, 1))) AS ch
         |  FROM documents WHERE length(text) > 0),
         |g AS (SELECT doc_id, ch, count(*) AS c FROM c GROUP BY 1, 2),
         |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS ndist,
         |    CAST(sum(c * CAST(floor(ln(c) * 1000000) AS BIGINT)) AS BIGINT) AS hsum
         |  FROM g GROUP BY 1)
         |SELECT doc_id, n AS n_chars_counted, ndist AS n_distinct,
         |  CAST((n * CAST(floor(ln(n) * 1000000) AS BIGINT) - hsum) // n
         |    AS BIGINT) AS ent_micro
         |FROM a ORDER BY doc_id""".stripMargin,
    "q_text_collocations" ->
      s"""WITH d AS (SELECT ${duckTokens("lower(text)")} AS w FROM documents),
         |uni AS (SELECT unnest(w) AS t FROM d),
         |u AS (SELECT t, count(*) AS c FROM uni GROUP BY t),
         |tot AS (SELECT count(*) AS tcnt FROM uni),
         |bg AS (SELECT w[i] AS w1, w[i+1] AS w2
         |  FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
         |        FROM d WHERE len(w) >= 2)),
         |b AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         |btot AS (SELECT count(*) AS bcnt,
         |  CAST(power(10, greatest(0,
         |    length(CAST((SELECT tcnt FROM tot) AS VARCHAR)) - 9)) AS BIGINT) AS sc
         |  FROM bg)
         |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
         |  CAST(u1.c AS BIGINT) AS c1, CAST(u2.c AS BIGINT) AS c2,
         |  CAST((CAST(c12 AS HUGEINT) * (tcnt // sc) * (tcnt // sc) * 1000000)
         |    // (CAST(bcnt // sc AS HUGEINT) * u1.c * u2.c) AS BIGINT) AS lift_micro
         |FROM b, tot, btot
         |JOIN u u1 ON u1.t = b.w1 JOIN u u2 ON u2.t = b.w2
         |WHERE c12 >= $CollocMinCount
         |ORDER BY lift_micro DESC, w1, w2 LIMIT $CollocTopK""".stripMargin,
    "q_text_perplexity" ->
      s"""WITH t AS (SELECT doc_id, unnest(${duckTokens("text")}) AS term FROM documents),
         |u AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
         |tot AS (SELECT sum(cnt) AS total FROM u),
         |lp AS (SELECT term,
         |    CAST(floor(ln(CAST(cnt AS DOUBLE) / total) * 1000000) AS BIGINT) AS logp_micro
         |  FROM u, tot),
         |d AS (SELECT t.doc_id, count(*) AS n_tok,
         |    -CAST(sum(lp.logp_micro) AS BIGINT) AS nll_micro
         |  FROM t JOIN lp USING (term) GROUP BY t.doc_id)
         |SELECT doc_id, CAST(n_tok AS INT) AS n_tok,
         |  CAST(nll_micro // n_tok AS BIGINT) AS ce_micro
         |FROM d ORDER BY doc_id""".stripMargin,
    "q_text_perplexity_bigram" ->
      s"""WITH d AS (SELECT doc_id, ${duckTokens("text")} AS w FROM documents),
         |g AS (SELECT doc_id, list_transform(generate_series(1, len(w) - 1),
         |    i -> [w[i], w[i + 1]]) AS ps
         |  FROM d WHERE len(w) >= 2),
         |bg AS (SELECT doc_id, p[1] AS a, p[2] AS b
         |  FROM (SELECT doc_id, unnest(ps) AS p FROM g)),
         |pc AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY a, b),
         |hc AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM pc GROUP BY a),
         |lp AS (SELECT pc.a, pc.b,
         |    CAST(floor(ln(CAST(cab AS DOUBLE) / ca) * 1000000) AS BIGINT) AS logp_micro
         |  FROM pc JOIN hc USING (a)),
         |dd AS (SELECT bg.doc_id, count(*) AS n_bigram,
         |    -CAST(sum(lp.logp_micro) AS BIGINT) AS nll_micro
         |  FROM bg JOIN lp USING (a, b) GROUP BY bg.doc_id)
         |SELECT doc_id, CAST(n_bigram AS INT) AS n_bigram,
         |  CAST(nll_micro // n_bigram AS BIGINT) AS ce_micro
         |FROM dd ORDER BY doc_id""".stripMargin,
    "q_source_overlap" ->
      s"""WITH d AS (SELECT source, ${duckTokens("text")} AS w FROM documents),
         |sh AS (SELECT DISTINCT source, sh FROM
         |  (SELECT source, unnest(list_distinct(${duckMinhashBase(duckShingles("w"))})) AS sh FROM d))
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_text_vocab" ->
      s"""WITH d AS (SELECT source, ${duckTokens("text")} AS w FROM documents),
         |g AS (SELECT source, unnest(${duckMinhashBase(duckShingles("w"))}) AS sh FROM d)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(count(DISTINCT sh) AS BIGINT) AS n_distinct
         |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "q_langid_eval" ->
      s"""WITH d AS (SELECT lang, ${duckTokens("lower(text)")} AS w FROM documents),
         |sc AS (SELECT lang,
         |    ${duckHits("w", stopEn)} AS s_en, ${duckHits("w", stopDe)} AS s_de,
         |    ${duckHits("w", stopFr)} AS s_fr, ${duckHits("w", stopEs)} AS s_es
         |  FROM d),
         |p AS (SELECT lang,
         |  CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unk'
         |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
         |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
         |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
         |       ELSE 'es' END AS lang_pred
         |  FROM sc)
         |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
         |FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin,
    // fit replayed + scoring via the join path (≡ the literal-array
    // scorer, pinned in ClassifierFitSpec) + the 2-row keep confusion;
    // zero-token docs score 0 via the LEFT join + coalesce
    "q_text_classifier_eval" ->
      s"""WITH $duckClfScoreCtes,
         |kd AS (SELECT pos, CAST(score > 0 AS BIGINT) AS keep FROM sd)
         |SELECT pos, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(keep) AS BIGINT) AS n_keep,
         |  CAST((sum(keep) * 10000) // count(*) AS BIGINT) AS keep_bp
         |FROM kd GROUP BY pos ORDER BY pos""".stripMargin,
    // the same shared score chain crossed with the threshold literal —
    // per (threshold, class) admission rates
    "q_classifier_frontier" ->
      s"""WITH $duckClfScoreCtes,
         |t AS (SELECT unnest([${ClfThresholds.mkString(", ")}]) AS thr)
         |SELECT CAST(t.thr AS BIGINT) AS thr_milli, pos,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CAST(score > t.thr AS BIGINT)) AS BIGINT) AS n_keep,
         |  CAST((sum(CAST(score > t.thr AS BIGINT)) * 10000) // count(*)
         |    AS BIGINT) AS keep_bp
         |FROM sd, t GROUP BY t.thr, pos ORDER BY thr_milli, pos""".stripMargin,
    // the count-based fit replayed exactly: token-occurrence explode,
    // feature-hash bucket, smoothed-centered integer weight
    "q_text_classifier_fit" ->
      s"""WITH d AS (SELECT CAST(lang = 'en' AS BIGINT) AS pos,
         |    ${duckTokens("lower(text)")} AS w FROM documents),
         |tk AS (SELECT pos, unnest(w) AS t FROM d),
         |gt AS (SELECT pos, t, '<' || t || '>' AS g FROM tk),
         |b AS (SELECT pos, unnest($duckClfFeatures) AS bucket FROM gt),
         |c AS (SELECT bucket, sum(pos) AS np, count(*) AS nt
         |  FROM b GROUP BY bucket),
         |p AS (SELECT (1000 * (sum(np) + 1)) // (sum(nt) + 2) AS prior
         |  FROM c)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(np AS BIGINT) AS n_pos,
         |  CAST(nt - np AS BIGINT) AS n_neg,
         |  CAST((1000 * (np + 1)) // (nt + 2) - p.prior AS BIGINT)
         |    AS w_milli
         |FROM c, p ORDER BY bucket""".stripMargin,
    // merge ≡ retrain: the Spark side folds the %3==0 batch's counts into
    // the rest-of-corpus counts; the oracle replays a FULL retrain on the
    // whole corpus — hash equality IS the incremental-fit contract
    "q_classifier_merge" ->
      s"""WITH d AS (SELECT CAST(lang = 'en' AS BIGINT) AS pos,
         |    ${duckTokens("lower(text)")} AS w FROM documents),
         |tk AS (SELECT pos, unnest(w) AS t FROM d),
         |gt AS (SELECT pos, t, '<' || t || '>' AS g FROM tk),
         |b AS (SELECT pos, unnest($duckClfFeatures) AS bucket FROM gt),
         |c AS (SELECT bucket, sum(pos) AS np, count(*) AS nt
         |  FROM b GROUP BY bucket),
         |p AS (SELECT (1000 * (sum(np) + 1)) // (sum(nt) + 2) AS prior
         |  FROM c)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(np AS BIGINT) AS n_pos,
         |  CAST(nt - np AS BIGINT) AS n_neg,
         |  CAST((1000 * (np + 1)) // (nt + 2) - p.prior AS BIGINT)
         |    AS w_milli
         |FROM c, p ORDER BY bucket""".stripMargin,
    "q_text_classifier" ->
      s"""WITH d AS (SELECT doc_id, ${duckTokens("lower(text)")} AS w FROM documents),
         |sc AS (SELECT doc_id,
         |    CAST(COALESCE(list_sum(list_transform(w, t ->
         |      ((((${duckCharFold("t")}) % $ClfBuckets) * $ClfMixer) % 2001) - 1000)), 0)
         |      AS BIGINT) AS score_milli
         |  FROM d)
         |SELECT doc_id, score_milli,
         |  CAST(score_milli > 0 AS INT) AS keep
         |FROM sc ORDER BY doc_id""".stripMargin,
    "q_text_length_stats" ->
      """WITH r AS (SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS BIGINT) AS p50_chars,
        |  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN n_chars END) AS BIGINT) AS p90_chars
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
  )
}

package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.sources.Tables
import Hashing._

/** Corpus-wide heavy hitters (frequent shingles) with a count-min-sketch
  * prefilter — the scale path [[TextAnalysis.freqItems]]'s Scaladoc names
  * for vocabularies too large to shuffle exactly.
  *
  * The classic two-pass φ-heavy-hitters plan (Cormode & Muthukrishnan '05):
  *
  *  1. ONE mergeable `count_min_sketch` aggregate over the shingle stream —
  *     map-side combinable, reduce state = a fixed-size sketch (megabytes at
  *     ANY corpus size), executed once as an uncorrelated scalar subquery;
  *  2. a NARROW per-occurrence candidate gate
  *     `cms_estimate(sketch, shingle) >= T` (native codegen'd probe,
  *     [[graft.functions.CmsEstimate]]) — CMS only ever overcounts, so
  *     every truly-heavy shingle survives the gate;
  *  3. an exact `groupBy` recount + threshold over the SURVIVORS only.
  *
  * The one corpus-sized shuffle of the naive plan (distinct/count over the
  * full vocabulary) shrinks to the heavy candidates — at a skew-free 100 TB
  * the gate passes ~(heavy + ε·N-inflated) keys, bounded by the sketch
  * width, while the exact recount keeps the answer sketch-independent
  * (`HeavyHittersSpec` pins sketch-plan ≡ exact-plan). The same
  * build-sketch-small / probe-stream-narrow direction as the Bloom runtime
  * filter in [[SpanDedup.incremental]], with counts instead of membership.
  */
object HeavyHitters {

  /** Absolute heavy threshold (occurrences). Production form is φ·N with
    * the total from the same scan (the φN constant here is pre-sized so the
    * gate bites at every verify SF: 189/154/25831 rows at sf0.001/0.01/0.1,
    * the jump at sf0.1 being that corpus's planted near-duplicates). */
  val HeavyT = 5L

  /** Sketch sizing: relative error ε = 2/width. εN must sit well under
    * [[HeavyT]]'s φ for the gate to be selective — width 100k keeps the
    * expected per-key overcount ≤ N/100k (≈3 at sf0.1); at production scale
    * width is sized from the corpus token count the same way. */
  val CmsEps = 0.00002
  /** Estimate-within-ε confidence → sketch depth (0.99 → 7 rows). */
  val CmsConf = 0.99
  /** Fixed seed: the sketch (and thus the candidate set) is reproducible;
    * the exact recount makes the ANSWER seed-independent either way. */
  val CmsSeed = 42

  /** Duplicated word-3-gram report: every shingle occurring ≥ [[HeavyT]]
    * times corpus-wide, with its exact count. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame =
    heavyHittersOf(Tables.table(s, dir, "documents"))

  /** The sketch-prefiltered plan on any `(text)` frame. */
  def heavyHittersOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val grams = docs.select(explode(shingles3(tokens(lower($"text")))).as("sh"))
    val cms = grams.agg(
      count_min_sketch($"sh", lit(CmsEps), lit(CmsConf), lit(CmsSeed)).as("sk"))
    grams
      .filter(
        graft.functions.CmsEstimate(ColumnBridge.scalarSubquery(cms), $"sh")
          >= HeavyT)
      .groupBy($"sh")
      .agg(count(lit(1)).as("cnt"))
      .filter($"cnt" >= HeavyT)
      .orderBy($"cnt".desc, $"sh")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_heavyhitters" -> heavyHitters _,
  )

  val oracles: Map[String, String] = Map(
    // The oracle states the EXACT semantics (count ≥ T) — the sketch is a
    // plan detail the exact recount erases, so both engines agree on it.
    "q_text_heavyhitters" ->
      s"""WITH d AS (SELECT ${duckTokens("lower(text)")} AS w FROM documents),
         |g AS (SELECT unnest(${duckShingles("w")}) AS sh FROM d)
         |SELECT sh, CAST(count(*) AS BIGINT) AS cnt
         |FROM g GROUP BY sh HAVING count(*) >= $HeavyT
         |ORDER BY cnt DESC, sh""".stripMargin,
  )
}

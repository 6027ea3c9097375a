package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import Hashing._

/** Built-in-only (higher-order-function) spellings of the engine's native
  * expressions, and the exact plans its sketch and Bloom prefilters stand
  * in for. The specs pin native ≡ reference on real and random inputs; the
  * engine itself never calls these. Each mirrors the DuckDB oracle shape
  * of its primitive.
  */
object ReferenceSpellings {

  /** [[Hashing.charFoldHash]]: one string alloc and two interpreted
    * lambdas per char. */
  def charFoldHashHof(s: Column, seed: Long = 0L): Column =
    aggregate(
      filter(split(s, ""), c => c =!= ""),
      lit(seed),
      (h, c) => (h * 31 + ascii(c)) % M)

  /** [[Hashing.shingles3]]: word 3-grams, space-joined, empty below three
    * tokens. */
  def shingles3Hof(w: Column): Column =
    when(size(w) >= 3,
      transform(sequence(lit(1), size(w) - 2), i => concat_ws(" ", slice(w, i, lit(3)))))
      .otherwise(array().cast("array<string>"))

  /** [[Hashing.minhashSigRot]]: two substrings and one concat per shingle
    * per position. */
  def minhashSigRotHof(base: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(base, b =>
        concat(substring(b, 4 * i + 1, 32), substring(b, 1, 4 * i))))
    }: _*)

  /** [[Hashing.simhash]]: `bits` interpreted aggregate folds per row. */
  def simhashHof(tokenHashes: Column, bits: Int): Column =
    (0 until bits).map { j =>
      when(
        aggregate(tokenHashes, lit(0L),
          (s, h) => s + (shiftright(h, j).bitwiseAND(1) * 2 - 1)) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** [[Hashing.qdot]]: a zipped array alloc and two interpreted lambda
    * passes per pair. */
  def qdotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** [[Similarity.bucket]]: one interpreted vector walk per plane. */
  def bucketHof(q: Column, planes: Int = Similarity.Planes): Column =
    (0 until planes).map { p =>
      when(
        aggregate(
          zip_with(q, sequence(lit(0), size(q) - 1),
            (x, d) => x * (shiftright(d.cast("long") * 1103515245L + lit(12345L * p), 16)
              .bitwiseAND(1) * 2 - 1)),
          lit(0L), (s, v) => s + v) > 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** The classifier's feature buckets (`ClfGramBuckets`): the marked token
    * `g` binds as a lambda variable (transform over a 1-element array;
    * higher-order-function Columns are exempt from common subexpression
    * elimination, so a plain reuse would re-evaluate the concat per gram).
    * The 4-gram arm guards `length ≥ 4`: Spark's `sequence(1, 0)` descends
    * ([1, 0]) where DuckDB's `generate_series(1, 0)` is empty; unguarded, a
    * 1-char token would diverge the engines and hash a bogus gram. */
  def clfFeatureBucketsHof(t: Column): Column = {
    val buckets = TextAnalysis.ClfBuckets
    element_at(transform(array(concat(lit("<"), t, lit(">"))), g =>
      concat(
        array(charFoldHash(t) % buckets),
        transform(sequence(lit(1), length(g) - 2), i =>
          charFoldHash(g.substr(i, lit(3))) % buckets),
        when(length(g) >= 4,
          transform(sequence(lit(1), length(g) - 3), i =>
            charFoldHash(g.substr(i, lit(4))) % buckets))
          .otherwise(typedLit(Seq.empty[Long])))), 1)
  }

  /** [[graft.functions.BpeApply]]: the merge chain as literal string
    * `replace`s over the padded-symbol spelling. Every symbol is wrapped
    * in its own leading and trailing space (`"abc"` → `" a  b  c "`), so
    * adjacent merge sites never share a boundary space and non-overlapping
    * left-to-right `replace` equals the greedy array rewrite; with a shared
    * single-space separator, `replace` consumes the boundary and misses
    * every immediately-adjacent second site. */
  def bpeApplyHof(word: Column, merges: Seq[(String, String)]): Column = {
    val seg0 = regexp_replace(word, "(.)", " $1 ")
    val segN = merges.foldLeft(seg0) { case (sg, (a, b)) =>
      replace(sg, lit(s" $a  $b "), lit(s" $a$b "))
    }
    split(trim(segN), "  ")
  }

  /** [[graft.functions.WinnowSelect]] over a gram-hash array column named
    * `hs`: window j covers grams j .. j+w−1; argmin seeded at j and folded
    * left→right with `<=` so ties land rightmost (the paper's rule). */
  def selectExprOf(w: Int): Column = expr(
    s"""array_distinct(transform(sequence(1, size(hs) - ${w - 1}), j ->
       |  aggregate(sequence(j + 1, j + ${w - 1}),
       |    named_struct('pos', j, 'fp', element_at(hs, j)),
       |    (acc, i) -> IF(element_at(hs, i) <= acc.fp,
       |      named_struct('pos', i, 'fp', element_at(hs, i)), acc))))""".stripMargin)

  /** [[HeavyHitters.heavyHittersOf]] without the count-min sketch gate: the
    * full vocabulary shuffle. */
  def heavyHittersExact(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(explode(shingles3(tokens(lower($"text")))).as("sh"))
      .groupBy($"sh")
      .agg(count(lit(1)).as("cnt"))
      .filter($"cnt" >= HeavyHitters.HeavyT)
      .orderBy($"cnt".desc, $"sh")
  }

  /** [[SpanDedup.incremental]] without the Bloom prefilter. */
  def incrementalExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spans0 = Tables.table(s, dir, "documents")
      .select($"doc_id", explode(shingleMd5(tokens($"text"), SpanDedup.SpanK)).as("h"))
    spans0.filter($"doc_id" % 2 === 1)
      .join(spans0.filter($"doc_id" % 2 === 0).select($"h").distinct(), "h")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy($"doc_id")
  }
}

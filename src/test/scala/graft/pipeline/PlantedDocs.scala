package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The planted near-duplicate corpus: `n` `(doc_id, text)` documents of
  * `words` words drawn from a 5000-word vocabulary by `xxhash64` over
  * `spark.range` (deterministic, no IO). Every document with
  * `doc_id % 100 == 1` copies its predecessor except for the first word, so
  * for `n` a multiple of 100 the corpus holds exactly `n / 100` near-copy
  * pairs, each copy odd and each source even.
  */
object PlantedDocs {
  def apply(spark: SparkSession, n: Long, words: Int = 50): DataFrame = {
    import spark.implicits._
    val base = when(pmod($"id", lit(100L)) === 1, $"id" - 1).otherwise($"id")
    val ws = (0 until words).map { j =>
      val seed = if (j == 0) $"id" else base
      concat(lit("w"), pmod(xxhash64(seed * 53 + j), lit(5000L)))
    }
    spark.range(n).select($"id".as("doc_id"), concat_ws(" ", ws: _*).as("text"))
  }
}

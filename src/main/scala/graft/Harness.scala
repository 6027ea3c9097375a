package graft

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** The harness the query tools (`Bench`, `Verify`, `QueryTime`, `ExplainQ`)
  * share: one session, one table of one-time artifact builds, one cache
  * clear between queries. */
object Harness {

  /** [[GraftSession.builder]] on `SPARK_GRAFT_CPUS` local cores (shuffle
    * partitions to match), no UI, WARN logging and the audited WindowExec
    * warnings muted. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietAuditedWindowWarnings()
    spark
  }

  /** Release everything a query left cached: the library's registered
    * caches and materialized checkpoints ([[Caches.clearAll]]), any other
    * SQL-cached relation, and unregistered RDD-level blocks (loop-internal
    * localCheckpoints). Call only between queries: no frame built before
    * it may run another action. */
  def clear(spark: SparkSession): Unit = {
    Caches.clearAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** The message a failure is reported under (first 200 characters). */
  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(200)

  /** One one-time artifact build. `key` names the detail-JSON field its
    * seconds are summed into; `None` builds it without reporting the time. */
  final case class Artifact(
      name: String, key: Option[String], build: (SparkSession, String) => Unit)

  /** Every artifact a declared query serves from, built before timing
    * starts so each query measures serving, not the build. The `key`s, in
    * first-appearance order, are the detail JSON's `*_build_sec` fields. */
  object Artifacts {
    import graft.pipeline._
    val all: Seq[Artifact] = Seq(
      // two saveAsTable writes; q_join_bucketed measures the no-Exchange join
      Artifact("bucketed_tables", None, relational.Joins.ensureBucketedTables),
      // the shared IVF index, the knn join's K=32 index and the merged index
      Artifact("ivf_index", Some("ivf_build_sec"),
        (s, d) => Similarity.annIvfProbe(s, d).count(): Unit),
      Artifact("ivf_knn_index", Some("ivf_build_sec"),
        Similarity.trainIndex(_, _, Similarity.KnnK)),
      Artifact("ivf_merged_index", Some("ivf_build_sec"), Similarity.trainMergedIndex),
      // MinHash near-dup index, its merge demo and the corpus signatures
      Artifact("minhash_index", Some("mh_build_sec"), Dedup.trainIndex),
      Artifact("minhash_merged_index", Some("mh_build_sec"), Dedup.trainMergedIndex),
      Artifact("minhash_signatures", Some("mh_build_sec"), Dedup.trainSigIndex),
      // frozen classifier weights; q_text_classifier_fit still times the fit
      Artifact("classifier", Some("clf_build_sec"), TextAnalysis.trainClassifier),
      Artifact("pq_codebooks", Some("pq_build_sec"), Embeddings.trainPq),
      Artifact("eval_shingles", Some("cur_build_sec"), Curation.trainEvalShingles),
      Artifact("tokenizers", Some("tok_build_sec"), Tokenizer.trainTokenizers))
  }

  /** What [[warm]] did: seconds per key in first-appearance order, and the
    * failures as (artifact or read, message). */
  final case class Warmed(seconds: Seq[(String, Double)], failures: Seq[(String, String)])

  /** Absorb one-time session costs before any timing: one query's count
    * (codegen init, shuffle service spin-up) and the first footer reads of
    * the shared tables, then build every row of `table`, then [[clear]].
    * A non-fatal failure is printed to stderr and returned; the next row
    * still builds. Fatal errors propagate. */
  def warm(spark: SparkSession, dir: String, table: Seq[Artifact] = Artifacts.all): Warmed = {
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    def attempt(name: String)(body: => Unit): Unit =
      try body
      catch {
        case NonFatal(e) =>
          val m = message(e)
          System.err.println(s"[harness] $name failed: $m")
          failures += name -> m
      }
    val warmQuery = "q_scan_filter_project"
    attempt(warmQuery)(SparkEntry.queries(warmQuery)(spark, dir).count(): Unit)
    attempt("events")(sources.Tables.events(spark, dir).count(): Unit)
    Seq("documents", "embeddings").foreach(t =>
      attempt(t)(sources.Tables.table(spark, dir, t).count(): Unit))
    val seconds = mutable.LinkedHashMap.empty[String, Double]
    table.foreach { a =>
      val t0 = System.nanoTime()
      attempt(a.name)(a.build(spark, dir))
      a.key.foreach(k => seconds(k) = seconds.getOrElse(k, 0.0) + (System.nanoTime() - t0) / 1e9)
    }
    clear(spark)
    Warmed(seconds.toSeq, failures.toSeq)
  }
}

package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Caches
import graft.pipeline._

/** `queries_relational`: every relational query over the fixture tables,
  * in a seeded order, each timed with `.count()` and followed by the cache
  * clearing `graft.Bench` does. Each count is checked against the recorded
  * row count; after the measured passes a seeded sixth of the queries have
  * their content hash checked (untimed). The traced run also measures the
  * pipeline layer: every pipeline artifact build and the five pipeline
  * queries with the most Spark jobs. */
final class QuerySweep extends Workload {
  import QuerySweep._

  private val kind = Relational
  private var order: Seq[String] = Nil
  private var dataDirs: Seq[File] = Nil
  private def dataDir: File = dataDirs.last
  private val queryS = mutable.ArrayBuffer[Double]() // every query of every pass
  private val artifactS = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private var artifactFailures = 0
  private var traced: TracedPass = _
  private var passes = 0
  private var expected: Map[String, (Long, String)] = Map.empty

  override def shortPass: Boolean = false

  def prepare(spark: SparkSession, env: Env): Unit = {
    val names = kind.queries.keys.toSeq.sorted
    order = new scala.util.Random(env.seed).shuffle(names)
    expected = readExpected(new File(env.repo, s"perfbench/${kind.expected}"))
    val fixture = new File(env.repo, "perfbench/data")
    require(new File(fixture, "lineitem.parquet").exists(), s"no fixture tables under $fixture")
    dataDirs = (0 to Main.WarmSetups).map { rep =>
      val d = env.dir(s"data-$rep")
      copyTree(fixture, d)
      d
    }
    Json.line("input", Seq("queries" -> order.size, "fixture" -> fixture.getName))
  }

  def setup(spark: SparkSession, env: Env, rep: Int, report: Report): Unit = {
    val dir = dataDirs(rep).getAbsolutePath
    // Bench's warm-up: one query plus the first footer reads of the shared tables
    graft.relational.Queries.all("q_scan_filter_project")(spark, dir).count()
    graft.sources.Tables.events(spark, dir).count()
    Seq("documents", "embeddings").foreach(t => graft.sources.Tables.table(spark, dir, t).count())
    kind.artifacts.foreach { case (name, build) => buildArtifact(spark, dir, name, build, report) }
    clear(spark)
  }

  def pass(spark: SparkSession, env: Env, ledger: Option[Ledger], report: Report): Unit = {
    val tp = ledger.map(l => new TracedPass(spark, l, passes))
    queryS ++= sweep(spark, dataDir, kind, order, expected, tp, report)
    tp.foreach(traced = _)
    passes += 1
  }

  /** Content check, once per run and untimed: an order-insensitive hash of
    * the rows of a seeded sixth of the queries against the recorded value.
    * Row counts are checked on every query. */
  override def finish(spark: SparkSession, env: Env, report: Report): Unit = {
    val dir = dataDir.getAbsolutePath
    order.take(math.max(1, order.size / HashShare)).foreach { q =>
      report.guard(s"$q.hash")(contentHash(kind.queries(q)(spark, dir))).foreach { nh =>
        report.check(s"$q.hash", expected.get(q).contains(nh), s"got $nh, recorded ${expected.get(q)}")
      }
      clear(spark)
    }
  }

  def workloadMetrics(untraced: Seq[Pass]): Seq[(String, Double, String)] = Seq(
    ("query_p50_s", Ledger.quantile(queryS.toSeq, 0.5), "s"),
    ("query_p90_s", Ledger.quantile(queryS.toSeq, 0.9), "s"))

  def layerMetrics(spark: SparkSession, env: Env, report: Report): Seq[(String, Double)] = {
    val own = sweepMetrics(kind.layer, traced, env)
    // the pipeline layer: every artifact build, then the five heaviest queries
    Pipeline.artifacts.foreach { case (name, build) =>
      buildArtifact(spark, dataDir.getAbsolutePath, name, build, report)
    }
    val ledger = new Ledger(spark.sparkContext)
    val tp = new TracedPass(spark, ledger, passes)
    sweep(spark, dataDir, Pipeline, Layers.HeavyPipelineQueries,
      readExpected(new File(env.repo, s"perfbench/${Pipeline.expected}")), Some(tp), report)
    ledger.close()
    val pipeline = sweepMetrics(Pipeline.layer, tp, env).filterNot(_._1 == "caches.clear_s")
    Seq("sources.input_rows" -> inputRows(spark), "sources.input_bytes" -> inputBytes,
      "setup.artifact_failures" -> artifactFailures.toDouble) ++
      artifactS.map { case (a, xs) => s"setup.artifact.${a}_s" -> Ledger.median(xs.toSeq) } ++
      own ++ pipeline
  }

  private def buildArtifact(spark: SparkSession, dir: String, name: String,
      build: (SparkSession, String) => Unit, report: Report): Unit = {
    val t0 = System.nanoTime()
    val ok = report.guard(s"setup.artifact.$name")(build(spark, dir)).isDefined
    if (ok) artifactS.getOrElseUpdate(name, mutable.ArrayBuffer()) += Main.secondsSince(t0)
    else artifactFailures += 1
  }

  /** A traced sweep's `<layer>.*` metrics, plus the ledger line that shows
    * build + phases + jobs + untracked + cache clearing summing to the wall. */
  private def sweepMetrics(p: String, t: TracedPass, env: Env): Seq[(String, Double)] = {
    val tot = t.totals
    Json.line("ledger", Seq("layer" -> p, "wall_s" -> t.wallS, "build_s" -> tot.buildS,
      "df_analysis_s" -> tot.dfAnalysisS, "plan_time_job_s" -> tot.planJobS,
      "count_analysis_s" -> tot.countAnalysisS, "optimization_s" -> tot.optimizationS,
      "planning_s" -> tot.planningS, "count_job_s" -> tot.countJobS,
      "untracked_s" -> tot.untrackedS, "caches_clear_s" -> t.clearS, "ledger_s" -> t.ledgerS,
      "sum_s" -> (tot.buildS + tot.countAnalysisS + tot.optimizationS + tot.planningS +
        tot.countJobS + tot.untrackedS + t.clearS + t.ledgerS),
      "jobs_by_query" -> t.rows.map(r => r.name -> r.jobs).sortBy(-_._2).take(10).toMap))
    val heavy = if (p != Pipeline.layer) Nil else Layers.HeavyPipelineQueries.map(q =>
      s"pipeline.jobs.$q" -> t.rows.find(_.name == q).map(_.jobs.toDouble).getOrElse(0.0))
    Seq("caches.clear_s" -> t.clearS) ++
      Seq(
        s"$p.build_s" -> tot.buildS, s"$p.plan_time_jobs" -> tot.planJobs.toDouble,
        s"$p.analysis_s" -> (tot.dfAnalysisS + tot.countAnalysisS),
        s"$p.optimization_s" -> tot.optimizationS, s"$p.planning_s" -> tot.planningS,
        s"$p.jobs" -> tot.jobs.toDouble, s"$p.stages" -> tot.stages.toDouble,
        s"$p.tasks" -> tot.tasks.toDouble, s"$p.executor_cpu_s" -> tot.cpuS,
        s"$p.executor_run_s" -> tot.runS, s"$p.busy_frac" -> tot.runS / (t.wallS * env.nproc),
        s"$p.shuffle_read_bytes" -> tot.shuffleRead.toDouble,
        s"$p.shuffle_write_bytes" -> tot.shuffleWrite.toDouble,
        s"$p.spill_bytes" -> tot.spill.toDouble, s"$p.untracked_s" -> tot.untrackedS) ++ heavy
  }

  private def tableFiles: Seq[File] = Option(dataDir.listFiles()).toSeq.flatten
    .filter(_.getName.endsWith(".parquet"))
    .flatMap(f => if (f.isDirectory) f.listFiles().toSeq.filter(_.getName.endsWith(".parquet")) else Seq(f))

  private def inputBytes: Double = tableFiles.map(_.length.toDouble).sum

  private def inputRows(spark: SparkSession): Double =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings").map(t =>
      graft.sources.Tables.table(spark, dataDir.getAbsolutePath, t).count().toDouble).sum
}

object QuerySweep {
  /** One query in this many gets its content hash checked per run. */
  val HashShare = 6

  type Query = (SparkSession, String) => DataFrame

  /** Runs `names` in order over `data`, each a timed `.count()` followed by
    * the cache clearing, and checks every row count against `expected`;
    * returns the per-query seconds. A traced sweep records each query in
    * `tp` and closes it with the sweep's wall. */
  def sweep(spark: SparkSession, data: File, kind: Kind, names: Seq[String],
      expected: Map[String, (Long, String)], tp: Option[TracedPass], report: Report): Seq[Double] = {
    val dir = data.getAbsolutePath
    val p0 = System.nanoTime()
    val times = names.map { q =>
      val t0 = System.nanoTime()
      val n = report.guard(q)(tp match {
        case None => kind.queries(q)(spark, dir).count()
        case Some(t) => t.query(q, kind.queries(q)(spark, dir))
      })
      val s = Main.secondsSince(t0)
      val exp = expected.get(q).map(_._1)
      n.foreach(n => report.check(s"$q.rows", exp.contains(n), s"$n rows, recorded ${exp.getOrElse("none")}"))
      val c0 = System.nanoTime()
      clear(spark)
      tp.foreach(_.clearS += Main.secondsSince(c0))
      s
    }
    tp.foreach { t => t.wallS = Main.secondsSince(p0); t.close() }
    times
  }

  final case class Kind(layer: String, queries: Map[String, Query],
      artifacts: Seq[(String, (SparkSession, String) => Unit)], expected: String)

  val Relational: Kind = Kind("relational", graft.relational.Queries.all,
    Seq("bucketed" -> ((s, d) => graft.relational.Joins.ensureBucketedTables(s, d))),
    "expected/queries_relational.tsv")

  /** The pipeline queries a traced run measures: the five with the most jobs. */
  val Pipeline: Kind = Kind("pipeline",
    PipelineQueries.all.filter { case (q, _) => Layers.HeavyPipelineQueries.contains(q) },
    Seq(
      "ivf" -> ((s, d) => { Similarity.annIvfProbe(s, d).count(); () }),
      "knn_index" -> ((s, d) => Similarity.trainIndex(s, d, Similarity.KnnK)),
      "merged_ivf" -> ((s, d) => Similarity.trainMergedIndex(s, d)),
      "minhash" -> ((s, d) => Dedup.trainIndex(s, d)),
      "minhash_merged" -> ((s, d) => Dedup.trainMergedIndex(s, d)),
      "sigs" -> ((s, d) => Dedup.trainSigIndex(s, d)),
      "classifier" -> ((s, d) => TextAnalysis.trainClassifier(s, d)),
      "pq" -> ((s, d) => Embeddings.trainPq(s, d)),
      "evalsh" -> ((s, d) => Curation.trainEvalShingles(s, d)),
      "tokenizer" -> ((s, d) => Tokenizer.trainTokenizers(s, d))),
    "expected/queries_pipeline.tsv")

  /** Between queries, as `graft.Bench` does: drop every cache and persisted RDD. */
  def clear(spark: SparkSession): Unit = {
    Caches.clearAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def copyTree(from: File, to: File): Unit = {
    val src = from.toPath
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = to.toPath.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def readExpected(f: File): Map[String, (Long, String)] =
    if (!f.exists()) Map.empty
    else Files.readAllLines(f.toPath).asScala.filter(_.nonEmpty).map { l =>
      val Array(q, n, h) = l.split("\t"); q -> ((n.toLong, h))
    }.toMap

  /** Row count and an order-insensitive hash of the rows: the sum of
    * per-row 64-bit hashes, with floating-point columns rounded to 6
    * decimals so summation order inside a query cannot change it. */
  def contentHash(df: DataFrame): (Long, String) = {
    def norm(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(et @ (DoubleType | FloatType), _) => transform(c, x => norm(x, et))
      case _ => c
    }
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  /** One query's ledger record. */
  final case class Row(name: String, wallS: Double, buildS: Double, dfAnalysisS: Double,
      countAnalysisS: Double, optimizationS: Double, planningS: Double,
      build: Ledger.Acc, count: Ledger.Acc) {
    def jobs: Int = build.jobs + count.jobs
    def untrackedS: Double =
      wallS - buildS - countAnalysisS - optimizationS - planningS - count.jobS
  }

  final case class Totals(buildS: Double, dfAnalysisS: Double, planJobS: Double, planJobs: Int,
      countAnalysisS: Double, optimizationS: Double, planningS: Double, countJobS: Double,
      untrackedS: Double, jobs: Int, stages: Int, tasks: Int, cpuS: Double, runS: Double,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)

  /** A traced pass: spans `<pass>/<query>/build` and `/count`, and the
    * timed count's Catalyst phases from a `QueryExecutionListener`. */
  final class TracedPass(spark: SparkSession, ledger: Ledger, pass: Int) extends QueryExecutionListener {
    val rows = mutable.ArrayBuffer[Row]()
    var clearS = 0.0
    var wallS = 0.0
    var ledgerS = 0.0 // reading the ledger after each query, outside its wall
    @volatile private var lastCount: QueryExecution = _
    spark.listenerManager.register(this)

    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (funcName == "count") lastCount = qe
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    private def phase(qe: QueryExecution, p: String): Double =
      Option(qe).flatMap(q => q.tracker.phases.get(p)).map(_.durationMs / 1e3).getOrElse(0.0)

    def query(q: String, build: => DataFrame): Long = {
      val t0 = System.nanoTime()
      val df = ledger.span(s"$pass/$q/build")(build)
      val buildS = Main.secondsSince(t0)
      lastCount = null
      val n = ledger.span(s"$pass/$q/count")(df.count())
      val wall = Main.secondsSince(t0)
      val b = ledger.get(s"$pass/$q/build") // drains the bus: lastCount is this count's
      val c = ledger.get(s"$pass/$q/count")
      ledgerS += Main.secondsSince(t0) - wall
      rows += Row(q, wall, buildS, phase(df.queryExecution, "analysis"),
        phase(lastCount, "analysis"), phase(lastCount, "optimization"), phase(lastCount, "planning"), b, c)
      n
    }

    def close(): Unit = spark.listenerManager.unregister(this)

    def totals: Totals = Totals(
      rows.map(_.buildS).sum, rows.map(_.dfAnalysisS).sum, rows.map(_.build.jobS).sum,
      rows.map(_.build.jobs).sum, rows.map(_.countAnalysisS).sum, rows.map(_.optimizationS).sum,
      rows.map(_.planningS).sum, rows.map(_.count.jobS).sum, rows.map(_.untrackedS).sum,
      rows.map(_.jobs).sum, rows.map(r => r.build.stages + r.count.stages).sum,
      rows.map(r => r.build.tasks + r.count.tasks).sum,
      rows.map(r => r.build.cpuS + r.count.cpuS).sum, rows.map(r => r.build.runS + r.count.runS).sum,
      rows.map(r => r.build.shuffleRead + r.count.shuffleRead).sum,
      rows.map(r => r.build.shuffleWrite + r.count.shuffleWrite).sum,
      rows.map(r => r.build.spill + r.count.spill).sum)
  }
}

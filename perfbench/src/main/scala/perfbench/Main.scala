package perfbench

import java.io.File

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

/** Run settings. `work` is this run's scratch directory; every file the
  * run writes (inputs, Spark local dirs, checkpoints, artifacts) is under
  * it, and it is deleted at exit. */
final case class Env(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    repo: File, work: File, nproc: Int) {
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
}

/** One timed pass: wall and process-CPU seconds, and the peak old-gen
  * occupancy after a full GC inside it or at its end ([[Jvm.peakMb]]). */
final case class Pass(wallS: Double, cpuS: Double, heapMb: Double)

/** A benchmark workload. [[prepare]] makes the inputs (untimed),
  * [[setup]] is the timed set-up after the session exists (warm pass,
  * artifact builds), [[pass]] is one measured pass that checks its own
  * outputs. A traced pass also records the per-layer metrics. */
trait Workload {
  def prepare(spark: SparkSession, env: Env): Unit
  def setup(spark: SparkSession, env: Env, rep: Int, report: Report): Unit
  def pass(spark: SparkSession, env: Env, ledger: Option[Ledger], report: Report): Unit

  /** Workload-specific end-to-end figures over the measured passes. */
  def workloadMetrics(untraced: Seq[Pass]): Seq[(String, Double, String)]

  /** Per-layer metrics from the traced passes; layers this workload does
    * not load are reported as 0 by [[Main]]. */
  def layerMetrics(spark: SparkSession, env: Env, report: Report): Seq[(String, Double)]

  /** Whether a pass is short enough to discard a warm one and, traced, to
    * alternate traced and untraced passes. */
  def shortPass: Boolean = true

  /** Untimed checks after the measured passes. */
  def finish(spark: SparkSession, env: Env, report: Report): Unit = ()
}

object Main {
  def usage(): Nothing = {
    System.err.println(
      "usage: perfbench.Main --workload <cep_batch|queries_relational> " +
        "--seed <n> --seconds <n> --trace <0|1> --repo <dir> --work <dir>")
    sys.exit(2)
  }

  /** The canonical engine session; each set-up repetition gets its own
    * warehouse directory, so tables saved by an earlier one never collide. */
  def session(env: Env, rep: Int): SparkSession = {
    val spark = graft.GraftSession.builder(s"local[${env.nproc}]", env.nproc)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", env.dir("spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", env.dir(s"warehouse-$rep").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.quietAuditedWindowWarnings()
    spark
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; secondsSince(t0)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, usage())
    val env = Env(
      workload = arg("workload"),
      seed = arg("seed").toLong,
      seconds = arg("seconds").toInt,
      trace = arg("trace") == "1",
      repo = new File(arg("repo")).getAbsoluteFile,
      work = new File(arg("work")).getAbsoluteFile,
      nproc = Runtime.getRuntime.availableProcessors())
    val workload: Workload = env.workload match {
      case "cep_batch" => new CepBatch
      case "queries_relational" => new QuerySweep
      case _ => usage()
    }
    val report = new Report
    val result = run(env, workload, report)
    println(result)
  }

  /** Set-up repetitions after the first one. The first runs on a cold JVM
    * and overlaps the golden gate, so `setup_s` is the median of the warm
    * ones; five, because they still speed up over the first three (JIT). */
  val WarmSetups = 5

  private def run(env: Env, w: Workload, report: Report): String = {
    // set-up: session build + warm + artifacts, repeated; input generation
    // and the golden gate are excluded from the figure
    val setups = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    var spark = session(env, 0)
    val sessionS = secondsSince(t0)
    // the golden gate's Spark jobs overlap the input generation, which
    // runs on this thread
    val golden = Future(timed(Golden.run(spark, env, report)))(ExecutionContext.global)
    val prepareS = timed(w.prepare(spark, env))
    val goldenS = Await.result(golden, Duration.Inf)
    val warmS = timed(w.setup(spark, env, 0, report))
    for (rep <- 1 to WarmSetups) {
      spark.stop()
      val t1 = System.nanoTime()
      spark = session(env, rep)
      w.setup(spark, env, rep, report)
      setups += secondsSince(t1)
    }
    Json.line("setup", Seq("warm_reps_s" -> setups.toSeq, "cold_s" -> (sessionS + warmS),
      "session_s" -> sessionS,
      "warm_s" -> warmS, "golden_s" -> goldenS, "prepare_s" -> prepareS))

    // Measured passes, for `seconds` after the first measured one starts.
    // A workload with short passes first runs one discarded pass (the first
    // full-size pass is still JIT-cold), and when traced alternates traced
    // and untraced passes; its tracing overhead is traced minus untraced. A
    // workload whose pass is too long for that runs untraced passes, or one
    // traced pass whose overhead is the ledger's own measured cost.
    val untraced = mutable.ArrayBuffer[Pass]()
    val traced = mutable.ArrayBuffer[Pass]()
    val ledger = if (env.trace) Some(new Ledger(spark.sparkContext)) else None
    val alternate = env.trace && w.shortPass
    val first = if (w.shortPass) 1 else 0
    val minPasses = first + (if (alternate) 4 else 1)
    var m0 = System.nanoTime()
    var i = 0
    while (i < minPasses || secondsSince(m0) < env.seconds) {
      val tracedPass = env.trace && (!alternate || i % 2 == 1)
      Jvm.resetPeak()
      val c0 = Jvm.cpuS
      val p0 = System.nanoTime()
      if (i == first) m0 = p0
      w.pass(spark, env, if (tracedPass) ledger else None, report)
      val p = Pass(secondsSince(p0), Jvm.cpuS - c0, Jvm.peakMb)
      if (i >= first) (if (tracedPass) traced else untraced) += p
      i += 1
    }
    w.finish(spark, env, report)
    val med = Ledger.median _
    val measured = if (untraced.nonEmpty) untraced else traced
    val e2e = Seq(
      ("setup_s", med(setups.toSeq), "s"),
      ("wall_s", med(measured.map(_.wallS).toSeq), "s"),
      ("cpu_s", med(measured.map(_.cpuS).toSeq), "s"),
      ("heap_live_peak_mb", med(measured.map(_.heapMb).toSeq), "MB"))
    val specific = w.workloadMetrics(measured.toSeq) :+
      (("error_rate", report.errorRate, "ratio"))
    Json.line(if (untraced.nonEmpty) "end_to_end" else "end_to_end_traced",
      (e2e ++ specific).map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) })
    Json.line("passes", Seq("untraced_wall_s" -> untraced.map(_.wallS).toSeq,
      "traced_wall_s" -> traced.map(_.wallS).toSeq))

    if (env.trace) {
      // set-up is never traced, so its overhead is 0 by construction
      val over = if (alternate) Seq("method" -> "traced minus untraced passes", "setup_s" -> 0.0,
        "wall_s" -> (med(traced.map(_.wallS).toSeq) - med(untraced.map(_.wallS).toSeq)),
        "cpu_s" -> (med(traced.map(_.cpuS).toSeq) - med(untraced.map(_.cpuS).toSeq)),
        "heap_live_peak_mb" -> (med(traced.map(_.heapMb).toSeq) - med(untraced.map(_.heapMb).toSeq)))
      else Seq("method" -> "ledger self-cost in the traced pass", "setup_s" -> 0.0,
        "wall_s" -> ledger.get.callerS, "cpu_s" -> (ledger.get.callerS + ledger.get.listenerCpuS),
        "heap_live_peak_mb" -> "not measured: one pass")
      Json.line("tracing_overhead", over)
      val got = w.layerMetrics(spark, env, report).toMap ++
        Map("setup.session_s" -> sessionS, "setup.warm_s" -> warmS)
      Layers.all.foreach { case (name, unit) => report.put(name, got.getOrElse(name, 0.0), unit) }
    } else e2e.foreach { case (k, v, u) => report.put(k, v, u) }
    spark.stop()
    report.resultLine
  }
}

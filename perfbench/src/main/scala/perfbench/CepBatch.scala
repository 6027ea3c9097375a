package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.EventPatterns
import graft.operators.EventPatterns.EventRow
import graft.pattern.{AfterMatchSkip, NFA, NfaRunner, Pattern}
import graft.sql.MatchRecognize

/** The NFA kernel driven directly: each key's events in event-time order,
  * one key after another, on the calling thread. */
object Kernel {
  /** One CEP output, times at second granularity (the adapter's projection). */
  type Out = (String, Long, Long, Long)

  def byKey(evs: Array[Ev]): Array[(Long, Array[EventRow])] =
    evs.groupBy(_.user).toArray.sortBy(_._1).map { case (k, es) => k -> es.sortBy(_.tsUs).map(_.row) }

  private def sec(us: Long) = us / 1000000L

  final case class Result(outs: Vector[Out], matches: Long, timeouts: Long,
      heldPeak: Long, cpuS: Double)

  /** `NFA.run` per key, as the batch adapter calls it. `heldPeak` is the
    * largest per-key result `run` buffers before returning it. */
  def run(keys: Array[(Long, Array[EventRow])], pattern: Pattern[EventRow]): Result = {
    val outs = Vector.newBuilder[Out]
    var matches, timeouts, held = 0L
    val c0 = Jvm.threadCpuS
    keys.foreach { case (k, es) =>
      val (ms, tos) = NFA.run(es.iterator, (e: EventRow) => e.ts_us / 1000L, pattern)
      matches += ms.size
      timeouts += tos.size
      held = math.max(held, (ms.size + tos.size).toLong)
      ms.foreach(m => for (a <- m.first("A"); c <- m.first("C")) outs += (("match", k, sec(a.ts_us), sec(c.ts_us))))
      tos.foreach(t => t.first("A").foreach(a => outs += (("timeout", k, sec(a.ts_us), -1L))))
    }
    Result(outs.result(), matches, timeouts, held, Jvm.threadCpuS - c0)
  }

  /** Largest live-partial count any key reaches, read from the runner's
    * snapshot after every event (instrumented, so never timed). */
  def livePartialsPeak(keys: Array[(Long, Array[EventRow])], pattern: Pattern[EventRow]): Long = {
    var peak = 0L
    keys.foreach { case (_, es) =>
      val r = new NfaRunner[EventRow](pattern, (e: EventRow) => e.ts_us / 1000L)
      es.foreach { e => r.onEvent(e); peak = math.max(peak, r.snapshot().partials.size.toLong) }
    }
    peak
  }

  /** The MATCH_RECOGNIZE statement's semantics: SQL row patterns have
    * strict contiguity inside the B loop as well as between stages. */
  val strictPattern: Pattern[EventRow] =
    Pattern.begin[EventRow]("A", AfterMatchSkip.SkipPastLastEvent)
      .where(_.event_type == "error")
      .next("B").where(e => e.event_type == "view" || e.event_type == "click")
      .oneOrMore.optional.consecutive
      .next("C").where(_.event_type == "purchase")
      .within(EventPatterns.WithinMs)
}

/** `cep_batch`: seeded events with one hot key (~30%) through the batch
  * adapter (`EventPatterns.detectOf`) and the MATCH_RECOGNIZE front end.
  * Outputs are checked against the kernel run single-threaded on the same
  * events. The traced run also times the kernel itself.
  *
  * Between passes the harness keeps only the staged files and the expected
  * output counts: the events and the reference run are dropped after
  * [[prepare]] and generated again from the seed in [[layerMetrics]], so
  * the old-gen live set a pass reports is the engine's, not the input's. */
final class CepBatch extends Workload {
  import CepBatch._

  private var inputBytes = 0L
  private var expectAdapter: Map[Kernel.Out, Int] = _
  private var expectSql: Map[(Long, Long, Long), Int] = _
  private var passes = 0
  private val traced = mutable.ArrayBuffer[TracedPass]()

  private def input(env: Env) = new File(env.work, "cep_batch_input")
  private def warmInput(env: Env) = new File(env.work, "cep_batch_warm")

  def prepare(spark: SparkSession, env: Env): Unit = {
    val evs = Inputs.events(env.seed, Events, HotShare)
    inputBytes = Inputs.stage(input(env), evs, env.nproc)
    Inputs.stage(warmInput(env), evs.take(Events / 10), env.nproc)
    val keys = Kernel.byKey(evs)
    val reference = Kernel.run(keys, EventPatterns.pattern)
    expectAdapter = counts(reference.outs)
    val strict = Kernel.run(keys, Kernel.strictPattern)
    expectSql = counts(strict.outs.filter(_._1 == "match").map {
      case (_, k, a, c) => (k, a, c)
    })
    Json.line("input", Seq("events" -> evs.length, "keys" -> keys.length,
      "hot_key_events" -> keys.find(_._1 == 0L).map(_._2.length).getOrElse(0),
      "matches" -> reference.matches, "timeouts" -> reference.timeouts,
      "sql_matches" -> strict.matches))
  }

  def setup(spark: SparkSession, env: Env, rep: Int, report: Report): Unit = {
    adapterRows(spark, warmInput(env))
    sqlFrame(spark, warmInput(env)).collect()
  }

  def pass(spark: SparkSession, env: Env, ledger: Option[Ledger], report: Report): Unit = {
    val tag = s"#$passes"
    passes += 1
    def span[A](name: String)(body: => A): A = ledger.fold(body)(_.span(name + tag)(body))
    var t0 = System.nanoTime()
    val got = span("operators")(adapterRows(spark, input(env)))
    val adapterS = Main.secondsSince(t0)
    report.check("cep_batch.adapter", counts(got) == expectAdapter,
      s"${got.size} rows vs ${expectAdapter.values.sum} expected; " + diff(counts(got), expectAdapter))

    t0 = System.nanoTime()
    val frame = span("sql")(sqlFrame(spark, input(env)))
    val sqlBuildS = Main.secondsSince(t0)
    val rows = span("sql")(frame.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    val sqlS = Main.secondsSince(t0)
    report.check("cep_batch.match_recognize", counts(rows) == expectSql,
      s"${rows.size} rows vs ${expectSql.values.sum} expected; " + diff(counts(rows), expectSql))
    ledger.foreach(l => traced += TracedPass(adapterS, sqlBuildS, sqlS,
      l.get("operators" + tag), l.get("sql" + tag)))
  }

  def workloadMetrics(untraced: Seq[Pass]): Seq[(String, Double, String)] =
    Seq(("events_per_s", 2.0 * Events / Ledger.median(untraced.map(_.wallS)), "1/s"))

  def layerMetrics(spark: SparkSession, env: Env, report: Report): Seq[(String, Double)] = {
    // the kernel, warm: the reference run in prepare() was its cold pass
    val keys = Kernel.byKey(Inputs.events(env.seed, Events, HotShare))
    val k = Kernel.run(keys, EventPatterns.pattern)
    report.check("cep_batch.kernel", counts(k.outs) == expectAdapter)
    val livePeak = Kernel.livePartialsPeak(keys, EventPatterns.pattern)
    val hot = keys.filter(_._1 == 0L)
    val hotRun = Kernel.run(hot, EventPatterns.pattern)
    val hotLive = Kernel.livePartialsPeak(hot, EventPatterns.pattern)
    val n = Events.toDouble
    def med(f: TracedPass => Double) = Ledger.median(traced.map(f).toSeq)
    val opWall = med(_.adapterS)
    val sqlW = med(_.sqlS)
    val opCpu = med(_.operators.cpuS)
    val sqlCpu = med(_.sql.cpuS)
    val stage = traced.last.operators.keyedStage
    val taskMax = stage.map(_.durMs.max / 1e3).getOrElse(0.0)
    val taskMed = stage.map(s => Ledger.median(s.durMs.map(_.toDouble).toSeq) / 1e3).getOrElse(0.0)
    Json.line("ladder", Seq("seed" -> env.seed, "events" -> Events,
      "kernel_events_per_s" -> n / k.cpuS, "adapter_events_per_s" -> n / opWall,
      "sql_events_per_s" -> n / sqlW,
      "hot_key_held_outputs" -> (hotRun.matches + hotRun.timeouts), "hot_key_live_partials_peak" -> hotLive))
    Seq(
      "sources.input_rows" -> n, "sources.input_bytes" -> inputBytes.toDouble,
      "pattern.events_per_s" -> n / k.cpuS, "pattern.ns_per_event" -> k.cpuS * 1e9 / n,
      "pattern.matches" -> k.matches.toDouble, "pattern.timeouts" -> k.timeouts.toDouble,
      "pattern.live_partials_peak" -> livePeak.toDouble, "pattern.held_outputs_peak" -> k.heldPeak.toDouble,
      "operators.wall_s" -> opWall, "operators.events_per_s" -> n / opWall, "operators.cpu_s" -> opCpu,
      "operators.overhead_x" -> opCpu / k.cpuS,
      "operators.shuffle_write_bytes" -> med(_.operators.shuffleWrite.toDouble),
      "operators.spill_bytes" -> med(_.operators.spill.toDouble),
      "operators.task_max_s" -> taskMax,
      "operators.task_skew" -> (if (taskMed > 0) taskMax / taskMed else 0.0),
      "sql.build_s" -> med(_.sqlBuildS),
      "sql.wall_s" -> sqlW, "sql.events_per_s" -> n / sqlW, "sql.cpu_s" -> sqlCpu,
      "sql.overhead_x" -> (if (opCpu > 0) sqlCpu / opCpu else 0.0),
      "sql.matches" -> expectSql.values.sum.toDouble) ++
      new StreamLayer().measure(spark, env, report)
  }
}

object CepBatch {
  /** One traced pass: front-end walls and their ledger spans. */
  final case class TracedPass(adapterS: Double, sqlBuildS: Double, sqlS: Double,
      operators: Ledger.Acc, sql: Ledger.Acc)

  val Events = 600000
  val HotShare = 0.3

  def counts[A](xs: Seq[A]): Map[A, Int] = xs.groupMapReduce(identity)(_ => 1)(_ + _)

  /** A few rows of each side of a multiset difference, for failure logs. */
  def diff[A](got: Map[A, Int], exp: Map[A, Int]): String = {
    val extra = got.filter { case (k, n) => exp.getOrElse(k, 0) < n }.keys
    val missing = exp.filter { case (k, n) => got.getOrElse(k, 0) < n }.keys
    s"extra ${extra.size} e.g. ${extra.take(5).mkString(" ")}; missing ${missing.size} e.g. ${missing.take(5).mkString(" ")}"
  }

  def eventRows(spark: SparkSession, dir: File): Dataset[EventRow] = {
    import spark.implicits._
    spark.read.parquet(dir.getAbsolutePath)
      .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id", $"event_type")
      .as[EventRow]
  }

  /** The adapter's output as (kind, user, alarm s, top-up s or -1). */
  def adapterRows(spark: SparkSession, dir: File): Vector[Kernel.Out] =
    EventPatterns.detectOf(eventRows(spark, dir)).collect().iterator.map { r: Row =>
      (r.getString(0), r.getLong(1), r.getTimestamp(2).getTime / 1000L,
        if (r.isNullAt(3)) -1L else r.getTimestamp(3).getTime / 1000L)
    }.toVector

  val Statement: String =
    """PARTITION BY user_id
      |ORDER BY ts, event_id
      |MEASURES A.ts AS alarm_ts, C.ts AS topup_ts
      |ONE ROW PER MATCH
      |AFTER MATCH SKIP PAST LAST ROW
      |PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
      |DEFINE
      |  A AS A.event_type = 'error',
      |  B AS B.event_type = 'view' OR B.event_type = 'click',
      |  C AS C.event_type = 'purchase'""".stripMargin

  /** MATCH_RECOGNIZE parse plus DataFrame construction: (user, A s, C s). */
  def sqlFrame(spark: SparkSession, dir: File): DataFrame = {
    import spark.implicits._
    val ev = spark.read.parquet(dir.getAbsolutePath).select($"event_id", $"ts", $"user_id", $"event_type")
    MatchRecognize(ev, Statement)
      .select($"user_id", unix_seconds($"alarm_ts"), unix_seconds($"topup_ts"))
  }
}

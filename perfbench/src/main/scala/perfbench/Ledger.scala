package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-span Spark accounting for the traced runs. A span is a job group:
  * [[Ledger.span]] tags every job started inside its body, and a
  * `SparkListener` folds each job's stages and tasks into the span's
  * [[Ledger.Acc]]. Untraced runs never construct a ledger. */
final class Ledger(sc: SparkContext) extends SparkListener {
  import Ledger._

  private val accs = mutable.LinkedHashMap[String, Acc]()
  private val stageSpan = mutable.HashMap[Int, String]()
  private val jobSpan = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  private val listenerNs = new java.util.concurrent.atomic.AtomicLong()
  private val callerNs = new java.util.concurrent.atomic.AtomicLong()

  /** CPU seconds the listener callbacks used (on the listener-bus thread). */
  def listenerCpuS: Double = listenerNs.get / 1e9

  /** Wall seconds the caller spent in ledger calls: bus drains and reads. */
  def callerS: Double = callerNs.get / 1e9

  private def counted(body: => Unit): Unit = synchronized {
    val c0 = threads.getCurrentThreadCpuTime
    body
    listenerNs.addAndGet(threads.getCurrentThreadCpuTime - c0)
  }

  sc.addSparkListener(this)

  private def acc(name: String): Acc = accs.getOrElseUpdate(name, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = counted {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { name =>
      jobSpan(e.jobId) = name
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageSpan(_) = name)
      acc(name).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = counted {
    for (name <- jobSpan.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
      acc(name).intervals += ((t0, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = counted {
    stageSpan.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = counted {
    val m = e.taskMetrics
    for (name <- stageSpan.get(e.stageId) if m != null) {
      val a = acc(name)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      val st = a.stageTasks.getOrElseUpdate(e.stageId, new StageTasks)
      st.durMs += e.taskInfo.duration
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    }
  }

  /** Runs `body` with every Spark job it starts tagged as span `name`. */
  def span[A](name: String)(body: => A): A = {
    sc.setJobGroup(name, name, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** The span's totals, after every event sent so far has been delivered. */
  def get(name: String): Acc = {
    val t0 = System.nanoTime()
    org.apache.spark.BusDrain(sc)
    val a = synchronized(accs.getOrElse(name, new Acc))
    callerNs.addAndGet(System.nanoTime() - t0)
    a
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object Ledger {
  final class StageTasks {
    val durMs = mutable.ArrayBuffer[Long]()
    var shuffleRead = 0L
  }

  final class Acc {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
    val stageTasks = mutable.LinkedHashMap[Int, StageTasks]()

    def cpuS: Double = cpuNs / 1e9
    def runS: Double = runMs / 1e3

    /** Wall seconds covered by at least one job (overlapping jobs count once). */
    def jobS: Double = {
      var total = 0L
      var end = Long.MinValue
      intervals.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
      total / 1e3
    }

    /** The shuffle-reading stage with the largest total task time: the
      * keyed stage where a hot key becomes a straggler task. */
    def keyedStage: Option[StageTasks] =
      stageTasks.values.filter(_.shuffleRead > 0).maxByOption(_.durMs.sum)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank quantile, q in (0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }
}

package graft

/** The PURE, unit-testable half of [[Bench]] (r13 verdict #2): the bench
  * window was contaminated by host-level contention in four of thirteen
  * rounds — invisible to guest-side load inspection, and in r13 the
  * official artifact breached the 2× gate on a commit that measured 2.1×
  * faster in a quiet window. Two machine-readable defenses:
  *
  *  1. '''Canary trio''' ([[canaryMs]] / [[canaryParMs]] /
  *     [[canaryMemMs]]): fixed-work reference loads with NO Spark
  *     involvement, timed at run start / middle / end and emitted in the
  *     detail artifact. The work is constant, so wall time is a direct
  *     read of what the host actually gave this guest in that window —
  *     three loads because contention has three faces: single-core CPU
  *     (one register loop), multi-core CPU (16 concurrent loops), and
  *     MEMORY BANDWIDTH (streaming a DRAM-resident array — the one that
  *     labels the windows where register loops read clean but columnar
  *     scans crawl). Inflated canaries make contamination machine-
  *     readable for the driver and the judge instead of forensically
  *     reconstructed.
  *  2. '''Outlier re-run''' ([[rerunThreshold]]): any query whose first
  *     timing exceeds max(5 s, 2× its entry in the PREVIOUS round's
  *     committed detail) re-runs once; both timings are reported
  *     (`reruns: {name: {first, rerun}}`) and the MIN feeds the total —
  *     a contention burst that lands on one query no longer poisons the
  *     round record, while a genuine regression reproduces in the re-run
  *     and stays visible.
  */
object BenchKit {

  /** Steps of the canary loop — ~0.4 s on this class of core when idle:
    * long enough to integrate over scheduler jitter, short enough that
    * three runs add ~1 s to a 130+ s bench without moving the total. */
  val CanarySteps: Int = 200000000

  private def xorshiftLoop(steps: Int): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < steps) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  /** Shared measurement kernel: wall-clock ms of `steps` xorshift64*
    * iterations, single thread, no allocation — plus a short untimed
    * warmup so JIT compilation never lands in the measured window. ONE
    * kernel for the full and mini canaries, so a future timing/DCE fix
    * can never skew the contended-classification baseline against the
    * start/middle/end readings. */
  private def canaryMsOf(steps: Int, tag: String): Double = {
    val sink = xorshiftLoop(steps / 100) // JIT warmup, untimed
    val t0 = System.nanoTime()
    val sink2 = xorshiftLoop(steps)
    val dt = (System.nanoTime() - t0) / 1e6
    // keep the loops observable so the JIT cannot eliminate them
    if (sink == 42L && sink2 == 42L) System.err.println(s"[bench] $tag")
    dt
  }

  /** Wall-clock ms of the fixed full-length reference loop. */
  def canaryMs(): Double = canaryMsOf(CanarySteps, "canary")

  /** Concurrency of the parallel canary — wide enough to feel a squeeze
    * on most of the box's cores, small enough that three runs stay cheap. */
  val CanaryThreads: Int = 16

  /** Wall-clock ms of [[CanaryThreads]] CONCURRENT reference loops
    * (each `CanarySteps / 4`) — the multi-core contention read the
    * single-thread canary structurally misses: a host can schedule one
    * guest core cleanly while squeezing the rest (measured in r14: a
    * window where `canary_ms` read only +6% inflated the 32-way bench
    * +28%; `canary_par_ms` saturates most cores, so the squeeze shows). */
  def canaryParMs(): Double = {
    val steps = CanarySteps / 4
    val sinks = new java.util.concurrent.atomic.AtomicLong()
    def spawn(): Seq[Thread] = (1 to CanaryThreads).map { _ =>
      val t = new Thread(() => { sinks.addAndGet(xorshiftLoop(steps)): Unit })
      t.setDaemon(true); t.start(); t
    }
    spawn().foreach(_.join()) // JIT + scheduler warmup, untimed
    val t0 = System.nanoTime()
    spawn().foreach(_.join())
    val dt = (System.nanoTime() - t0) / 1e6
    if (sinks.get() == 42L) System.err.println("[bench] canary-par")
    dt
  }

  /** Longs in the bandwidth canary's working set — 64 MiB, far past any
    * cache tier, so each pass streams from DRAM. */
  val MemCanaryLongs: Int = 8 * 1024 * 1024

  /** Passes per bandwidth-canary measurement (512 MiB of traffic). */
  val MemCanaryPasses: Int = 8

  private lazy val memArr: Array[Long] = {
    val a = new Array[Long](MemCanaryLongs)
    var i = 0
    while (i < a.length) { a(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
    a
  }

  /** Shared bandwidth kernel: wall-clock ms of `passes` sequential-sum
    * passes over the DRAM-resident 64 MiB array, untimed page-in/JIT
    * warmup pass first. One kernel for the full and mini mem canaries. */
  private def memMsOf(passes: Int, tag: String): Double = {
    val a = memArr
    def pass(): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i); i += 1 }
      s
    }
    val sink = pass() // JIT + page-in warmup, untimed
    val t0 = System.nanoTime()
    var k = 0; var s2 = 0L
    while (k < passes) { s2 += pass(); k += 1 }
    val dt = (System.nanoTime() - t0) / 1e6
    if (sink == 42L && s2 == 42L) System.err.println(s"[bench] $tag")
    dt
  }

  /** Wall-clock ms of streaming [[MemCanaryPasses]] sequential-sum passes
    * over a DRAM-resident 64 MiB array — the MEMORY-BANDWIDTH read the
    * CPU canaries structurally miss: in an r14 window the register-bound
    * loops read near-clean (single +8%, parallel flat) while the 32-way
    * bench ran 37% inflated — co-tenant memory traffic slows columnar
    * scan/shuffle work long before it slows a register loop. */
  def canaryMemMs(): Double = memMsOf(MemCanaryPasses, "canary-mem")

  /** Passes of the MINI bandwidth reading (256 MiB of traffic, ~30-40 ms
    * when idle) — interleaved beside the CPU mini so the per-query
    * contended classification sees BOTH contention faces: the r15 first
    * bench run proved the need (CPU minis flat at 50-56 ms through a
    * window whose full mem canary read 1.7× inflated — a register loop is
    * structurally blind to bandwidth squeeze). Four passes, not two: the
    * 2-pass reading's idle variance measured ±30% (13-19 ms in one clean
    * window), which a tight threshold misread as contention. */
  val MiniMemPasses: Int = 4

  /** Wall-clock ms of the mini bandwidth reading. */
  def miniMemMs(): Double = memMsOf(MiniMemPasses, "mini-canary-mem")

  /** Re-run trigger: first timing strictly over max(5 s, 2× the previous
    * round's committed time for this query); a query with no previous
    * entry (new this round) uses the 5 s floor alone. */
  def rerunThreshold(prevSec: Option[Double]): Double =
    prevSec.filter(_ >= 0).fold(5.0)(p => math.max(5.0, 2.0 * p))

  /** Steps of the MINI canary — [[CanarySteps]]/8 ≈ 50 ms when idle:
    * cheap enough to interleave every [[MiniEvery]] queries (~30 readings
    * over a 220-query run add ~1.5 s), long enough to read contention. */
  val MiniCanarySteps: Int = CanarySteps / 8

  /** Interleave cadence: one mini-canary reading every N queries. */
  val MiniEvery: Int = 8

  /** One interleaved mini-canary reading: `tS` seconds from run start,
    * `ms` the CPU loop, `memMs` the bandwidth pass (−1 in legacy fixtures
    * without one — treated as a clean reading), `forQuery` the query this
    * reading was DEDICATED to (taken at its end) — authoritative coverage,
    * immune to the window arithmetic that rerun spans and cache-clear
    * latency would otherwise distort. */
  final case class MiniReading(
      tS: Double, ms: Double, memMs: Double = -1.0,
      forQuery: Option[String] = None)

  /** Wall-clock ms of the mini reference loop — [[canaryMsOf]] at 1/8
    * length (same kernel, shared JIT state). */
  def miniCanaryMs(): Double = canaryMsOf(MiniCanarySteps, "mini-canary")

  /** Contention threshold, CPU face: a covering reading more than 25%
    * over the run-start reading marks the window contended (the xorshift
    * loop is stable to ±8% idle, so 25% is cleanly past noise). */
  val ContendedRatio: Double = 1.25

  /** Contention threshold, BANDWIDTH face: 50%, not 25% — short DRAM
    * timings carry ±30% idle variance (cache/TLB/scheduler phasing;
    * measured 13-19 ms across one clean window), while real co-tenant
    * squeeze reads 1.7-2.2× (r14/r15 contaminated windows) — 1.5 sits
    * between the two populations. A 1.25 mem threshold EXCUSED a
    * genuinely over-budget query as contended in a clean window (measured
    * r15: q_pipeline_full 5.6 s, tagged mem reading 19 ms vs a low-side
    * 13 ms baseline), the exact inversion the labels must never make. */
  val ContendedMemRatio: Double = 1.5

  /** The mini reading nearest (by start offset) to a query that began at
    * `t0S` — "nearest" localizes contention to the query's window instead
    * of averaging it over the whole run. */
  def nearestMini(minis: Seq[MiniReading], t0S: Double): Option[MiniReading] =
    minis.minByOption(m => math.abs(m.tS - t0S))

  /** Split the over-budget queries (serving time > 5 s) into genuinely
    * WARNED vs merely CONTENDED (r14 verdict #2: the driver-window
    * "regressions" needed a judge re-measure to adjudicate — with per-query
    * localization the artifact adjudicates itself). A query is `contended`
    * rather than `budget_warn` when a mini reading COVERING it — every
    * reading TAGGED with its name (the bench takes a dedicated one at the
    * end of each over-budget run, rerun included — name tags make
    * coverage authoritative where rerun spans and cache-clear latency
    * distort window arithmetic), plus any cadence reading inside its
    * [t0, t0 + serving] interval, falling back to the reading nearest its
    * start when neither exists — exceeds the run-start reading by >25% on
    * EITHER face: the CPU loop or the bandwidth pass (contention has
    * both; a register loop is blind to memory squeeze). Fixed reference
    * work ran slow in that window, so the query's timing is a host fact,
    * not an engine fact. Queries with no recorded offset (or no minis)
    * stay conservatively in `budget_warn`. */
  def classifyBudget(
      results: Map[String, Double],
      t0s: Map[String, Double],
      minis: Seq[MiniReading]): (Seq[String], Seq[String]) = {
    val over = results.toSeq.filter(_._2 > 5.0).map(_._1).sorted
    val baseline = minis.headOption
    def inflated(base: MiniReading)(m: MiniReading): Boolean =
      m.ms > ContendedRatio * base.ms ||
        (base.memMs > 0 && m.memMs > ContendedMemRatio * base.memMs)
    over.partition { name =>
      val covering = for {
        base <- baseline
        t0 <- t0s.get(name)
      } yield {
        val dt = results(name)
        val tagged = minis.filter(_.forQuery.contains(name))
        val inside = minis.filter(m =>
          m.forQuery.isEmpty && m.tS >= t0 - 0.5 && m.tS <= t0 + dt + 1.0)
        val considered =
          if (tagged.nonEmpty || inside.nonEmpty) tagged ++ inside
          else nearestMini(minis, t0).toSeq
        considered.exists(inflated(base))
      }
      !covering.getOrElse(false) // None/clean → warn; inflated → contended
    }
  }

  /** Extract the per-query seconds map from a committed detail line —
    * the `"queries":{"name":sec,...}` object ([[Bench]]'s own format;
    * values are plain numbers, so the object body has no nested braces). */
  def parseDetailQueries(detailJson: String): Map[String, Double] =
    "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(detailJson) match {
      case None => Map.empty
      case Some(m) =>
        "\"([^\"]+)\":(-?[0-9]+(?:\\.[0-9]+)?)".r
          .findAllMatchIn(m.group(1))
          .map(p => p.group(1) -> p.group(2).toDouble).toMap
    }

  /** ms-precision number formatting (full-precision doubles made the
    * emitted line long enough that the driver's tail capture truncated
    * its head — r3). */
  def r3f(v: Double): String = if (v < 0) "-1" else f"$v%.3f"

  /** Minimal JSON string escape. */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** One re-run record: the contended first timing and the re-run. */
  final case class Rerun(first: Double, rerun: Double)

  /** The detail-artifact JSON line. `results` carries the SERVING time
    * per query (min of first/rerun when a re-run happened); `reruns`
    * carries both raw timings for every re-run query; `canaries` the
    * start/middle/end reference-loop times; `t0s` each query's start
    * offset (seconds from run start) and `minis` the interleaved
    * mini-canary readings — together they localize contention per query:
    * over-budget queries whose covering mini reading is inflated land in
    * `contended` instead of `budget_warn`. `builds` are the one-time
    * artifact build seconds per detail key, in order ([[Harness.warm]]),
    * and `artifactErrors` the builds that failed. */
  def detailJson(
      results: Map[String, Double],
      errors: collection.Map[String, String],
      reruns: collection.Map[String, Rerun],
      canaries: Seq[Double],
      canariesPar: Seq[Double],
      canariesMem: Seq[Double],
      t0s: Map[String, Double] = Map.empty,
      minis: Seq[MiniReading] = Seq.empty,
      builds: Seq[(String, Double)],
      artifactErrors: Seq[(String, String)] = Seq.empty,
      prevTimes: Map[String, Double] = Map.empty,
      sfDir: String): String = {
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${r3f(v)}" }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val rrJson = reruns.toSeq.sortBy(_._1).map { case (k, r) =>
      s"${jstr(k)}:{" + s""""first":${r3f(r.first)},"rerun":${r3f(r.rerun)}}"""
    }.mkString("{", ",", "}")
    val canaryJson = canaries.map(r3f).mkString("[", ",", "]")
    val canaryParJson = canariesPar.map(r3f).mkString("[", ",", "]")
    val canaryMemJson = canariesMem.map(r3f).mkString("[", ",", "]")
    val t0Json = t0s.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${r3f(v)}" }
      .mkString("{", ",", "}")
    val miniJson = minis
      .map(m => s"""{"t_s":${r3f(m.tS)},"ms":${r3f(m.ms)},"mem_ms":${r3f(m.memMs)}""" +
        m.forQuery.fold("")(q => s""","q":${jstr(q)}""") + "}")
      .mkString("[", ",", "]")
    // Per-query ratio vs the PREVIOUS round's committed time (r15 verdict
    // #4: a canary-blind slow window inflated driver readings without
    // tripping the contended classifier — reruns adjudicated it, but a
    // reader needed a judge diff to SEE the inflation; this column makes
    // window inflation self-describing per query). Only queries present
    // in both rounds appear; errored runs (−1) are skipped.
    val vsPrevJson = results.toSeq.sortBy(_._1).flatMap { case (k, v) =>
      prevTimes.get(k).filter(p => p > 0 && v >= 0)
        .map(p => s"${jstr(k)}:${r3f(v / p)}")
    }.mkString("{", ",", "}")
    val buildJson = builds.map { case (k, v) => s"${jstr(k)}:${r3f(v)}," }.mkString
    val artErrJson = artifactErrors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val (warn, contended) = classifyBudget(results, t0s, minis)
    val budgetWarn = warn.map(jstr).mkString("[", ",", "]")
    val contendedJson = contended.map(jstr).mkString("[", ",", "]")
    s"""{"metric":"total","value":${r3f(total)},"unit":"sec",""" +
      s"""$buildJson"artifact_errors":$artErrJson,""" +
      s""""canary_ms":$canaryJson,"canary_par_ms":$canaryParJson,"canary_mem_ms":$canaryMemJson,""" +
      s""""mini_canary":$miniJson,""" +
      s""""budget_warn":$budgetWarn,"contended":$contendedJson,""" +
      s""""queries":$qs,"vs_prev_committed":$vsPrevJson,""" +
      s""""t0_s":$t0Json,"reruns":$rrJson,"errors":$errJson,"sf":"$sfDir"}"""
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage of the bench's contention self-labeling (r13 verdict #2):
  * the canary, the re-run rule, the previous-detail parser, and the
  * detail-JSON shape the driver and judge read. */
class BenchKitSpec extends AnyFunSuite {

  /** One figure per build key of the artifact table, in table order. */
  private val builds = Harness.Artifacts.all.flatMap(_.key).distinct
    .zip(Seq(8.1, 6.0, 1.5, 2.25, 0.5, 3.0))

  test("canary trio + mini: positive; divergence is ADVISORY only (a " +
    "wall-clock bound would fail precisely in the contended host windows " +
    "the canaries exist to label — r14 ADVICE)") {
    val a = BenchKit.canaryMs()
    val b = BenchKit.canaryMs()
    val p = BenchKit.canaryParMs()
    val m1 = BenchKit.canaryMemMs()
    val m2 = BenchKit.canaryMemMs()
    val mini = BenchKit.miniCanaryMs()
    assert(a > 0 && b > 0 && p > 0 && m1 > 0 && m2 > 0 && mini > 0)
    // fixed work, so large divergence means the HOST was squeezed while
    // this suite ran — report it, don't fail on it
    if (a / b >= 10 || b / a >= 10)
      info(f"ADVISORY: single-thread canaries diverged ${math.max(a / b, b / a)}%.1f× ($a%.1f vs $b%.1f ms) — contended test window")
    if (p / a >= 20 || a / p >= 20)
      info(f"ADVISORY: parallel canary $p%.1f ms vs single $a%.1f ms — contended test window")
    if (m1 / m2 >= 10 || m2 / m1 >= 10)
      info(f"ADVISORY: bandwidth canaries diverged ($m1%.1f vs $m2%.1f ms) — contended test window")
  }

  test("rerunThreshold: max(5 s, 2× previous committed time); new or " +
    "errored previous entries fall back to the 5 s floor") {
    assert(BenchKit.rerunThreshold(None) == 5.0)
    assert(BenchKit.rerunThreshold(Some(0.4)) == 5.0)
    assert(BenchKit.rerunThreshold(Some(2.5)) == 5.0)
    assert(BenchKit.rerunThreshold(Some(4.0)) == 8.0)
    assert(BenchKit.rerunThreshold(Some(-1.0)) == 5.0, "errored prev = floor")
  }

  test("parseDetailQueries round-trips the bench's own detail format") {
    val detail = BenchKit.detailJson(
      results = Map("q_a" -> 1.234, "q_b" -> -1.0, "q_c" -> 6.5),
      errors = Map("q_b" -> "boom \"quoted\""),
      reruns = Map("q_c" -> BenchKit.Rerun(first = 14.2, rerun = 6.5)),
      canaries = Seq(31.0, 30.5, 95.25),
      canariesPar = Seq(40.0, 41.0, 160.5),
      canariesMem = Seq(50.0, 52.0, 201.0),
      builds = builds, sfDir = "/data/sf0.1")
    val qs = BenchKit.parseDetailQueries(detail)
    assert(qs == Map("q_a" -> 1.234, "q_b" -> -1.0, "q_c" -> 6.5))
    assert(BenchKit.parseDetailQueries("{\"no_queries\":1}") == Map.empty)
  }

  test("detailJson shape: canary_ms array, reruns with first/rerun, " +
    "min-based total and budget_warn, escaped errors") {
    val detail = BenchKit.detailJson(
      results = Map("q_a" -> 1.0, "q_b" -> -1.0, "q_c" -> 6.5),
      errors = Map("q_b" -> "boom \"quoted\"\nline2"),
      reruns = Map("q_c" -> BenchKit.Rerun(first = 14.2, rerun = 6.5)),
      canaries = Seq(31.0, 30.5, 95.25),
      canariesPar = Seq(40.0, 41.0, 160.5),
      canariesMem = Seq(50.0, 52.0, 201.0),
      builds = builds,
      prevTimes = Map("q_a" -> 0.5, "q_b" -> 1.0, "q_d" -> 2.0),
      sfDir = "/data/sf0.1")
    // vs_prev_committed (r15 verdict #4): the per-query ratio against the
    // previous round's committed detail — only for queries present in
    // both rounds (q_d is prev-only, q_c has no prev entry) and with a
    // valid timing this round (q_b errored → skipped)
    assert(detail.contains("\"vs_prev_committed\":{\"q_a\":2.000}"))
    assert(detail.contains("\"canary_ms\":[31.000,30.500,95.250]"))
    assert(detail.contains("\"canary_par_ms\":[40.000,41.000,160.500]"))
    assert(detail.contains("\"canary_mem_ms\":[50.000,52.000,201.000]"))
    assert(detail.contains(
      "\"reruns\":{\"q_c\":{\"first\":14.200,\"rerun\":6.500}}"))
    // total sums the SERVING times (min of first/rerun), skipping errors
    assert(detail.contains("\"value\":7.500"))
    // budget_warn reads the serving time too: q_c's 6.5 min still warns
    assert(detail.contains("\"budget_warn\":[\"q_c\"]"))
    assert(detail.contains("\\\"quoted\\\"") && detail.contains("\\n"))
    assert(detail.contains("\"queries\":{\"q_a\":1.000,\"q_b\":-1,\"q_c\":6.500}"))
    // no t0s/minis supplied → empty localization fields, conservative warn
    assert(detail.contains("\"mini_canary\":[]"))
    assert(detail.contains("\"contended\":[]"))
    assert(detail.contains("\"t0_s\":{}"))
    // a well-formed single JSON object: balanced braces, one line
    assert(!detail.contains("\n"))
    assert(detail.count(_ == '{') == detail.count(_ == '}'))
  }

  test("detailJson build fields: the six *_build_sec keys in their order, " +
    "then artifact_errors, empty or naming the failed build") {
    assert(builds.map(_._1) == Seq("ivf_build_sec", "mh_build_sec",
      "clf_build_sec", "pq_build_sec", "cur_build_sec", "tok_build_sec"))
    def detail(artifactErrors: Seq[(String, String)]) = BenchKit.detailJson(
      results = Map("q_a" -> 1.0), errors = Map.empty[String, String],
      reruns = Map.empty[String, BenchKit.Rerun],
      canaries = Seq(1.0), canariesPar = Seq(1.0), canariesMem = Seq(1.0),
      builds = builds, artifactErrors = artifactErrors, sfDir = "/data/sf0.1")
    val fields = "\"ivf_build_sec\":8.100,\"mh_build_sec\":6.000," +
      "\"clf_build_sec\":1.500,\"pq_build_sec\":2.250," +
      "\"cur_build_sec\":0.500,\"tok_build_sec\":3.000,\"artifact_errors\":"
    assert(detail(Seq.empty).contains(fields + "{}"))
    val failed = detail(Seq("pq_codebooks" -> "IllegalStateException: no \"pq\""))
    assert(failed.contains(fields + "{\"pq_codebooks\":\"IllegalStateException: no \\\"pq\\\"\"}"))
    assert(failed.count(_ == '{') == failed.count(_ == '}'))
  }

  test("contention localization: nearest mini reading per query start " +
    "offset; >25% over the start reading flips budget_warn → contended") {
    val minis = Seq(
      BenchKit.MiniReading(0.0, 50.0),    // run-start baseline
      BenchKit.MiniReading(30.0, 52.0),   // clean window
      BenchKit.MiniReading(60.0, 140.0),  // contended window
      BenchKit.MiniReading(90.0, 51.0))   // clean again
    assert(BenchKit.nearestMini(minis, 28.0).contains(minis(1)))
    assert(BenchKit.nearestMini(minis, 58.5).contains(minis(2)))
    assert(BenchKit.nearestMini(Seq.empty, 1.0).isEmpty)
    val results = Map(
      "q_slow_clean" -> 7.0,     // over budget in a clean window → warn
      "q_slow_squeezed" -> 9.0,  // over budget in the contended window → label
      "q_fast" -> 0.5,           // under budget → neither list
      "q_no_offset" -> 8.0)      // over budget, no t0 recorded → warn
    val t0s = Map(
      "q_slow_clean" -> 29.0, "q_slow_squeezed" -> 61.0, "q_fast" -> 62.0)
    val (warn, contended) = BenchKit.classifyBudget(results, t0s, minis)
    assert(warn == Seq("q_no_offset", "q_slow_clean"))
    assert(contended == Seq("q_slow_squeezed"))
    // no minis at all (old artifacts, unit fixtures) → everything over
    // budget stays a warn: localization can only EXPLAIN, never excuse
    val (w2, c2) = BenchKit.classifyBudget(results, t0s, Seq.empty)
    assert(c2.isEmpty && w2.size == 3)
  }

  test("contention localization sees the BANDWIDTH face too: a window " +
    "whose CPU minis read flat but whose mem reading is inflated labels " +
    "contended (the r15 blind spot: register loops can't feel memory " +
    "squeeze)") {
    val minis = Seq(
      BenchKit.MiniReading(0.0, 50.0, memMs = 20.0),  // baseline: both clean
      BenchKit.MiniReading(40.0, 52.0, memMs = 48.0)) // CPU flat, mem 2.4×
    val (warn, contended) = BenchKit.classifyBudget(
      Map("q_scan_heavy" -> 6.0), Map("q_scan_heavy" -> 41.0), minis)
    assert(warn.isEmpty && contended == Seq("q_scan_heavy"))
    // legacy fixtures without a mem reading (−1) classify on CPU alone
    val legacy = Seq(
      BenchKit.MiniReading(0.0, 50.0), BenchKit.MiniReading(40.0, 52.0))
    val (w2, c2) = BenchKit.classifyBudget(
      Map("q_scan_heavy" -> 6.0), Map("q_scan_heavy" -> 41.0), legacy)
    assert(w2 == Seq("q_scan_heavy") && c2.isEmpty)
    // the mem face uses the WIDER 1.5 threshold: a 1.4× reading is inside
    // short-DRAM-timing idle variance (±30% measured) and must stay a
    // warn — a clean-window slow query may never be excused as contended
    val noisy = Seq(
      BenchKit.MiniReading(0.0, 50.0, 20.0),
      BenchKit.MiniReading(40.0, 52.0, 28.0))
    val (w3, c3) = BenchKit.classifyBudget(
      Map("q_scan_heavy" -> 6.0), Map("q_scan_heavy" -> 41.0), noisy)
    assert(w3 == Seq("q_scan_heavy") && c3.isEmpty,
      "1.4x mem reading is noise-class, not contention")
  }

  test("tagged coverage: a reading dedicated to a query adjudicates it " +
    "even when rerun spans or clear latency push it outside the serving " +
    "window — and never pollutes other queries") {
    // rerun scenario: first run 12 s (burst), rerun 5.5 s; committed
    // serving = 5.5, so the window arithmetic [t0-0.5, t0+6.5] excludes
    // the dedicated reading taken at the first run's end (t0+12)
    val minis = Seq(
      BenchKit.MiniReading(0.0, 50.0, 20.0),                       // baseline
      BenchKit.MiniReading(99.8, 51.0, 20.0),                      // clean, pre-start
      BenchKit.MiniReading(112.0, 145.0, 21.0, Some("q_rerun")),   // 1st-run end
      BenchKit.MiniReading(118.0, 52.0, 20.0, Some("q_rerun")))    // rerun end, clean
    val (warn, contended) = BenchKit.classifyBudget(
      Map("q_rerun" -> 5.5, "q_other" -> 6.0),
      Map("q_rerun" -> 100.0, "q_other" -> 99.0), minis)
    // q_rerun: its tagged first-run reading is inflated → contended
    assert(contended == Seq("q_rerun"))
    // q_other (starts at 99, serves 6 s): q_rerun's tagged readings are
    // excluded from its window even though 112.0 falls outside... and the
    // only untagged in-window reading (99.8) is clean → stays a warn
    assert(warn == Seq("q_other"))
  }

  test("interval coverage: a burst caught only by the dedicated END " +
    "reading labels contended even when a clean mini sits nearer the start") {
    val minis = Seq(
      BenchKit.MiniReading(0.0, 50.0, 20.0),   // baseline
      BenchKit.MiniReading(99.0, 51.0, 20.0),  // clean, 1 s BEFORE the query
      BenchKit.MiniReading(108.7, 140.0, 21.0)) // the query's own end reading
    // query starts at 100, serves 8.5 s: the end reading is inside the
    // interval and inflated → contended, even though the nearest-to-start
    // reading (99.0) is clean
    val (warn, contended) = BenchKit.classifyBudget(
      Map("q_burst" -> 8.5), Map("q_burst" -> 100.0), minis)
    assert(warn.isEmpty && contended == Seq("q_burst"))
    // and a clean end reading keeps the warn (genuine slowness)
    val cleanMinis = minis.updated(2, BenchKit.MiniReading(108.7, 52.0, 20.0))
    val (w2, c2) = BenchKit.classifyBudget(
      Map("q_burst" -> 8.5), Map("q_burst" -> 100.0), cleanMinis)
    assert(w2 == Seq("q_burst") && c2.isEmpty)
  }

  test("detailJson carries the localization fields: a synthetic contended " +
    "window LABELS the slow query instead of warning on it") {
    val minis = Seq(
      BenchKit.MiniReading(0.0, 50.0, 20.0), BenchKit.MiniReading(45.0, 130.0, 21.0))
    val detail = BenchKit.detailJson(
      results = Map("q_hot" -> 12.0, "q_slow" -> 6.0),
      errors = Map.empty[String, String],
      reruns = Map.empty[String, BenchKit.Rerun],
      canaries = Seq(400.0), canariesPar = Seq(410.0), canariesMem = Seq(420.0),
      t0s = Map("q_hot" -> 44.0, "q_slow" -> 2.0),
      minis = minis,
      builds = builds, sfDir = "/data/sf0.1")
    assert(detail.contains(
      "\"mini_canary\":[{\"t_s\":0.000,\"ms\":50.000,\"mem_ms\":20.000}," +
        "{\"t_s\":45.000,\"ms\":130.000,\"mem_ms\":21.000}]"))
    assert(detail.contains("\"t0_s\":{\"q_hot\":44.000,\"q_slow\":2.000}"))
    assert(detail.contains("\"budget_warn\":[\"q_slow\"]"))
    assert(detail.contains("\"contended\":[\"q_hot\"]"))
    // the queries map stays flat and parseable despite the nested mini
    // objects elsewhere in the line
    assert(BenchKit.parseDetailQueries(detail) ==
      Map("q_hot" -> 12.0, "q_slow" -> 6.0))
    assert(!detail.contains("\n"))
    assert(detail.count(_ == '{') == detail.count(_ == '}'))
  }
}

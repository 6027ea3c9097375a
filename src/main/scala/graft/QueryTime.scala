package graft

import scala.util.control.NonFatal

/** Time declared queries on the [[Bench]] set-up (artifacts warmed, caches
  * cleared after each run): `runMain graft.QueryTime [names] [repeats]`.
  *
  * `names` is comma-separated and each runs `repeats` times (default 3);
  * earlier names warm the session the way Bench's preceding queries do.
  * With no names every declared query runs once, name-sorted. Each run's
  * wall time splits into
  *   build  — constructing the DataFrame (plan assembly and plan-time jobs),
  *   phases — Catalyst's own tracker (analysis / optimization / planning),
  *   exec   — count() minus the tracked phases (job scheduling + compute),
  * written one JSON object per run to target/phase_profile.json. A
  * measurement tool only: it never writes BENCH files.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val (names, repeats) = args match {
      case Array()     => (SparkEntry.queries.keys.toSeq.sorted, 1)
      case Array(n)    => (n.split(',').toSeq, 3)
      case Array(n, r) => (n.split(',').toSeq, r.toInt)
    }
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    Harness.warm(spark, sfDir)
    import BenchKit.r3f
    val runs = fns.flatMap { case (qn, fn) =>
      val recs = (1 to repeats).flatMap { i =>
        val rec =
          try {
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            val tBuild = (System.nanoTime() - t0) / 1e9
            val t1 = System.nanoTime()
            val n = df.count()
            val tCount = (System.nanoTime() - t1) / 1e9
            val phases = df.queryExecution.tracker.phases.toSeq.sortBy(_._1)
              .map { case (p, t) => p -> (t.endTimeMs - t.startTimeMs) / 1e3 }
            val total = tBuild + tCount
            println(f"[qtime] $qn run $i: $total%.3f s ($n rows)")
            val pj = phases.map { case (p, s) => s""","$p":${r3f(s)}""" }.mkString
            val json =
              s"""{"q":"$qn","run":$i,"build":${r3f(tBuild)},"count":${r3f(tCount)},""" +
                s""""exec":${r3f(tCount - phases.map(_._2).sum)}$pj}"""
            Some((total, json))
          } catch {
            case NonFatal(e) =>
              System.err.println(s"[qtime] $qn run $i FAILED: ${Harness.message(e)}")
              None
          }
        Harness.clear(spark)
        rec
      }
      if (recs.nonEmpty)
        println(f"[qtime] $qn median: ${recs.map(_._1).sorted.apply(recs.size / 2)}%.3f s")
      recs.map(_._2)
    }
    val p = java.nio.file.Paths.get("target/phase_profile.json")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, runs.mkString("[\n", ",\n", "\n]\n"))
    println(s"[qtime] wrote ${runs.size} runs to $p")
    spark.stop()
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // Per-query health (rows written or the error), INCLUDING the non-oracle
    // queries (CEP/MR/approx) that have no DuckDB compare — so a regression
    // of the core shows up in the round's correctness artifacts, not only in
    // bench errors (r5: all 9 CEP/MR queries silently vanished from the
    // correctness JSON when they errored).
    val status = scala.collection.mutable.LinkedHashMap[String, (Long, String)]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // footer-metadata count of the file just written — no recompute
        status(name) = (spark.read.parquet(s"$outDir/$name").count(), null)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        status(name) = (-1L, Harness.message(e))
      }
      // per-query working-set caches: don't let 229 queries accumulate
      Harness.clear(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // tolerance verdicts for the no-oracle approx queries — the same
    // bounds CurationSpec enforces, emitted where the driver can see a
    // regression (r6 verdict: rows-only reporting let them drift silently)
    val approx = graft.pipeline.ApproxCheck.verdicts(spark, sfDir, status.keySet.toSet)
    val statusJson = status.map { case (k, (rows, err)) =>
      val extra = approx.get(k).map(", " + _).getOrElse("")
      s"${q(k)}: {\"rows\": $rows, \"err\": ${if (err == null) "null" else q(err)}$extra}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/query_status.json"), statusJson)
    spark.stop()
  }
}

package graft

/** Print the formatted physical plan of a declared query —
  * `runMain graft.ExplainQ <name>`. Plan-shape iteration tool: explain
  * until it's the plan you'd want, not the first that passes.
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session()
    args.foreach { name =>
      println(s"===== $name =====")
      println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}

package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.events.BillingEvent
import graft.operators.{AlertOutput, BillingAlerts}
import graft.streaming.BillingAlertsStream

/** The reference fixture through all three front ends, before any timing:
  * the Pattern API (batch), the event-time stream, and the reference's
  * MATCH_RECOGNIZE statement. Outputs must equal the golden CSVs byte for
  * byte; each front end is one checked operation. */
object Golden {
  private val Statement =
    """SELECT * FROM perfbench_billing MATCH_RECOGNIZE (
      |  PARTITION BY id
      |  ORDER BY user_action_time
      |  MEASURES
      |    A.datetime AS alarmTriggerDatetime,
      |    C.datetime AS topupDatetime
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
      |  DEFINE
      |    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
      |    B AS B.balanceBefore >= B.balanceAfter,
      |    C AS C.balanceBefore < C.balanceAfter
      |)""".stripMargin

  private def csv(rows: Seq[(String, String, String)]): String =
    rows.sorted.map { case (a, b, c) => s"$a,$b,$c\n" }.mkString

  def run(spark: SparkSession, env: Env, report: Report): Unit = {
    import spark.implicits._
    val res = new File(env.repo, "src/test/resources")
    def golden(name: String) = new String(Files.readAllBytes(new File(res, name).toPath), "UTF-8")
    val input = new File(res, "input-data.csv").getAbsolutePath
    val expected = golden("expected-output.csv")
    val expectedSide = golden("expected-side-output.csv")

    def split(out: Seq[AlertOutput]): (String, String) = (
      csv(out.filter(_.kind == "match").map(o => (o.id, o.alarmTriggerDatetime, o.topupDatetime))),
      csv(out.filter(_.kind == "timeout").map(o => (o.id, o.alarmTriggerDatetime, o.topupDatetime))))

    val t0 = System.nanoTime()
    report.guard("golden.pattern_api") {
      val (m, t) = split(BillingAlerts.detect(BillingAlerts.readCsv(spark, input)).collect().toSeq)
      report.check("golden.pattern_api", m == expected && t == expectedSide, s"got [$m] [$t]")
    }

    val t1 = System.nanoTime()
    report.guard("golden.stream") {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val events = MemoryStream[BillingEvent]
      val q = BillingAlertsStream.detect(events.toDS())
        .writeStream.format("memory").queryName("perfbench_golden").outputMode("append")
        .option("checkpointLocation", env.dir("golden-ckpt").getAbsolutePath)
        .start()
      try {
        events.addData(Files.readAllLines(new File(input).toPath).toArray(Array[String]())
          .filter(_.trim.nonEmpty).map(BillingEvent.parse).toSeq)
        q.processAllAvailable()
        val (m, t) = split(spark.table("perfbench_golden").as[AlertOutput].collect().toSeq)
        report.check("golden.stream", m == expected && t == expectedSide, s"got [$m] [$t]")
      } finally q.stop()
    }

    val t2 = System.nanoTime()
    report.guard("golden.match_recognize") {
      import org.apache.spark.sql.functions._
      BillingAlerts.readCsv(spark, input)
        .withColumn("user_action_time", to_timestamp($"datetime", "yyyy-MM-dd HH:mm:ss"))
        .createOrReplaceTempView("perfbench_billing")
      val out = spark.sql(Statement).collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      report.check("golden.match_recognize", csv(out) == expected, s"got [${csv(out)}]")
    }
    Json.line("golden", Seq("pattern_api_s" -> (t1 - t0) / 1e9,
      "stream_s" -> (t2 - t1) / 1e9, "match_recognize_s" -> Main.secondsSince(t2)))
  }
}

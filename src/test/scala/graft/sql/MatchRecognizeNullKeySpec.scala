package graft.sql

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** PARTITION BY groups rows by their partition values themselves: a NULL
  * value and the string 'null' are different partitions, and so are value
  * tuples whose string forms would join alike. Neither the batch nor the
  * streaming path may match across them.
  */
class MatchRecognizeNullKeySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def statement(view: String, partitionBy: String): String =
    s"""SELECT * FROM $view MATCH_RECOGNIZE (
       |  PARTITION BY $partitionBy
       |  ORDER BY ts
       |  MEASURES A.t AS at, B.t AS bt
       |  ONE ROW PER MATCH
       |  AFTER MATCH SKIP PAST LAST ROW
       |  PATTERN (A B)
       |  DEFINE A AS A.v = 'a', B AS B.v = 'b'
       |)""".stripMargin

  // (NULL, t=1, a) and ('null', t=2, b) must not match; 'x' is the control.
  private val rows = Seq[(Option[String], Long, String)](
    (None, 1L, "a"), (Some("null"), 2L, "b"), (Some("x"), 3L, "a"), (Some("x"), 4L, "b"))

  test("batch: a NULL partition value is not the string 'null'") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    rows.toDF("k", "t", "v").withColumn("ts", to_timestamp(from_unixtime($"t" * 60)))
      .createOrReplaceTempView("null_key_batch")
    val got = MatchRecognize.sql(spark, statement("null_key_batch", "k")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("x", 3L, 4L)))
  }

  test("batch: multi-column partition values are not joined into one string") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Seq(("p\u0000q", "r", 1L, "a"), ("p", "q\u0000r", 2L, "b"), ("s", "t", 3L, "a"), ("s", "t", 4L, "b"))
      .toDF("k1", "k2", "t", "v").withColumn("ts", to_timestamp(from_unixtime($"t" * 60)))
      .createOrReplaceTempView("split_key_batch")
    val got = MatchRecognize.sql(spark, statement("split_key_batch", "k1, k2")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(("s", "t", 3L, 4L)))
  }

  test("batch: NaN partition values are one partition, as Row compares them") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Seq((Double.NaN, 1L, "a"), (Double.NaN, 2L, "b"), (1.0, 3L, "a"), (2.0, 4L, "b"))
      .toDF("k", "t", "v").withColumn("ts", to_timestamp(from_unixtime($"t" * 60)))
      .createOrReplaceTempView("nan_key_batch")
    val got = MatchRecognize.sql(spark, statement("nan_key_batch", "k")).collect()
      .map(r => (r.getDouble(0).isNaN, r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((true, 1L, 2L)))
  }

  test("streaming: a NULL partition value is not the string 'null'") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Option[String], Long, String)]
    input.toDS().toDF("k", "t", "v")
      .withColumn("ts", to_timestamp(from_unixtime($"t" * 60)))
      .withWatermark("ts", "10 minutes")
      .createOrReplaceTempView("null_key_stream")
    val q = MatchRecognize.sql(spark, statement("null_key_stream", "k"))
      .writeStream.format("memory").queryName("null_key_stream_out")
      .outputMode("append").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      // a later row on another key pushes the watermark past every row
      input.addData(Seq((Some("z"), 30L, "q")))
      q.processAllAvailable()
      val got = spark.table("null_key_stream_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq(("x", 3L, 4L)))
    } finally q.stop()
  }
}

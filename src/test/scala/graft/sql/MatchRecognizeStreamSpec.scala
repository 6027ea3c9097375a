package graft.sql

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.events.BillingEvent

/** Streaming MATCH_RECOGNIZE: the same SQL statement over a STREAMING view
  * (watermarked on the rowtime column) runs through the transformWithState
  * CEP operator and produces the golden match once the watermark passes it.
  */
class MatchRecognizeStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("golden MATCH_RECOGNIZE over a streaming view") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[BillingEvent]
    input.toDS()
      .withColumn("user_action_time", to_timestamp($"datetime", "yyyy-MM-dd HH:mm:ss"))
      .withWatermark("user_action_time", "6 minutes")
      .createOrReplaceTempView("billing_stream")

    val result = MatchRecognize.sql(spark,
      """SELECT * FROM billing_stream MATCH_RECOGNIZE (
        |  PARTITION BY id
        |  ORDER BY user_action_time
        |  MEASURES A.datetime AS alarmTriggerDatetime, C.datetime AS topupDatetime
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
        |  DEFINE
        |    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        |    B AS B.balanceBefore >= B.balanceAfter,
        |    C AS C.balanceBefore < C.balanceAfter
        |)""".stripMargin)
    assert(result.isStreaming)

    val q = result.writeStream.format("memory").queryName("mr_stream")
      .outputMode("append").start()
    try {
      val input7 = scala.io.Source
        .fromFile(getClass.getResource("/input-data.csv").getPath)
        .getLines().map(BillingEvent.parse).toSeq
      input.addData(input7)
      q.processAllAvailable()
      val out = spark.table("mr_stream").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      assert(out == Seq(("2", "2020-05-01 11:00:00", "2020-05-01 11:40:00")))
    } finally q.stop()
  }

  test("MATCH_NUMBER() in streaming numbers per-key matches like batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two keys; key "a" completes 3 singleton matches, key "b" completes 2 —
    // fed across TWO batches so the per-key counter must survive state
    // round-trips.
    val input = MemoryStream[(String, Long, Long)]
    input.toDS().toDF("k", "t", "v")
      .withColumn("ts", to_timestamp(from_unixtime($"t" * 60)))
      .withWatermark("ts", "10 minutes")
      .createOrReplaceTempView("mno_stream")
    val stmt =
      """SELECT * FROM mno_stream MATCH_RECOGNIZE (
        |  PARTITION BY k
        |  ORDER BY ts
        |  MEASURES A.t AS t, MATCH_NUMBER() AS mno
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A)
        |  DEFINE A AS A.v = 1
        |)""".stripMargin
    val result = MatchRecognize.sql(spark, stmt)
    val q = result.writeStream.format("memory").queryName("mno_stream_out")
      .outputMode("append").start()
    try {
      input.addData(Seq(("a", 1L, 1L), ("a", 2L, 1L), ("b", 1L, 1L)))
      q.processAllAvailable()
      // v=0 rows at t=14 push the watermark (delay 10 min) past every v=1
      // row without matching anything themselves
      input.addData(Seq(("a", 3L, 1L), ("b", 2L, 1L), ("a", 14L, 0L), ("b", 14L, 0L)))
      q.processAllAvailable()
      val got = spark.table("mno_stream_out").collect()
        .map(r => (r.getString(r.fieldIndex("k")), r.getLong(r.fieldIndex("t")),
          r.getLong(r.fieldIndex("mno")))).toSet
      assert(got == Set(("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 3L),
        ("b", 1L, 1L), ("b", 2L, 2L)))
    } finally q.stop()
  }

  test("PREV() in streaming DEFINE: descending runs match the batch result") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // same ticks as the batch PREV test: runs (10,8,7) and (9,5), rise after
    val ticks = Seq((1L, 10L), (2L, 8L), (3L, 7L), (4L, 9L), (5L, 5L), (6L, 6L),
      (30L, 0L)) // watermark pusher, matches nothing
    val input = MemoryStream[(Long, Long)]
    input.toDS().toDF("tick", "price")
      .withColumn("ts", to_timestamp(from_unixtime($"tick" * 60)))
      .withWatermark("ts", "5 minutes")
      .createOrReplaceTempView("ticks_stream")
    val result = MatchRecognize.sql(spark,
      """SELECT * FROM ticks_stream MATCH_RECOGNIZE (
        |  ORDER BY ts
        |  MEASURES FIRST(D.price) AS start_p, LAST(D.price) AS end_p,
        |           COUNT(D.*) AS n_down
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (D+) WITHIN INTERVAL '1' HOUR
        |  DEFINE D AS D.price < PREV(D.price)
        |)""".stripMargin)
    val q = result.writeStream.format("memory").queryName("prev_stream")
      .outputMode("append").start()
    try {
      // two batches, split mid-run: history must survive the state round-trip
      input.addData(ticks.take(2))
      q.processAllAvailable()
      input.addData(ticks.drop(2))
      q.processAllAvailable()
      val got = spark.table("prev_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(got == Seq((5L, 5L, 1L), (8L, 7L, 2L)))
    } finally q.stop()
  }

  test("streaming PREV compares BIGINT as Long beyond 2^53") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 2^53 < 2^53 + 1, which a Double comparison reads as equal
    val input = MemoryStream[(Long, Long)]
    input.toDS().toDF("tick", "v")
      .withColumn("ts", to_timestamp(from_unixtime($"tick" * 60)))
      .withWatermark("ts", "5 minutes")
      .createOrReplaceTempView("big_prev_stream")
    val q = MatchRecognize.sql(spark,
      """SELECT * FROM big_prev_stream MATCH_RECOGNIZE (
        |  ORDER BY ts
        |  MEASURES FIRST(D.tick) AS d_tick
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (D) WITHIN INTERVAL '1' HOUR
        |  DEFINE D AS D.v < PREV(D.v)
        |)""".stripMargin)
      .writeStream.format("memory").queryName("big_prev_out")
      .outputMode("append").start()
    try {
      input.addData(Seq((1L, 9007199254740993L), (2L, 9007199254740992L),
        (30L, 9007199254740992L))) // watermark pusher, matches nothing
      q.processAllAvailable()
      val got = spark.table("big_prev_out").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(2L), got.toString)
    } finally q.stop()
  }

  test("(B | C) alternation works over a stream with per-member counts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Long, Long, Long)]
    input.toDS().toDF("tick", "v", "c")
      .withColumn("ts", to_timestamp(from_unixtime($"tick" * 60)))
      .withWatermark("ts", "5 minutes")
      .createOrReplaceTempView("alt_stream")
    val result = MatchRecognize.sql(spark,
      """SELECT * FROM alt_stream MATCH_RECOGNIZE (
        |  ORDER BY ts
        |  MEASURES COUNT(B.*) AS n_b, COUNT(C.*) AS n_c
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A (B | C)+ D) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.c = 0, B AS B.c = 1, C AS C.c = 2, D AS D.c = 3
        |)""".stripMargin)
    val q = result.writeStream.format("memory").queryName("alt_stream_out")
      .outputMode("append").start()
    try {
      input.addData(Seq((1L, 1L, 0L), (2L, 2L, 1L), (3L, 3L, 2L)))
      q.processAllAvailable()
      input.addData(Seq((4L, 4L, 1L), (5L, 5L, 3L), (30L, 0L, 9L)))
      q.processAllAvailable()
      val got = spark.table("alt_stream_out").collect()
        .map(r => (r.getLong(r.fieldIndex("n_b")), r.getLong(r.fieldIndex("n_c")))).toSeq
      assert(got == Seq((2L, 1L)))
    } finally q.stop()
  }

  test("ALL ROWS PER MATCH with RUNNING measures over a stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[BillingEvent]
    input.toDS()
      .withColumn("user_action_time", to_timestamp($"datetime", "yyyy-MM-dd HH:mm:ss"))
      .withWatermark("user_action_time", "6 minutes")
      .createOrReplaceTempView("billing_stream_ar")
    val result = MatchRecognize.sql(spark,
      """SELECT * FROM billing_stream_ar MATCH_RECOGNIZE (
        |  PARTITION BY id
        |  ORDER BY user_action_time
        |  MEASURES COUNT(B.*) AS run_n, FINAL COUNT(B.*) AS fin_n
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
        |  DEFINE
        |    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        |    B AS B.balanceBefore >= B.balanceAfter,
        |    C AS C.balanceBefore < C.balanceAfter
        |)""".stripMargin)
    val q = result.writeStream.format("memory").queryName("mr_stream_ar")
      .outputMode("append").start()
    try {
      val input7 = scala.io.Source
        .fromFile(getClass.getResource("/input-data.csv").getPath)
        .getLines().map(BillingEvent.parse).toSeq
      input.addData(input7)
      q.processAllAvailable()
      val out = spark.table("mr_stream_ar").collect()
        .map(r => (r.getString(r.fieldIndex("classifier")),
          r.getLong(r.fieldIndex("run_n")), r.getLong(r.fieldIndex("fin_n"))))
        .toSeq
      // same golden A,B,B,C consumption as the batch ALL ROWS test
      assert(out == Seq(("A", 0L, 2L), ("B", 1L, 2L), ("B", 2L, 2L), ("C", 2L, 2L)))
    } finally q.stop()
  }

  test("PERMUTE over a stream: graph NFA state survives batch splits") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Long, String)]
    input.toDS().toDF("tick", "kind")
      .withColumn("ts", to_timestamp(from_unixtime($"tick" * 60)))
      .withWatermark("ts", "5 minutes")
      .createOrReplaceTempView("perm_stream")
    val result = MatchRecognize.sql(spark,
      """SELECT * FROM perm_stream MATCH_RECOGNIZE (
        |  ORDER BY ts
        |  MEASURES FIRST(A.tick) AS a_t, FIRST(B.tick) AS b_t, FIRST(C.tick) AS c_t
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (PERMUTE(A, B, C)) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c'
        |)""".stripMargin)
    val q = result.writeStream.format("memory").queryName("perm_stream_out")
      .outputMode("append").start()
    try {
      // B A C split mid-permutation across batches: the partial (with its
      // derivation ranks) must round-trip the state store
      input.addData(Seq((1L, "b"), (2L, "a")))
      q.processAllAvailable()
      input.addData(Seq((3L, "c"), (10L, "b"), (11L, "c"), (12L, "a"), (40L, "x")))
      q.processAllAvailable()
      val got = spark.table("perm_stream_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(got == Seq((2L, 1L, 3L), (12L, 10L, 11L)))
    } finally q.stop()
  }

  test("(V K)+ group loop over a stream: deferred match emits maximally") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Long, String)]
    input.toDS().toDF("tick", "kind")
      .withColumn("ts", to_timestamp(from_unixtime($"tick" * 60)))
      .withWatermark("ts", "5 minutes")
      .createOrReplaceTempView("cycle_stream")
    val result = MatchRecognize.sql(spark,
      """SELECT * FROM cycle_stream MATCH_RECOGNIZE (
        |  ORDER BY ts
        |  MEASURES COUNT(V.*) AS n_v, COUNT(K.*) AS n_k
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN ((V K)+ P) WITHIN INTERVAL '1' HOUR
        |  DEFINE V AS V.kind = 'v', K AS K.kind = 'k', P AS P.kind = 'p'
        |)""".stripMargin)
    val q = result.writeStream.format("memory").queryName("cycle_stream_out")
      .outputMode("append").start()
    try {
      // the group loop spans the batch boundary: v k | v k p — the greedy
      // maximal match (2 pairs) must win after the state round-trip
      input.addData(Seq((1L, "v"), (2L, "k")))
      q.processAllAvailable()
      input.addData(Seq((3L, "v"), (4L, "k"), (5L, "p"), (40L, "x")))
      q.processAllAvailable()
      val got = spark.table("cycle_stream_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((2L, 2L)))
    } finally q.stop()
  }

  test("graph pattern + SKIP TO NEXT ROW over a stream: overlapping matches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Long, String)]
    input.toDS().toDF("tick", "kind")
      .withColumn("ts", to_timestamp(from_unixtime($"tick" * 60)))
      .withWatermark("ts", "5 minutes")
      .createOrReplaceTempView("skip_stream")
    val result = MatchRecognize.sql(spark,
      """SELECT * FROM skip_stream MATCH_RECOGNIZE (
        |  ORDER BY ts
        |  MEASURES FIRST(A.tick) AS a_t, COUNT(A.*) AS n_pairs
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN ((A B)+) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
        |)""".stripMargin)
    val q = result.writeStream.format("memory").queryName("skip_stream_out")
      .outputMode("append").start()
    try {
      // a b a b a split across batches: the greedy 2-pair match anchored at
      // tick 1 AND the overlapped 1-pair match anchored at tick 3 — both
      // must survive the deferred-candidate state round-trip
      input.addData(Seq((1L, "a"), (2L, "b")))
      q.processAllAvailable()
      input.addData(Seq((3L, "a"), (4L, "b"), (5L, "a"), (40L, "x")))
      q.processAllAvailable()
      // push the watermark past every attempt's within-horizon so the
      // deferred candidates flush
      input.addData(Seq((120L, "x")))
      q.processAllAvailable()
      val got = spark.table("skip_stream_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got == Seq((1L, 2L), (3L, 1L)))
    } finally q.stop()
  }
}

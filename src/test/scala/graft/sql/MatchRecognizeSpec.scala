package graft.sql

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The reference's SQL MATCH_RECOGNIZE query (FlinkSqlMatchRecognizeExample
  * .scala:50-68) runs verbatim (modulo rowtime-attribute naming) through our
  * parser extension and reproduces the golden match fixture.
  */
class MatchRecognizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def prepareView(): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = getClass.getResource("/input-data.csv").getPath
    spark.read.textFile(input)
      .map(graft.events.BillingEvent.parse)
      .withColumn("user_action_time", to_timestamp($"datetime", "yyyy-MM-dd HH:mm:ss"))
      .createOrReplaceTempView("billing")
  }

  private val statement =
    """SELECT * FROM billing MATCH_RECOGNIZE (
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

  test("golden MATCH_RECOGNIZE via the library API") {
    prepareView()
    val out = MatchRecognize.sql(spark, statement)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(out == Seq(("2", "2020-05-01 11:00:00", "2020-05-01 11:40:00")))
  }

  test("golden MATCH_RECOGNIZE via spark.sql with the injected parser") {
    prepareView()
    val out = spark.sql(statement)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(out == Seq(("2", "2020-05-01 11:00:00", "2020-05-01 11:40:00")))
  }

  test("ordinary SQL still parses through the delegate") {
    prepareView()
    assert(spark.sql("SELECT count(*) AS n FROM billing").collect().head.getLong(0) == 7L)
  }

  test("ALL ROWS PER MATCH emits every consumed row with CLASSIFIER") {
    prepareView()
    val out = MatchRecognize.sql(spark,
      """SELECT * FROM billing MATCH_RECOGNIZE (
        |  PARTITION BY id
        |  ORDER BY user_action_time
        |  MEASURES A.datetime AS alarmDt
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
        |  DEFINE
        |    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        |    B AS B.balanceBefore >= B.balanceAfter,
        |    C AS C.balanceBefore < C.balanceAfter
        |)""".stripMargin)
      .collect()
      .map(r => (r.getString(r.fieldIndex("id")), r.getString(r.fieldIndex("datetime")),
        r.getString(r.fieldIndex("classifier")), r.getString(r.fieldIndex("alarmDt"))))
      .toSeq
    // the golden match consumed 4 rows of key 2: A, B, B, C
    assert(out == Seq(
      ("2", "2020-05-01 11:00:00", "A", "2020-05-01 11:00:00"),
      ("2", "2020-05-01 11:15:00", "B", "2020-05-01 11:00:00"),
      ("2", "2020-05-01 11:30:00", "B", "2020-05-01 11:00:00"),
      ("2", "2020-05-01 11:40:00", "C", "2020-05-01 11:00:00")))
  }

  test("FIRST/LAST navigation in DEFINE lowers to an iterative condition") {
    prepareView()
    def q(navCond: String) = MatchRecognize.sql(spark,
      s"""SELECT * FROM billing MATCH_RECOGNIZE (
         |  PARTITION BY id
         |  ORDER BY user_action_time
         |  MEASURES A.datetime AS alarmDt, C.datetime AS topupDt
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP PAST LAST ROW
         |  PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
         |  DEFINE
         |    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
         |    B AS B.balanceBefore >= B.balanceAfter,
         |    C AS C.balanceBefore < C.balanceAfter AND $navCond
         |)""".stripMargin).collect()
    // golden C has balanceAfter 23; first A's balanceBefore is 11
    assert(q("C.balanceAfter > FIRST(A.balanceBefore)").length == 1)
    assert(q("C.balanceAfter > FIRST(A.balanceBefore)").head.getString(2) == "2020-05-01 11:40:00")
    assert(q("C.balanceAfter < FIRST(A.balanceBefore)").isEmpty)
    assert(q("C.balanceAfter >= LAST(B.balanceAfter)").length == 1) // 23 >= 3
    // offsets: LAST(B, 1) = second-to-last B (balanceAfter 4); golden C = 23
    assert(q("C.balanceAfter > LAST(B.balanceAfter, 1)").length == 1)
    assert(q("C.balanceAfter < LAST(B.balanceAfter, 1)").isEmpty)
    assert(q("C.balanceAfter > FIRST(B.balanceAfter, 9)").isEmpty) // out of range → false
    // BIGINT operands compare as Long: 2^53 < 2^53 + 1, which a Double
    // comparison reads as equal
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Seq((1L, 9007199254740993L), (2L, 9007199254740992L)).toDF("t", "v")
      .select(lit(1).as("k"), $"t", $"v", timestamp_seconds($"t").as("ts"))
      .createOrReplaceTempView("big_nav")
    for (nav <- Seq("FIRST", "LAST")) {
      val got = MatchRecognize.sql(spark,
        s"""SELECT * FROM big_nav MATCH_RECOGNIZE (
           |  PARTITION BY k
           |  ORDER BY ts
           |  MEASURES A.t AS a_t, B.t AS b_t
           |  ONE ROW PER MATCH
           |  AFTER MATCH SKIP PAST LAST ROW
           |  PATTERN (A B)
           |  DEFINE B AS B.v < $nav(A.v)
           |)""".stripMargin).collect()
        .map(r => (r.getAs[Long]("a_t"), r.getAs[Long]("b_t"))).toSeq
      assert(got == Seq((1L, 2L)), s"$nav: $got")
    }
  }

  test("malformed clauses fail with clear errors, not silent misparses") {
    intercept[IllegalArgumentException] { // no ORDER BY
      MatchRecognize.parseSpec("PARTITION BY id PATTERN (A) DEFINE A AS x > 1")
    }
    intercept[IllegalArgumentException] { // no PATTERN
      MatchRecognize.parseSpec("PARTITION BY id ORDER BY ts DEFINE A AS x > 1")
    }
    intercept[IllegalArgumentException] { // unsupported measure shape
      MatchRecognize.parseSpec(
        "ORDER BY ts MEASURES PREV(A.x) AS p PATTERN (A) DEFINE A AS x > 1")
    }
    intercept[IllegalArgumentException] { // statement shape
      MatchRecognize.sql(spark, "SELECT id FROM t MATCH_RECOGNIZE (ORDER BY ts PATTERN (A))")
    }
    intercept[IllegalArgumentException] { // DEFINE for a variable not in PATTERN
      MatchRecognize.parseSpec("ORDER BY ts PATTERN (A) DEFINE Z AS x > 1")
    }
    intercept[IllegalArgumentException] { // MEASURES referencing unknown variable
      MatchRecognize.parseSpec("ORDER BY ts MEASURES Z.x AS z PATTERN (A) DEFINE A AS x > 1")
    }
    intercept[IllegalArgumentException] { // SKIP TO unknown variable
      MatchRecognize.parseSpec(
        "ORDER BY ts AFTER MATCH SKIP TO FIRST Z PATTERN (A B) DEFINE A AS x > 1")
    }
    intercept[IllegalArgumentException] { // exclusion needs ALL ROWS
      MatchRecognize.parseSpec(
        "ORDER BY ts ONE ROW PER MATCH PATTERN (A {- B -} C) DEFINE A AS x > 1")
    }
  }

  test("MEASURES aggregates, CLASSIFIER() and MATCH_NUMBER()") {
    prepareView()
    val out = MatchRecognize.sql(spark,
      """SELECT * FROM billing MATCH_RECOGNIZE (
        |  PARTITION BY id
        |  ORDER BY user_action_time
        |  MEASURES
        |    COUNT(B.*) AS n_b,
        |    SUM(B.balanceAfter) AS sum_b,
        |    AVG(B.balanceAfter) AS avg_b,
        |    MIN(B.balanceAfter) AS min_b,
        |    MAX(B.balanceAfter) AS max_b,
        |    CLASSIFIER() AS cls,
        |    MATCH_NUMBER() AS mno
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
        |  DEFINE
        |    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        |    B AS B.balanceBefore >= B.balanceAfter,
        |    C AS C.balanceBefore < C.balanceAfter
        |)""".stripMargin).collect()
    assert(out.length == 1)
    val r = out.head
    // golden match on key 2: A=(11,6) B=(6,4) B=(4,3) C=(3,23)
    assert(r.getString(r.fieldIndex("id")) == "2")
    assert(r.getLong(r.fieldIndex("n_b")) == 2L)
    assert(r.getLong(r.fieldIndex("sum_b")) == 7L)
    // AVG emits micro-quantized BIGINT (determinism contract): 3.5 → 3_500_000
    assert(r.getLong(r.fieldIndex("avg_b")) == 3500000L)
    assert(r.getLong(r.fieldIndex("min_b")) == 3L)
    assert(r.getLong(r.fieldIndex("max_b")) == 4L)
    assert(r.getString(r.fieldIndex("cls")) == "C")
    assert(r.getLong(r.fieldIndex("mno")) == 1L)

    // an integral AVG whose micro-quantized sum leaves BIGINT raises, as
    // ANSI sum does, instead of wrapping
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Seq(("1", "2020-05-01 10:00:00", 10000000000000L))
      .toDF("id", "datetime", "x")
      .withColumn("user_action_time", to_timestamp($"datetime"))
      .createOrReplaceTempView("avg_overflow_in")
    val err = intercept[Exception](MatchRecognize.sql(spark,
      """SELECT * FROM avg_overflow_in MATCH_RECOGNIZE (
        |  PARTITION BY id
        |  ORDER BY user_action_time
        |  MEASURES AVG(B.x) AS avg_x
        |  ONE ROW PER MATCH
        |  PATTERN (B)
        |  DEFINE B AS B.x > 0
        |)""".stripMargin).collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), err)
  }

  test("MATCH_NUMBER() numbers matches sequentially within a partition") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Seq(
      ("1", "2020-05-01 10:00:00", 1L),
      ("1", "2020-05-01 10:01:00", 1L),
      ("1", "2020-05-01 10:02:00", 1L))
      .toDF("id", "datetime", "x")
      .withColumn("user_action_time", to_timestamp($"datetime"))
      .createOrReplaceTempView("mno_in")
    val out = MatchRecognize.sql(spark,
      """SELECT * FROM mno_in MATCH_RECOGNIZE (
        |  PARTITION BY id
        |  ORDER BY user_action_time
        |  MEASURES MATCH_NUMBER() AS mno
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A)
        |  DEFINE A AS A.x = 1
        |)""".stripMargin)
      .collect().map(r => r.getLong(r.fieldIndex("mno"))).sorted.toSeq
    assert(out == Seq(1L, 2L, 3L))
  }

  test("multi-column ORDER BY breaks timestamp ties deterministically") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      ("1", "2020-05-01 10:00:00", 1L, 1L),
      ("1", "2020-05-01 10:00:00", 2L, 2L),
      ("1", "2020-05-01 10:00:00", 3L, 3L))
    val stmt =
      """SELECT * FROM ties MATCH_RECOGNIZE (
        |  PARTITION BY id
        |  ORDER BY user_action_time, seq
        |  MEASURES FIRST(A.seq) AS a_seq, LAST(C.seq) AS c_seq
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B C)
        |  DEFINE A AS A.x = 1, B AS B.x = 2, C AS C.x = 3
        |)""".stripMargin
    val results = (0 until 3).map { i =>
      spark.createDataset(scala.util.Random.shuffle(rows))
        .toDF("id", "datetime", "seq", "x")
        .withColumn("user_action_time", to_timestamp($"datetime"))
        .repartition(2 + i)
        .createOrReplaceTempView("ties")
      MatchRecognize.sql(spark, stmt).collect().map(_.toSeq).toSeq
    }
    assert(results.head == Seq(Seq("1", 1L, 3L)))
    assert(results.distinct.size == 1)
  }

  test("ALL ROWS: RUNNING (default) vs FINAL measure values per row") {
    prepareView()
    val out = MatchRecognize.sql(spark,
      """SELECT * FROM billing MATCH_RECOGNIZE (
        |  PARTITION BY id
        |  ORDER BY user_action_time
        |  MEASURES
        |    COUNT(B.*) AS run_n,
        |    FINAL COUNT(B.*) AS fin_n,
        |    SUM(B.balanceAfter) AS run_sum,
        |    FINAL SUM(B.balanceAfter) AS fin_sum,
        |    MIN(B.balanceAfter) AS run_min,
        |    MAX(B.balanceAfter) AS run_max
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
        |  DEFINE
        |    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        |    B AS B.balanceBefore >= B.balanceAfter,
        |    C AS C.balanceBefore < C.balanceAfter
        |)""".stripMargin).collect()
    // golden match on key 2 consumes A=(11,6) B=(6,4) B=(4,3) C=(3,23)
    def f(name: String) = out.map { r =>
      val i = r.fieldIndex(name)
      if (r.isNullAt(i)) null else r.getLong(i)
    }.toSeq
    assert(out.length == 4)
    assert(f("run_n") == Seq(0L, 1L, 2L, 2L)) // grows as B rows arrive
    assert(f("fin_n") == Seq(2L, 2L, 2L, 2L)) // whole-match value everywhere
    assert(f("run_sum") == Seq(null, 4L, 7L, 7L)) // SUM null before first B
    assert(f("fin_sum") == Seq(2L, 2L, 2L, 2L).map(_ => 7L))
    assert(f("run_min") == Seq(null, 4L, 3L, 3L))
    assert(f("run_max") == Seq(null, 4L, 4L, 4L))
  }

  test("ALL ROWS RUNNING measures property: prefix recomputation oracle") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    for (iter <- 0 until 3) {
      val rows = (1 to 60).map { i =>
        ("k" + (i % 3), i.toLong, rnd.nextInt(10).toLong, rnd.nextInt(3))
      }
      rows.toDF("k", "tick", "v", "c")
        .withColumn("ts", to_timestamp(from_unixtime($"tick" * 60)))
        .createOrReplaceTempView(s"run_prop_$iter")
      val out = MatchRecognize.sql(spark,
        s"""SELECT * FROM run_prop_$iter MATCH_RECOGNIZE (
           |  PARTITION BY k
           |  ORDER BY ts
           |  MEASURES COUNT(B.*) AS run_n, SUM(B.v) AS run_sum,
           |           MIN(B.v) AS run_min, MAX(B.v) AS run_max,
           |           MATCH_NUMBER() AS mno
           |  ALL ROWS PER MATCH
           |  AFTER MATCH SKIP PAST LAST ROW
           |  PATTERN (A B* C)
           |  DEFINE A AS A.c = 0, B AS B.c = 1, C AS C.c = 2
           |)""".stripMargin).collect()
        .map(r => (r.getString(r.fieldIndex("k")), r.getLong(r.fieldIndex("mno")),
          r.getLong(r.fieldIndex("tick")), r.getLong(r.fieldIndex("v")),
          r.getString(r.fieldIndex("classifier")),
          Seq("run_n", "run_sum", "run_min", "run_max").map { f =>
            val i = r.fieldIndex(f)
            if (r.isNullAt(i)) None else Some(r.getLong(i))
          }))
        .sortBy(t => (t._1, t._2, t._3))
      assert(out.nonEmpty, "property needs at least one match")
      // independent prefix recomputation per (key, match) from the emitted
      // rows + classifier column
      out.groupBy(t => (t._1, t._2)).foreach { case (_, g) =>
        var bs = Vector.empty[Long]
        g.sortBy(_._3).foreach { case (_, _, _, v, cls, got) =>
          if (cls == "B") bs :+= v
          val want = Seq(
            Some(bs.size.toLong),
            if (bs.isEmpty) None else Some(bs.sum),
            bs.minOption,
            bs.maxOption)
          assert(got == want, s"prefix mismatch at $g")
        }
      }
    }
  }

  test("{- V -} exclusion omits rows from ALL ROWS output but keeps measures") {
    prepareView()
    val out = MatchRecognize.sql(spark,
      """SELECT * FROM billing MATCH_RECOGNIZE (
        |  PARTITION BY id
        |  ORDER BY user_action_time
        |  MEASURES FINAL COUNT(B.*) AS n_b
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A {- B* -} C) WITHIN INTERVAL '1' HOUR
        |  DEFINE
        |    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        |    B AS B.balanceBefore >= B.balanceAfter,
        |    C AS C.balanceBefore < C.balanceAfter
        |)""".stripMargin).collect()
      .map(r => (r.getString(r.fieldIndex("classifier")),
        r.getLong(r.fieldIndex("n_b")))).toSeq
    // golden match consumed A,B,B,C — the two B rows are excluded from
    // output, but COUNT(B.*) still sees them
    assert(out == Seq(("A", 2L), ("C", 2L)))
  }

  test("PREV() in DEFINE: classic descending-run pattern") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // prices per tick: two descending runs (10,8,7) and (9,5), rises between
    Seq((1L, 10L), (2L, 8L), (3L, 7L), (4L, 9L), (5L, 5L), (6L, 6L))
      .toDF("tick", "price")
      .withColumn("ts", to_timestamp(from_unixtime($"tick" * 60)))
      .createOrReplaceTempView("ticks")
    val out = MatchRecognize.sql(spark,
      """SELECT * FROM ticks MATCH_RECOGNIZE (
        |  ORDER BY ts
        |  MEASURES FIRST(D.price) AS start_p, LAST(D.price) AS end_p,
        |           COUNT(D.*) AS n_down
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (D+)
        |  DEFINE D AS D.price < PREV(D.price)
        |)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    // run 1: rows 8,7 (10 has no PREV-descent); run 2: row 5
    assert(out == Seq((5L, 5L, 1L), (8L, 7L, 2L)))
  }

  test("NEXT() in DEFINE and explicit offsets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 1L))
      .toDF("tick", "v")
      .withColumn("ts", to_timestamp(from_unixtime($"tick" * 60)))
      .createOrReplaceTempView("nx")
    // A matches only where the NEXT row's v is larger (rows 1 and 2)
    val out = MatchRecognize.sql(spark,
      """SELECT * FROM nx MATCH_RECOGNIZE (
        |  ORDER BY ts
        |  MEASURES A.tick AS t
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A)
        |  DEFINE A AS NEXT(A.v, 1) > A.v
        |)""".stripMargin).collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L))
    // PREV with offset 2: v two rows back must equal current v (row 4: v=1=row 2? no, row2 v=2; row4 prev2=row2 → 2≠1; row3 prev2=row1 → 1≠3; no match)
    val out2 = MatchRecognize.sql(spark,
      """SELECT * FROM nx MATCH_RECOGNIZE (
        |  ORDER BY ts
        |  MEASURES A.tick AS t
        |  ONE ROW PER MATCH
        |  PATTERN (A)
        |  DEFINE A AS PREV(A.v, 3) = A.v
        |)""".stripMargin).collect().map(_.getLong(0)).toSeq
    assert(out2 == Seq(4L)) // row 4 (v=1) vs row 1 (v=1)
  }

  test("PREV() property check vs hand-rolled descending-run oracle") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 5) {
      val vals = Vector.fill(40)(rnd.nextInt(6).toLong)
      vals.zipWithIndex.map { case (v, i) => (i.toLong + 1, v) }
        .toDF("tick", "price")
        .withColumn("ts", to_timestamp(from_unixtime($"tick" * 60)))
        .createOrReplaceTempView("prop_ticks")
      val got = MatchRecognize.sql(spark,
        """SELECT * FROM prop_ticks MATCH_RECOGNIZE (
          |  ORDER BY ts
          |  MEASURES FIRST(D.tick) AS t0, COUNT(D.*) AS n
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (D+)
          |  DEFINE D AS D.price < PREV(D.price)
          |)""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      // oracle: maximal runs of strictly-descending adjacent steps
      val down = (1 until vals.length).filter(i => vals(i) < vals(i - 1))
      val runs = down.foldLeft(Vector.empty[Vector[Int]]) { (acc, i) =>
        if (acc.nonEmpty && acc.last.last == i - 1) acc.init :+ (acc.last :+ i)
        else acc :+ Vector(i)
      }
      val want = runs.map(r => (r.head.toLong + 1, r.length.toLong))
      assert(got == want, s"vals=$vals")
    }
  }

  test("aggregates in DEFINE lower onto iterative conditions") {
    prepareView()
    // B continues only while the RUNNING sum of B's balanceAfter stays < 8:
    // candidate B rows after A=(11,6): (6,4) sum 4 ok, (4,3) sum 7 ok —
    // with < 5 the second B row (sum 7) is rejected, so C must follow row 2.
    def q(cond: String) = MatchRecognize.sql(spark,
      s"""SELECT * FROM billing MATCH_RECOGNIZE (
         |  PARTITION BY id
         |  ORDER BY user_action_time
         |  MEASURES COUNT(B.*) AS n_b
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP PAST LAST ROW
         |  PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
         |  DEFINE
         |    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
         |    B AS B.balanceBefore >= B.balanceAfter AND $cond,
         |    C AS C.balanceBefore < C.balanceAfter
         |)""".stripMargin).collect()
    val full = q("SUM(B.balanceAfter) < 8")
    assert(full.length == 1 && full.head.getLong(full.head.fieldIndex("n_b")) == 2L)
    val cut = q("SUM(B.balanceAfter) < 5")
    assert(cut.isEmpty) // B stops at 1 row; next row (4,3) is neither B nor C
    val avg = q("AVG(B.balanceAfter) >= 3") // 4 → 3.5: both pass
    assert(avg.length == 1 && avg.head.getLong(avg.head.fieldIndex("n_b")) == 2L)
    val cnt = q("COUNT(B.*) <= 1")
    assert(cnt.isEmpty)

    // BIGINT sums are exact: 2^53 + 1 > 2^53, where the Double sum rounds
    // back to 2^53
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Seq(("1", "2020-05-01 10:00:00", 9007199254740992L),
      ("1", "2020-05-01 10:01:00", 1L),
      ("1", "2020-05-01 10:02:00", 0L))
      .toDF("id", "datetime", "v")
      .withColumn("user_action_time", to_timestamp($"datetime"))
      .createOrReplaceTempView("sum_exact_in")
    val exact = MatchRecognize.sql(spark,
      """SELECT * FROM sum_exact_in MATCH_RECOGNIZE (
        |  PARTITION BY id
        |  ORDER BY user_action_time
        |  MEASURES COUNT(B.*) AS n_b
        |  ONE ROW PER MATCH
        |  PATTERN (B+ C)
        |  DEFINE
        |    B AS B.v > 0,
        |    C AS C.v = 0 AND SUM(B.v) > 9007199254740992
        |)""".stripMargin).collect()
    assert(exact.length == 1 && exact.head.getLong(exact.head.fieldIndex("n_b")) == 2L)
  }

  test("aggregate-in-DEFINE matches the DSL whereContext equivalent") {
    prepareView()
    import spark.implicits._
    import graft.pattern.{AfterMatchSkip, Pattern}
    val events = spark.table("billing").as[graft.events.BillingEvent].collect().toSeq
    // SQL front-end
    val sqlOut = MatchRecognize.sql(spark,
      """SELECT * FROM billing MATCH_RECOGNIZE (
        |  PARTITION BY id
        |  ORDER BY user_action_time
        |  MEASURES COUNT(B.*) AS n_b
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
        |  DEFINE
        |    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        |    B AS B.balanceBefore >= B.balanceAfter AND SUM(B.balanceAfter) < 8,
        |    C AS C.balanceBefore < C.balanceAfter
        |)""".stripMargin).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // DSL equivalent: the RUNNING sum as a whereContext iterative condition
    val p = Pattern.begin[graft.events.BillingEvent]("A", AfterMatchSkip.SkipPastLastEvent)
      .where(e => e.balanceBefore >= 10 && e.balanceAfter < 10)
      .next("B").where(e => e.balanceBefore >= e.balanceAfter)
      .whereContext((e, ctx) => ctx("B").map(_.balanceAfter).sum + e.balanceAfter < 8)
      .oneOrMore.optional.consecutive
      .next("C").where(e => e.balanceBefore < e.balanceAfter)
      .within(3600000L)
    val dslOut = events.groupBy(_.id).toSeq.flatMap { case (id, evs) =>
      val sorted = evs.sortBy(_.eventTimeMillis)
      val (ms, _) = graft.pattern.NFA.run(sorted.iterator,
        (e: graft.events.BillingEvent) => e.eventTimeMillis, p)
      ms.map(m => (id, m("B").size.toLong))
    }
    assert(sqlOut.sorted == dslOut.sorted)
  }

  test("FIRST/LAST measure offsets: n rows after first / before last") {
    prepareView()
    val out = MatchRecognize.sql(spark,
      """SELECT * FROM billing MATCH_RECOGNIZE (
        |  PARTITION BY id
        |  ORDER BY user_action_time
        |  MEASURES FIRST(B.balanceAfter) AS b0, FIRST(B.balanceAfter, 1) AS b1,
        |           LAST(B.balanceAfter, 1) AS bl1, LAST(B.balanceAfter, 5) AS miss
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
        |  DEFINE
        |    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        |    B AS B.balanceBefore >= B.balanceAfter,
        |    C AS C.balanceBefore < C.balanceAfter
        |)""".stripMargin).collect()
    // golden B rows: balanceAfter 4, 3
    val r = out.head
    assert(r.getLong(r.fieldIndex("b0")) == 4L)
    assert(r.getLong(r.fieldIndex("b1")) == 3L)
    assert(r.getLong(r.fieldIndex("bl1")) == 4L)
    assert(r.isNullAt(r.fieldIndex("miss"))) // offset past the binding → null
  }

  test("(B | C) alternation: attribution, measures, classifier") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // c: 0=A-eligible, 1=B, 2=C, 3=D; row 6 (c=9) matches nothing
    Seq((1L, 10L, 0), (2L, 20L, 1), (3L, 30L, 2), (4L, 40L, 1), (5L, 50L, 3), (6L, 0L, 9))
      .toDF("tick", "v", "c")
      .withColumn("ts", to_timestamp(from_unixtime($"tick" * 60)))
      .createOrReplaceTempView("alt_ticks")
    val spec = MatchRecognize.parseSpec(
      "ORDER BY ts PATTERN (A (B | C)+ D) DEFINE A AS c = 0")
    assert(spec.pattern == Seq(("A", ""), ("__alt0", "+"), ("D", "")))
    assert(spec.altGroups == Map("__alt0" -> Seq("B", "C")))
    val one = MatchRecognize.sql(spark,
      """SELECT * FROM alt_ticks MATCH_RECOGNIZE (
        |  ORDER BY ts
        |  MEASURES COUNT(B.*) AS n_b, COUNT(C.*) AS n_c,
        |           SUM(B.v) AS sum_b, FIRST(C.v) AS first_c,
        |           CLASSIFIER() AS cls
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A (B | C)+ D)
        |  DEFINE A AS A.c = 0, B AS B.c = 1, C AS C.c = 2, D AS D.c = 3
        |)""".stripMargin).collect()
    assert(one.length == 1)
    val r = one.head
    assert(r.getLong(r.fieldIndex("n_b")) == 2L) // rows 2, 4
    assert(r.getLong(r.fieldIndex("n_c")) == 1L) // row 3
    assert(r.getLong(r.fieldIndex("sum_b")) == 60L)
    assert(r.getLong(r.fieldIndex("first_c")) == 30L)
    assert(r.getString(r.fieldIndex("cls")) == "D")
    val all = MatchRecognize.sql(spark,
      """SELECT * FROM alt_ticks MATCH_RECOGNIZE (
        |  ORDER BY ts
        |  MEASURES FINAL COUNT(B.*) AS n_b
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A (B | C)+ D)
        |  DEFINE A AS A.c = 0, B AS B.c = 1, C AS C.c = 2, D AS D.c = 3
        |)""".stripMargin).collect()
      .map(r => (r.getLong(r.fieldIndex("tick")), r.getString(r.fieldIndex("classifier"))))
      .sortBy(_._1).toSeq
    assert(all == Seq((1L, "A"), (2L, "B"), (3L, "C"), (4L, "B"), (5L, "D")))
  }

  test("alternation property: per-member counts match a brute-force matcher") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    for (iter <- 0 until 3) {
      val cs = Vector.fill(80)(rnd.nextInt(5) match {
        case 4 => 9 // non-matching filler
        case k => k
      })
      cs.zipWithIndex.map { case (c, i) => (i.toLong + 1, c) }
        .toDF("tick", "c")
        .withColumn("ts", to_timestamp(from_unixtime($"tick" * 60)))
        .createOrReplaceTempView(s"alt_prop_$iter")
      val got = MatchRecognize.sql(spark,
        s"""SELECT * FROM alt_prop_$iter MATCH_RECOGNIZE (
           |  ORDER BY ts
           |  MEASURES FIRST(A.tick) AS t0, COUNT(B.*) AS n_b, COUNT(C.*) AS n_c
           |  ONE ROW PER MATCH
           |  AFTER MATCH SKIP PAST LAST ROW
           |  PATTERN (A (B | C)+ D)
           |  DEFINE A AS A.c = 0, B AS B.c = 1, C AS C.c = 2, D AS D.c = 3
           |)""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      // brute: sequential attempts, strict contiguity, skip past last row
      var want = List.empty[(Long, Long, Long)]
      var i = 0
      while (i < cs.length) {
        if (cs(i) != 0) i += 1
        else {
          var j = i + 1
          var nb = 0L; var nc = 0L
          while (j < cs.length && (cs(j) == 1 || cs(j) == 2)) {
            if (cs(j) == 1) nb += 1 else nc += 1
            j += 1
          }
          if (j < cs.length && cs(j) == 3 && nb + nc >= 1) {
            want ::= (i.toLong + 1, nb, nc)
            i = j + 1
          } else i += 1
        }
      }
      assert(got == want.reverse, s"cs=$cs")
    }
  }

  test("alternation preference: leftmost member wins when both DEFINEs hold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // v=15 satisfies BOTH B (v>10) and C (v>5): attributed to B (leftmost)
    Seq((1L, 0L), (2L, 15L), (3L, 100L))
      .toDF("tick", "v")
      .withColumn("ts", to_timestamp(from_unixtime($"tick" * 60)))
      .createOrReplaceTempView("alt_pref")
    val out = MatchRecognize.sql(spark,
      """SELECT * FROM alt_pref MATCH_RECOGNIZE (
        |  ORDER BY ts
        |  MEASURES COUNT(B.*) AS n_b, COUNT(C.*) AS n_c
        |  ONE ROW PER MATCH
        |  PATTERN (A (B | C) D)
        |  DEFINE A AS A.v = 0, B AS B.v > 10, C AS C.v > 5, D AS D.v = 100
        |)""".stripMargin).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 0L)
  }

  test("alternation members MAY carry iterative DEFINEs (graph lowering)") {
    prepareView()
    // r3 rejected aggregate DEFINEs on alternation members (the synthetic
    // OR-column stage had nowhere to hang them); the graph lowering gives
    // each member its own stage, so the condition attaches per member.
    val out = MatchRecognize.sql(spark,
      """SELECT * FROM billing MATCH_RECOGNIZE (
        |  PARTITION BY id ORDER BY user_action_time
        |  MEASURES A.datetime AS a, CLASSIFIER() AS cls ONE ROW PER MATCH
        |  PATTERN (A (B | C))
        |  DEFINE A AS A.balanceAfter < 10, B AS SUM(B.balanceAfter) < 8,
        |         C AS C.balanceAfter > 0
        |)""".stripMargin).collect()
    assert(out.nonEmpty)
    // the spec routed through the graph path
    val spec = MatchRecognize.parseSpec(
      "ORDER BY ts PATTERN (A (B | C)) DEFINE B AS SUM(B.x) < 8")
    assert(spec.ast.isDefined)
  }

  test("alternation member restrictions produce clear errors") {
    intercept[IllegalArgumentException] { // member also a plain variable
      MatchRecognize.parseSpec(
        "ORDER BY ts PATTERN (B (B | C)) DEFINE B AS x > 1")
    }
    intercept[IllegalArgumentException] { // SKIP TO an alternation member
      MatchRecognize.parseSpec(
        "ORDER BY ts AFTER MATCH SKIP TO FIRST B PATTERN (A (B | C) D) DEFINE A AS x > 1")
    }
  }

  test("AFTER MATCH SKIP TO FIRST/LAST variable parses to the DSL strategy") {
    val f = MatchRecognize.parseSpec(
      """ORDER BY ts AFTER MATCH SKIP TO FIRST B
        |PATTERN (A B+ C) DEFINE A AS x > 1""".stripMargin)
    assert(f.skip == graft.pattern.AfterMatchSkip.SkipToFirst("B"))
    val l = MatchRecognize.parseSpec(
      """ORDER BY ts AFTER MATCH SKIP TO LAST B
        |PATTERN (A B+ C) DEFINE A AS x > 1""".stripMargin)
    assert(l.skip == graft.pattern.AfterMatchSkip.SkipToLast("B"))
  }

  test("TO NEXT ROW skip + quantifier variants parse") {
    prepareView()
    val spec = MatchRecognize.parseSpec(
      """PARTITION BY id ORDER BY user_action_time
        |MEASURES A.datetime AS a ONE ROW PER MATCH
        |AFTER MATCH SKIP TO NEXT ROW
        |PATTERN (A B+ C?) WITHIN INTERVAL '30' MINUTE
        |DEFINE A AS balanceBefore >= 10""".stripMargin)
    assert(spec.skip == graft.pattern.AfterMatchSkip.SkipToNext)
    assert(spec.pattern == Seq(("A", ""), ("B", "+"), ("C", "?")))
    assert(spec.withinMs.contains(1800000L))
  }

  test("bounded {n}/{n,}/{n,m} quantifiers parse and enforce repetition counts") {
    prepareView()
    val spec = MatchRecognize.parseSpec(
      "ORDER BY ts PATTERN (A B{2} C{1,3} D{2,}) DEFINE A AS x > 1")
    assert(spec.pattern == Seq(("A", ""), ("B", "{2}"), ("C", "{1,3}"), ("D", "{2,}")))
    // golden key-2 run has exactly TWO B rows between A and C
    def q(pat: String) = MatchRecognize.sql(spark,
      s"""SELECT * FROM billing MATCH_RECOGNIZE (
         |  PARTITION BY id
         |  ORDER BY user_action_time
         |  MEASURES COUNT(B.*) AS n_b
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP PAST LAST ROW
         |  PATTERN ($pat) WITHIN INTERVAL '1' HOUR
         |  DEFINE
         |    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
         |    B AS B.balanceBefore >= B.balanceAfter,
         |    C AS C.balanceBefore < C.balanceAfter
         |)""".stripMargin).collect()
    assert(q("A B{2} C").length == 1)
    assert(q("A B{2,5} C").length == 1)
    assert(q("A B{3,} C").isEmpty)
    assert(q("A B{0,1} C").isEmpty) // strict contiguity: 2 Bs cannot be skipped
  }

  private def prepareKindView(): Unit = {
    import spark.implicits._
    Seq(
      (1, 1L, "b"), (1, 2L, "a"), (1, 3L, "c"), // B A C — permutation
      (2, 1L, "a"), (2, 2L, "c"), (2, 3L, "b"), // A C B — permutation
      (3, 1L, "a"), (3, 2L, "b"), (3, 3L, "a"), // no C: no permutation
      (4, 1L, "a"), (4, 2L, "b"), (4, 3L, "a"), (4, 4L, "b"), (4, 5L, "a"))
      .toDF("k", "ts", "kind").createOrReplaceTempView("kindev")
  }

  test("PERMUTE(A, B, C) through the SQL front-end matches any ordering") {
    prepareKindView()
    val out = MatchRecognize.sql(spark,
      """SELECT * FROM kindev MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts
        |  MEASURES FIRST(A.ts) AS a_ts, FIRST(B.ts) AS b_ts, FIRST(C.ts) AS c_ts
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (PERMUTE(A, B, C))
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c'
        |)""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(out == Seq((1, 2L, 1L, 3L), (2, 1L, 3L, 2L)))
  }

  test("PERMUTE in ALL ROWS mode classifies rows in consumption order") {
    prepareKindView()
    val out = MatchRecognize.sql(spark,
      """SELECT * FROM kindev MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts
        |  MEASURES MATCH_NUMBER() AS mn
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (PERMUTE(A, B, C))
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c'
        |)""".stripMargin)
      .collect().filter(_.getInt(0) == 1)
      .map(r => (r.getLong(r.fieldIndex("ts")), r.getString(r.fieldIndex("classifier"))))
      .sortBy(_._1).toSeq
    assert(out == Seq((1L, "B"), (2L, "A"), (3L, "C")))
  }

  test("(A B)+ quantified group through the SQL front-end") {
    prepareKindView()
    val out = MatchRecognize.sql(spark,
      """SELECT * FROM kindev MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts
        |  MEASURES COUNT(A.*) AS n_a, COUNT(B.*) AS n_b
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN ((A B)+)
        |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
        |)""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    // key 3: one A B pair; key 4: the greedy loop takes BOTH pairs
    assert(out == Seq((3, 1L, 1L), (4, 2L, 2L)))
  }

  test("SUBSET union variables aggregate across members in MEASURES") {
    prepareView()
    val out = MatchRecognize.sql(spark,
      """SELECT * FROM billing MATCH_RECOGNIZE (
        |  PARTITION BY id
        |  ORDER BY user_action_time
        |  MEASURES COUNT(U.*) AS n_u, FIRST(U.datetime) AS first_u,
        |           LAST(U.datetime) AS last_u
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
        |  SUBSET U = (A, B)
        |  DEFINE
        |    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        |    B AS B.balanceBefore >= B.balanceAfter,
        |    C AS C.balanceBefore < C.balanceAfter
        |)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq
    // golden key-2 match consumed A + two Bs before C: U = A ∪ B = 3 rows
    assert(out == Seq(("2", 3L, "2020-05-01 11:00:00", "2020-05-01 11:30:00")))
  }

  test("SUBSET validation: unknown members, clashes, DEFINE use rejected") {
    intercept[IllegalArgumentException] {
      MatchRecognize.parseSpec(
        "ORDER BY ts PATTERN (A B) SUBSET U = (A, Z) DEFINE A AS x > 1")
    }
    intercept[IllegalArgumentException] {
      MatchRecognize.parseSpec(
        "ORDER BY ts PATTERN (A B) SUBSET A = (A, B) DEFINE A AS x > 1")
    }
    intercept[IllegalArgumentException] {
      MatchRecognize.parseSpec(
        "ORDER BY ts PATTERN (A B) SUBSET U = (A, B) DEFINE B AS B.x > U.x")
    }
  }

  test("graph pattern + SKIP TO NEXT ROW: overlapping group-loop matches") {
    prepareKindView()
    def q(skipClause: String) = MatchRecognize.sql(spark,
      s"""SELECT * FROM kindev MATCH_RECOGNIZE (
         |  PARTITION BY k ORDER BY ts
         |  MEASURES FIRST(A.ts) AS first_ts, COUNT(A.*) AS n_pairs
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP $skipClause
         |  PATTERN ((A B)+)
         |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
         |)""".stripMargin)
      .filter("k = 4").collect()
      .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    // key 4 = a b a b a: TO NEXT ROW re-anchors at every row — the greedy
    // 2-pair match at ts1 AND the overlapped 1-pair match at ts3
    assert(q("TO NEXT ROW") == Seq((1L, 2L), (3L, 1L)))
    // PAST LAST ROW sees only the maximal first match
    assert(q("PAST LAST ROW") == Seq((1L, 2L)))
    // TO FIRST B resumes at ts2 (no match there), then finds ts3
    assert(q("TO FIRST B") == Seq((1L, 2L), (3L, 1L)))
  }

  test("graph patterns round-trip through the INJECTED parser = library API") {
    // The reference clause set exercised spark.sql() only on the flat
    // golden query; every graph-pattern extension (PERMUTE, alternation,
    // quantified groups, bounded quantifiers, the SKIP modes) must ALSO
    // parse and run identically as SQL text through GraftSqlExtensions —
    // the two front-ends share the lowering, so any drift is a parser-
    // injection bug.
    prepareKindView()
    val statements = Seq(
      "PERMUTE" ->
        """SELECT * FROM kindev MATCH_RECOGNIZE (
          |  PARTITION BY k ORDER BY ts
          |  MEASURES FIRST(A.ts) AS a_ts, FIRST(B.ts) AS b_ts, FIRST(C.ts) AS c_ts
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (PERMUTE(A, B, C))
          |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c'
          |)""".stripMargin,
      "alternation" ->
        """SELECT * FROM kindev MATCH_RECOGNIZE (
          |  PARTITION BY k ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS mn, CLASSIFIER() AS cls
          |  ALL ROWS PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (A (B | C))
          |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c'
          |)""".stripMargin,
      "quantified group" ->
        """SELECT * FROM kindev MATCH_RECOGNIZE (
          |  PARTITION BY k ORDER BY ts
          |  MEASURES COUNT(A.*) AS n_a, COUNT(B.*) AS n_b
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN ((A B)+)
          |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
          |)""".stripMargin,
      "bounded quantifier" ->
        """SELECT * FROM kindev MATCH_RECOGNIZE (
          |  PARTITION BY k ORDER BY ts
          |  MEASURES COUNT(A.*) AS n_a
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (A{1,2} B)
          |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
          |)""".stripMargin,
      "skip to next row" ->
        """SELECT * FROM kindev MATCH_RECOGNIZE (
          |  PARTITION BY k ORDER BY ts
          |  MEASURES COUNT(A.*) AS n_a, COUNT(B.*) AS n_b
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN ((A B)+)
          |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
          |)""".stripMargin,
      "skip to first var" ->
        """SELECT * FROM kindev MATCH_RECOGNIZE (
          |  PARTITION BY k ORDER BY ts
          |  MEASURES FIRST(A.ts) AS a_ts, FIRST(B.ts) AS b_ts
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO FIRST B
          |  PATTERN (A B)
          |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
          |)""".stripMargin,
      "permute + within" ->
        """SELECT * FROM kindev MATCH_RECOGNIZE (
          |  PARTITION BY k ORDER BY ts
          |  MEASURES FIRST(A.ts) AS a_ts, FIRST(B.ts) AS b_ts, FIRST(C.ts) AS c_ts
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (PERMUTE(A, B, C)) WITHIN INTERVAL '1' HOUR
          |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c'
          |)""".stripMargin)
    statements.foreach { case (label, stmt) =>
      val viaParser = spark.sql(stmt).collect().map(_.toString).sorted.toSeq
      val viaApi = MatchRecognize.sql(spark, stmt).collect().map(_.toString).sorted.toSeq
      assert(viaParser.nonEmpty, s"$label: empty result")
      assert(viaParser == viaApi, s"$label: parser != library API")
    }
  }

  test("graph pattern + degenerate skip raises the SQL:2016 runtime error") {
    prepareKindView()
    // TO LAST A on ((A B)+): key 4's second match anchors AT its own last A
    // (single pair, A = first row) — resuming there would loop forever
    val ex = intercept[org.apache.spark.SparkException] {
      MatchRecognize.sql(spark,
        """SELECT * FROM kindev MATCH_RECOGNIZE (
          |  PARTITION BY k ORDER BY ts
          |  MEASURES COUNT(A.*) AS n_pairs
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO LAST A
          |  PATTERN ((A B)+)
          |  DEFINE A AS A.kind = 'a', B AS B.kind = 'b'
          |)""".stripMargin).collect()
    }
    assert(ex.getCause != null &&
      ex.getCause.getMessage.contains("would loop forever"), ex.getMessage)
  }
}

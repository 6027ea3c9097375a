package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Native winnow selection ≡ the built-in-only HOF spelling
  * ([[graft.pipeline.ReferenceSpellings.selectExprOf]]) — the
  * cross-implementation pin every native expression here carries (the ShingleStringsSpec
  * convention): randomized hash arrays with deliberate tie density, both
  * window widths the engine ships (text W=4, video SeqW), plus the
  * boundary cases (exactly-w, under-w, all-equal).
  */
class WinnowSelectSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def both(arrs: Seq[Seq[String]], w: Int): Unit = {
    import spark.implicits._
    val df = arrs.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("id", "hs")
    val native = df.select($"id",
        explode(graft.pipeline.Winnowing.selectOf(w)).as("s"))
      .select($"id", $"s.pos", $"s.fp")
      .collect().map(_.toString).toSeq.sorted
    val hof = df.filter(size($"hs") >= w)
      .select($"id", explode(graft.pipeline.ReferenceSpellings.selectExprOf(w)).as("s"))
      .select($"id", $"s.pos", $"s.fp")
      .collect().map(_.toString).toSeq.sorted
    assert(native == hof, s"native ≠ HOF at w=$w for $arrs")
  }

  test("native ≡ HOF on randomized tie-dense arrays, w = 4 and 3") {
    val rnd = new scala.util.Random(16)
    // small alphabet => frequent ties, exercising the rightmost rule
    val arrs = (0 until 200).map { _ =>
      val n = rnd.nextInt(20)
      (0 until n).map(_ => f"h${rnd.nextInt(6)}%02d")
    }
    both(arrs, 4)
    both(arrs, 3)
  }

  test("boundaries: under-w empty, exactly-w one pick, all-equal rightmost") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("c", "b", "a")), // under w=4: no output
      (2L, Seq("d", "c", "b", "a")), // exactly one window, min at 4
      (3L, Seq("x", "x", "x", "x", "x", "x")) // ties: rightmost per window
    ).toDF("id", "hs")
    val out = df.select($"id",
        explode(graft.pipeline.Winnowing.selectOf(4)).as("s"))
      .select($"id", $"s.pos", $"s.fp")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(!out.exists(_._1 == 1L))
    assert(out.filter(_._1 == 2L) == Seq((2L, 4, "a")))
    // windows [1..4],[2..5],[3..6] of all-equal pick rightmost: 4, 5, 6
    assert(out.filter(_._1 == 3L).map(_._2) == Seq(4, 5, 6))
  }
}

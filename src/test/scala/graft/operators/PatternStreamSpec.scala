package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.events.BillingEvent
import graft.operators.PatternStreamOps._

/** The fluent PatternStream surface must reproduce the golden results. */
class PatternStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("select / flatSelectWithTimeouts reproduce the golden fixtures") {
    import spark.implicits._
    val input = getClass.getResource("/input-data.csv").getPath
    val events = BillingAlerts.readCsv(spark, input)

    val matches = events
      .matchPattern[String](_.id, _.eventTimeMillis, BillingAlerts.pattern, Seq($"datetime"))
      .select((id, m) => (id, m.first("A").get.datetime, m.first("C").get.datetime))
      .collect().toSeq
    assert(matches == Seq(("2", "2020-05-01 11:00:00", "2020-05-01 11:40:00")))

    val tagged = events
      .matchPattern[String](_.id, (_: BillingEvent).eventTimeMillis,
        BillingAlerts.pattern, Seq($"datetime"))
      .flatSelectWithTimeouts[(String, String, String)](
        (id, m) => Some((id, "match", m.first("A").get.datetime)),
        (id, t) => Some((id, "timeout", t.first("A").get.datetime)))
      .collect().toSet
    assert(tagged == Set(
      ("2", "match", "2020-05-01 11:00:00"),
      ("1", "timeout", "2020-05-01 11:00:00")))
  }

  test("Cep.matchPattern keys a Dataset whose data column is named like the key") {
    import spark.implicits._
    // a Dataset[Long] has one column `value`; groupByKey appends its Long
    // key as `value` too, so the data column must be taken back by attribute
    val evs = Seq(1L, 3L, 2L, 5L, 4L, 7L).toDS()
    val pairs = graft.pattern.Pattern
      .begin[Long]("A", graft.pattern.AfterMatchSkip.SkipPastLastEvent).where(_ => true)
      .next("B").where(_ => true)
    val got = Cep.matchPattern[Long, Long, (Long, Long, Long)](
      evs, _ % 2, identity, pairs, Seq($"value"))(
      (k, m) => Some((k, m.first("A").get, m.first("B").get)), (_, _) => None)
      .collect().toSet
    assert(got == Set((1L, 1L, 3L), (1L, 5L, 7L), (0L, 2L, 4L)))
  }
}

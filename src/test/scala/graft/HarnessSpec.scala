package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** [[Harness.warm]] on a fake artifact table (nothing is built on disk) and
  * [[Harness.clear]] on a session holding every kind of cached block. */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def row(name: String, key: Option[String])(body: => Unit) =
    Harness.Artifact(name, key, (_, _) => body)

  test("warm records a failed build, still builds the next row, and sums seconds per key") {
    val built = mutable.ArrayBuffer.empty[String]
    val table = Seq(
      row("a", Some("x_build_sec")) { built += "a"; Thread.sleep(40) },
      row("broken", Some("y_build_sec"))(throw new IllegalStateException("no index")),
      row("b", Some("x_build_sec")) { built += "b"; Thread.sleep(40) },
      row("untimed", None)(built += "untimed"))
    val w = Harness.warm(spark, sf, table)
    assert(built == Seq("a", "b", "untimed"))
    assert(w.failures == Seq("broken" -> "no index"))
    assert(w.seconds.map(_._1) == Seq("x_build_sec", "y_build_sec"))
    val secs = w.seconds.toMap
    assert(secs("x_build_sec") >= 0.08, "both x rows' sleeps are summed")
    assert(secs("y_build_sec") < secs("x_build_sec"))
  }

  test("warm lets a fatal error propagate and builds nothing after it") {
    for (fatal <- Seq[Throwable](new LinkageError("bad class"), new InterruptedException("stop"))) {
      var after = false
      val table = Seq(row("fatal", Some("x_build_sec"))(throw fatal), row("after", None) { after = true })
      val e = intercept[Throwable](Harness.warm(spark, sf, table))
      assert(e eq fatal)
      assert(!after)
    }
  }

  test("clear releases registered caches, materialized checkpoints and stray persisted RDDs") {
    import spark.implicits._
    val df = (1 to 100).toDF("v")
    Caches.cached(df.filter($"v" > 1)).count()
    Caches.materialize(df.filter($"v" > 2))
    df.filter($"v" > 3).cache().count()
    spark.sparkContext.parallelize(1 to 10).persist().count()
    assert(Caches.registered > 0 && Caches.rddSnapshot.nonEmpty)
    Harness.clear(spark)
    assert(Caches.registered == 0)
    assert(Caches.rddSnapshot.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}

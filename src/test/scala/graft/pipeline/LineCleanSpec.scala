package graft.pipeline

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** C4/Gopher line cleaning: per-line rule order (dup → bullet → ellipsis →
  * no-punct → short → kept), the Gopher document gates, the cleaned-text
  * digest, and streaming ≡ batch (the operator is a pure projection).
  */
class LineCleanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def reportOf(rows: (Long, String)*) =
    LineClean.cleanLinesOf(docs(rows: _*)).collect()
      .map(r => r.getLong(0) -> r).toMap

  test("per-line classification: one count per rule, keep-first dedup") {
    val text = Seq(
      "good line one.",   // kept
      "good line two!",   // kept (bang is terminal)
      "good line one.",   // dup of line 1
      "- bullet line.",   // bullet
      "trailing off...",  // ellipsis
      "no punct line",    // no terminal punctuation
      "hi."               // short (1 word < 3)
    ).mkString("\n")
    val r = reportOf((1L, text))(1L)
    assert(r.getLong(1) == 7L, "n_lines")
    assert(r.getLong(2) == 2L, "n_kept")
    assert(r.getLong(3) == 1L, "n_dup")
    assert(r.getLong(4) == 1L, "n_bullet")
    assert(r.getLong(5) == 1L, "n_ellipsis")
    assert(r.getLong(6) == 1L, "n_nopunct")
    assert(r.getLong(7) == 1L, "n_short")
    assert(r.getString(9) == "keep", "verdict")
    // digest = md5 of exactly the kept lines, joined by newline
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest("good line one.\ngood line two!".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r.getString(8) == expect, "clean_digest")
  }

  test("empty / whitespace-only documents: empty line list, zero-line report") {
    import spark.implicits._
    val d = Seq((1L, ""), (2L, "   "), (3L, "alpha beta gamma delta")).toDF("doc_id", "text")
    // the synth path must not crash on zero tokens (sequence(1, 0, 6) —
    // r10 ADVICE) and must produce an EMPTY line list, like the oracle's
    // generate_series(1, 0, 6)
    val synth = LineClean.cleanLinesOf(
      d.select($"doc_id", LineClean.synthLinedText($"doc_id", $"text").as("text")))
      .collect().map(r => r.getLong(0) -> r).toMap
    val emptyMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.emptyByteArray).map("%02x".format(_)).mkString
    Seq(1L, 2L).foreach { id =>
      val r = synth(id)
      assert(r.getLong(1) == 0L, s"doc $id n_lines")
      assert(r.getLong(2) == 0L, s"doc $id n_kept")
      assert(r.getString(8) == emptyMd5, s"doc $id clean_digest")
      assert(r.getString(9) == "drop_few_lines", s"doc $id verdict")
    }
    assert(synth(3L).getLong(1) == 1L, "non-empty doc still synthesizes lines")
  }

  test("question and quote terminators keep; Gopher gates drop documents") {
    val r = reportOf(
      (1L, "is this kept?\nhe said \"sure.\"\nthird fine line."),
      (2L, "a b c.\na b c.\na b c."),      // 2/3 dup > 30% → dup gate
      (3L, "x y z\nq r s"))                // nothing kept → few-lines gate
    assert(r(1L).getLong(2) == 3L && r(1L).getString(9) == "keep")
    assert(r(2L).getString(9) == "drop_dup_lines")
    assert(r(3L).getString(9) == "drop_few_lines")
  }

  test("a dup of a bullet line still counts as dup (rule order)") {
    val r = reportOf((1L, "- bul line.\n- bul line.\nreal kept line.\nsecond kept line."))(1L)
    assert(r.getLong(3) == 1L, "n_dup")    // second bullet is a dup first
    assert(r.getLong(4) == 1L, "n_bullet") // only the first is 'bullet'
  }

  test("streaming ≡ batch: the cleaner is a pure per-row projection") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", LineClean.synthLinedText($"doc_id", $"text").as("text"))
      .as[(Long, String)].collect().toIndexedSeq
    val mem = MemoryStream[(Long, String)]
    val q = LineClean.cleanLinesOf(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("lc_stream")
      .outputMode("append").start()
    rows.grouped(rows.length / 3 + 1).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("lc_stream").collect().map(_.toSeq).toSet
    val want = LineClean.cleanLinesOf(docs(rows: _*)).collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("random lined documents: one report row each, per-reason counts " +
    "sum to n_lines, verdicts mixed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 500 documents of 12..71 words over a 32-word vocabulary, split into
    // lines by the engine's synthetic line breaker
    val n = 500L
    val vocab = array((0 until 32).map(i => lit(s"w$i")): _*)
    val raw = spark.range(n).select($"id".as("doc_id"),
      concat_ws(" ", transform(
        sequence(lit(1), (lit(12) + pmod(xxhash64($"id" * 7 + 1), lit(60L))).cast("int")),
        i => element_at(vocab,
          (pmod(xxhash64($"id" * 31 + i.cast("long") * 13 + 11), lit(32L)) + 1)
            .cast("int")))).as("text"))
    val (rows, broken, kept) = LineClean.cleanLinesOf(
        raw.select($"doc_id", LineClean.synthLinedText($"doc_id", $"text").as("text")))
      .agg(count(lit(1)),
        sum(when($"n_kept" + $"n_dup" + $"n_bullet" + $"n_ellipsis" +
          $"n_nopunct" + $"n_short" =!= $"n_lines", 1L).otherwise(0L)),
        sum(when($"verdict" === "keep", 1L).otherwise(0L)))
      .as[(Long, Long, Long)].head()
    assert(rows == n && broken == 0L, s"accounting broke: $rows rows, $broken off")
    assert(kept > 0L && kept < n, s"degenerate verdicts: $kept of $n kept")
  }
}

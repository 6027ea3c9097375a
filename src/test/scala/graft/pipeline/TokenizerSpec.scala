package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** BPE pair counting against a hand-computed fixture (the declared query is
  * oracle-gated at sf0.01; this pins the word-count weighting and the
  * deterministic ranking independently).
  */
class TokenizerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("pair counts are word-frequency weighted with deterministic ranking") {
    import spark.implicits._
    // corpus: "ab ab cd" + "ab xx" → words: ab×3, cd×1, xx×1
    // pairs: (a,b)=3, (c,d)=1, (x,x)=1 → ranks: (a,b), (c,d), (x,x)
    val docs = Seq("ab ab cd", "ab xx").toDF("text")
    val got = Tokenizer.bpePairsOf(spark, docs)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, "a", "b", 3L), (2, "c", "d", 1L), (3, "x", "x", 1L)))
  }

  test("single-char and mixed-case words fold correctly") {
    import spark.implicits._
    // "A a" lowercases to a×2 (no pairs); "abc" has (a,b) and (b,c)
    val docs = Seq("A a abc").toDF("text")
    val got = Tokenizer.bpePairsOf(spark, docs)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(("a", "b", 1L), ("b", "c", 1L)))
  }

  // ------------------------------------------------------------ BPE train+encode

  test("bpeTrain reproduces the classic hand-derived merge sequence") {
    // Sennrich-style fixture: low×3, lower×2, newest×1
    //  round 1: (l,o)=5 ties (o,w)=5 → pair asc picks (l,o)
    //  round 2: (lo,w)=5
    //  round 3: (low,e)=2 ties (e,r)=2 → "e" < "low" picks (e,r)
    //  round 4: (low,er)=2
    val vocab = Seq(("low", 3L), ("lower", 2L), ("newest", 1L))
    val got = Tokenizer.bpeTrain(vocab, 4)
    assert(got == Seq(
      ("l", "o", 5L), ("lo", "w", 5L), ("e", "r", 2L), ("low", "er", 2L)))
  }

  test("bpeTrain pads with sentinel merges once pairs are exhausted") {
    // "ab"×1: round 1 merges (a,b); rounds 2-3 have no pairs left
    val got = Tokenizer.bpeTrain(Seq(("ab", 1L)), 3)
    assert(got == Seq(
      ("a", "b", 1L),
      (Tokenizer.Sentinel, Tokenizer.Sentinel, 0L),
      (Tokenizer.Sentinel, Tokenizer.Sentinel, 0L)))
  }

  test("greedy left-to-right merge is non-overlapping") {
    // "aaa": (a,a)=2 → merge once greedily: [aa, a]; round 2 pairs:
    // (aa,a)=1 → [aaa]
    val got = Tokenizer.bpeTrain(Seq(("aaa", 1L)), 2)
    assert(got == Seq(("a", "a", 2L), ("aa", "a", 1L)))
  }

  test("BpeApply equals the replace-chain spelling and the driver trainer on the corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
    val (merges, words) = Tokenizer.bpeModelOf(spark, docs)
    val model = merges.map { case (a, b, _) => (a, b) }
    val both = words.select(
      $"word",
      graft.functions.BpeApply($"word", model).as("native"),
      ReferenceSpellings.bpeApplyHof($"word", model).as("hof"))
    assert(both.filter(not($"native" <=> $"hof")).count() == 0)
    // and the distributed apply agrees with the driver-side trainer's own
    // final segmentation on every trained word
    val trained = words.orderBy($"wcnt".desc, $"word").limit(Tokenizer.VocabCap)
      .collect().map(_.getString(0)).toSeq
    val applied = both.filter($"word".isin(trained: _*))
      .select($"word", $"native").as[(String, Seq[String])].collect().toMap
    trained.foreach { w =>
      var syms: Seq[String] = w.map(_.toString)
      model.foreach { case (a, b) =>
        val nb = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            nb += (a + b); i += 2
          } else { nb += syms(i); i += 1 }
        }
        syms = nb.toSeq
      }
      assert(applied(w) == syms, s"word $w")
    }
    words.unpersist()
  }

  test("bpeEncode conserves corpus symbol mass") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
    val enc = Tokenizer.bpeEncode(spark, "/root/testdata/sf0.001")
      .as[(Int, String, Long)].collect()
    assert(enc.nonEmpty && enc.forall(_._2.nonEmpty))
    // Σ (token occurrences × token length in chars) = total corpus chars
    // across all words — merging never creates or destroys characters
    val totalChars = docs
      .select(explode(Hashing.tokens(lower($"text"))).as("w"))
      .agg(sum(length($"w"))).as[Long].head()
    val encChars = enc.map { case (_, t, n) => t.length.toLong * n }.sum
    assert(encChars == totalChars)
    // tids are dense from 1 in (n desc, token) order
    assert(enc.map(_._1).toSeq == (1 to enc.length))
    // per-doc token counts are the same mass, sliced per document
    val docTotal = Tokenizer.bpeDocTokens(spark, "/root/testdata/sf0.001")
      .agg(sum($"n_tokens")).as[Long].head()
    assert(docTotal == enc.map(_._3).sum)
  }

  test("unigram segmentation: longest-piece-first priority claiming, " +
    "left-to-right non-overlap, single-char residue") {
    // pieces in priority order: "abc" claims first, "ab" only what's left
    assert(Tokenizer.segmentWith("abcab", Seq("abc", "ab")) == Seq("abc", "ab"))
    // an earlier claim blocks a later overlapping piece
    assert(Tokenizer.segmentWith("abcd", Seq("bc", "cd")) ==
      Seq("a", "bc", "d"))
    // non-overlapping left-to-right within one piece's pass: "aaa" with
    // piece "aa" claims positions 1-2, leaving a single residue char
    assert(Tokenizer.segmentWith("aaa", Seq("aa")) == Seq("aa", "a"))
    // no pieces → all singles
    assert(Tokenizer.segmentWith("xy", Seq.empty) == Seq("x", "y"))
  }

  test("unigram trainer: substring seeding counts overlaps; usage prune " +
    "keeps the emitted pieces; model is priority-ordered") {
    // "banana" has "an"×2 + "na"×2 (overlap-counted "ana"×2 too)
    val model = Tokenizer.unigramTrain(Seq(("banana", 10L), ("band", 5L)))
    assert(model.nonEmpty)
    // priority order: length desc, usage desc, piece asc — verify sorted
    val key = model.map { case (p, n) => (-p.length, -n, p) }
    assert(key == key.sorted, s"model not in priority order: $model")
    // every model piece actually appears in the training words
    assert(model.forall { case (p, _) =>
      "banana".contains(p) || "band".contains(p) })
    // usage is word-count-weighted: a piece appearing once in each word
    // has usage ≥ 5 (band's count) when emitted from both
    assert(model.forall(_._2 > 0))
  }

  test("unigramApplyHof ≡ driver-side segmentWith on the trained model " +
    "over the real vocab") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
    val (model, words) = Tokenizer.unigramModelOf(spark, docs)
    val pieces = model.map(_._1)
    val rows = words.select($"word",
        Tokenizer.unigramApplyHof($"word", pieces).as("toks"))
      .as[(String, Seq[String])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (w, toks) =>
      assert(toks == Tokenizer.segmentWith(w, pieces), s"word $w")
      // segmentation conserves characters
      assert(toks.map(_.length).sum == w.length, s"mass for $w")
    }
    words.unpersist()
  }

  test("unigram declared queries: dense ranks, model pieces multi-char, " +
    "encode conserves corpus symbol mass") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val v = Tokenizer.unigramVocab(spark, "/root/testdata/sf0.001")
      .as[(Int, String, Long)].collect()
    assert(v.nonEmpty && v.map(_._1).toSeq == (1 to v.length))
    assert(v.forall(_._2.length >= 2), "residue singles never enter the model")
    val enc = Tokenizer.unigramEncode(spark, "/root/testdata/sf0.001")
      .as[(Int, String, Long)].collect()
    val docs = graft.sources.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
    val totalChars = docs
      .select(explode(Hashing.tokens(lower($"text"))).as("w"))
      .agg(sum(length($"w"))).as[Long].head()
    assert(enc.map { case (_, t, n) => t.length.toLong * n }.sum == totalChars)
  }

  test("trained-tokenizer artifacts serve the inline trainers' exact " +
    "models (r16: bpem/unim parity)") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    // BPE: the served (merges, vocab) must be bit-identical to the inline
    // reference spelling — the parity that makes moving training out of
    // the timed region an optimization, not a semantic change
    val (mServed, vServed) = Tokenizer.corpusBpeModel(spark, sf)
    val (mInline, vInline) = Tokenizer.bpeModelOf(spark, docs)
    assert(mServed == mInline)
    assert(vServed.as[(String, Long)].collect().sorted.toSeq ==
      vInline.as[(String, Long)].collect().sorted.toSeq)
    // unigram twin
    val (uServed, uvServed) = Tokenizer.corpusUnigramModel(spark, sf)
    val (uInline, uvInline) = Tokenizer.unigramModelOf(spark, docs)
    assert(uServed == uInline)
    assert(uvServed.as[(String, Long)].collect().sorted.toSeq ==
      uvInline.as[(String, Long)].collect().sorted.toSeq)
    assert(mServed.nonEmpty && uServed.nonEmpty && vServed.count() > 0)
  }
}

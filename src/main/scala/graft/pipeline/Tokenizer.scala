package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import Hashing._

/** Tokenizer-training corpus statistics — the BPE merge-selection primitive
  * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
  * Subword Units"): rank adjacent symbol pairs by corpus frequency; the
  * top pair is the next merge rule.
  *
  * The at-scale shape is the classic BPE trainer optimization, distributed:
  * the corpus FIRST collapses to `(word, count)` — the only corpus-sized
  * shuffle, output bounded by vocabulary size — and all pair statistics are
  * then computed over the vocabulary weighted by word count. A 100 TB
  * corpus has a vocab many orders of magnitude smaller than its token
  * stream, so per-merge-iteration work after the one collapse is
  * vocab-sized, not corpus-sized (re-segmentation per merge operates on the
  * word list, never re-reading the corpus). The pair table itself is
  * alphabet²-bounded — tiny — so its ranking window is a legitimate
  * single-partition stage (pinned in `PlanAuditSpec`).
  */
object Tokenizer {

  /** Merge-candidate head size. */
  val TopPairs = 50

  /** Top [[TopPairs]] adjacent character pairs by corpus frequency
    * (frequency = Σ word-count over words containing the pair at each
    * position), with deterministic (count desc, pair) ranking. */
  def bpePairs(s: SparkSession, dir: String): DataFrame =
    bpePairsOf(s, Tables.table(s, dir, "documents"))

  /** [[bpePairs]] over any `(text)` table — fixture / probe entry point. */
  def bpePairsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    // corpus → vocabulary: the ONLY corpus-sized shuffle
    val words = docs
      .select(explode(tokens(lower($"text"))).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("wcnt"))
    // vocab-sized: per-position char pairs weighted by word count
    val pairs = words
      .filter(length($"word") >= 2)
      .select($"wcnt", explode(expr(
        "transform(sequence(1, length(word) - 1), i -> " +
          "named_struct('a', substring(word, i, 1), 'b', substring(word, i + 1, 1)))"))
        .as("p"))
      .groupBy($"p.a".as("a"), $"p.b".as("b"))
      .agg(sum($"wcnt").as("n"))
    // alphabet²-bounded ranking (≤ |charset|² rows)
    pairs
      .withColumn("rnk", row_number().over(Window.orderBy($"n".desc, $"a", $"b")))
      .filter($"rnk" <= TopPairs)
      .select($"rnk", $"a", $"b", $"n")
      .orderBy($"rnk")
  }

  // ---------------------------------------------------------------- BPE
  // train + encode: beyond pair statistics, the engine learns an ordered
  // merge list and APPLIES it — the tokenizer every downstream token count
  // (mixture budgets, packing) ultimately wants.

  /** Learned merges (applied in this order). */
  val NMerges = 16

  /** Training-vocabulary cap: merges are learned from the top [[VocabCap]]
    * words by (count desc, word) — the standard frequency-truncated
    * training vocabulary. At 100 TB the corpus collapses to a vocab ONCE
    * (the only corpus-sized shuffle), the capped head is collected to the
    * driver (bounded by construction — it IS the trainer's working set,
    * and the resulting merge list is the model), and encoding streams the
    * model back through a codegen'd expression. Encoding always covers the
    * FULL vocabulary; the cap only bounds what the trainer counts. */
  val VocabCap = 4000

  /** Output head of [[bpeEncode]] (token space is merge-bounded; the cap
    * only guards a degenerate charset). */
  val EncodeTop = 200

  /** Sentinel merge emitted once the pair table is exhausted (never matches
    * real text, so applying it is a no-op) — keeps the merge list a fixed
    * [[NMerges]] rows in both engines. */
  val Sentinel = "\u0001"

  /** Classic BPE trainer over a `(word, count)` vocabulary: [[nMerges]]
    * rounds of (count adjacent symbol pairs weighted by word count) →
    * (pick max by count desc, pair asc) → (greedy left-to-right rewrite).
    * Pure driver-side Scala — the input is the capped vocabulary, the
    * output is the model. */
  private[graft] def bpeTrain(
      vocab: Seq[(String, Long)], nMerges: Int): Seq[(String, String, Long)] = {
    val words = vocab.map { case (w, c) =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val l = Character.charCount(w.codePointAt(i))
        buf += w.substring(i, i + l)
        i += l
      }
      (buf, c)
    }
    val out = Seq.newBuilder[(String, String, Long)]
    var step = 0
    while (step < nMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (sy, c) =>
        var j = 0
        while (j + 1 < sy.length) {
          val k = (sy(j), sy(j + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          j += 1
        }
      }
      val pick =
        if (counts.isEmpty) (Sentinel, Sentinel, 0L)
        else {
          val ((a, b), n) = counts.minBy { case ((a, b), n) => (-n, a, b) }
          (a, b, n)
        }
      out += pick
      if (pick._3 > 0) words.foreach { case (sy, _) =>
        var r = 0
        var w = 0
        while (r < sy.length) {
          if (r + 1 < sy.length && sy(r) == pick._1 && sy(r + 1) == pick._2) {
            sy(w) = pick._1 + pick._2
            r += 2
          } else {
            sy(w) = sy(r)
            r += 1
          }
          w += 1
        }
        sy.dropRightInPlace(sy.length - w)
      }
      step += 1
    }
    out.result()
  }

  /** Train on `docs`: one corpus→vocab collapse, collect the capped head,
    * run [[bpeTrain]]. Returns (merge list, FULL cached vocab DF). */
  private[graft] def bpeModelOf(
      s: SparkSession, docs: DataFrame): (Seq[(String, String, Long)], DataFrame) = {
    import s.implicits._
    val words = docs
      .select(explode(tokens(lower($"text"))).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("wcnt"))
      .cache() // two consumers: the capped collect + the full-vocab encode
    val capped = words.orderBy($"wcnt".desc, $"word").limit(VocabCap)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    (bpeTrain(capped, NMerges), words)
  }

  /** Declared query: the learned merge list itself `(rnk, a, b, n)` — the
    * model as a first-class, oracle-checkable output (the oracle REPLAYS
    * training as [[NMerges]] unrolled CTE rounds, the same pattern as the
    * IVF k-means oracle). */
  def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (merges, _) = bpeModelOf(s, Tables.table(s, dir, "documents"))
    merges.zipWithIndex
      .map { case ((a, b, n), i) => (i + 1, a, b, n) }
      .toDF("rnk", "a", "b", "n")
      .orderBy($"rnk")
  }

  /** Persisted TRAINED-BPE artifact (IndexStore variant "bpem", r16) —
    * the `clfw` frozen-weights precedent applied to the tokenizer: the
    * model (ordered merge list + the full training vocab with counts) is
    * a pure function of the corpus snapshot, exactly like the classifier
    * weights and the IVF centroids, so it trains ONCE per snapshot and
    * every serving consumer ([[bpeEncode]], [[bpeDocTokens]],
    * [[bpeFertility]] — and the pack/mixture budgets built on them)
    * reopens the tiny model parquet + vocab parquet instead of replaying
    * the corpus→vocab collapse + driver merge training at plan-build
    * time. [[bpeMerges]] — the declared model query — stays the inline
    * TRAINING query: it measures training itself (the
    * `q_text_classifier_fit` convention). Fingerprint-keyed (a mutated
    * corpus retrains); build cost emitted untimed as `tok_build_sec`. */
  private[pipeline] def corpusBpeModel(
      s: SparkSession, dir: String): (Seq[(String, String, Long)], DataFrame) = {
    import s.implicits._
    val p = IndexStore.getOrBuild(s, dir, "documents", "bpem") { out =>
      val (merges, words) = bpeModelOf(s, Tables.table(s, dir, "documents"))
      merges.zipWithIndex
        .map { case ((a, b, n), i) => (i + 1, a, b, n) }
        .toDF("rnk", "a", "b", "n").coalesce(1)
        .write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(out, "m").toString)
      words.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(out, "v").toString)
      words.unpersist()
    }
    val merges = Tables
      .parquet(s, new org.apache.hadoop.fs.Path(p, "m").toString)
      .orderBy($"rnk").collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
        r.getAs[Long]("n"))).toSeq
    (merges, Tables.parquet(s, new org.apache.hadoop.fs.Path(p, "v").toString))
  }

  /** Ensure both trained-tokenizer artifacts exist — the bench's untimed
    * train hook (the `Dedup.trainIndex` / `trainClassifier` convention). */
  def trainTokenizers(s: SparkSession, dir: String): Unit = {
    corpusBpeModel(s, dir)
    corpusUnigramModel(s, dir)
    ()
  }

  /** Declared query: ENCODE the corpus with the learned merges — subword-
    * token corpus frequencies `(tid, token, n)`. The apply step is the
    * codegen'd [[graft.functions.BpeApply]] over the full vocabulary
    * (vocab-sized, never corpus-sized: occurrences weight by word count),
    * so the only corpus-sized work remains the initial collapse — and the
    * model+vocab are served from the [[corpusBpeModel]] snapshot artifact
    * (r16). */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (merges, words) = corpusBpeModel(s, dir)
    val model = merges.map { case (a, b, _) => (a, b) }
    words
      .select($"wcnt",
        explode(graft.functions.BpeApply($"word", model)).as("token"))
      .groupBy($"token").agg(sum($"wcnt").as("n"))
      .withColumn("tid", row_number().over(Window.orderBy($"n".desc, $"token")))
      .filter($"tid" <= EncodeTop)
      .select($"tid", $"token", $"n")
      .orderBy($"tid")
  }

  /** Declared query: per-document REAL token counts under the learned
    * merges — the number every downstream budget (mixture, packing)
    * actually wants instead of whitespace-token approximations. The corpus
    * explodes to words and joins the BROADCAST vocab-sized per-word token
    * counts (BPE applies once per vocab word, not once per occurrence —
    * the amortization that matters when a 100 TB corpus repeats a ~100M-
    * word vocabulary billions of times). */
  def bpeDocTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.table(s, dir, "documents")
    val (merges, words) = corpusBpeModel(s, dir)
    val model = merges.map { case (a, b, _) => (a, b) }
    val perWord = words.select($"word",
      size(graft.functions.BpeApply($"word", model)).as("n_tok"))
    docs.select($"doc_id", explode(tokens(lower($"text"))).as("word"))
      .join(broadcast(perWord), Seq("word"))
      .groupBy($"doc_id").agg(sum($"n_tok").as("n_tokens"))
      .orderBy($"doc_id")
  }

  /** DuckDB: vocabulary + padded-symbol segmentation CTEs (`v`, `w0`). */
  private def duckVocabCtes: String =
    s"""v AS MATERIALIZED (SELECT word, count(*) AS wcnt FROM
       |    (SELECT unnest(${duckTokens("lower(text)")}) AS word FROM documents)
       |  GROUP BY word),
       |w0 AS MATERIALIZED (SELECT word, wcnt,
       |    row_number() OVER (ORDER BY wcnt DESC, word) <= $VocabCap AS cap,
       |    regexp_replace(word, '(.)', ' \\1 ', 'g') AS seg
       |  FROM v)""".stripMargin

  /** DuckDB: one unrolled training round `i` — pair stats over the capped
    * vocab (`p`), deterministic pick (`k`), sentinel-guarded pick (`g`),
    * rewritten segmentation (`w`). Mirrors [[bpeTrain]] exactly. */
  private def duckMergeIter(i: Int): String =
    s"""p$i AS MATERIALIZED (SELECT pr[1] AS a, pr[2] AS b, CAST(sum(wcnt) AS BIGINT) AS n FROM
       |    (SELECT wcnt, unnest(list_transform(generate_series(1, len(sy) - 1),
       |        j -> [sy[j], sy[j + 1]])) AS pr
       |      FROM (SELECT wcnt, string_split(trim(seg), '  ') AS sy
       |            FROM w${i - 1} WHERE cap)
       |      WHERE len(sy) >= 2)
       |  GROUP BY 1, 2),
       |k$i AS (SELECT a, b, n FROM
       |    (SELECT a, b, n, row_number() OVER (ORDER BY n DESC, a, b) AS rn FROM p$i)
       |  WHERE rn = 1),
       |g$i AS MATERIALIZED (SELECT coalesce(k.a, chr(1)) AS a, coalesce(k.b, chr(1)) AS b,
       |    coalesce(k.n, CAST(0 AS BIGINT)) AS n
       |  FROM (SELECT 1 AS one) o LEFT JOIN k$i k ON true),
       |w$i AS MATERIALIZED (SELECT w.word, w.wcnt, w.cap,
       |    replace(w.seg, ' ' || g.a || '  ' || g.b || ' ',
       |      ' ' || g.a || g.b || ' ') AS seg
       |  FROM w${i - 1} w CROSS JOIN g$i g)""".stripMargin

  private def duckTrainCtes: String =
    (duckVocabCtes +: (1 to NMerges).map(duckMergeIter)).mkString(",\n")

  /** TOKENIZER FERTILITY per source — BPE tokens emitted per whitespace
    * word, in exact milli-units (r11): the standard tokenizer-fit
    * diagnostic of a pretraining mixture (Rust et al. 2021): a source
    * whose fertility runs hot relative to the rest is one the merge
    * vocabulary underfits (wrong language/domain), which inflates its
    * effective token cost in every downstream budget (`q_mixture_bpe`,
    * `q_text_pack_bpe`). Rides the trained merge list unchanged: the
    * vocab-bounded per-word token counts broadcast onto one token
    * explode, reduced per source — no new corpus-sized work beyond the
    * explode every BPE consumer already pays. */
  def bpeFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.table(s, dir, "documents")
    val (merges, words) = corpusBpeModel(s, dir)
    val model = merges.map { case (a, b, _) => (a, b) }
    val perWord = words.select($"word",
      size(graft.functions.BpeApply($"word", model)).as("n_tok"))
    docs.select($"source", explode(tokens(lower($"text"))).as("word"))
      .join(broadcast(perWord), Seq("word"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_words"), sum($"n_tok").as("n_tokens"))
      .withColumn("fertility_milli", expr("(n_tokens * 1000) div n_words"))
      .orderBy($"source")
  }

  // ------------------------------------------------------------ Unigram
  // SentencePiece-SHAPED trainer beside BPE (Kudo 2018, arXiv:1804.10959
  // — the r13 verdict's last tokenizer gap): the pipeline SHAPE is
  // SentencePiece's (substring-seeded candidate vocab → segment the
  // training vocabulary → usage-prune to the target size → re-segment
  // with the final model), but Kudo's EM/Viterbi float-likelihood
  // objective is replaced by an EXACT-INTEGER deterministic one —
  // longest-piece-first priority segmentation with (length desc, usage
  // desc, piece asc) order — the same determinism trade this engine makes
  // everywhere floats would make two engines disagree (integer micro-rank
  // PageRank, basis-point modularity). Segmentation is a fixed chain of
  // non-overlapping left-to-right `replace` passes over the padded-symbol
  // spelling (the padded-symbol `replace` trick of the BPE reference
  // spelling generalized to n-char pieces), so
  // the DuckDB oracle replays training AND encoding exactly.
  //
  // At-scale shape: identical to BPE — ONE corpus→vocab collapse, the
  // capped head collected (it IS the trainer's working set), the learned
  // piece list streamed back as a literal replace chain over the
  // vocab-sized word table, occurrences weighted by word count.

  /** Max candidate piece length (chars). */
  val MaxPieceLen = 4

  /** Seed-candidate vocabulary size (top substrings by corpus frequency). */
  val SeedTop = 40

  /** Final model size after the usage prune. */
  val UnigramVocabSize = 20

  /** Code-point split — the [[bpeTrain]] convention: Spark's
    * `regexp_replace(word, "(.)", ...)` and DuckDB's regex/substr/length
    * all treat a supplementary character as ONE symbol, so the driver side
    * must too or a non-BMP corpus word breaks every pinned equivalence. */
  private def codePoints(w: String): Vector[String] = {
    val buf = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val l = Character.charCount(w.codePointAt(i))
      buf += w.substring(i, i + l)
      i += l
    }
    buf.result()
  }

  /** `"abc"` → `" a  b  c "` — each code point wrapped in its own spaces,
    * the padded-symbol spelling whose double-space boundaries make chained
    * `replace`s equal greedy left-to-right claiming. */
  private def paddedPiece(p: String): String =
    codePoints(p).map(c => s" $c ").mkString

  /** Segment `w` by piece-priority claiming: pieces applied in list order,
    * each claiming every still-unclaimed non-overlapping occurrence
    * left-to-right; the residue stays single characters. Bit-identical to
    * the SQL `replace` chain the oracle runs. */
  private[graft] def segmentWith(w: String, pieces: Seq[String]): Seq[String] = {
    var s = paddedPiece(w)
    pieces.foreach(p => s = s.replace(paddedPiece(p), s" $p "))
    scala.collection.immutable.ArraySeq.unsafeWrapArray(s.trim.split("  "))
  }

  /** The trainer (driver-side over the capped vocabulary, the [[bpeTrain]]
    * convention): substring seeding (overlap-counted, lengths
    * 2..[[MaxPieceLen]], top [[SeedTop]] by (freq desc, piece)) → seed
    * segmentation in (length desc, freq desc, piece) priority → usage
    * counts of emitted multi-char tokens → prune to [[UnigramVocabSize]]
    * by (usage desc, piece). Returns the final model in APPLICATION
    * (priority) order as `(piece, usage)`. */
  private[graft] def unigramTrain(vocab: Seq[(String, Long)]): Seq[(String, Long)] = {
    val freq = scala.collection.mutable.Map.empty[String, Long]
    vocab.foreach { case (w, c) =>
      // lengths and substrings in CODE POINTS ([[codePoints]] — the
      // oracle's substr/length are code-point-based)
      val cp = codePoints(w)
      var l = 2
      while (l <= MaxPieceLen) {
        var i = 0
        while (i + l <= cp.length) {
          val p = cp.slice(i, i + l).mkString
          freq(p) = freq.getOrElse(p, 0L) + c
          i += 1
        }
        l += 1
      }
    }
    // piece LENGTH in code points everywhere a length orders or filters —
    // matching the oracle's length()
    def cpLen(p: String): Int = p.codePointCount(0, p.length)
    val seedApp = freq.toSeq.sortBy { case (p, n) => (-n, p) }.take(SeedTop)
      .sortBy { case (p, n) => (-cpLen(p), -n, p) }.map(_._1)
    val usage = scala.collection.mutable.Map.empty[String, Long]
    vocab.foreach { case (w, c) =>
      segmentWith(w, seedApp).foreach { t =>
        if (cpLen(t) > 1) usage(t) = usage.getOrElse(t, 0L) + c
      }
    }
    usage.toSeq.sortBy { case (p, n) => (-n, p) }.take(UnigramVocabSize)
      .sortBy { case (p, n) => (-cpLen(p), -n, p) }
  }

  /** Train on `docs`: one corpus→vocab collapse, collect the capped head,
    * run [[unigramTrain]]. Returns (model in priority order, full vocab). */
  private[graft] def unigramModelOf(
      s: SparkSession, docs: DataFrame): (Seq[(String, Long)], DataFrame) = {
    import s.implicits._
    val words = docs
      .select(explode(tokens(lower($"text"))).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("wcnt"))
      .cache() // the capped collect + the full-vocab encode
    val capped = words.orderBy($"wcnt".desc, $"word").limit(VocabCap)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    (unigramTrain(capped), words)
  }

  /** Apply a trained piece list: the literal `replace` chain over the
    * padded spelling — builtin-only, codegen'd, vocab-sized work. */
  private[graft] def unigramApplyHof(word: Column, pieces: Seq[String]): Column = {
    val seg0 = regexp_replace(word, "(.)", " $1 ")
    val segN = pieces.foldLeft(seg0)((sg, p) =>
      replace(sg, lit(paddedPiece(p)), lit(s" $p ")))
    split(trim(segN), "  ")
  }

  /** Declared query: the learned unigram model `(rnk, piece, usage)` in
    * priority order — the model as a first-class oracle-checkable output
    * (the oracle replays seeding, [[SeedTop]] segmentation rounds, and the
    * prune as unrolled CTEs). */
  def unigramVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (model, _) = unigramModelOf(s, Tables.table(s, dir, "documents"))
    model.zipWithIndex
      .map { case ((p, n), i) => (i + 1, p, n) }
      .toDF("rnk", "piece", "usage")
      .orderBy($"rnk")
  }

  /** Persisted TRAINED-UNIGRAM artifact (IndexStore variant "unim", r16)
    * — [[corpusBpeModel]]'s twin: priority-ordered piece list + the full
    * training vocab, trained once per corpus snapshot and reopened by
    * every serving consumer ([[unigramEncode]], [[unigramDocTokens]] and
    * the pack budget on top). [[unigramVocab]] — the declared model
    * query — stays the inline training query. */
  private[pipeline] def corpusUnigramModel(
      s: SparkSession, dir: String): (Seq[(String, Long)], DataFrame) = {
    import s.implicits._
    val p = IndexStore.getOrBuild(s, dir, "documents", "unim") { out =>
      val (model, words) = unigramModelOf(s, Tables.table(s, dir, "documents"))
      model.zipWithIndex
        .map { case ((piece, n), i) => (i + 1, piece, n) }
        .toDF("rnk", "piece", "usage").coalesce(1)
        .write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(out, "m").toString)
      words.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(out, "v").toString)
      words.unpersist()
    }
    val model = Tables
      .parquet(s, new org.apache.hadoop.fs.Path(p, "m").toString)
      .orderBy($"rnk").collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("usage"))).toSeq
    (model, Tables.parquet(s, new org.apache.hadoop.fs.Path(p, "v").toString))
  }

  /** Declared query: ENCODE the corpus with the learned unigram model —
    * subword-token corpus frequencies `(tid, token, n)` including the
    * single-char residue, top [[EncodeTop]]; model+vocab served from the
    * [[corpusUnigramModel]] snapshot artifact (r16). */
  def unigramEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (model, words) = corpusUnigramModel(s, dir)
    words
      .select($"wcnt",
        explode(unigramApplyHof($"word", model.map(_._1))).as("token"))
      .groupBy($"token").agg(sum($"wcnt").as("n"))
      .withColumn("tid", row_number().over(Window.orderBy($"n".desc, $"token")))
      .filter($"tid" <= EncodeTop)
      .select($"tid", $"token", $"n")
      .orderBy($"tid")
  }

  /** Declared query: per-document REAL token counts under the learned
    * UNIGRAM model — the [[bpeDocTokens]] twin, so every downstream token
    * budget (mixture, packing) can run on either trained tokenizer. Same
    * amortization: the model applies once per VOCAB word (broadcast
    * per-word counts onto one corpus explode), never once per
    * occurrence. */
  def unigramDocTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.table(s, dir, "documents")
    val (model, words) = corpusUnigramModel(s, dir)
    val perWord = words.select($"word",
      size(unigramApplyHof($"word", model.map(_._1))).as("n_tok"))
    docs.select($"doc_id", explode(tokens(lower($"text"))).as("word"))
      .join(broadcast(perWord), Seq("word"))
      .groupBy($"doc_id").agg(sum($"n_tok").as("n_tokens"))
      .orderBy($"doc_id")
  }

  /** DuckDB: seed selection + one segmentation round per seed piece over
    * the capped vocab, ending in `usage` + the final model `finapp`. */
  private def duckUnigramTrainCtes: String = {
    val seedRounds = (1 to SeedTop).map { k =>
      // rank-k seed piece (sentinel chr(1) pattern when absent — a padded
      // single control char can never match a padded word)
      s"""sp$k AS (SELECT
         |    coalesce(regexp_replace(s.piece, '(.)', ' \\1 ', 'g'),
         |      ' ' || chr(1) || ' ') AS pat,
         |    coalesce(' ' || s.piece || ' ', ' ' || chr(1) || ' ') AS rep
         |  FROM (SELECT 1 AS one) o LEFT JOIN
         |    (SELECT piece FROM seedapp WHERE rnk = $k) s ON true),
         |u$k AS MATERIALIZED (SELECT word, wcnt,
         |    replace(u.seg, p.pat, p.rep) AS seg
         |  FROM u${k - 1} u CROSS JOIN sp$k p)""".stripMargin
    }.mkString(",\n")
    s"""$duckVocabCtes,
       |sub0 AS (SELECT wcnt, unnest(list_transform(
       |      generate_series(1, length(word) - l + 1),
       |      i -> substr(word, i, l))) AS piece
       |  FROM (SELECT word, wcnt FROM w0 WHERE cap)
       |  CROSS JOIN (SELECT unnest([${(2 to MaxPieceLen).mkString(",")}]) AS l)
       |  WHERE length(word) >= l),
       |sf AS MATERIALIZED (SELECT piece, CAST(sum(wcnt) AS BIGINT) AS n
       |  FROM sub0 GROUP BY piece),
       |seedsel AS (SELECT piece, n FROM (SELECT piece, n,
       |    row_number() OVER (ORDER BY n DESC, piece) AS r FROM sf)
       |  WHERE r <= $SeedTop),
       |seedapp AS MATERIALIZED (SELECT piece, n, row_number() OVER
       |    (ORDER BY length(piece) DESC, n DESC, piece) AS rnk
       |  FROM seedsel),
       |u0 AS MATERIALIZED (SELECT word, wcnt, seg FROM w0 WHERE cap),
       |$seedRounds,
       |usage AS MATERIALIZED (SELECT token, CAST(sum(wcnt) AS BIGINT) AS n
       |  FROM (SELECT wcnt, unnest(string_split(trim(seg), '  ')) AS token
       |        FROM u$SeedTop)
       |  WHERE length(token) > 1 GROUP BY token),
       |finsel AS (SELECT token AS piece, n FROM (SELECT token, n,
       |    row_number() OVER (ORDER BY n DESC, token) AS r FROM usage)
       |  WHERE r <= $UnigramVocabSize),
       |finapp AS MATERIALIZED (SELECT piece, n AS usage, row_number() OVER
       |    (ORDER BY length(piece) DESC, n DESC, piece) AS rnk
       |  FROM finsel)""".stripMargin
  }

  /** DuckDB: final-model segmentation rounds over the FULL vocab, ending
    * in `f<UnigramVocabSize> (word, wcnt, seg)`. */
  private def duckUnigramEncodeCtes: String = {
    val rounds = (1 to UnigramVocabSize).map { k =>
      s"""fp$k AS (SELECT
         |    coalesce(regexp_replace(s.piece, '(.)', ' \\1 ', 'g'),
         |      ' ' || chr(1) || ' ') AS pat,
         |    coalesce(' ' || s.piece || ' ', ' ' || chr(1) || ' ') AS rep
         |  FROM (SELECT 1 AS one) o LEFT JOIN
         |    (SELECT piece FROM finapp WHERE rnk = $k) s ON true),
         |f$k AS MATERIALIZED (SELECT word, wcnt,
         |    replace(f.seg, p.pat, p.rep) AS seg
         |  FROM f${k - 1} f CROSS JOIN fp$k p)""".stripMargin
    }.mkString(",\n")
    s"""$duckUnigramTrainCtes,
       |f0 AS MATERIALIZED (SELECT word, wcnt, seg FROM w0),
       |$rounds""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_bpe_pairs" -> bpePairs _,
    "q_text_bpe_merges" -> bpeMerges _,
    "q_text_bpe_encode" -> bpeEncode _,
    "q_text_bpe_doc_tokens" -> bpeDocTokens _,
    "q_text_bpe_fertility" -> bpeFertility _,
    "q_text_unigram_vocab" -> unigramVocab _,
    "q_text_unigram_encode" -> unigramEncode _,
    "q_text_unigram_doc_tokens" -> unigramDocTokens _,
  )

  val oracles: Map[String, String] = Map(
    "q_text_bpe_pairs" ->
      s"""WITH w AS (SELECT unnest(${duckTokens("lower(text)")}) AS word FROM documents),
         |wc AS (SELECT word, count(*) AS wcnt FROM w GROUP BY word),
         |pl AS (SELECT wcnt, list_transform(generate_series(1, length(word) - 1),
         |    i -> [substr(word, i, 1), substr(word, i + 1, 1)]) AS ps
         |  FROM wc WHERE length(word) >= 2),
         |pu AS (SELECT wcnt, unnest(ps) AS p FROM pl),
         |agg AS (SELECT p[1] AS a, p[2] AS b, CAST(sum(wcnt) AS BIGINT) AS n
         |  FROM pu GROUP BY 1, 2),
         |r AS (SELECT row_number() OVER (ORDER BY n DESC, a, b) AS rnk, a, b, n FROM agg)
         |SELECT CAST(rnk AS INT) AS rnk, a, b, n FROM r
         |WHERE rnk <= $TopPairs ORDER BY rnk""".stripMargin,
    "q_text_bpe_merges" ->
      s"""WITH $duckTrainCtes,
         |m AS (${(1 to NMerges).map(i =>
               s"SELECT CAST($i AS INT) AS rnk, a, b, n FROM g$i")
             .mkString("\n  UNION ALL ")})
         |SELECT rnk, a, b, n FROM m ORDER BY rnk""".stripMargin,
    "q_text_bpe_encode" ->
      s"""WITH $duckTrainCtes,
         |t AS (SELECT unnest(string_split(trim(seg), '  ')) AS token, wcnt
         |  FROM w$NMerges),
         |agg AS (SELECT token, CAST(sum(wcnt) AS BIGINT) AS n FROM t GROUP BY token),
         |r AS (SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS tid,
         |    token, n FROM agg)
         |SELECT tid, token, n FROM r WHERE tid <= $EncodeTop ORDER BY tid""".stripMargin,
    "q_text_bpe_doc_tokens" ->
      s"""WITH $duckDocTokensCtes
         |SELECT doc_id, n_tokens FROM dt ORDER BY doc_id""".stripMargin,
    "q_text_unigram_vocab" ->
      s"""WITH $duckUnigramTrainCtes
         |SELECT CAST(rnk AS INT) AS rnk, piece, usage FROM finapp
         |ORDER BY rnk""".stripMargin,
    "q_text_unigram_encode" ->
      s"""WITH $duckUnigramEncodeCtes,
         |t AS (SELECT unnest(string_split(trim(seg), '  ')) AS token, wcnt
         |  FROM f$UnigramVocabSize),
         |agg AS (SELECT token, CAST(sum(wcnt) AS BIGINT) AS n FROM t GROUP BY token),
         |r AS (SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS tid,
         |    token, n FROM agg)
         |SELECT tid, token, n FROM r WHERE tid <= $EncodeTop ORDER BY tid""".stripMargin,
    "q_text_unigram_doc_tokens" ->
      s"""WITH $duckUnigramDocTokensCtes
         |SELECT doc_id, n_tokens FROM dtu ORDER BY doc_id""".stripMargin,
    // per-source fertility over the same trained chain: every word is in
    // the vocab (trained on the full corpus), so per-doc word counts equal
    // the token-list lengths
    "q_text_bpe_fertility" ->
      s"""WITH $duckDocTokensCtes,
         |dwc AS (SELECT doc_id, source,
         |    len(${duckTokens("lower(text)")}) AS n_words
         |  FROM documents)
         |SELECT dwc.source,
         |  CAST(sum(dwc.n_words) AS BIGINT) AS n_words,
         |  CAST(sum(dt.n_tokens) AS BIGINT) AS n_tokens,
         |  CAST((sum(dt.n_tokens) * 1000) // sum(dwc.n_words) AS BIGINT)
         |    AS fertility_milli
         |FROM dt JOIN dwc USING (doc_id)
         |GROUP BY dwc.source ORDER BY dwc.source""".stripMargin,
  )

  /** DuckDB: UNIGRAM training + per-doc real token counts, ending in
    * `dtu (doc_id, n_tokens)` — the [[duckDocTokensCtes]] twin for the
    * unigram tokenizer, shared by the unigram doc-tokens oracle and the
    * unigram-budget packing oracle ([[Curation]]). */
  private[pipeline] def duckUnigramDocTokensCtes: String =
    s"""$duckUnigramEncodeCtes,
       |uwt AS (SELECT word, len(string_split(trim(seg), '  ')) AS n_tok
       |  FROM f$UnigramVocabSize),
       |udw AS (SELECT doc_id, unnest(${duckTokens("lower(text)")}) AS word
       |  FROM documents),
       |dtu AS (SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |  FROM udw JOIN uwt USING (word) GROUP BY doc_id)""".stripMargin

  /** DuckDB: training + per-doc real token counts, ending in
    * `dt (doc_id, n_tokens)` — shared by the doc-tokens oracle and the
    * BPE-budget packing oracle ([[Curation]]). */
  private[pipeline] def duckDocTokensCtes: String =
    s"""$duckTrainCtes,
       |wt AS (SELECT word, len(string_split(trim(seg), '  ')) AS n_tok
       |  FROM w$NMerges),
       |dw AS (SELECT doc_id, unnest(${duckTokens("lower(text)")}) AS word
       |  FROM documents),
       |dt AS (SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |  FROM dw JOIN wt USING (word) GROUP BY doc_id)""".stripMargin
}

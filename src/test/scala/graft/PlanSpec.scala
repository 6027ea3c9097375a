package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the at-scale contract, checked continuously:
  * filters reach the parquet scan, projections prune columns, hinted joins
  * get their strategy, small dims broadcast, and the relational surface stays
  * inside whole-stage codegen. A plan regression here is a 100-TB problem
  * long before it is a wall-clock problem at sf0.1.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Executed plan truncated to AQE's final section — the toString repeats
    * the whole tree under "== Initial Plan ==", double-counting operators. */
  private def finalPlan(p: String): String =
    p.split("== Initial Plan ==").head

  test("q_scan_filter_project: filter pushed to parquet, columns pruned") {
    val p = plan("q_scan_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,45.0)]"), p)
    // only the 4 needed columns reach the scan
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double,l_discount"), p)
  }

  test("q_join_broadcast: broadcast hash join, no shuffle of the dim") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_join_sortmerge: MERGE hint honored") {
    val p = plan("q_join_sortmerge")
    assert(p.contains("SortMergeJoin"), p)
  }

  test("q_agg_group: two-phase hash aggregation (partial then final)") {
    val p = plan("q_agg_group")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q_sort_limit: TakeOrderedAndProject, not a global sort") {
    val p = plan("q_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("relational queries run inside whole-stage codegen") {
    // AQE finalizes codegen per stage at execution: run, then inspect.
    for (q <- Seq("q_scan_filter_project", "q_agg_group", "q_join_inner", "q_window_rank")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // whole-stage codegen spans render as "*(n) Operator" in the final plan
      assert(p.contains("*("), s"$q lost codegen:\n$p")
    }
  }

  test("CEP plan: single exchange on the key, sort satisfied by the shuffle") {
    val p = plan("q_cep_low_balance")
    // one hashpartitioning exchange on the key; the event-time sort within
    // partitions rides it (no extra exchange), and the keyed batch driver
    // walks each partition once (no per-key groups)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("MapPartitions") && !p.contains("MapGroups"), p)
  }

  test("q_agg_unpivot: Expand over ONE aggregate, no extra shuffle") {
    val p = plan("q_agg_unpivot")
    assert(p.contains("Expand"), p)
    // the only exchanges: aggregate shuffle + output range partitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q_window_range_frame: one window over one exchange on the partition key") {
    val p = plan("q_window_range_frame")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q_map_funcs: map explode is a narrow Generate (no shuffle before sort)") {
    val p = plan("q_map_funcs")
    assert(p.contains("Generate"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("MATCH_RECOGNIZE plan: single exchange on the partition key") {
    for (q <- Seq("q_mr_low_balance", "q_mr_funnel_alt", "q_cep_no_purchase")) {
      val p = plan(q)
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, s"$q:\n$p")
    }
  }

  test("IVF: declared plan serves from the shared index; training broadcasts") {
    val df = SparkEntry.queries("q_similarity_ivf")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // r8: the declared plan SERVES from the per-process persisted index —
    // parquet scans + one cell equi-join; no k-means lineage, no broadcast
    // nested loop, and never a cartesian
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // and no K inline least(...) branches — the plan must not blow up with K
    assert(!p.contains("least("), p)
    // the TRAINING plan (runs once per process when the index materializes)
    // still broadcasts the K-row centroid table against the fact table —
    // the vectors never shuffle for the assignment join
    import org.apache.spark.sql.functions.col
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"),
        graft.pipeline.Hashing.quantize(col("embedding")).as("q"))
    val (_, cells) = graft.pipeline.Similarity.ivfModelOf(spark, e, 8)
    val tp = cells.queryExecution.executedPlan.toString
    assert(tp.contains("BroadcastNestedLoopJoin"), tp)
    assert(!tp.contains("CartesianProduct"), tp)
    assert(!tp.contains("least("), tp)
    spark.catalog.clearCache()
  }

  test("dedup hot-bucket guard: broadcast LEFT ANTI, never a window sort") {
    // Since r14 the declared q_dedup_minhash serves from the persisted
    // scored-pair artifact (a filtered scan — MinhashIndexSpec pins that
    // plan), so the guard pin moves to the pipeline that BUILDS the
    // artifact: the inline pair path over the raw documents table.
    import spark.implicits._
    val df = graft.pipeline.Dedup.minhashPairs(spark,
      graft.sources.Tables.table(spark, sf, "documents")
        .select($"doc_id", $"text"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("RunningWindowFunction"), p)
    assert(!p.toLowerCase.contains("window partitionby"), p)
    // and the SERVED declared plan has no guard to run at all — one
    // filtered artifact scan, nothing recomputed
    val served = SparkEntry.queries("q_dedup_minhash")(spark, sf)
    served.collect()
    val sp = served.queryExecution.executedPlan.toString
    assert(!sp.contains("LeftAnti") && sp.contains("PushedFilters"), sp)
  }

  test("stratified sample: stratum counts broadcast back, window only after prefilter") {
    val df = SparkEntry.queries("q_sample_stratified")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // per-stratum counts join back as a broadcast — the corpus is not
    // shuffled to meet a count table of #strata rows
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("tfidf: df join strategy left to AQE — no forced broadcast, no cartesian") {
    val df = SparkEntry.queries("q_text_tfidf")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // Either strategy is legitimate: AQE broadcasts the vocabulary table
    // when its runtime size fits, or shuffles on term when it doesn't. The
    // pin is only that an equi-join happened (never a cartesian) — asserting
    // BroadcastHashJoin here would re-encode the unconditional-hint bug.
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("curateNear: cluster-map join strategy left to AQE — no forced broadcast") {
    val df = SparkEntry.queries("q_pipeline_curate_near")(spark, sf)
    df.collect()
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    // same contract as tfidf: tolerate whichever join AQE picks for the
    // doc→cluster map (broadcast when small, doc_id shuffle worst case),
    // never a cartesian
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("decontaminate: eval shingles broadcast against the train side") {
    val df = SparkEntry.queries("q_decontaminate")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sequence packing: no single-partition global-order window") {
    // assert on the PRE-execution plan: the pinned properties (no
    // corpus-scale single-partition window, no inherited dead sort) are
    // initial-plan shapes, and the post-AQE rendering varies run-to-run
    // (reused exchanges, coalesced tiny shuffles) without changing them
    val df = SparkEntry.queries("q_text_pack")(spark, sf)
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    // the row-level cumulative sum partitions by bucket (hashpartitioning
    // exchange); at most ONE SinglePartition exchange may appear — the
    // prefix sum over the bucket-totals table (#buckets rows), never the
    // chunk rows themselves
    assert(p.contains("Exchange hashpartitioning"), p)
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 1, p)
    // and feeding on unsorted chunks: exactly one rangepartitioning (the
    // final ORDER BY), not an inherited dead sort from the chunk query
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1, p)
  }

  test("curate pipeline: dedup is ONE digest shuffle, filters fused around it") {
    val df = SparkEntry.queries("q_pipeline_curate")(spark, sf)
    df.collect()
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    // quality gate + sample filter are narrow; the only shuffles are the
    // digest aggregation and the final ORDER BY — no join anywhere
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("length stats: window and aggregate share ONE stratum shuffle") {
    val df = SparkEntry.queries("q_text_length_stats")(spark, sf)
    df.collect()
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    // rank window, count window, and groupBy all partition by source; the
    // plan must reuse a single hashpartitioning exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("repetition metrics stay narrow: one exchange at most (the final sort)") {
    val df = SparkEntry.queries("q_text_repetition")(spark, sf)
    df.collect()
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    assert("Exchange".r.findAllIn(p).size <= 1, p)
    // single text scan, no join, no aggregate — pure per-row HOF projection
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
  }

  test("source overlap: distinct shingle table built once, pair join bounded") {
    val df = SparkEntry.queries("q_source_overlap")(spark, sf)
    df.collect()
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    // the equi-join on the shingle key — never a cartesian of the corpus
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("perplexity: scoring join strategy left to AQE, no cartesian blowup") {
    val df = SparkEntry.queries("q_text_perplexity")(spark, sf)
    df.collect()
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    // the only nested-loop allowed is the broadcast of the 1-row total;
    // the vocab scoring join must be an equi-join of whatever strategy AQE
    // picks (broadcast when the vocabulary fits, term shuffle when not)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("classifier stays narrow: one exchange at most, no join, no aggregate") {
    val df = SparkEntry.queries("q_text_classifier")(spark, sf)
    df.collect()
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    // token → bucket → weight → sum is one codegen'd fold per row; the only
    // exchange is the final ORDER BY's range partitioning
    assert("Exchange".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
  }

  test("span dedup: hash-bucketed equi-joins only, never a cartesian") {
    val df = SparkEntry.queries("q_dedup_spans")(spark, sf)
    df.collect()
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // occurrence count is a two-phase aggregate on the span hash
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    spark.catalog.clearCache()
  }

  test("incremental dedup: bloom runtime filter sits before the corpus distinct") {
    val df = SparkEntry.queries("q_dedup_incremental")(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    // the probe must survive optimization INSIDE the corpus branch — deeper
    // than the final equi-join (tree printing: children render after their
    // parent), so the corpus-side distinct only sees bloom survivors
    val joinIdx = p.indexOf("Join")
    val probeIdx = p.indexOf("might_contain")
    assert(probeIdx > joinIdx && joinIdx >= 0, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("vocab: exact distinct pays two agg shuffles; HLL sketch path pays one") {
    val exact = SparkEntry.queries("q_text_vocab")(spark, sf)
    exact.collect()
    val pe = finalPlan(exact.queryExecution.executedPlan.toString)
    // exact count-distinct expands over (source, sh) then source — two
    // hashpartitioning exchanges before the final sort
    assert("Exchange hashpartitioning".r.findAllIn(pe).size == 2, pe)
    val approx = SparkEntry.queries("q_text_vocab_approx")(spark, sf)
    approx.collect()
    val pa = finalPlan(approx.queryExecution.executedPlan.toString)
    // the sketch is map-side combinable: ONE exchange carrying per-source
    // HLL state — the whole point of the scale path
    assert("Exchange hashpartitioning".r.findAllIn(pa).size == 1, pa)
  }

  test("chunk and redact stay narrow: one exchange at most (the final sort)") {
    for (q <- Seq("q_text_chunk", "q_text_redact")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = finalPlan(df.queryExecution.executedPlan.toString)
      assert("Exchange".r.findAllIn(p).size <= 1, s"$q plan has extra shuffles:\n$p")
    }
  }

  test("mixture: per-source rates broadcast back, corpus never hash-shuffled") {
    val df = SparkEntry.queries("q_mixture")(spark, sf)
    df.collect()
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    // the rate table (one row per source) joins broadcast; the only
    // hashpartitioning exchange is the tiny rate aggregation itself
    assert(p.contains("BroadcastHashJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    // the corpus side scans only the three needed columns + text never read
    assert(!p.contains("text"), "mixture reads the text column it never uses:\n" + p)
  }

  test("quality gate: histogram median — corpus aggregated, never sorted") {
    val df = SparkEntry.queries("q_quality_gate")(spark, sf)
    df.collect()
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastHashJoin"), p)
    // every Sort in the plan runs over the histogram/threshold side
    // (post-aggregation, bounded by distinct lengths × sources), so no sort
    // node may sit directly above the parquet scan's codegen stage
    val scanStage = p.split("\n").find(_.contains("FileScan parquet")).getOrElse("")
    assert(scanStage.nonEmpty, p)
    // the corpus path is scan → project → broadcast-join → partial agg:
    // its exchange count is the per-source report aggregation only
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p)
  }

  test("freqItems: top-k window runs over the aggregated vocabulary frame") {
    val df = SparkEntry.queries("q_text_freqitems")(spark, sf)
    df.collect()
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    // two-phase (source, word) aggregation BEFORE the window: the Window
    // node's child chain must contain the final HashAggregate, i.e. the
    // window never sees raw exploded tokens
    val lines = p.split("\n")
    val winIdx = lines.indexWhere(_.contains("Window"))
    val aggBelow = lines.drop(winIdx).exists(_.contains("HashAggregate"))
    assert(winIdx >= 0 && aggBelow, p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("embedding quantize: explode feeds one map-side-combinable aggregate") {
    val df = SparkEntry.queries("q_embedding_quantize")(spark, sf)
    df.collect()
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    assert(p.contains("Generate explode"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Join"), "quantize audit must not join:\n" + p)
  }
}

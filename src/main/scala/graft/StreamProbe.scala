package graft

import org.apache.spark.sql.functions._

/** Streaming-operator probe in its own JVM (manual; not part of the driver
  * contract): three stateful streams on RocksDB state at volume, each
  * checked against its batch twin or an exact driver recount, and against
  * a state bound that must not grow with event volume. Prints one JSON
  * line per stream with rows/sec.
  *  - `SessionStream`: 10M out-of-order events, one hot key, 16
  *    micro-batches; sealed sessions ≡ the batch `q_sessionize` rollup.
  *  - `DqStream`: 4M flagged rows over 20 sources; final basis points ≡ a
  *    driver recount.
  *  - `DynamicRuleStream`: 1M rows with mid-stream rule flips; alerts ≡
  *    the batch window-pass twin.
  *
  * Streaming CEP (`CepStream`) is measured by the traced `cep_batch` run
  * of `perfbench` (`python3 perfbench/run.py --workload cep_batch
  * --trace 1`), not here.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.StreamProbe [nSess] [nDq] [nDyn]"
  */
object StreamProbe {

  def main(args: Array[String]): Unit = {
    // one state-store partition per core: each partition pays a fixed
    // per-batch commit cost (RocksDB commit + changelog upload), so one
    // task wave per batch beats the 2×cores batch sizing
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark: org.apache.spark.sql.SparkSession =
      GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val users = 100000L
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    // ---- SessionStream at 10M events: heavy out-of-orderness, one hot ----
    // key (~30%), 100k keys. The §7.4.7-style contract under test: state is
    // per-key OPEN sessions + 2 scalars + the armed timer — bounded by keys
    // and the out-of-orderness horizon, never by event volume (the hot key's ~3M
    // events accrete into ONE open session struct of 4 longs) — and sealed
    // output must EQUAL the batch q_sessionize rollup row-for-row. Events
    // arrive by a jittered arrival clock (ts + up to 20 min) in 16
    // micro-batches, so backward extension and session bridging fire
    // constantly while staying inside the 30-min watermark delay.
    val nSess = args.lift(0).map(_.toLong).getOrElse(10000000L)
    val baseSec = 1700000000L
    val spanSec = 30L * 86400
    val sessEvents = spark.range(nSess).select(
        when(pmod(xxhash64($"id" * 19 + 3), lit(10L)) < 3, lit(0L))
          .otherwise(pmod(xxhash64($"id" * 7 + 1), lit(users))).as("user_id"),
        (lit(baseSec) + pmod(xxhash64($"id" * 13 + 5), lit(spanSec))).as("ts_sec"),
        $"id".as("event_id"),
        when(pmod(xxhash64($"id" * 31 + 11), lit(10L)) === 7, lit("purchase"))
          .otherwise(lit("view")).as("event_type"),
        (lit(baseSec) + pmod(xxhash64($"id" * 13 + 5), lit(spanSec))
          + pmod(xxhash64($"id" * 23 + 9), lit(1200L))).as("arr_sec"))
      .cache()
    // this section ASSERTS on numRowsTotal (state bounded by keys), so turn
    // per-store row tracking back on — GraftSession disables it for put-path
    // throughput, which blanks the metric (applied at query start)
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "true")
    val sessMem = MemoryStream[(Long, java.sql.Timestamp, String, Long)]
    val outDir = java.nio.file.Files.createTempDirectory("graft-sess-probe-").toString
    val sessQ = graft.streaming.SessionStream.sessions(
        sessMem.toDF().toDF("user_id", "ts", "event_type", "event_id"),
        delay = "30 minutes")
      .writeStream.format("parquet")
      .option("path", s"$outDir/out").option("checkpointLocation", s"$outDir/cp")
      .outputMode("append").start()
    val nBatches = 16
    val sliceW = (spanSec + 1200L) / nBatches + 1L
    var maxStateRows = 0L
    val sessT0 = System.nanoTime()
    (0 until nBatches).foreach { i =>
      val rows = sessEvents
        .filter($"arr_sec" >= baseSec + i * sliceW &&
          $"arr_sec" < baseSec + (i + 1) * sliceW)
        .select($"user_id", timestamp_seconds($"ts_sec").as("ts"),
          $"event_type", $"event_id")
        .as[(Long, java.sql.Timestamp, String, Long)].collect()
      if (rows.nonEmpty) { sessMem.addData(rows.toIndexedSeq); sessQ.processAllAvailable() }
      Option(sessQ.lastProgress).foreach(p =>
        p.stateOperators.foreach(so => maxStateRows = maxStateRows.max(so.numRowsTotal)))
    }
    // far-future sentinel: advance the global watermark past every gap
    // horizon so all open sessions seal (two, so the timer batch runs)
    sessMem.addData(Seq((999999L, java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(baseSec + spanSec * 10)), "view", -1L)))
    sessQ.processAllAvailable()
    sessMem.addData(Seq((999999L, java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(baseSec + spanSec * 20)), "view", -2L)))
    sessQ.processAllAvailable()
    val sessSecs = (System.nanoTime() - sessT0) / 1e9
    sessQ.stop()
    // parity: sealed streaming sessions ≡ the batch rollup, row-for-row
    val expected = graft.relational.Paths.sessionizeOf(
      sessEvents.select($"user_id", timestamp_seconds($"ts_sec").as("ts"),
        $"event_type", $"event_id"))
    val got = spark.read.parquet(s"$outDir/out").filter($"user_id" =!= 999999L)
    val nGot = got.count()
    val nExp = expected.count()
    val joinCols = Seq("user_id", "session_id", "start_sec", "end_sec",
      "n_events", "n_purchases", "duration_s")
    val nMatch = got.join(expected, joinCols).count()
    assert(nGot == nExp && nMatch == nExp,
      s"session parity broken: streaming $nGot, batch $nExp, matched $nMatch")
    // state bounded by KEYS (1 state row per key + timer rows), not events;
    // > 0 also proves the re-enabled row tracking actually took effect
    assert(maxStateRows > 0L && maxStateRows <= (users + 2) * 3,
      s"state rows $maxStateRows outside (0, ${(users + 2) * 3}]")
    sessEvents.unpersist()
    println(f"""{"probe":"session_stream","rows":$nSess,"keys":$users,"batches":$nBatches,"sessions":$nGot,"matched":$nMatch,"max_state_rows":$maxStateRows,"secs":$sessSecs%.1f,"rows_per_sec":${(nSess / sessSecs).toLong}}""")

    // ---- DqStream: 4M flagged rows / 20 sources through the live ----
    // constraint monitor in 4 micro-batches. Per-source state is SEVEN
    // LONGS, so the throughput ceiling is the micro-batch machinery, not
    // the operator; the final per-source basis points must equal a
    // driver-computed exact recount (counters add exactly — any slicing).
    import graft.streaming.DqStream
    val nDq = args.lift(1).map(_.toLong).getOrElse(4000000L)
    val dqRows = spark.range(nDq).select(
        concat(lit("src"), pmod($"id", lit(20L)).cast("string")).as("src"),
        (pmod(xxhash64($"id" * 7 + 1), lit(100L)) < 99L).as("statusOk"),
        (pmod(xxhash64($"id" * 11 + 3), lit(100L)) < 98L).as("priOk"),
        lit(true).as("dateOk"),
        (pmod(xxhash64($"id" * 13 + 5), lit(100L)) < 97L).as("priceOk"),
        (pmod(xxhash64($"id" * 17 + 7), lit(100L)) < 96L).as("riOk"))
      .as[DqStream.DqIn].collect()
    val dqMem = MemoryStream[DqStream.DqIn]
    val dqQ = DqStream.monitor(dqMem.toDS())
      .writeStream.format("memory").queryName("dq_probe")
      .outputMode("append").start()
    val (dqN, dqSecs) = {
      val t0 = System.nanoTime()
      dqRows.grouped(dqRows.length / 4 + 1)
        .foreach { b => dqMem.addData(b.toIndexedSeq); dqQ.processAllAvailable() }
      val secs = (System.nanoTime() - t0) / 1e9
      (spark.table("dq_probe").count(), secs)
    }
    val dqFin = spark.table("dq_probe").as[DqStream.DqOut].collect()
      .groupBy(_.src).map { case (k, rs) => k -> rs.maxBy(_.n) }
    dqQ.stop()
    // exact driver recount per source
    dqRows.groupBy(_.src).foreach { case (src, rs) =>
      val f = dqFin(src)
      val n = rs.length.toLong
      assert(f.n == n, s"$src n ${f.n} != $n")
      assert(f.status_bp == rs.count(_.statusOk) * 10000L / n, src)
      assert(f.ri_bp == rs.count(_.riOk) * 10000L / n, src)
    }
    println(f"""{"probe":"dq_stream","rows":$nDq,"sources":20,"batches":4,"emissions":$dqN,"secs":$dqSecs%.1f,"rows_per_sec":${(nDq / dqSecs).toLong}}""")

    // ---- DynamicRuleStream at 1M rows / 100k keys (r15, r14 verdict #5):
    // ~20% rule rows flip each key's threshold register MID-STREAM across 4
    // in-order micro-batches on RocksDB state; two far-future sentinels
    // flush the watermark buffer. Contracts asserted at volume: the alert
    // set EQUALS the batch window-pass twin (slicing invariance — the
    // operator's determinism contract from DynamicRuleStreamSpec, now at
    // 1M), and state stays bounded by KEYS (register + armed timer + the
    // within-delay buffer), never by event volume.
    import graft.streaming.DynamicRuleStream
    val nDyn = args.lift(2).map(_.toLong).getOrElse(1000000L)
    val dynSpan = 4L * 3600 // seconds of event time
    val dynRaw = spark.range(nDyn).select(
        when(pmod(xxhash64($"id" * 37 + 13), lit(5L)) === 0, lit("rule"))
          .otherwise(lit("data")).as("kind"),
        concat(lit("k"), pmod(xxhash64($"id" * 7 + 1), lit(users)).cast("string"))
          .as("key"),
        timestamp_millis(lit(baseSec * 1000) +
          pmod(xxhash64($"id" * 13 + 5), lit(dynSpan * 1000))).as("ts"),
        pmod(xxhash64($"id" * 11 + 3), lit(100L)).as("balanceBefore"),
        pmod(xxhash64($"id" * 29 + 17), lit(100L)).as("balanceAfter"),
        (lit(10L) + pmod(xxhash64($"id" * 41 + 19), lit(9L)) * 10L)
          .as("threshold"))
      .as[DynamicRuleStream.RuleOrEvent].collect()
      .sortBy(_.ts.getTime)
    // contract: at most one RULE per (key, ts) — drop random collisions so
    // the fold order (hence the parity check) is well-defined
    val ruleSeen = scala.collection.mutable.HashSet.empty[(String, Long)]
    val dynRows = dynRaw.filter(r =>
      r.kind != "rule" || ruleSeen.add((r.key, r.ts.getTime)))
    // state-row tracking (the session section enables it too; re-set here
    // so this section stands alone if earlier sections are ever gated)
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "true")
    val dynMem = MemoryStream[DynamicRuleStream.RuleOrEvent]
    val dynQ = DynamicRuleStream.detect(dynMem.toDS())
      .writeStream.format("memory").queryName("dyn_probe")
      .outputMode("append").start()
    var dynStateRows = 0L
    val dynT0 = System.nanoTime()
    dynRows.grouped(dynRows.length / 4 + 1).foreach { b =>
      dynMem.addData(b.toIndexedSeq); dynQ.processAllAvailable()
      Option(dynQ.lastProgress).foreach(p =>
        p.stateOperators.foreach(so =>
          dynStateRows = dynStateRows.max(so.numRowsTotal)))
    }
    // sentinel data rows (balance 0 ≥ no threshold → alert-free) advance
    // the watermark past every buffered row; two so the timer batch runs
    (1 to 2).foreach { k =>
      dynMem.addData(Seq(DynamicRuleStream.RuleOrEvent(
        "data", "zzz", java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          baseSec + dynSpan * (10 * k))), 0L, 0L, 0L)))
      dynQ.processAllAvailable()
    }
    val dynSecs = (System.nanoTime() - dynT0) / 1e9
    val dynGot = spark.table("dyn_probe")
    val nAlerts = dynGot.count()
    dynQ.stop()
    // parity at volume: streamed alerts ≡ the batch twin, as multisets
    val dynExp = DynamicRuleStream.detectBatch(
      spark.createDataset(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(dynRows)))
    val cols = Seq("key", "ts", "balanceBefore", "balanceAfter", "threshold")
    def grouped(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(cols.map(col): _*).count()
    val dynDiff = grouped(dynGot).except(grouped(dynExp.toDF())).count() +
      grouped(dynExp.toDF()).except(grouped(dynGot)).count()
    assert(dynDiff == 0L,
      s"dynamic-rule parity broken: $dynDiff grouped rows differ " +
        s"(streamed $nAlerts vs batch ${dynExp.count()})")
    assert(nAlerts > 0, "probe fixture produced no alerts — thresholds dead")
    // register + armed-timer + buffer rows: bounded by keys and the
    // watermark delay (buffer drains to ~0 at the sentinel), not by volume
    assert(dynStateRows > 0L,
      "state-row tracking must be on (session section enables it)")
    // ENFORCED upper bound (measured 144k at 1M rows): ≤ 2 rows/key
    // (register + armed timer) + one micro-batch of within-delay buffer.
    // A leak that grows state with event volume (e.g. a buffer that never
    // clears) blows through this long before the keys term matters.
    assert(dynStateRows <= 2 * users + nDyn / 4,
      s"dynamic-rule state rows $dynStateRows exceed the keys+buffer bound " +
        s"${2 * users + nDyn / 4} — state is growing with volume")
    println(f"""{"probe":"dynamic_rule_stream","rows":$nDyn,"keys":$users,"rules":${dynRows.count(_.kind == "rule")},"batches":4,"alerts":$nAlerts,"max_state_rows":$dynStateRows,"secs":$dynSecs%.1f,"rows_per_sec":${(nDyn / dynSecs).toLong}}""")

    spark.stop()
  }
}

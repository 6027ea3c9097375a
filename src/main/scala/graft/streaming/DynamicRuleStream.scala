package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DYNAMIC-RULE streaming operator — the broadcast-state idiom (Flink's
  * `BroadcastProcessFunction`) the reference's deployments would need to
  * change a CEP threshold WITHOUT a job restart: the reference hard-codes
  * its low-balance condition (`FlinkCEPExample.scala:59-63`,
  * `balanceBefore >= 10 && balanceAfter < 10` — the constant 10 is
  * compile-time), and so did every pattern predicate in this engine until
  * now.
  *
  * Spark shape: ONE tagged-union input stream (`kind = "rule" | "data"`)
  * into `transformWithState` — rule rows update a per-key rule register
  * (`ValueState`); data rows evaluate against the register's latest value.
  * A rule takes effect from its EVENT TIME: rows buffer until the
  * watermark passes them and fold in (ts, rule-before-data) order, so the
  * rule/data interleaving is deterministic — the output is a pure
  * function of the input rows, independent of micro-batch slicing
  * (pinned in `DynamicRuleStreamSpec`), and a batch replay of the same
  * tagged rows ([[detectBatch]]) produces identical alerts. The register
  * lives in the state store, so a checkpoint restart CARRIES the rules —
  * the no-restart contract.
  *
  * Key routing: Flink's broadcast state delivers one control message to
  * every parallel instance; Spark state is keyed, so a rule addresses the
  * KEY it governs. Per-key rules are the general form (per-account
  * thresholds); a genuinely global rule is delivered by exploding it to
  * the governed keys upstream (a narrow map over the control stream —
  * control traffic is tiny by definition), or by per-epoch re-broadcast:
  * join each micro-batch against a broadcast rules table in
  * `foreachBatch`, re-read per epoch (the stateless alternative when
  * rules live in an external store).
  *
  * State contract at scale: one [[KeyedFold.eventTime]] fold per key;
  * its one state value holds the rule register and the rows above the
  * watermark (bounded by the watermark delay), beside the one armed timer
  * at the earliest buffered row — RocksDB-backed like every stateful
  * operator here ([[CepStream.rocksConf]]).
  */
object DynamicRuleStream {

  /** The reference's compile-time threshold (`FlinkCEPExample.scala:61`) —
    * the rule register's initial value until the first rule row folds in. */
  val DefaultThreshold = 10L

  /** Tagged-union row. `kind = "rule"`: `threshold` becomes the key's rule
    * from event time `ts` on (balances ignored). `kind = "data"`: a
    * balance reading to evaluate (threshold field ignored). */
  final case class RuleOrEvent(
      kind: String, key: String, ts: Timestamp,
      balanceBefore: Long, balanceAfter: Long, threshold: Long)

  /** A crossing alert: the reading dropped below the threshold IN EFFECT
    * at its event time; `threshold` records which rule fired. */
  final case class ThresholdAlert(
      key: String, ts: Timestamp,
      balanceBefore: Long, balanceAfter: Long, threshold: Long)

  /** One key's fold state: `thr` = the rule register, `buf` = the rows
    * the watermark has not passed yet. */
  final case class RuleState(thr: Long, buf: Seq[RuleOrEvent])

  /** Streaming detection: rules applied mid-stream without restart.
    * Watermark-ready rows fold in (ts, rule-before-data) order — the
    * determinism contract; the fold wakes at the earliest buffered row so
    * buffered rows drain when the watermark advances even if the key
    * receives no further input. */
  def detect(
      rows: Dataset[RuleOrEvent],
      watermarkDelay: String = "6 minutes"): Dataset[ThresholdAlert] = {
    val spark = rows.sparkSession
    import spark.implicits._
    KeyedFold.eventTime(rows.withWatermark("ts", watermarkDelay).as[RuleOrEvent])(
        _.key, "rules", Encoders.product[RuleState],
        RuleState(DefaultThreshold, Nil)) { (key, st, in, wm) =>
      val (ready, later) = (st.buf ++ in).partition(_.ts.getTime <= wm)
      var cur = st.thr
      val out = ready.sortBy(r => (r.ts.getTime, if (r.kind == "rule") 0 else 1))
        .flatMap { r =>
          if (r.kind == "rule") { cur = r.threshold; None }
          else if (r.balanceBefore >= cur && r.balanceAfter < cur)
            Some(ThresholdAlert(key, r.ts, r.balanceBefore, r.balanceAfter, cur))
          else None
        }
      (RuleState(cur, later), out.iterator, later.map(_.ts.getTime).minOption)
    }
  }

  /** Batch twin over the SAME tagged rows: the threshold in effect at any
    * event time is the last rule at or before it (rules sort before data
    * at equal ts — same tie rule as the streaming fold; at most one rule
    * per (key, ts) by contract). One window pass, no state. */
  def detectBatch(rows: Dataset[RuleOrEvent]): Dataset[ThresholdAlert] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"key")
      .orderBy($"ts", when($"kind" === "rule", 0).otherwise(1))
    rows.toDF()
      .withColumn("thr", coalesce(
        last(when($"kind" === "rule", $"threshold"), ignoreNulls = true).over(w),
        lit(DefaultThreshold)))
      .filter($"kind" === "data" &&
        $"balanceBefore" >= $"thr" && $"balanceAfter" < $"thr")
      .select($"key", $"ts", $"balanceBefore", $"balanceAfter",
        $"thr".as("threshold"))
      .as[ThresholdAlert]
  }
}

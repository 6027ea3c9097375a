package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.pattern.{AfterMatchSkip, NFA, Pattern}

/** The reference's CEP query transplanted onto the driver testdata `events`
  * table (FIXTURES.md §B.1): per `user_id`, ordered by `ts`,
  * `PATTERN (A B* C) WITHIN 1h, AFTER MATCH SKIP PAST LAST ROW` with
  * A=`error`, B=`view|click`, C=`purchase` — the same shape as
  * `FlinkCEPExample.scala:58-74` (strict stage contiguity, relaxed loop
  * internals), plus the absence/timeout variant
  * (`FlinkCEPAbsenceOfEventExample.scala:78-104`).
  *
  * Event time rides through the typed row as EPOCH-MICROS Long, not
  * java.sql.Timestamp: at 10M rows the Timestamp boxing in the object-row
  * deserializer was a 3.5× slowdown (162k → 562k events/s, 10M synthetic
  * events on local[32]). Timestamps reappear only in the tiny output
  * projection.
  */
object EventPatterns {

  final case class EventRow(event_id: Long, ts_us: Long, user_id: Long, event_type: String)
  final case class CepRaw(kind: String, user_id: Long, alarm_us: Long, topup_us: Long)

  val WithinMs: Long = 3600L * 1000L

  def pattern: Pattern[EventRow] =
    Pattern.begin[EventRow]("A", AfterMatchSkip.SkipPastLastEvent)
      .where(_.event_type == "error")
      .next("B").where(e => e.event_type == "view" || e.event_type == "click")
      .oneOrMore.optional
      .next("C").where(_.event_type == "purchase")
      .within(WithinMs)

  /** Tagged match/timeout detection (kind = "match" | "timeout");
    * timestamps second-truncated in the output projection only
    * (ns-parquet caveat, FIXTURES.md §B.1). */
  def detect(spark: SparkSession, sfDir: String): DataFrame =
    detectOf(eventRows(spark, sfDir))

  /** The `events` table as [[EventRow]]s. */
  private def eventRows(spark: SparkSession, sfDir: String): Dataset[EventRow] = {
    import spark.implicits._
    graft.sources.Tables.events(spark, sfDir)
      .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id", $"event_type")
      .as[EventRow]
  }

  /** `p` per `user_id` in `(ts_us, event_id)` order, through [[Cep.matchPattern]]. */
  private def matchUsers[O: Encoder](events: Dataset[EventRow], p: Pattern[EventRow])(
      emitMatch: (Long, NFA.PatternMatch[EventRow]) => Option[O],
      emitTimeout: (Long, NFA.PatternTimeout[EventRow]) => Option[O] =
        (_: Long, _: NFA.PatternTimeout[EventRow]) => None): Dataset[O] = {
    val spark = events.sparkSession
    import spark.implicits._
    Cep.matchPattern[Long, EventRow, O](
      events, _.user_id, _.ts_us / 1000L, p, Seq($"ts_us", $"event_id"))(
      emitMatch, emitTimeout)
  }

  /** Epoch micros truncated to the second, as a timestamp. */
  private def sec(c: Column): Column = timestamp_micros(c - pmod(c, lit(1000000L)))

  /** [[detect]] over any typed event set — the entry point the CEP
    * benchmark (`perfbench`, workload `cep_batch`) drives directly. */
  def detectOf(events: Dataset[EventRow]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val raw = matchUsers(events, pattern)(
      (uid, m) => m.first("A").zip(m.first("C")).map { case (a, c) =>
        CepRaw("match", uid, a.ts_us, c.ts_us)
      },
      (uid, t) => t.first("A").map(a => CepRaw("timeout", uid, a.ts_us, -1L)))
    raw.toDF()
      .select($"kind", $"user_id",
        sec($"alarm_us").as("alarm_ts"),
        when($"topup_us" >= 0, sec($"topup_us")).as("topup_ts"))
  }

  /** Completed matches: one row per match, `(user_id, alarm_ts, topup_ts)`. */
  def lowBalance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    detect(spark, sfDir)
      .filter($"kind" === "match")
      .select($"user_id", $"alarm_ts", $"topup_ts")
      .orderBy($"user_id", $"alarm_ts", $"topup_ts")
  }

  /** Timed-out partial matches (absence of top-up): `(user_id, alarm_ts)`. */
  def absence(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // No .distinct(): the NFA already emits one timeout per distinct partial
    // content (`NFA.distinctContent`), so the projection is duplicate-free
    // — verified equal counts at sf0.01 — and the extra shuffle would be
    // pure cost.
    detect(spark, sfDir)
      .filter($"kind" === "timeout")
      .select($"user_id", $"alarm_ts")
      .orderBy($"user_id", $"alarm_ts")
  }

  /** Conversion-funnel pattern with RELAXED contiguity (`followedBy`) — the
    * DSL configuration the strict billing shape doesn't exercise: signup,
    * then one-or-more engagement events, then a purchase, within one day.
    */
  def funnelPattern: Pattern[EventRow] =
    Pattern.begin[EventRow]("S", AfterMatchSkip.SkipPastLastEvent)
      .where(_.event_type == "signup")
      .followedBy("E").where(e => e.event_type == "view" || e.event_type == "click")
      .oneOrMore
      .followedBy("P").where(_.event_type == "purchase")
      .within(24L * 3600L * 1000L)

  /** NEGATION pattern (Flink `notFollowedBy`, `pattern/Pattern.scala:175`):
    * an `error` followed by a `click` within 1h with NO `purchase` anywhere
    * in the gap — the "user kept browsing without converting after an
    * error" shape. A purchase in the gap kills the attempt at the NFA
    * guard level (no post-hoc filtering of completed matches).
    */
  def noPurchasePattern: Pattern[EventRow] =
    Pattern.begin[EventRow]("A", AfterMatchSkip.SkipPastLastEvent)
      .where(_.event_type == "error")
      .notFollowedBy("P").where(_.event_type == "purchase")
      .followedBy("C").where(_.event_type == "click")
      .within(WithinMs)

  /** Negation matches: `(user_id, error_ts, click_ts)`. */
  def noPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val raw = matchUsers(eventRows(spark, sfDir), noPurchasePattern)((uid, m) =>
      m.first("A").zip(m.first("C")).map { case (a, c) => (uid, a.ts_us, c.ts_us) })
    raw.toDF("user_id", "error_us", "click_us")
      .select($"user_id", sec($"error_us").as("error_ts"),
        sec($"click_us").as("click_ts"))
      .orderBy($"user_id", $"error_ts", $"click_ts")
  }

  /** `until()` pattern (the one Flink Pattern-API method whose semantics a
    * plain `where` cannot express — loop and exit predicates OVERLAP here):
    * everything a user does between a signup and their FIRST purchase.
    * The loop `B` accepts ANY event, so without the stop condition the
    * greedy loop would swallow purchases and `P` would bind a later one;
    * `until(purchase)` forbids the loop from consuming (or ignoring past)
    * a purchase, so `P` deterministically binds the first. */
  def untilPattern: Pattern[EventRow] =
    Pattern.begin[EventRow]("S", AfterMatchSkip.SkipPastLastEvent)
      .where(_.event_type == "signup")
      .followedBy("B").where(_ => true)
      .oneOrMore.optional.until(_.event_type == "purchase")
      .followedBy("P").where(_.event_type == "purchase")
      .within(24L * 3600L * 1000L)

  /** Until-streak matches: `(user_id, signup_ts, purchase_ts, n_between)` —
    * n_between counts the events strictly between the signup and its first
    * purchase. Pinned against a literal brute-force scan in
    * `EventPatternsSpec` (no SQL oracle: DuckDB has no MATCH_RECOGNIZE). */
  def untilStreak(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val raw = matchUsers(eventRows(spark, sfDir), untilPattern)((uid, m) =>
      m.first("S").zip(m.first("P")).map { case (s, p) => (uid, s.ts_us, p.ts_us, m("B").size) })
    raw.toDF("user_id", "signup_us", "purchase_us", "n_between")
      .select($"user_id", sec($"signup_us").as("signup_ts"),
        sec($"purchase_us").as("purchase_ts"), $"n_between")
      .orderBy($"user_id", $"signup_ts", $"purchase_ts")
  }

  /** Funnel matches: `(user_id, signup_ts, purchase_ts, n_engagement)`. */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val raw = matchUsers(eventRows(spark, sfDir), funnelPattern)((uid, m) =>
      m.first("S").zip(m.first("P")).map { case (s, p) => (uid, s.ts_us, p.ts_us, m("E").size) })
    raw.toDF("user_id", "signup_us", "purchase_us", "n_engagement")
      .select($"user_id", sec($"signup_us").as("signup_ts"),
        sec($"purchase_us").as("purchase_ts"), $"n_engagement")
      .orderBy($"user_id", $"signup_ts")
  }
}

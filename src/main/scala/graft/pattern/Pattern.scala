package graft.pattern

/** Declarative event-pattern DSL — the engine's equivalent of the reference's
  * Flink CEP `Pattern` API (`/root/reference/src/main/scala/kosmag/FlinkCEPExample.scala:58-74`)
  * and of the `PATTERN (A B* C) ... DEFINE` clause of SQL MATCH_RECOGNIZE
  * (`FlinkSqlMatchRecognizeExample.scala:50-68`).
  *
  * A pattern is an ordered sequence of [[Stage]]s. Each stage has:
  *   - a name (the pattern variable, e.g. "A"),
  *   - a predicate over the event type,
  *   - a quantifier `(min, max)` — `(1,1)` singleton, `(0,1)` optional,
  *     `(1,∞)` oneOrMore, `(0,∞)` oneOrMore.optional, `(n,n)` times(n),
  *   - the contiguity to the PREVIOUS stage (`next` = strict, `followedBy` =
  *     relaxed, `followedByAny` = non-deterministic relaxed),
  *   - the internal contiguity between repetitions of a looping stage
  *     (relaxed by default, strict after `.consecutive()`, non-deterministic
  *     after `.allowCombinations()`).
  *
  * The compiled form is interpreted by [[NFA]]. No Spark dependency here —
  * the core is pure Scala and unit-testable without a session.
  */
sealed trait Contiguity
object Contiguity {
  /** `next()` — the matching event must be the immediate successor. */
  case object Strict extends Contiguity
  /** `followedBy()` — non-matching events in between are ignored. */
  case object Relaxed extends Contiguity
  /** `followedByAny()` — matching events may also be skipped (branching). */
  case object NonDeterministic extends Contiguity
}

/** After-match skip strategy — reference: `AfterMatchSkipStrategy.skipPastLastEvent()`
  * (`FlinkCEPExample.scala:58`) / SQL `AFTER MATCH SKIP PAST LAST ROW`
  * (`FlinkSqlMatchRecognizeExample.scala:61`).
  */
sealed trait AfterMatchSkip
object AfterMatchSkip {
  /** Emit every match, prune nothing: fully overlapping matches allowed. */
  case object NoSkip extends AfterMatchSkip
  /** Resume after the last event of a completed match; prune all partial
    * matches that overlap it (no overlapping matches). */
  case object SkipPastLastEvent extends AfterMatchSkip
  /** Prune only partial matches that share the completed match's start event. */
  case object SkipToNext extends AfterMatchSkip
  /** Prune partial matches starting before the first event bound to `variable`. */
  final case class SkipToFirst(variable: String) extends AfterMatchSkip
  /** Prune partial matches starting before the last event bound to `variable`. */
  final case class SkipToLast(variable: String) extends AfterMatchSkip
}

/** Read-only view of a partial match's bound events, available to iterative
  * conditions (the engine's analog of Flink's `IterativeCondition.Context`).
  */
trait PatternContext[T] {
  /** Events bound to `stage` so far, in consumption order. */
  def apply(stage: String): Vector[T]
  def first(stage: String): Option[T] = apply(stage).headOption
  def last(stage: String): Option[T] = apply(stage).lastOption
  /** PHYSICAL navigation: the event `n` positions before the CURRENT
    * candidate in the key's fed sequence (n=1 → immediate predecessor),
    * independent of the match mapping — SQL `PREV` semantics. Available
    * only when the pattern declares [[Pattern.historyDepth]] ≥ n. */
  def recent(n: Int): Option[T] = None
}

/** One pattern variable. `max = Int.MaxValue` encodes unbounded repetition.
  * `pred` sees the candidate event and the partial match's current bindings
  * (simple conditions ignore the context — no cost, it's computed lazily).
  */
final case class Stage[T](
    name: String,
    pred: (T, PatternContext[T]) => Boolean,
    min: Int,
    max: Int,
    contiguity: Contiguity,
    internal: Contiguity,
    greedy: Boolean = true,
    /** Loop STOP condition (Flink `until`, Pattern API): an event matching
      * it is never accepted into the loop (take blocked — including the
      * first take) and a partial resident INSIDE the loop may not ignore
      * past it either: it can only proceed to a later stage (if its minimum
      * is met) or die — which releases its state immediately, the
      * state-cleaning point of Flink's until. Matters whenever the loop
      * condition and the exit condition overlap; complementary loop/exit
      * predicates (the reference's B/C split, `FlinkCEPExample.scala:64-73`)
      * are the lucky special case that never needs it. */
    until: Option[(T, PatternContext[T]) => Boolean] = None) {
  def isLoop: Boolean = max > 1
  def optionalEntry: Boolean = min == 0
}

object Stage {
  def simple[T](name: String, p: T => Boolean, min: Int, max: Int,
                contiguity: Contiguity, internal: Contiguity): Stage[T] =
    Stage(name, (e, _) => p(e), min, max, contiguity, internal)
}

/** A NEGATIVE pattern stage (Flink `notFollowedBy` / `notNext`): binds no
  * events; instead it guards the gap before the following real stage. A
  * partial match that observes a guard-matching event in that gap cannot
  * enter the guarded stage until it consumes another event first (which, for
  * a preceding loop, restarts the gap; otherwise the partial is dead).
  */
sealed trait Guard[T] {
  def name: String
  def pred: (T, PatternContext[T]) => Boolean
  def withPred(p: (T, PatternContext[T]) => Boolean): Guard[T]
}
object Guard {
  /** `notFollowedBy`: NO event in the whole gap may match. */
  final case class NotFollowed[T](name: String, pred: (T, PatternContext[T]) => Boolean)
    extends Guard[T] {
    def withPred(p: (T, PatternContext[T]) => Boolean): Guard[T] = copy(pred = p)
  }
  /** `notNext`: the IMMEDIATE successor of the previous stage's last event
    * may not match (later gap events are unconstrained). */
  final case class NotNext[T](name: String, pred: (T, PatternContext[T]) => Boolean)
    extends Guard[T] {
    def withPred(p: (T, PatternContext[T]) => Boolean): Guard[T] = copy(pred = p)
  }
}

/** Explicit successor structure for NON-LINEAR patterns (alternation of
  * sequences, group loops `(A B)+`, PERMUTE): `edges(i)` lists the stage
  * indices that may follow stage `i`, in SQL preference order, with
  * `stages.length` as the accepting-state sentinel; `starts` lists the entry
  * stages, again in preference order. A linear pattern (every Flink-DSL
  * pattern) has no graph — the runner defaults to the `i + 1` chain.
  * Built by [[RowPattern]]'s Glushkov construction for MATCH_RECOGNIZE.
  */
final case class NfaGraph(starts: List[Int], edges: Vector[List[Int]])

final case class Pattern[T](
    stages: Vector[Stage[T]],
    withinMs: Option[Long],
    skip: AfterMatchSkip,
    /** Guards keyed by the index of the real stage they precede. */
    guards: Map[Int, Guard[T]] = Map.empty[Int, Guard[T]],
    /** A negative stage declared but not yet anchored by a following real
      * stage. A complete pattern must not have one (negation needs a right
      * anchor — same restriction as Flink's trailing `notFollowedBy`). */
    pendingGuard: Option[Guard[T]] = None,
    /** How many physical predecessors [[PatternContext.recent]] must serve
      * (0 = none kept). The runner keeps a ring of the last `historyDepth`
      * fed events per key — state cost O(historyDepth), snapshot-carried. */
    historyDepth: Int = 0,
    /** Successor graph for non-linear patterns; None = linear `i + 1` chain.
      * Incompatible with negative guards (graph patterns come from strict
      * row-pattern SQL, which has no notFollowedBy). */
    graph: Option[NfaGraph] = None) {

  /** The NFA structure of this instance, built on first use and shared by
    * all its runners on any thread; a deserialized copy builds its own. */
  @transient private[pattern] lazy val structure: NfaStructure[T] = new NfaStructure(this)

  /** Enable physical `recent(n)` navigation up to offset `n` in conditions. */
  def withHistory(n: Int): Pattern[T] = copy(historyDepth = math.max(historyDepth, n))

  private def updLast(f: Stage[T] => Stage[T]): Pattern[T] = pendingGuard match {
    case Some(_) => throw new IllegalArgumentException(
      "quantifiers are not applicable to a negative pattern stage")
    case None => copy(stages = stages.init :+ f(stages.last))
  }

  // where/or on a pending negative stage refine the guard's predicate.
  private def updPred(
      and: ((T, PatternContext[T]) => Boolean, (T, PatternContext[T]) => Boolean) =>
        (T, PatternContext[T]) => Boolean,
      p: (T, PatternContext[T]) => Boolean): Pattern[T] =
    pendingGuard match {
      case Some(g) => copy(pendingGuard = Some(g.withPred(and(g.pred, p))))
      case None =>
        copy(stages = stages.init :+ {
          val s = stages.last
          s.copy(pred = and(s.pred, p))
        })
    }

  /** AND an additional condition onto the current (or negative) stage. */
  def where(p: T => Boolean): Pattern[T] =
    updPred((a, b) => (e, c) => a(e, c) && b(e, c), (e, _) => p(e))

  /** AND an ITERATIVE condition (sees the partial match's bindings — the
    * analog of Flink's IterativeCondition, e.g. "C's value exceeds first
    * A's"). */
  def whereContext(p: (T, PatternContext[T]) => Boolean): Pattern[T] =
    updPred((a, b) => (e, c) => a(e, c) && b(e, c), p)

  /** OR an alternative condition onto the current (or negative) stage. */
  def or(p: T => Boolean): Pattern[T] =
    updPred((a, b) => (e, c) => a(e, c) || b(e, c), (e, _) => p(e))

  /** Restrict the current stage to events of runtime class `S` — Flink's
    * `subtype(SubEvent.class)` (the one condition combinator a migrating
    * user reaches for on an ADT event stream). ANDs like [[where]]: a
    * non-`S` event can never match this stage. Class-level only (erasure
    * — `subtype[Wrap[Int]]` checks `Wrap`), exactly Flink's semantics;
    * refine fields with a following [[where]]. */
  def subtype[S <: T](implicit ct: scala.reflect.ClassTag[S]): Pattern[T] =
    where(e => ct.runtimeClass.isInstance(e))

  private def append(name: String, c: Contiguity): Pattern[T] = {
    val np = copy(
      stages = stages :+ Stage.simple[T](name, _ => true, 1, 1, c, Contiguity.Relaxed),
      pendingGuard = None)
    pendingGuard match {
      case Some(g) => np.copy(guards = guards + ((stages.length) -> g))
      case None => np
    }
  }

  /** Strict contiguity to the previous stage (Flink `next`). */
  def next(name: String): Pattern[T] = append(name, Contiguity.Strict)
  /** Relaxed contiguity (Flink `followedBy`). */
  def followedBy(name: String): Pattern[T] = append(name, Contiguity.Relaxed)
  /** Non-deterministic relaxed contiguity (Flink `followedByAny`). */
  def followedByAny(name: String): Pattern[T] = append(name, Contiguity.NonDeterministic)

  /** Negative stage (Flink `notFollowedBy`): no event matching it may occur
    * between the previous stage and the NEXT declared stage. Must be
    * followed by a real stage before the pattern runs. Refine with
    * `.where(...)`; a bare `notFollowedBy` forbids every event (equivalent
    * to requiring strict contiguity across the gap). */
  def notFollowedBy(name: String): Pattern[T] = {
    require(pendingGuard.isEmpty, "consecutive negative stages are not supported")
    copy(pendingGuard = Some(Guard.NotFollowed[T](name, (_, _) => true)))
  }

  /** Negative stage (Flink `notNext`): the event IMMEDIATELY after the
    * previous stage must not match. Must be followed by a real stage. */
  def notNext(name: String): Pattern[T] = {
    require(pendingGuard.isEmpty, "consecutive negative stages are not supported")
    copy(pendingGuard = Some(Guard.NotNext[T](name, (_, _) => true)))
  }

  /** Current stage repeats 1..∞ times. */
  def oneOrMore: Pattern[T] = updLast(_.copy(min = 1, max = Int.MaxValue))
  /** Current stage repeats exactly `n` times. */
  def times(n: Int): Pattern[T] = updLast(_.copy(min = n, max = n))
  /** Current stage repeats `from`..`to` times. */
  def times(from: Int, to: Int): Pattern[T] = updLast(_.copy(min = from, max = to))
  /** Current stage repeats `n`..∞ times (Flink `timesOrMore`). */
  def timesOrMore(n: Int): Pattern[T] = updLast(_.copy(min = n, max = Int.MaxValue))
  /** Lower the current stage's minimum to zero (combine with oneOrMore for `*`). */
  def optional: Pattern[T] = updLast(_.copy(min = 0))
  /** Repetitions of the current (looping) stage must be strictly contiguous. */
  def consecutive: Pattern[T] = updLast(_.copy(internal = Contiguity.Strict))
  /** Repetitions may non-deterministically skip matching events. */
  def allowCombinations: Pattern[T] = updLast(_.copy(internal = Contiguity.NonDeterministic))

  /** Loop STOP condition on the current looping stage (Flink `until`):
    * an event matching `p` is never taken into the loop, and a partial
    * inside the loop cannot ignore past it — it proceeds (minimum met) or
    * dies, releasing its state. Use when the loop predicate and the exit
    * predicate overlap, where plain `where` cannot stop consumption. */
  def until(p: T => Boolean): Pattern[T] = untilContext((e, _) => p(e))

  /** [[until]] with an ITERATIVE stop condition (sees current bindings). */
  def untilContext(p: (T, PatternContext[T]) => Boolean): Pattern[T] =
    updLast { s =>
      require(s.isLoop,
        "until() requires a looping quantifier on the current stage — call " +
          "oneOrMore/times(from, to) first (Flink: applicable only in " +
          "conjunction with oneOrMore())")
      require(s.until.isEmpty, "until() is already set on this stage")
      s.copy(until = Some(p))
    }

  /** Prefer the LONGEST reading when several complete together (default). */
  def greedy: Pattern[T] = updLast(_.copy(greedy = true))
  /** Prefer the SHORTEST reading when several complete together (affects
    * which simultaneous completion wins under single-winner skip modes). */
  def reluctant: Pattern[T] = updLast(_.copy(greedy = false))

  /** Whole-match time horizon: last event ts must be < first event ts + millis
    * (reference: `within(Time.hours(1))`, `FlinkCEPExample.scala:74`). */
  def within(millis: Long): Pattern[T] = copy(withinMs = Some(millis))

  def withSkipStrategy(s: AfterMatchSkip): Pattern[T] = copy(skip = s)

  def stageNames: Vector[String] = stages.map(_.name)

  /** Re-target the pattern onto a wrapper/projection of the event type
    * (e.g. the same events with a watermark timestamp column attached). */
  def contramap[U](f: U => T): Pattern[U] = {
    def liftCtx(ctx: PatternContext[U]): PatternContext[T] = new PatternContext[T] {
      def apply(stage: String): Vector[T] = ctx(stage).map(f)
      override def recent(n: Int): Option[T] = ctx.recent(n).map(f)
    }
    def liftPred(p: (T, PatternContext[T]) => Boolean): (U, PatternContext[U]) => Boolean =
      (u, ctx) => p(f(u), liftCtx(ctx))
    Pattern(
      stages.map { s =>
        Stage[U](s.name, liftPred(s.pred), s.min, s.max, s.contiguity,
          s.internal, s.greedy, s.until.map(liftPred))
      },
      withinMs, skip,
      guards.map {
        case (i, Guard.NotFollowed(n, p)) => i -> Guard.NotFollowed[U](n, liftPred(p))
        case (i, Guard.NotNext(n, p)) => i -> Guard.NotNext[U](n, liftPred(p))
      },
      pendingGuard.map {
        case Guard.NotFollowed(n, p) => Guard.NotFollowed[U](n, liftPred(p))
        case Guard.NotNext(n, p) => Guard.NotNext[U](n, liftPred(p))
      },
      historyDepth,
      graph)
  }
}

object Pattern {
  /** Start a pattern with its first variable (Flink `Pattern.begin`). */
  def begin[T](name: String,
               skip: AfterMatchSkip = AfterMatchSkip.NoSkip): Pattern[T] =
    Pattern(Vector(Stage.simple[T](name, _ => true, 1, 1, Contiguity.Strict, Contiguity.Relaxed)),
      None, skip)
}

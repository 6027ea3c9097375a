package graft.pattern

import scala.collection.mutable
import scala.collection.mutable.{ArrayBuffer, ListBuffer}

/** NFA machinery for [[Pattern]] over a single key's event-time-ordered
  * event sequence.
  *
  * Semantics follow the reference's Flink CEP runtime as pinned by the golden
  * fixtures (`/root/reference/src/test/resources/`) and SURVEY.md §2.2:
  *   - per-event stage predicates,
  *   - quantifiers with strict / relaxed / non-deterministic contiguity
  *     (between stages and inside loops),
  *   - `within` horizon: an event at ts >= start + within cannot extend a
  *     partial match; the partial match TIMES OUT instead (absence detection,
  *     `FlinkCEPAbsenceOfEventExample.scala:78-104`),
  *   - after-match skip strategies (`SKIP PAST LAST ROW` etc.),
  *   - timeouts fire when the watermark (event time in batch) passes a
  *     partial match's deadline.
  *
  * [[NfaRunner]] is INCREMENTAL: feed events one at a time (in event-time
  * order), advance the watermark, snapshot/restore its state. Two drivers
  * feed it: [[NFA.runKeyed]], the batch pass over one partition of many
  * keys sorted by event time (a runner per key with live state, outputs
  * emitted as produced), and the Structured Streaming `transformWithState`
  * processor (state store round-trips between micro-batches).
  *
  * State-size contract (100 TB note): live partials per key are bounded by
  * the `within` horizon — every partial older than `within` is retired at the
  * next event/watermark — and `SkipPastLastEvent` prunes all overlap after
  * each match, so memory is O(events-in-horizon × pattern-branching),
  * independent of total stream length.
  */
object NFA {

  /** A completed match: events bound per stage, in stage order then event
    * order; `events` is every consumed event with its stage name in
    * CONSUMPTION order (the two views coincide for linear patterns, but for
    * graph patterns — PERMUTE, group loops — only `events` preserves the
    * interleaving). */
  final case class PatternMatch[T](
      bindings: Map[String, Vector[T]],
      startTs: Long,
      endTs: Long,
      events: Vector[(String, T)] = Vector.empty) {
    def apply(stage: String): Vector[T] = bindings.getOrElse(stage, Vector.empty)
    def first(stage: String): Option[T] = apply(stage).headOption
    def last(stage: String): Option[T] = apply(stage).lastOption
  }

  /** A timed-out partial match (absence detection). `deadline` = start + within. */
  final case class PatternTimeout[T](
      bindings: Map[String, Vector[T]],
      startTs: Long,
      deadline: Long) {
    def apply(stage: String): Vector[T] = bindings.getOrElse(stage, Vector.empty)
    def first(stage: String): Option[T] = apply(stage).headOption
  }

  /** One consumed event inside a partial match. */
  final case class Consumed[T](stage: Int, idx: Long, ev: T)

  /** A live partial match. Resident position: taken == 0 → about to enter
    * `stage`; taken > 0 → inside looping `stage` after `taken` events.
    * `consumed` is in reverse order. `tripped` holds stages whose preceding
    * negative guard has observed a forbidden event since the last take —
    * entering a tripped stage is blocked; any take resets the set (a new
    * gap begins).
    */
  final case class Partial[T](
      stage: Int,
      taken: Int,
      consumed: List[Consumed[T]],
      startIdx: Long,
      startTs: Long,
      tripped: Set[Int] = Set.empty,
      /** Graph-mode derivation ranks (SQL preference): the i-th element is
        * the index of the position chosen at the i-th TAKE, within the
        * parent's preference-ordered position list. Lexicographically
        * smaller = preferred (leftmost alternation branch, greedy loop).
        * Empty in linear mode — legacy resolution never reads it. */
      ranks: Vector[Int] = Vector.empty) {
    /** Cached: computed once per Partial instead of per HashSet probe /
      * champion-liveness scan (the per-event hot path allocates one List
      * per call otherwise; ignored by SnapshotCodec, which writes fields). */
    lazy val dedupKey: (Int, Int, List[(Int, Long)], Set[Int]) =
      (stage, taken, consumed.map(c => (c.stage, c.idx)), tripped)
    def contentKey: List[(Int, Long)] = consumed.map(c => (c.stage, c.idx))
  }

  /** Serializable snapshot of a runner's mutable state (streaming state store).
    * `champion` is a completed-but-still-extendable maximal-match candidate
    * (trailing greedy loop, single-winner skip) with its completion endTs. */
  final case class Snapshot[T](
      partials: List[Partial[T]],
      minStartIdx: Long,
      nextIdx: Long,
      champion: Option[(Partial[T], Long)] = None,
      /** Last `historyDepth` fed events (oldest first) for physical
        * `PatternContext.recent` navigation. */
      history: List[T] = Nil,
      /** Graph-mode deferred completions (with completion endTs): mutually
        * non-overlapping, in preference order, each waiting for every
        * preferred live partial to die before it may emit. */
      deferred: List[(Partial[T], Long)] = Nil)

  /** Single-key run over a sorted iterator, collected: feed every event,
    * then flush (batch = closed stream → remaining partials time out). The
    * reference the batch driver [[runKeyed]] is checked against. */
  def run[T](
      events: Iterator[T],
      ts: T => Long,
      pattern: Pattern[T]): (Vector[PatternMatch[T]], Vector[PatternTimeout[T]]) = {
    val runner = new NfaRunner[T](pattern, ts)
    val matches = Vector.newBuilder[PatternMatch[T]]
    val timeouts = Vector.newBuilder[PatternTimeout[T]]
    events.foreach { e =>
      val (ms, tos) = runner.onEvent(e)
      matches ++= ms
      timeouts ++= tos
    }
    val (fm, ft) = runner.flush()
    matches ++= fm
    timeouts ++= ft
    (matches.result(), timeouts.result())
  }

  /** Batch driver over one partition of many keys: `events` sorted by event
    * time (any tie order that keeps each key's events in its own order).
    * Each event goes to its key's [[NfaRunner]], so every key sees the calls
    * of a per-key [[run]] and produces the same matches, in the same order,
    * and the same timeouts. Outputs leave as they are produced.
    *
    * Memory is the runners with live state. A runner that goes idle is
    * dropped at once (an idle runner behaves as a fresh one). A runner whose
    * latest deadline the partition's event time has passed is retired
    * through `onWatermark(now)`, the call its key's next event would make.
    * If the key has no later event, per-key [[run]] would `flush` instead;
    * the two agree unless graph-mode completions are deferred, so a runner
    * holding those is not retired early and waits for its key's next event
    * or the partition end. Runners live at the partition end are flushed.
    * With `within` every live runner belongs to a key with an event inside
    * the last `within` horizon; a pattern without `within` keeps its
    * runners until the key goes idle or the partition ends, and a pattern
    * with physical history (`PREV`) keeps one per key seen. */
  def runKeyed[K, T, O](
      events: Iterator[T],
      keyFn: T => K,
      tsFn: T => Long,
      pattern: Pattern[T])(
      onMatch: (K, PatternMatch[T]) => IterableOnce[O],
      onTimeout: (K, PatternTimeout[T]) => IterableOnce[O]): KeyedRun[K, T, O] =
    new KeyedRun(events, keyFn, tsFn, pattern, onMatch, onTimeout)

  /** The iterator [[runKeyed]] returns; `liveRunners` exposes its memory. */
  final class KeyedRun[K, T, O] private[NFA] (
      events: Iterator[T],
      keyFn: T => K,
      tsFn: T => Long,
      pattern: Pattern[T],
      onMatch: (K, PatternMatch[T]) => IterableOnce[O],
      onTimeout: (K, PatternTimeout[T]) => IterableOnce[O])
      extends scala.collection.AbstractIterator[O] {

    private final class Live(val runner: NfaRunner[T]) {
      var scheduled: Long = Long.MinValue // latest deadline queued in `due`
    }
    private val live = mutable.HashMap.empty[K, Live]
    // (deadline, key) in nondecreasing deadline order: a runner's latest
    // deadline grows only when a partial starts, at the current event time.
    private val due = mutable.Queue.empty[(Long, K)]
    // An idle runner, fed the events of keys that have none.
    private var spare: NfaRunner[T] = null
    private val out = mutable.Queue.empty[O]
    private var done = false

    /** Keys holding a runner right now. */
    def liveRunners: Int = live.size

    def hasNext: Boolean = {
      while (out.isEmpty && !done) step()
      out.nonEmpty
    }

    def next(): O = if (hasNext) out.dequeue() else Iterator.empty.next()

    private def emit(k: K, res: (List[PatternMatch[T]], List[PatternTimeout[T]])): Unit = {
      res._1.foreach(m => out ++= onMatch(k, m))
      res._2.foreach(to => out ++= onTimeout(k, to))
    }

    private def drop(k: K, r: NfaRunner[T]): Unit = {
      live.remove(k)
      spare = r
    }

    private def schedule(k: K, l: Live): Unit = l.runner.latestDeadline match {
      case Some(d) if d > l.scheduled =>
        l.scheduled = d
        due.enqueue((d, k))
      case _ => ()
    }

    private def step(): Unit =
      if (events.hasNext) {
        val e = events.next()
        val t = tsFn(e)
        while (due.nonEmpty && due.head._1 <= t) {
          val (d, k) = due.dequeue()
          live.getOrElse(k, null) match {
            case l: Live if l.scheduled == d && !l.runner.hasDeferred =>
              emit(k, l.runner.onWatermark(t))
              if (!l.runner.hasLiveState) drop(k, l.runner)
            case _ => ()
          }
        }
        val k = keyFn(e)
        val l = live.getOrElse(k, null)
        val r =
          if (l != null) l.runner
          else {
            if (spare == null) spare = new NfaRunner[T](pattern, tsFn)
            spare
          }
        emit(k, r.onEvent(e))
        if (!r.hasLiveState) { if (l != null) drop(k, r) }
        else if (l != null) schedule(k, l)
        else {
          spare = null
          val nl = new Live(r)
          live.update(k, nl)
          schedule(k, nl)
        }
      } else {
        live.foreach { case (k, l) => emit(k, l.runner.flush()) }
        live.clear()
        due.clear()
        done = true
      }
  }
}

/** Incremental NFA executor for one key. NOT thread-safe. */
final class NfaRunner[T](val pattern: Pattern[T], tsFn: T => Long) extends Serializable {
  import NFA._

  require(pattern.pendingGuard.isEmpty,
    "pattern must not end with a negative stage (notFollowedBy/notNext need a following stage)")
  require(pattern.graph.isEmpty || pattern.guards.isEmpty,
    "graph patterns do not support negative guards")

  private val stages = pattern.stages
  private val n = stages.length
  private val within = pattern.withinMs
  private val guards = pattern.guards
  // Successor stages in preference order (index n = accepting sentinel);
  // linear chain unless the pattern carries an explicit graph.
  private val succ: Int => List[Int] = pattern.graph match {
    case Some(g) => i => g.edges(i)
    case None => i => List(i + 1)
  }
  private val starts: List[Int] = pattern.graph.map(_.starts).getOrElse(List(0))
  // Greedy (default): longest simultaneous completion wins under
  // single-winner skip modes; any reluctant loop flips to shortest.
  private val lenPref: Int => Int =
    if (stages.filter(_.isLoop).forall(_.greedy)) len => -len else len => len

  // Maximal-match deferral (SQL greedy semantics): when the pattern ENDS in
  // a greedy loop under a single-winner skip mode, a completion that can
  // still extend is held here (with its completion endTs) instead of being
  // emitted; it is replaced by longer completions of the same attempt and
  // emitted only when the attempt can no longer grow (branch death, within
  // horizon, or end of input).
  private val preferLongest = stages.filter(_.isLoop).forall(_.greedy)
  private var champion: Option[(Partial[T], Long)] = None

  // Graph mode: SQL:2016 lexicographic preference (leftmost start, then
  // derivation ranks — leftmost alternation branch / greedy continuation)
  // replaces the linear first-complete-wins resolution. `deferredCands`
  // holds completed matches that a preferred live partial could still
  // displace, mutually non-overlapping, in preference order.
  private val graphMode = pattern.graph.isDefined
  private var deferredCands: List[(Partial[T], Long)] = Nil

  private var partials = ArrayBuffer.empty[Partial[T]]
  private var minStartIdx = 0L // SkipPastLastEvent: no starts at or before this
  private var nextIdx = 0L

  // Physical-history ring for PatternContext.recent (PREV navigation);
  // bounded by the pattern's declared historyDepth, zero-cost when unused.
  private var history: Vector[T] = Vector.empty

  def snapshot(): Snapshot[T] =
    Snapshot(partials.toList, minStartIdx, nextIdx, champion, history.toList,
      deferredCands)

  def restore(s: Snapshot[T]): Unit = {
    partials = ArrayBuffer.from(s.partials)
    minStartIdx = s.minStartIdx
    nextIdx = s.nextIdx
    champion = s.champion
    history = s.history.toVector
    deferredCands = s.deferred
  }

  // History counts as live state: physical PREV navigation must survive
  // across match boundaries and quiet periods (O(historyDepth) per key,
  // paid only by patterns that declare it).
  def hasLiveState: Boolean =
    partials.nonEmpty || champion.isDefined || deferredCands.nonEmpty ||
      (pattern.historyDepth > 0 && history.nonEmpty)

  /** Earliest pending timeout deadline, if any (streaming timer target). */
  def earliestDeadline: Option[Long] =
    within.flatMap(w =>
      (partials.map(_.startTs + w) ++ champion.map(_._1.startTs + w) ++
        deferredCands.map(_._1.startTs + w)).minOption)

  /** Latest pending timeout deadline, if any: a watermark at or past it
    * leaves no partial, champion or deferred completion alive (batch
    * driver retirement). */
  def latestDeadline: Option[Long] = within match {
    case Some(w) if partials.nonEmpty || champion.isDefined || deferredCands.nonEmpty =>
      var s = Long.MinValue
      partials.foreach(p => s = math.max(s, p.startTs))
      champion.foreach(c => s = math.max(s, c._1.startTs))
      deferredCands.foreach(c => s = math.max(s, c._1.startTs))
      Some(s + w)
    case _ => None
  }

  /** Graph-mode completions are waiting on a preferred partial. `flush`
    * replays them with exact resume points and `onWatermark` does not, so
    * the two may disagree while any wait. */
  def hasDeferred: Boolean = deferredCands.nonEmpty

  /** SQL preference order on derivations: earlier start wins; same start →
    * lexicographic on ranks; equal prefix → the LONGER derivation wins
    * (greedy: continuing or binding more beats accepting). Negative = `a`
    * preferred. */
  private def prefCmp(a: Partial[T], b: Partial[T]): Int = {
    if (a.startIdx != b.startIdx) return java.lang.Long.compare(a.startIdx, b.startIdx)
    val ar = a.ranks; val br = b.ranks
    val m = math.min(ar.length, br.length)
    var i = 0
    while (i < m) {
      val c = java.lang.Integer.compare(ar(i), br(i))
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(br.length, ar.length)
  }

  private def lastIdxOf(p: Partial[T]): Long = p.consumed.head.idx

  /** Where the sequential scan resumes after this match emits, per the
    * after-match skip strategy — INCLUSIVE: the next match may start at the
    * returned index. SQL:2016 makes two skips runtime errors because they
    * cannot make progress: TO FIRST/LAST of a variable the match never
    * bound, and a skip landing on the match's own first row (infinite
    * loop). With `strict = false` (pruning bounds for candidates that may
    * never emit) both degenerate cases fall back to the most conservative
    * legal resume, `startIdx + 1`, and the error is raised only if the
    * match actually emits. */
  private def resumeOf(p: Partial[T], strict: Boolean): Long =
    pattern.skip match {
      case AfterMatchSkip.SkipPastLastEvent => lastIdxOf(p) + 1
      case AfterMatchSkip.SkipToNext => p.startIdx + 1
      case AfterMatchSkip.SkipToFirst(v) => skipTargetIdx(p, v, first = true, strict)
      case AfterMatchSkip.SkipToLast(v) => skipTargetIdx(p, v, first = false, strict)
      case AfterMatchSkip.NoSkip => p.startIdx + 1 // not used by graph resolve
    }

  private def skipTargetIdx(p: Partial[T], v: String, first: Boolean, strict: Boolean): Long = {
    val which = if (first) "FIRST" else "LAST"
    var bound = -1L
    p.consumed.foreach { c =>
      if (stages(c.stage).name == v)
        bound =
          if (bound < 0) c.idx
          else if (first) math.min(bound, c.idx) else math.max(bound, c.idx)
    }
    if (bound < 0) {
      if (strict) throw new IllegalStateException(
        s"AFTER MATCH SKIP TO $which $v: the match contains no row for $v")
      p.startIdx + 1
    } else if (bound == p.startIdx) {
      if (strict) throw new IllegalStateException(
        s"AFTER MATCH SKIP TO $which $v: resuming at the match's own first " +
          "row would loop forever")
      p.startIdx + 1
    } else bound
  }

  private def toMatch(p: Partial[T], endTs: Long): PatternMatch[T] =
    PatternMatch(toBindings(p.consumed), p.startTs, endTs, toEvents(p.consumed))

  // Stages reachable for ENTRY from `s` (inclusive) by epsilon-skipping
  // optional stages, in preference order; includes the accepting sentinel
  // `n` when the remainder is fully skippable. Cycle-safe (group loops can
  // route back through optional stages) and memoized — the walk is pure
  // graph structure.
  private val entryChainMemo = scala.collection.mutable.HashMap.empty[Int, List[Int]]
  private def entryChain(s: Int): List[Int] = entryChainMemo.getOrElseUpdate(s, {
    val out = ListBuffer.empty[Int]
    val seen = scala.collection.mutable.HashSet.empty[Int]
    def go(u: Int): Unit = if (seen.add(u)) {
      out += u
      if (u < n && stages(u).optionalEntry) succ(u).foreach(go)
    }
    go(s)
    out.toList
  })

  // Entry positions following `from` stages, deduped keeping preference order.
  private def entriesAfter(from: List[Int]): List[Int] = {
    val seen = scala.collection.mutable.HashSet.empty[Int]
    from.flatMap(entryChain).filter(u => u < n && seen.add(u))
  }

  private val initialEntries: List[Int] = entriesAfter(starts)

  // Per-stage position-list caches: positions() runs twice per partial per
  // event (step + liveness check on the successor), and everything except
  // the loop-self element is a pure function of the stage — memoized lists
  // make the hot path allocation-free but behavior-identical.
  private val posEntryMemo = scala.collection.mutable.HashMap.empty[Int, List[(Int, Int)]]
  private def posEntry(s: Int): List[(Int, Int)] =
    posEntryMemo.getOrElseUpdate(s, entryChain(s).filter(_ < n).map(u => (u, 0)))
  private val posProceedMemo = scala.collection.mutable.HashMap.empty[Int, List[(Int, Int)]]
  private def posProceed(s: Int): List[(Int, Int)] =
    posProceedMemo.getOrElseUpdate(s, entriesAfter(succ(s)).map(u => (u, 0)))

  private def positions(p: Partial[T]): List[(Int, Int)] =
    if (p.taken == 0) posEntry(p.stage)
    else {
      val proceed =
        if (p.taken >= stages(p.stage).min) posProceed(p.stage) else Nil
      if (p.taken < stages(p.stage).max) (p.stage, p.taken) :: proceed else proceed
    }

  // Lazy bindings view for iterative conditions (simple conditions never
  // force it, so the common path allocates nothing but the closure).
  private def ctxOf(p: Partial[T]): PatternContext[T] = new PatternContext[T] {
    private lazy val b = toBindings(p.consumed)
    def apply(stage: String): Vector[T] = b.getOrElse(stage, Vector.empty)
    // history excludes the current candidate (appended AFTER stepping)
    override def recent(n: Int): Option[T] =
      if (n >= 1 && n <= history.length) Some(history(history.length - n)) else None
  }

  private def ignoreAllowed(stage: Int, taken: Int, e: T, ctx: PatternContext[T]): Boolean = {
    if (stage >= n) return false
    val st = stages(stage)
    // Flink `until` stop condition: a partial INSIDE the loop (taken > 0)
    // may not ignore past a stop event — its only moves are proceeding to
    // a later stage (separate entry positions) or dying. A partial merely
    // WAITING to enter (taken == 0) ignores per the between-stage
    // contiguity; the stop condition governs loop consumption, not the gap
    // before the loop.
    if (taken > 0 && st.until.exists(_(e, ctx))) return false
    val c = if (taken == 0) st.contiguity else st.internal
    c match {
      case Contiguity.Strict => false
      case Contiguity.Relaxed => !st.pred(e, ctx)
      case Contiguity.NonDeterministic => true
    }
  }

  // Can `(stage, taken)` epsilon-reach the accepting state?
  private def accepting(stage: Int, taken: Int): Boolean =
    if (stage >= n) true
    else if (taken == 0) entryChain(stage).contains(n)
    else taken >= stages(stage).min && succ(stage).exists(entryChain(_).contains(n))

  // Keyed by stage NAME: a graph pattern may bind the same variable through
  // several stage occurrences (PERMUTE expansion, repeated variables) — all
  // merge into one vector in consumption order.
  private def toBindings(consumed: List[Consumed[T]]): Map[String, Vector[T]] =
    consumed.reverse
      .groupBy(c => stages(c.stage).name)
      .map { case (nm, evs) => nm -> evs.map(_.ev).toVector }

  private def toEvents(consumed: List[Consumed[T]]): Vector[(String, T)] =
    consumed.reverseIterator.map(c => (stages(c.stage).name, c.ev)).toVector

  private def toTimeout(p: Partial[T]): PatternTimeout[T] =
    PatternTimeout(toBindings(p.consumed), p.startTs, p.startTs + within.getOrElse(0L))

  /** Retire partials whose `within` horizon is at or before watermark `w`;
    * a deferred maximal-match champion whose horizon passed EMITS (it is a
    * completed match that merely could not extend further). */
  def onWatermark(w: Long): (List[PatternMatch[T]], List[PatternTimeout[T]]) =
    within match {
      case None => (Nil, Nil)
      case Some(h) =>
        val champ = champion match {
          case Some((ch, endTs)) if w >= ch.startTs + h =>
            minStartIdx = math.max(minStartIdx, lastIdxOf(ch) + 1)
            // the attempt family overlaps the emitted match: pruned silently
            partials.filterInPlace(_.startIdx >= minStartIdx)
            champion = None
            List(toMatch(ch, endTs))
          case _ => Nil
        }
        // Graph-mode deferred completions whose horizon passed emit now:
        // every preferred live partial starts at or before them, so its
        // horizon passed too — nothing can displace them anymore.
        val defEmit = ListBuffer.empty[PatternMatch[T]]
        if (deferredCands.nonEmpty) {
          val (expired, kept) = deferredCands.partition { case (p, _) => w >= p.startTs + h }
          expired.foreach { case (p, endTs) =>
            defEmit += toMatch(p, endTs)
            minStartIdx = math.max(minStartIdx, lastIdxOf(p) + 1)
          }
          if (expired.nonEmpty) {
            partials.filterInPlace(_.startIdx >= minStartIdx)
            deferredCands = kept.filter(_._1.startIdx >= minStartIdx)
          }
        }
        val (dead, alive) = partials.partition(p => w >= p.startTs + h)
        partials = alive
        // Branch partials may share an identical consumed set (they differ
        // only in resident NFA position); one timeout per distinct content.
        (champ ::: defEmit.toList, dead.distinctBy(_.contentKey).map(toTimeout).toList)
    }

  private val noOutput: (List[PatternMatch[T]], List[PatternTimeout[T]]) = (Nil, Nil)
  // The initial pseudo-partial's context: no bindings, no history.
  private val emptyCtx: PatternContext[T] = new PatternContext[T] with Serializable {
    def apply(stage: String): Vector[T] = Vector.empty
  }

  // Would an initial entry stage TAKE `e` (the initial step's take test)?
  private def startsMatch(e: T): Boolean = {
    var ss = initialEntries
    while (ss.nonEmpty) {
      val st = stages(ss.head)
      val stopped = st.until match {
        case Some(u) => u(e, emptyCtx)
        case None => false
      }
      if (!stopped && st.pred(e, emptyCtx)) return true
      ss = ss.tail
    }
    false
  }

  /** Feed the next event (must be >= all previously fed event times). */
  def onEvent(e: T): (List[PatternMatch[T]], List[PatternTimeout[T]]) = {
    // Idle fast path: with no live state, an event no initial entry stage
    // takes changes nothing but the event index.
    if (partials.isEmpty && champion.isEmpty && deferredCands.isEmpty &&
        pattern.historyDepth == 0 && !startsMatch(e)) {
      nextIdx += 1
      return noOutput
    }
    val t = tsFn(e)
    val i = nextIdx
    nextIdx += 1

    // 1. The event's own time is a watermark: horizons at or before it fire first.
    val (wmMatches, timeouts) = onWatermark(t)

    // 2. Advance every live partial plus the implicit initial state.
    val matches = ListBuffer.empty[PatternMatch[T]]
    val next = ArrayBuffer.empty[Partial[T]]
    val completed = ArrayBuffer.empty[Partial[T]]
    val seen = scala.collection.mutable.HashSet.empty[(Int, Int, List[(Int, Long)], Set[Int])]
    def add(p: Partial[T]): Unit = if (seen.add(p.dedupKey)) next += p

    def step(p: Partial[T], isInitial: Boolean): Unit = {
      val ctx = ctxOf(p)
      val posns = if (isInitial) initialEntries.map((_, 0)) else positions(p)
      // Stages whose preceding negative guard fires on THIS event (the gap
      // between the previous take and a future entry now contains a
      // forbidden event). Taking a stage on this same event still wins: the
      // forbidden range is exclusive of the event that anchors the entry.
      val trippedNow: Set[Int] =
        if (isInitial || guards.isEmpty) Set.empty
        else posns.iterator.collect { case (s, 0) => s }.flatMap { s =>
          guards.get(s) match {
            case Some(g: Guard.NotFollowed[T]) if g.pred(e, ctx) => Some(s)
            case Some(g: Guard.NotNext[T])
              if p.consumed.nonEmpty && i == p.consumed.head.idx + 1 &&
                g.pred(e, ctx) => Some(s)
            case _ => None
          }
        }.toSet
      posns.iterator.zipWithIndex.foreach { case ((s, taken), posIdx) =>
        if (s < n) {
          val st = stages(s)
          // TAKE (blocked into a stage whose guard tripped earlier in the
          // gap, or by the stage's `until` stop condition — a stop event is
          // never accepted into the loop, first take included)
          if (taken < st.max && !(taken == 0 && p.tripped(s)) &&
              !st.until.exists(_(e, ctx)) && st.pred(e, ctx)) {
            if (!isInitial || i >= minStartIdx) {
              val newTaken = taken + 1
              // residency stays at (s, newTaken); positions() derives the
              // successor entries from the graph, so no single "next stage"
              // need exist (alternation fan-out, loop-backs)
              val np = Partial(s, newTaken, Consumed(s, i, e) :: p.consumed,
                if (isInitial) i else p.startIdx,
                if (isInitial) t else p.startTs,
                Set.empty, // tripped resets: a take opens a new gap
                if (graphMode) p.ranks :+ posIdx else p.ranks)
              if (accepting(s, newTaken)) completed += np
              // Keep branches that can still advance alive (emit-and-continue
              // for trailing loops); fully-final completions are done.
              if (positions(np).nonEmpty) add(np)
            }
          }
          // IGNORE (not for the initial pseudo-partial: it is always present)
          if (!isInitial && ignoreAllowed(s, taken, e, ctx)) {
            val tr = p.tripped ++ trippedNow
            add(if (s == p.stage && taken == p.taken && tr == p.tripped) p
                else Partial(s, taken, p.consumed, p.startIdx, p.startTs, tr))
          }
        }
      }
    }

    partials.foreach(step(_, isInitial = false))
    step(Partial(0, 0, Nil, i, t), isInitial = true)

    // 3. Emit completions per the after-match skip strategy.
    def emitAllAndPruneBefore(v: String, first: Boolean): Unit = {
      var bound = Long.MaxValue
      completed.foreach { p =>
        matches += toMatch(p, t)
        val idxs = p.consumed.filter(c => stages(c.stage).name == v).map(_.idx)
        if (idxs.nonEmpty) bound = math.min(bound, if (first) idxs.min else idxs.max)
      }
      if (bound != Long.MaxValue)
        next.filterInPlace(p => p.startIdx >= bound)
    }

    // Sequential MATCH_RECOGNIZE semantics under SkipPastLastEvent: the
    // earliest-starting, then greediest, match wins and everything
    // overlapping is pruned. A winning completion that can still EXTEND
    // (trailing greedy loop) is deferred as `champion` — the maximal match
    // emits when the attempt can no longer grow.
    def resolveSkipPast(comp: Seq[Partial[T]]): Unit =
      if (comp.nonEmpty) {
        val win = comp.minBy(p => (p.startIdx, lenPref(p.consumed.length)))
        // Deferral applies only when the WINNING completion itself remains
        // live (trailing-loop/optional-tail position re-added to `next`) —
        // a completion whose resident position is final emits eagerly, the
        // sequential first-complete-wins semantics the fixtures pin.
        val extendable = preferLongest && next.exists(_.dedupKey == win.dedupKey)
        if (extendable) {
          champion = Some((win, t))
          // keep the winning attempt's family + attempts past its current end
          next.filterInPlace(p =>
            p.startIdx == win.startIdx || p.startIdx > lastIdxOf(win))
        } else {
          matches += toMatch(win, t)
          next.clear()
          minStartIdx = i + 1
        }
      }

    // Graph-mode after-match resolution: full SQL:2016 preference, for every
    // skip strategy. The best candidate (previously deferred or completed
    // now) emits only when no live partial is preferred over it (earlier
    // start, preferred branch, or a greedy continuation of the candidate
    // itself); otherwise it waits in `deferredCands`. On emit the sequential
    // scan resumes at `resumeOf` (PAST LAST ROW → after the match; TO NEXT
    // ROW → after the match's first row; TO FIRST/LAST v → at v's row —
    // overlapping later matches are then legal, so pruning keeps every
    // attempt starting at or after the resume point, not just attempts past
    // the match's end. Candidate ends only grow (completions arrive in end
    // order), so the keep-chain below is final.
    def resolveGraph(): Unit = {
      var cands = (deferredCands ::: completed.iterator.map(p => (p, t)).toList)
        .sortWith((a, b) => prefCmp(a._1, b._1) < 0)
      deferredCands = Nil
      var waiting = false
      while (!waiting && cands.nonEmpty) {
        val best = cands.head
        if (next.exists(p => prefCmp(p, best._1) <= 0)) {
          // a preferred derivation is still live: defer the best candidate
          // and every later candidate the sequential scan could still reach
          // (start ≥ the previous keep's resume point)
          val keep = ListBuffer(best)
          var bound = resumeOf(best._1, strict = false)
          cands.tail.foreach { c =>
            if (c._1.startIdx >= bound) {
              keep += c; bound = resumeOf(c._1, strict = false)
            }
          }
          deferredCands = keep.toList
          next.filterInPlace(p =>
            prefCmp(p, best._1) <= 0 ||
              p.startIdx >= resumeOf(best._1, strict = false))
          waiting = true
        } else {
          matches += toMatch(best._1, best._2)
          minStartIdx = math.max(minStartIdx, resumeOf(best._1, strict = true))
          next.filterInPlace(_.startIdx >= minStartIdx)
          cands = cands.tail.filter(_._1.startIdx >= minStartIdx)
        }
      }
    }

    if (completed.nonEmpty || champion.isDefined ||
        (graphMode && deferredCands.nonEmpty)) {
      pattern.skip match {
        // Graph mode: every single-winner skip strategy routes through the
        // SQL:2016 sequential resolution; only the resume point differs
        // (resumeOf). NoSkip keeps the emit-every-completion semantics of
        // the flat branch below.
        case AfterMatchSkip.SkipPastLastEvent | AfterMatchSkip.SkipToNext |
            _: AfterMatchSkip.SkipToFirst | _: AfterMatchSkip.SkipToLast
            if graphMode => resolveGraph()
        case AfterMatchSkip.SkipPastLastEvent =>
          champion match {
            case Some((ch, chEnd)) =>
              val ext = completed.filter(c =>
                c.startIdx == ch.startIdx && c.consumed.length > ch.consumed.length)
              if (ext.nonEmpty) {
                val w2 = ext.minBy(c => lenPref(c.consumed.length))
                champion = Some((w2, t))
                next.filterInPlace(p =>
                  p.startIdx == w2.startIdx || p.startIdx > lastIdxOf(w2))
              } else if (!next.exists(_.startIdx == ch.startIdx)) {
                // attempt family died: the deferred match is maximal — emit,
                // then resume after its last row
                matches += toMatch(ch, chEnd)
                minStartIdx = math.max(minStartIdx, lastIdxOf(ch) + 1)
                next.filterInPlace(_.startIdx >= minStartIdx)
                champion = None
                resolveSkipPast(completed.filter(_.startIdx >= minStartIdx).toSeq)
              }
            // else: champion alive — later-starting completions overlap the
            // still-growing maximal match and are suppressed
            case None => resolveSkipPast(completed.toSeq)
          }
        case AfterMatchSkip.NoSkip =>
          completed.foreach { p => matches += toMatch(p, t) }
        case AfterMatchSkip.SkipToNext =>
          val starts = completed.map(_.startIdx).toSet
          completed.groupBy(_.startIdx).toSeq.sortBy(_._1).foreach { case (_, ps) =>
            val win = ps.minBy(p => lenPref(p.consumed.length))
            matches += toMatch(win, t)
          }
          next.filterInPlace(p => !starts.contains(p.startIdx))
        case AfterMatchSkip.SkipToFirst(v) => emitAllAndPruneBefore(v, first = true)
        case AfterMatchSkip.SkipToLast(v) => emitAllAndPruneBefore(v, first = false)
      }
    }

    // A waiting partial whose every reachable entry stage is guard-blocked
    // can never advance: drop it now so it doesn't linger as state (matters
    // for unbounded-horizon patterns under NoSkip).
    if (guards.nonEmpty)
      next.filterInPlace(p =>
        !(p.taken == 0 && p.consumed.nonEmpty && entryChain(p.stage).forall(p.tripped)))

    if (pattern.historyDepth > 0) {
      history = history :+ e
      if (history.length > pattern.historyDepth) history = history.takeRight(pattern.historyDepth)
    }

    partials = next
    (wmMatches ++ matches.toList, timeouts)
  }

  /** End of input (batch only): deferred matches emit (every live partial
    * that could have displaced them is now dead); attempts they overlap are
    * covered by them, every other remaining partial times out. The deferred
    * chain was kept with conservative (non-strict) resume bounds, so the
    * sequential scan is replayed here with the ACTUAL resume points: a
    * candidate starting before the previous winner's resume is dropped. */
  def flush(): (List[PatternMatch[T]], List[PatternTimeout[T]]) = {
    val ms = (champion.toList ::: deferredCands).flatMap { case (ch, endTs) =>
      if (ch.startIdx < minStartIdx) None
      else {
        minStartIdx = math.max(minStartIdx, resumeOf(ch, strict = true))
        partials.filterInPlace(_.startIdx >= minStartIdx)
        Some(toMatch(ch, endTs))
      }
    }
    champion = None
    deferredCands = Nil
    val out = partials.distinctBy(_.contentKey).map(toTimeout).toList
    partials.clear()
    (ms, out)
  }
}

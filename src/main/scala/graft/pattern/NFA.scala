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
  * A pattern's pure structure (entry chains, the entry/proceed/initial
  * position lists, where acceptance is reachable) is built once per
  * [[Pattern]] instance as immutable [[NfaStructure]] arrays that every
  * runner of it shares, so a runner costs only its own state. An idle
  * event, or one that every live partial ignores where it stands,
  * allocates nothing: the runner reuses its step buffers, dedup table and
  * predicate context between events.
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
    /** Hash of the dedup identity ([[sameState]]) from its O(1) parts: the
      * resident position, the newest consumed (stage, idx) and the start
      * (every partial starts at its oldest consumed event, so equal
      * content means equal start). */
    private[pattern] def dedupHash: Int = {
      var h = stage * 0x01000193 ^ taken
      if (consumed.nonEmpty) {
        val c = consumed.head
        h = h * 31 + c.stage
        h = h * 31 + java.lang.Long.hashCode(c.idx)
      }
      h = h * 31 + java.lang.Long.hashCode(startIdx)
      if (tripped.isEmpty) h else h * 31 + tripped.hashCode
    }

    /** One NFA state: same resident position, tripped guards and consumed
      * (stage, idx) sequence; ranks, times and the events themselves are
      * not compared. Branches kept once per state. */
    private[pattern] def sameState(o: Partial[T]): Boolean =
      (this eq o) || (stage == o.stage && taken == o.taken &&
        tripped == o.tripped && sameContent(o))

    /** Same consumed (stage, idx) sequence, compared in place; branches
      * usually share their list tails, which ends the walk early. */
    private[pattern] def sameContent(o: Partial[T]): Boolean = {
      var a = consumed
      var b = o.consumed
      while (a ne b) {
        if (a.isEmpty || b.isEmpty) return false
        val x = a.head
        val y = b.head
        if (x.stage != y.stage || x.idx != y.idx) return false
        a = a.tail
        b = b.tail
      }
      true
    }
  }

  /** A partial's consumed (stage, idx) sequence as a hash key. */
  private final class ContentKey[T](val p: Partial[T]) {
    override def hashCode: Int =
      if (p.consumed.isEmpty) 0
      else p.consumed.head.stage * 31 + java.lang.Long.hashCode(p.consumed.head.idx)
    override def equals(o: Any): Boolean = o match {
      case k: ContentKey[_] => p.sameContent(k.p.asInstanceOf[Partial[T]])
      case _ => false
    }
  }

  /** One partial per distinct consumed content: branch partials may share
    * it, differing only in resident NFA position. */
  private[pattern] def distinctContent[T](ps: Iterable[Partial[T]]): Iterable[Partial[T]] =
    if (ps.sizeIs <= 1) ps else ps.iterator.distinctBy(new ContentKey(_)).to(Iterable)

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

  // What a runner call returns when it emits nothing (shared: its lists are empty).
  private[pattern] val NoOutput: (List[Nothing], List[Nothing]) = (Nil, Nil)

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
    while (events.hasNext) {
      val out = runner.onEvent(events.next())
      if (out._1.nonEmpty) matches ++= out._1
      if (out._2.nonEmpty) timeouts ++= out._2
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
      var scheduled: Long = Long.MinValue // latest deadline queued in `dueAt`
    }
    private val live = mutable.HashMap.empty[K, Live]
    // (deadline, key) in nondecreasing deadline order: a runner's latest
    // deadline grows only when a partial starts, at the current event time.
    // Two parallel rings (capacity a power of two), so queueing a deadline
    // neither boxes it nor builds a tuple.
    private var dueAt = new Array[Long](16)
    private var dueKey = new Array[AnyRef](16)
    private var dueHead = 0
    private var dueSize = 0
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
      var ms = res._1
      while (ms.nonEmpty) { out ++= onMatch(k, ms.head); ms = ms.tail }
      var tos = res._2
      while (tos.nonEmpty) { out ++= onTimeout(k, tos.head); tos = tos.tail }
    }

    private def drop(k: K, r: NfaRunner[T]): Unit = {
      live.remove(k)
      spare = r
    }

    private def schedule(k: K, l: Live): Unit = {
      val d = l.runner.latestDeadlineMs
      if (d > l.scheduled) {
        l.scheduled = d
        if (dueSize == dueAt.length) growDue()
        val i = (dueHead + dueSize) & (dueAt.length - 1)
        dueAt(i) = d
        dueKey(i) = k.asInstanceOf[AnyRef]
        dueSize += 1
      }
    }

    private def growDue(): Unit = {
      val cap = dueAt.length
      val at = new Array[Long](cap * 2)
      val ks = new Array[AnyRef](cap * 2)
      var j = 0
      while (j < cap) {
        val i = (dueHead + j) & (cap - 1)
        at(j) = dueAt(i)
        ks(j) = dueKey(i)
        j += 1
      }
      dueAt = at
      dueKey = ks
      dueHead = 0
    }

    private def step(): Unit =
      if (events.hasNext) {
        val e = events.next()
        val t = tsFn(e)
        while (dueSize > 0 && dueAt(dueHead) <= t) {
          val d = dueAt(dueHead)
          val k = dueKey(dueHead).asInstanceOf[K]
          dueKey(dueHead) = null
          dueHead = (dueHead + 1) & (dueAt.length - 1)
          dueSize -= 1
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
        emit(k, r.onEventAt(e, t))
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
        dueAt = null
        dueKey = null
        dueSize = 0
        done = true
      }
  }
}

/** The pure structure of one [[Pattern]], as arrays indexed by stage: entry
  * chains, the positions a partial steps through (entry, proceed, initial)
  * and where acceptance is reachable. Built once per `Pattern` instance
  * ([[Pattern.structure]]) and only read afterwards, so every runner of
  * the pattern, on any thread, shares one copy. */
private[pattern] final class NfaStructure[T](pattern: Pattern[T]) extends Serializable {
  val stages: Array[Stage[T]] = pattern.stages.toArray
  val n: Int = stages.length

  // Successor stages in preference order (index n = accepting sentinel);
  // linear chain unless the pattern carries an explicit graph.
  private val succ: Array[List[Int]] =
    Array.tabulate(n)(i => pattern.graph.fold(List(i + 1))(_.edges(i)))

  /** Stages reachable for ENTRY from `s` (inclusive) by epsilon-skipping
    * optional stages, in preference order, for s in 0..n; includes the
    * accepting sentinel `n` when the remainder is fully skippable.
    * Cycle-safe (group loops can route back through optional stages). */
  val entryChain: Array[Array[Int]] = Array.tabulate(n + 1) { s =>
    val out = mutable.ArrayBuffer.empty[Int]
    val seen = mutable.HashSet.empty[Int]
    def go(u: Int): Unit = if (seen.add(u)) {
      out += u
      if (u < n && stages(u).optionalEntry) succ(u).foreach(go)
    }
    go(s)
    out.toArray
  }

  // Entry positions following `from` stages, deduped keeping preference order.
  private def entriesAfter(from: List[Int]): Array[Int] = {
    val seen = mutable.HashSet.empty[Int]
    from.iterator.flatMap(entryChain(_)).filter(u => u < n && seen.add(u)).toArray
  }

  /** Stages the implicit initial state may enter (taken 0). */
  val initial: Array[Int] = entriesAfter(pattern.graph.fold(List(0))(_.starts))
  /** Stages a partial waiting to enter `s` (taken 0) may take into. */
  val entryPos: Array[Array[Int]] = Array.tabulate(n)(s => entryChain(s).filter(_ < n))
  /** Stages a partial inside `s` proceeds to once its minimum is met. */
  val proceedPos: Array[Array[Int]] = Array.tabulate(n)(s => entriesAfter(succ(s)))
  /** Leaving `s` (minimum met) can epsilon-reach the accepting state. */
  val acceptsAfter: Array[Boolean] =
    Array.tabulate(n)(s => succ(s).exists(entryChain(_).contains(n)))
  /** The negative guard preceding each stage, or null. */
  val guardAt: Array[Guard[T]] = Array.tabulate(n)(pattern.guards.getOrElse(_, null))

  // Greedy (default): longest simultaneous completion wins under
  // single-winner skip modes; any reluctant loop flips to shortest.
  val preferLongest: Boolean = stages.filter(_.isLoop).forall(_.greedy)

  /** Distinct stage names, and each stage's index into them: a graph
    * pattern may bind one variable through several stage occurrences. */
  val names: Array[String] = stages.map(_.name).distinct
  val nameId: Array[Int] = stages.map(s => names.indexOf(s.name))
}

/** Incremental NFA executor for one key. NOT thread-safe; the pattern
  * structure it reads ([[NfaStructure]]) is shared and immutable. */
final class NfaRunner[T](val pattern: Pattern[T], tsFn: T => Long) extends Serializable {
  import NFA._

  require(pattern.pendingGuard.isEmpty,
    "pattern must not end with a negative stage (notFollowedBy/notNext need a following stage)")
  require(pattern.graph.isEmpty || pattern.guards.isEmpty,
    "graph patterns do not support negative guards")

  private val shape = pattern.structure
  private val stages = shape.stages
  private val within = pattern.withinMs
  private val guarded = pattern.guards.nonEmpty

  // Maximal-match deferral (SQL greedy semantics): when the pattern ENDS in
  // a greedy loop under a single-winner skip mode, a completion that can
  // still extend is held here (with its completion endTs) instead of being
  // emitted; it is replaced by longer completions of the same attempt and
  // emitted only when the attempt can no longer grow (branch death, within
  // horizon, or end of input).
  private var champion: Option[(Partial[T], Long)] = None

  // Graph mode: SQL:2016 lexicographic preference (leftmost start, then
  // derivation ranks — leftmost alternation branch / greedy continuation)
  // replaces the linear first-complete-wins resolution. `deferredCands`
  // holds completed matches that a preferred live partial could still
  // displace, mutually non-overlapping, in preference order.
  private val graphMode = pattern.graph.isDefined
  private var deferredCands: List[(Partial[T], Long)] = Nil

  private var partials = new ArrayBuffer[Partial[T]](1)
  private var minStartIdx = 0L // SkipPastLastEvent: no starts at or before this
  private var nextIdx = 0L

  // Physical-history ring for PatternContext.recent (PREV navigation);
  // bounded by the pattern's declared historyDepth, zero-cost when unused.
  private var history: Vector[T] = Vector.empty

  // Per-event scratch, kept between events so that an event which changes
  // nothing allocates nothing: `next` gathers the partials surviving the
  // event and then swaps with `partials` (the old buffer waits in `spare`);
  // `completed` and `matched` hold the event's completions and emitted
  // matches (`matched` is handed out, so it is made afresh when needed).
  private var next: ArrayBuffer[Partial[T]] = null
  private var spare: ArrayBuffer[Partial[T]] = null
  private var completed: ArrayBuffer[Partial[T]] = null
  private var matched: ListBuffer[PatternMatch[T]] = null
  // Dedup of `next`: open addressing over the partials added this event,
  // filled from the second add on and emptied after the step.
  private var slots: Array[AnyRef] = null
  private var indexed = 0

  /** The one predicate context, re-pointed at each partial as it steps;
    * its bindings view is built only if an iterative condition asks. */
  private final class Ctx extends PatternContext[T] with Serializable {
    private var consumed: List[Consumed[T]] = Nil
    private var bound: Map[String, Vector[T]] = null
    def reset(c: List[Consumed[T]]): Unit = { consumed = c; bound = null }
    def apply(stage: String): Vector[T] = {
      if (bound == null) bound = toBindings(consumed)
      bound.getOrElse(stage, Vector.empty)
    }
    // history excludes the current candidate (appended AFTER stepping)
    override def recent(n: Int): Option[T] =
      if (n >= 1 && n <= history.length) Some(history(history.length - n)) else None
  }
  private val ctx = new Ctx

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
  def latestDeadline: Option[Long] = latestDeadlineMs match {
    case Long.MinValue => None
    case d => Some(d)
  }

  /** [[latestDeadline]], `Long.MinValue` for none. */
  private[pattern] def latestDeadlineMs: Long = within match {
    case Some(w) if partials.nonEmpty || champion.isDefined || deferredCands.nonEmpty =>
      var s = Long.MinValue
      var k = 0
      while (k < partials.length) { s = math.max(s, partials(k).startTs); k += 1 }
      champion match {
        case Some((c, _)) => s = math.max(s, c.startTs)
        case None => ()
      }
      var d = deferredCands
      while (d.nonEmpty) { s = math.max(s, d.head._1.startTs); d = d.tail }
      s + w
    case _ => Long.MinValue
  }

  /** Graph-mode completions are waiting on a preferred partial. `flush`
    * replays them with exact resume points and `onWatermark` does not, so
    * the two may disagree while any wait. */
  def hasDeferred: Boolean = deferredCands.nonEmpty

  private def lenPref(len: Int): Int = if (shape.preferLongest) -len else len

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

  // Flink `until` stop condition of a stage, if any, fires on `e`.
  private def stops(st: Stage[T], e: T): Boolean = st.until match {
    case Some(u) => u(e, ctx)
    case None => false
  }

  private def ignoreAllowed(st: Stage[T], taken: Int, e: T): Boolean = {
    // Flink `until` stop condition: a partial INSIDE the loop (taken > 0)
    // may not ignore past a stop event — its only moves are proceeding to
    // a later stage (separate entry positions) or dying. A partial merely
    // WAITING to enter (taken == 0) ignores per the between-stage
    // contiguity; the stop condition governs loop consumption, not the gap
    // before the loop.
    if (taken > 0 && stops(st, e)) return false
    val c = if (taken == 0) st.contiguity else st.internal
    c match {
      case Contiguity.Strict => false
      case Contiguity.Relaxed => !st.pred(e, ctx)
      case Contiguity.NonDeterministic => true
    }
  }

  // Keyed by stage NAME: a graph pattern may bind the same variable through
  // several stage occurrences (PERMUTE expansion, repeated variables) — all
  // merge into one vector in consumption order. `consumed` is newest first,
  // so each name's events fill an array of its count from the back.
  private def toBindings(consumed: List[Consumed[T]]): Map[String, Vector[T]] = {
    val ids = shape.nameId
    val left = new Array[Int](shape.names.length)
    var c = consumed
    while (c.nonEmpty) { left(ids(c.head.stage)) += 1; c = c.tail }
    val evs = new Array[Array[Any]](left.length)
    var id = 0
    while (id < left.length) {
      if (left(id) > 0) evs(id) = new Array[Any](left(id))
      id += 1
    }
    c = consumed
    while (c.nonEmpty) {
      val id = ids(c.head.stage)
      left(id) -= 1
      evs(id)(left(id)) = c.head.ev
      c = c.tail
    }
    var m = Map.empty[String, Vector[T]]
    id = 0
    while (id < evs.length) {
      if (evs(id) != null) m = m.updated(shape.names(id), evs(id).toVector.asInstanceOf[Vector[T]])
      id += 1
    }
    m
  }

  private def toEvents(consumed: List[Consumed[T]]): Vector[(String, T)] =
    consumed.reverseIterator.map(c => (stages(c.stage).name, c.ev)).toVector

  private def toTimeout(p: Partial[T]): PatternTimeout[T] =
    PatternTimeout(toBindings(p.consumed), p.startTs, p.startTs + within.getOrElse(0L))

  /** Retire partials whose `within` horizon is at or before watermark `w`;
    * a deferred maximal-match champion whose horizon passed EMITS (it is a
    * completed match that merely could not extend further). */
  def onWatermark(w: Long): (List[PatternMatch[T]], List[PatternTimeout[T]]) =
    within match {
      case Some(h) if anyExpired(w, h) =>
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
        val dead = partials.filter(p => w >= p.startTs + h)
        if (dead.nonEmpty) partials.filterInPlace(p => w < p.startTs + h)
        (champ ::: defEmit.toList, distinctContent(dead).map(toTimeout).toList)
      case _ => NoOutput
    }

  // Has the horizon of any partial, the champion or a deferred completion
  // passed at `w`? Most events retire nothing, and then skip the above.
  private def anyExpired(w: Long, h: Long): Boolean = {
    champion match {
      case Some((ch, _)) if w >= ch.startTs + h => return true
      case _ => ()
    }
    var d = deferredCands
    while (d.nonEmpty) {
      if (w >= d.head._1.startTs + h) return true
      d = d.tail
    }
    var k = 0
    while (k < partials.length) {
      if (w >= partials(k).startTs + h) return true
      k += 1
    }
    false
  }

  // Would an initial entry stage TAKE `e` (the initial step's take test)?
  private def startsMatch(e: T): Boolean = {
    ctx.reset(Nil)
    val ss = shape.initial
    var k = 0
    while (k < ss.length) {
      val st = stages(ss(k))
      if (!stops(st, e) && st.pred(e, ctx)) return true
      k += 1
    }
    false
  }

  /** Feed the next event (must be >= all previously fed event times). */
  def onEvent(e: T): (List[PatternMatch[T]], List[PatternTimeout[T]]) =
    if (idleSkip(e)) NoOutput else advance(e, tsFn(e))

  /** [[onEvent]] for a caller that has read the event time `t` already. */
  private[pattern] def onEventAt(e: T, t: Long): (List[PatternMatch[T]], List[PatternTimeout[T]]) =
    if (idleSkip(e)) NoOutput else advance(e, t)

  // Idle fast path: with no live state, an event no initial entry stage
  // takes changes nothing but the event index.
  private def idleSkip(e: T): Boolean = {
    val skip = partials.isEmpty && champion.isEmpty && deferredCands.isEmpty &&
      pattern.historyDepth == 0 && !startsMatch(e)
    if (skip) nextIdx += 1
    skip
  }

  private def advance(e: T, t: Long): (List[PatternMatch[T]], List[PatternTimeout[T]]) = {
    val i = nextIdx
    nextIdx += 1

    // 1. The event's own time is a watermark: horizons at or before it fire first.
    val wm = onWatermark(t)

    // 2. Advance every live partial plus the implicit initial state.
    next = if (spare != null) spare else new ArrayBuffer[Partial[T]](1)
    spare = null
    var k = 0
    while (k < partials.length) { step(partials(k), e, i); k += 1 }
    stepInitial(e, i, t)
    if (indexed > 0) {
      java.util.Arrays.fill(slots, null)
      indexed = 0
    }

    // 3. Emit completions per the after-match skip strategy.
    if ((completed != null && completed.nonEmpty) || champion.isDefined ||
        (graphMode && deferredCands.nonEmpty)) {
      if (completed == null) completed = ArrayBuffer.empty
      resolve(i, t)
      completed.clear()
    }

    // A waiting partial whose every reachable entry stage is guard-blocked
    // can never advance: drop it now so it doesn't linger as state (matters
    // for unbounded-horizon patterns under NoSkip).
    if (guarded)
      next.filterInPlace(p =>
        !(p.taken == 0 && p.consumed.nonEmpty && shape.entryChain(p.stage).forall(p.tripped)))

    if (pattern.historyDepth > 0) {
      history = history :+ e
      if (history.length > pattern.historyDepth) history = history.takeRight(pattern.historyDepth)
    }

    val old = partials
    partials = next
    next = null
    old.clear()
    spare = old
    val ms = if (matched == null) Nil else matched.toList
    matched = null
    if (ms.isEmpty) wm else (wm._1 ::: ms, wm._2)
  }

  /** One live partial's moves on event `e` (index `i`) at each of its
    * positions: the loop itself while below its maximum (rank 0), then
    * the stages it may enter or proceed to, in preference order. */
  private def step(p: Partial[T], e: T, i: Long): Unit = {
    ctx.reset(p.consumed)
    val st = stages(p.stage)
    val entries =
      if (p.taken == 0) shape.entryPos(p.stage)
      else if (p.taken >= st.min) shape.proceedPos(p.stage)
      else Array.emptyIntArray
    // Stages whose preceding negative guard fires on THIS event (the gap
    // between the previous take and a future entry now contains a
    // forbidden event). Taking a stage on this same event still wins: the
    // forbidden range is exclusive of the event that anchors the entry.
    val trippedNow = if (guarded) tripsOf(p, entries, e, i) else Set.empty[Int]
    var rank = 0
    if (p.taken > 0 && p.taken < st.max) {
      visit(p, p.stage, p.taken, rank, trippedNow, e, i)
      rank += 1
    }
    var k = 0
    while (k < entries.length) {
      visit(p, entries(k), 0, rank, trippedNow, e, i)
      rank += 1
      k += 1
    }
  }

  private def tripsOf(p: Partial[T], entries: Array[Int], e: T, i: Long): Set[Int] = {
    var out = Set.empty[Int]
    var k = 0
    while (k < entries.length) {
      val s = entries(k)
      shape.guardAt(s) match {
        case g: Guard.NotFollowed[T] if g.pred(e, ctx) => out += s
        case g: Guard.NotNext[T]
          if p.consumed.nonEmpty && i == p.consumed.head.idx + 1 &&
            g.pred(e, ctx) => out += s
        case _ => ()
      }
      k += 1
    }
    out
  }

  // Partial `p` at position (`s`, `taken`), rank `rank` in its position list.
  private def visit(p: Partial[T], s: Int, taken: Int, rank: Int,
      trippedNow: Set[Int], e: T, i: Long): Unit = {
    val st = stages(s)
    // TAKE (blocked into a stage whose guard tripped earlier in the gap, or
    // by the stage's `until` stop condition — a stop event is never
    // accepted into the loop, first take included). Residency stays at
    // (s, taken + 1); the structure derives the successor entries from the
    // graph, so no single "next stage" need exist (alternation fan-out,
    // loop-backs).
    if (taken < st.max && !(taken == 0 && p.tripped(s)) && !stops(st, e) &&
        st.pred(e, ctx))
      took(Partial(s, taken + 1, Consumed(s, i, e) :: p.consumed, p.startIdx, p.startTs,
        Set.empty, // tripped resets: a take opens a new gap
        if (graphMode) p.ranks :+ rank else p.ranks))
    // IGNORE
    if (ignoreAllowed(st, taken, e)) {
      val tr = if (trippedNow.isEmpty) p.tripped else p.tripped ++ trippedNow
      add(if (s == p.stage && taken == p.taken && tr == p.tripped) p
          else Partial(s, taken, p.consumed, p.startIdx, p.startTs, tr))
    }
  }

  /** The implicit initial state's moves on `e`: a take into each initial
    * entry stage (it never ignores: it is always present). */
  private def stepInitial(e: T, i: Long, t: Long): Unit = {
    ctx.reset(Nil)
    val ss = shape.initial
    var k = 0
    while (k < ss.length) {
      val s = ss(k)
      val st = stages(s)
      if (0 < st.max && !stops(st, e) && st.pred(e, ctx) && i >= minStartIdx)
        took(Partial(s, 1, Consumed(s, i, e) :: Nil, i, t, Set.empty,
          if (graphMode) Vector(k) else Vector.empty))
      k += 1
    }
  }

  // A fresh take: a completion if acceptance is reachable; kept while it
  // can still advance (emit-and-continue for trailing loops), while a
  // fully-final completion is done.
  private def took(np: Partial[T]): Unit = {
    val st = stages(np.stage)
    val minMet = np.taken >= st.min
    if (minMet && shape.acceptsAfter(np.stage)) {
      if (completed == null) completed = ArrayBuffer.empty
      completed += np
    }
    if (np.taken < st.max || (minMet && shape.proceedPos(np.stage).nonEmpty)) add(np)
  }

  // Into `next`, unless a partial in the same state is already there.
  private def add(p: Partial[T]): Unit = {
    if (next.nonEmpty) {
      if (indexed == 0) index(next(0))
      if (!index(p)) return
    }
    next += p
  }

  private def index(p: Partial[T]): Boolean = {
    if (slots == null || 2 * (indexed + 1) > slots.length) {
      val old = slots
      slots = new Array[AnyRef](if (old == null) 16 else old.length * 2)
      indexed = 0
      if (old != null) old.foreach(q => if (q != null) index(q.asInstanceOf[Partial[T]]))
    }
    val mask = slots.length - 1
    val h0 = p.dedupHash * 0x9E3779B9
    var h = (h0 ^ (h0 >>> 16)) & mask
    var q = slots(h)
    while (q != null) {
      if (q.asInstanceOf[Partial[T]].sameState(p)) return false
      h = (h + 1) & mask
      q = slots(h)
    }
    slots(h) = p
    indexed += 1
    true
  }

  private def emitMatch(p: Partial[T], endTs: Long): Unit = {
    if (matched == null) matched = ListBuffer.empty
    matched += toMatch(p, endTs)
  }

  /** Step 3 of [[onEvent]] on event `i` at `t`: `completed` holds the
    * event's completions, `next` the surviving partials. */
  private def resolve(i: Long, t: Long): Unit = pattern.skip match {
    // Graph mode: every single-winner skip strategy routes through the
    // SQL:2016 sequential resolution; only the resume point differs
    // (resumeOf). NoSkip keeps the emit-every-completion semantics of
    // the flat branch below.
    case AfterMatchSkip.SkipPastLastEvent | AfterMatchSkip.SkipToNext |
        _: AfterMatchSkip.SkipToFirst | _: AfterMatchSkip.SkipToLast
        if graphMode => resolveGraph(t)
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
            emitMatch(ch, chEnd)
            minStartIdx = math.max(minStartIdx, lastIdxOf(ch) + 1)
            next.filterInPlace(_.startIdx >= minStartIdx)
            champion = None
            resolveSkipPast(completed.filter(_.startIdx >= minStartIdx).toSeq, i, t)
          }
        // else: champion alive — later-starting completions overlap the
        // still-growing maximal match and are suppressed
        case None => resolveSkipPast(completed.toSeq, i, t)
      }
    case AfterMatchSkip.NoSkip =>
      completed.foreach(emitMatch(_, t))
    case AfterMatchSkip.SkipToNext =>
      val starts = completed.map(_.startIdx).toSet
      completed.groupBy(_.startIdx).toSeq.sortBy(_._1).foreach { case (_, ps) =>
        emitMatch(ps.minBy(p => lenPref(p.consumed.length)), t)
      }
      next.filterInPlace(p => !starts.contains(p.startIdx))
    case AfterMatchSkip.SkipToFirst(v) => emitAllAndPruneBefore(v, first = true, t)
    case AfterMatchSkip.SkipToLast(v) => emitAllAndPruneBefore(v, first = false, t)
  }

  private def emitAllAndPruneBefore(v: String, first: Boolean, t: Long): Unit = {
    var bound = Long.MaxValue
    completed.foreach { p =>
      emitMatch(p, t)
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
  private def resolveSkipPast(comp: Seq[Partial[T]], i: Long, t: Long): Unit =
    if (comp.nonEmpty) {
      val win = comp.minBy(p => (p.startIdx, lenPref(p.consumed.length)))
      // Deferral applies only when the WINNING completion itself remains
      // live (trailing-loop/optional-tail position re-added to `next`) —
      // a completion whose resident position is final emits eagerly, the
      // sequential first-complete-wins semantics the fixtures pin.
      val extendable = shape.preferLongest && next.exists(_.sameState(win))
      if (extendable) {
        champion = Some((win, t))
        // keep the winning attempt's family + attempts past its current end
        next.filterInPlace(p =>
          p.startIdx == win.startIdx || p.startIdx > lastIdxOf(win))
      } else {
        emitMatch(win, t)
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
  private def resolveGraph(t: Long): Unit = {
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
        emitMatch(best._1, best._2)
        minStartIdx = math.max(minStartIdx, resumeOf(best._1, strict = true))
        next.filterInPlace(_.startIdx >= minStartIdx)
        cands = cands.tail.filter(_._1.startIdx >= minStartIdx)
      }
    }
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
    val out = distinctContent(partials).map(toTimeout).toList
    partials.clear()
    (ms, out)
  }
}

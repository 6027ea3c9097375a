package graft.pattern

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the batch driver [[NFA.runKeyed]]: over seeded random
  * multi-key streams (a hot key, cold keys, timestamp ties across keys) it
  * equals a per-key [[NFA.run]]. Each key's matches must come out in the
  * same order (MATCH_NUMBER() numbers them by it); timeouts are compared as
  * multisets.
  *
  * Graph patterns and retirement: the driver retires a runner whose latest
  * deadline has passed through `onWatermark(now)`, the call its key's next
  * event would make. When the key has no later event, per-key `run` calls
  * `flush` instead. For graph patterns the two can resolve deferred
  * completions differently (`flush` replays them with exact resume points).
  * They do here: "A (B | X)* C" under SKIP TO NEXT ROW with `within` times
  * out a different set of partials when a runner with deferred completions
  * is retired through `onWatermark`. The driver keeps the `NFA.run` answer
  * by never retiring a runner that holds deferred completions
  * (`NfaRunner.hasDeferred`): such a runner waits for its key's next event
  * or is flushed at the partition end, exactly as per-key `run` treats it.
  */
class NFARunKeyedSpec extends AnyFunSuite {

  case class Ev(key: Int, ts: Long, id: Long, kind: Char)

  private val Within = 60L

  /** Keys 0..6, key 0 hot (about half the events); gaps of 0 make ties
    * across (and within) keys; 'x' events start no linear pattern (idle fast
    * path); 'y' is a wildcard every graph variable accepts, so graph
    * derivations compete and completions get deferred. */
  private val genStream: Gen[Vector[Ev]] = for {
    n <- Gen.choose(0, 160)
    keys <- Gen.listOfN(n, Gen.frequency(6 -> Gen.const(0), 6 -> Gen.choose(1, 6)))
    kinds <- Gen.listOfN(n, Gen.frequency(3 -> 'a', 4 -> 'b', 3 -> 'c', 3 -> 'x', 2 -> 'y'))
    gaps <- Gen.listOfN(n, Gen.frequency(2 -> Gen.const(0L), 5 -> Gen.choose(1L, 25L)))
  } yield {
    val ts = gaps.scanLeft(0L)(_ + _).tail
    keys.lazyZip(ts).lazyZip(kinds).toVector.zipWithIndex.map {
      case ((k, t, c), i) => Ev(k, t, i.toLong, c)
    }
  }

  private def forSamples[A](gen: Gen[A], n: Int)(f: A => Unit): Unit = {
    var seed = Seed(20261017L)
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private type MatchRepr = List[(String, Long)]
  private type TimeoutRepr = (List[(String, List[Long])], Long, Long)

  private def reprM(m: NFA.PatternMatch[Ev]): MatchRepr =
    m.events.toList.map { case (s, e) => (s, e.id) } :+ (("end", m.endTs))
  private def reprT(t: NFA.PatternTimeout[Ev]): TimeoutRepr =
    (t.bindings.toList.map { case (s, es) => (s, es.map(_.id).toList) }.sortBy(_._1),
      t.startTs, t.deadline)

  /** Per-key `NFA.run`: matches per key in order, timeouts as a multiset. */
  private def perKey(evs: Vector[Ev], p: Pattern[Ev])
      : (Map[Int, List[MatchRepr]], Map[(Int, TimeoutRepr), Int]) = {
    val byKey = evs.groupBy(_.key).map { case (k, es) =>
      k -> NFA.run(es.iterator, (_: Ev).ts, p)
    }
    (byKey.map { case (k, r) => k -> r._1.toList.map(reprM) }.filter(_._2.nonEmpty),
      byKey.toList.flatMap { case (k, r) => r._2.map(t => (k, reprT(t))) }
        .groupMapReduce(identity)(_ => 1)(_ + _))
  }

  /** The driver over the whole time-ordered stream, same shapes. */
  private def driven(evs: Vector[Ev], p: Pattern[Ev])
      : (Map[Int, List[MatchRepr]], Map[(Int, TimeoutRepr), Int]) = {
    val out = NFA.runKeyed(evs.iterator, (_: Ev).key, (_: Ev).ts, p)(
      (k, m) => Some(Left((k, reprM(m)))),
      (k, t) => Some(Right((k, reprT(t))))).toList
    (out.collect { case Left(km) => km }.groupMap(_._1)(_._2),
      out.collect { case Right(kt) => kt }.groupMapReduce(identity)(_ => 1)(_ + _))
  }

  private def checkAll(name: String, p: Pattern[Ev], samples: Int = 150): Unit =
    forSamples(genStream, samples) { evs =>
      val want = perKey(evs, p)
      val got = driven(evs, p)
      assert(got._1 == want._1, s"$name: matches differ for $evs")
      assert(got._2 == want._2, s"$name: timeouts differ for $evs")
    }

  private val skips: Seq[AfterMatchSkip] = Seq(
    AfterMatchSkip.NoSkip, AfterMatchSkip.SkipPastLastEvent, AfterMatchSkip.SkipToNext,
    AfterMatchSkip.SkipToFirst("B"), AfterMatchSkip.SkipToLast("B"))

  private def strictABC(skip: AfterMatchSkip): Pattern[Ev] =
    Pattern.begin[Ev]("A", skip).where(_.kind == 'a')
      .next("B").where(_.kind == 'b').oneOrMore.optional
      .next("C").where(_.kind == 'c')

  private def relaxedABC(skip: AfterMatchSkip): Pattern[Ev] =
    Pattern.begin[Ev]("A", skip).where(_.kind == 'a')
      .followedBy("B").where(_.kind == 'b').oneOrMore
      .followedBy("C").where(_.kind == 'c')

  // Trailing greedy loop: under SKIP PAST LAST ROW the completion is held as
  // a champion until the attempt can no longer grow.
  private def trailingLoop(skip: AfterMatchSkip): Pattern[Ev] =
    Pattern.begin[Ev]("A", skip).where(_.kind == 'a')
      .next("B").where(_.kind == 'b').oneOrMore

  test("linear patterns with and without within, every skip strategy") {
    for (skip <- skips; within <- Seq(Some(Within), None);
         (shape, mk) <- Seq[(String, AfterMatchSkip => Pattern[Ev])](
           "strict A B* C" -> strictABC, "relaxed A B+ C" -> relaxedABC,
           "trailing A B+" -> trailingLoop)) {
      val p = mk(skip)
      checkAll(s"$shape $skip within=$within", within.fold(p)(p.within))
    }
  }

  test("notFollowedBy and until, with and without within") {
    val noB = Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(_.kind == 'a')
      .notFollowedBy("N").where(_.kind == 'b')
      .followedBy("C").where(_.kind == 'c')
    val untilC = Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(_.kind == 'a')
      .followedBy("B").where(_ => true).oneOrMore.optional.until(_.kind == 'c')
      .followedBy("C").where(_.kind == 'c')
    for (within <- Seq(Some(Within), None); (name, p) <- Seq("notFollowedBy" -> noB, "until" -> untilC))
      checkAll(s"$name within=$within", within.fold(p)(p.within))
  }

  /** A graph pattern over `Ev.kind`: variable V matches kind V.toLower and
    * the wildcard 'y'. */
  private def graphPattern(src: String, skip: AfterMatchSkip, within: Option[Long]): Pattern[Ev] = {
    val RowPattern.Compiled(leaves, graph) = RowPattern.compile(RowPattern.parse(src))
    val stages = leaves.map { lf =>
      val kind = lf.name.head.toLower
      Stage[Ev](lf.name, (e, _) => e.kind == kind || e.kind == 'y', lf.min, lf.max,
        Contiguity.Strict, Contiguity.Strict, lf.greedy)
    }
    Pattern[Ev](stages, within, skip, graph = Some(graph))
  }

  test("graph patterns (PERMUTE, alternation, group loop) under every skip strategy") {
    // SKIP TO FIRST/LAST C: where C is always bound and never a match's
    // first row, so no run raises the SQL:2016 skip errors.
    def skipsToC(s: AfterMatchSkip) =
      s.isInstanceOf[AfterMatchSkip.SkipToFirst] || s.isInstanceOf[AfterMatchSkip.SkipToLast]
    val graphSkips = Seq(AfterMatchSkip.NoSkip, AfterMatchSkip.SkipPastLastEvent,
      AfterMatchSkip.SkipToNext, AfterMatchSkip.SkipToFirst("C"), AfterMatchSkip.SkipToLast("C"))
    for (src <- Seq("PERMUTE(A, B) C", "A (B | X)* C", "(A B)+ C", "A (B | C)+");
         skip <- graphSkips if src != "A (B | C)+" || !skipsToC(skip);
         within <- Seq(Some(Within), None))
      checkAll(s"$src $skip within=$within", graphPattern(src, skip, within), samples = 100)
  }

  /** Counts the events the driver has pulled; `probe` runs before each pull. */
  private final class Counting(evs: Seq[Ev]) extends Iterator[Ev] {
    private val it = evs.iterator
    var pulled = 0
    var probe: () => Unit = () => ()
    def hasNext: Boolean = it.hasNext
    def next(): Ev = { probe(); pulled += 1; it.next() }
  }

  test("a runner is retired at its deadline, before its key's next event or the input end") {
    // key 1 starts an attempt at t=0 (deadline 60); key 2 alone carries the
    // time forward; key 1 returns at t=500 and completes a fresh match.
    val evs = Vector(Ev(1, 0, 0, 'a'), Ev(2, 10, 1, 'x'), Ev(2, 59, 2, 'x'),
      Ev(2, 60, 3, 'x'), Ev(2, 200, 4, 'x'), Ev(1, 500, 5, 'a'), Ev(1, 501, 6, 'c'))
    val p = strictABC(AfterMatchSkip.SkipPastLastEvent).within(Within)
    val in = new Counting(evs)
    val run = NFA.runKeyed(in, (_: Ev).key, (_: Ev).ts, p)(
      (k, m) => Some(("match", k, m.startTs)), (k, t) => Some(("timeout", k, t.startTs)))
    assert(run.liveRunners == 0)
    assert(run.next() == (("timeout", 1, 0L)))
    // the timeout left when the event at t=60 was pulled: not before, as
    // t=59 is inside the horizon, and long before key 1's next event
    assert(in.pulled == 4)
    assert(run.liveRunners == 0)
    assert(run.toList == List(("match", 1, 500L)))
    assert(perKey(evs, p) == driven(evs, p))
  }

  test("keys whose events start nothing never hold a runner (idle fast path)") {
    val evs = Vector.tabulate(2000)(i => Ev(i % 50, i.toLong, i.toLong, if (i % 7 == 0) 'b' else 'x'))
    val p = strictABC(AfterMatchSkip.SkipPastLastEvent).within(Within)
    val in = new Counting(evs)
    val run = NFA.runKeyed(in, (_: Ev).key, (_: Ev).ts, p)((k, _) => Some(k), (k, _) => Some(k))
    var maxLive = 0
    in.probe = () => maxLive = math.max(maxLive, run.liveRunners)
    assert(!run.hasNext && in.pulled == evs.size && maxLive == 0)
    // the fast path leaves an idle runner as a fresh one, but for the index
    val r = new NfaRunner[Ev](p, _.ts)
    evs.take(10).foreach(e => assert(r.onEvent(e) == ((Nil, Nil))))
    assert(!r.hasLiveState && r.snapshot() == NFA.Snapshot[Ev](Nil, 0L, 10L))
    val tail = Seq(Ev(0, 10, 10, 'a'), Ev(0, 11, 11, 'b'), Ev(0, 12, 12, 'c'))
    val after = tail.flatMap(e => r.onEvent(e)._1) ++ r.flush()._1
    assert(after.map(reprM) == NFA.run(tail.iterator, (_: Ev).ts, p)._1.map(reprM))
  }
}

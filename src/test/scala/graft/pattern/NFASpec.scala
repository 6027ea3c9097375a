package graft.pattern

import org.scalatest.funsuite.AnyFunSuite

/** Pure-Scala NFA unit tests — no Spark session. Event model: (ts, tag). */
class NFASpec extends AnyFunSuite {

  case class Ev(ts: Long, tag: String)
  private def evs(tags: String*): IndexedSeq[Ev] =
    tags.zipWithIndex.map { case (t, i) => Ev(i.toLong, t) }.toIndexedSeq

  private def is(t: String): Ev => Boolean = _.tag.startsWith(t)

  /** A B* C with strict stage contiguity — the reference's golden pattern shape. */
  private def abc(skip: AfterMatchSkip = AfterMatchSkip.SkipPastLastEvent,
                  withinMs: Option[Long] = None): Pattern[Ev] = {
    val p = Pattern.begin[Ev]("A", skip)
      .where(is("a"))
      .next("B").where(is("b")).oneOrMore.optional
      .next("C").where(is("c"))
    withinMs.fold(p)(p.within)
  }

  private def run(p: Pattern[Ev], events: IndexedSeq[Ev]) =
    NFA.run(events.iterator, (_: Ev).ts, p)

  test("subtype restricts a stage to the runtime class, ANDing with " +
    "where (Flink subtype parity, r15)") {
    sealed trait E { def ts: Long }
    case class Click(ts: Long, target: String) extends E
    case class Purchase(ts: Long, amount: Long) extends E
    val events: IndexedSeq[E] = IndexedSeq(
      Click(0, "home"), Purchase(1, 5), Click(2, "cart"), Purchase(3, 100))
    // any Click followed (relaxed) by a big Purchase — the Purchase stage
    // narrows by CLASS first, then refines the field with where
    val p = Pattern.begin[E]("C", AfterMatchSkip.SkipPastLastEvent)
      .subtype[Click]
      .followedBy("P").subtype[Purchase]
      .where { case pu: Purchase => pu.amount >= 100; case _ => false }
    val (ms, _) = NFA.run(events.iterator, (_: E).ts, p)
    assert(ms.size == 1)
    val bound = ms.head.bindings
    assert(bound("C").head.asInstanceOf[Click].ts == 0,
      s"relaxed contiguity matches from the EARLIEST Click: $bound")
    assert(bound("P").head.asInstanceOf[Purchase].amount == 100)
    // a subtype-only stage rejects the other class outright: no Purchase
    // can ever bind a Click stage even with a vacuous where
    val pc = Pattern.begin[E]("X", AfterMatchSkip.NoSkip).subtype[Purchase]
    val (msAll, _) = NFA.run(events.iterator, (_: E).ts, pc)
    assert(msAll.flatMap(_.bindings("X")).forall(_.isInstanceOf[Purchase])
      && msAll.size == 2)
  }

  test("golden shape: a b b c matches once, binds all stages") {
    val (ms, ts) = run(abc(), evs("a", "b", "b", "c"))
    assert(ts.isEmpty)
    assert(ms.size == 1)
    val m = ms.head
    assert(m("A").map(_.tag) == Vector("a"))
    assert(m("B").map(_.tag) == Vector("b", "b"))
    assert(m("C").map(_.tag) == Vector("c"))
    assert(m.startTs == 0 && m.endTs == 3)
  }

  test("B* is optional: a c matches with empty B") {
    val (ms, _) = run(abc(), evs("a", "c"))
    assert(ms.size == 1)
    assert(ms.head("B").isEmpty)
  }

  test("no A, no match; dangling partials flush as timeouts only when started") {
    val (ms, ts) = run(abc(), evs("b", "c", "b"))
    assert(ms.isEmpty && ts.isEmpty)
  }

  test("within: completion beyond the horizon times out instead of matching") {
    // a@0, b@1, c@100 with within=50 → no match, one timeout carrying A
    val events = IndexedSeq(Ev(0, "a"), Ev(1, "b"), Ev(100, "c"))
    val (ms, ts) = run(abc(withinMs = Some(50)), events)
    assert(ms.isEmpty)
    assert(ts.size == 1)
    assert(ts.head("A").map(_.ts) == Vector(0L))
    assert(ts.head.deadline == 50L)
  }

  test("within boundary: event at exactly start+within does not complete") {
    val events = IndexedSeq(Ev(0, "a"), Ev(50, "c"))
    val (ms, ts) = run(abc(withinMs = Some(50)), events)
    assert(ms.isEmpty && ts.size == 1)
  }

  test("within boundary: event just inside completes") {
    val events = IndexedSeq(Ev(0, "a"), Ev(49, "c"))
    val (ms, ts) = run(abc(withinMs = Some(50)), events)
    assert(ms.size == 1 && ts.isEmpty)
  }

  test("end-of-input flushes un-expired partials as timeouts (batch = closed stream)") {
    val (ms, ts) = run(abc(withinMs = Some(1000)), evs("a", "b"))
    assert(ms.isEmpty)
    assert(ts.size == 1)
    assert(ts.head("B").size == 1)
  }

  test("skipPastLastEvent: overlapping matches pruned, resume after last row") {
    // a1 b c1 a2 c2 → match1 = (a1, b, c1); a2 after c1 starts fresh → (a2, c2)
    val (ms, _) = run(abc(), evs("a1", "b", "c1", "a2", "c2"))
    assert(ms.map(m => (m("A").head.tag, m("C").head.tag)) ==
      Vector(("a1", "c1"), ("a2", "c2")))
  }

  test("strict contiguity: non-matching event between A and B kills the partial") {
    // x breaks A->B/C strictness (b/c preds don't match "x", no ignore under next())
    val (ms, _) = run(abc(), evs("a", "x", "c"))
    assert(ms.isEmpty)
  }

  test("relaxed contiguity (followedBy): non-matching events are skipped") {
    val p = Pattern.begin[Ev]("A").where(is("a"))
      .followedBy("C").where(is("c"))
    val (ms, _) = run(p, evs("a", "x", "x", "c"))
    assert(ms.size == 1)
  }

  test("followedBy is first-match: second c does not produce a second match") {
    val p = Pattern.begin[Ev]("A").where(is("a"))
      .followedBy("C").where(is("c"))
    val (ms, _) = run(p, evs("a", "c1", "c2"))
    assert(ms.map(_.apply("C").head.tag) == Vector("c1"))
  }

  test("followedByAny branches on every matching event") {
    val p = Pattern.begin[Ev]("A").where(is("a"))
      .followedByAny("C").where(is("c"))
    val (ms, _) = run(p, evs("a", "c1", "c2"))
    assert(ms.map(_.apply("C").head.tag).sorted == Vector("c1", "c2"))
  }

  test("times(2): exactly two repetitions required") {
    val p = Pattern.begin[Ev]("A").where(is("a"))
      .next("B").where(is("b")).times(2)
      .next("C").where(is("c"))
    assert(run(p, evs("a", "b", "b", "c"))._1.size == 1)
    assert(run(p, evs("a", "b", "c"))._1.isEmpty)
  }

  test("times(1,2) with noSkip emits both the 1- and 2-rep variants") {
    val p = Pattern.begin[Ev]("A", AfterMatchSkip.NoSkip).where(is("a"))
      .followedBy("B").where(is("b")).times(1, 2)
      .followedBy("C").where(is("c"))
    val (ms, _) = run(p, evs("a", "b", "b", "c"))
    assert(ms.map(_.apply("B").size).sorted == Vector(1, 2))
  }

  test("consecutive loop: non-matching event closes the loop branch") {
    // a b x b c: with consecutive B-internal + relaxed stage contiguity,
    // the loop cannot resume after x; match binds only the first b.
    val p = Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(is("a"))
      .followedBy("B").where(is("b")).oneOrMore.consecutive
      .followedBy("C").where(is("c"))
    val (ms, _) = run(p, evs("a", "b", "x", "b", "c"))
    assert(ms.size == 1)
    assert(ms.head("B").map(_.ts) == Vector(1L))
  }

  test("relaxed loop internal contiguity: loop resumes after non-matching event") {
    val p = Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(is("a"))
      .followedBy("B").where(is("b")).oneOrMore
      .followedBy("C").where(is("c"))
    val (ms, _) = run(p, evs("a", "b", "x", "b", "c"))
    assert(ms.size == 1)
    assert(ms.head("B").map(_.ts) == Vector(1L, 3L))
  }

  test("noSkip emits overlapping matches") {
    // a1 a2 c: both a1->c and a2->c complete at c (relaxed contiguity)
    val p = Pattern.begin[Ev]("A", AfterMatchSkip.NoSkip).where(is("a"))
      .followedBy("C").where(is("c"))
    val (ms, _) = run(p, evs("a1", "a2", "c"))
    assert(ms.size == 2)
  }

  test("skipPastLastEvent picks the earliest-starting match of simultaneous completions") {
    val p = Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(is("a"))
      .followedBy("C").where(is("c"))
    val (ms, _) = run(p, evs("a1", "a2", "c"))
    assert(ms.size == 1)
    assert(ms.head("A").head.tag == "a1")
  }

  test("skipToFirst(B): resume from the first B of the emitted match") {
    // a b1 b2 c: match binds B=[b1,b2]; skip-to-first(B) prunes partials
    // starting before b1 but keeps later starts — next match may reuse b2.
    val p = Pattern.begin[Ev]("A", AfterMatchSkip.SkipToFirst("B")).where(is("a"))
      .followedBy("B").where(is("b")).oneOrMore
      .followedBy("C").where(is("c"))
    val (ms, _) = run(p, evs("a", "b", "b", "c"))
    // all completions at c emit (B-run lengths 2, 1 — suffix branch), both
    // starting at the same a; pruning bound = first B index
    assert(ms.nonEmpty)
    assert(ms.forall(_.apply("A").head.ts == 0L))
  }

  test("skipToLast(B): prunes partials starting before the last bound B") {
    val p = Pattern.begin[Ev]("A", AfterMatchSkip.SkipToLast("B")).where(is("a"))
      .followedBy("B").where(is("b")).oneOrMore
      .followedBy("C").where(is("c"))
    val (ms, _) = run(p, evs("a", "b", "b", "c"))
    assert(ms.nonEmpty)
  }

  test("ambiguous event matching both B and C branches into both continuations") {
    // 'd' matches B and C conditions; with NoSkip both readings emit:
    // a d -> (A,C=d) and a d c -> (A,B=d,C=c)
    val p = Pattern.begin[Ev]("A", AfterMatchSkip.NoSkip).where(is("a"))
      .next("B").where(e => is("b")(e) || is("d")(e)).oneOrMore.optional
      .next("C").where(e => is("c")(e) || is("d")(e))
    val (ms, _) = run(p, evs("a", "d", "c"))
    val readings = ms.map(m => (m("B").map(_.tag), m("C").map(_.tag))).toSet
    assert(readings == Set((Vector(), Vector("d")), (Vector("d"), Vector("c"))))
  }

  test("iterative condition: C must exceed the first A's timestamp by >= 2") {
    // whereContext sees the partial match's bindings (Flink IterativeCondition)
    val p = Pattern.begin[Ev]("A", AfterMatchSkip.NoSkip).where(is("a"))
      .followedBy("C").where(is("c"))
      .whereContext((e, ctx) => ctx.first("A").exists(a => e.ts - a.ts >= 2))
    val (ms, _) = run(p, evs("a", "c", "x", "c"))
    // c@1 is only 1 tick after a@0 → rejected; c@3 passes
    assert(ms.map(_.apply("C").head.ts) == Vector(3L))
  }

  test("golden fixture semantics end-to-end (pure NFA)") {
    // Reference input-data.csv, key 2 then key 1, as (ts-minutes, before, after)
    case class B(id: String, min: Long, before: Long, after: Long)
    val all = IndexedSeq(
      B("1", 0, 13, 9), B("2", 0, 11, 6), B("2", 15, 6, 4), B("2", 30, 4, 3),
      B("2", 40, 3, 23), B("1", 45, 9, 5), B("1", 150, 5, 25))
    val p = Pattern.begin[B]("A", AfterMatchSkip.SkipPastLastEvent)
      .where(e => e.before >= 10 && e.after < 10)
      .next("B").where(e => e.before >= e.after).oneOrMore.optional
      .next("C").where(e => e.before < e.after)
      .within(60) // minutes
    val byKey = all.groupBy(_.id)
    val (m2, t2) = NFA.run(byKey("2").sortBy(_.min).iterator, (_: B).min, p)
    assert(m2.size == 1 && t2.isEmpty)
    assert(m2.head("A").head.min == 0 && m2.head("C").head.min == 40)
    val (m1, t1) = NFA.run(byKey("1").sortBy(_.min).iterator, (_: B).min, p)
    assert(m1.isEmpty && t1.size == 1)
    assert(t1.head("A").head.min == 0)
  }

  // ------------------------------------------------------------- negation

  /** A notFollowedBy(N: x-tag) followedBy C — mid-pattern gap negation. */
  private def aNotXc(skip: AfterMatchSkip = AfterMatchSkip.SkipPastLastEvent): Pattern[Ev] =
    Pattern.begin[Ev]("A", skip).where(is("a"))
      .notFollowedBy("N").where(is("x"))
      .followedBy("C").where(is("c"))

  test("notFollowedBy: forbidden event between A and C kills the match") {
    val (ms, _) = run(aNotXc(), evs("a", "x", "c"))
    assert(ms.isEmpty)
  }

  test("notFollowedBy: clean gap matches; non-forbidden fillers are ignored") {
    val (ms, _) = run(aNotXc(), evs("a", "q", "q", "c"))
    assert(ms.size == 1)
    assert(ms.head("A").map(_.ts) == Vector(0L))
    assert(ms.head("C").map(_.ts) == Vector(3L))
    // N never binds events
    assert(ms.head("N").isEmpty)
  }

  test("notFollowedBy: a later clean A..C window still matches") {
    // a x c a c → first attempt killed, second matches
    val (ms, _) = run(aNotXc(), evs("a", "x", "c", "a", "c"))
    assert(ms.size == 1)
    assert(ms.head("A").map(_.ts) == Vector(3L))
  }

  test("notFollowedBy: event matching both N and C anchors C (take wins)") {
    // 'cx' starts with c per is("c")? no — is(t) = startsWith; craft a tag
    // matching both predicates via or: N = x*, C = c* OR xc*.
    val p = Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(is("a"))
      .notFollowedBy("N").where(is("x"))
      .followedBy("C").where(e => is("c")(e) || e.tag == "xc")
    val (ms, _) = run(p, evs("a", "xc"))
    assert(ms.size == 1)
    assert(ms.head("C").map(_.tag) == Vector("xc"))
  }

  test("notFollowedBy after a loop: gap restarts at each loop take") {
    // A B+ notFollowedBy(X) C over a b x b c: the x sits between two Bs,
    // not between last B and C → match with B = both b's.
    val p = Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(is("a"))
      .followedBy("B").where(is("b")).oneOrMore
      .notFollowedBy("X").where(is("x"))
      .followedBy("C").where(is("c"))
    val (ms, _) = run(p, evs("a", "b", "x", "b", "c"))
    assert(ms.size == 1)
    assert(ms.head("B").map(_.ts) == Vector(1L, 3L))
    // ...but x after the LAST b kills the b-ending branches: a b b x c
    // still matches? No: every B-prefix branch has x between its last B
    // and c → no match.
    val (ms2, _) = run(p, evs("a", "b", "b", "x", "c"))
    assert(ms2.isEmpty)
  }

  test("notNext: only the immediate successor of A is constrained") {
    val p = Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(is("a"))
      .notNext("N").where(is("x"))
      .followedBy("C").where(is("c"))
    // immediate successor is x → dead
    val (ms1, _) = run(p, evs("a", "x", "c"))
    assert(ms1.isEmpty)
    // x later in the gap is fine for notNext
    val (ms2, _) = run(p, evs("a", "q", "x", "c"))
    assert(ms2.size == 1)
  }

  test("negative stage validation: trailing guard rejected, quantifier rejected") {
    val dangling = Pattern.begin[Ev]("A").where(is("a")).notFollowedBy("N").where(is("x"))
    intercept[IllegalArgumentException] {
      new NfaRunner[Ev](dangling, _.ts)
    }
    intercept[IllegalArgumentException] {
      Pattern.begin[Ev]("A").notFollowedBy("N").oneOrMore
    }
  }

  test("timesOrMore(2): at least two repetitions, unbounded above") {
    val p = Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(is("a"))
      .next("B").where(is("b")).timesOrMore(2)
      .next("C").where(is("c"))
    assert(run(p, evs("a", "b", "c"))._1.isEmpty, "one b is below the floor")
    assert(run(p, evs("a", "b", "b", "c"))._1.size == 1)
    val (ms, _) = run(p, evs("a", "b", "b", "b", "b", "c"))
    assert(ms.size == 1 && ms.head("B").size == 4, "no upper bound")
  }

  // ------------------------------------------------------- until (loop stop)

  test("until: overlapping loop/exit predicates — the stop event freezes " +
    "loop consumption, so events after it never join the loop") {
    // B accepts anything, the exit only accepts c2, and c1 is a stop event
    // the exit can't take: with until the loop FREEZES at c1 (the partial
    // proceeds and waits at C), so the b after c1 is not in B; without
    // until the greedy loop consumes c1 and that b.
    def pat(withUntil: Boolean) = {
      val base = Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent)
        .where(is("a"))
        .followedBy("B").where(e => !is("a")(e)).oneOrMore
      (if (withUntil) base.until(is("c")) else base)
        .followedBy("C").where(_.tag == "c2")
    }
    val events = evs("a", "b", "c1", "b", "c2")
    val (ms, _) = run(pat(withUntil = true), events)
    assert(ms.size == 1)
    assert(ms.head("B").map(_.tag) == Vector("b"),
      "loop must stop consuming at the first c: no c in B, no post-c b")
    assert(ms.head("C").map(_.tag) == Vector("c2"))
    val (ms0, _) = run(pat(withUntil = false), events)
    assert(ms0.head("B").map(_.tag) == Vector("b", "c1", "b"),
      "without until the greedy loop consumes c1 and the following b")
  }

  test("until cleans state: an in-loop partial that cannot proceed on the " +
    "stop event DIES (no ignoring past the stop)") {
    // B matches s too; strict next into C which s does not satisfy: on s the
    // loop may neither take (until) nor ignore (until) → the partial dies,
    // and the later c finds nothing to complete.
    val p = Pattern.begin[Ev]("A").where(is("a"))
      .next("B").where(e => !is("a")(e)).oneOrMore.until(is("s"))
      .next("C").where(is("c"))
    val (ms, _) = run(p, evs("a", "b", "s", "c"))
    assert(ms.isEmpty, "stop event must kill the loop partial, not be skipped")
    // the same sequence WITHOUT until matches (B takes s, then c — B also
    // matches c but C's strict take on c completes first at its position)
    val p0 = Pattern.begin[Ev]("A").where(is("a"))
      .next("B").where(e => !is("a")(e)).oneOrMore
      .next("C").where(is("c"))
    assert(run(p0, evs("a", "b", "s", "c"))._1.nonEmpty)
  }

  test("until blocks even the FIRST take of the loop") {
    // u matches B's predicate but also the stop condition: with relaxed
    // entry contiguity the waiting partial can't ignore u (it matches B)
    // and can't take it (until) → dead before the loop ever starts.
    val p = Pattern.begin[Ev]("A").where(is("a"))
      .followedBy("B").where(e => is("b")(e) || is("u")(e)).oneOrMore
      .until(is("u"))
      .followedBy("C").where(is("c"))
    assert(run(p, evs("a", "u", "b", "c"))._1.isEmpty)
    // a stop event NOT matching the loop predicate is ignorable in the gap
    // BEFORE the loop: the stop condition governs loop consumption only
    val (ms2, _) = run(p, evs("a", "x", "b", "c"))
    assert(ms2.size == 1 && ms2.head("B").map(_.tag) == Vector("b"))
  }

  test("until on a trailing greedy loop: the stop event finalizes the " +
    "maximal match immediately (state released)") {
    val p = Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(is("a"))
      .followedBy("B").where(e => !is("a")(e)).oneOrMore.until(is("s"))
    val (ms, _) = run(p, evs("a", "b1", "b2", "s", "b3"))
    assert(ms.size == 1)
    assert(ms.head("B").map(_.tag) == Vector("b1", "b2"),
      "the maximal match emits at the stop event; b3 cannot extend it")
  }

  test("untilContext: iterative stop condition sees current bindings") {
    // stop once two B's are bound: the loop caps at 2 without times()
    val p = Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(is("a"))
      .followedBy("B").where(is("b")).oneOrMore
      .untilContext((_, ctx) => ctx("B").size >= 2)
      .followedBy("C").where(is("c"))
    val (ms, _) = run(p, evs("a", "b", "b", "b", "c"))
    assert(ms.size == 1)
    assert(ms.head("B").size == 2, "third take blocked by the iterative stop")
  }

  test("until validation: requires a looping stage; only once") {
    intercept[IllegalArgumentException] {
      Pattern.begin[Ev]("A").where(is("a")).until(is("s"))
    }
    intercept[IllegalArgumentException] {
      Pattern.begin[Ev]("A").where(is("a"))
        .followedBy("B").oneOrMore.until(is("s")).until(is("t"))
    }
  }

  test("until survives contramap (wrapper re-targeting keeps the stop condition)") {
    val p = Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(is("a"))
      .followedBy("B").where(_ => true).oneOrMore.optional.until(is("c"))
      .followedBy("C").where(is("c"))
    val lifted = p.contramap[(Int, Ev)](_._2)
    val events = evs("a", "b", "c1", "c2").zipWithIndex.map { case (e, i) => (i, e) }
    val (ms, _) = NFA.run(events.iterator, (x: (Int, Ev)) => x._2.ts, lifted)
    assert(ms.size == 1 && ms.head("C").map(_._2.tag) == Vector("c1"))
  }
  test("branches that reach one NFA state are kept once") {
    // After `a`, every ignored `x` sends the partial waiting at optional B
    // on to C as well; each such branch is the state already waiting at C.
    val p = Pattern.begin[Ev]("A").where(is("a"))
      .followedBy("B").where(is("b")).optional
      .followedBy("C").where(is("c"))
    val r = new NfaRunner[Ev](p, _.ts)
    evs(Seq("a") ++ Seq.fill(50)("x"): _*).foreach(r.onEvent)
    assert(r.snapshot().partials.map(q => (q.stage, q.taken)) == List((1, 0), (2, 0)))
  }
}

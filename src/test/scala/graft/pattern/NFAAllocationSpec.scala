package graft.pattern

import java.lang.management.ManagementFactory

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventPatterns
import graft.operators.EventPatterns.EventRow

/** Heap bytes the NFA hot path allocates per event, read from the JVM's
  * per-thread allocation counter after a warm-up; no Spark. An idle runner
  * and a runner whose event changes no state must allocate nothing. A
  * stream in the shape of the `cep_batch` benchmark (one hot key) through
  * [[NFA.runKeyed]] must stay below a per-event bound.
  *
  * The zero cases keep their timestamps inside the JVM's boxed-Long cache
  * (-128..127): the runner reads event time through the caller's generic
  * `T => Long`, which boxes, and that box is the caller's function's, not
  * the runner's. */
class NFAAllocationSpec extends AnyFunSuite {
  import NFAAllocationSpec._

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes per event of `run` over `events` events: the least of five
    * measured runs, after three that warm the JIT. */
  private def bytesPerEvent(events: Int)(run: () => Unit): Double = {
    (1 to 3).foreach(_ => run())
    (1 to 5).map { _ =>
      val a0 = threads.getCurrentThreadAllocatedBytes
      run()
      threads.getCurrentThreadAllocatedBytes - a0
    }.min.toDouble / events
  }

  private def feed(r: NfaRunner[Ev], evs: Array[Ev]): () => Unit = () => {
    var k = 0
    while (k < evs.length) { r.onEvent(evs(k)); k += 1 }
  }

  private val N = 200000
  private val quiet = Array.fill(N)(Ev(0L, 'x'))

  private def strictLoop: Pattern[Ev] =
    Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(_.kind == 'a')
      .next("B").where(_.kind == 'b').oneOrMore.optional
      .next("C").where(_.kind == 'c')
      .within(1000L)

  test("idle fast path: an event that starts nothing allocates nothing") {
    val r = new NfaRunner[Ev](strictLoop, _.ts)
    val b = bytesPerEvent(N)(feed(r, quiet))
    info(f"idle: $b%.3f bytes/event")
    assert(b < 0.5, f"$b%.3f bytes/event")
    assert(!r.hasLiveState)
  }

  test("an event that changes no state allocates nothing") {
    // a partial waiting across a relaxed gap, and one inside a loop with
    // relaxed repetitions: both ignore 'x' and stay as they are; in the
    // funnel shape the B-loop partial also moves on every 'x' to wait at C
    // again, and the waiting partial the previous 'x' left is reused
    val waiting = Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(_.kind == 'a')
      .followedBy("B").where(_.kind == 'b')
      .within(1000L)
    val funnel = Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(_.kind == 'a')
      .followedBy("B").where(_.kind == 'b').oneOrMore
      .followedBy("C").where(_.kind == 'c')
      .within(1000L)
    for ((name, p, prefix) <- Seq(("relaxed gap", waiting, "a"), ("relaxed loop", strictLoop, "ab"),
        ("relaxed loop before a relaxed stage", funnel, "ab"))) {
      val r = new NfaRunner[Ev](p, _.ts)
      // the first ignored event settles the resident position
      (prefix + "x").foreach(c => r.onEvent(Ev(0L, c)))
      val before = r.snapshot()
      val b = bytesPerEvent(N)(feed(r, quiet))
      info(f"$name: $b%.3f bytes/event")
      assert(b < 0.5, f"$name: $b%.3f bytes/event")
      assert(r.snapshot().partials == before.partials)
    }
  }

  test("a cep_batch-shaped hot-key stream stays lean") {
    val evs = benchStream(Events)
    var outputs = 0L
    val b = bytesPerEvent(Events) { () =>
      val run = NFA.runKeyed(evs.iterator, (e: EventRow) => e.user_id,
        (e: EventRow) => e.ts_us / 1000L, EventPatterns.pattern)(
        (_, _) => Nil, (_, _) => Nil)
      while (run.hasNext) { run.next(); outputs += 1 }
    }
    info(f"cep_batch shape: $b%.1f bytes/event")
    assert(outputs == 0)
    assert(b < HotStreamBound, f"$b%.1f bytes/event")
  }
}

object NFAAllocationSpec {
  final case class Ev(ts: Long, kind: Char)

  val Events = 300000
  /** Bytes per event allowed on [[benchStream]]: the runner measured 135
    * (median of five runs, 132-136) on a 4-core JDK 17 host, and 893
    * (892-946) before its per-event garbage was removed. */
  val HotStreamBound = 300.0

  /** `n` events in the `cep_batch` benchmark's shape: ten equally likely
    * type slots (10% error, 30% view, 30% click, 10% purchase, 10% search,
    * 10% idle), 100k users with user 0 taking 30% of the events, one event
    * every 259.2 ms. */
  def benchStream(n: Int): Array[EventRow] = {
    val slots = Array("error", "view", "click", "view", "click", "view", "click",
      "purchase", "search", "idle")
    val rnd = new java.util.SplittableRandom(511L)
    Array.tabulate(n) { i =>
      val user = if (rnd.nextDouble() < 0.3) 0L else 1L + rnd.nextInt(99999)
      EventRow(i.toLong, 1704067200000000L + i * 259200L, user, slots(rnd.nextInt(slots.length)))
    }
  }
}

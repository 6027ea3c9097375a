package graft.pattern

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventPatterns
import graft.operators.EventPatterns.EventRow

/** The batch CEP memory promise, pinned without Spark: one hot key with
  * millions of events plus 100k cold keys, pulled through a counting
  * iterator straight into [[NFA.runKeyed]]. Output must leave while the
  * input is still being read (no per-key output buffer), and the live
  * runners must stay within the keys that had an event inside the last
  * `within` horizon (no per-key state beyond the horizon). Within one key,
  * the hot key of the `cep_batch` stream holds no more live partials than
  * one horizon's events, for the plain B-loop and for an `until` loop.
  */
class NFAKeyedMemorySpec extends AnyFunSuite {

  case class Ev(key: Int, ts: Long, kind: Char)

  private val Events = 4000000
  private val Within = 1000L
  private val ColdKeys = 100000

  /** Event i at ts = i ms. Three in four belong to hot key 0, cycling
    * a b b c x (one match per cycle); the fourth goes to cold keys
    * 1..100000 in turn (each one every 400k ms), a third of them errors
    * that start an attempt and time out alone. */
  private def event(i: Int): Ev =
    if (i % 4 != 0) Ev(0, i.toLong, "abbcx".charAt((i - i / 4 - 1) % 5))
    else {
      val c = i / 4
      Ev(1 + c % ColdKeys, i.toLong, if (c % 3 == 0) 'a' else 'x')
    }

  private val pattern: Pattern[Ev] =
    Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(_.kind == 'a')
      .next("B").where(_.kind == 'b').oneOrMore.optional
      .next("C").where(_.kind == 'c')
      .within(Within)

  test("output streams out and live runners stay within the horizon's keys") {
    var pulled = 0
    // distinct keys among the pulled events inside the last `within` ms
    val window = mutable.Queue.empty[Ev]
    val inWindow = mutable.HashMap.empty[Int, Int]
    var run: NFA.KeyedRun[Int, Ev, Char] = null
    var maxLive, maxBound = 0
    var boundBroken: Option[String] = None

    val input = new Iterator[Ev] {
      def hasNext: Boolean = pulled < Events
      def next(): Ev = {
        // state after the driver has taken events 0 until `pulled`
        val live = run.liveRunners
        if (live > inWindow.size && boundBroken.isEmpty)
          boundBroken = Some(s"$live live runners, ${inWindow.size} keys in the horizon at event $pulled")
        maxLive = math.max(maxLive, live)
        maxBound = math.max(maxBound, inWindow.size)
        val e = event(pulled)
        pulled += 1
        window.enqueue(e)
        inWindow.update(e.key, inWindow.getOrElse(e.key, 0) + 1)
        while (window.head.ts <= e.ts - Within) {
          val old = window.dequeue()
          val n = inWindow(old.key) - 1
          if (n == 0) inWindow.remove(old.key) else inWindow.update(old.key, n)
        }
        e
      }
    }
    run = NFA.runKeyed(input, (_: Ev).key, (_: Ev).ts, pattern)(
      (_, _) => Some('m'), (_, _) => Some('t'))

    var outputs, matches = 0L
    var pulledAtFirst = -1
    var outputsAtHalf = -1L
    run.foreach { o =>
      if (pulledAtFirst < 0) pulledAtFirst = pulled
      if (outputsAtHalf < 0 && pulled >= Events / 2) outputsAtHalf = outputs
      outputs += 1
      if (o == 'm') matches += 1
    }

    assert(pulled == Events)
    // the hot key holds 3M events and completes 600k matches; 1/3 of the
    // 1M cold events time out
    assert(matches == 600000L && outputs == 600000L + 333334L, s"$matches matches, $outputs outputs")
    assert(pulledAtFirst >= 0 && pulledAtFirst < 100, s"first output after $pulledAtFirst events")
    assert(outputsAtHalf >= outputs * 2 / 5,
      s"$outputsAtHalf of $outputs outputs had left when half the input was read")
    assert(boundBroken.isEmpty, boundBroken.getOrElse(""))
    // one hot key plus the cold keys of one horizon (250 events, a third
    // of them errors); 100k keys are seen in all
    assert(maxLive <= maxBound && maxBound <= 251, s"max live $maxLive, max bound $maxBound")
    assert(maxLive >= 2, s"max live $maxLive")
    assert(run.liveRunners == 0)

    // The hot key of 1M `cep_batch` events (30% of them, ~4167 in one 1 h
    // horizon), replayed in time order through one runner: live partials
    // are bounded by one horizon's events, never by the key's volume.
    val hot = NFAAllocationSpec.benchStream(1000000).filter(_.user_id == 0L)
    val horizonEvents = (EventPatterns.WithinMs * 1000L / 259200L * 3 / 10).toInt
    def maxPartials(p: Pattern[EventRow], evs: Array[EventRow]): Int = {
      val r = new NfaRunner[EventRow](p, _.ts_us / 1000L)
      evs.foldLeft(0) { (m, e) => r.onEvent(e); math.max(m, r.snapshot().partials.size) }
    }
    val loopMax = maxPartials(EventPatterns.pattern, hot)
    // the stream has no "signup": its "search" slot (10%) anchors the
    // until pattern's attempts instead
    val untilMax = maxPartials(EventPatterns.untilPattern,
      hot.map(e => if (e.event_type == "search") e.copy(event_type = "signup") else e))
    assert(loopMax > 0 && loopMax <= horizonEvents,
      s"B-loop live partials $loopMax, horizon bound $horizonEvents")
    assert(untilMax > 0 && untilMax <= horizonEvents,
      s"until live partials $untilMax, horizon bound $horizonEvents")
  }
}

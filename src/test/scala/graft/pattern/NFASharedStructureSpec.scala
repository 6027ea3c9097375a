package graft.pattern

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A pattern's NFA structure is built once per `Pattern` instance and read
  * by every runner of it, on any thread. Threads that each run their own
  * runners over one instance, and over a Java-serialized copy of it, must
  * all give the single-threaded [[NFA.run]] answer: linear, graph
  * (PERMUTE, alternation, group loop) and negated patterns alike. */
class NFASharedStructureSpec extends AnyFunSuite {
  import NFASharedStructureSpec._

  private val Threads = 4

  /** Each call builds the pattern afresh, its structure not yet built. */
  private val patterns: Seq[(String, () => Pattern[Ev])] = Seq(
    "strict A B* C within" -> (() =>
      Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(_.kind == 'a')
        .next("B").where(_.kind == 'b').oneOrMore.optional
        .next("C").where(_.kind == 'c').within(Within)),
    "relaxed A B+ C, no skip" -> (() =>
      Pattern.begin[Ev]("A").where(_.kind == 'a')
        .followedBy("B").where(_.kind == 'b').oneOrMore
        .followedBy("C").where(_.kind == 'c').within(Within)),
    "notFollowedBy" -> (() =>
      Pattern.begin[Ev]("A", AfterMatchSkip.SkipPastLastEvent).where(_.kind == 'a')
        .notFollowedBy("N").where(_.kind == 'b')
        .followedBy("C").where(_.kind == 'c').within(Within)),
    "PERMUTE(A, B) C" -> (() => graph("PERMUTE(A, B) C", AfterMatchSkip.SkipPastLastEvent)),
    "A (B | X)* C" -> (() => graph("A (B | X)* C", AfterMatchSkip.SkipToNext)),
    "(A B)+ C" -> (() => graph("(A B)+ C", AfterMatchSkip.SkipPastLastEvent)))

  private def serializedCopy[A](a: A): A = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(a)
    out.close()
    new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray)).readObject().asInstanceOf[A]
  }

  /** Every stream through its own runners: per stream `NFA.run`, and the
    * streams merged by time through `NFA.runKeyed` (a runner per key). */
  private def answer(p: Pattern[Ev]): Answer = {
    val perStream = Streams.map(evs => repr(NFA.run(evs.iterator, (_: Ev).ts, p)))
    val merged = Streams.flatten.sortBy(_.ts)
    val keyed = NFA.runKeyed(merged.iterator, (_: Ev).key, (_: Ev).ts, p)(
      (k, m) => Some((k, "match", m.events.map(_._2.id).toList)),
      (k, t) => Some((k, "timeout", t.bindings.values.flatten.map(_.id).toList.sorted)))
      .toList.groupBy(_._1).map { case (k, os) => k -> os.map(o => (o._2, o._3)) }
    (perStream, keyed)
  }

  test("threads sharing one pattern instance, or a serialized copy, all give the single-threaded answer") {
    for ((name, mk) <- patterns) {
      val want = answer(mk())
      val shared = mk()
      val copy = serializedCopy(mk())
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(2 * Threads)
      try {
        val jobs = (0 until 2 * Threads).map { j =>
          val p = if (j % 2 == 0) shared else copy
          pool.submit(new Callable[(Answer, AnyRef)] {
            def call(): (Answer, AnyRef) = { start.await(); (answer(p), p.structure) }
          })
        }
        start.countDown()
        val got = jobs.map(_.get(5, TimeUnit.MINUTES))
        got.foreach { case (a, _) => assert(a == want, s"$name: a thread's answer differs") }
        // one structure per instance, whichever thread built it
        val structures = got.map(_._2)
        assert(structures.indices.forall(j => structures(j) eq structures(j % 2)), name)
        assert(!(structures(0) eq structures(1)), name)
      } finally {
        pool.shutdownNow()
        pool.awaitTermination(1, TimeUnit.MINUTES)
      }
    }
  }

  test("answers are non-trivial: every pattern matches and times out somewhere") {
    patterns.foreach { case (name, mk) =>
      val (perStream, keyed) = answer(mk())
      assert(perStream.exists(_._1.nonEmpty), s"$name: no match")
      assert(perStream.exists(_._2.nonEmpty), s"$name: no timeout")
      assert(keyed.size == Streams.size, name)
    }
  }
}

object NFASharedStructureSpec {
  final case class Ev(key: Int, ts: Long, id: Long, kind: Char)

  type Answer = (Seq[(List[List[(String, Long)]], List[List[(String, Long)]])],
    Map[Int, List[(String, List[Long])]])

  val Within = 40L

  def repr(r: (Vector[NFA.PatternMatch[Ev]], Vector[NFA.PatternTimeout[Ev]]))
      : (List[List[(String, Long)]], List[List[(String, Long)]]) =
    (r._1.toList.map(m => m.events.toList.map { case (s, e) => (s, e.id) }),
      r._2.toList.map(t => t.bindings.toList.flatMap { case (s, es) => es.map(e => (s, e.id)) }.sorted)
        .sorted(Ordering.Implicits.seqOrdering[List, (String, Long)]))

  /** A graph pattern over `Ev.kind`: variable V matches kind V.toLower and
    * the wildcard 'y', so derivations compete. */
  def graph(src: String, skip: AfterMatchSkip): Pattern[Ev] = {
    val RowPattern.Compiled(leaves, g) = RowPattern.compile(RowPattern.parse(src))
    val stages = leaves.map { lf =>
      val kind = lf.name.head.toLower
      Stage[Ev](lf.name, (e, _) => e.kind == kind || e.kind == 'y', lf.min, lf.max,
        Contiguity.Strict, Contiguity.Strict, lf.greedy)
    }
    Pattern[Ev](stages, Some(Within), skip, graph = Some(g))
  }

  /** 24 seeded streams (one key each) of 300 events over kinds a b c x y,
    * gaps 0..9. */
  val Streams: Seq[Vector[Ev]] = {
    val rnd = new scala.util.Random(20261018L)
    (0 until 24).map { s =>
      var ts = 0L
      Vector.tabulate(300) { i =>
        ts += rnd.nextInt(10)
        Ev(s, ts, s * 1000L + i, "abcxyab".charAt(rnd.nextInt(7)))
      }
    }
  }
}

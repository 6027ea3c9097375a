package graft.streaming

import org.apache.spark.sql.Encoders
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.events.BillingEvent
import graft.pattern.NFA.{Consumed, Partial, Snapshot}

/** Round-trips the compact snapshot codec against structurally-shared
  * partials (the branching NFA's normal state shape) and measures that it
  * beats Java serialization on size — the property the streaming state
  * round-trip cost rides on.
  */
class SnapshotCodecSpec extends AnyFunSuite {
  // Encoder derivation needs an active session even though the codec itself
  // never touches it at encode/decode time.
  private lazy val spark = TestSpark.spark

  private def ev(id: String, ts: String, before: Long, after: Long) =
    BillingEvent(id, ts, before, after)

  private def sampleSnapshot: Snapshot[BillingEvent] = {
    val e0 = ev("1", "2020-05-01 11:00:00", 13, 9)
    val e1 = ev("1", "2020-05-01 11:10:00", 9, 7)
    val e2 = ev("1", "2020-05-01 11:20:00", 7, 5)
    // Two branches sharing e0/e1 (same idx ⇒ same event), one singleton.
    Snapshot(
      List(
        Partial(1, 2, List(Consumed(1, 2L, e2), Consumed(1, 1L, e1), Consumed(0, 0L, e0)), 0L, 1000L),
        Partial(2, 0, List(Consumed(1, 1L, e1), Consumed(0, 0L, e0)), 0L, 1000L),
        Partial(0, 1, List(Consumed(0, 2L, e2)), 2L, 3000L)),
      minStartIdx = 0L,
      nextIdx = 3L)
  }

  test("encode/decode round-trips partials, indices, and shared events") {
    spark // force session init for encoder resolution
    val codec = new SnapshotCodec[BillingEvent](Encoders.product[BillingEvent])
    val s = sampleSnapshot
    val back = codec.decode(codec.encode(s))
    assert(back == s)
    // e2 appears under two different consuming stages (branch divergence):
    // dedup is by idx, stage tags must survive independently.
    assert(back.partials(0).consumed.head.stage == 1)
    assert(back.partials(2).consumed.head.stage == 0)
  }

  test("champion (deferred maximal match) round-trips with shared events") {
    spark
    val codec = new SnapshotCodec[BillingEvent](Encoders.product[BillingEvent])
    val base = sampleSnapshot
    // champion shares e0/e1 with the live partials (normal trailing-loop
    // shape: the champion IS an earlier completion of the same attempt)
    val s = base.copy(champion =
      Some((base.partials(1).copy(stage = 1, taken = 2), 4321L)))
    assert(codec.decode(codec.encode(s)) == s)
  }

  test("graph-mode state round-trips: derivation ranks and deferred matches") {
    spark
    val codec = new SnapshotCodec[BillingEvent](Encoders.product[BillingEvent])
    val base = sampleSnapshot
    val ranked = base.partials.map(p =>
      p.copy(ranks = Vector.tabulate(p.consumed.size)(_ % 3)))
    val s = base.copy(
      partials = ranked,
      deferred = List((ranked(1), 7777L), (ranked(2), 8888L)))
    val back = codec.decode(codec.encode(s))
    assert(back == s)
    assert(back.partials(0).ranks == Vector(0, 1, 2))
    assert(back.deferred.map(_._2) == List(7777L, 8888L))
  }

  test("physical-history ring round-trips") {
    spark
    val codec = new SnapshotCodec[BillingEvent](Encoders.product[BillingEvent])
    val s = sampleSnapshot.copy(history = List(
      ev("9", "2020-05-01 10:00:00", 20, 20),
      ev("9", "2020-05-01 10:10:00", 20, 15)))
    assert(codec.decode(codec.encode(s)) == s)
  }

  test("empty snapshot round-trips") {
    spark
    val codec = new SnapshotCodec[BillingEvent](Encoders.product[BillingEvent])
    val s = Snapshot[BillingEvent](Nil, 5L, 17L)
    assert(codec.decode(codec.encode(s)) == s)
  }

  test("compact codec is materially smaller than Java serialization") {
    spark
    val codec = new SnapshotCodec[BillingEvent](Encoders.product[BillingEvent])
    val s = sampleSnapshot
    val compact = codec.encode(s).length
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    out.writeObject(s)
    out.close()
    val javaLen = bos.toByteArray.length
    // 2.9× on this 3-event fixture; the gap widens with event count since
    // Java serialization pays per-object reflective overhead.
    assert(compact * 2 <= javaLen, s"compact=$compact java=$javaLen")
  }
  test("wire format is pinned: a fixed snapshot encodes to golden bytes") {
    spark
    val codec = new SnapshotCodec[BillingEvent](Encoders.product[BillingEvent])
    val base = sampleSnapshot
    val e3 = ev("1", "2020-05-01 11:30:00", 5, 4)
    // every section populated: guard-tripped and ranked partials, a
    // champion, deferred graph candidates and the history ring
    val s = base.copy(
      partials = base.partials.updated(1, base.partials(1).copy(tripped = Set(2, 3)))
        :+ Partial(1, 1, List(Consumed(1, 3L, e3), Consumed(0, 2L, base.partials(2).consumed.head.ev)),
          2L, 3000L, Set.empty, Vector(1, 0)),
      minStartIdx = 1L,
      nextIdx = 4L,
      champion = Some((base.partials(0).copy(stage = 2, taken = 0), 2500L)),
      history = List(base.partials(2).consumed.head.ev, e3),
      deferred = List(
        (base.partials(2).copy(ranks = Vector(0)), 3100L),
        (base.partials(0).copy(ranks = Vector(0, 2, 1)), 3200L)))
    val hex = codec.encode(s).map(b => f"${b & 0xff}%02x").mkString
    assert(hex == GoldenSnapshotHex, hex)
    assert(codec.decode(codec.encode(s)) == s)
  }

  // Written by the codec before the runner's allocation work; a change to
  // `Partial`, its dedup key or the codec must leave these bytes as they are.
  private val GoldenSnapshotHex = Seq(
    "02000000000000000100000000000000040000000400000000000000020000004800000000000000",
    "00010000002800000013000000300000000700000000000000050000000000000031000000000000",
    "00323032302d30352d30312031313a32303a30300000000000000000000000000100000048000000",
    "00000000000100000028000000130000003000000009000000000000000700000000000000310000",
    "0000000000323032302d30352d30312031313a31303a303000000000000000000000000000000000",
    "480000000000000000010000002800000013000000300000000d0000000000000009000000000000",
    "003100000000000000323032302d30352d30312031313a30303a3030000000000000000000000000",
    "03000000480000000000000000010000002800000013000000300000000500000000000000040000",
    "00000000003100000000000000323032302d30352d30312031313a33303a30300000000000000000",
    "040000000100000002000000000000000000000000000003e8000000030000000100000000000000",
    "02000000010000000000000001000000000000000000000000000000000000000000000002000000",
    "00000000000000000000000000000003e80000000200000001000000000000000100000000000000",
    "00000000000000000200000002000000030000000000000000000000010000000000000002000000",
    "0000000bb80000000100000000000000000000000200000000000000000000000100000001000000",
    "00000000020000000000000bb8000000020000000100000000000000030000000000000000000000",
    "02000000000000000200000001000000000100000000000009c40000000200000000000000000000",
    "000000000000000003e8000000030000000100000000000000020000000100000000000000010000",
    "000000000000000000000000000000000000000000020000000000000c1c00000000000000010000",
    "0000000000020000000000000bb80000000100000000000000000000000200000000000000010000",
    "00000000000000000c800000000100000002000000000000000000000000000003e8000000030000",
    "00010000000000000002000000010000000000000001000000000000000000000000000000000000",
    "00030000000000000002000000010000000200000048000000000000000001000000280000001300",
    "000030000000070000000000000005000000000000003100000000000000323032302d30352d3031",
    "2031313a32303a303000000000000000004800000000000000000100000028000000130000003000",
    "0000050000000000000004000000000000003100000000000000323032302d30352d30312031313a",
    "33303a30300000000000").mkString
}

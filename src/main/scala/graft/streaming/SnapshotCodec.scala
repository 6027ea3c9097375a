package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}

import graft.pattern.NFA
import graft.pattern.NFA.{Consumed, Partial, Snapshot}

/** Compact binary codec for [[NFA.Snapshot]] — the per-key streaming CEP
  * state that round-trips through the state store every micro-batch.
  *
  * Java serialization (the r1 implementation) writes the full reflective
  * object graph: class descriptors, per-field type tags, and one boxed
  * object per event field. This codec instead writes:
  *
  *  - a fixed 16-byte header (`minStartIdx`, `nextIdx`);
  *  - an event table: each DISTINCT event serialized ONCE through the
  *    dataset's own Spark `Encoder[T]` (UnsafeRow bytes — the same compact
  *    columnar format the state store's ListState uses). Partial matches
  *    branch heavily and share events; Java serialization deduplicates via
  *    back-references but still pays the graph walk, while here the dedup
  *    key is the event's NFA index (`Consumed.idx`, unique by construction:
  *    it is the runner's `nextIdx` counter at consumption time);
  *  - partials as fixed-width primitives referencing events by index.
  *
  * The encoder machinery (`ExpressionEncoder` serializer/deserializer +
  * `UnsafeProjection`) is built lazily per executor thread — the codec
  * itself holds only the logical `Encoder[T]`, which is serializable.
  */
object SnapshotCodec {
  /** Wire-format version, first byte of every encoded snapshot. Bump on any
    * layout change so a checkpoint from an older build fails cleanly at
    * decode instead of misparsing (EOF / garbage fields). Version 2 added
    * the per-partial ranks vector and the deferred-completions section. */
  final val FormatVersion: Byte = 2
}

final class SnapshotCodec[T](te: Encoder[T]) extends Serializable {

  @transient private lazy val expEnc: ExpressionEncoder[T] = te match {
    case e: ExpressionEncoder[T @unchecked] => e
    case a: AgnosticEncoder[T @unchecked] => ExpressionEncoder(a)
    case other =>
      throw new IllegalArgumentException(
        s"unsupported encoder type: ${other.getClass.getName}")
  }
  @transient private lazy val toRow = expEnc.createSerializer()
  @transient private lazy val fromRow = expEnc.resolveAndBind().createDeserializer()
  @transient private lazy val proj = UnsafeProjection.create(expEnc.schema)
  private def numFields = expEnc.schema.length

  private def eventBytes(e: T): Array[Byte] = {
    // copy(): the serializer and projection reuse their output buffers.
    val unsafe = proj(toRow(e).asInstanceOf[InternalRow])
    unsafe.getBytes
  }

  private def eventFromBytes(b: Array[Byte]): T = {
    val row = new UnsafeRow(numFields)
    row.pointTo(b, b.length)
    fromRow(row)
  }

  private def writePartial(out: DataOutputStream, p: Partial[T]): Unit = {
    out.writeInt(p.stage)
    out.writeInt(p.taken)
    out.writeLong(p.startIdx)
    out.writeLong(p.startTs)
    out.writeInt(p.consumed.size)
    p.consumed.foreach { c =>
      out.writeInt(c.stage)
      out.writeLong(c.idx)
    }
    out.writeInt(p.tripped.size)
    p.tripped.foreach(out.writeInt)
    out.writeInt(p.ranks.size)
    p.ranks.foreach(out.writeInt)
  }

  def encode(s: Snapshot[T]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(256)
    val out = new DataOutputStream(bos)
    out.writeByte(SnapshotCodec.FormatVersion)
    out.writeLong(s.minStartIdx)
    out.writeLong(s.nextIdx)

    // Event table: distinct events by NFA index, serialized once each
    // (champion events included — branch partials usually share them).
    val events = scala.collection.mutable.LinkedHashMap.empty[Long, T]
    s.partials.foreach(_.consumed.foreach(c => events.getOrElseUpdate(c.idx, c.ev)))
    s.champion.foreach(_._1.consumed.foreach(c => events.getOrElseUpdate(c.idx, c.ev)))
    s.deferred.foreach(_._1.consumed.foreach(c => events.getOrElseUpdate(c.idx, c.ev)))
    out.writeInt(events.size)
    events.foreach { case (idx, ev) =>
      out.writeLong(idx)
      val b = eventBytes(ev)
      out.writeInt(b.length)
      out.write(b)
    }

    out.writeInt(s.partials.size)
    s.partials.foreach(writePartial(out, _))

    s.champion match {
      case Some((p, endTs)) =>
        out.writeBoolean(true)
        out.writeLong(endTs)
        writePartial(out, p)
      case None => out.writeBoolean(false)
    }

    // graph-mode deferred completions (with completion endTs)
    out.writeInt(s.deferred.size)
    s.deferred.foreach { case (p, endTs) =>
      out.writeLong(endTs)
      writePartial(out, p)
    }

    // physical-history ring (PREV navigation): raw events, oldest first
    out.writeInt(s.history.size)
    s.history.foreach { ev =>
      val b = eventBytes(ev)
      out.writeInt(b.length)
      out.write(b)
    }
    out.flush()
    bos.toByteArray
  }

  /** `events` as length-prefixed encoded rows, in order. The format has no
    * header, so the concatenation of two encodings encodes the
    * concatenated sequence: appending to an encoded buffer needs no
    * decode. */
  def encodeEvents(events: Iterable[T]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(64 * events.size)
    val out = new DataOutputStream(bos)
    events.foreach { ev =>
      val b = eventBytes(ev)
      out.writeInt(b.length)
      out.write(b)
    }
    out.flush()
    bos.toByteArray
  }

  /** The events of [[encodeEvents]], in order. */
  def decodeEvents(bytes: Array[Byte]): Vector[T] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val events = Vector.newBuilder[T]
    while (in.available() > 0) {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      events += eventFromBytes(b)
    }
    events.result()
  }

  def decode(bytes: Array[Byte]): Snapshot[T] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val ver = in.readByte()
    if (ver != SnapshotCodec.FormatVersion)
      throw new IllegalStateException(
        s"snapshot format version $ver, expected ${SnapshotCodec.FormatVersion}: " +
          "checkpoint was written by an incompatible build; restart from a " +
          "fresh checkpoint or migrate the state explicitly")
    val minStartIdx = in.readLong()
    val nextIdx = in.readLong()

    val nEvents = in.readInt()
    val events = new java.util.HashMap[Long, T](nEvents * 2)
    var i = 0
    while (i < nEvents) {
      val idx = in.readLong()
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      events.put(idx, eventFromBytes(b))
      i += 1
    }

    def readPartial(): Partial[T] = {
      val stage = in.readInt()
      val taken = in.readInt()
      val startIdx = in.readLong()
      val startTs = in.readLong()
      val nConsumed = in.readInt()
      val consumed = List.newBuilder[Consumed[T]]
      var k = 0
      while (k < nConsumed) {
        val cStage = in.readInt()
        val cIdx = in.readLong()
        consumed += Consumed(cStage, cIdx, events.get(cIdx))
        k += 1
      }
      val nTripped = in.readInt()
      val tripped = Set.newBuilder[Int]
      var m = 0
      while (m < nTripped) { tripped += in.readInt(); m += 1 }
      val nRanks = in.readInt()
      val ranks = Vector.newBuilder[Int]
      var r = 0
      while (r < nRanks) { ranks += in.readInt(); r += 1 }
      Partial(stage, taken, consumed.result(), startIdx, startTs, tripped.result(),
        ranks.result())
    }

    val nPartials = in.readInt()
    val partials = List.newBuilder[Partial[T]]
    var j = 0
    while (j < nPartials) {
      partials += readPartial()
      j += 1
    }
    val champion =
      if (in.readBoolean()) {
        val endTs = in.readLong()
        Some((readPartial(), endTs))
      } else None
    val nDeferred = in.readInt()
    val deferred = List.newBuilder[(Partial[T], Long)]
    var d = 0
    while (d < nDeferred) {
      val endTs = in.readLong()
      deferred += ((readPartial(), endTs))
      d += 1
    }
    val nHist = in.readInt()
    val history = List.newBuilder[T]
    var h = 0
    while (h < nHist) {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      history += eventFromBytes(b)
      h += 1
    }
    Snapshot(partials.result(), minStartIdx, nextIdx, champion, history.result(),
      deferred.result())
  }
}

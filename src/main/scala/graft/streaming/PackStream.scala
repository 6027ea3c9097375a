package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming sequence packing — the continuous-ingest counterpart of
  * [[graft.pipeline.Curation.pack]]: chunks arrive on a stream and are laid
  * end-to-end into fixed token-budget training sequences, one running
  * offset per stratum key (batch packing uses a global offset — a stream
  * has no global order, so streaming packs PER KEY, each key's offset
  * carried in a ValueState across micro-batches).
  *
  * A [[KeyedFold]] whose state is one long; its ordering contract, with
  * rows sorted by (doc_id, chunk_id) within a micro-batch, makes a replay
  * of the same batches reproduce the same pack ids, and arrival order
  * across batches is what continuous packing means.
  */
object PackStream {

  case class Chunk(key: String, doc_id: Long, chunk_id: Int, n_tok: Int)
  case class Packed(key: String, doc_id: Long, chunk_id: Int, pack_id: Long, n_tok: Int)

  def pack(ds: Dataset[Chunk], budget: Int): Dataset[Packed] = {
    implicit val pe = Encoders.product[Packed]
    implicit val se = Encoders.STRING
    KeyedFold.run(ds)(_.key, "off", Encoders.scalaLong, 0L,
        Some(Ordering.by(c => (c.doc_id, c.chunk_id)))) { (key, off0, rows) =>
      var off = off0
      val out = rows.map { c =>
        val pid = off / budget
        off += c.n_tok
        Packed(key, c.doc_id, c.chunk_id, pid, c.n_tok)
      }.toVector
      (off, out.iterator)
    }
  }
}

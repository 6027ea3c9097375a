package perfbench

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

import graft.operators.EventPatterns.EventRow

/** One synthetic event in the `events` table shape. Event times are
  * distinct across the whole stream, so every per-key order is total. */
final case class Ev(id: Long, tsUs: Long, user: Long, kind: String, cents: Long) {
  def row: EventRow = EventRow(id, tsUs, user, kind)
  def value: Double = cents / 100.0
}

/** Seeded event streams in the shape of `graft.ScaleProbe`'s skew probe
  * (`cep_skew`), the repository's own CEP scale workload: ten equally
  * likely type slots (10% error, 30% view, 30% click, 10% purchase, 10%
  * search, 10% idle), 100k users, and 10M events over 30 days, so one
  * event every 259.2 ms on average. A run generates a prefix of that
  * stream: fewer events over a shorter span, at the same per-user rates. */
object Inputs {
  val KindSlots: Array[String] = Array("error", "view", "click", "view", "click", "view", "click",
    "purchase", "search", "idle")
  val Users = 100000
  val GapUs: Long = 30L * 86400L * 1000000L / 10000000L

  val T0Us: Long = 1704067200L * 1000000L // 2024-01-01T00:00:00Z

  /** `n` events `GapUs` apart. With `hotShare` > 0, user 0 takes that
    * share of the events; the rest spread uniformly over users 1..Users-1. */
  def events(seed: Long, n: Int, hotShare: Double): Array[Ev] = {
    val rnd = new java.util.SplittableRandom(seed)
    Array.tabulate(n) { i =>
      val user =
        if (hotShare > 0 && rnd.nextDouble() < hotShare) 0L
        else 1L + rnd.nextInt(Users - 1)
      val kind = KindSlots(rnd.nextInt(KindSlots.length))
      Ev(i.toLong, T0Us + i * GapUs, user, kind, 1L + rnd.nextInt(30000))
    }
  }

  val schema: MessageType = Types.buildMessage()
    .optional(INT64).named("event_id")
    .optional(INT64).as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)).named("ts")
    .optional(INT64).named("user_id")
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
    .optional(DOUBLE).named("value")
    .named("events")

  /** Writes `evs` as one parquet file; returns its size in bytes. */
  def writeParquet(file: File, evs: Iterable[Ev]): Long = {
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(new Path(file.getAbsolutePath))
      .withConf(conf).withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val f = new SimpleGroupFactory(schema)
    try evs.foreach { e =>
      w.write(f.newGroup().append("event_id", e.id).append("ts", e.tsUs)
        .append("user_id", e.user).append("event_type", e.kind).append("value", e.value))
    } finally w.close()
    new File(file.getParentFile, s".${file.getName}.crc").delete()
    file.length()
  }

  /** Writes `evs` as `parts` parquet files under `dir`; returns total bytes. */
  def stage(dir: File, evs: Array[Ev], parts: Int): Long = {
    dir.mkdirs()
    val per = (evs.length + parts - 1) / parts
    evs.grouped(per).zipWithIndex.map { case (chunk, i) =>
      writeParquet(new File(dir, f"part-$i%05d.parquet"), chunk.toSeq)
    }.sum
  }
}

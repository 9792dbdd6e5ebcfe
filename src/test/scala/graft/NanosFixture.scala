package graft

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

/** A real TIMESTAMP(NANOS) parquet table, as a ClickHouse DateTime64(9)
  * export writes it: nanosecond instants, several sharing one µs (999 ns
  * apart) so truncation and boundaries both show.
  */
object NanosFixture {
  val base = 1704067200000000L // 2024-01-01T00:00:00Z in µs
  val ns: Seq[Long] = (0L until 6L).flatMap(k => Seq(0L, 1L, 999L).map(d => (base + k) * 1000L + d))

  /** Writes `events.parquet/part-00000.parquet` (event_id, ts) under a new
    * temp dir and returns the dir.
    */
  def write(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-00000.parquet"))
      .withType(schema).build()
    try ns.zipWithIndex.foreach { case (v, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong).append("ts", v))
    } finally w.close()
    dir
  }
}

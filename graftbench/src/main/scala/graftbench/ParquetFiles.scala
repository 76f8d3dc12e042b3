package graftbench

import java.nio.file.{Files, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Writes generated inputs as parquet without Spark, so a generator is a
  * pure function of its seed and its files are byte-identical run to run.
  * Column kinds match the physical types of the sf0.1 tables. */
object ParquetFiles {

  sealed trait Kind
  case object I32 extends Kind
  case object I64 extends Kind
  case object F64 extends Kind
  case object Str extends Kind
  /** Microseconds since the epoch, not adjusted to UTC (TIMESTAMP_NTZ). */
  case object TsMicros extends Kind

  def schema(cols: Seq[(String, Kind)]): MessageType = {
    val b = Types.buildMessage()
    cols.foreach {
      case (n, I32) => b.optional(INT32).named(n)
      case (n, I64) => b.optional(INT64).named(n)
      case (n, F64) => b.optional(DOUBLE).named(n)
      case (n, Str) => b.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(n)
      case (n, TsMicros) => b.optional(INT64)
        .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS)).named(n)
    }
    b.named("schema")
  }

  /** Write `rows` (values in column order; null for a missing value). */
  def write(path: Path, cols: Seq[(String, Kind)], rows: Iterator[Seq[Any]]): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    val s = schema(cols)
    val factory = new SimpleGroupFactory(s)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(s)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try rows.foreach { r =>
      val g = factory.newGroup()
      cols.zip(r).foreach {
        case (_, null) => ()
        case ((n, I32), v) => g.add(n, v.asInstanceOf[Int])
        case ((n, I64 | TsMicros), v) => g.add(n, v.asInstanceOf[Long])
        case ((n, F64), v) => g.add(n, v.asInstanceOf[Double])
        case ((n, Str), v) => g.add(n, v.asInstanceOf[String])
      }
      w.write(g)
    } finally w.close()
  }
}

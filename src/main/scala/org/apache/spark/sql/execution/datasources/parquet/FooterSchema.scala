// Lives inside Spark's parquet package because ParquetFileFormat.readSchema
// is private[parquet].
package org.apache.spark.sql.execution.datasources.parquet

import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

object FooterSchema {
  /** The schema `spark.read.parquet(path)` would infer for ONE regular
    * parquet file, read from its footer on the driver instead of by a
    * Spark job. Spark's own footer conversion decides every type, so the
    * session's nanosAsLong, binaryAsString, INT96 and NTZ settings and a
    * Spark-written row-metadata schema apply exactly as in inference.
    * None for a directory or a missing path. */
  def of(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
    val p = new Path(path)
    Try(p.getFileSystem(conf).getFileStatus(p)).toOption.filter(_.isFile).map { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      val footer = try reader.getFooter finally reader.close()
      ParquetFileFormat.readSchema(Seq(new Footer(st.getPath, footer)), spark)
        .getOrElse(throw new IllegalStateException(s"no schema in parquet footer: $path"))
    }
  }
}

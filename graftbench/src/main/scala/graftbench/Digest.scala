package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a DataFrame's rows: the row count plus
  * the sum of a 64-bit hash of every row. Floating-point values are
  * rounded to 9 significant digits first, so the digest does not depend
  * on the summation order of a parallel aggregate; map entries are
  * sorted, so it does not depend on map iteration order. */
object Digest {

  final case class Value(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
  }

  def parse(s: String): Value = {
    val Array(r, h) = s.split(":", 2)
    Value(r.toLong, h)
  }

  /** The two aggregates of the digest (row count and hash sum), as
    * expressions over `df`'s columns, for `agg` or `observe`. */
  def aggregates(df: DataFrame): (Column, Column) = {
    val cols = df.schema.fields.toSeq.map(f => normalize(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    (count(lit(1)).as("rows"), sum(h.cast(DecimalType(38, 0))).as("hash"))
  }

  def value(rows: Long, hash: java.math.BigDecimal): Value =
    Value(rows, Option(hash).map(_.toBigInteger).getOrElse(java.math.BigInteger.ZERO).toString(16))

  def of(df: DataFrame): Value = {
    val (n, h) = aggregates(df)
    val row = df.agg(n, h).collect().head
    value(row.getLong(0), row.getDecimal(1))
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case StructType(fields) =>
      if (fields.isEmpty) c
      else struct(fields.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        normalize(e.getField("key"), kt).as("key"),
        normalize(e.getField("value"), vt).as("value"))))
    case _ => c
  }
}

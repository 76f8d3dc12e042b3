package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JoinHints
import org.apache.spark.sql.types.LongType

/** Range join: match point rows to interval rows with
  * `lo <= point < hi` (plus optional equi-keys). Catalyst plans a raw
  * range condition as BroadcastNestedLoop/cartesian — quadratic and
  * undeployable at scale. The standard fix is bucketization: points land
  * in bucket floor(p/width); each interval explodes into the buckets it
  * covers; the join becomes an equi-join on (keys…, bucket) with the exact
  * range predicate applied to candidates only.
  *
  * Width tunes replication: interval rows duplicate ~(len/width + 1)×.
  * Pick width near the median interval length so replication stays O(1)
  * while bucket selectivity stays high.
  */
object RangeJoin {

  /** @param pointExpr   numeric point column on `points` (cast to long buckets)
    * @param loExpr/hiExpr interval bounds on `intervals`, half-open [lo, hi)
    * @param keys        extra equi-join keys present on BOTH sides
    * @param bucketWidth bucket size in the point's units */
  def pointInInterval(
      points: DataFrame, intervals: DataFrame,
      pointExpr: Column, loExpr: Column, hiExpr: Column,
      keys: Seq[String], bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0)
    val p = points.withColumn("__bucket",
      floor(pointExpr / bucketWidth).cast(LongType))
    val i = intervals
      .withColumn("__lo_b", floor(loExpr / bucketWidth).cast(LongType))
      // hi is exclusive: the last covered bucket is floor((hi-1)/width)
      .withColumn("__hi_b", floor((hiExpr - 1) / bucketWidth).cast(LongType))
      .withColumn("__bucket", explode(sequence(col("__lo_b"), greatest(col("__hi_b"), col("__lo_b")))))
      .drop("__lo_b", "__hi_b")
    // Catalyst sizes the exploded side at its PRE-explode estimate, so long
    // intervals (open-ended SCD-2 rows span thousands of buckets) pass for
    // broadcastable and the broadcast exhausts the driver; only the points
    // side may be a broadcast build side
    p.join(JoinHints.noBroadcast(i), keys :+ "__bucket")
      .filter(pointExpr >= loExpr && pointExpr < hiExpr)
      .drop("__bucket")
  }

  /** Timestamp convenience: buckets in seconds; open-ended intervals
    * (null hi) are treated as [lo, maxTs]. The SCD-2 lookup join — "which
    * snapshot version was valid at event time t" — is exactly this. */
  def timestampInInterval(
      points: DataFrame, intervals: DataFrame,
      pointTs: String, loTs: String, hiTs: String,
      keys: Seq[String], bucketSeconds: Long,
      maxTs: java.sql.Timestamp): DataFrame = {
    val closed = intervals.withColumn(hiTs,
      coalesce(col(hiTs), lit(maxTs)))
    pointInInterval(
      points, closed,
      unix_timestamp(col(pointTs)),
      unix_timestamp(col(loTs)),
      unix_timestamp(col(hiTs)),
      keys, bucketSeconds)
  }
}

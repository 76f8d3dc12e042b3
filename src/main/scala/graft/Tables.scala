package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source-table access for the driver's TPC-H-ish star schema
  * (/root/repo/TESTDATA.md). In dbt terms these are `source()`
  * relations (reference: core/dbt/context/providers.py:1151); here a
  * source resolves to a parquet path under the scale-factor dir.
  *
  * Scale notes: every reader goes through [[readParquet]], so
  * Catalyst's vectorized parquet scan, predicate pushdown, and column
  * pruning apply unchanged whether the path is a 6k-row local file or
  * a 100 TB partitioned table on object storage.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any realistic SF. */
  val broadcastable: Set[String] = Set("region", "nation", "supplier", "part", "customer")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readParquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job: a
    * single file's schema comes from its footer on the driver (the same
    * conversion inference runs); a directory keeps Spark's multi-file
    * listing and merge rules. The one reader of every source table and
    * every project source. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    org.apache.spark.sql.execution.datasources.parquet.FooterSchema.of(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts has drifted across fixture generations: parquet
    * TIMESTAMP(NANOS) (which Spark only reads as a raw BIGINT of nanos
    * under `nanosAsLong`), then TIMESTAMP(MICROS) with and without the
    * UTC-adjusted flag. A source loader must not hard-code one physical
    * encoding — dbt's seed/source layer re-infers column types on every
    * load (reference: core/dbt/context/providers.py:1082-1107). Branch
    * on the dtype Spark actually read and normalize to a session-UTC
    * TIMESTAMP, which matches DuckDB's naive-timestamp oracle view. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // nanos epoch as BIGINT. Integer DIV, not `/`: long/long in Spark SQL
        // is DOUBLE division, and a ~1.7e18 nanosecond value exceeds double's
        // 53-bit mantissa → off-by-1µs
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        // wall-clock micros; session timezone is UTC, so this cast is lossless
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType =>
        raw
      case other =>
        throw new IllegalStateException(
          s"events.ts read as unsupported type $other (expected BIGINT nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
    }
  }
  /** The r7 fixture-drift lesson generalized: normalize the id/width
    * columns the engine and specs rely on (a regenerated fixture could
    * legally ship doc_id as int32), but leave `embedding` at its stored
    * element type — force-narrowing a future float64 fixture to float32
    * would DIVERGE from the DuckDB oracle, which always reads the stored
    * values; both engines cast to double at the point of arithmetic. */
  def documents(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StringType}
    load(s, d, "documents").select(
      col("doc_id").cast(LongType).as("doc_id"),
      col("text").cast(StringType).as("text"),
      col("lang").cast(StringType).as("lang"),
      col("source").cast(StringType).as("source"),
      col("n_chars").cast(LongType).as("n_chars"))
  }
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.LongType
    val raw = load(s, d, "embeddings")
    raw.select((raw.columns.toSeq.map {
      case "vec_id" => col("vec_id").cast(LongType).as("vec_id")
      case other => col(other)
    }): _*)
  }

  /** Register all tables as temp views so `spark.sql` models can use
    * bare table names (mirrors the driver's DuckDB oracle setup).
    * `events` goes through the dtype-normalizing loader above so the
    * SQL surface sees the same TIMESTAMP column as the DataFrame API. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      val df = n match {
        case "events" => events(spark, sfDir)
        case "documents" => documents(spark, sfDir)
        case "embeddings" => embeddings(spark, sfDir)
        case _ => load(spark, sfDir, n)
      }
      df.createOrReplaceTempView(n)
    }
}

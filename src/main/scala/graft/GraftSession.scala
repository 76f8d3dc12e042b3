package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured. Every main (Bench,
  * Verify, Main, SparkEntry, and the test tree's PlanDump) and the test
  * suite build their session here, so the config the oracle verifies is
  * the config the bench times. GraftSessionSpec pins the SQL conf below.
  *
  * Deployment inputs, each read only here:
  *   - `SPARK_GRAFT_CPUS`: local cores and shuffle partitions
  *     (default: every available processor)
  *   - `SPARK_MASTER`: the master URL (default: `local[<cpus>]`)
  */
object GraftSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A builder carrying graft's master and SQL conf; callers may add an
    * app name or test-only settings before passing it to [[create]]. */
  def builder(cpus: Int = GraftSession.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftSparkSessionExtension")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // the default 100-entry codegen class cache cannot hold a
      // multi-query application's working set, so every re-execution paid
      // a full Janino whole-stage recompilation INSIDE task threads
      // (measured: q_retrieval_bm25_stats 26.7 CPU / 2.48 wall with the
      // default vs 3.9 CPU / 0.98 wall with the cache sized to fit —
      // OPTIMIZATION_r19.md has the receipts). A long-running deployment
      // wants compiled plans cached.
      .config("spark.sql.codegen.cache.maxEntries", 10000L)
      .config("spark.sql.adaptive.enabled", true)
      .config("spark.sql.adaptive.coalescePartitions.enabled", true)
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.ui.enabled", false)

  /** Start (or join) the session and quiet Spark's INFO logging. */
  def create(configured: SparkSession.Builder = builder()): SparkSession = {
    val spark = configured.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the SQL conf [[GraftSession]] gives every session — the config
  * Bench times and Verify checks against the oracle. A change to any
  * value here is a change to the frozen bench contract. */
class GraftSessionSpec extends AnyFunSuite {

  test("the factory's effective SQL conf is the frozen bench set") {
    // a fresh session reads the factory's values, not runtime overrides
    // other specs set (and restore) on the shared session
    val conf = SparkTestSession.spark.newSession().conf
    val expected = Map(
      "spark.sql.extensions" -> "org.apache.spark.sql.graft.GraftSparkSessionExtension",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
      "spark.sql.shuffle.partitions" -> SparkTestSession.cpus.toString,
      "spark.ui.enabled" -> "false")
    expected.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(SparkTestSession.spark.sparkContext.master ==
      s"local[${SparkTestSession.cpus}]")
  }
}

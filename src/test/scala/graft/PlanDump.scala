package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import scala.util.control.NonFatal

/** Dumps `.explain("formatted")` for declared driver queries (default:
  * every query) to `<outDir>/<name>_<suffix>.txt`, so plan claims in
  * OPTIMIZATION_r*.md are checkable against committed artifacts without
  * running Spark:
  *
  *   sbt "Test/runMain graft.PlanDump <sfDir> plans/r18 before q_a,q_b"
  *
  * Formatted explain shows the INITIAL plan (AQE isFinalPlan=false); join
  * strategy / exchange counts read from it are pre-AQE, which is the
  * comparable shape across changes. Runs on the [[GraftSession]] the
  * bench times. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <suffix> [q_a,q_b]")
    val spark = GraftSession.create()
    try dump(spark, args(0), args(1), args(2),
      args.drop(3).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
    finally spark.stop()
  }

  /** Writes one plan file per query and returns the queries it could not
    * dump (unknown name or a failed plan), each with the reason. */
  def dump(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
           only: Seq[String]): Map[String, String] = {
    val names = if (only.nonEmpty) only else SparkEntry.queries.keys.toSeq.sorted
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    names.flatMap { name =>
      val problem = SparkEntry.queries.get(name) match {
        case None => Some("unknown query")
        case Some(q) =>
          try {
            val txt = q(spark, sfDir).queryExecution.explainString(FormattedMode)
            Files.write(dir.resolve(s"${name}_$suffix.txt"), txt.getBytes("UTF-8"))
            println(s"[plans] wrote ${name}_$suffix.txt")
            None
          } catch { case NonFatal(t) => Some(s"failed: ${t.getMessage}") }
      }
      problem.foreach(p => System.err.println(s"[plans] $name: $p"))
      problem.map(name -> _)
    }.toMap
  }
}

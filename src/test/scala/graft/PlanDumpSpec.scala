package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class PlanDumpSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("PlanDump writes <name>_<suffix>.txt with the physical plan; an unknown name is reported") {
    val out = Files.createTempDirectory("graft_plans")
    try {
      val problems = PlanDump.dump(spark, "/root/testdata/sf0.001", out.toString, "t1",
        Seq("q1_pricing_summary", "no_such_query"))
      assert(problems == Map("no_such_query" -> "unknown query"))
      val plan = Files.readString(out.resolve("q1_pricing_summary_t1.txt"))
      assert(plan.contains("== Physical Plan =="), plan)
      assert(!Files.exists(out.resolve("no_such_query_t1.txt")))
    } finally graft.queries.OpsQueries.deleteDir(out.toString)
  }
}

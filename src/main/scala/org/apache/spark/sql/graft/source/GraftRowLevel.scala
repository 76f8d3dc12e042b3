package org.apache.spark.sql.graft.source

import java.nio.file.Paths
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based (copy-on-write) row-level operations for graft tables —
  * what makes plain SQL `DELETE FROM` / `UPDATE` / `MERGE INTO` work on a
  * commit-log table from any Spark job:
  *
  *  1. Spark's rewrite rules turn the DML into a ReplaceData plan over
  *     this operation's scan and write.
  *  2. A runtime filter subquery finds the distinct `_file` values holding
  *     matching rows (the regular table scan serves `_file`, and manifest
  *     stats prune ITS file list too), and [[GraftGroupScan.filter]]
  *     narrows the group scan to exactly those files.
  *  3. Spark recomputes the surviving/updated rows of those files and
  *     writes them through the standard staging writer (layout-routed,
  *     stats-recorded), and the commit atomically swaps scanned files for
  *     written files — the engine's `commitReplace` shape.
  *
  * Untouched files never enter the plan: a one-row UPDATE on a 100 TB
  * table scans and rewrites O(matching files), not O(table). This is the
  * Iceberg copy-on-write design (public docs/source), re-done over graft's
  * log. Provable DELETEs never reach this path — Spark's
  * OptimizeMetadataOnlyDeleteFromTable collapses them to
  * [[GraftSourceTable.deleteWhere]] (zero data I/O).
  */
class GraftRowLevelOperation(dir: String, tableSchema: StructType,
                             cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  /** The post-runtime-filter file list the group scan planned — exactly
    * the files the replacement write must remove. Set on the driver at
    * partition-planning time, read at commit time. */
  @volatile var scannedFiles: Seq[String] = Nil

  override def command(): RowLevelOperation.Command = cmd

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftSourceTable.FileCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftGroupScanBuilder(dir, tableSchema, this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val op = this
    new WriteBuilder {
      override def build(): Write = new GraftReplaceWrite(dir, info.schema(), op)
    }
  }
}

class GraftGroupScanBuilder(dir: String, tableSchema: StructType,
                            op: GraftRowLevelOperation)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = tableSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]):
      Array[org.apache.spark.sql.sources.Filter] = { pushed = filters; filters }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
  override def build(): Scan =
    new GraftGroupScan(dir, tableSchema, required, pushed.toSeq, op)
}

/** The operation's scan: a plain manifest scan that (a) accepts Spark's
  * runtime `_file IN (…)` group filter and replans to exactly those
  * files, and (b) reports the final planned file list back to the
  * operation so the write knows what to replace. No KeyGrouped reporting:
  * the rewrite's distribution comes from the write side. */
class GraftGroupScan(dir: String, tableSchema: StructType, required: StructType,
                     filters: Seq[org.apache.spark.sql.sources.Filter],
                     op: GraftRowLevelOperation)
    extends GraftScan(dir, tableSchema, required, None, None, filters, None)
    with SupportsRuntimeV2Filtering {

  override def outputPartitioning(): Partitioning = new UnknownPartitioning(0)

  /** NEVER hand filters to the parquet reader here: the group scan must
    * return every row of each matching file — the replacement write swaps
    * whole files, so row-group pruning or record-level filtering on the
    * pushed command condition would silently DELETE surviving rows.
    * Pushed filters participate only in manifest file skipping. */
  override protected def parquetFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftSourceTable.FileCol))

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.internal.connector.PredicateUtils
    import org.apache.spark.sql.sources.{EqualTo, In}
    val keeps = predicates.flatMap(PredicateUtils.toV1(_)).collect {
      case In(c, vs) if c == GraftSourceTable.FileCol =>
        vs.map(String.valueOf(_)).toSet
      case EqualTo(c, v) if c == GraftSourceTable.FileCol =>
        Set(String.valueOf(v))
    }
    if (keeps.nonEmpty) {
      runtimeKeep = Some(keeps.reduce(_ intersect _))
      invalidatePlanned()
    }
  }

  override protected def onPlanned(files: Seq[String]): Unit =
    op.scannedFiles = files
}

/** The replacement write: stages like any batch write, but its commit
  * swaps the operation's scanned files for the written ones in one CAS —
  * concurrent appends to OTHER files compose through the log's optimistic
  * retry. */
class GraftReplaceWrite(dir: String, writeSchema: StructType,
                        op: GraftRowLevelOperation)
    extends Write with RequiresDistributionAndOrdering {
  private val st = GraftSourceTable.resolve(dir, None)

  override def requiredDistribution(): Distribution = {
    val cols = st.partitionBy ++ st.bucketBy
    if (cols.isEmpty) Distributions.unspecified()
    else Distributions.clustered(cols.map(Expressions.identity).toArray)
  }
  override def distributionStrictlyRequired(): Boolean = false
  override def requiredOrdering(): Array[V2SortOrder] =
    st.partitionBy.map(c => Expressions.sort(Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray

  override def toBatch: BatchWrite = new BatchWrite {
    private val stageDir = graft.relations.WarehouseIO.join(dir,
      s"_graft_stage_v2r_${java.util.UUID.randomUUID().toString.take(8)}")

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      GraftPublish.factory(dir, st, writeSchema, stageDir)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      // operation-statement replay guard (r18): a resumed run re-running
      // an already-committed DML statement skips the rewrite outright
      if (GraftOpTxn.alreadyCommitted(GraftSourceTable.log(dir))) {
        graft.relations.WarehouseIO.deleteDir(stageDir); return
      }
      val written = messages.collect { case m: GraftCommitMessage => m.files }.flatten
      val files = written.map(_._1)
      val removed = op.scannedFiles.toSet
      // nothing rewritten AND nothing scanned-for-replacement: the DML
      // matched no rows — skip the no-op commit (see GraftDelta)
      if (files.isEmpty && removed.isEmpty) {
        graft.relations.WarehouseIO.deleteDir(stageDir); return
      }
      GraftPublish.publish(dir, stageDir, files, GraftSourceTable.store(dir))
      graft.relations.WarehouseIO.deleteDir(stageDir)
      // Write-write conflict detection: this DML read `removed` and is
      // about to replace it. The transform runs INSIDE the commit CAS
      // retry against the latest state, so if another commit replaced any
      // of those files meanwhile, committing our rewrite would resurrect
      // their pre-image rows as duplicates — abort instead (serializable
      // at file granularity; the caller retries the whole statement).
      // The merge-on-read twin: a concurrent DELTA commit mutates rows
      // without replacing the file (delete attachments) — same abort.
      val log = GraftSourceTable.log(dir)
      // change_feed tables: store this rewrite's row images (added files
      // vs scanned files, carried rows cancelling) so SQL DML keeps the
      // connector feed diff-free — without this, a mixed CoW rewrite
      // fails the feed plan loudly
      val changeFiles =
        if (GraftChangeImages.enabled(st))
          GraftChangeImages.copyOnWrite(dir, st, files, removed.toSeq)
        else Nil
      try log.commit(None, None, None, None, written.toMap,
        txn = GraftOpTxn.current,
        changeFiles = changeFiles) { cur =>
        val curSet = cur.toSet
        val vanished = removed.filterNot(curSet)
        if (vanished.nonEmpty) throw new IllegalStateException(
          s"concurrent modification on $dir: files read by this " +
            s"${op.command()} were replaced by another commit " +
            s"(${vanished.take(3).mkString(", ")}…) — retry the statement")
        log.currentVersion.map(log.read).foreach { lv =>
          removed.foreach { f =>
            if (lv.deletes.getOrElse(f, Nil) != st.deletes.getOrElse(f, Nil))
              throw new java.util.ConcurrentModificationException(
                s"concurrent row-level commit on $dir: $f gained " +
                  s"merge-on-read deletes after this ${op.command()}'s scan — " +
                  "retry the statement")
          }
        }
        cur.filterNot(removed.contains) ++ files
      }
      catch { case _: graft.relations.StaleTxnException => () }
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      graft.relations.WarehouseIO.deleteDir(stageDir)
  }
}

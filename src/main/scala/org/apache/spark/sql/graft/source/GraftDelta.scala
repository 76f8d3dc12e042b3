package org.apache.spark.sql.graft.source

import java.nio.file.{Files, Paths}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import graft.relations.{ColStats, TableVersion, WarehouseIO}

/** Merge-on-read (delta-based) row-level operations — the
  * `SupportsDelta` twin of [[GraftRowLevelOperation]]'s copy-on-write,
  * selected by the table property `row_level_mode = merge-on-read`
  * (the Iceberg positional-delete / Delta deletion-vector design, from
  * the public papers, over graft's commit log):
  *
  *  1. Spark's delta rewrite plans a scan of the MATCHING rows only (the
  *     command condition pushes into manifest file skipping), with each
  *     row's identity — `(_file, _pos)` — served by the scan's metadata
  *     columns; `_pos` is the parquet reader's own row index, exact under
  *     pushdown and row-group pruning.
  *  2. DELETEs become rows in a tiny per-task delete file
  *     (`_graft_deletes/…`, schema `(file, pos)`); UPDATEs are
  *     delete + re-insert (the inserts route through the standard
  *     layout-aware staging writer); MERGE inserts likewise.
  *  3. ONE commit attaches the delete files to exactly the data files
  *     they touch and appends the new data files. No referenced data file
  *     is rewritten: a one-row UPDATE on a 100 TB table writes O(1 row)
  *     of deletes + O(1 row) of inserts, not O(file).
  *
  * Readers anti-merge the positions out (see [[GraftReaderFactory]]);
  * `optimize` compaction folds delete files back into clean data files.
  * Conflict safety: the commit aborts inside the CAS retry if any file it
  * attaches deletes to was concurrently replaced — resurrecting a
  * rewritten file's dead positions on its successor would otherwise
  * corrupt the table (same serializable-at-file-granularity contract as
  * the copy-on-write path). */
class GraftDeltaOperation(dir: String, tableSchema: StructType,
                          cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  /** Table state when this operation began — the serializability anchor.
    * The commit validates that every file it attaches deletes to still
    * has EXACTLY the delete attachments it had here: a concurrent
    * row-level commit on the same file would otherwise let two UPDATEs of
    * one row both 'win' (each deletes the original position and inserts
    * its own copy — a lost-update row duplication). Same file-granular
    * serializability the copy-on-write path gets from its vanished-file
    * check. */
  val base: TableVersion = GraftSourceTable.resolve(dir, None)

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftSourceTable.FileCol),
      Expressions.column(GraftSourceTable.PosCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(dir, tableSchema, options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(dir, info.schema(), base)
    }
}

/** One task's delta output: the data files it wrote (inserts, with stats),
  * its delete file (if it deleted anything), and per touched data file
  * the number of positions this task deleted from it — recorded in the
  * manifest so auto-compaction's ratio trigger never re-reads delete
  * files (a MoR position dies at most once, so counts add exactly). */
case class GraftDeltaCommitMessage(dataFiles: Seq[(String, Map[String, ColStats])],
                                   deleteFile: Option[String],
                                   touched: Seq[(String, Long)])
    extends WriterCommitMessage

class GraftDeltaWrite(dir: String, writeSchema: StructType,
                      base: TableVersion) extends DeltaWrite {
  private val st: TableVersion = base

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val stageDir = graft.relations.WarehouseIO.join(dir,
      s"_graft_stage_v2d_${java.util.UUID.randomUUID().toString.take(8)}")

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
      // a pure-DELETE delta write carries an EMPTY write schema — no
      // insert row will ever arrive — but the insert-side factory
      // resolves the table's layout columns against the write schema in
      // its constructor, so a MoR DELETE on a bucketed or partitioned
      // store crashed before writing a single delete position (r17,
      // found by the retrieval_gc_mor probe leg: FIELD_NOT_FOUND on the
      // bucket column). Strip the layout for the insert factory when
      // there is nothing to route; UPDATE/MERGE writes carry the full
      // row schema and keep their layout-aware routing.
      val stForInserts =
        if (writeSchema.isEmpty)
          st.copy(partitionBy = Nil, bucketBy = Nil, buckets = 0, statsCols = Nil)
        else st
      val dataFac = GraftPublish.factory(dir, stForInserts, writeSchema, stageDir)
      // a second parquet writer factory for the (file, pos) delete schema
      val spark = SparkSession.active
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val delOwf = new ParquetFileFormat().prepareWrite(
        spark, job, Map.empty[String, String], GraftSourceTable.DeleteSchema)
      GraftDeltaWriterFactory(dataFac, delOwf,
        new SerializableConfiguration(job.getConfiguration))
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      // operation-statement replay guard (r18): a resumed run re-running
      // an already-committed DML statement skips the publish outright
      if (GraftOpTxn.alreadyCommitted(GraftSourceTable.log(dir))) {
        WarehouseIO.deleteDir(stageDir); return
      }
      val msgs = messages.collect { case m: GraftDeltaCommitMessage => m }
      val written = msgs.flatMap(_.dataFiles)
      val dataFiles = written.map(_._1)
      val deleteFiles = msgs.flatMap(_.deleteFile)
      // a delta that wrote no data files and no delete files changed
      // nothing — skip the commit instead of bumping the version (and
      // defeating version-fingerprinted refresh skipping) on every
      // zero-match DML statement; replaying a no-op is a no-op, so the
      // dropped replay-guard watermark costs nothing
      if (dataFiles.isEmpty && deleteFiles.isEmpty) {
        WarehouseIO.deleteDir(stageDir); return
      }
      GraftPublish.publish(dir, stageDir, dataFiles ++ deleteFiles,
        GraftSourceTable.store(dir))
      WarehouseIO.deleteDir(stageDir)
      val attach: Map[String, Seq[String]] = msgs
        .flatMap(m => m.deleteFile.toSeq.flatMap(df => m.touched.map(_._1 -> df)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.distinct).toMap
      val attachRows: Map[String, Long] = msgs
        .flatMap(_.touched).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      // Write-write conflict detection, INSIDE the CAS retry: the commit
      // itself aborts if an attach target vanished (file rewritten), and
      // this validation aborts if a concurrent row-level commit attached
      // NEW deletes to a file this statement read and is now deleting
      // from — our positions were computed against the base state, so two
      // same-row UPDATEs racing would both delete the original position
      // and both insert (row duplication). File-granular serializability,
      // same contract as copy-on-write.
      val log = GraftSourceTable.log(dir)
      def validateDeletesUnchanged(): Unit = {
        val cur = log.currentVersion.map(log.read).getOrElse(return)
        attach.keys.foreach { f =>
          if (cur.deletes.getOrElse(f, Nil) != base.deletes.getOrElse(f, Nil))
            throw new java.util.ConcurrentModificationException(
              s"concurrent row-level commit on $dir: $f gained delete " +
                "attachments since this statement's scan — retry the statement")
        }
      }
      // change_feed tables: store this delta commit's row images (insert
      // files' rows vs the newly-dead positions' pre-images) so the feed
      // stays diff-free under merge-on-read — same Delta-CDF uniformity
      // as copy-on-write commits
      val changeFiles =
        if (GraftChangeImages.enabled(base))
          GraftChangeImages.delta(dir, base, dataFiles, deleteFiles,
            attach.keys.toSeq)
        else Nil
      try log.commit(None, None, None, None,
        written.toMap, txn = GraftOpTxn.current,
        addedDeletes = attach, addedDeleteRows = attachRows,
        changeFiles = changeFiles) { cur =>
        validateDeletesUnchanged()
        cur ++ dataFiles
      }
      catch { case _: graft.relations.StaleTxnException => () }
      // post-commit: fold accumulated deletes when they cross the table's
      // ratio/count bounds — see GraftAutoCompact (best-effort)
      GraftAutoCompact.maybeFold(dir)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      WarehouseIO.deleteDir(stageDir)
  }
}

case class GraftDeltaWriterFactory(dataFac: GraftWriterFactory,
                                   delOwf: OutputWriterFactory,
                                   delConf: SerializableConfiguration)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(dataFac, delOwf, delConf, partitionId, taskId)
}

/** Executor-side delta writer: inserts stream through the standard
  * layout-routing [[GraftDataWriter]]; deletes stream into one lazily
  * opened `(file, pos)` parquet per task. */
class GraftDeltaWriter(dataFac: GraftWriterFactory, delOwf: OutputWriterFactory,
                       delConf: SerializableConfiguration,
                       partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {

  private val inserts = new GraftDataWriter(dataFac, partitionId, taskId)
  private var delWriter: OutputWriter = _
  private var delRelPath: String = _
  private val touched = scala.collection.mutable.LinkedHashMap[String, Long]()
  private val reuse = new org.apache.spark.sql.catalyst.expressions
    .GenericInternalRow(2)

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    if (delWriter == null) {
      val ctx = new TaskAttemptContextImpl(delConf.value,
        new TaskAttemptID(new TaskID(new JobID("graft", 1), TaskType.MAP,
          partitionId), taskId.toInt))
      delRelPath = s"_graft_deletes/del-${dataFac.uniq}-$partitionId-$taskId" +
        delOwf.getFileExtension(ctx)
      val abs = graft.relations.WarehouseIO.join(dataFac.stageDir, delRelPath)
      // same local-vs-remote routing as GraftWrite.writerFor: file:-scheme
      // spellings are LOCAL and must resolve through localPath
      val target =
        if (graft.relations.WarehouseIO.isRemote(dataFac.stageDir)) abs
        else {
          val jp = graft.relations.WarehouseIO.localPath(abs)
          Option(jp.getParent).foreach(Files.createDirectories(_))
          jp.toUri.toString
        }
      delWriter = delOwf.newInstance(target,
        GraftSourceTable.DeleteSchema, ctx)
    }
    val file = id.getUTF8String(0)
    val key = file.toString
    touched.update(key, touched.getOrElse(key, 0L) + 1L)
    reuse.update(0, file)
    reuse.update(1, id.getLong(1))
    delWriter.write(reuse)
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "updates are represented as delete + insert (representUpdateAsDeleteAndInsert)")

  override def insert(row: InternalRow): Unit = inserts.write(row)

  override def commit(): WriterCommitMessage = {
    if (delWriter != null) delWriter.close()
    val dataMsg = inserts.commit().asInstanceOf[GraftCommitMessage]
    GraftDeltaCommitMessage(dataMsg.files, Option(delRelPath), touched.toSeq)
  }

  override def abort(): Unit = {
    try { if (delWriter != null) delWriter.close() }
    finally inserts.abort()
  }

  override def close(): Unit = ()
}

package org.apache.spark.sql.graft.source

import java.nio.file.{Files, Paths}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal, Murmur3HashFunction, UnsafeProjection}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration
import graft.relations.{ColStats, RelationManager, Stats, TableVersion, WarehouseIO}

/** V2 write path for graft commit-log tables — what makes a graft table
  * writable from ANY Spark job, not just the engine's Runner:
  *
  * {{{
  *   INSERT INTO wh.analytics.orders SELECT ...          -- append
  *   INSERT OVERWRITE wh.analytics.orders SELECT ...     -- truncate or dynamic
  *   CREATE TABLE wh.analytics.t AS SELECT ...            -- CTAS via the catalog
  *   df.writeTo("wh.analytics.orders").append()
  *   df.write.format("graft").mode("append").save(dir)    -- path-based
  * }}}
  *
  * Protocol (the same one the engine's RelationManager speaks, so engine
  * and external writers interleave safely):
  *  1. every task writes its parquet files into one hidden staging dir
  *     (`_graft_stage_v2_*`) under the table prefix — invisible to readers
  *     and to manifest listings until commit;
  *  2. each task computes its files' per-column min/max/null stats WHILE
  *     writing (the table's declared `statsCols`), so the manifest's
  *     data-skipping and stats-aggregate pushdowns keep working on
  *     externally-written data with zero extra read jobs;
  *  3. the driver moves the committed tasks' files to their final names and
  *     publishes ONE commit-log version through the same `createIfAbsent`
  *     CAS every other writer uses — snapshot isolation and optimistic
  *     retry against concurrent engine writes come for free.
  *
  * Layout is manifest-driven: rows route to the table's declared partition
  * dirs (Hive `k=v` segments) and bucket files (murmur3-pmod, identical to
  * [[GraftBoundBucket]] and the engine's write side), so externally
  * appended data keeps storage-partitioned joins and partition pruning
  * valid. The write REQUESTS clustering/ordering on those keys (best
  * effort); correctness never depends on it — an unclustered input just
  * produces more files (each task bounds open writers via LRU eviction,
  * closing a file early instead of buffering unboundedly).
  *
  * Reference analog: dbt delegates INSERT/CTAS to the warehouse engine;
  * here the "warehouse" is the commit log, and this connector is its SQL
  * write surface. Design follows the public Delta/Iceberg write protocols.
  */
object GraftWriteMode extends Enumeration {
  val Append, Truncate, DynamicOverwrite = Value
}

class GraftWriteBuilder(dir: String, info: LogicalWriteInfo, viaCatalog: Boolean)
    extends WriteBuilder with SupportsTruncate with SupportsDynamicOverwrite {
  private var mode = GraftWriteMode.Append
  override def truncate(): WriteBuilder = { mode = GraftWriteMode.Truncate; this }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = GraftWriteMode.DynamicOverwrite; this
  }
  override def build(): Write =
    new GraftWrite(dir, info.schema(), mode, viaCatalog, info.queryId(),
      preClustered = info.options.containsKey(
        org.apache.spark.sql.graft.GraftPathWriteClustering.Marker))
}

class GraftWrite(dir: String, writeSchema: StructType,
                 mode: GraftWriteMode.Value, viaCatalog: Boolean,
                 queryId: String = "", preClustered: Boolean = false)
    extends Write with RequiresDistributionAndOrdering {
  private val st: TableVersion = GraftSourceTable.resolve(dir, None)

  /** Requested (not required) layout: cluster on partition values + bucket
    * id so each task writes few files, order by partition values so the
    * LRU writer pool stays at ~1 open file. The bucket transform only
    * resolves through a FunctionCatalog, so PATH-based writes to bucketed
    * tables are clustered by [[org.apache.spark.sql.graft.GraftPathWriteClustering]]
    * instead (the session-extension hook), which marks the plan
    * pre-clustered so no second shuffle is requested here; without the
    * extension they fall back to clustering on the raw bucket columns —
    * same files, just a looser grouping (tasks × buckets file counts). */
  override def requiredDistribution(): Distribution = {
    if (preClustered) return Distributions.unspecified()
    val part = st.partitionBy.map(Expressions.identity)
    val bkt =
      if (st.buckets > 0 && viaCatalog)
        Seq(Expressions.bucket(st.buckets, st.bucketBy: _*))
      else if (st.buckets > 0) st.bucketBy.map(Expressions.identity)
      else Nil
    val all = part ++ bkt
    if (all.isEmpty) Distributions.unspecified()
    else Distributions.clustered(all.toArray)
  }
  override def distributionStrictlyRequired(): Boolean = false
  override def requiredOrdering(): Array[V2SortOrder] =
    st.partitionBy.map(c => Expressions.sort(Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray

  override def toBatch: BatchWrite = new GraftBatchWrite(dir, st, writeSchema, mode)

  /** Exactly-once streaming sink: each epoch appends (or, for Complete
    * mode, replaces) through one commit that atomically records the
    * query's epoch watermark in the manifest's txn map — a restarted
    * query replaying its in-flight epoch sees watermark ≥ epoch and
    * discards the duplicate instead of double-appending (the engine's
    * `appendToTable` contract, now reachable from any Spark job via
    * `df.writeStream.format("graft").start(dir)`). */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new GraftStreamingWrite(dir, st, writeSchema, mode, queryId)
}

/** One WriterCommitMessage per task: the files it wrote (stage-relative =
  * final table-relative paths) with their row counts and column stats. */
case class GraftCommitMessage(files: Seq[(String, Map[String, ColStats])])
    extends WriterCommitMessage

/** Staging/publish plumbing shared by the batch and streaming writes. */
private[source] object GraftPublish {
  /** Move committed files from a stage dir to their final table-relative
    * names (stage-relative and table-relative paths coincide — a
    * local-staging detail, not part of the commit protocol). Routed
    * through the FileStore seam so an object-store deployment publishes
    * with copy+delete instead of rename (safe: visibility is
    * manifest-controlled and names are write-unique). */
  def publish(dir: String, stageDir: String, files: Seq[String],
              store: graft.relations.FileStore = new graft.relations.LocalFileStore): Unit =
    files.foreach { f =>
      store.moveFile(WarehouseIO.join(stageDir, f), WarehouseIO.join(dir, f))
    }

  /** The replacement key for dynamic overwrite is the LOGICAL partition:
    * bucket layout dirs don't count (same rule as the engine's
    * commitStagedPartitions). */
  def partDir(f: String): String = f.split('/').dropRight(1)
    .filterNot(_.startsWith(RelationManager.BucketCol + "=")).mkString("/")

  def transformFor(mode: GraftWriteMode.Value,
                   files: Seq[String]): Seq[String] => Seq[String] = mode match {
    case GraftWriteMode.Append   => cur => cur ++ files
    case GraftWriteMode.Truncate => _ => files
    case GraftWriteMode.DynamicOverwrite =>
      val replaced = files.map(partDir).toSet
      cur => cur.filterNot(f => replaced.contains(partDir(f))) ++ files
  }

  /** Driver-side writer factory for one write: parquet output factory from
    * Spark's own FileFormat (codec, committer conf), the layout columns,
    * and a fresh uuid that rides every file name — task ids restart at 0
    * in a new session, so the uuid is what keeps file names from a second
    * session's append from colliding with already-published ones. */
  def factory(dir: String, st: TableVersion, writeSchema: StructType,
              stageDir: String): GraftWriterFactory = {
    val spark = SparkSession.active
    WarehouseIO.mkdirs(stageDir)
    val fileDataSchema = StructType(writeSchema.fields.filterNot(f =>
      st.partitionBy.contains(f.name) || f.name == GraftSourceTable.FileCol ||
        f.name == GraftSourceTable.PosCol)) // metadata cols never hit parquet
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = new ParquetFileFormat().prepareWrite(
      spark, job, Map.empty[String, String], fileDataSchema)
    GraftWriterFactory(stageDir, writeSchema, fileDataSchema,
      st.partitionBy, st.bucketBy, st.buckets, st.statsCols, owf,
      new SerializableConfiguration(job.getConfiguration),
      java.util.UUID.randomUUID().toString.take(8),
      spark.sessionState.conf.sessionLocalTimeZone)
  }
}

class GraftBatchWrite(dir: String, st: TableVersion, writeSchema: StructType,
                      mode: GraftWriteMode.Value) extends BatchWrite {

  private val stageDir = WarehouseIO.join(dir,
    s"_graft_stage_v2_${java.util.UUID.randomUUID().toString.take(8)}")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftPublish.factory(dir, st, writeSchema, stageDir)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val log = GraftSourceTable.log(dir)
    // operation-statement replay guard (r18): a resumed run re-running an
    // already-committed statement skips — same shape as the streaming
    // sink's epoch fast path; the CAS txn check stays authoritative
    if (GraftOpTxn.alreadyCommitted(log)) { WarehouseIO.deleteDir(stageDir); return }
    val written = messages.collect { case m: GraftCommitMessage => m.files }.flatten
    val files = written.map(_._1)
    // a zero-row APPEND is a provable no-op: committing it would bump
    // the version for nothing — spamming manifests on every no-op
    // statement and defeating version-fingerprinted refresh skipping
    // (r18: the catch-up build's empty INSERT kept re-triggering the
    // KMV rebuild). Truncate/overwrite with zero files stays a REAL
    // commit (it removes rows). Skipping also drops the statement's
    // replay-guard watermark — harmless: replaying a no-op is a no-op.
    if (files.isEmpty && mode == GraftWriteMode.Append) {
      WarehouseIO.deleteDir(stageDir); return
    }
    GraftPublish.publish(dir, stageDir, files, GraftSourceTable.store(dir))
    WarehouseIO.deleteDir(stageDir)
    try log.commit(None, None, None, None, written.toMap, GraftOpTxn.current)(
      GraftPublish.transformFor(mode, files))
    catch { case _: graft.relations.StaleTxnException => () }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    WarehouseIO.deleteDir(stageDir)
}

/** Exactly-once streaming sink (`df.writeStream.format("graft")`): each
  * epoch stages under its own subdir and commits once, with the query's
  * epoch watermark riding the same atomic commit as the file list. A
  * replayed epoch (restart from checkpoint) finds watermark ≥ epoch and
  * discards its staged files instead of committing a duplicate — the
  * Delta-paper txn-action idea, same contract as the engine's
  * `StreamingOps.appendToTable`. */
class GraftStreamingWrite(dir: String, st: TableVersion, writeSchema: StructType,
                          mode: GraftWriteMode.Value, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val appId = s"graft-v2-stream:$queryId"
  private val stageBase = WarehouseIO.join(dir,
    s"_graft_stage_v2s_${java.util.UUID.randomUUID().toString.take(8)}")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo):
      org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    GraftStreamingWriterFactory(GraftPublish.factory(dir, st, writeSchema, stageBase))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val epochDir = WarehouseIO.join(stageBase, s"e$epochId")
    val log = GraftSourceTable.log(dir)
    // fast path: a known-replayed epoch skips publishing entirely
    val replayed = log.currentVersion.map(log.read)
      .flatMap(_.txn.get(appId)).exists(_ >= epochId)
    if (replayed) { WarehouseIO.deleteDir(epochDir); return }
    val written = messages.collect { case m: GraftCommitMessage => m.files }.flatten
    val files = written.map(_._1)
    GraftPublish.publish(dir, epochDir, files, GraftSourceTable.store(dir))
    WarehouseIO.deleteDir(epochDir)
    // the AUTHORITATIVE exactly-once gate is the log's own txn check
    // inside the commit CAS — a zombie of this query racing its restart
    // both pass the fast path, but only one commit lands; the loser's
    // published files stay invisible and vacuum reclaims them
    try log.commit(None, None, None, None, written.toMap, Map(appId -> epochId))(
      GraftPublish.transformFor(mode, files))
    catch { case _: graft.relations.StaleTxnException => () }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    WarehouseIO.deleteDir(WarehouseIO.join(stageBase, s"e$epochId"))
}

case class GraftStreamingWriterFactory(base: GraftWriterFactory)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(base, partitionId, taskId,
      subDir = s"e$epochId", tag = s"e$epochId-")
}

case class GraftWriterFactory(stageDir: String, writeSchema: StructType,
                              fileDataSchema: StructType,
                              partitionBy: Seq[String], bucketBy: Seq[String],
                              buckets: Int, statsCols: Seq[String],
                              owf: OutputWriterFactory,
                              conf: SerializableConfiguration,
                              uniq: String,
                              timeZone: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(this, partitionId, taskId)
}

/** Executor-side writer: routes each row to its partition/bucket directory,
  * keeps an LRU pool of open parquet writers (≤ [[GraftDataWriter.MaxOpen]];
  * eviction closes the file — more, smaller files, bounded memory), and
  * accumulates per-file column stats in the manifest's canonical encoding
  * as it writes. */
class GraftDataWriter(fac: GraftWriterFactory, partitionId: Int, taskId: Long,
                      subDir: String = "", tag: String = "")
    extends DataWriter[InternalRow] {

  import GraftDataWriter.MaxOpen

  private val ctx = new TaskAttemptContextImpl(fac.conf.value,
    new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId),
      taskId.toInt))
  private val ext = fac.owf.getFileExtension(ctx)

  // full-schema index of each partition column + its value-as-path-string
  // evaluator (Cast to string under the writing session's timezone — the
  // exact inverse of the read side's partitionValues parsing, and the
  // convention Spark's own file sources use)
  private val partEval: Seq[InternalRow => String] = fac.partitionBy.map { c =>
    val i = fac.writeSchema.fieldIndex(c)
    val dt = fac.writeSchema.fields(i).dataType
    (row: InternalRow) => {
      val v = row.get(i, dt)
      if (v == null) null
      else Cast(Literal(v, dt), StringType,
        Some(fac.timeZone)).eval(null).toString
    }
  }
  private val bucketIdx: Seq[(Int, DataType)] = fac.bucketBy.map { c =>
    val i = fac.writeSchema.fieldIndex(c)
    (i, fac.writeSchema.fields(i).dataType)
  }
  // projection dropping partition columns (they live in dir names)
  private val project = UnsafeProjection.create(
    fac.fileDataSchema.fields.map { f =>
      val i = fac.writeSchema.fieldIndex(f.name)
      BoundReference(i, f.dataType, nullable = true)
    }.toSeq)
  // stat columns resolved against the FULL row (partition cols included,
  // matching the engine's basePath-recovered stats)
  private val statIdx: Seq[(String, Int, DataType)] = fac.statsCols
    .filter(fac.writeSchema.fieldNames.contains)
    .map(c => (c, fac.writeSchema.fieldIndex(c),
      fac.writeSchema.fields(fac.writeSchema.fieldIndex(c)).dataType))
  // one Ordering per stats column, built once — not per row (hot path)
  private val statOrds: Array[Ordering[String]] =
    statIdx.map(t => Stats.ordering(t._3).getOrElse(Ordering.String)).toArray

  private final class Acc {
    var rows = 0L
    val nulls = new Array[Long](statIdx.length)
    val mins = new Array[String](statIdx.length)
    val maxs = new Array[String](statIdx.length)
    def update(row: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < statIdx.length) {
        val (_, idx, dt) = statIdx(i)
        val v = row.get(idx, dt)
        if (v == null) nulls(i) += 1
        else GraftDataWriter.canonical(dt, v) match {
          case null => ()
          case s =>
            val ord = statOrds(i)
            if (mins(i) == null || ord.lt(s, mins(i))) mins(i) = s
            if (maxs(i) == null || ord.gt(s, maxs(i))) maxs(i) = s
        }
        i += 1
      }
    }
    def stats: Map[String, ColStats] =
      statIdx.zipWithIndex.map { case ((c, _, _), i) =>
        c -> ColStats(Option(mins(i)), Option(maxs(i)), nulls(i), rows)
      }.toMap
  }

  private final class Open(val relPath: String,
                           val writer: org.apache.spark.sql.execution.datasources.OutputWriter,
                           val acc: Acc)

  // LRU by access order; evicting closes the file (finalized + recorded)
  private val open = new java.util.LinkedHashMap[String, Open](16, 0.75f, true)
  private val done = Seq.newBuilder[(String, Map[String, ColStats])]
  private var seq = 0

  private def dirFor(row: InternalRow): String = {
    val part = fac.partitionBy.zip(partEval).map { case (c, ev) =>
      ExternalCatalogUtils.getPartitionPathString(c, Option(ev(row)).getOrElse(""))
    }
    val bkt =
      if (fac.buckets > 0) {
        var h = 42
        bucketIdx.foreach { case (i, dt) =>
          val v = row.get(i, dt)
          if (v != null) h = Murmur3HashFunction.hash(v, dt, h).toInt
        }
        Seq(s"${RelationManager.BucketCol}=${((h % fac.buckets) + fac.buckets) % fac.buckets}")
      } else Nil
    (part ++ bkt).mkString("/")
  }

  private def close(o: Open): Unit = {
    o.writer.close()
    done += ((o.relPath, o.acc.stats))
  }

  private def writerFor(dir: String): Open = {
    val hit = open.get(dir)
    if (hit != null) return hit
    if (open.size >= MaxOpen) {
      val eldest = open.entrySet().iterator().next()
      close(eldest.getValue)
      open.remove(eldest.getKey)
    }
    val name = s"part-${fac.uniq}-$tag$partitionId-$taskId-$seq$ext"
    seq += 1
    val relPath = if (dir.isEmpty) name else s"$dir/$name"
    val abs =
      if (subDir.isEmpty) WarehouseIO.join(fac.stageDir, relPath)
      else WarehouseIO.join(fac.stageDir, subDir, relPath)
    // the parquet writer goes through the target's Hadoop FileSystem,
    // whose create() makes parent dirs; only a plain local stage needs
    // (and can take) an explicit java.nio mkdirs + file:// URI. Local
    // includes `file:`-scheme spellings (Spark canonicalizes a LOCATION
    // clause to single-slash `file:/x`, which contains no `://`) — those
    // must resolve through localPath, or the task writes into a literal
    // ./file: tree while publish reads the real path.
    val target =
      if (WarehouseIO.isRemote(fac.stageDir)) abs
      else {
        val jp = WarehouseIO.localPath(abs)
        Option(jp.getParent).foreach(Files.createDirectories(_))
        jp.toUri.toString
      }
    val o = new Open(relPath,
      fac.owf.newInstance(target, fac.fileDataSchema, ctx), new Acc)
    open.put(dir, o)
    o
  }

  override def write(row: InternalRow): Unit = {
    val o = writerFor(dirFor(row))
    o.acc.update(row)
    o.writer.write(project(row))
  }

  override def commit(): WriterCommitMessage = {
    import scala.jdk.CollectionConverters._
    open.values().asScala.foreach(close)
    open.clear()
    GraftCommitMessage(done.result())
  }

  override def abort(): Unit = {
    import scala.jdk.CollectionConverters._
    open.values().asScala.foreach(o => o.writer.close())
    open.clear()
  }

  override def close(): Unit = ()
}

object GraftDataWriter {
  /** Max concurrently open parquet writers per task; beyond it the LRU file
    * closes early. Bounds executor memory under unclustered input. */
  val MaxOpen = 32

  /** Catalyst-value → the manifest's canonical stats encoding (must agree
    * with `Stats.canonical` over external values): timestamps are already
    * epoch micros, dates epoch days, booleans "1"/"0", decimals plain
    * strings. Returns null for non-stats-comparable types. */
  private[source] def canonical(dt: DataType, v: Any): String = dt match {
    case StringType  => v.toString
    case BooleanType => if (v.asInstanceOf[Boolean]) "1" else "0"
    case ByteType | ShortType | IntegerType | LongType |
         DateType | TimestampType | TimestampNTZType | FloatType | DoubleType =>
      v.toString
    case _: DecimalType =>
      v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal.toPlainString
    case _ => null
  }
}

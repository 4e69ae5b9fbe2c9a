package graft.tables

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DELTA-based SQL row-level operations — merge-on-read `UPDATE` /
  * `MERGE INTO` / rewrite-path `DELETE` via DataSourceV2
  * [[SupportsDelta]], selected per command by the Iceberg v2 properties
  * `write.update.mode` / `write.merge.mode` / `write.delete.mode` =
  * `merge-on-read` (see `GraftSqlTable.newRowLevelOperationBuilder`).
  *
  * Where the group-based rewrite ([[GraftRowLevelOperation]]) REPLACES
  * whole candidate files — re-writing every carried-over row — the delta
  * plan emits only the CHANGED rows: Spark projects each matched row's
  * ROW ID (`_file`, `_pos` — the row-coordinate metadata columns served
  * by the masked `_pos` scan) and streams per-row delete/insert calls to
  * the writers. Tasks write (a) appended data files for inserts and
  * update-after images and (b) position-coordinate parquet for deletes
  * and update-before images; the driver commits BOTH as ONE atomic
  * snapshot (new files + one positional delete sidecar). On a 100 TB
  * table an UPDATE touching 0.1% of rows writes 0.1% of the data —
  * the reason Iceberg exposes these modes at all.
  *
  * Updates are represented as delete+insert
  * (`representUpdateAsDeleteAndInsert` = true), so writers handle two
  * verbs; the scan side is the table's ordinary pruned, MASKED read with
  * coordinates, which means rows hidden by pending deletes can never be
  * updated back to life, and chained MoR statements observe each other.
  */
private[tables] final class GraftDeltaOperation(val store: TableStore,
    val tbl: String, cmd: Command)
  extends RowLevelOperation
  with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): Command = cmd

  override def description(): String = s"graft MoR delta $cmd on $tbl"

  private val lineage = store.rowLineage(tbl)

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftFileMetaColumn.Name),
      Expressions.column(GraftPosMetaColumn.Name))

  /** Row lineage: the matched row's `_row_id` rides as a metadata
    * attribute so the writer can carry it into the update-after image
    * (the Iceberg v3 contract that an UPDATE preserves the entity id).
    * Non-lineage tables need nothing beyond the row id. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (lineage) Array(Expressions.column(TableStore.RowIdCol))
    else Array.empty

  /** Lineage tables take the true UPDATE verb — `update(meta, id, row)`
    * — because the split delete+insert representation loses the
    * metadata on the insert half, and with it the carried id. */
  override def representUpdateAsDeleteAndInsert(): Boolean = !lineage

  /** The table's ordinary scan builder: requesting `_pos` routes it to
    * the masked row-coordinate read, and pushed statement filters prune
    * zones/blooms exactly like any other scan. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(store, tbl, None)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaWrite(store, tbl, cmd)
    }
}

private[tables] final class GraftDeltaWrite(store: TableStore, tbl: String,
    cmd: Command) extends DeltaWrite
  with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  override def toBatch: DeltaBatchWrite = new GraftDeltaBatchWrite(store, tbl)
  override def description(): String = s"graft delta write to $tbl"

  /** Cluster the delta rows by partition tuple on partitioned tables so
    * a task writes one file per directory instead of every task spraying
    * a fragment into every directory it sees — a broad UPDATE on a
    * 1000-dir layout would otherwise write tasks×dirs files per
    * statement. Delete rows carry null row attributes and cluster into
    * one bucket; their output is coordinates, so size is never a
    * concern. A pure DELETE plan has no row attributes to cluster on. */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = {
    val p = store.writeLayout(tbl).partLogicalNames
    if (cmd == Command.DELETE || p.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else org.apache.spark.sql.connector.distributions.Distributions.clustered(
      p.map(n => Expressions.identity(n)
        : org.apache.spark.sql.connector.expressions.Expression).toArray)
  }

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty
}

private[tables] final class GraftDeltaBatchWrite(store: TableStore,
    tbl: String) extends DeltaBatchWrite {

  private val staging = new HPath(store.tableDir(tbl),
    s"_staging-delta-${UUID.randomUUID().toString.take(8)}")

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory = {
    val layout = store.writeLayout(tbl)
    val sch = store.schema(tbl)
    // insert/update-after rows arrive in TABLE-SCHEMA order (the rewrite
    // plans' row projection); bind data and partition ordinals off it
    val dataOrds = layout.dataOrdinals
    val partOrds = layout.partLogicalNames.map(n =>
      sch.fieldNames.indexWhere(_.equalsIgnoreCase(n)))
    val dataJob = Job.getInstance(store.hadoopConf)
    val owfData = new ParquetFileFormat().prepareWrite(store.sparkSession,
      dataJob, Map.empty[String, String], layout.dataPhysSchema)
    // deletes leave each task as DELETION VECTORS — one bitmap row per
    // touched data file — not a row per tombstone coordinate
    val coordSchema = DeletionVectors.dvSchema
    val coordJob = Job.getInstance(store.hadoopConf)
    val owfCoord = new ParquetFileFormat().prepareWrite(store.sparkSession,
      coordJob, Map.empty[String, String], coordSchema)
    // row lineage: a SECOND data writer whose files carry the id column
    // materialized — update-after rows route there, true inserts stay on
    // the fresh (virtual-id) writer
    val idWriter =
      if (!store.rowLineage(tbl)) None
      else {
        val rowSch = StructType(sch.fields :+
          StructField(TableStore.RowIdCol, LongType, nullable = true))
        val dataSch = StructType(layout.dataPhysSchema.fields :+
          StructField(TableStore.RowIdCol, LongType, nullable = true))
        val job = Job.getInstance(store.hadoopConf)
        val owf = new ParquetFileFormat().prepareWrite(store.sparkSession,
          job, Map.empty[String, String], dataSch)
        Some(GraftDeltaIdWriterSpec(owf,
          new SerializableHadoopConf(job.getConfiguration),
          rowSch.json, dataSch.json,
          (dataOrds :+ sch.length).toArray))
      }
    new GraftDeltaWriterFactory(owfData,
      new SerializableHadoopConf(dataJob.getConfiguration),
      owfCoord, new SerializableHadoopConf(coordJob.getConfiguration),
      staging.toString, sch.json, layout.dataPhysSchema.json,
      coordSchema.json, dataOrds.toArray, layout.partPhysNames.toArray,
      partOrds.toArray, layout.partSpecs.toArray,
      store.sparkSession.sessionState.conf.sessionLocalTimeZone,
      store.fileStatsSpec(tbl, layout.dataPhysSchema), idWriter,
      shredSpecs = store.variantShreds(tbl).map { case (src, path, as, dt) =>
        s"$src\t$path\t$as\t${dt.json}" }.toArray)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val data = messages.flatMap {
      case m: GraftDeltaCommit => m.dataRels ++ m.idDataRels
      case _ => Nil
    }.toMap
    val idData = messages.flatMap {
      case m: GraftDeltaCommit => m.idDataRels.keys
      case _ => Nil
    }.toSet
    val dels = messages.flatMap {
      case m: GraftDeltaCommit => m.deleteRels
      case _ => Array.empty[String]
    }.toSet
    store.commitDeltaStaged(tbl, staging, data, dels, idData)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    store.fileSystem.delete(staging, true); ()
  }
}

private[tables] final case class GraftDeltaCommit(
  dataRels: Map[String, FileStatsPartial], deleteRels: Array[String],
  idDataRels: Map[String, FileStatsPartial] = Map.empty)
  extends WriterCommitMessage

/** Driver-prepared pieces of the id-carrying writer (row lineage):
  * output factory over the dataSchema + `_row_id` column, and ordinals
  * binding over the (table row ++ metadata) combined layout. */
private[tables] final case class GraftDeltaIdWriterSpec(
    owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: SerializableHadoopConf,
    rowSchemaJson: String, dataSchemaJson: String,
    dataOrdinals: Array[Int])

private[tables] final class GraftDeltaWriterFactory(
    owfData: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    dataConf: SerializableHadoopConf,
    owfCoord: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    coordConf: SerializableHadoopConf,
    stagingDir: String, rowSchemaJson: String, dataSchemaJson: String,
    coordSchemaJson: String, dataOrdinals: Array[Int],
    partPhysNames: Array[String], partOrdinals: Array[Int],
    partSpecs: Array[String], timeZone: String, stats: FileStatsSpec,
    idWriter: Option[GraftDeltaIdWriterSpec] = None,
    shredSpecs: Array[String] = Array.empty)
  extends DeltaWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaDataWriter(
      new GraftCowDataWriter(owfData, dataConf.value, stagingDir,
        DataType.fromJson(rowSchemaJson).asInstanceOf[StructType],
        DataType.fromJson(dataSchemaJson).asInstanceOf[StructType],
        dataOrdinals, partPhysNames, partOrdinals, partSpecs, timeZone,
        stats, partitionId, taskId, shredSpecs = shredSpecs),
      idWriter.map(s =>
        new GraftCowDataWriter(s.owf, s.conf.value, stagingDir,
          DataType.fromJson(s.rowSchemaJson).asInstanceOf[StructType],
          DataType.fromJson(s.dataSchemaJson).asInstanceOf[StructType],
          s.dataOrdinals, partPhysNames, partOrdinals, partSpecs, timeZone,
          stats, partitionId, taskId, tag = "-rid", shredSpecs = shredSpecs)),
      owfCoord, coordConf.value, stagingDir,
      DataType.fromJson(coordSchemaJson).asInstanceOf[StructType],
      partitionId, taskId)
}

/** Per-task delta writer: inserts stream into the shared partition-dir
  * parquet writer; deletes accumulate as per-file roaring bitmaps
  * (deletion vectors) and land as one `(pos_file, dv)` parquet file per
  * task at commit. Task memory for deletes is the COMPRESSED bitmap
  * set — smaller than even one buffered coordinate page of the old
  * pair format. The file is created lazily, so a task that deletes
  * nothing contributes none. Tasks are independent, so a data file
  * deleted from by several tasks appears in several sidecar rows;
  * readers OR them ([[DeletionVectors]]). */
private[tables] final class GraftDeltaDataWriter(
    inserts: GraftCowDataWriter,
    idInserts: Option[GraftCowDataWriter],
    owfCoord: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    coordConfv: Configuration, stagingDir: String, coordSchema: StructType,
    partitionId: Int, taskId: Long) extends DeltaWriter[InternalRow] {

  private val tac = new TaskAttemptContextImpl(coordConfv,
    new TaskAttemptID("graft-delta", 0, TaskType.MAP, partitionId, 0))
  private var coordRel: String = _
  private val coordProj = UnsafeProjection.create(coordSchema)
  private val reuse = new GenericInternalRow(2)
  private val dvs = scala.collection.mutable.LinkedHashMap
    .empty[String, org.roaringbitmap.longlong.Roaring64Bitmap]

  /** Scan `_file` values are rel paths (the `_pos` read serves them so);
    * a URI that slipped through normalizes by the same `/data/` cut the
    * read side uses. */
  private def relOf(file: UTF8String): UTF8String = {
    val s = file.toString
    val i = s.lastIndexOf("/data/")
    if (i < 0) file else UTF8String.fromString(s.substring(i + 6))
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    dvs.getOrElseUpdate(relOf(id.getUTF8String(0)).toString,
      new org.roaringbitmap.longlong.Roaring64Bitmap())
      .addLong(id.getLong(1))
    ()
  }

  /** Write the accumulated deletion vectors as this task's sidecar
    * parquet (lazily created — a task with no deletes writes none). */
  private def flushDvs(): Unit = {
    if (dvs.isEmpty) return
    val ext = owfCoord.getFileExtension(tac)
    coordRel = f"deletes/dv-$partitionId%05d-$taskId$ext"
    val w = owfCoord.newInstance(s"$stagingDir/$coordRel", coordSchema, tac)
    try dvs.foreach { case (f, bm) =>
      reuse.update(0, UTF8String.fromString(f))
      reuse.update(1, DeletionVectors.serialize(bm))
      w.write(coordProj(reuse))
    } finally w.close()
    dvs.clear()
  }

  override def insert(row: InternalRow): Unit = inserts.write(row)

  /** Row lineage only (representUpdateAsDeleteAndInsert = false there):
    * delete the old coordinates AND write the update-after image WITH
    * the carried `_row_id` — the combined (row ++ meta) layout binds the
    * id at ordinal |schema|. A null id (a pre-lineage row) falls back to
    * the fresh writer: the row honestly becomes a new entity. */
  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    idInserts match {
      case None =>
        throw new UnsupportedOperationException(
          "updates arrive as delete+insert (representUpdateAsDeleteAndInsert)")
      case Some(w) =>
        delete(meta, id)
        if (meta.isNullAt(0)) inserts.write(row)
        else w.write(new org.apache.spark.sql.catalyst.expressions
          .JoinedRow(row, meta))
    }
  }

  override def commit(): WriterCommitMessage = {
    val dataMsg = inserts.commitStats()
    val idMsg = idInserts.map(_.commitStats()).getOrElse(Map.empty)
    flushDvs()
    GraftDeltaCommit(dataMsg, if (coordRel == null) Array.empty
      else Array(coordRel), idMsg)
  }

  override def abort(): Unit = {
    inserts.abort()
    idInserts.foreach(_.abort())
    dvs.clear()
  }

  override def close(): Unit = {
    inserts.close()
    idInserts.foreach(_.close())
    dvs.clear()
  }
}

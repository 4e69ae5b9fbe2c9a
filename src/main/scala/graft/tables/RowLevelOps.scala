package graft.tables

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based copy-on-write row-level SQL operations — `UPDATE`,
  * `MERGE INTO`, and the rewrite path of `DELETE FROM` — over
  * [[TableStore]] tables, via DataSourceV2 `SupportsRowLevelOperations`.
  * This is the operation surface the reference inherits from Iceberg's
  * Spark extensions (`SparkUtils.java:45`, README.md:74-77 documents the
  * delete-then-insert workaround its users need without it); here each
  * statement is ONE atomic snapshot commit.
  *
  * Execution model (Spark's group-based rewrite): the analyzer rewrites
  * the statement into `ReplaceData(scan, query)`; the scan returns ALL
  * rows of "groups" (here: data files) that MAY contain matching rows,
  * the query re-emits them mutated-or-unchanged, and the write replaces
  * exactly the scanned files with the query output — so correctness
  * needs scan files == removed files, which both sides take from the
  * shared plan in [[GraftRowLevelOperation]].
  *
  * Scale: the statement condition reaches [[CowScanBuilder.pushFilters]]
  * as an advisory group filter; candidate files are found by a zone/
  * bloom-pruned matching scan (`input_file_name` over the indexed read
  * — the same technique as [[TableStore.delete]]), so a selective
  * UPDATE on a 100 TB table rewrites only the files that contain
  * matches, not the table. The replacement rows are written
  * DISTRIBUTED: each task streams `InternalRow`s straight into parquet
  * via Spark's own `OutputWriter` (no driver collect, no row-format
  * conversion), with hive-style partition dirs reproduced exactly as
  * [[TableStore]]'s read path expects and a clustered distribution
  * requested on the partition columns so a task writes few files.
  */
final class GraftRowLevelOperation(val store: TableStore, val tbl: String,
    cmd: Command) extends RowLevelOperation {

  /** Advisory group filters from the optimizer (statement condition). */
  @volatile private[tables] var pruneFilters: Array[Filter] = Array.empty

  /** Runtime group filter: the exact `_file` set containing matching
    * rows, computed by Spark's dynamic-pruning subquery (MERGE's ON
    * condition joined with the source — nothing a static filter could
    * express). Arrives via [[GraftCowScan.filter]] BEFORE partition
    * planning; basenames, since `input_file_name` renders full URIs. */
  @volatile private[tables] var runtimeFiles: Option[Set[String]] = None

  /** Set once by the scan: (base snapshot version, candidate rel paths).
    * The write commits against exactly this plan. */
  @volatile private[tables] var planned: Option[(Int, Seq[String])] = None

  override def command(): Command = cmd

  override def description(): String = s"graft CoW $cmd on $tbl"

  private[tables] val lineage = store.rowLineage(tbl)

  /** Request `_file` so Spark's writing task takes the
    * metadata-projection path — the ONLY path that strips the rewrite's
    * `__row_operation` bookkeeping column before rows reach the writer
    * (rows without metadata, i.e. MERGE inserts, arrive by the plain
    * single-argument write). `_file` also feeds runtime group filtering.
    * Lineage tables additionally carry `_row_id` so carried/updated rows
    * keep their entity ids through the rewrite. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (lineage)
      Array(Expressions.column(GraftFileMetaColumn.Name),
        Expressions.column(TableStore.RowIdCol))
    else Array(Expressions.column(GraftFileMetaColumn.Name))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CowScanBuilder(this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftCowWrite(GraftRowLevelOperation.this, info.schema())
    }

  private def baseName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Candidate plan. NOT cached here: Spark may plan the scan once
    * BEFORE runtime filtering (`supportsColumnar` probes partitions)
    * and again after [[GraftCowScan.filter]] delivers the `_file` set —
    * the LAST plan computed is the one execution reads and the write
    * replaces ([[GraftCowScan]] keys its RDD cache on the runtime-filter
    * state). Pending MoR deletes are materialized first so the
    * full-file read below is mask-free — same discipline as
    * [[TableStore.delete]]. */
  private[tables] def planCandidates(): (Int, Seq[String]) = synchronized {
    if (store.pendingDeletes(tbl) > 0) store.materializeDeletes(tbl)
    val base = store.currentVersion(tbl)
    val all = store.currentRelPaths(tbl)
    val conds = pruneFilters.map(GraftFilters.toColumn)
    val cands = runtimeFiles match {
      // Spark's runtime group filter already names the EXACT matching
      // files (same zone/bloom-indexed read path, via the dynamic
      // subquery) — no second matching scan needed
      case Some(hit) => all.filter(r => hit.contains(baseName(r)))
      case None if conds.isEmpty || conds.exists(_.isEmpty) => all
      case None =>
        // exact group pruning: zone/bloom-indexed matching scan names
        // the files that hold matching rows; everything else is
        // carried over by manifest reference, never read or written
        val cond = conds.flatten.reduce(_ && _)
        val hit = store.read(tbl).filter(cond)
          .select(input_file_name().as("f")).distinct()
          .collect().map(r => baseName(r.getString(0))).toSet
        all.filter(r => hit.contains(baseName(r)))
    }
    val p = (base, cands)
    planned = Some(p)
    p
  }
}

private[tables] final class CowScanBuilder(op: GraftRowLevelOperation)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns {

  private var required: StructType = op.store.schema(op.tbl)

  /** Group-based contract: filters only ADVISE which files to scan —
    * the scan must still return every row of surviving files (unmatched
    * rows pass through the rewrite unchanged). So nothing is claimed as
    * handled; the condition lives on in the rewritten query. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    op.pruneFilters = filters
    filters
  }

  override def pushedFilters(): Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new GraftCowScan(op, required)
}

/** The candidate-file scan: a real DSv2 `Batch` (the row-level planning
  * rule consumes raw `Scan`s — no V1 bridge here) that wraps the inner
  * zone-indexed DataFrame's executed `InternalRow` RDD, so the read
  * still runs Spark's vectorized parquet + codegen. The wrapped plan is
  * shuffle-free by construction (file read + projections + per-spec
  * union), which is what makes computing its partitions inside foreign
  * tasks sound. */
private[tables] final class GraftCowScan(op: GraftRowLevelOperation,
    required: StructType) extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column(GraftFileMetaColumn.Name))

  /** Runtime group filter from the dynamic-pruning subquery: `_file IN
    * (...)` over the files that hold matching rows. An empty IN — the
    * statement matched NOTHING — must still register, or the rewrite
    * would fall back to all files instead of a no-op. */
  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val fileSets = predicates.flatMap(GraftCowScan.inFileValues)
    if (fileSets.nonEmpty)
      op.runtimeFiles = Some(fileSets.flatten.toSet)
  }

  /** RDD keyed on the runtime-filter state: the pre-filter planning
    * probe (`supportsColumnar`) and the post-filter execution plan get
    * DIFFERENT candidate sets; caching only per state keeps the two
    * consistent without replanning on every call. */
  private var cached: (Option[Set[String]], RDD[InternalRow]) = _

  private def plannedRdd: RDD[InternalRow] = synchronized {
    val key = op.runtimeFiles
    if (cached == null || cached._1 != key) {
      val (base, cands) = op.planCandidates()
      val df = op.store.readDataFilesByRel(op.tbl, cands,
        rowIdsAt =
          if (required.fieldNames.contains(TableStore.RowIdCol)) Some(base)
          else None)
      val withMeta =
        if (required.fieldNames.contains(GraftFileMetaColumn.Name))
          df.withColumn(GraftFileMetaColumn.Name, input_file_name())
        else df
      val projected =
        withMeta.select(required.fieldNames.map(n => col(s"`$n`")).toSeq: _*)
      // Computing the wrapped RDD's partitions inside foreign tasks is
      // sound ONLY while this plan is shuffle-free (file read +
      // projections + per-spec union). Enforce the invariant instead of
      // documenting it: a future change that sneaks an exchange in must
      // fail loudly here, not corrupt the rewrite.
      GraftCowScan.requireShuffleFree(projected,
        s"row-level candidate scan of ${op.tbl}")
      cached = (key, projected.queryExecution.toRdd)
    }
    cached._2
  }

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  /** Each partition carries ITS rdd: Spark creates the reader factory
    * before runtime filtering but plans partitions after, so partition
    * payloads are the only carrier guaranteed to reflect the filtered
    * plan. */
  override def planInputPartitions(): Array[InputPartition] = {
    val rdd = plannedRdd
    rdd.partitions.map(p => RddInputPartition(rdd, p): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RddReaderFactory

  override def description(): String =
    s"GraftCowScan(${op.tbl}, candidates=${op.planned.map(_._2.size)})"
}

private[tables] object GraftCowScan {
  import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  /** Assert the frame's EXECUTED RDD has no shuffle anywhere in its
    * lineage. Physical-plan inspection is unreliable here: AQE inserts
    * requirement-driven exchanges during stage materialization, after
    * both `sparkPlan` and the adaptive wrapper's `inputPlan` — but
    * every exchange, however it got in, surfaces as a
    * `ShuffleDependency` in the final RDD DAG, which is what the caller
    * actually hands to foreign tasks. */
  private[tables] def requireShuffleFree(df: org.apache.spark.sql.DataFrame,
      what: String): Unit = {
    def find(r: org.apache.spark.rdd.RDD[_]): Boolean =
      r.dependencies.exists {
        case _: org.apache.spark.ShuffleDependency[_, _, _] => true
        case d => find(d.rdd)
      }
    if (find(df.queryExecution.toRdd))
      throw new IllegalStateException(
        s"$what must be shuffle-free (its RDD partitions are computed " +
          "inside foreign tasks) but its lineage contains a shuffle " +
          "exchange — rewrite the inner plan without one")
  }

  private def isFileRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case r: NamedReference =>
        r.fieldNames().sameElements(Array(GraftFileMetaColumn.Name))
      case _ => false
    }

  private def baseName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** `_file`-basename sets from a runtime predicate; `None` = not a
    * `_file` membership predicate (ignored, fail open). */
  def inFileValues(p: Predicate): Option[Seq[String]] = p.name() match {
    case "IN" if p.children().nonEmpty && isFileRef(p.children()(0)) =>
      Some(p.children().drop(1).toSeq.collect {
        case l: Literal[_] if l.value != null => baseName(l.value.toString)
      })
    case "=" if p.children().length == 2 && isFileRef(p.children()(0)) =>
      Some(p.children().drop(1).toSeq.collect {
        case l: Literal[_] if l.value != null => baseName(l.value.toString)
      })
    case "ALWAYS_FALSE" => Some(Nil)
    case _ => None
  }
}

private[tables] final case class RddInputPartition(rdd: RDD[InternalRow],
    part: org.apache.spark.Partition) extends InputPartition

private[tables] final class RddReaderFactory extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rp = p.asInstanceOf[RddInputPartition]
    val it = rp.rdd.iterator(rp.part, TaskContext.get())
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

/** Replacement write. Requests clustering on the table's partition
  * columns so each task writes into few partition dirs (Iceberg's
  * distribution-mode=hash); unpartitioned tables take the query's
  * distribution as-is — no gratuitous shuffle. */
private[tables] final class GraftCowWrite(op: GraftRowLevelOperation,
    writeSchema: StructType) extends Write with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution = {
    val p = op.store.writeLayout(op.tbl).partLogicalNames
    if (p.isEmpty) Distributions.unspecified()
    else Distributions.clustered(p.map(n =>
      Expressions.identity(n): org.apache.spark.sql.connector.expressions.Expression).toArray)
  }

  override def requiredOrdering(): Array[SortOrder] = Array.empty

  override def toBatch: BatchWrite = new GraftCowBatchWrite(op, writeSchema)

  override def description(): String = s"graft CoW write to ${op.tbl}"
}

private[tables] final class GraftCowBatchWrite(op: GraftRowLevelOperation,
    writeSchema: StructType)
  extends GraftStagedBatchWrite(op.store, op.tbl, writeSchema) {

  // row lineage: _row_id sits at ordinal 1 of the metadata row
  // (requiredMetadataAttributes order) — carried/updated rows route to
  // the id-materializing writer
  override protected def lineageMetaIdOrdinal: Option[Int] =
    if (op.lineage) Some(1) else None

  override protected def commitStaged(staging: HPath,
      kept: Map[String, FileStatsPartial], idKept: Set[String]): Unit = {
    val (base, cands) = op.planned.getOrElse((store.currentVersion(op.tbl), Nil))
    store.commitRewriteStaged(op.tbl, base, cands.toSet, staging, kept, idKept)
  }
}

/** Distributed staged parquet write shared by every V2 batch-write path:
  * tasks stream rows into per-partition staged files; `commitStaged`
  * decides what the adopted files MEAN (a row-level replacement, a
  * dynamic partition overwrite, ...). */
private[tables] abstract class GraftStagedBatchWrite(
    protected val store: TableStore, tbl: String,
    writeSchema: StructType) extends BatchWrite {

  private val staging = new HPath(store.tableDir(tbl),
    s"_staging-rl-${UUID.randomUUID().toString.take(8)}")

  protected def commitStaged(staging: HPath,
      kept: Map[String, FileStatsPartial], idKept: Set[String]): Unit

  /** Row-lineage hook: Some(ordinal of `_row_id` in the metadata row)
    * when carried rows must route to an id-materializing writer —
    * overridden by the row-level rewrite, None for plain staged writes
    * (dynamic overwrite — fresh rows by definition). */
  protected def lineageMetaIdOrdinal: Option[Int] = None

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val layout = store.writeLayout(tbl)
    // incoming rows use the WRITE schema — the rewritten query's output,
    // which carries the table columns by name PLUS bookkeeping columns
    // (e.g. `__row_operation`) Spark strips only for writers that
    // request metadata. Bind every table column by NAME and ignore the
    // rest.
    val sch = store.schema(tbl)
    def ordOf(n: String): Int = {
      val i = writeSchema.fieldNames.indexWhere(_.equalsIgnoreCase(n))
      require(i >= 0, s"write schema ${writeSchema.fieldNames.mkString(",")}" +
        s" lacks table column $n of $tbl")
      i
    }
    val dataOrds = layout.dataOrdinals.map(i => ordOf(sch.fields(i).name))
    val partOrds = layout.partLogicalNames.map(ordOf)
    // Spark's own parquet OutputWriter factory: full type fidelity,
    // session codec/conf, streams InternalRows — prepareWrite seeds the
    // job conf (write support class, schema, committer) we ship below
    val job = Job.getInstance(store.hadoopConf)
    val owf = new ParquetFileFormat().prepareWrite(store.sparkSession, job,
      Map.empty[String, String], layout.dataPhysSchema)
    // lineage: a second writer whose files carry the id column; rows
    // route there as (row ++ metadata), id bound at |writeSchema| +
    // metaIdOrd (metadata = [_file, _row_id])
    val idSpec = lineageMetaIdOrdinal.map { metaIdOrd =>
      val metaSch = StructType(Seq(
        StructField(GraftFileMetaColumn.Name, StringType, nullable = true),
        StructField(TableStore.RowIdCol,
          org.apache.spark.sql.types.LongType, nullable = true)))
      val rowSch = StructType(writeSchema.fields ++ metaSch.fields)
      val dataSch = StructType(layout.dataPhysSchema.fields :+
        StructField(TableStore.RowIdCol,
          org.apache.spark.sql.types.LongType, nullable = true))
      val idJob = Job.getInstance(store.hadoopConf)
      val idOwf = new ParquetFileFormat().prepareWrite(store.sparkSession,
        idJob, Map.empty[String, String], dataSch)
      (GraftDeltaIdWriterSpec(idOwf,
        new SerializableHadoopConf(idJob.getConfiguration),
        rowSch.json, dataSch.json,
        (dataOrds :+ (writeSchema.length + metaIdOrd)).toArray), metaIdOrd)
    }
    new GraftCowWriterFactory(owf,
      new SerializableHadoopConf(job.getConfiguration),
      staging.toString, writeSchema.json, layout.dataPhysSchema.json,
      dataOrds.toArray, layout.partPhysNames.toArray,
      partOrds.toArray, layout.partSpecs.toArray,
      store.sparkSession.sessionState.conf.sessionLocalTimeZone,
      store.fileStatsSpec(tbl, layout.dataPhysSchema), idSpec,
      shredSpecs = store.variantShreds(tbl).map { case (src, path, as, dt) =>
        s"$src\t$path\t$as\t${dt.json}" }.toArray)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // kept = what tasks actually committed, with their files' stats; a
    // speculative duplicate's files sit in staging but are not adopted
    val kept = messages.flatMap {
      case m: GraftCowCommit => m.staged ++ m.idStaged
      case _ => Nil
    }.toMap
    val idKept = messages.flatMap {
      case m: GraftCowCommit => m.idStaged.keys
      case _ => Nil
    }.toSet
    commitStaged(staging, kept, idKept)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    store.fileSystem.delete(staging, true); ()
  }
}

/** A task's staged files (staging-relative) with their stats; `idStaged`
  * holds the row-lineage writer's id-carrying files. */
private[tables] final case class GraftCowCommit(
  staged: Map[String, FileStatsPartial],
  idStaged: Map[String, FileStatsPartial] = Map.empty) extends WriterCommitMessage

private[tables] final class GraftCowWriterFactory(owf: OutputWriterFactory,
    conf: SerializableHadoopConf, stagingDir: String, rowSchemaJson: String,
    dataSchemaJson: String, dataOrdinals: Array[Int],
    partPhysNames: Array[String], partOrdinals: Array[Int],
    partSpecs: Array[String], timeZone: String, stats: FileStatsSpec,
    idSpec: Option[(GraftDeltaIdWriterSpec, Int)] = None,
    shredSpecs: Array[String] = Array.empty)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val fresh = new GraftCowDataWriter(owf, conf.value, stagingDir,
      DataType.fromJson(rowSchemaJson).asInstanceOf[StructType],
      DataType.fromJson(dataSchemaJson).asInstanceOf[StructType],
      dataOrdinals, partPhysNames, partOrdinals, partSpecs, timeZone, stats,
      partitionId, taskId, shredSpecs = shredSpecs)
    idSpec match {
      case None => fresh
      case Some((s, metaIdOrd)) =>
        val idW = new GraftCowDataWriter(s.owf, s.conf.value, stagingDir,
          DataType.fromJson(s.rowSchemaJson).asInstanceOf[StructType],
          DataType.fromJson(s.dataSchemaJson).asInstanceOf[StructType],
          s.dataOrdinals, partPhysNames, partOrdinals, partSpecs, timeZone,
          stats, partitionId, taskId, tag = "-rid", shredSpecs = shredSpecs)
        new GraftCowLineageRouter(fresh, idW, metaIdOrd)
    }
  }
}

/** Routes row-level rewrite output under ROW LINEAGE: carried/updated
  * rows (two-arg write, metadata carries a non-null `_row_id`) land in
  * the id-materializing writer as (row ++ metadata); MERGE inserts
  * (one-arg write) and pre-lineage rows (null id) stay on the fresh
  * writer and get virtual commit-assigned ids. */
private[tables] final class GraftCowLineageRouter(
    fresh: GraftCowDataWriter, idW: GraftCowDataWriter, metaIdOrd: Int)
  extends DataWriter[InternalRow] {

  private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow

  override def write(metadata: InternalRow, row: InternalRow): Unit =
    if (metadata == null || metadata.isNullAt(metaIdOrd)) fresh.write(row)
    else idW.write(joined(row, metadata))

  override def write(row: InternalRow): Unit = fresh.write(row)

  override def commit(): WriterCommitMessage =
    GraftCowCommit(fresh.commitStats(), idW.commitStats())

  override def abort(): Unit = { fresh.abort(); idW.abort() }
  override def close(): Unit = { fresh.close(); idW.close() }
}

/** Per-task parquet writer with dynamic hive-style partition dirs. One
  * open file per partition value seen (the write's clustered
  * distribution keeps that small); values are rendered with the same
  * `Cast(_, String)` + `escapePathName` round-trip the read side's
  * partition-dir parser inverts. */
private[tables] final class GraftCowDataWriter(owf: OutputWriterFactory,
    conf: Configuration, stagingDir: String, rowSchema: StructType,
    dataSchema: StructType, dataOrdinals: Array[Int],
    partPhysNames: Array[String], partOrdinals: Array[Int],
    partSpecs: Array[String], timeZone: String, stats: FileStatsSpec,
    partitionId: Int, taskId: Long,
    // distinguishes files when one task runs TWO writers (the delta
    // path's id-carrying vs fresh split under row lineage)
    tag: String = "",
    // variant shreds as "src\tpath\tasName\tdtJson" lines: the writer
    // RE-DERIVES each shred from its JSON column so SQL rewrites can
    // never desynchronize a shred (TableStore.alignTo does the same on
    // the bulk paths); names resolve against THIS writer's row schema
    shredSpecs: Array[String] = Array.empty)
  extends DataWriter[InternalRow] {

  private val tac = new TaskAttemptContextImpl(conf,
    new TaskAttemptID("graft-rl", 0, TaskType.MAP, partitionId, 0))
  private val ext = owf.getFileExtension(tac)
  private val shredByOrd
      : Map[Int, org.apache.spark.sql.catalyst.expressions.Expression] =
    shredSpecs.flatMap { s =>
      s.split('\t') match {
        case Array(src, path, asName, dtJson) =>
          val so = rowSchema.fieldNames.indexWhere(_.equalsIgnoreCase(src))
          val dst = rowSchema.fieldNames.indexWhere(
            _.equalsIgnoreCase(asName))
          if (so < 0 || dst < 0) None
          else Some(dst -> Cast(
            org.apache.spark.sql.catalyst.expressions.GetJsonObject(
              BoundReference(so, StringType, nullable = true),
              org.apache.spark.sql.catalyst.expressions.Literal(
                org.apache.spark.unsafe.types.UTF8String.fromString(path),
                StringType)),
            DataType.fromJson(dtJson), Some(timeZone)))
        case _ => None
      }
    }.toMap
  private val dataProj = UnsafeProjection.create(
    dataOrdinals.map(i =>
      shredByOrd.getOrElse(i,
        BoundReference(i, rowSchema(i).dataType, nullable = true))
        : org.apache.spark.sql.catalyst.expressions.Expression).toIndexedSeq)
  // directory value per spec field: identity renders the raw value,
  // hidden transforms rebuild their derived-value expression from the
  // serialized spec — the same Catalyst expression the bulk write path
  // uses, so dir layouts agree byte-for-byte
  private val partProj =
    if (partOrdinals.isEmpty) None
    else Some(UnsafeProjection.create(
      partOrdinals.toIndexedSeq.zip(partSpecs.toIndexedSeq).map { case (i, spec) =>
        val src = BoundReference(i, rowSchema(i).dataType, nullable = true)
        val derived = PartitionField.catalystExpr(PartitionField.parse(spec),
          src, rowSchema(i).dataType, timeZone)
        Cast(derived, StringType, Some(timeZone))
          : org.apache.spark.sql.catalyst.expressions.Expression
      }))
  // per partition dir: the open file's staged rel, writer and stats
  private val writers = mutable.LinkedHashMap[String, (String,
    org.apache.spark.sql.execution.datasources.OutputWriter, FileStatsAcc)]()
  private val staged = mutable.LinkedHashMap[String, FileStatsPartial]()

  /** Carried/updated rows arrive with their `_file` metadata row; the
    * replacement write doesn't route by origin file — group membership
    * is already fixed by the candidate plan — so metadata is dropped. */
  override def write(metadata: InternalRow, row: InternalRow): Unit =
    write(row)

  override def write(row: InternalRow): Unit = {
    val dir = partProj match {
      case None => ""
      case Some(p) =>
        val r = p(row)
        val segs = new Array[String](partPhysNames.length)
        var j = 0
        while (j < partPhysNames.length) {
          val v = if (r.isNullAt(j)) null else r.getUTF8String(j).toString
          // null and "" both map to the hive default partition — the
          // exact convention Spark's writer uses and our parser inverts
          val s = if (v == null || v.isEmpty)
            ExternalCatalogUtils.DEFAULT_PARTITION_NAME
          else ExternalCatalogUtils.escapePathName(v)
          segs(j) = s"${partPhysNames(j)}=$s"
          j += 1
        }
        segs.mkString("/")
    }
    val (_, w, acc) = writers.getOrElseUpdate(dir, {
      val fn = f"part$tag-$partitionId%05d-$taskId-${writers.size}%03d$ext"
      val rel = if (dir.isEmpty) fn else s"$dir/$fn"
      (rel, owf.newInstance(s"$stagingDir/$rel", dataSchema, tac),
        stats.newAcc())
    })
    val out = dataProj(row)
    w.write(out)
    acc.update(out)
  }

  /** Close every file; its staged rel → its stats. */
  def commitStats(): Map[String, FileStatsPartial] = {
    writers.values.foreach { case (rel, w, acc) =>
      w.close()
      staged(rel) = acc.partial
    }
    writers.clear()
    staged.toMap
  }

  override def commit(): WriterCommitMessage = GraftCowCommit(commitStats())

  override def abort(): Unit = close()

  override def close(): Unit = {
    // files stay in staging; the driver's staging cleanup removes them
    writers.values.foreach { case (_, w, _) =>
      try w.close() catch { case _: Exception => () }
    }
    writers.clear()
  }
}

/** Hadoop `Configuration` shipped to tasks via Java serialization (the
  * class itself is `Writable`, not `Serializable`). */
private[tables] final class SerializableHadoopConf(
    @transient private var conf: Configuration) extends Serializable {

  def value: Configuration = conf

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

package graft.tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, BoundReference, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, Murmur3HashFunction, StartsWith, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => VPredicate}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

/** Storage-partitioned-join scan: a TRUE DSv2 batch scan over a
  * bucket-partitioned managed table that reports its layout as
  * [[KeyGroupedPartitioning]], so a join of two tables bucketed the same
  * way on the join key plans with ZERO shuffle on either side (Spark's
  * SPJ machinery, `spark.sql.sources.v2.bucketing.enabled`). At 100 TB
  * this is the single largest join optimization available to a table
  * format: the V1-bridged scan hides the layout behind an opaque RDD, so
  * every fact-fact join repartitions both sides — ~2× the table size in
  * shuffle I/O — where this scan proves co-partitioning and Spark zips
  * matching buckets directly.
  *
  * Eligibility is decided by [[TableStore.spjPlan]] (all-bucket spec, one
  * spec generation, no renames); every other table state falls back to
  * the V1 scan. Pending merge-on-read deletes do NOT fall back: the
  * sidecars ship as a [[DeleteMask]] and every read task applies them
  * in memory per file ([[GraftMaskedReaderFactory]], through the same
  * [[MaskSets]] as the V1 read's map-side [[MoRMaskFilter]]) —
  * masking drops rows WITHIN a bucket, so KeyGroupedPartitioning (and
  * the zero-exchange join) survives the CDC tombstones that a busy
  * merge-on-read table always carries. File pruning reuses the SAME
  * [[ZoneMapFileIndex]] the V1 relation plans through (zone stats, bloom
  * sidecars, bucket-dir arithmetic), so pushed filters skip files
  * identically on both paths.
  *
  * Exactness contract: the scan builder returns every translatable
  * filter to Spark as a residual (see [[GraftScanBuilder.pushFilters]]),
  * so pushed filters here are used for FILE PRUNING ONLY and row-level
  * filtering stays above the scan — parquet row-group stats still skip
  * inside surviving files via the pushed-down `filters` argument.
  *
  * Runtime filtering ([[SupportsRuntimeV2Filtering]]): join-key IN-sets
  * arriving after planning (DPP subqueries) prune whole bucket
  * directories by hash arithmetic before any reader starts — the V2
  * analogue of the hidden-bucket pruning in [[ZoneMapFileIndex]].
  */
private[tables] final class GraftBatchScan(store: TableStore, tbl: String,
    plan: TableStore.SpjPlan, pruning: Array[Filter], required: StructType)
  extends Scan with Batch with SupportsReportPartitioning
  with SupportsReportStatistics with SupportsRuntimeV2Filtering {

  private val spark: SparkSession = store.spark

  /** IDENTITY partition fields: their values live in directory names
    * only (classic hive — stripped from the data files), so the reader
    * attaches each directory's parsed value as the parquet
    * partition-values row. Hidden transforms keep their sources IN the
    * files and need nothing. */
  private val identityFields: Seq[PartitionField] =
    plan.fields.filter(_.isIdentity)
  private val identityIdx: Seq[Int] =
    plan.fields.zipWithIndex.collect { case (f, i) if f.isIdentity => i }
  private val identitySchema: StructType = StructType(identityFields.map { f =>
    val src = plan.bundle.physSch(plan.bundle.physSch.fieldIndex(f.source))
    StructField(f.source, src.dataType, nullable = true)
  })
  private val identityNames: Set[String] =
    identitySchema.fieldNames.toSet

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftBatchScan $tbl layout=[${plan.fields.map(_.render).mkString(", ")}] " +
      s"prunedBy=[${pruning.mkString(", ")}]" +
      plan.mask.map(m => s" morMask=[eq=${m.eq.size}, " +
        s"posFiles=${m.posFiles.size}, dvFiles=${m.dvFiles.size}]")
        .getOrElse("")

  // ---- partitioning ---------------------------------------------------------

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      plan.fields.map(f => GraftBatchScan.transformOf(f): Transform)
        .toArray[org.apache.spark.sql.connector.expressions.Expression],
      plannedPartitions.length)

  // ---- file planning --------------------------------------------------------

  /** Zone/bloom/bucket-pruned candidate files grouped by bucket tuple —
    * the same listFiles call the V1 relation's FileSourceScan makes, so
    * both paths skip identical file sets for identical predicates. */
  private lazy val prunedDirs
      : Seq[(InternalRow, Seq[(String, Long)])] = {
    val dataFilters = pruning.toSeq
      .flatMap(f => GraftBatchScan.pruningExpr(f, plan.bundle.dataSch))
    plan.bundle.idx.listFiles(Nil, dataFilters).map { pd =>
      (pd.values.copy(),
        pd.files.map(f => (f.getPath.toString, f.getLen)))
    }
  }

  /** Derived-value allow-sets from runtime (DPP) predicates, keyed by
    * spec position; None = no runtime restriction for that field. Values
    * are catalyst-internal in the field's DIRECTORY type. */
  @volatile private var runtimeAllowed
      : Seq[Option[Set[Any]]] = plan.fields.map(_ => None)

  // only sources that SURVIVED column pruning: DPP resolves these against
  // the scan's (pruned) output, so an unprojected partition source (e.g.
  // ts in a days(ts)+bucket(k) layout read for k alone) must not appear
  override def filterAttributes(): Array[NamedReference] =
    plan.fields.filter(f => required.fieldNames.contains(f.source))
      .map(f => Expressions.column(f.source): NamedReference).toArray

  override def filter(predicates: Array[VPredicate]): Unit = {
    val bySource = GraftBatchScan.runtimeValues(predicates)
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    runtimeAllowed = plan.fields.map { f =>
      bySource.get(f.source).flatMap { vs =>
        val srcType = plan.bundle.dataSch(
          plan.bundle.dataSch.fieldIndex(f.source)).dataType
        // every value must map through the transform, else fail open
        val ids = vs.map(v => GraftBatchScan.derivedOf(f, v, srcType, zone))
        if (ids.exists(_.isEmpty)) None else Some(ids.flatten.toSet)
      }
    }
  }

  private def plannedPartitions: Array[InputPartition] = {
    val allowed = runtimeAllowed
    val dirTypes = plan.bundle.dirTypes
    prunedDirs.flatMap { case (key, files) =>
      val keep = plan.fields.indices.forall { i =>
        allowed(i).forall(ids =>
          !key.isNullAt(i) && ids.contains(key.get(i, dirTypes(i))))
      }
      if (!keep) Nil
      else {
        // identity layouts: this directory's parsed values ride as the
        // parquet partition-values row, appended to every row the
        // closure reads (dir type == source type for identity)
        val partVals =
          if (identityIdx.isEmpty) InternalRow.empty
          else InternalRow.fromSeq(identityIdx.map(i =>
            if (key.isNullAt(i)) null
            else key.get(i, plan.bundle.dirTypes(i))))
        // SPLIT partitions WITHIN each key group (each carrying the
        // group's values via HasPartitionKey): Spark's BatchScanExec
        // re-groups splits per key for the normal storage-partitioned
        // join, and — when `v2.bucketing.partiallyClusteredDistribution`
        // is on — KEEPS a skewed side's splits ungrouped and replicates
        // the other side's groups across them, so one hot bucket becomes
        // several tasks instead of serializing the zero-exchange join.
        // Splits are BIN-PACKED to maxPartitionBytes (not one per file):
        // a small-files-heavy group stays a few tasks while a hot
        // bucket's volume still fans out. Masked tables split the same
        // way — the per-executor [[SpjMaskCache]] shares one sidecar
        // build across a group's splits, so fine splits no longer
        // multiply the MoR re-read trade.
        val keyArr = key.toSeq(plan.bundle.pSchema).toArray
        def pf(path: String, len: Long) = MaskSets.pfOf(path, len, partVals)
        // rel path under data/, as the manifest names it — the key of
        // the delete mask's fileSeqs (position sidecars name files by
        // the URL-encoded scan path instead: MaskSets.posKey)
        def rel(path: String) = path.split("/data/").last
        val cap = math.max(1L,
          spark.sessionState.conf.filesMaxPartitionBytes)
        val bins = Seq.newBuilder[Seq[(String, Long)]]
        var cur = List.empty[(String, Long)]
        var curBytes = 0L
        files.foreach { f =>
          if (cur.nonEmpty && curBytes + f._2 > cap) {
            bins += cur.reverse; cur = Nil; curBytes = 0L
          }
          cur = f :: cur; curBytes += f._2
        }
        if (cur.nonEmpty) bins += cur.reverse
        bins.result().map { bin =>
          GraftInputPartition(keyArr,
            bin.map { case (p, l) => pf(p, l) }.toArray,
            bin.map(f => rel(f._1)).toArray): InputPartition
        }
      }
    }.toArray
  }

  override def planInputPartitions(): Array[InputPartition] = plannedPartitions

  // ---- reading --------------------------------------------------------------

  override def createReaderFactory(): PartitionReaderFactory = {
    val dataSch = plan.bundle.dataSch
    // identity columns come from the partition-values row, never the
    // file: read only the DATA part of `required`, let the closure
    // append the identity values, and project back to `required`'s
    // order afterwards. Filters over identity columns never reach
    // parquet (the file has no such column) — they already pruned
    // directories in listFiles, and Spark's residual applies exactly.
    val dataRequired =
      StructType(required.fields.filterNot(f => identityNames(f.name)))
    val dataFilters = pruning.toSeq
      .filter(_.references.forall(r => !identityNames(r)))
    // pending MoR deletes widen the read with what masking needs: key
    // columns the projection pruned away, and the parquet reader's TRUE
    // row ordinal (from page-store row ranges, so page skipping never
    // desynchronizes it) when position sidecars are pending; both are
    // dropped after masking. With none pending the mask is empty.
    val m = plan.mask.getOrElse(DeleteMask(Nil, Nil, Map.empty))
    val missing = m.eq.flatMap(_.cols).distinct.filterNot(c =>
      dataRequired.fieldNames.contains(c) || identityNames(c))
    var widenedData = missing.foldLeft(dataRequired)((s, c) =>
      s.add(dataSch(dataSch.fieldIndex(c))))
    // the reader-recognized temp name; MUST be nullable so the parquet
    // reader classifies it "missing in file" and hands it to the
    // RowIndexGenerator instead of erroring
    if (m.pos.nonEmpty)
      widenedData = widenedData.add(StructField(
        ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
        LongType, nullable = true))
    // the reader's true output layout: widened data ++ identity
    val combined = StructType(widenedData.fields ++ identitySchema.fields)
    new GraftMaskedReaderFactory(
      GraftBatchScan.buildRead(spark, spark.sessionState.newHadoopConf(),
        dataSch, widenedData, dataFilters, identitySchema),
      combined, required, m, store.maskReaders(m,
        StructType(dataSch.fields ++ identitySchema.fields)),
      plan.fields, spark.sessionState.conf.sessionLocalTimeZone)
  }

  // ---- statistics -----------------------------------------------------------

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(
        prunedDirs.iterator.flatMap(_._2).map(_._2).sum)
    // This scan prunes FILES only and returns every filter as residual
    // (see the class doc), so the Filter node above applies selectivity
    // to these full-table numbers exactly once; reporting them under
    // pushed pruning filters stays the upper bound of the scan output.
    override def numRows(): java.util.OptionalLong =
      store.rowCount(tbl).map(java.util.OptionalLong.of)
        .getOrElse(java.util.OptionalLong.empty())
    override def columnStats()
        : java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      ColumnStatsReport.build(store, tbl, required)
  }
}

private[tables] object GraftBatchScan {
  /** Driver-built serializable parquet read closure (hadoopConf travels
    * as its own broadcast — ParquetFileFormat is designed for exactly
    * this shipping). Filters go to parquet for row-group/page skipping —
    * exact evaluation stays with Spark's residual filter. Missing
    * columns (post-evolution files) read back null; INT32/FLOAT pages
    * upcast natively under a widened required schema. The vectorized
    * reader stays ON but returns ROWS (returning_batch=false) — the DSv2
    * row-based PartitionReader contract. `hadoopConf` is written to, so
    * pass a fresh one. */
  private[tables] def buildRead(spark: SparkSession,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      dataSchema: StructType, requiredSchema: StructType,
      filters: Seq[Filter] = Nil,
      partitionSchema: StructType = new StructType())
      : PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      dataSchema = dataSchema,
      partitionSchema = partitionSchema,
      requiredSchema = requiredSchema,
      filters = filters,
      options = Map(
        org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = hadoopConf)


  /** sources.Filter → Catalyst expression in the EXACT shapes
    * [[ZoneStats]] extracts bounds/probes from (AttributeReference vs
    * Literal conjuncts). Top-level columns only; None = untranslatable
    * = contributes no pruning (fail open — Spark still evaluates the
    * residual exactly). */
  private[tables] def pruningExpr(f: Filter, sch: StructType)
      : Option[Expression] = {
    def attr(n: String): Option[AttributeReference] =
      sch.fields.find(_.name == n).map(fd =>
        AttributeReference(fd.name, fd.dataType, fd.nullable)())
    def lit(n: String, v: Any): Option[Literal] =
      sch.fields.find(_.name == n).map(fd => Literal.create(v, fd.dataType))
    f match {
      case sources.EqualTo(a, v) =>
        for (x <- attr(a); l <- lit(a, v)) yield EqualTo(x, l)
      case sources.EqualNullSafe(a, v) =>
        for (x <- attr(a); l <- lit(a, v)) yield EqualNullSafe(x, l)
      case sources.GreaterThan(a, v) =>
        for (x <- attr(a); l <- lit(a, v)) yield GreaterThan(x, l)
      case sources.GreaterThanOrEqual(a, v) =>
        for (x <- attr(a); l <- lit(a, v)) yield GreaterThanOrEqual(x, l)
      case sources.LessThan(a, v) =>
        for (x <- attr(a); l <- lit(a, v)) yield LessThan(x, l)
      case sources.LessThanOrEqual(a, v) =>
        for (x <- attr(a); l <- lit(a, v)) yield LessThanOrEqual(x, l)
      case sources.In(a, vs) =>
        for {
          x <- attr(a)
          ls <- Some(vs.toSeq.map(v => lit(a, v)))
          if ls.forall(_.isDefined)
        } yield In(x, ls.flatten)
      case sources.StringStartsWith(a, v) =>
        for (x <- attr(a); l <- lit(a, v)) yield StartsWith(x, l)
      case sources.And(l, r) =>
        for (lc <- pruningExpr(l, sch); rc <- pruningExpr(r, sch))
          yield CAnd(lc, rc)
      case _ => None
    }
  }

  /** Equality/IN value sets per column from runtime V2 predicates (the
    * shapes DPP emits). Values arrive as Catalyst-internal literals. */
  private[tables] def runtimeValues(predicates: Array[VPredicate])
      : Map[String, Seq[Any]] = {
    val b = scala.collection.mutable.Map.empty[String, Seq[Any]]
    predicates.foreach { p =>
      val children = p.children()
      p.name() match {
        case "IN" if children.nonEmpty =>
          (children.head, children.tail) match {
            case (r: NamedReference, vs)
                if r.fieldNames.length == 1 &&
                  vs.forall(_.isInstanceOf[org.apache.spark.sql.connector.expressions.Literal[_]]) =>
              b += r.fieldNames.head ->
                vs.map(_.asInstanceOf[org.apache.spark.sql.connector.expressions.Literal[_]].value: Any).toSeq
            case _ => ()
          }
        case "=" if children.length == 2 =>
          (children(0), children(1)) match {
            case (r: NamedReference, v: org.apache.spark.sql.connector.expressions.Literal[_])
                if r.fieldNames.length == 1 =>
              b += r.fieldNames.head -> Seq(v.value: Any)
            case _ => ()
          }
        case _ => () // unsupported runtime shape: no extra pruning
      }
    }
    b.toMap
  }

  /** The field's layout as the V2 transform Spark compares across join
    * sides (and resolves through the catalog's [[GraftFunctions]]). */
  private[tables] def transformOf(f: PartitionField): Transform = f match {
    case b: PartitionField.PBucket  => Expressions.bucket(b.n, b.source)
    case d: PartitionField.PDays    => Expressions.days(d.source)
    case h: PartitionField.PHours   => Expressions.hours(h.source)
    case m: PartitionField.PMonths  => Expressions.months(m.source)
    case y: PartitionField.PYears   => Expressions.years(y.source)
    // width folded into the NAME: Spark's SPJ machinery
    // (KeyGroupedPartitioning.supportsExpressions) accepts only
    // SINGLE-child transforms — bucket's literal is special-cased out by
    // the resolver, a (width, col) truncate is not — so each width is
    // its own catalog-served function
    case t: PartitionField.PTruncate =>
      Expressions.apply(s"truncate${t.w}", Expressions.column(t.source))
    case i: PartitionField.PIdentity => Expressions.identity(i.source)
  }

  /** Derived directory value of a Catalyst-internal source value — the
    * runtime (DPP) analogue of the write-side layout expression: builds
    * [[PartitionField.catalystExpr]] over a literal and evaluates it, so
    * every transform maps probes EXACTLY as the writer mapped rows.
    * None = value/type outside the transform's domain (fail open). */
  private[tables] def derivedOf(f: PartitionField, v: Any, srcType: DataType,
      sessionZone: String): Option[Any] = {
    val typeOk = (v, srcType) match {
      case (null, _) => true
      case (_: Integer, IntegerType) => true
      case (_: java.lang.Long, LongType) => true
      case (_: org.apache.spark.unsafe.types.UTF8String, StringType) => true
      case (_: java.lang.Long, t) if t == org.apache.spark.sql.types.TimestampType ||
        t == org.apache.spark.sql.types.TimestampNTZType => true
      case (_: Integer, org.apache.spark.sql.types.DateType) => true
      case _ => false
    }
    if (!typeOk) None
    else
      try Some(PartitionField.catalystExpr(f, Literal(v, srcType), srcType,
        sessionZone).eval(null))
      catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Bucket id of a Catalyst-internal value — MUST mirror the write-side
    * layout expression `Pmod(Murmur3Hash(src), n)` exactly
    * ([[PartitionField.catalystExpr]]). Null hashes to the bare seed,
    * same as Murmur3Hash over a null child. */
  private[tables] def bucketId(n: Int, v: Any, srcType: DataType)
      : Option[Int] = {
    val ok = (v, srcType) match {
      case (null, _) => true
      case (_: Integer, IntegerType) => true
      case (_: java.lang.Long, LongType) => true
      case (_: org.apache.spark.unsafe.types.UTF8String, StringType) => true
      case _ => false
    }
    if (!ok) None
    else {
      val h =
        if (v == null) 42
        else Murmur3HashFunction.hash(v, srcType, 42L).toInt
      Some(((h % n) + n) % n)
    }
  }
}

/** One bucket-tuple's worth of files. `keyVals` are the directory's
  * parsed bucket ids (plain Ints — serializable by construction) in spec
  * order, matching the reported KeyGroupedPartitioning keys. `rels` are
  * the files' rel paths under `data/` (parallel to `files`) — the keys
  * the pending-delete mask is scoped by. */
private[tables] final case class GraftInputPartition(keyVals: Array[Any],
    files: Array[PartitionedFile], rels: Array[String])
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow.fromSeq(keyVals.toSeq)
  override def preferredLocations(): Array[String] = Array.empty
}

/** The SPJ scan's reader: executes the driver-built parquet read
  * closure per file (vectorized reads flattened to rows; reader close is
  * registered by the closure itself) and applies the pending
  * merge-on-read deletes per file — the Iceberg MoR read shape: each
  * task loads the (small, byte-capped at plan time) applicable delete
  * sidecars into in-memory masks once and drops masked rows while
  * streaming. Sets are built and probed by [[MaskSets]], the same code
  * the V1 read's [[MoRMaskFilter]] runs, so both share one masking
  * semantics. What this reader adds is key-group scoping: a task's
  * equality sets keep only keys whose derived partition value is the
  * task's, and skip sidecar files whose ranges exclude it. Masking
  * never moves a row between buckets, so the scan's reported
  * KeyGroupedPartitioning stays exact. `widened` (the closure's layout:
  * mask columns added, identity values appended) is reprojected to
  * `output`, the scan's readSchema. */
private[tables] final class GraftMaskedReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    widened: StructType, output: StructType,
    mask: DeleteMask,
    readers: MaskReaders,
    specFields: Seq[PartitionField],
    sessionZone: String)
  extends PartitionReaderFactory {

  /** Stat-domain range value → the Catalyst internal value the layout
    * expression evaluates over. None = unrepresentable (fail open —
    * the sidecar file is read, never skipped). */
  private def statToInternal(v: Any, dt: org.apache.spark.sql.types.DataType)
      : Option[Any] = {
    import org.apache.spark.sql.types._
    (v, dt) match {
      case (s: String, StringType) =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      case (l: Long, LongType) => Some(l)
      case (l: Long, IntegerType) if l.isValidInt => Some(l.toInt)
      case (l: Long, ShortType) if l.isValidShort => Some(l.toShort)
      case (l: Long, ByteType) if l.isValidByte => Some(l.toByte)
      case (l: Long, TimestampType | TimestampNTZType) => Some(l)
      case (l: Long, DateType) if l.isValidInt => Some(l.toInt)
      case (d: Double, DoubleType) => Some(d)
      case (d: Double, FloatType) => Some(d.toFloat)
      case _ => None
    }
  }

  /** Normalize derived values to [[ZoneStats.cmp]]'s domain. */
  private def cmpNorm(a: Any, b: Any): Option[Int] = {
    def n(v: Any): Any = v match {
      case i: Int => i.toLong
      case s: Short => s.toLong
      case y: Byte => y.toLong
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case f: Float => f.toDouble
      case other => other
    }
    ZoneStats.cmp(n(a), n(b))
  }

  /** Per-dimension skip tests for whole sidecar files: a sidecar file
    * whose recorded range on a layout dimension excludes the task's
    * partition value can mask nothing in this task and is skipped
    * WITHOUT being read. This is what layout-clustered sidecars buy:
    * each key-group task reads only its slice of the tombstone pile,
    * so per-task sidecar I/O and retained bytes stay bounded however
    * large the total pile grows.
    *
    * Two tests per layout field over a key column: (a) the DIRECT test
    * against the recorded derived-value range under the field's
    * dirName — valid for EVERY transform including bucket, because the
    * writer recorded the derived values themselves (identity records
    * under the source name, which IS its dirName); (b) a monotonic
    * fallback deriving bounds from the RAW key range under the source
    * name — covers sidecars written before a spec change re-derived
    * the layout (bucket excluded: hash order has no relation to key
    * order). The same zone-dependence exclusion as [[keyGroupScopes]]
    * applies, and every conversion/evaluation failure keeps the file
    * (fail open). */
  private def fileSkipTests(taskKey: Array[Any], cols: Seq[String],
      ks: StructType): Seq[(String, (Any, Any) => Boolean)] =
    specFields.zipWithIndex.flatMap { case (f, i) =>
      val ci = cols.indexOf(f.source)
      if (ci < 0 || i >= taskKey.length || taskKey(i) == null) Nil
      else if (PartitionField.zoneDependent(f, ks(ci).dataType)) Nil
      else {
        val dt = ks(ci).dataType
        val expect = taskKey(i)
        val direct: (Any, Any) => Boolean = (mn, mx) =>
          (cmpNorm(expect, mn), cmpNorm(expect, mx)) match {
            case (Some(x), Some(y)) => x < 0 || y > 0
            case _ => false
          }
        val mono: Option[(String, (Any, Any) => Boolean)] =
          if (f.isInstanceOf[PartitionField.PBucket] || f.isIdentity) None
          else {
            val expr = PartitionField.catalystExpr(f,
              BoundReference(0, dt, nullable = true), dt, sessionZone)
            def derive(v: Any): Any =
              try expr.eval(InternalRow(v))
              catch { case _: Exception => null }
            Some((f.source, (mn: Any, mx: Any) =>
              (statToInternal(mn, dt), statToInternal(mx, dt)) match {
                case (Some(a), Some(b)) =>
                  val (da, db) = (derive(a), derive(b))
                  // monotonic derivation: keys in [mn,mx] derive inside
                  // [da,db]; a task value strictly outside matches none
                  da != null && db != null && direct(da, db)
                case _ => false
              }))
          }
        // the direct test keys by the field's RENDER (parameter-
        // qualified — `bucket(16:k)`; identity's render IS the raw
        // column name, whose recorded range IS its derived range): a
        // sidecar written under a DIFFERENT spec generation's
        // parameters simply misses the lookup and fails open, instead
        // of comparing values from the wrong derivation domain
        Seq((f.render, direct)) ++ mono
      }
    }

  /** A task whose partition value is NULL for a non-bucket layout field
    * sourced on one of the entry's key columns holds ONLY rows whose
    * key column is null there (identity/time/truncate derive null iff
    * the source is null; bucket hashes null to a real id, so it never
    * yields a null task value): equality keys are non-null on every
    * column by construction (null-component keys are dropped at set
    * build), so NO key of this entry can match any row of this task —
    * the whole entry is skipped without reading a byte. Also what
    * keeps the per-task mask BUDGET sound: without this, the null
    * group would fail open on every range test and retain the entire
    * pile the planner budgeted per-slice. */
  private def nullGroupInapplicable(taskKey: Array[Any],
      cols: Seq[String]): Boolean =
    specFields.zipWithIndex.exists { case (f, i) =>
      i < taskKey.length && taskKey(i) == null &&
        !f.isInstanceOf[PartitionField.PBucket] && cols.contains(f.source)
    }

  /** Key-group scoping of equality-delete keys: a row in this task has
    * derived(field) == the task's partition value for EVERY layout
    * field, and an equality key masks a row only when it EQUALS it on
    * the key columns — so a key whose derived value differs from the
    * task's can mask nothing here and is dropped at set-build time.
    * One predicate per layout field whose source is a key column
    * (bucket is the headline — per-task retained keys shrink ∝ 1/n —
    * but the same argument holds for identity/days/truncate layouts).
    * A null task value or a non-evaluating derivation keeps the key
    * (fail open: extra keys cost memory, never correctness). Zone-
    * DEPENDENT derivations (days/months/years over a zoned timestamp)
    * are skipped entirely: a read-session zone differing from the
    * write-time zone yields a real, non-null, MISMATCHED value — which
    * the null/exception guards don't catch — and dropping an applicable
    * tombstone on it would resurrect deleted rows. */
  private def keyGroupScopes(taskKey: Array[Any], cols: Seq[String],
      ks: StructType): Seq[InternalRow => Boolean] =
    specFields.zipWithIndex.flatMap { case (f, i) =>
      val ci = cols.indexOf(f.source)
      if (ci < 0 || i >= taskKey.length || taskKey(i) == null) None
      else if (PartitionField.zoneDependent(f, ks(ci).dataType)) None
      else {
        val dt = ks(ci).dataType
        val expr = PartitionField.catalystExpr(f,
          BoundReference(ci, dt, nullable = true), dt, sessionZone)
        val expect = taskKey(i)
        Some((r: InternalRow) => {
          val v = try expr.eval(r) catch { case _: Exception => null }
          v == null || v == expect
        })
      }
    }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftInputPartition]
    // equality sets CACHED per executor ([[SpjMaskCache]]) per KEY GROUP
    // (scoped: a task's group retains only tombstones whose derived
    // partition value matches, so retained keys divide by the layout
    // width); splits of the same group share one sidecar build
    val eqSets: Seq[(Seq[String], Int, EqKeys)] =
      if (mask.eq.isEmpty) Nil
      else SpjMaskCache.getOrBuild(("eq", mask, part.keyVals.toSeq)) {
        val built = mask.eq.map { e =>
          val (ks, read) = readers.eq(e.cols)
          val scopes = keyGroupScopes(part.keyVals, e.cols, ks)
          // whole-file skip from the sorted sidecar's per-file ranges:
          // read only the files whose key slice can touch this task
          val tests = fileSkipTests(part.keyVals, e.cols, ks)
          def skip(path: String): Boolean = tests.nonEmpty && {
            val fn = path.substring(path.lastIndexOf('/') + 1)
            e.ranges.get(fn).exists(cr => tests.exists { case (c, t) =>
              cr.get(c).exists { case (mn, mx) => t(mn, mx) }
            })
          }
          val files =
            if (nullGroupInapplicable(part.keyVals, e.cols)) Nil else e.files
          (e.cols, e.seq,
            MaskSets.eqKeys(read, files, ks, r => scopes.forall(_(r)), skip))
        }
        if (SpjMaskStats.enabled.get())
          SpjMaskStats.record(built.map(_._3.size.toLong).sum, 0L,
            eqBytes = built.map(_._3.bytesRead).sum)
        built
      }(_.iterator.map(_._3.bytes).sum)
    // positional masks: one roaring bitmap per data file, loaded once
    // per sidecar per executor
    val posMaps = mask.pos.map(MaskSets.cachedPositions(_, readers))
    val posOrd = if (mask.pos.isEmpty) -1
      else widened.fieldIndex(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME)
    val eqProbes = eqSets.map { case (cols, seq, keys) =>
      (seq, MaskSets.keyProjection(cols.map { c =>
        val i = widened.fieldIndex(c)
        BoundReference(i, widened(i).dataType, nullable = true): Expression
      }), keys)
    }
    val outProj: InternalRow => InternalRow =
      if (widened == output) identity
      else {
        val proj = UnsafeProjection.create(
          output.fieldNames.toIndexedSeq.map { c =>
            val i = widened.fieldIndex(c)
            BoundReference(i, widened(i).dataType,
              widened(i).nullable): Expression
          })
        proj(_)
      }

    new PartitionReader[InternalRow] {
      private var fi = -1
      private var cur: Iterator[InternalRow] = Iterator.empty
      private var fileMask: FileMask = _
      private var row: InternalRow = _
      private def advanceFile(): Boolean = {
        fi += 1
        if (fi >= part.files.length) return false
        fileMask = new FileMask(eqProbes, posMaps,
          mask.fileSeqs.getOrElse(part.rels(fi), 0),
          part.files(fi).urlEncodedPath)
        cur = MaskSets.flatRows(readFunc, part.files(fi))
        true
      }
      override def next(): Boolean = {
        while (true) {
          if (cur.hasNext) {
            val r = cur.next()
            if (fileMask.isEmpty || !fileMask.masked(r,
                if (fileMask.hasPos) r.getLong(posOrd) else -1L)) {
              row = outProj(r); return true
            }
          } else if (!advanceFile()) return false
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** Per-executor cache of built delete masks. The V1 [[MoRMaskFilter]]
  * and both readers' positional bitmaps key entries by sidecar: it is
  * immutable, so a new snapshot loads only its new sidecars. The SPJ
  * reader keys its scoped equality sets by mask plus key group, so the
  * splits of a group share one build — what lets masked tables keep
  * fine-grained splits without multiplying the MoR re-read trade.
  * Bounded by ESTIMATED BYTES (an entry can expand up to
  * `SpjMaskMaxBytes` of sidecar); the entry bound only caps bookkeeping,
  * high enough that one read's sidecars never evict each other. */
private[tables] object SpjMaskCache {
  private val cache =
    new BoundedLoadingCache(TableStore.SpjMaskCacheMaxBytes, 1024)
  def getOrBuild[T <: AnyRef](key: AnyRef)(build: => T)(
      sizeOf: T => Long): T = cache.getOrBuild(key)(build)(sizeOf)
  /** Test hook: clear between measurements. */
  private[tables] def reset(): Unit = cache.reset()
  private[tables] def accountedBytes: Long = cache.accountedBytes
  private[tables] def size: Int = cache.size
}

/** Test-visible per-task mask-size telemetry for the SPJ masked read
  * (local mode only — executors share the driver JVM; on a real cluster
  * this is a per-executor no-op unless enabled there, and nothing in
  * the read path depends on it). `sumEq`/`sumPos` across tasks pin that
  * key-group scoping retains each tombstone in ~one task instead of
  * every task; `maxTaskEq` pins the per-task ceiling. */
private[tables] object SpjMaskStats {
  val enabled = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val sumEq = new java.util.concurrent.atomic.AtomicLong(0)
  private val sumPos = new java.util.concurrent.atomic.AtomicLong(0)
  private val maxEq = new java.util.concurrent.atomic.AtomicLong(0)
  private val taskN = new java.util.concurrent.atomic.AtomicLong(0)
  private val sumEqB = new java.util.concurrent.atomic.AtomicLong(0)
  private val maxEqB = new java.util.concurrent.atomic.AtomicLong(0)
  def reset(): Unit = {
    sumEq.set(0); sumPos.set(0); maxEq.set(0); taskN.set(0)
    sumEqB.set(0); maxEqB.set(0)
  }
  def record(eq: Long, pos: Long, eqBytes: Long = 0L): Unit = {
    sumEq.addAndGet(eq); sumPos.addAndGet(pos)
    maxEq.updateAndGet(m => math.max(m, eq)); taskN.incrementAndGet()
    sumEqB.addAndGet(eqBytes)
    maxEqB.updateAndGet(m => math.max(m, eqBytes))
    ()
  }
  def snapshot(): (Long, Long, Long, Long) =
    (sumEq.get(), sumPos.get(), maxEq.get(), taskN.get())
  /** (total sidecar bytes read across eq builds, max per one build) —
    * pins that range-based file skipping shrinks per-task sidecar I/O
    * with key-sorted sidecars. */
  def eqBytesRead(): (Long, Long) = (sumEqB.get(), maxEqB.get())
}

/** The catalog-served V2 functions backing hidden-partitioning
  * transforms: what lets Spark resolve a reported
  * `bucket(n, col)` KeyGroupedPartitioning to a [[ScalarFunction]] it
  * can compare across join sides (and evaluate, when shuffling a
  * non-partitioned side to match — `v2.bucketing.shuffle.enabled`). */
private[tables] object GraftFunctions {

  val names: Seq[String] =
    Seq("bucket", "days", "hours", "months", "years")

  private val TruncateN = """^truncate(\d+)$""".r

  def load(name: String): Option[UnboundFunction] = name match {
    case "bucket" => Some(BucketUnbound)
    case "days" | "hours" | "months" | "years" => Some(new TimeUnbound(name))
    case TruncateN(w) if w.toInt > 0 => Some(new TruncateUnbound(w.toInt))
    case _ => None
  }

  /** days/hours/months/years over a timestamp (days also over a date):
    * the temporal hidden-partitioning transforms as V2 functions, so two
    * tables laid out `days(ts)` report comparable partitionings. Zoned
    * timestamps derive in the SESSION zone (captured at bind — the same
    * zone the writer bucketed in) and embed it in the canonical name:
    * sessions in different zones must never consider the layouts equal.
    * NTZ/date derive zone-free. */
  private final class TimeUnbound(fname: String) extends UnboundFunction {
    override def name(): String = fname
    override def description(): String =
      s"$fname(col): temporal hidden-partitioning transform"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.length == 1,
        s"$fname expects (col), got ${inputType.simpleString}")
      val srcType = inputType(0).dataType
      val field: PartitionField = fname match {
        case "days"   => PartitionField.PDays("c")
        case "hours"  => PartitionField.PHours("c")
        case "months" => PartitionField.PMonths("c")
        case _        => PartitionField.PYears("c")
      }
      PartitionField.validate(field, srcType) // throws on a bad source type
      new DerivedBound(fname, field, srcType,
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    }
  }

  private final class TruncateUnbound(w: Int) extends UnboundFunction {
    override def name(): String = s"truncate$w"
    override def description(): String =
      s"truncate$w(col): width-$w hidden-partitioning transform"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.length == 1,
        s"truncate$w expects (col), got ${inputType.simpleString}")
      val srcType = inputType(0).dataType
      PartitionField.validate(PartitionField.PTruncate(w, "c"), srcType)
      new TruncateBound(w, srcType,
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    }
  }

  /** Evaluates the EXACT write-side derivation
    * ([[PartitionField.catalystExpr]]) over each input value. */
  private final class DerivedBound(fname: String, field: PartitionField,
      srcType: DataType, zone: String) extends ScalarFunction[AnyRef] {
    override def inputTypes(): Array[DataType] = Array(srcType)
    override def resultType(): DataType =
      PartitionField.dirType(field, srcType)
    override def name(): String = fname
    override def canonicalName(): String = {
      val z = if (srcType == org.apache.spark.sql.types.TimestampType)
        s",$zone" else ""
      s"graft.$fname(${srcType.catalogString}$z)"
    }
    override def isResultNullable: Boolean = true
    override def produceResult(input: InternalRow): AnyRef = {
      val v: Any =
        if (input.isNullAt(0)) null
        else srcType match {
          case org.apache.spark.sql.types.DateType => input.getInt(0)
          case _ => input.getLong(0) // timestamp/NTZ micros
        }
      GraftBatchScan.derivedOf(field, v, srcType, zone)
        .map(_.asInstanceOf[AnyRef]).orNull
    }
  }

  private final class TruncateBound(w: Int, srcType: DataType, zone: String)
    extends ScalarFunction[AnyRef] {
    override def inputTypes(): Array[DataType] = Array(srcType)
    override def resultType(): DataType = srcType
    override def name(): String = s"truncate$w"
    override def canonicalName(): String =
      s"graft.truncate$w(${srcType.catalogString})"
    override def isResultNullable: Boolean = true
    override def produceResult(input: InternalRow): AnyRef = {
      val v: Any =
        if (input.isNullAt(0)) null
        else srcType match {
          case IntegerType => input.getInt(0)
          case LongType => input.getLong(0)
          case StringType => input.getUTF8String(0)
          case _ => null
        }
      GraftBatchScan.derivedOf(PartitionField.PTruncate(w, "c"), v, srcType,
        zone).map(_.asInstanceOf[AnyRef]).orNull
    }
  }

  private object BucketUnbound extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(n, col): Murmur3 hidden-partitioning bucket id"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.length == 2,
        s"bucket expects (numBuckets, col), got ${inputType.simpleString}")
      val srcType = inputType(1).dataType
      srcType match {
        case IntegerType | LongType | StringType => new BucketBound(srcType)
        case other => throw new UnsupportedOperationException(
          s"bucket over ${other.simpleString} is not a graft layout type")
      }
    }
  }

  /** Canonical name embeds the SOURCE type: Murmur3 of an int and of a
    * long differ, so bucket(8, int_col) and bucket(8, long_col) must
    * never report as the same partitioning. */
  private final class BucketBound(srcType: DataType)
    extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, srcType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String =
      s"graft.bucket(${srcType.catalogString})"
    override def isResultNullable: Boolean = false
    override def produceResult(input: InternalRow): Integer = {
      val n = input.getInt(0)
      val v: Any =
        if (input.isNullAt(1)) null
        else srcType match {
          case IntegerType => input.getInt(1)
          case LongType => input.getLong(1)
          case StringType => input.getUTF8String(1)
          case _ => null
        }
      GraftBatchScan.bucketId(n, v, srcType).map(Int.box).getOrElse(
        throw new IllegalStateException(
          s"unbucketable value $v for ${srcType.simpleString}"))
    }
  }
}

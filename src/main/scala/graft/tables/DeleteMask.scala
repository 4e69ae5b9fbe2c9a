package graft.tables

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Predicate => CatalystPredicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, FloatType, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter
import org.roaringbitmap.longlong.Roaring64Bitmap

/** The pending merge-on-read deletes one read applies, planned by
  * [[TableStore.deleteMask]] and applied on the executors by
  * [[MoRMaskFilter]] (V1 relation) or [[GraftMaskedReaderFactory]] (SPJ
  * scan), both through [[MaskSets]]. `fileSeqs` maps a data file (rel
  * path under `data/`; the V1 filter re-keys it by scan path) to its
  * commit sequence; an absent file predates every pending delete. */
private[tables] final case class DeleteMask(eq: Seq[EqDelete],
    pos: Seq[PosDelete], fileSeqs: Map[String, Int]) {
  def posFiles: Seq[(String, Long)] = pos.filterNot(_.dv).flatMap(_.files)
  def dvFiles: Seq[(String, Long)] = pos.filter(_.dv).flatMap(_.files)
  /** Sidecar bytes on disk, what [[TableStore.SpjMaskMaxBytes]] caps. */
  def bytes: Long = (eq.flatMap(_.files) ++ pos.flatMap(_.files)).map(_._2).sum
}

/** One pending equality-delete sidecar: physical key columns, the
  * sequence it masks files below, its parquet files (path, length), and
  * for the SPJ scan's file skipping, per file name and key column, the
  * file's (min, max) in the stat domain (empty = none recorded). */
private[tables] final case class EqDelete(cols: Seq[String], seq: Int,
    files: Seq[(String, Long)],
    ranges: Map[String, Map[String, (Any, Any)]] = Map.empty)

/** One pending positional sidecar, deletion vectors (`dv`) or legacy
  * (file, ordinal) pairs: file-scoped, so it needs no sequence. */
private[tables] final case class PosDelete(dv: Boolean, files: Seq[(String, Long)])

/** Parquet read closures for a mask's sidecars: per equality key-column
  * set (with its key schema), for pair and for DV sidecars. */
private[tables] final case class MaskReaders(
    eq: Map[Seq[String], (StructType, PartitionedFile => Iterator[InternalRow])],
    pos: Option[PartitionedFile => Iterator[InternalRow]],
    dv: Option[PartitionedFile => Iterator[InternalRow]])

/** The non-null key tuples of one equality sidecar (`bytesRead` of it
  * read), with a bloom prescreen: data rows are mostly NOT deleted, and a
  * bit-array miss is cheaper than a hash-set walk (~1.2 bytes/key). */
private[tables] final class EqKeys(set: java.util.HashSet[UnsafeRow],
    val bytesRead: Long) {
  private val bloom = BloomFilter.create(math.max(set.size().toLong, 64L), 0.01)
  set.forEach(k => bloom.putLong(k.hashCode().toLong))
  def size: Int = set.size()
  def isEmpty: Boolean = set.isEmpty
  def contains(k: UnsafeRow): Boolean =
    bloom.mightContainLong(k.hashCode().toLong) && set.contains(k)
  /** Estimated pinned bytes: payload + ~48 B per entry, plus the bloom. */
  def bytes: Long = {
    var b = 64L + bloom.bitSize() / 8
    val it = set.iterator()
    while (it.hasNext) b += it.next().getSizeInBytes + 48L
    b
  }
}

/** Mask of the data file at scan path `path` with sequence `seq`: the
  * equality sets (sequence, key projection, keys) whose sequence is above
  * it, and the position bitmaps naming it. A key with a null component
  * masks nothing: sets hold none, and an UnsafeRow with a null bit never
  * bytewise-equals one without. */
private[tables] final class FileMask(eqAll: Seq[(Int, UnsafeProjection, EqKeys)],
    posAll: Seq[Map[String, Roaring64Bitmap]], seq: Int, path: String) {
  private val eq = eqAll.collect { case (s, proj, keys)
    if s > seq && !keys.isEmpty => (proj, keys) }.toArray
  private val pos = posAll.flatMap(_.get(MaskSets.posKey(path))).toArray
  val isEmpty: Boolean = eq.isEmpty && pos.isEmpty
  val hasPos: Boolean = pos.nonEmpty
  /** `ordinal`, the row's position in its file, matters only if [[hasPos]]. */
  def masked(row: InternalRow, ordinal: Long): Boolean =
    (hasPos && pos.exists(_.contains(ordinal))) ||
      eq.exists { case (proj, keys) => keys.contains(proj(row)) }
}

/** Building and probing delete masks, shared by both masked readers. */
private[tables] object MaskSets {
  def pfOf(path: String, len: Long,
      partVals: InternalRow = InternalRow.empty): PartitionedFile =
    PartitionedFile(partVals,
      org.apache.spark.paths.SparkPath.fromPathString(path),
      0L, len, Array.empty, 0L, len, Map.empty)

  /** Vectorized readers hand back batches disguised as rows. */
  def flatRows(f: PartitionedFile => Iterator[InternalRow],
      file: PartitionedFile): Iterator[InternalRow] =
    f(file).asInstanceOf[Iterator[Object]].flatMap {
      case b: ColumnarBatch => b.rowIterator().asScala
      case r: InternalRow => Iterator.single(r)
    }

  /** How positional sidecars name the data file at scan path `path`
    * (URL-encoded): the part after its last `/data/`. */
  def posKey(path: String): String = {
    val i = path.lastIndexOf("/data/")
    if (i < 0) path else path.substring(i + "/data/".length)
  }

  /** Projection of `keys` to the UnsafeRow a key set holds. Float and
    * double components are normalized (-0.0 to 0.0, one NaN) as a join
    * key would be, so bytewise set membership is SQL equality. */
  def keyProjection(keys: Seq[Expression]): UnsafeProjection =
    UnsafeProjection.create(keys.map { e =>
      e.dataType match {
        case FloatType | DoubleType => NormalizeNaNAndZero(e)
        case _ => e
      }
    })

  /** The key set of sidecar `files` read under `ks`, without keys that
    * have a null component or that `keep` rejects, and without the files
    * `skip` names. */
  def eqKeys(read: PartitionedFile => Iterator[InternalRow],
      files: Seq[(String, Long)], ks: StructType,
      keep: InternalRow => Boolean = _ => true,
      skip: String => Boolean = _ => false): EqKeys = {
    val proj = keyProjection(ks.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, nullable = true): Expression })
    val set = new java.util.HashSet[UnsafeRow]()
    var bytesRead = 0L
    files.foreach { case (path, len) =>
      if (!skip(path)) {
        bytesRead += len
        flatRows(read, pfOf(path, len)).foreach { r =>
          if (!(0 until ks.length).exists(r.isNullAt) && keep(r)) {
            set.add(proj(r).copy()); ()
          }
        }
      }
    }
    new EqKeys(set, bytesRead)
  }

  /** One roaring bitmap per data file a positional sidecar names: pair
    * rows add ordinals, DV rows OR their bitmaps. */
  def positions(p: PosDelete, readers: MaskReaders): Map[String, Roaring64Bitmap] = {
    val m = scala.collection.mutable.Map.empty[String, Roaring64Bitmap]
    val read = (if (p.dv) readers.dv else readers.pos).getOrElse(
      sys.error("no reader for a positional sidecar"))
    p.files.foreach { case (path, len) =>
      flatRows(read, pfOf(path, len)).foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val f = r.getUTF8String(0).toString
          val acc = m.getOrElseUpdate(f, new Roaring64Bitmap)
          if (p.dv) acc.or(DeletionVectors.deserialize(r.getBinary(1)))
          else acc.addLong(r.getLong(1))
        }
      }
    }
    m.toMap
  }

  /** [[positions]] through the per-executor [[SpjMaskCache]], keyed by
    * the (immutable) sidecar, so every snapshot holding it shares one load. */
  def cachedPositions(p: PosDelete,
      readers: MaskReaders): Map[String, Roaring64Bitmap] =
    SpjMaskCache.getOrBuild(("pos", p)) {
      val built = positions(p, readers)
      if (SpjMaskStats.enabled.get())
        SpjMaskStats.record(0L, built.valuesIterator.map(_.getLongCardinality).sum)
      built
    }(_.iterator.map { case (f, bm) => // in memory ≈ serialized form
      bm.serializedSizeInBytes() + f.length * 2L + 96L }.sum)

  /** The key set of one equality sidecar through the cache, keyed by the
    * sidecar and its key schema (a widened key reads it as a new set). */
  def cachedEqKeys(e: EqDelete, readers: MaskReaders): EqKeys = {
    val (ks, read) = readers.eq(e.cols)
    SpjMaskCache.getOrBuild(("eq", e.files, ks))(eqKeys(read, e.files, ks))(_.bytes)
  }
}

/** The map-side merge-on-read mask over the V1 relation: true iff the
  * row survives `mask`. It filters the file relation's physically named
  * output in the scan's own stage: no join, no exchange, and no job to
  * build it, as tasks load the sidecars through the mask cache.
  * Children: `_metadata.file_path`, `_metadata.row_index` (a literal
  * when no positional sidecar is pending), then the columns `keyCols`. */
private[tables] case class MoRMaskFilter(mask: DeleteMask,
    readers: MaskReaders, keyCols: Seq[String], children: Seq[Expression])
  extends CatalystPredicate with CodegenFallback {

  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override def toString: String =
    s"mor_mask(${mask.eq.size} eq, ${mask.pos.size} pos)" +
      children.mkString("(", ", ", ")")

  @transient private lazy val eqLoaded: Seq[(Int, UnsafeProjection, EqKeys)] =
    mask.eq.map { e =>
      (e.seq,
        MaskSets.keyProjection(e.cols.map(c => children(2 + keyCols.indexOf(c)))),
        MaskSets.cachedEqKeys(e, readers))
    }
  @transient private lazy val posLoaded: Seq[Map[String, Roaring64Bitmap]] =
    mask.pos.map(MaskSets.cachedPositions(_, readers))
  @transient private var lastPath: UTF8String = _
  @transient private var fileMask: FileMask = _

  override def eval(input: InternalRow): Any = {
    val path = children.head.eval(input).asInstanceOf[UTF8String]
    if (path == null) return true
    if (lastPath == null || !lastPath.equals(path)) {
      lastPath = path.clone()
      val p = path.toString
      fileMask = new FileMask(eqLoaded, posLoaded, mask.fileSeqs.getOrElse(p, 0), p)
    }
    fileMask.isEmpty || !fileMask.masked(input,
      if (fileMask.hasPos) children(1).eval(input).asInstanceOf[Long] else -1L)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

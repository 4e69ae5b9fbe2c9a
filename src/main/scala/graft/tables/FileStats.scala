package graft.tables

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, GetStructField, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{HllSketchAgg, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.BloomBuildAggregate

/** What one data file's stats sidecars record (`stats/<file>.json` and
  * the bloom sidecars): row count, and per zone column min/max, non-null
  * count and an HLL sketch, and per bloom column a Bloom filter.
  *
  * The values are gathered while the file is WRITTEN — a
  * [[FileStatsTracker]] on Spark's file writer, or the staged V2 writers
  * feeding [[FileStatsAcc]] directly — so a commit never reads back what
  * it just wrote (the per-file writer statistics of Delta Lake's
  * `DeltaJobStatisticsTracker` and Iceberg's `DataFile` metrics). Only
  * files graft did not write (`addFiles`, an `analyzeTable` backfill) are
  * scanned, by [[FileStatsSpec.scan]], through the same accumulator.
  *
  * The semantics are those of the aggregates the sidecars were first
  * defined by — `min`, `max`, `count(c)`, `hll_sketch_agg` and
  * `bloom_build` grouped by file: min/max use Spark's ordering (NaN above
  * every number, first of equals kept), the sketch and the filter are
  * driven through the very aggregate expressions, in their
  * partial → final order, so the bytes agree.
  *
  * `tableSchema` is the table's physical schema (it types the columns);
  * `dataSchema` is the layout of the rows the accumulator sees. A zone
  * column absent from it — an identity partition column, whose value
  * lives in the directory name — reads as null, as it did for the
  * aggregate over the file alone. */
private[tables] final case class FileStatsSpec(tableSchema: StructType,
    dataSchema: StructType, zoneCols: Seq[String], bloomCols: Seq[String],
    bloomItems: Long, fpp: Double, hllLgK: Int, timeZone: String) {

  private def typeOf(c: String): DataType =
    NestedSchema.resolve(tableSchema, c.split('.').toSeq).map(_.dataType)
      .getOrElse(NullType)

  /** `c` (a dotted physical path) bound against `dataSchema`. */
  private def bind(c: String): Expression = {
    def at(st: StructType, path: List[String],
        base: Option[Expression]): Option[Expression] = path match {
      case Nil => base
      case seg :: rest =>
        val i = st.fieldNames.indexOf(seg)
        if (i < 0) None
        else {
          val f = st.fields(i)
          val e = base.fold[Expression](
            BoundReference(i, f.dataType, nullable = true))(
            GetStructField(_, i, Some(seg)))
          if (rest.isEmpty) Some(e)
          else f.dataType match {
            case s: StructType => at(s, rest, Some(e))
            case _ => None
          }
        }
    }
    at(dataSchema, c.split('.').toList, None)
      .getOrElse(Literal(null, typeOf(c)))
  }

  /** The per-task evaluators: bound zone values with their orderings,
    * and the sketch and filter aggregates. */
  private[tables] final class Bound {
    val zone: Array[Expression] = zoneCols.map(bind).toArray
    val ordering: Array[Ordering[Any]] =
      zoneCols.map(c => TypeUtils.getInterpretedOrdering(typeOf(c))).toArray
    // hll_sketch_agg takes int, long and string natively; narrower
    // integers widen to int and every other type goes in as its string
    // form (injective on distinct values)
    val hll: Array[HllSketchAgg] = zoneCols.zip(zone).map { case (c, e) =>
      val in = typeOf(c) match {
        case IntegerType | LongType | StringType => e
        case ShortType | ByteType => Cast(e, IntegerType, Some(timeZone))
        case _ => Cast(e, StringType, Some(timeZone))
      }
      new HllSketchAgg(in, Literal(hllLgK), 0, 0)
    }.toArray
    val bloom: Array[BloomBuildAggregate] = bloomCols.map(c =>
      BloomBuildAggregate(bind(c), bloomItems, fpp)).toArray
  }

  def newAcc(): FileStatsAcc = new FileStatsAcc(new Bound)

  /** Final stats of one file from its partial states (one per writing
    * task; several only when a scan split the file). */
  def finish(parts: Seq[FileStatsPartial]): FileStats = {
    val b = new Bound
    val zn = zoneCols.length
    val rows = parts.map(_.rows).sum
    def pick(get: FileStatsPartial => Array[Any], i: Int,
        better: (Any, Any) => Boolean): Any =
      parts.map(get(_)(i)).foldLeft(null: Any) { (acc, v) =>
        if (v == null) acc
        else if (acc == null || better(v, acc)) v else acc
      }
    def external(i: Int, v: Any): Any =
      CatalystTypeConverters.convertToScala(v, typeOf(zoneCols(i)))
    def final_[T](agg: TypedImperativeAggregate[T],
        partials: Seq[Array[Byte]]): Array[Byte] = {
      val buf = partials.foldLeft(agg.createAggregationBuffer())(
        (acc, p) => agg.merge(acc, agg.deserialize(p)))
      agg.eval(buf).asInstanceOf[Array[Byte]]
    }
    FileStats(rows,
      (0 until zn).map(i => (
        external(i, pick(_.mins, i, b.ordering(i).lt)),
        external(i, pick(_.maxs, i, b.ordering(i).gt)))),
      (0 until zn).map(i => rows - parts.map(_.nonNull(i)).sum),
      (0 until zn).map(i => final_(b.hll(i), parts.map(_.hll(i)))),
      b.bloom.indices.map(i => final_(b.bloom(i), parts.map(_.blooms(i)))))
  }

  /** Stats of existing files (`paths`: file paths) in ONE job: each
    * task folds the rows of the files it reads, keyed by the file each
    * row came from. Only the columns the stats need are read. */
  def scan(spark: SparkSession, paths: Seq[String])
      : Map[String, FileStats] = {
    val used = (zoneCols ++ bloomCols).map(_.split('.').head).toSet
    val spec = copy(dataSchema = StructType(
      dataSchema.fields.filter(f => used(f.name))))
    val n = spec.dataSchema.length
    val withFile = spark.read.schema(spec.dataSchema).parquet(paths: _*)
      .select((spec.dataSchema.fieldNames.map(f => col(s"`$f`")) :+
        input_file_name()).toSeq: _*)
    val parts = withFile.queryExecution.toRdd.mapPartitions { rows =>
      val accs = mutable.LinkedHashMap.empty[String, FileStatsAcc]
      rows.foreach { r =>
        accs.getOrElseUpdate(r.getUTF8String(n).toString, spec.newAcc())
          .update(r)
      }
      accs.iterator.map { case (f, a) => (f, a.partial) }
    }.collect()
    val byPath = parts.groupBy { case (f, _) =>
      new org.apache.hadoop.fs.Path(java.net.URI.create(f)).toUri.getPath
    }
    paths.map { p =>
      val key = new org.apache.hadoop.fs.Path(p).toUri.getPath
      p -> spec.finish(byPath.get(key).map(_.map(_._2).toSeq).getOrElse(Nil))
    }.toMap
  }
}

/** Final stats of one file: zone bounds as collected (external) values. */
private[tables] final case class FileStats(rows: Long,
    bounds: Seq[(Any, Any)], nulls: Seq[Long], hll: Seq[Array[Byte]],
    blooms: Seq[Array[Byte]])

/** Mergeable per-task state of one file, shipped to the driver. Min/max
  * stay in Spark's internal form; sketch and filter are the aggregates'
  * serialized partial buffers. */
private[tables] final class FileStatsPartial(val rows: Long,
    val mins: Array[Any], val maxs: Array[Any], val nonNull: Array[Long],
    val hll: Array[Array[Byte]], val blooms: Array[Array[Byte]])
  extends Serializable

/** Folds the rows of one file as they are written or read. */
private[tables] final class FileStatsAcc(b: FileStatsSpec#Bound) {
  private var rows = 0L
  private val zn = b.zone.length
  private val mins = new Array[Any](zn)
  private val maxs = new Array[Any](zn)
  private val nonNull = new Array[Long](zn)
  private val hll = b.hll.map(_.createAggregationBuffer())
  private val bloom = b.bloom.map(_.createAggregationBuffer())

  def update(row: InternalRow): Unit = {
    rows += 1
    var i = 0
    while (i < zn) {
      val v = b.zone(i).eval(row)
      if (v != null) {
        nonNull(i) += 1
        // rows are reused buffers: keep our own copy of a string bound
        if (mins(i) == null || b.ordering(i).lt(v, mins(i))) mins(i) = own(v)
        if (maxs(i) == null || b.ordering(i).gt(v, maxs(i))) maxs(i) = own(v)
      }
      b.hll(i).update(hll(i), row)
      i += 1
    }
    i = 0
    while (i < bloom.length) { b.bloom(i).update(bloom(i), row); i += 1 }
  }

  private def own(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case other => other
  }

  def partial: FileStatsPartial = new FileStatsPartial(rows, mins, maxs,
    nonNull, b.hll.indices.map(i => b.hll(i).serialize(hll(i))).toArray,
    b.bloom.indices.map(i => b.bloom(i).serialize(bloom(i))).toArray)
}

/** Stats collection inside Spark's file writer: each task folds every
  * row of every file it writes, and hands the partial states back with
  * its commit message. [[statsOf]] reads them on the driver after the
  * job committed. */
private[tables] final class FileStatsTracker(spec: FileStatsSpec)
  extends WriteJobStatsTracker {

  @transient private lazy val files =
    mutable.ArrayBuffer.empty[(String, FileStatsPartial)]

  override def newTaskInstance(): WriteTaskStatsTracker =
    new FileStatsTracker.Task(spec)

  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit = stats.foreach {
    case FileStatsTracker.TaskStats(fs) => files ++= fs
    case _ => ()
  }

  /** The written files' partial stats keyed by `rels`, their paths
    * relative to the output directory. A task reports its files under
    * their task-attempt paths, which end in the same relative path. */
  def statsOf(rels: Seq[String]): Map[String, FileStatsPartial] = {
    val byName = files.groupBy { case (p, _) => p.substring(p.lastIndexOf('/') + 1) }
    rels.flatMap { rel =>
      byName.getOrElse(rel.substring(rel.lastIndexOf('/') + 1), Nil)
        .find { case (p, _) => p.endsWith("/" + rel) }
        .map(rel -> _._2)
    }.toMap
  }
}

private[tables] object FileStatsTracker {
  final case class TaskStats(files: Seq[(String, FileStatsPartial)])
    extends WriteTaskStats

  final class Task(spec: FileStatsSpec) extends WriteTaskStatsTracker {
    private val done = mutable.ArrayBuffer.empty[(String, FileStatsPartial)]
    private val open = mutable.LinkedHashMap.empty[String, FileStatsAcc]
    private var lastPath: String = _
    private var last: FileStatsAcc = _

    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit = {
      open(filePath) = spec.newAcc(); ()
    }
    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (filePath ne lastPath) { lastPath = filePath; last = open(filePath) }
      last.update(row)
    }
    override def closeFile(filePath: String): Unit =
      open.remove(filePath).foreach { a =>
        done += filePath -> a.partial
        if (filePath eq lastPath) { lastPath = null; last = null }
      }
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
      open.keys.toSeq.foreach(closeFile)
      TaskStats(done.toSeq)
    }
  }
}

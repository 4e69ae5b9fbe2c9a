package perfbench

import java.nio.file.Path
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.{Destination, DestinationStream}
import graft.cdc.{CdcOp, CdcRecord, RawData}
import graft.tables.TableStore

/** Shared pieces of the two CDC workloads: the orders table, its seeding
  * and the model checks. */
object Orders {
  val Table = "orders"
  val Key = "o_orderkey"

  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", StringType), StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType), StructField("o_shippriority", IntegerType),
    StructField("o_comment", StringType)))

  /** Creates the table and appends keys 1..n at version 0, generated on
    * the executors from the same pure row function the model uses. */
  def seed(spark: SparkSession, store: TableStore, seed: Long, n: Int,
      files: Int): Unit = {
    import spark.implicits._
    store.create(Table, schema, zoneCols = Seq(Key))
    val rows = spark.range(1, n + 1L, 1, files).as[Long]
      .map(k => Gen.order(seed, k, 0)).toDF()
    store.append(Table, spark.createDataFrame(rows.rdd, schema))
  }

  def canonical(r: Row): String =
    s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(2)}|${r.getDouble(3)}|" +
      s"${r.getString(4)}|${r.getString(5)}|${r.getString(6)}|${r.getInt(7)}|" +
      s"${r.getString(8)}"

  /** Point lookup by key, compared with the model. */
  def pointCheck(rows: Array[Row], model: OrdersModel, key: Long): Option[String] = {
    val want = model.row(key).map(_.canonical).toSeq
    val got = rows.map(canonical).toSeq
    if (got == want) None else Some(s"point lookup $key: got $got, model has $want")
  }

  /** Whole-table content hash against the model's. */
  def tableCheck(ctx: Ctx, df: DataFrame, model: OrdersModel): Unit = {
    var h = 0L
    var n = 0L
    df.toLocalIterator().asScala.foreach { r =>
      h += model.rowHash(canonical(r)); n += 1
    }
    val (mh, mn) = model.contentHash
    ctx.check(h == mh && n == mn,
      s"final table content differs from the model: $n rows (model $mn), " +
        s"hash $h (model $mh)")
  }
}

/** `cdc_ingest`: closed loop, one writer. Each cycle hands a 2,000-record
  * OpenCDC batch (raw-JSON keys and payloads; ~40% create, ~45% update,
  * ~15% delete, update/delete keys skewed toward recent inserts) to
  * `DestinationStream.writeBatch` on a copy-on-write orders table seeded
  * with 150k rows, then checks four point lookups against the model. */
final class Ingest extends Workload {
  val InitialRows = 150000
  val BatchSize = 2000
  val WarmBatches = 1
  val CycleS = 2.5
  val DiskSampleBatch = 4

  private var root: Path = _
  private var store: TableStore = _
  private var model: OrdersModel = _
  private var gen: ChangeGen = _
  private var dest: DestinationStream = _
  private var pick: java.util.SplittableRandom = _
  private var acked = 0L
  private var ackS = 0.0
  private var batches = 0
  private var disk = 0.0

  def prepare(ctx: Ctx, dir: Path): Unit = {
    root = dir.resolve("tables")
    store = new TableStore(ctx.spark, root.toString)
    Orders.seed(ctx.spark, store, ctx.seed, InitialRows, files = 8)
    model = new OrdersModel(ctx.seed, InitialRows)
    gen = new ChangeGen(model, ctx.seed, createFrac = 0.40, updateFrac = 0.45,
      recentSkew = true)
    pick = Gen.rng(ctx.seed, 3)
    dest = Destination.open(ctx.spark, Destination.configure(Map(
      "store.root" -> root.toString, "table" -> Orders.Table,
      "key.columns" -> Orders.Key, "maintenance.files" -> "true")).get)
  }

  def warmUp(ctx: Ctx): Unit = (1 to WarmBatches).foreach(_ => cycle(ctx))

  def timedCycles(seconds: Int): Int = Harness.cyclesFor(seconds, CycleS)

  private def records(cs: Seq[Change]): Seq[CdcRecord] = cs.map { c =>
    CdcRecord(c.seq.toString.getBytes("UTF-8"), CdcOp.fromString(c.op),
      key = Some(RawData(Gen.keyJson(c.key))),
      after = if (c.op == "delete") None
        else Some(RawData(Gen.order(model.seed, c.key, c.version).json)))
  }

  def cycle(ctx: Ctx): Unit = {
    val cs = gen.batch(BatchSize)
    val recs = records(cs)
    val tr = ctx.tracer
    val tdir = root.resolve(Orders.Table)
    val (v0, live0, files0) =
      if (tr.enabled) (store.currentVersion(Orders.Table),
        store.currentRelPaths(Orders.Table).toSet, Harness.files(tdir))
      else (0, Set.empty[String], Set.empty[String])
    val ms = ctx.op("op.batch", ctx.ackMs) {
      val acks = dest.writeBatch(recs).get
      if (tr.enabled) {
        Harness.commitAttrs(tr, store, Orders.Table, tdir, v0, live0, files0)
        tr.attr("payload_bytes", recs.map(r =>
          r.after.collect { case RawData(b) => b.length }.getOrElse(0)).sum)
      }
      acks
    } { acks =>
      if (acks.size == recs.size) None else Some(s"${acks.size} acks for ${recs.size} records")
    }
    ms.foreach { m =>
      if (ctx.timed) { acked += recs.size; ackS += m / 1000; batches += 1 }
    }
    if (ctx.timed && batches == DiskSampleBatch && disk == 0)
      disk = Harness.dirBytes(root.resolve(Orders.Table)).toDouble / model.live
    // two keys this batch touched and two uniform keys: a single lookup
    // varies by ±30%, so a run needs a dozen or more for a steady median
    val keys = Seq.fill(2)(cs(pick.nextInt(cs.size)).key) ++
      Seq.fill(2)(1 + pick.nextLong(model.maxKey))
    keys.foreach { k =>
      ctx.op("op.read.point", ctx.reads("point")) {
        val df = dest.table.filter(col(Orders.Key) === k)
        val rows = df.collect()
        tr.plan(df.queryExecution)
        tr.attr("rows", rows.length)
        rows
      }(rows => Orders.pointCheck(rows, model, k))
    }
  }

  def finish(ctx: Ctx): Unit = Orders.tableCheck(ctx, dest.table, model)

  def itemsPerS(ctx: Ctx, wallS: Double): Double = Stats.ratio(acked, ackS)
  def diskBytesPerRow: Double = disk
  def layerMetrics(ctx: Ctx, r: Reduce): Map[String, Double] = r.cdcBatches
}

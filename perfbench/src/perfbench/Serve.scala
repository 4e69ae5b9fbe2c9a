package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.api.CdcStreamSink
import graft.cdc.CdcApply
import graft.tables.TableStore

/** `cdc_serve`: closed loop, one thread alternating writes and reads, plus
  * a long-running change-feed consumer. Each cycle appends a 500-record
  * CDC batch (keys uniform over the live table; ~15% create, ~70% update,
  * ~15% delete) to an in-memory stream that `CdcStreamSink` applies to a
  * merge-on-read orders table, runs a fixed copy of the delete- and
  * file-maintenance policy (with its defaults) that a `Destination` with
  * `maintenance.auto` and `maintenance.files` runs after each write
  * (`CdcStreamSink` has no maintenance option), then two reads through `TableStore.read`: a
  * point lookup, and in rotation a key-range aggregate, a group-by
  * aggregate or `count(*)`, each checked against the model. A
  * `graft-table` streaming query with `changeFeed=true` tails the table on
  * its own thread and folds every change it emits into a key → row state
  * that must equal the final table; each cycle waits for it to catch up
  * before the reads. */
final class Serve extends Workload {
  val InitialRows = 50000
  val BatchSize = 500
  val WarmCycles = 1
  val CycleS = 6.5
  // file maintenance compacts once 5 small files are live: with the seed
  // in 3 files, at the 2nd batch of a run and then every 4th. So 3 timed
  // cycles after the warm-up hold one stall and every read kind.
  val SeedFiles = 3
  val MinCycles = 3
  val DiskSampleBatch = 2
  val RangeKeys = 1000

  private var root: Path = _
  private var store: TableStore = _
  private var model: OrdersModel = _
  private var gen: ChangeGen = _
  private var pick: java.util.SplittableRandom = _
  private var input: MemoryStream[(Long, String, String, String)] = _
  private var sink: StreamingQuery = _
  private var feed: StreamingQuery = _
  private var feedFold: FeedFold = _
  private val ackAt = new ConcurrentHashMap[Int, Long]()  // data version → ack time
  private var acked = 0L
  private var batches = 0
  private var cycles = 0
  private var disk = 0.0
  // sampled before each read (traced runs)
  private var pendingDeletes = 0
  private var liveFiles = 0

  private var work: Path = _

  def prepare(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    work = dir
    root = dir.resolve("tables")
    store = new TableStore(spark, root.toString)
    Orders.seed(spark, store, ctx.seed, InitialRows, files = SeedFiles)
    store.setProperties(Orders.Table, Map("write.merge.mode" -> Some("merge-on-read")))
    model = new OrdersModel(ctx.seed, InitialRows)
    gen = new ChangeGen(model, ctx.seed, createFrac = 0.15, updateFrac = 0.70,
      recentSkew = false)
    pick = Gen.rng(ctx.seed, 5)
  }

  def warmUp(ctx: Ctx): Unit = {
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    input = MemoryStream[(Long, String, String, String)]
    sink = ctx.tracer.threadTagged("sink") {
      CdcStreamSink.attach(spark, input.toDF().toDF("seq", "op", "key", "payload"),
        store, CdcApply.CdcConfig(Orders.Table, Seq(Orders.Key)),
        seqCol = Some("seq"), sinkId = "serve")
        .option("checkpointLocation", work.resolve("ckpt-sink").toString)
        .queryName("sink").start()
    }
    val v0 = store.currentVersion(Orders.Table)
    feedFold = new FeedFold(model.snapshot(), ctx.seed)
    feed = ctx.tracer.threadTagged("feed") {
      spark.readStream.format("graft-table")
        .option("root", root.toString).option("table", Orders.Table)
        .option("changeFeed", "true").option("startVersion", v0.toString)
        .load()
        .writeStream.queryName("feed")
        .option("checkpointLocation", work.resolve("ckpt-feed").toString)
        .foreachBatch((df: DataFrame, _: Long) => feedFold.fold(df.collect()))
        .start()
    }
    (1 to WarmCycles).foreach(_ => cycle(ctx))
  }

  def timedCycles(seconds: Int): Int = Harness.cyclesFor(seconds, CycleS, MinCycles)

  /** The per-write maintenance a `Destination` with `maintenance.auto` and
    * `maintenance.files` runs: compact pending deletes past the entry
    * budget, then bin-pack small files. */
  private def maintain(): Unit = {
    store.maintainDeletes(Orders.Table, 8)
    store.compactSmallFiles(Orders.Table, TableStore.DefaultTargetFileBytes, 5)
    ()
  }

  def cycle(ctx: Ctx): Unit = {
    val tr = ctx.tracer
    val cs = gen.batch(BatchSize)
    val rows = cs.map { c =>
      (c.seq, c.op, Gen.keyJson(c.key),
        if (c.op == "delete") null else Gen.order(model.seed, c.key, c.version).json)
    }
    val tdir = root.resolve(Orders.Table)
    val v0 = store.currentVersion(Orders.Table)
    val (live0, files0) =
      if (tr.enabled) (store.currentRelPaths(Orders.Table).toSet, Harness.files(tdir))
      else (Set.empty[String], Set.empty[String])
    val ms = ctx.op("op.batch", ctx.ackMs) {
      input.addData(rows)
      tr.span("cdc.sink")(sink.processAllAvailable())
      val vData = store.currentVersion(Orders.Table)
      tr.span("tables.maint")(maintain())
      ackAt.put(vData, System.currentTimeMillis())
      if (tr.enabled) {
        Harness.commitAttrs(tr, store, Orders.Table, tdir, v0, live0, files0)
        tr.attr("payload_bytes", rows.map(r => Option(r._4).map(_.length).getOrElse(0)).sum)
      }
      vData
    } { vData => if (vData > v0) None else Some("sink committed no table version") }
    ms.foreach { _ => if (ctx.timed) { acked += cs.size; batches += 1 } }
    // the consumer tails the table on its own trigger; waiting for it to
    // catch up here keeps its jobs from queueing behind or ahead of the
    // reads' jobs at random points
    tr.span("feed.catchup")(feed.processAllAvailable())
    if (ctx.timed && batches == DiskSampleBatch && disk == 0)
      disk = Harness.dirBytes(root.resolve(Orders.Table)).toDouble / model.live

    // one point lookup (alternately a key the batch touched and a uniform
    // key) and one of range / group-by / count(*), in rotation
    val k = if (cycles % 2 == 0) cs(pick.nextInt(cs.size)).key else 1 + pick.nextLong(model.maxKey)
    read(ctx, "point")(_.filter(col(Orders.Key) === k))(rs => Orders.pointCheck(rs, model, k))
    cycles % 3 match {
      case 0 =>
        val lo = 1 + pick.nextLong(math.max(1, model.maxKey - RangeKeys))
        val hi = lo + RangeKeys - 1
        read(ctx, "range") { t =>
          t.filter(col(Orders.Key).between(lo, hi))
            .agg(count(lit(1)), sum("o_totalprice"))
        } { rs =>
          val (n, cents) = (lo to hi).flatMap(model.row).foldLeft((0L, 0L)) {
            case ((n, c), o) => (n + 1, c + o.priceCents) }
          checkAgg(s"range [$lo, $hi]", rs.head, n, cents)
        }
      case 1 =>
        read(ctx, "agg") { t =>
          t.groupBy("o_orderstatus").agg(count(lit(1)), sum("o_totalprice"))
        } { rs =>
          val got = rs.map(r => r.getString(0) -> r).toMap
          Gen.Statuses.indices.flatMap { i =>
            got.get(Gen.Statuses(i)) match {
              case Some(r) => checkAgg(s"status ${Gen.Statuses(i)}", r,
                model.statusCount(i), model.statusCents(i))
              case None if model.statusCount(i) == 0 => None
              case None => Some(s"status ${Gen.Statuses(i)} missing from group-by")
            }
          }.headOption
        }
      case _ =>
        read(ctx, "count")(_.groupBy().count()) { rs =>
          val n = rs.head.getLong(0)
          if (n == model.live) None else Some(s"count(*) $n, model ${model.live}")
        }
    }
    cycles += 1
  }

  private def checkAgg(what: String, r: Row, n: Long, cents: Long): Option[String] = {
    val gotN = r.getLong(r.length - 2)
    val gotSum = if (r.isNullAt(r.length - 1)) 0.0 else r.getDouble(r.length - 1)
    val want = cents / 100.0
    if (gotN == n && math.abs(gotSum - want) <= 1e-6 * math.max(1.0, math.abs(want))) None
    else Some(s"$what: got ($gotN, $gotSum), model ($n, $want)")
  }

  private def read(ctx: Ctx, kind: String)(q: DataFrame => DataFrame)(
      verify: Array[Row] => Option[String]): Unit = {
    val tr = ctx.tracer
    if (tr.enabled) {
      tr.span("probe") {
        pendingDeletes = store.pendingDeletes(Orders.Table)
        liveFiles = store.currentRelPaths(Orders.Table).size
      }
    }
    ctx.op(s"op.read.$kind", ctx.reads(kind)) {
      val df = q(store.read(Orders.Table))
      val rows = df.collect()
      tr.plan(df.queryExecution)
      tr.attr("rows", rows.length)
      tr.attr("pending_deletes", pendingDeletes)
      tr.attr("live_files", liveFiles)
      rows
    }(verify)
  }
  def finish(ctx: Ctx): Unit = {
    feed.processAllAvailable()
    sink.stop()
    feed.stop()
    Orders.tableCheck(ctx, store.read(Orders.Table), model)
    val mismatches = feedFold.compare(model)
    ctx.check(mismatches.isEmpty && feedFold.errors.isEmpty,
      s"change feed folded state differs from the final table: " +
        s"${(feedFold.errors ++ mismatches).take(3).mkString("; ")}")
  }

  /** Feed lag per data version: consumer emission time minus ack time. */
  def feedLags: Seq[Double] =
    feedFold.emittedAt.toSeq.flatMap { case (v, t) =>
      Option(ackAt.get(v)).map(a => math.max(0L, t - a).toDouble)
    }

  def itemsPerS(ctx: Ctx, wallS: Double): Double = Stats.ratio(acked, wallS)
  def diskBytesPerRow: Double = disk

  def layerMetrics(ctx: Ctx, r: Reduce): Map[String, Double] = {
    def mean(ps: Seq[Progress], ks: String*) =
      Stats.mean(ps.map(p => ks.map(k => p.durations.getOrElse(k, 0L)).sum.toDouble))
    val s = r.progress("sink")
    val f = r.progress("feed")
    r.cdcBatches ++ Map(
      "streaming.sink.add_batch_ms" -> mean(s, "addBatch"),
      "streaming.sink.checkpoint_ms" -> mean(s, "walCommit", "commitOffsets"),
      "streaming.source.offset_ms" -> mean(f, "latestOffset"),
      "streaming.source.add_batch_ms" -> mean(f, "addBatch"),
      "streaming.source.checkpoint_ms" -> mean(f, "walCommit", "commitOffsets"),
      "streaming.source.rows_per_trigger" -> Stats.mean(f.map(_.numInputRows.toDouble)),
      "feed.lag_ms_p50" -> Stats.median(feedLags),
      "feed.lag_ms_p90" -> Stats.percentile(feedLags, 90))
  }
}

/** Folds change-feed rows (insert / delete per commit version, in version
  * order, deletes first) into key → row overrides on top of the table
  * state at the feed's start version. */
final class FeedFold(start: Array[Int], seed: Long) {
  private val overrides = mutable.HashMap.empty[Long, Option[String]]
  val errors = mutable.ArrayBuffer.empty[String]
  val emittedAt = mutable.HashMap.empty[Int, Long]

  private def current(k: Long): Option[String] = overrides.getOrElse(k,
    if (k < start.length && start(k.toInt) >= 0)
      Some(Gen.order(seed, k, start(k.toInt)).canonical)
    else None)

  def fold(rows: Array[Row]): Unit = synchronized {
    if (rows.nonEmpty) {
      val ct = rows.head.fieldIndex(TableStore.ChangeTypeCol)
      val cv = rows.head.fieldIndex(TableStore.CommitVersionCol)
      rows.sortBy(r => (r.getInt(cv), if (r.getString(ct) == "delete") 0 else 1))
        .foreach { r =>
          val k = r.getLong(0)
          val row = Orders.canonical(r)
          if (r.getString(ct) == "delete") {
            if (current(k) != Some(row) && errors.size < 3)
              errors += s"feed deletes $row but state holds ${current(k)}"
            overrides(k) = None
          } else overrides(k) = Some(row)
        }
      val now = System.currentTimeMillis()
      rows.map(_.getInt(cv)).distinct.foreach(v => emittedAt.getOrElseUpdate(v, now))
    }
  }

  /** Keys whose folded row differs from the model's final row. */
  def compare(model: OrdersModel): Seq[String] = synchronized {
    val keys = (1L to math.max(model.maxKey, start.length - 1L)).iterator
    keys.flatMap { k =>
      val got = current(k)
      val want = model.row(k).map(_.canonical)
      if (got == want) None else Some(s"key $k: feed $got, table $want")
    }.take(3).toSeq
  }
}

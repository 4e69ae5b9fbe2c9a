package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.tables.TableStore

/** Run state shared by a workload and the harness: the session, the
  * tracer, latency samples and the attempted / failed op counts. */
final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  val ackMs = ArrayBuffer.empty[Double]
  val readMs = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Whether the timed phase is running; warm-up ops in set-up record no
    * samples (but do count as attempted, and as failed when they fail). */
  var timed = false

  private def failure(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  /** One correctness check outside a timed op (end-of-run checks). */
  def check(ok: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!ok) failure(msg)
  }

  /** Runs one op in a span, timing it into `samples` when timed. A thrown
    * exception or a `verify` message counts the op as failed; it is never
    * retried. Returns the elapsed milliseconds, or None on failure. */
  def op[A](span: String, samples: ArrayBuffer[Double])(body: => A)(
      verify: A => Option[String]): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(span)(body))
      catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Left(e) =>
        failure(s"$span threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      case Right(a) =>
        verify(a) match {
          case Some(err) => failure(s"$span: $err"); None
          case None => if (timed) samples += ms; Some(ms)
        }
    }
  }

  def reads(kind: String): ArrayBuffer[Double] =
    readMs.getOrElseUpdate(kind, ArrayBuffer.empty[Double])

  def allReads: Seq[Double] = readMs.values.flatten.toSeq
}

/** A benchmark workload: set-up (inputs and seeded tables, then an untimed
  * warm-up), one timed cycle, and end-of-run checks. */
trait Workload {
  /** Generates the inputs and seeds the tables under `dir`. */
  def prepare(ctx: Ctx, dir: Path): Unit
  /** Starts background work and runs untimed warm-up cycles. */
  def warmUp(ctx: Ctx): Unit
  def cycle(ctx: Ctx): Unit
  /** Timed cycles for a run of about `seconds` on the reference host. */
  def timedCycles(seconds: Int): Int
  /** Stops background work and runs the end-of-run correctness checks. */
  def finish(ctx: Ctx): Unit
  /** Work completed per second of the timed phase (`wallS` seconds). */
  def itemsPerS(ctx: Ctx, wallS: Double): Double
  def diskBytesPerRow: Double
  /** Workload-specific per-layer metrics (traced runs only). */
  def layerMetrics(ctx: Ctx, r: Reduce): Map[String, Double]
}

object Harness {
  /** Whole cycles of `cycleS` nominal seconds that fill `seconds`, and at
    * least `min`. */
  def cyclesFor(seconds: Int, cycleS: Double, min: Int = 1): Int =
    math.max(min, math.round(seconds / cycleS).toInt)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** Regular files under `dir`, recursively (absolute paths). */
  def files(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
      finally s.close()
    }

  /** Records on the innermost span what a commit op left behind: table
    * versions committed, data files removed from the live set, and files
    * new under the table directory (all, and metadata only). */
  def commitAttrs(tr: Tracer, store: TableStore, table: String, dir: Path,
      v0: Int, live0: Set[String], files0: Set[String]): Unit = {
    val commits = store.currentVersion(table) - v0
    val added = files(dir).diff(files0)
    tr.attr("commits", commits)
    tr.attr("maint_commits", math.max(0, commits - 1))
    tr.attr("files_removed", live0.diff(store.currentRelPaths(table).toSet).size)
    tr.attr("files_new", added.size)
    tr.attr("meta_files", added.count(!_.endsWith(".parquet")))
  }

  /** Live heap after a full collection, in MiB: what each heap pool held
    * right after that collection, so allocation by threads still running
    * does not count. */
  def liveHeapMb(): Double = {
    // the second collection frees what Spark's ContextCleaner released
    // after the first one collected its weakly held RDDs and broadcasts
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }
}

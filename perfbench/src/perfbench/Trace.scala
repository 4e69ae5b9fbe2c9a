package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Hadoop `FileSystem` byte counters for one scheme, summed over every
  * filesystem instance of that scheme in the JVM (the local filesystem
  * counts bytes, not operations). */
final case class FsSnap(bytesRead: Long, bytesWritten: Long) {
  def -(o: FsSnap): FsSnap = FsSnap(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
}

object FsSnap {
  def now(scheme: String = "file"): FsSnap = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == scheme)
    FsSnap(all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}

/** One timed call the benchmark makes into the program. Times are epoch
  * milliseconds (the clock Spark's listener events use); `durMs` comes
  * from the monotonic clock. */
final case class Span(id: Int, name: String, parent: Int, thread: String,
    startMs: Long, endMs: Long, durMs: Double, fs: FsSnap,
    attrs: Map[String, Double])

final case class JobRec(jobId: Int, spanId: Int, threadTag: String,
    startMs: Long, stageIds: Seq[Int], module: String, callSite: String) {
  @volatile var endMs: Long = -1
}

/** Task totals of one stage. */
final class StageRec(val stageId: Int) {
  var submitMs: Long = -1
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gcMs = 0L
  var inRecords = 0L
  var inBytes = 0L
  var outBytes = 0L
  var schedDelayMs = 0L
}

final case class PlanPhases(analysisMs: Double, optimizerMs: Double,
    physicalMs: Double)

final case class Progress(query: String, batchId: Long, numInputRows: Long,
    durations: Map[String, Long])

/** Span recorder plus the public-listener adapters of a traced run. With
  * `enabled = false` a span only runs its body: no listener is registered
  * and no local property is set, so untraced runs measure the program
  * alone. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[(Int, mutable.Map[String, Double])]] {
    override def initialValue() = Nil
  }
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  /** Plan phases keyed by the QueryExecution object the action ran on. */
  val plans = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, PlanPhases]())
  val progress = new ConcurrentLinkedQueue[Progress]()
  /** QueryExecution of the action each read span ran, by span id. */
  val spanPlans = new java.util.concurrent.ConcurrentHashMap[Int, QueryExecution]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val info = e.stageInfos.sortBy(_.stageId).lastOption
      val site = info.map(_.name).getOrElse("")
      val details = info.map(_.details).getOrElse("")
      val tag = prop(ThreadProp).getOrElse("")
      // a streaming query's jobs all carry the call site of its start(),
      // so they are attributed to the query, not to a program module
      jobs.put(e.jobId, JobRec(e.jobId,
        prop(SpanProp).flatMap(_.toIntOption).getOrElse(-1), tag, e.time,
        e.stageIds, if (tag.nonEmpty) s"streaming.$tag" else moduleOf(site, details),
        site))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stage(e.stageInfo.stageId).submitMs =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (s.submitMs > 0)
          s.schedDelayMs += math.max(0L, e.taskInfo.launchTime - s.submitMs)
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.gcMs += m.jvmGCTime
          s.inRecords += m.inputMetrics.recordsRead
          s.inBytes += m.inputMetrics.bytesRead
          s.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      plans.put(qe, PlanPhases(ms("analysis"), ms("optimization"), ms("planning")))
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(Option(p.name).getOrElse(""), p.batchId,
        p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      ()
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def stage(id: Int): StageRec =
    stages.computeIfAbsent(id, (i: Int) => new StageRec(i))

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Times `body` as a span named `name`, child of the innermost open span
    * on this thread. Spark jobs the body submits carry the span id as a
    * thread-local property, so listener events join it. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val attrs = mutable.Map.empty[String, Double]
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.set((id, attrs) :: outer)
      sc.setLocalProperty(SpanProp, id.toString)
      val fs0 = FsSnap.now()
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        val n1 = System.nanoTime()
        val t1 = System.currentTimeMillis()
        spans.add(Span(id, name, outer.headOption.map(_._1).getOrElse(0),
          Thread.currentThread.getName, t0, t1, (n1 - n0) / 1e6,
          FsSnap.now() - fs0, attrs.toMap))
        stack.set(outer)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Sets an attribute on the innermost open span (no-op when untraced). */
  def attr(k: String, v: Double): Unit =
    stack.get().headOption.foreach(_._2(k) = v)

  /** Remembers which QueryExecution the innermost span's action ran on. */
  def plan(qe: QueryExecution): Unit =
    if (enabled) stack.get().headOption.foreach(s => spanPlans.put(s._1, qe))

  /** Tags every job started from threads created while `body` runs (a
    * streaming query's execution thread inherits the starter's local
    * properties) with `tag` instead of a span id. */
  def threadTagged[A](tag: String)(body: => A): A = if (!enabled) body else {
    val sc = spark.sparkContext
    val (ps, pt) = (sc.getLocalProperty(SpanProp), sc.getLocalProperty(ThreadProp))
    sc.setLocalProperty(SpanProp, null)
    sc.setLocalProperty(ThreadProp, tag)
    try body
    finally { sc.setLocalProperty(SpanProp, ps); sc.setLocalProperty(ThreadProp, pt) }
  }

  /** Waits until the asynchronous listener bus has delivered the end of
    * every job it reported starting (bounded). */
  def drain(timeoutMs: Long = 15000): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + timeoutMs
    var quietSince = System.currentTimeMillis()
    var lastCount = -1
    while (System.currentTimeMillis() < deadline &&
        (jobs.values.asScala.exists(_.endMs < 0) ||
          System.currentTimeMillis() - quietSince < 500)) {
      val n = jobs.size + stages.size
      if (n != lastCount) { lastCount = n; quietSince = System.currentTimeMillis() }
      Thread.sleep(50)
    }
  }

  def stop(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Writes spans, jobs, stages and streaming progress as JSON lines. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      def q(s: String) = Json.str(s)
      spans.asScala.toSeq.sortBy(_.id).foreach { s =>
        w.write(s"""{"type":"span","id":${s.id},"name":${q(s.name)},""" +
          s""""parent":${s.parent},"thread":${q(s.thread)},"start_ms":${s.startMs},""" +
          s""""end_ms":${s.endMs},"dur_ms":${s.durMs},"fs_bytes_read":${s.fs.bytesRead},""" +
          s""""fs_bytes_written":${s.fs.bytesWritten},"attrs":${Json.obj(s.attrs)}}""")
        w.newLine()
      }
      jobs.values.asScala.toSeq.sortBy(_.jobId).foreach { j =>
        w.write(s"""{"type":"job","id":${j.jobId},"span":${j.spanId},""" +
          s""""thread_tag":${q(j.threadTag)},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
          s""""module":${q(j.module)},"call_site":${q(j.callSite)},""" +
          s""""stages":[${j.stageIds.mkString(",")}]}""")
        w.newLine()
      }
      stages.values.asScala.toSeq.sortBy(_.stageId).foreach { s =>
        w.write(s"""{"type":"stage","id":${s.stageId},"submit_ms":${s.submitMs},""" +
          s""""tasks":${s.tasks},"run_ms":${s.runMs},"cpu_ns":${s.cpuNs},""" +
          s""""shuffle_write":${s.shuffleWrite},"spill":${s.spill},"gc_ms":${s.gcMs},""" +
          s""""in_records":${s.inRecords},"in_bytes":${s.inBytes},""" +
          s""""out_bytes":${s.outBytes},"sched_delay_ms":${s.schedDelayMs}}""")
        w.newLine()
      }
      progress.asScala.foreach { p =>
        w.write(s"""{"type":"progress","query":${q(p.query)},"batch":${p.batchId},""" +
          s""""rows":${p.numInputRows},"durations":${Json.obj(p.durations.map {
            case (k, v) => k -> v.toDouble })}}""")
        w.newLine()
      }
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val ThreadProp = "perfbench.thread"

  /** The layer a Spark job belongs to, from its call site: the first
    * program frame Spark records (`collect at CdcApply.scala:245`), and the
    * long form's stack for maintenance entered from an ingest call. */
  def moduleOf(site: String, details: String): String = {
    val file = site.split(" at ").lastOption.getOrElse("").split(":").head
    if (details.contains("maintainDeletes") || details.contains("compactSmallFiles") ||
        details.contains("rewriteDeletes") || details.contains("DestinationStream.maintain"))
      "tables.maint"
    else file match {
      case "CdcApply.scala" | "Cdc.scala" => "cdc"
      case "Destination.scala" | "GraftSession.scala" => "api"
      case "GraftTableSource.scala" | "StreamOps.scala" => "streaming"
      case f if f.endsWith(".scala") && details.contains("graft.ops.") => "ops"
      case f if f.endsWith(".scala") && details.contains("graft.tables.") => "tables"
      case f if f.endsWith(".scala") && details.contains("perfbench.") => "bench"
      case _ => "other"
    }
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** A finite double in full precision; non-finite values render as 0 (a
    * result line must stay valid JSON). */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }
      .mkString("{", ",", "}")
}

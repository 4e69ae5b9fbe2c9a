package perfbench

import scala.jdk.CollectionConverters._

/** Reduces a traced run's spans and listener records into per-layer
  * metrics. Spans named `op.*` are the timed ops; a job belongs to the span
  * whose id it carried, or — for jobs of a streaming query's own thread —
  * to the `op.batch` span its start falls in. */
final class Reduce(t: Tracer, val windowStart: Long, val windowEnd: Long,
    slots: Int) {
  import Stats._

  val spans: Seq[Span] = t.spans.asScala.toSeq.sortBy(_.id)
  private val children = spans.groupBy(_.parent)
  val ops: Seq[Span] = spans.filter(s => s.name.startsWith("op.") &&
    s.startMs >= windowStart && s.endMs <= windowEnd)
  private val batchSpans = ops.filter(_.name == "op.batch")
  val jobs: Seq[JobRec] = t.jobs.values.asScala.toSeq.filter(_.endMs >= 0)
    .sortBy(_.jobId)
  private val stages = t.stages.asScala

  /** The span a job belongs to; -1 for none. */
  def spanOf(j: JobRec): Int =
    if (j.spanId > 0) j.spanId
    else if (j.threadTag == "sink")
      batchSpans.find(b => j.startMs >= b.startMs && j.startMs <= b.endMs)
        .map(_.id).getOrElse(-1)
    else -1

  private val jobsBySpan: Map[Int, Seq[JobRec]] = jobs.groupBy(spanOf)

  def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def jobsUnder(s: Span): Seq[JobRec] =
    subtree(s).flatMap(x => jobsBySpan.getOrElse(x.id, Nil))

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(id => stages.get(id))

  def jobMs(js: Seq[JobRec]): Double =
    coveredLength(js.map(j => (j.startMs, j.endMs)), Long.MinValue, Long.MaxValue)
      .toDouble

  def named(prefix: String): Seq[Span] = ops.filter(_.name.startsWith(prefix))

  def attr(ss: Seq[Span], k: String): Seq[Double] = ss.flatMap(_.attrs.get(k))

  /** Per-layer metrics every workload reports: Spark execution per op,
    * planning and scans per read, filesystem traffic per commit. The local
    * filesystem counts bytes but not operations, so files written per
    * commit come from a directory diff. */
  def generic: Map[String, Double] = {
    val opJobs = ops.map(jobsUnder)
    val opStages = opJobs.map(stagesOf)
    val n = ops.size.toDouble
    val window = stages.values.filter(s =>
      s.submitMs >= windowStart && s.submitMs <= windowEnd).toSeq
    val runMs = window.map(_.runMs).sum.toDouble
    val reads = named("op.read")
    val readJobs = reads.map(jobsUnder)
    val readStages = readJobs.map(stagesOf)
    val phases = reads.flatMap(r => Option(t.spanPlans.get(r.id)))
      .flatMap(qe => Option(t.plans.get(qe)))
    val commitOps = ops.filter(s => s.attrs.contains("commits"))
    val commits = attr(commitOps, "commits").sum
    def perOp(f: StageRec => Long) = ratio(opStages.flatten.map(f).sum, n)
    def kindP50(k: String) = median(named(s"op.read.$k").map(_.durMs))
    Map(
      "spark.jobs_per_op" -> ratio(opJobs.map(_.size).sum, n),
      "spark.stages_per_op" -> ratio(opStages.map(_.size).sum, n),
      "spark.tasks_per_op" -> perOp(_.tasks),
      "spark.slot_busy_ratio" -> ratio(runMs, (windowEnd - windowStart).toDouble * slots),
      "spark.cpu_per_run" -> ratio(window.map(_.cpuNs).sum / 1e6, runMs),
      "spark.sched_delay_ms" -> ratio(window.map(_.schedDelayMs).sum,
        window.map(_.tasks).sum),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite),
      "spark.spill_bytes" -> perOp(_.spill),
      "spark.gc_ms" -> perOp(_.gcMs),
      "plan.analysis_ms" -> mean(phases.map(_.analysisMs)),
      "plan.optimizer_ms" -> mean(phases.map(_.optimizerMs)),
      "plan.physical_ms" -> mean(phases.map(_.physicalMs)),
      "tables.scan.rows_read_per_row_returned" -> ratio(
        readStages.flatten.map(_.inRecords).sum, attr(reads, "rows").sum),
      "tables.scan.bytes_read_per_read" -> ratio(
        readStages.flatten.map(_.inBytes).sum, reads.size),
      "tables.scan.jobs_per_read" -> ratio(readJobs.map(_.size).sum, reads.size),
      "tables.pending_deletes" -> mean(attr(reads, "pending_deletes")),
      "tables.live_files" -> mean(attr(reads, "live_files")),
      "read.point_ms_p50" -> kindP50("point"),
      "read.range_ms_p50" -> kindP50("range"),
      "read.agg_ms_p50" -> kindP50("agg"),
      "read.count_ms_p50" -> kindP50("count"),
      "fs.files_written_per_commit" -> ratio(attr(commitOps, "files_new").sum, commits),
      "fs.bytes_written_per_commit" -> ratio(commitOps.map(_.fs.bytesWritten).sum, commits),
      "fs.bytes_read_per_commit" -> ratio(commitOps.map(_.fs.bytesRead).sum, commits),
      "fs.bytes_read_per_read" -> ratio(reads.map(_.fs.bytesRead).sum, reads.size))
  }

  /** Per-batch split of CDC write ops into decode/validate jobs, commit
    * jobs, maintenance and driver-only time. */
  def cdcBatches: Map[String, Double] = {
    val bs = batchSpans
    val n = bs.size.toDouble
    val maintSpans = spans.filter(_.name == "tables.maint").map(_.id).toSet
    // jobs Spark starts from its own futures (broadcasts, subqueries) carry
    // no program call site; under a maintenance span they are maintenance
    def moduleOf(j: JobRec) =
      if (maintSpans(spanOf(j))) "tables.maint" else j.module
    def mod(s: Span, m: String) = jobsUnder(s).filter(moduleOf(_) == m)
    val commitMods = Set("tables", "api", "other")
    val preJob = bs.map { b =>
      val js = jobsUnder(b)
      if (js.isEmpty) 0.0 else (js.map(_.startMs).min - b.startMs).max(0L).toDouble
    }
    val driverMs = bs.zip(preJob).map { case (b, pre) =>
      val self = selfTime(b.startMs, b.endMs, jobsUnder(b).map(j => (j.startMs, j.endMs)))
      math.max(0.0, self - pre)
    }
    val maintBatches = bs.filter(_.attrs.getOrElse("maint_commits", 0.0) > 0)
    val plainBatches = bs.filterNot(maintBatches.contains)
    val maintJobs = bs.flatMap(mod(_, "tables.maint"))
    Map(
      "cdc.pre_job_ms" -> mean(preJob),
      "cdc.jobs_per_batch" -> ratio(bs.map(mod(_, "cdc").size).sum, n),
      "cdc.job_ms_per_batch" -> ratio(bs.map(b => jobMs(mod(b, "cdc"))).sum, n),
      "tables.commit.jobs_per_batch" -> ratio(bs.map(b =>
        jobsUnder(b).count(j => commitMods(moduleOf(j)))).sum, n),
      "tables.commit.job_ms_per_batch" -> ratio(bs.map(b =>
        jobMs(jobsUnder(b).filter(j => commitMods(moduleOf(j))))).sum, n),
      "streaming.sink.jobs_per_batch" -> ratio(bs.map(mod(_, "streaming.sink").size).sum, n),
      "tables.commit.driver_ms_per_batch" -> mean(driverMs),
      "tables.commit.meta_files_per_commit" -> ratio(attr(bs, "meta_files").sum,
        attr(bs, "commits").sum),
      "tables.commit.files_rewritten_per_batch" -> mean(attr(bs, "files_removed")),
      "tables.commit.write_amp" -> ratio(bs.map(_.fs.bytesWritten).sum,
        attr(bs, "payload_bytes").sum),
      "tables.maint.commits" -> attr(bs, "maint_commits").sum,
      "tables.maint.bytes_rewritten" -> stagesOf(maintJobs).map(_.outBytes).sum.toDouble,
      "tables.maint.stall_ms" ->
        (if (maintBatches.isEmpty || plainBatches.isEmpty) 0.0
         else mean(maintBatches.map(_.durMs)) - mean(plainBatches.map(_.durMs))))
  }

  /** Mean streaming-progress durations of the query named `query`, over
    * triggers that ran a batch with input rows. */
  def progress(query: String): Seq[Progress] =
    t.progress.asScala.toSeq.filter(p => p.query == query && p.numInputRows > 0)
}

package perfbench

import java.nio.file.{Files, Path, Paths}
import graft.api.GraftSession

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints a human-readable summary, then one JSON result line last. */
object Main {

  /** End-to-end metrics (untraced runs) with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "ack_ms_p50" -> "ms",
    "read_ms_p50" -> "ms", "disk_bytes_per_row" -> "bytes",
    "heap_live_mb" -> "MB")

  /** Per-layer metrics (traced runs) with their units. A layer a workload
    * does not exercise reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "cdc.pre_job_ms" -> "ms", "cdc.jobs_per_batch" -> "count",
    "cdc.job_ms_per_batch" -> "ms",
    "tables.commit.jobs_per_batch" -> "count",
    "tables.commit.job_ms_per_batch" -> "ms",
    "tables.commit.driver_ms_per_batch" -> "ms",
    "tables.commit.meta_files_per_commit" -> "count",
    "tables.commit.files_rewritten_per_batch" -> "count",
    "tables.commit.write_amp" -> "ratio",
    "tables.maint.commits" -> "count", "tables.maint.bytes_rewritten" -> "bytes",
    "tables.maint.stall_ms" -> "ms",
    "tables.pending_deletes" -> "count", "tables.live_files" -> "count",
    "plan.analysis_ms" -> "ms", "plan.optimizer_ms" -> "ms",
    "plan.physical_ms" -> "ms",
    "tables.scan.rows_read_per_row_returned" -> "ratio",
    "tables.scan.bytes_read_per_read" -> "bytes",
    "tables.scan.jobs_per_read" -> "count",
    "read.point_ms_p50" -> "ms", "read.range_ms_p50" -> "ms",
    "read.agg_ms_p50" -> "ms", "read.count_ms_p50" -> "ms",
    "streaming.sink.jobs_per_batch" -> "count",
    "streaming.sink.add_batch_ms" -> "ms", "streaming.sink.checkpoint_ms" -> "ms",
    "streaming.source.offset_ms" -> "ms", "streaming.source.add_batch_ms" -> "ms",
    "streaming.source.checkpoint_ms" -> "ms",
    "streaming.source.rows_per_trigger" -> "count",
    "feed.lag_ms_p50" -> "ms", "feed.lag_ms_p90" -> "ms",
    "ops.clean.s" -> "s", "ops.boilerplate.s" -> "s", "ops.quality.s" -> "s",
    "ops.near_dup.s" -> "s", "ops.tfidf.s" -> "s", "ops.sem_dedup.s" -> "s",
    "ops.near_dup.verified_per_candidate" -> "ratio",
    "ops.shuffle_bytes_per_doc" -> "bytes",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.slot_busy_ratio" -> "ratio",
    "spark.cpu_per_run" -> "ratio", "spark.sched_delay_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms",
    "fs.files_written_per_commit" -> "count", "fs.bytes_written_per_commit" -> "bytes",
    "fs.bytes_read_per_commit" -> "bytes", "fs.bytes_read_per_read" -> "bytes",
    "ack_ms_p90" -> "ms", "read_ms_p90" -> "ms",
    "traced.items_per_s" -> "1/s", "traced.ack_ms_p50" -> "ms",
    "traced.read_ms_p50" -> "ms", "host.probe_ms" -> "ms")

  val Workloads: Map[String, () => Workload] = Map(
    "cdc_ingest" -> (() => new Ingest), "cdc_serve" -> (() => new Serve),
    "corpus_pipeline" -> (() => new Corpus))

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, work: String = "", cpus: Int = 4)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--cpus" :: v :: t => parse(t, o.copy(cpus = v.toInt))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  def main(args: Array[String]): Unit = {
    if (args.toSeq == Seq("--list-metrics")) {
      (EndToEnd ++ PerLayer).foreach { case (k, u) => println(s"$k\t$u") }
      return
    }
    val o = parse(args.toList)
    val mk = Workloads.getOrElse(o.workload, throw new IllegalArgumentException(
      s"unknown workload '${o.workload}' (one of ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    require(o.seconds > 0 && o.work.nonEmpty, "--seconds > 0 and --work are required")
    val work = Paths.get(o.work).toAbsolutePath
    Harness.deleteTree(work)
    Files.createDirectories(work)

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.builder("perfbench", master = s"local[${o.cpus}]")
      .config("spark.driver.memory", sys.props.getOrElse("perfbench.driverMemory", "3g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(spark, o.trace)
    val ctx = new Ctx(spark, o.seed, tracer)
    val wl = mk()

    // set-up = process start → first timed op: session start, the prepare
    // step (inputs and seeded tables) and the untimed warm-up
    val t0 = System.nanoTime()
    tracer.span("setup")(wl.prepare(ctx, work))
    val prepareS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    tracer.span("setup")(wl.warmUp(ctx))
    val warmS = (System.nanoTime() - t1) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    // the loaded, warmed-up working set: measured at a fixed amount of work
    // done, so it does not drift with the length of the timed phase
    val heapMb = Harness.liveHeapMb()
    val probeBefore = HostSpeed.probe()

    // a fixed number of cycles, so every run of a workload does the same
    // work; a loop until the deadline split the runs by how many cycles fit
    val cycles = wl.timedCycles(o.seconds)
    ctx.timed = true
    val w0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    (1 to cycles).foreach(_ => wl.cycle(ctx))
    val wallS = (System.nanoTime() - n0) / 1e9
    val w1 = System.currentTimeMillis()
    ctx.timed = false
    val probeMs = probeBefore ++ HostSpeed.probe()
    wl.finish(ctx)

    // times as measured, then scaled to the reference host speed: the
    // probe taken around the timed phase cancels the host's drift
    val raw = Map(
      "setup_s" -> setupS,
      "items_per_s" -> wl.itemsPerS(ctx, wallS),
      "ack_ms_p50" -> Stats.median(ctx.ackMs.toSeq),
      "read_ms_p50" -> Stats.median(ctx.allReads))
    val speed = HostSpeed.factor(probeMs)
    val e2e = raw.map {
      case (k @ "items_per_s", v) => k -> v / speed
      case (k, v) => k -> v * speed
    } ++ Map(
      "disk_bytes_per_row" -> wl.diskBytesPerRow,
      "heap_live_mb" -> heapMb)
    val layers: Map[String, Double] =
      if (!o.trace) Map.empty
      else {
        tracer.drain()
        tracer.stop()
        tracer.write(Paths.get(s"$work.trace.jsonl"))
        val r = new Reduce(tracer, w0, w1, o.cpus)
        // the traced run's own end-to-end values: compared with untraced
        // runs they give the tracing overhead
        r.generic ++ wl.layerMetrics(ctx, r) ++ Map(
          "ack_ms_p90" -> Stats.percentile(ctx.ackMs.toSeq, 90),
          "read_ms_p90" -> Stats.percentile(ctx.allReads, 90),
          "traced.items_per_s" -> e2e("items_per_s"),
          "traced.ack_ms_p50" -> e2e("ack_ms_p50"),
          "traced.read_ms_p50" -> e2e("read_ms_p50"),
          "host.probe_ms" -> Stats.median(probeMs))
      }

    // every end-to-end metric must have been measured
    e2e.foreach { case (k, v) =>
      if (v.isNaN || v <= 0) ctx.check(ok = false, s"metric $k not measured ($v)") }
    val correct = ctx.failed == 0 && ctx.attempted > 0

    println(s"[perfbench] workload=${o.workload} seed=${o.seed} seconds=${o.seconds} " +
      s"trace=${if (o.trace) 1 else 0} cpus=${o.cpus} cycles=$cycles timed_wall_s=$wallS")
    println(s"[perfbench] set-up: session start $sessionS s, prepare $prepareS s, " +
      s"warm-up $warmS s")
    println(s"[perfbench] host probe ms: ${probeMs.map(x => f"$x%.1f").mkString(" ")} " +
      s"(speed ${speed} of the reference); as measured: " +
      raw.map { case (k, v) => s"$k=$v" }.mkString(" "))
    println(s"[perfbench] samples: ack=${ctx.ackMs.size} " +
      ctx.readMs.map { case (k, v) => s"read.$k=${v.size}" }.mkString(" "))
    println(s"[perfbench] ack ms: ${ctx.ackMs.map(x => f"$x%.0f").mkString(" ")}")
    println(s"[perfbench] ack_ms_p90=${Stats.percentile(ctx.ackMs.toSeq, 90)} " +
      s"read_ms_p90=${Stats.percentile(ctx.allReads, 90)} (tail percentiles " +
      "need >= 100 samples to carry 10 beyond them)")
    println(s"[perfbench] attempted=${ctx.attempted} failed=${ctx.failed} " +
      s"fail_ratio=${Stats.ratio(ctx.failed, ctx.attempted)}")
    ctx.failures.foreach(f => println(s"[perfbench] failure: $f"))
    val shown = if (o.trace) PerLayer else EndToEnd
    // an empty sample (a layer this workload never reaches) reads 0
    val all = (e2e ++ layers).map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }
    shown.foreach { case (k, u) => println(f"[perfbench] $k%-42s ${all.getOrElse(k, 0.0)}%.6f $u") }
    val metrics = shown.map { case (k, u) =>
      s"${Json.str(k)}:{\"value\":${Json.num(all.getOrElse(k, 0.0))},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":$metrics}""")
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }
}

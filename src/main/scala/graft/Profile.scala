package graft
import org.apache.spark.sql.SparkSession

/** Dev-only (see [[Profile]]): dumps each micro-batch's durationMs
  * breakdown (triggerExecution / queryPlanning / getBatch / addBatch /
  * walCommit / commitOffsets / latestOffset). */
final class BatchDumpListener
  extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val d = p.durationMs.asScala.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"$k=$v" }.mkString(" ")
    println(s"[profile] batch ${p.batchId} rows=${p.numInputRows} $d")
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** Dev-only: time one registered query and dump its formatted plan.
  * Usage: runMain graft.Profile <queryName> <sfDir> [explain]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val builder = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.fs.FastLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.fs.FastLocalFs].getName)
    if (args.contains("streamprog"))
      builder.config("spark.sql.streaming.streamingQueryListeners",
        classOf[BatchDumpListener].getName)
    // dev knob: SPARK_GRAFT_CONF="k=v,k=v" to try conf variations
    // (no commas inside values; a token without '=' fails loudly)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(',').filter(_.nonEmpty)
      .foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => builder.config(k, v)
          case _ => sys.error(s"SPARK_GRAFT_CONF token without '=': $kv")
        }
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(2000000L).selectExpr("sum(id)").collect()
    val q = SparkEntry.registry.find(_.name == name).get
    if (args.contains("explain")) q.fn(spark, sfDir).explain("formatted")
    if (args.contains("plan")) (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val df = q.fn(spark, sfDir)
      df.queryExecution.executedPlan // force analysis + optimization + planning
      println(f"[profile] $name plan$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // per-micro-batch duration breakdown (streaming gates) — registered
    // through the conf so gate-created child sessions (spark.newSession)
    // inherit it; a listener added to THIS session's manager would miss
    // their streams entirely
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    if (args.contains("stages")) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val ms = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
          stages.add(f"stage ${si.stageId}%3d ${si.numTasks}%3d tasks ${ms}%5d ms  ${si.name.takeWhile(_ != '\n').take(60)}")
        }
      })
    (1 to 3).foreach { i =>
      stages.clear()
      val t0 = System.nanoTime()
      q.fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      println(f"[profile] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      if (args.contains("stages") && i == 3) {
        Thread.sleep(300)
        stages.forEach(s => println(s"[profile]   $s"))
      }
    }
    spark.stop()
  }
}

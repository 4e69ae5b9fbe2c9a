package graft.tables

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerBusDrain
import graft.SparkSpec

/** Cost counters of merge-on-read reads and of the change feed, taken by
  * a SparkListener: a masked read starts no job for its mask (not one
  * per pending sidecar, not one at all), and a MoR commit's feed must
  * read each shared file once, not once under each snapshot's masks. */
class MoRCostSpec extends SparkSpec {
  import spark.implicits._

  /** (jobs started, task input records) while `body` runs. */
  private def counted(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val jobs = new AtomicInteger
    val records = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          records.addAndGet(m.inputMetrics.recordsRead))
    }
    sc.addSparkListener(l)
    try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(l)
    (jobs.get, records.get)
  }

  test("a masked read starts as many jobs with 1 as with 4 pending " +
      "equality deletes") {
    val st = new TableStore(spark, tmpDir("morcost-"))
    val a = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    st.create("t", a.schema)
    st.append("t", a)
    val jobs = (1 to 4).map { i =>
      st.deleteMoR("t", Seq(i.toLong).toDF("k"), Seq("k"))
      assert(st.pendingDeletes("t") === i)
      counted(assert(st.read("t").collect().length === 100 - i))._1
    }
    assert(jobs.distinct.size === 1, s"jobs per read by pending deletes: $jobs")
  }

  test("a MoR commit's feed reads each shared file once, even when its " +
      "keys span every file") {
    val st = new TableStore(spark, tmpDir("morcost-"))
    val n = 20000L
    val base = spark.range(0L, n, 1L, 20)
      .select(col("id").as("k"), (col("id") % 7L).as("v"))
    st.create("t", base.schema, zoneCols = Seq("k"))
    st.append("t", base)
    assert(st.currentRelPaths("t").size === 20)
    st.setProperties("t", Map("write.merge.mode" -> Some("merge-on-read")))
    // a CDC batch: updates spread over the whole key range (their
    // envelope covers every file, so no file is pruned), plus one insert
    val keys = (0L until 50L).map(i => 7L + 400L * i)
    val upserts = (keys :+ n).map(k => (k, -1L))
    st.applyNet("t", keys.toDF("k"), upserts.toDF("k", "v"), Seq("k"))
    val v = st.currentVersion("t")
    val (_, records) = counted {
      val got = st.changesOfVersion("t", v)
        .select("k", TableStore.ChangeTypeCol).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      assert(got === (keys.map(k => (k, "delete")) ++
        upserts.map(u => (u._1, "insert"))).sorted)
    }
    // every shared row once, the appended rows, and the sidecar twice
    // (the key probe and the new side's mask); the shared rows twice
    // would be 2n
    val bound = n + upserts.size + 2 * keys.size
    assert(records <= bound, s"feed read $records input records (bound $bound)")
  }

  /** Messages logged at INFO by [[TableStore]] while `body` runs. */
  private def infoLines(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val app = new AbstractAppender("mor-cost", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        lines.add(e.getMessage.getFormattedMessage); ()
      }
    }
    app.start()
    val logger = LogManager.getLogger(classOf[TableStore].getName)
      .asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(app)
    logger.setLevel(Level.INFO)
    try body
    finally { logger.removeAppender(app); logger.setLevel(level); app.stop() }
    lines.asScala.toSeq
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** An unpartitioned 100-row table in one file. */
  private def small(): TableStore = {
    val st = new TableStore(spark, tmpDir("morcost-"))
    val a = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    st.create("t", a.schema)
    st.append("t", a.coalesce(1))
    st
  }

  test("a masked read starts as many jobs as the same read with no " +
      "pending deletes, and count(*) over it still scans") {
    val st = small()
    val plain = counted(assert(st.read("t").collect().length === 100))._1
    // unmasked, count(*) is answered from metadata: no relation left
    def relations(df: DataFrame) = df.queryExecution.optimizedPlan
      .collect { case l: LogicalRelation => l }.size
    assert(relations(st.read("t").agg(count(lit(1)))) === 0)
    st.deleteMoR("t", Seq(3L, 4L).toDF("k"), Seq("k"))
    st.deletePos("t", col("k") === 10L)
    assert(st.pendingDeletes("t") === 2)
    val masked = counted(assert(st.read("t").collect().length === 97))._1
    assert(masked === plain, s"jobs: $masked masked, $plain unmasked")
    val cnt = st.read("t").agg(count(lit(1)))
    assert(relations(cnt) === 1, cnt.queryExecution.optimizedPlan)
    assert(cnt.head().getLong(0) === 97L)
  }

  test("the mask cache holds one entry per sidecar after reads of " +
      "consecutive snapshots") {
    val st = small()
    SpjMaskCache.reset()
    st.deleteMoR("t", Seq(3L).toDF("k"), Seq("k"))
    assert(st.read("t").collect().length === 99)
    st.deleteMoR("t", Seq(5L).toDF("k"), Seq("k"))
    assert(st.read("t").collect().length === 98)
    assert(SpjMaskCache.size === 2)
  }

  test("an over-cap mask masks through anti-joins and logs why") {
    val st = small()
    st.deleteMoR("t", Seq(3L, 4L).toDF("k"), Seq("k"))
    st.deletePos("t", col("k") === 10L)
    val root = new HPath(st.tableDir("t"), "deletes")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var bytes = 0L
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) bytes += f.getLen
    }
    var joined: DataFrame = null
    val logged = infoLines {
      joined = st.morMasked("t", st.currentRelPaths("t"),
        st.currentVersion("t"), maskCap = 0L)
    }
    assert(rows(joined) === rows(st.read("t")))
    assert(joined.count() === 97L)
    assert(joined.queryExecution.executedPlan.toString.contains("Join"))
    assert(logged.exists(l => l.contains(s"t@${st.currentVersion("t")}") &&
      l.contains(s"$bytes bytes") && l.contains("0-byte cap")), logged)
    // the SPJ scan declines over the same cap, and says so
    val sp = new TableStore(spark, tmpDir("morcost-"))
    sp.create("b", st.schema("t"), partitionBy = Seq("bucket(2, k)"))
    sp.append("b", st.read("t"))
    sp.deleteMoR("b", Seq(5L).toDF("k"), Seq("k"))
    assert(sp.spjPlan("b").exists(_.mask.isDefined))
    val declined = infoLines(assert(sp.spjPlan("b", maskCap = 0L).isEmpty))
    assert(declined.exists(l => l.contains("table b") &&
      l.contains("0-byte cap")), declined)
  }
}

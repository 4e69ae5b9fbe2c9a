package graft.tables

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerBusDrain
import graft.SparkSpec

/** Cost counters of merge-on-read reads and of the change feed, taken by
  * a SparkListener: a masked read must not start a job per pending
  * equality-delete sidecar, and a MoR commit's feed must read each
  * shared file once, not once under each snapshot's masks. */
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
}

package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerBusDrain
import graft.cdc.CdcApply
import graft.cdc.CdcApply.CdcConfig
import graft.tables.TableStore

/** Spark jobs per CDC batch: a batch is ranked once and cached, and
  * validation, the op counts, the key bounds, the affected-file join and
  * the writes all read that cache; the written files' stats come from
  * the write job itself, so no job re-reads them. */
class CdcJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Call sites of the jobs started while `body` runs. */
  private def jobs(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val sites = mutable.ArrayBuffer.empty[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = sites.synchronized {
        sites += e.stageInfos.maxBy(_.stageId).name
        ()
      }
    }
    sc.addSparkListener(l)
    try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(l)
    sites.synchronized(sites.toList)
  }

  /** A 20k-row table in 8 files, zone-mapped on its key, and a 200-record
    * batch: 40% creates, 45% updates and 15% deletes of keys spread over
    * the table. */
  private def fixture(): (TableStore, DataFrame) = {
    val st = new TableStore(spark, tmpDir("cdcjobs-"))
    val base = spark.range(0L, 20000L, 1L, 8)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"),
        (col("id") % 7L).as("n"))
    st.create("t", base.schema, zoneCols = Seq("k"))
    st.append("t", base)
    val recs = (0 until 200).map { i =>
      val (op, k) =
        if (i < 80) ("create", 20000L + i)
        else if (i < 170) ("update", 97L * i)
        else ("delete", 89L * i)
      val payload =
        if (op == "delete") null
        else s"""{"k": $k, "v": "u$i", "n": $i}"""
      (i.toLong, op, s"""{"k": $k}""", payload)
    }
    (st, recs.toDF("__seq", "__op", "__key", "__payload"))
  }

  private def apply(st: TableStore, env: DataFrame): CdcApply.Stats =
    CdcApply.applyEnvelopes(spark, st, CdcConfig("t", Seq("k")), env)

  test("a CDC batch onto a copy-on-write table starts at most 10 jobs") {
    val (st, env) = fixture()
    var stats: CdcApply.Stats = null
    val sites = jobs { stats = apply(st, env) }
    assert(stats === CdcApply.Stats(170, 30))
    assert(st.read("t").count() === 20000L + 80 - 30)
    assert(sites.size <= 10, s"${sites.size} jobs: ${sites.mkString("; ")}")
  }

  test("a CDC batch onto a merge-on-read table starts at most 6 jobs") {
    val (st, env) = fixture()
    st.setProperties("t", Map("write.merge.mode" -> Some("merge-on-read")))
    var stats: CdcApply.Stats = null
    val sites = jobs { stats = apply(st, env) }
    assert(stats === CdcApply.Stats(170, 30))
    assert(st.read("t").count() === 20000L + 80 - 30)
    assert(st.read("t").filter(col("k") === 97L * 100).select("v")
      .as[String].collect().toSeq === Seq("u100"))
    assert(sites.size <= 6, s"${sites.size} jobs: ${sites.mkString("; ")}")
  }
}

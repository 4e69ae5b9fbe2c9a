package graft.tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off scale experiment (dev tool, not a gate): a bucketed table
  * under a LARGE multi-generation tombstone pile, measuring what the
  * round-11 sidecar machinery actually buys on the SPJ read path —
  * per-build sidecar bytes vs the pile, and exactness. Run:
  * `sbt "Test/runMain graft.tables.EqScaleCheck <sfDir>"` */
object EqScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files.createTempDirectory("eqscale").toString
    val store = new TableStore(spark, root)
    spark.conf.set("spark.sql.catalog.eqs",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.eqs.root", root)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("k"),
        col("l_extendedprice").as("v"))
    spark.sql("CREATE TABLE eqs.fact (k BIGINT, v DOUBLE) " +
      "PARTITIONED BY (bucket(32, k))")
    li.writeTo("eqs.fact").append()
    val nRows = li.count()
    // 4 tombstone generations over distinct key slices — the CDC pile.
    // A test-scale key set coalesces to one sidecar file under AQE;
    // disable coalescing so the sidecars take the multi-file shape a
    // 10^8-key pile has naturally (what the skip machinery is for)
    val mods = Seq(1L, 3L, 5L, 7L)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("graft.eq.clusterFloorRows", "0") // sf0.1 generations
    // are ~15k keys — under the small-batch floor; force the clustered
    // shape a 10^8-key pile has naturally
    try mods.foreach { m =>
      store.deleteMoR("fact",
        li.select("k").distinct().filter(col("k") % 10 === m), Seq("k"))
    } finally {
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
      spark.conf.unset("graft.eq.clusterFloorRows")
    }
    val mask = store.spjPlan("fact").flatMap(_.mask).get
    val pileBytes = mask.eq.flatMap(_.files).map(_._2).sum
    val pileFiles = mask.eq.map(_.files.size).sum
    val ranged = mask.eq.count(_.ranges.nonEmpty)
    println(s"[eqscale] rows=$nRows generations=${mask.eq.size} " +
      s"sidecarFiles=$pileFiles pileBytes=$pileBytes ranged=$ranged")
    SpjMaskCache.reset()
    SpjMaskStats.reset()
    SpjMaskStats.enabled.set(true)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val t0 = System.nanoTime()
    val q = spark.sql("SELECT k, CAST(SUM(CAST(v AS DECIMAL(18,2))) " +
      "AS DOUBLE) AS s FROM eqs.fact GROUP BY k")
    val got = q.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    val plan = q.queryExecution.executedPlan.toString
    val (sumEq, _, maxEq, tasks) = SpjMaskStats.snapshot()
    val (sumB, maxB) = SpjMaskStats.eqBytesRead()
    val expect = li.filter(!(col("k") % 10).isin(mods: _*))
      .groupBy("k").agg(sum(col("v").cast("decimal(18,2)"))
        .cast("double").as("s")).collect()
    val g = got.map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val e = expect.map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val exact = g.sameElements(e)
    if (!exact) {
      println(s"[eqscale] DIFF got=${g.length} expect=${e.length}")
      val gm = g.toMap; val em = e.toMap
      val extra = gm.keySet -- em.keySet
      val missing = em.keySet -- gm.keySet
      println(s"[eqscale] extraKeys=${extra.size} " +
        s"sample=${extra.take(5)} missingKeys=${missing.size} " +
        s"sample=${missing.take(5)}")
      val valDiff = (gm.keySet intersect em.keySet)
        .filter(k => gm(k) != em(k))
      println(s"[eqscale] valueDiffKeys=${valDiff.size} " +
        s"sample=${valDiff.take(3).map(k => (k, gm(k), em(k)))}")
    }
    val skip = 1.0 - maxB.toDouble / math.max(pileBytes, 1L).toDouble
    println(s"[eqscale] spj=${plan.contains("BatchScan") &&
      !plan.contains("Exchange hashpartitioning")} exact=$exact " +
      s"secs=${f"$secs%.1f"} builds=$tasks keysRetained=$sumEq " +
      s"maxTaskKeys=$maxEq bytesReadSum=$sumB maxBuildBytes=$maxB " +
      s"skipRatio=${f"$skip%.3f"}")
    spark.stop()
  }
}

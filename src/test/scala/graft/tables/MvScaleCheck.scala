package graft.tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off scale experiment (dev tool, not a gate): what incremental
  * materialized-view maintenance buys — and what it honestly costs —
  * as the source grows. Two regimes measured:
  *
  *  1. APPEND-ONLY batch (the streaming/CDC-ingest common case): the
  *     change feed reads exactly the appended files, min/max fold
  *     monotonically (no repair), so refresh cost is O(batch) while
  *     recompute is O(source) — the ratio should GROW with the source.
  *  2. Scattered DELETE batch: the feed's net-change for a tombstone
  *     commit scans masked candidates and min/max repair re-aggregates
  *     dirty groups from the source — refresh is source-scan-bounded
  *     and honestly reported as such (count/sum-only views skip the
  *     repair; clustered deletes prune the candidate scan).
  *
  * Run: `sbt "Test/runMain graft.tables.MvScaleCheck <sfDir>"` — compare
  * an sf0.1 directory against a MakeScale 10x of it to see regime 1's
  * ratio scale. */
object MvScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files.createTempDirectory("mvscale").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_suppkey").as("g"), col("l_orderkey").as("k"),
        col("l_extendedprice").cast("decimal(18,2)").as("p"))
    store.create("fact", li.schema)
    store.append("fact", li)
    val nRows = store.read("fact").count()
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val (groups, tCreate) = timed(MaterializedView.create(store, "mv",
      "fact", Seq("g"), Seq("sum:p", "min:k", "max:k")))
    // regime 1: a 1000-row append into 20 groups — touched ≪ groups,
    // feed = the appended files only, min/max fold with no repair
    val add = (0 until 1000).map(i =>
      ((i % 20).toLong + 1L, 9000000L + i,
        new java.math.BigDecimal(i + ".25"))).toDF("g", "k", "p")
    store.append("fact", add)
    val (r1, tAppend) = timed(MaterializedView.refresh(store, "mv"))
    // the alternative: full re-aggregation + full view swap
    val (_, tFull) = timed(MaterializedView.refresh(store, "mv",
      full = true))
    // regime 2, measured BOTH ways on two alike scattered tombstone
    // batches: first FORCED delta (auto=false — masked-feed scan +
    // dirty-group min/max repair), then the cost-based default, which
    // sees scope > table in metadata and recomputes instead
    store.deleteMoR("fact",
      (1L to 500L).map(k => k * 7L).toDF("k"), Seq("k"))
    val (rF, tForced) = timed(
      MaterializedView.refresh(store, "mv", auto = false))
    store.deleteMoR("fact",
      (1L to 500L).map(k => k * 11L + 3L).toDF("k"), Seq("k"))
    val (sc, tot, _) = store.changeScopeBytes("fact", rF._3,
      store.currentVersion("fact"))
    val (r2, tDelete) = timed(MaterializedView.refresh(store, "mv"))
    // exactness after everything
    val got = store.read("mv")
      .select(col("g"), col("cnt"), col("sum_p").cast("string"),
        col("min_k"), col("max_k"))
      .collect().map(_.toString).sorted
    val want = store.read("fact").groupBy("g")
      .agg(count(lit(1)).as("cnt"),
        sum(col("p")).cast(store.schema("mv")("sum_p").dataType)
          .cast("string"),
        min(col("k")), max(col("k")))
      .collect().map(_.toString).sorted
    val exact = got.sameElements(want)
    println(f"[mvscale] rows=$nRows groups=$groups create=$tCreate%.2fs | " +
      f"append-fold=$tAppend%.2fs (touched=${r1._1}) vs " +
      f"full=$tFull%.2fs -> ${tFull / tAppend}%.1fx | " +
      f"scattered-delete forced-delta=$tForced%.2fs " +
      f"(mode=${rF._4}) vs policy: scope=${sc / 1048576}%dMB > table=" +
      f"${tot / 1048576}%dMB -> mode=${r2._4} in $tDelete%.2fs | " +
      s"exact=$exact")
    spark.stop()
  }
}

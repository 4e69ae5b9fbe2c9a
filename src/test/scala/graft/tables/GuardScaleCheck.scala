package graft.tables

import org.apache.spark.sql.SparkSession

/** One-off scale experiment (dev tool, not a gate): what the
  * referenced-by marker fast path buys the clone-reachability guards on
  * a MANY-TABLE catalog. Every drop / rename / replace /
  * overwrite-create / expiry consults [[TableStore]]'s
  * `foreignReferenced` guard; before round 13 that was an unconditional
  * sweep of EVERY sibling table's manifests — O(tables × manifests)
  * driver FS reads per guarded operation, i.e. a 10k-table catalog paid
  * 10k manifest walks to drop one never-cloned table. With the
  * `_refby_` markers the guard on an unmarked (never-adopted-from)
  * table is ONE directory listing; only tables that actually have
  * holders pay the sweep, which stays the authoritative answer.
  *
  * Measures, on a catalog of N small tables (a few manifests each):
  *  1. guarded DROP of a never-cloned table (marker fast path) — should
  *     be flat in N;
  *  2. guarded DROP refusal of a CLONED table (marker present → full
  *     sweep) — the verification cost, linear in catalog size, paid
  *     only where a clone exists;
  *  3. cascade namespace drop of M tables with one internal clone
  *     chain — one graph build (one catalog sweep) regardless of M,
  *     not M × passes sweeps.
  *
  * Run: `sbt "Test/runMain graft.tables.GuardScaleCheck [nTables]"`. */
object GuardScaleCheck {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(400)
    require(n >= 20, s"need a catalog of at least 20 tables, got $n")
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("guardscale").toString
    val store = new TableStore(spark, root)
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    println(s"building a $n-table catalog (3 manifests each)…")
    (0 until n).foreach { i =>
      store.create(s"t$i", df.schema)
      store.append(s"t$i", df)
      store.append(s"t$i", df)
    }
    // one clone pair somewhere in the middle: t7 is referenced
    store.snapshotTable("t7", "t7_clone")

    // 1. never-cloned table: marker fast path — flat in N (victim
    // derived from the catalog size, never the cloned t7)
    val (_, dPlain) = timed(store.drop(s"t${n / 2}"))
    // 2. cloned source: marker present → full authoritative sweep
    val (_, dHeld) = timed {
      try { store.drop("t7"); sys.error("t7 drop must refuse") }
      catch { case e: IllegalArgumentException =>
        require(e.getMessage.contains("referenced")) }
    }
    // 3. cascade of a namespace with an internal clone chain: the
    // reference graph builds ONCE for the whole cascade
    (0 until 50).foreach { i =>
      store.create(s"ns.c$i", df.schema)
      store.append(s"ns.c$i", df)
    }
    store.snapshotTable("ns.c0", "ns.c0clone")
    val (_, dCascade) = timed(store.dropNamespace(Seq("ns"), cascade = true))

    println(f"catalog=$n tables")
    println(f"drop never-cloned (marker fast path): $dPlain%.3f s")
    println(f"drop refusal of cloned source (full sweep): $dHeld%.3f s")
    println(f"cascade drop, 51 tables + 1 clone chain: $dCascade%.3f s")
    spark.stop()
  }
}

package graft.tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Properties, Test}
import graft.SparkSpec

/** Row-level change feed ([[TableStore.changeFeed]]): every commit kind
  * must label exactly its net row changes — appends as inserts from the
  * appended files alone, CoW mutations as the multiset difference of the
  * rewritten scope, MoR tombstones as the masked-read difference, and a
  * compaction as NOTHING (row-preserving rewrites cancel). Versions are
  * captured live (create itself commits one). */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def newStore(): TableStore = new TableStore(spark, tmpDir("cf-"))

  private def changes(st: TableStore, from: Int, to: Int)
      : Seq[(Long, String, String, Int)] =
    st.changeFeed("t", from, to)
      .select("k", "v", TableStore.ChangeTypeCol, TableStore.CommitVersionCol)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
      .toSeq.sorted

  test("append commits label their appended files as inserts") {
    val st = newStore()
    val a = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    st.create("t", a.schema)
    val v0 = st.currentVersion("t")
    st.append("t", a)
    val v1 = st.currentVersion("t")
    st.append("t", Seq((3L, "c")).toDF("k", "v"))
    val v2 = st.currentVersion("t")
    assert(changes(st, v0, v2) === Seq(
      (1L, "a", "insert", v1), (2L, "b", "insert", v1),
      (3L, "c", "insert", v2)))
    // a sub-range delivers only its versions
    assert(changes(st, v1, v2) === Seq((3L, "c", "insert", v2)))
    // an empty range is an empty frame with the labeled schema
    val empty = st.changeFeed("t", v2, v2)
    assert(empty.columns.takeRight(2).toSeq ===
      Seq(TableStore.ChangeTypeCol, TableStore.CommitVersionCol))
    assert(empty.count() === 0)
  }

  test("CoW delete labels removed rows; update labels delete+insert") {
    val st = newStore()
    val a = (1L to 6L).map(i => (i, s"v$i")).toDF("k", "v")
    st.create("t", a.schema)
    st.append("t", a)
    val v1 = st.currentVersion("t")
    st.delete("t", col("k") === 2L)
    val v2 = st.currentVersion("t")
    st.merge("t", Seq((3L, "V3"), (9L, "v9")).toDF("k", "v"), Seq("k"),
      updateCols = Seq("v"), insertUnmatched = true, deleteWhen = None)
    val v3 = st.currentVersion("t")
    assert(changes(st, v1, v2) === Seq((2L, "v2", "delete", v2)))
    assert(changes(st, v2, v3) === Seq(
      (3L, "V3", "insert", v3), (3L, "v3", "delete", v3),
      (9L, "v9", "insert", v3)))
  }

  test("MoR tombstones label masked-out rows; duplicates net exactly") {
    val st = newStore()
    // duplicate rows for k=4: exceptAll must keep multiset counts honest
    val a = ((1L to 5L).map(i => (i, s"v$i")) :+ (4L, "v4")).toDF("k", "v")
    st.create("t", a.schema)
    val v0 = st.currentVersion("t")
    st.append("t", a)
    val v1 = st.currentVersion("t")
    st.deleteMoR("t", Seq(Tuple1(4L)).toDF("k"), Seq("k"))
    val v2 = st.currentVersion("t")
    assert(changes(st, v1, v2) === Seq(
      (4L, "v4", "delete", v2), (4L, "v4", "delete", v2)))
    // the feed across both versions carries the inserts AND the deletes
    assert(changes(st, v0, v2).count(_._3 == "delete") === 2)
    assert(changes(st, v0, v2).count(_._3 == "insert") === 6)
  }

  test("tombstone keyed on a NON-LEADING column still nets (order pin)") {
    // the masked read surfaces its anti-join key columns first; without
    // the explicit column-order pin in changesOfVersion, exceptAll would
    // compare positionally misaligned rows and cancel nothing
    val st = newStore()
    val a = (1L to 5L).map(i => (i, s"v$i", i * 10L)).toDF("k", "v", "w")
    st.create("t", a.schema)
    st.append("t", a)
    val v1 = st.currentVersion("t")
    st.deleteMoR("t", Seq(Tuple1(30L)).toDF("w"), Seq("w")) // key = 3rd col
    val v2 = st.currentVersion("t")
    val got = st.changeFeed("t", v1, v2)
      .select("k", "v", "w", TableStore.ChangeTypeCol)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSeq
    assert(got === Seq((3L, "v3", 30L, "delete")))
  }

  test("t.changes reads the feed through SQL with version-range options") {
    val root = tmpDir("cf-sql-")
    val st = new TableStore(spark, root)
    spark.conf.set("spark.sql.catalog.gcf", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcf.root", root)
    val a = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    st.create("t", a.schema)
    val v0 = st.currentVersion("t")
    st.append("t", a)
    st.delete("t", col("k") === 1L)
    val v2 = st.currentVersion("t")
    st.append("t", Seq((3L, "c")).toDF("k", "v"))
    val got = spark.read
      .option("startVersion", v0).option("endVersion", v2)
      .table("gcf.t.changes")
      .select("k", "v", TableStore.ChangeTypeCol)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sorted
    assert(got === Seq((1L, "a", "delete"), (1L, "a", "insert"),
      (2L, "b", "insert")))
    // endVersion defaults to the head
    val toHead = spark.read.option("startVersion", v2)
      .table("gcf.t.changes").collect()
    assert(toHead.map(r => (r.getLong(0), r.getString(2))).toSeq ===
      Seq((3L, "insert")))
    // startVersion is required — a feed never delivers the initial state
    val e = intercept[Exception] {
      spark.read.table("gcf.t.changes").collect()
    }
    assert(e.getMessage.contains("startVersion"))
  }

  test("compaction contributes nothing") {
    val st = newStore()
    val a = (1L to 8L).map(i => (i, s"v$i")).toDF("k", "v")
    st.create("t", a.schema)
    val v0 = st.currentVersion("t")
    st.append("t", a.repartition(4))
    val v1 = st.currentVersion("t")
    st.compact("t", numFiles = 1)
    val v2 = st.currentVersion("t")
    assert(changes(st, v1, v2) === Seq.empty)
    // and the full feed still nets to the table's live rows
    val feed = changes(st, v0, v2)
    assert(feed.count(_._3 == "insert") === 8)
    assert(feed.count(_._3 == "delete") === 0)
  }

  test("materializing pending MoR deletes contributes nothing") {
    val st = newStore()
    val a = (1L to 6L).map(i => (i, s"v$i")).toDF("k", "v")
    st.create("t", a.schema)
    st.append("t", a)
    val v1 = st.currentVersion("t")
    st.deleteMoR("t", Seq(Tuple1(2L)).toDF("k"), Seq("k"))
    val v2 = st.currentVersion("t")
    st.materializeDeletes("t")
    val v3 = st.currentVersion("t")
    assert(changes(st, v1, v2) === Seq((2L, "v2", "delete", v2)))
    // the fold rewrote files but changed no visible rows
    assert(changes(st, v2, v3) === Seq.empty)
  }

  test("update pairing: same-commit same-key delete+insert relabel as " +
      "pre/post images; null keys and unpaired rows pass through") {
    val st = newStore()
    val a = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .select(col("k").cast("long").as("k"), col("v"))
    st.create("t", a.schema)
    st.append("t", a)
    val v1 = st.currentVersion("t")
    // one CoW commit that UPDATES k=1 (delete old + insert new), truly
    // DELETES k=2, and inserts a NEW key 4 — all in the same rewrite
    val rewritten = Seq((1L, "a2"), (3L, "c"), (4L, "d")).toDF("k", "v")
      .select(col("k").cast("long").as("k"), col("v"))
    st.overwrite("t", rewritten)
    val v2 = st.currentVersion("t")
    val got = st.changeFeedWithUpdates("t", v1, v2, Seq("k"))
      .select("k", "v", TableStore.ChangeTypeCol)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sorted
    assert(got === Seq(
      (1L, "a", "update_preimage"), (1L, "a2", "update_postimage"),
      (2L, "b", "delete"), (4L, "d", "insert")))

    // NULL identifier components never pair
    val st2 = newStore()
    val n0 = Seq((Option.empty[Long], "x")).toDF("k", "v")
    st2.create("t", n0.schema)
    st2.append("t", n0)
    val w1 = st2.currentVersion("t")
    st2.overwrite("t", Seq((Option.empty[Long], "y")).toDF("k", "v"))
    val w2 = st2.currentVersion("t")
    val nulls = st2.changeFeedWithUpdates("t", w1, w2, Seq("k"))
      .select("v", TableStore.ChangeTypeCol)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(nulls === Seq(("x", "delete"), ("y", "insert")))
  }

  test("key-scoped MoR feed: an identical write-back cancels, a re-delete " +
      "or a null-key delete is empty, an update nets delete + insert") {
    val st = newStore()
    val a = ((1L to 4L).map(i => (Option(i), s"v$i")) :+ ((None, "vn")))
      .toDF("k", "v")
    st.create("t", a.schema)
    st.setProperties("t", Map("write.merge.mode" -> Some("merge-on-read")))
    st.append("t", a)
    def feed(commit: => Unit): Seq[(Option[Long], String, String)] = {
      val from = st.currentVersion("t")
      commit
      st.changeFeed("t", from, st.currentVersion("t"))
        .select("k", "v", TableStore.ChangeTypeCol).collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
          r.getString(1), r.getString(2)))
        .toSeq.sortBy(_.toString)
    }
    def upsert(k: Long, v: String): Unit = st.applyNet("t",
      Seq(k).toDF("k"), Seq((Option(k), v)).toDF("k", "v"), Seq("k"))
    def tombstone(k: Option[Long]): Unit =
      st.deleteMoR("t", Seq(k).toDF("k"), Seq("k"))
    assert(feed(upsert(1L, "v1")) === Seq.empty)
    assert(feed(upsert(2L, "V2")) ===
      Seq((Some(2L), "V2", "insert"), (Some(2L), "v2", "delete")))
    // a tombstone commit appends no file: the v-side read is empty
    assert(feed(tombstone(Some(3L))) === Seq((Some(3L), "v3", "delete")))
    assert(feed(tombstone(Some(3L))) === Seq.empty)
    assert(feed(tombstone(None)) === Seq.empty)
    assert(st.read("t").count() === 4)
  }

  test("the feed equals the snapshot difference on fixed histories: " +
      "commits carrying older delete entries, a key widened after int " +
      "tombstones, lineage ids through DV and multi-column commits") {
    import ChangeFeedProps._
    // a file appended AFTER the restored / merged delete holds its key
    // unmasked at the commit — a key-scoped read would delete it
    val reinserted = List(Append(List((Some(1L), "a", 0))),
      DeleteK(List(Some(1L))), DeleteK(List(Some(2L))),
      Append(List((Some(1L), "b", 1))))
    val histories = Seq(
      false -> (reinserted :+ Materialize :+ Rollback(1)),
      false -> (reinserted :+ RewriteDeletes),
      // versions before the widen read their int sidecars as bigint
      true -> List(
        Append(List((Some(1L), "a", 0), (Some(2L), "b", 1), (None, "a", 1))),
        DeleteW(List(0)), Append(List((Some(4L), "a", 0))), WidenW,
        DeleteW(List(1)), Upsert(List(4L), List((Some(4L), "c", 0)))),
      true -> List(
        Append(List((Some(1L), "a", 0), (Some(1L), "b", 1), (Some(2L), "a", 1))),
        DeleteKV(List((Some(1L), "a"))), DvDelete(1), DvUpdate(0),
        Upsert(List(2L), List((Some(2L), "z", 1)))))
    histories.foreach { case (lineage, ops) =>
      assert(mismatches(lineage, ops) === Nil)
    }
  }
}

/** Property: over random merge-on-read commit sequences, every commit's
  * change feed equals the brute-force net change — the full snapshot at
  * the commit against the full snapshot at its parent, netted both ways
  * with `exceptAll`. Sequences mix appends (duplicate rows, null keys),
  * single-key tombstones (null keys, keys already masked, no appended
  * files), CDC upserts through `applyNet` (identical write-backs
  * included), multi-column tombstones, deletion-vector deletes and
  * updates, materialization, sidecar rewrites, rollbacks (both carry
  * entries older than their commit), and a `widenColumn` of a tombstone key
  * column (versions from before the widen read their int sidecars as
  * bigint); half of the tables track row lineage and compare ids too.
  * Key-scoped and full-scope commits must both match. */
object ChangeFeedProps extends Properties("ChangeFeed") {
  private lazy val spark = SparkSpec.session

  // each case runs a few dozen Spark jobs: few cases, no shrinking
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  type R = (Option[Long], String, Int)
  sealed trait Op
  final case class Append(rows: List[R]) extends Op
  final case class DeleteK(keys: List[Option[Long]]) extends Op
  final case class DeleteKV(keys: List[(Option[Long], String)]) extends Op
  final case class DeleteW(ws: List[Int]) extends Op
  final case class Upsert(keys: List[Long], rows: List[R]) extends Op
  final case class WriteBack(k: Long) extends Op
  final case class DvDelete(w: Int) extends Op
  final case class DvUpdate(w: Int) extends Op
  case object Materialize extends Op
  case object RewriteDeletes extends Op
  final case class Rollback(back: Int) extends Op
  case object WidenW extends Op

  private val key: Gen[Option[Long]] =
    Gen.frequency(6 -> Gen.choose(0L, 5L).map(Option(_)), 1 -> Gen.const(None))
  private val row: Gen[R] = for {
    k <- key; v <- Gen.oneOf("a", "b"); w <- Gen.choose(0, 3)
  } yield (k, v, w)
  private def upTo[T](n: Int, g: Gen[T]): Gen[List[T]] =
    Gen.choose(1, n).flatMap(Gen.listOfN(_, g))
  private val append: Gen[Op] = upTo(5, row).map(Append)
  private val op: Gen[Op] = Gen.frequency(
    3 -> append,
    3 -> upTo(3, key).map(DeleteK),
    3 -> (for {
      ks <- upTo(3, Gen.choose(0L, 5L))
      rs <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, row))
    } yield Upsert(ks, rs.zipWithIndex.map { case ((_, v, w), i) =>
      (Option(ks(i % ks.size)), v, w) })),
    1 -> upTo(2, Gen.zip(key, Gen.oneOf("a", "b"))).map(DeleteKV),
    1 -> upTo(2, Gen.choose(0, 3)).map(DeleteW),
    1 -> Gen.choose(0L, 5L).map(WriteBack),
    1 -> Gen.choose(0, 3).map(DvDelete),
    1 -> Gen.choose(0, 3).map(DvUpdate),
    1 -> Gen.const(Materialize),
    1 -> Gen.const(RewriteDeletes),
    1 -> Gen.choose(1, 3).map(Rollback),
    1 -> Gen.const(WidenW))
  private val history: Gen[(Boolean, List[Op])] = for {
    lineage <- Gen.oneOf(true, false)
    first <- append
    n <- Gen.choose(4, 7)
    ops <- Gen.listOfN(n, op)
  } yield (lineage, first :: ops)

  private def apply(st: TableStore, v0: Int, op: Op): Unit = {
    val s = spark
    import s.implicits._
    def typed(df: DataFrame): DataFrame =
      df.withColumn("w", col("w").cast(st.schema("t")("w").dataType))
    op match {
      case Append(rs) => st.append("t", typed(rs.toDF("k", "v", "w")))
      case DeleteK(ks) => st.deleteMoR("t", ks.toDF("k"), Seq("k"))
      case DeleteKV(ks) => st.deleteMoR("t", ks.toDF("k", "v"), Seq("k", "v"))
      case DeleteW(ws) => st.deleteMoR("t", ws.toDF("w"), Seq("w"))
      case Upsert(ks, rs) =>
        st.applyNet("t", ks.toDF("k"), typed(rs.toDF("k", "v", "w")), Seq("k"))
      case WriteBack(k) =>
        // the key's live rows, written back unchanged: nets to nothing
        val rows = st.read("t").filter(col("k") === k).collect().toSeq
        st.applyNet("t", Seq(k).toDF("k"),
          spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
            st.schema("t")), Seq("k"))
      case DvDelete(w) => st.deletePos("t", col("w") === w)
      case DvUpdate(w) => st.updateMoR("t", col("w") === w, Map("v" -> lit("u")))
      case Materialize => st.materializeDeletes("t")
      // merged sidecars keep their entries' older sequences
      case RewriteDeletes => st.rewriteDeletes("t"); ()
      // restores an older snapshot's files and pending deletes
      case Rollback(back) =>
        st.rollback("t", math.max(v0, st.currentVersion("t") - back))
      case WidenW =>
        if (st.schema("t")("w").dataType == IntegerType) {
          st.materializeDeletes("t")
          st.widenColumn("t", "w", LongType)
        }
    }
  }

  /** Runs `ops` on a fresh table; one line per commit whose feed differs
    * from its snapshot difference. */
  def mismatches(lineage: Boolean, ops: List[Op]): Seq[String] = {
    val st = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("cf-props-").toString)
    st.create("t", StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("w", IntegerType))))
    st.setProperties("t", Map("write.merge.mode" -> Some("merge-on-read")) ++
      (if (lineage) Map("row-lineage" -> Some("true")) else Map.empty))
    val v0 = st.currentVersion("t")
    ops.foreach(apply(st, v0, _))
    val cols = (Seq("k", "v", "w") ++
      (if (lineage) Seq(TableStore.RowIdCol) else Nil)).map(c => col(s"`$c`"))
    def snap(v: Int): DataFrame =
      st.readRelsMasked("t", st.relPathsOf("t", v), v, rowIds = lineage)
        .select(cols: _*)
    def rows(df: DataFrame, tpe: Column): Seq[String] =
      df.select(cols :+ tpe: _*).collect().map(_.toString).toSeq.sorted
    st.committedVersionsBetween("t", v0, st.currentVersion("t")).flatMap { v =>
      val (now, was) = (snap(v), snap(st.commitParent("t", v).getOrElse(v - 1)))
      val want = (rows(now.exceptAll(was), lit("insert")) ++
        rows(was.exceptAll(now), lit("delete"))).sorted
      val got = rows(st.changesOfVersion("t", v, rowIds = lineage),
        col(TableStore.ChangeTypeCol))
      if (got == want) None
      else Some(s"version $v of $ops: feed $got, snapshots $want")
    }
  }

  property("every commit's feed equals its snapshot difference") =
    Prop.forAllNoShrink(history) { case (lineage, ops) =>
      val bad = mismatches(lineage, ops)
      Prop(bad.isEmpty) :| bad.mkString("; ")
    }
}

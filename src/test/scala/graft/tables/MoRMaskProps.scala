package graft.tables

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import graft.SparkSpec

/** Property: over random merge-on-read histories, the map-side delete
  * mask ([[MoRMaskFilter]]) returns the same multiset of rows as the
  * anti-join fallback it replaced, at every committed version, for plain,
  * position-carrying and lineage reads; and, where [[TableStore.spjPlan]]
  * accepts the final table, the SPJ reader returns the same rows too.
  * Histories mix appends (duplicate rows, null keys and null partition
  * values, partition values needing path escaping), single-key
  * tombstones with null keys, CDC upserts through `applyNet` (a key
  * re-inserted after its delete must survive — the sequence rule),
  * two-column tombstones, tombstones on an int column later widened to
  * bigint (older versions read their int sidecars as bigint), DV
  * deletes, a rename of the key column, and a partition-spec change
  * that leaves a mixed-spec snapshot. */
object MoRMaskProps extends Properties("MoRMask") {
  private lazy val spark = SparkSpec.session

  // each case runs a few dozen Spark jobs: few cases, no shrinking
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  type R = (Option[Long], Option[String], Int)
  sealed trait Op
  final case class Append(rows: List[R]) extends Op
  final case class DeleteK(keys: List[Option[Long]]) extends Op
  final case class DeleteKV(keys: List[(Option[Long], Option[String])]) extends Op
  final case class DeleteW(ws: List[Int]) extends Op
  final case class Upsert(rows: List[R]) extends Op
  final case class DvDelete(w: Int) extends Op
  case object RenameK extends Op
  case object WidenW extends Op
  final case class Respec(layout: Option[String]) extends Op

  private val key: Gen[Option[Long]] =
    Gen.frequency(6 -> Gen.choose(0L, 5L).map(Option(_)), 1 -> Gen.const(None))
  private val value: Gen[Option[String]] =
    Gen.frequency(6 -> Gen.oneOf("a", "b c", "d%e").map(Option(_)),
      1 -> Gen.const(None))
  private val row: Gen[R] = for {
    k <- key; v <- value; w <- Gen.choose(0, 3)
  } yield (k, v, w)
  private def upTo[T](n: Int, g: Gen[T]): Gen[List[T]] =
    Gen.choose(1, n).flatMap(Gen.listOfN(_, g))
  private val layout: Gen[Option[String]] =
    Gen.oneOf(None, Some("bucket"), Some("v"))
  private val op: Gen[Op] = Gen.frequency(
    3 -> upTo(5, row).map(Append),
    3 -> upTo(3, key).map(DeleteK),
    3 -> upTo(3, for { k <- Gen.choose(0L, 5L); v <- value; w <- Gen.choose(0, 3) }
      yield (Option(k), v, w)).map(Upsert),
    1 -> upTo(2, Gen.zip(key, value)).map(DeleteKV),
    1 -> upTo(2, Gen.choose(0, 3)).map(DeleteW),
    1 -> Gen.choose(0, 3).map(DvDelete),
    1 -> Gen.const(RenameK),
    1 -> Gen.const(WidenW),
    1 -> layout.map(Respec))
  private val history: Gen[(Boolean, Option[String], List[Op])] = for {
    lineage <- Gen.oneOf(true, false)
    initial <- layout
    first <- upTo(5, row).map(Append)
    n <- Gen.choose(4, 8)
    ops <- Gen.listOfN(n, op)
  } yield (lineage, initial, first :: ops)

  private def spec(l: Option[String], k: String): Seq[String] =
    l.toSeq.map(x => if (x == "bucket") s"bucket(2, $k)" else x)

  private def apply(st: TableStore, op: Op): Unit = {
    val s = spark
    import s.implicits._
    val kn = st.schema("t").fieldNames.head
    def typed(df: DataFrame): DataFrame =
      df.withColumn("w", col("w").cast(st.schema("t")("w").dataType))
    op match {
      case Append(rs) => st.append("t", typed(rs.toDF(kn, "v", "w")))
      case DeleteK(ks) => st.deleteMoR("t", ks.toDF(kn), Seq(kn))
      case DeleteKV(ks) => st.deleteMoR("t", ks.toDF(kn, "v"), Seq(kn, "v"))
      case DeleteW(ws) => st.deleteMoR("t", ws.toDF("w"), Seq("w"))
      case Upsert(rs) =>
        st.applyNet("t", rs.map(_._1).distinct.toDF(kn),
          typed(rs.toDF(kn, "v", "w")), Seq(kn))
      case DvDelete(w) => st.deletePos("t", col("w") === w)
      case RenameK => st.renameColumn("t", kn, if (kn == "k") "key" else "k")
      case WidenW =>
        if (st.schema("t")("w").dataType == IntegerType) {
          st.materializeDeletes("t")
          st.widenColumn("t", "w", LongType)
        }
      case Respec(l) =>
        // the stored spec renders physical names (the key stays `k`)
        if (spec(l, "k").map(_.replace(", ", ":")) != st.partitionCols("t"))
          st.repartitionSpec("t", spec(l, kn))
    }
  }

  private def sorted(rows: Iterator[Seq[Any]]): Seq[String] =
    rows.map(_.map(v => if (v == null) "null" else v.toString).mkString("|"))
      .toSeq.sorted

  private def rowsOf(df: DataFrame): Seq[String] =
    sorted(df.collect().iterator.map(_.toSeq))

  /** The current snapshot through the SPJ reader, when it accepts it. */
  private def spjRows(st: TableStore): Option[Seq[String]] =
    st.spjPlan("t").map { plan =>
      val sch = st.schema("t")
      val scan = new GraftBatchScan(st, "t", plan,
        Array.empty[org.apache.spark.sql.sources.Filter], sch)
      val factory = scan.createReaderFactory()
      sorted(scan.planInputPartitions().iterator.flatMap { p =>
        val r = factory.createReader(p)
        // the reader reuses its row buffers: render each row at once
        Iterator.continually(r).takeWhile(_.next()).map { rr =>
          val row: InternalRow = rr.get()
          sch.fields.indices.map(i =>
            if (row.isNullAt(i)) null else row.get(i, sch(i).dataType).toString)
        }.toList
      })
    }

  /** Runs `ops` on a fresh table; one line per disagreement. */
  def mismatches(lineage: Boolean, initial: Option[String],
      ops: List[Op]): Seq[String] = {
    val st = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("mor-mask-props-").toString)
    st.create("t", StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("w", IntegerType))),
      partitionBy = spec(initial, "k"))
    st.setProperties("t", Map("write.merge.mode" -> Some("merge-on-read")) ++
      (if (lineage) Map("row-lineage" -> Some("true")) else Map.empty))
    val v0 = st.currentVersion("t")
    ops.foreach(apply(st, _))
    val reads = for {
      pos <- Seq(false, true)
      ids <- if (lineage) Seq(false, true) else Seq(false)
    } yield (pos, ids)
    val byVersion = st.committedVersionsBetween("t", v0, st.currentVersion("t"))
      .flatMap { v =>
        val rels = st.relPathsOf("t", v)
        reads.flatMap { case (pos, ids) =>
          val mapSide = rowsOf(st.morMasked("t", rels, v, pos, ids))
          val joins = rowsOf(st.morMasked("t", rels, v, pos, ids, maskCap = -1L))
          if (mapSide == joins) None
          else Some(s"v$v pos=$pos ids=$ids of $ops: mask $mapSide, " +
            s"anti-join $joins")
        }
      }
    val spj = spjRows(st).flatMap { got =>
      val want = rowsOf(st.read("t"))
      if (got == want) None else Some(s"SPJ of $ops: $got, V1 $want")
    }
    byVersion ++ spj
  }

  property("the map-side mask equals the anti-join fallback and SPJ") =
    Prop.forAllNoShrink(history) { case (lineage, initial, ops) =>
      val bad = mismatches(lineage, initial, ops)
      Prop(bad.isEmpty) :| bad.mkString("; ")
    }
}

package graft.tables

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}
import org.roaringbitmap.longlong.Roaring64Bitmap

/** Deletion vectors: position-delete sidecars as compressed bitmaps —
  * one roaring bitmap of row ordinals PER data file instead of one
  * (file, ordinal) parquet row PER tombstone (the Iceberg v3 / Delta DV
  * design; the reference's stack inherits it from its bundled runtime,
  * reference `SparkUtils.java:45`).
  *
  * Why bitmaps: a merge-on-read table that ages under CDC accumulates
  * tombstones proportional to update volume. Pair sidecars cost ~10
  * bytes per tombstone IN THE SIDECAR and 40+ bytes per tombstone in
  * every reader's in-memory hash set — at 100 TB scale (billions of
  * tombstones) both blow up. A roaring bitmap run-compresses: a
  * contiguous deleted range is O(1) bytes regardless of row count, and
  * reader memory is the compressed bitmap, not an entry per ordinal.
  * This is what keeps the SPJ masked read (whose per-task budget is
  * [[TableStore.SpjMaskMaxBytes]]) viable an order of magnitude longer
  * before maintenance must fold deletes.
  *
  * Sidecar format: a parquet file with schema
  * `(__graft_pos_file: string, __graft_dv: binary)` — one row per named
  * data file, the binary being [[Roaring64Bitmap]]'s portable
  * serialization (run-optimized). Multiple rows for the same file (one
  * per writing task) are legal; readers OR them. Entries are marked
  * [[TableStore.DvMarker]] in the delete manifest; legacy pair sidecars
  * ([[TableStore.PosMarker]]) stay readable — maintenance
  * ([[TableStore.rewriteDeletes]]) upgrades them to DV on merge.
  */
private[graft] object DeletionVectors {

  /** Binary column holding one serialized [[Roaring64Bitmap]]. */
  val DvCol: String = "__graft_dv"

  /** Sidecar schema: one row per masked data file. */
  val dvSchema: StructType = StructType(Seq(
    StructField(TableStore.PosFileCol, StringType, nullable = false),
    StructField(DvCol, BinaryType, nullable = false)))

  def serialize(bm: Roaring64Bitmap): Array[Byte] = {
    bm.runOptimize()
    val bos = new ByteArrayOutputStream(
      math.min(bm.serializedSizeInBytes(), Int.MaxValue.toLong).toInt)
    val out = new DataOutputStream(bos)
    bm.serialize(out)
    out.flush()
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Roaring64Bitmap = {
    val bm = new Roaring64Bitmap
    bm.deserialize(new DataInputStream(new ByteArrayInputStream(bytes)))
    bm
  }

  private implicit val pairEnc: Encoder[(String, Long)] =
    Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
  private implicit val dvEnc: Encoder[(String, Array[Byte])] =
    Encoders.tuple(Encoders.STRING, Encoders.BINARY)

  /** (pos_file, pos_idx) pairs → one (pos_file, dv) row per file.
    * Streaming: pairs cluster per file via one hash shuffle, and each
    * task holds ONE bitmap at a time — never the pair set. Ordinal
    * insertion order is irrelevant to a bitmap, so no sort by ordinal. */
  def fromPairs(pairs: DataFrame): DataFrame = {
    val ds = pairs
      .select(col(TableStore.PosFileCol).cast(StringType),
        col(TableStore.PosIdxCol).cast(LongType))
      .as[(String, Long)]
      .repartition(col(TableStore.PosFileCol))
      .sortWithinPartitions(TableStore.PosFileCol)
      .mapPartitions { it =>
        new Iterator[(String, Array[Byte])] {
          private var cur: (String, Long) = if (it.hasNext) it.next() else null
          override def hasNext: Boolean = cur != null
          override def next(): (String, Array[Byte]) = {
            val f = cur._1
            val bm = new Roaring64Bitmap
            while (cur != null && cur._1 == f) {
              bm.addLong(cur._2)
              cur = if (it.hasNext) it.next() else null
            }
            (f, serialize(bm))
          }
        }
      }
    ds.toDF(TableStore.PosFileCol, DvCol)
  }

  /** (pos_file, pos_idx) pairs → (pos_file, dv) rows folded PER TASK,
    * NO shuffle: each task accumulates a bitmap per data file it sees
    * and may emit several rows for one file across tasks — which every
    * sidecar consumer already ORs (the format contract). This is the
    * small-commit path: [[fromPairs]]' clustering shuffle is the right
    * plan for a huge delete, but paying it on EVERY positional commit
    * regressed the small-commit MoR lifecycles 2-3× (round-9 verdict).
    * Per-task memory is (files touched by the task) × partial bitmap —
    * and the pairs come from a masked READ whose partitions are
    * file-clustered, so a task typically holds a handful. Large spreads
    * compact afterwards at the BITMAP level ([[mergeDvs]] over the
    * written sidecar rows — orders of magnitude fewer rows than the raw
    * tombstones fromPairs would have shuffled). */
  def fromPairsLocal(pairs: DataFrame): DataFrame = {
    val ds = pairs
      .select(col(TableStore.PosFileCol).cast(StringType),
        col(TableStore.PosIdxCol).cast(LongType))
      .as[(String, Long)]
      .mapPartitions { it =>
        val acc = new java.util.LinkedHashMap[String, Roaring64Bitmap]()
        it.foreach { case (f, p) =>
          acc.computeIfAbsent(f, _ => new Roaring64Bitmap).addLong(p)
        }
        acc.entrySet().iterator().asScala
          .map(e => (e.getKey, serialize(e.getValue)))
      }
    ds.toDF(TableStore.PosFileCol, DvCol)
  }

  /** Many (pos_file, dv) rows per file → one, bitmaps OR-merged.
    * Same streaming shape as [[fromPairs]]: one merged bitmap in memory
    * per task at a time. */
  def mergeDvs(dvs: DataFrame): DataFrame = {
    val ds = dvs
      .select(col(TableStore.PosFileCol).cast(StringType), col(DvCol))
      .as[(String, Array[Byte])]
      .repartition(col(TableStore.PosFileCol))
      .sortWithinPartitions(TableStore.PosFileCol)
      .mapPartitions { it =>
        new Iterator[(String, Array[Byte])] {
          private var cur: (String, Array[Byte]) =
            if (it.hasNext) it.next() else null
          override def hasNext: Boolean = cur != null
          override def next(): (String, Array[Byte]) = {
            val f = cur._1
            val bm = deserialize(cur._2)
            cur = if (it.hasNext) it.next() else null
            while (cur != null && cur._1 == f) {
              bm.or(deserialize(cur._2))
              cur = if (it.hasNext) it.next() else null
            }
            (f, serialize(bm))
          }
        }
      }
    ds.toDF(TableStore.PosFileCol, DvCol)
  }

  /** (pos_file, dv) → (pos_file, pos_idx) pairs, streaming per bitmap —
    * the scale FALLBACK shape when a delete mask is too large to hold
    * per task and masking falls back to a distributed anti-join. */
  def explodePairs(dvs: DataFrame): DataFrame = {
    val ds = dvs
      .select(col(TableStore.PosFileCol).cast(StringType), col(DvCol))
      .as[(String, Array[Byte])]
      .flatMap { case (f, bytes) =>
        val it = deserialize(bytes).getLongIterator
        new Iterator[(String, Long)] {
          override def hasNext: Boolean = it.hasNext
          override def next(): (String, Long) = (f, it.next())
        }
      }
    ds.toDF(TableStore.PosFileCol, TableStore.PosIdxCol)
  }
}

package graft.tables

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.functions.BloomAgg

/** The stats sidecars a commit writes from its writer's per-file stats
  * ([[FileStats]]) are the ones the aggregates that define them give
  * over the written files: `count`, `min`, `max`, `count(c)`,
  * `bloom_build` and `hll_sketch_agg`, grouped by file. [[reread]] is
  * that aggregate, run here as a second job; every sidecar must equal
  * its result byte for byte — the stats JSON text, the bloom bits and
  * the HLL sketch bytes. */
class FileStatsTrackerSpec extends SparkSpec {
  import spark.implicits._

  /** Expected sidecars of `rels`: rel → (stats JSON, bloom bytes per
    * bloom column), from one groupBy-file aggregate over the files read
    * back under the table's physical schema. */
  private def reread(st: TableStore, t: String, rels: Seq[String])
      : Map[String, (String, Seq[Array[Byte]])] = {
    val spec = st.fileStatsSpec(t, new StructType)
    val (sch, zc, bc) = (spec.tableSchema, spec.zoneCols, spec.bloomCols)
    val paths = rels.map(r => s"${st.root}/$t/data/$r")
    if (zc.isEmpty && bc.isEmpty) {
      val n = spark.read.schema(sch).parquet(paths: _*)
        .groupBy(input_file_name()).count().collect()
        .map(r => fileName(r.getString(0)) -> r.getLong(1)).toMap
      return rels.map(r =>
        r -> (s"""{"__rows": ${n.getOrElse(fileName(r), 0L)}}""", Nil)).toMap
    }
    def hllInput(c: String): Column =
      NestedSchema.resolve(sch, c.split('.').toSeq).map(_.dataType) match {
        case Some(IntegerType | LongType | StringType) => col(c)
        case Some(ShortType | ByteType) => col(c).cast("int")
        case _ => col(c).cast("string")
      }
    val aggs = (count(lit(1)) +: zc.flatMap(c => Seq(min(col(c)), max(col(c))))) ++
      zc.map(c => count(col(c))) ++
      bc.map(c => BloomAgg.bloom_build(col(c), spec.bloomItems, spec.fpp)) ++
      zc.map(c => hll_sketch_agg(hllInput(c), spec.hllLgK))
    val rows = spark.read.schema(sch).parquet(paths: _*)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val z = zc.length
    rows.map { row =>
      val n = row.getLong(1)
      val zone = zc.zipWithIndex.map { case (c, i) =>
        s""""$c": [${st.statJson(row.get(2 * i + 2))}, ${st.statJson(row.get(2 * i + 3))}]"""
      }
      val nulls = zc.zipWithIndex.map { case (c, i) =>
        s""""$c": ${n - row.getLong(2 + 2 * z + i)}"""
      }
      val hll = zc.zipWithIndex.map { case (c, i) =>
        val bytes = Option(row.getAs[Array[Byte]](2 + 3 * z + bc.length + i))
          .getOrElse(new org.apache.datasketches.hll.HllSketch(spec.hllLgK)
            .toCompactByteArray)
        s""""$c": "${java.util.Base64.getEncoder.encodeToString(bytes)}""""
      }
      val json = (zone ++ Seq(s""""__rows": $n""",
        s""""__nulls": ${nulls.mkString("{", ",", "}")}""",
        s""""__hll": ${hll.mkString("{", ",", "}")}""")).mkString("{", ",", "}")
      val blooms = bc.indices.map(i => row.getAs[Array[Byte]](2 + 3 * z + i))
      rels.find(r => fileName(row.getString(0)) == fileName(r)).get -> (json, blooms)
    }.toMap
  }

  private def fileName(p: String) = p.substring(p.lastIndexOf('/') + 1)

  /** Every file of `t`'s current snapshot not yet checked has sidecars
    * equal to [[reread]]'s; returns the files checked so far. Checked
    * right after the commit that wrote them, under the schema they were
    * written with (a later widening re-types the table, not old stats). */
  private def check(st: TableStore, t: String,
      seen: Set[String] = Set.empty): Set[String] = {
    val live = st.currentRelPaths(t)
    val fresh = live.filterNot(seen)
    assert(fresh.nonEmpty, s"$t: no fresh file to check")
    val want = reread(st, t, fresh)
    val bc = st.bloomCols(t)
    fresh.foreach { rel =>
      val flat = rel.replace("/", "__")
      val (json, blooms) = want(rel)
      val got = new String(Files.readAllBytes(
        Paths.get(st.root, t, "stats", s"$flat.json")), "UTF-8")
      assert(got === json, s"$t/$rel stats")
      bc.zip(blooms).foreach { case (c, bytes) =>
        val gotBloom = Files.readAllBytes(
          Paths.get(st.root, t, "bloom", s"$flat.$c.bloom"))
        assert(java.util.Arrays.equals(gotBloom, bytes), s"$t/$rel bloom $c")
      }
    }
    seen ++ live
  }

  private val wide = StructType(Seq(
    StructField("k", LongType), StructField("i", IntegerType),
    StructField("sh", ShortType), StructField("by", ByteType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("dec", DecimalType(10, 2)), StructField("s", StringType)))

  private def wideRow(k: Long): Row = {
    def nul[T](v: T): Any = if (k % 5 == 0) null else v
    Row(k, nul((k * 7 % 11).toInt), nul((k % 3).toShort), nul((k % 2).toByte),
      if (k % 4 == 0) Float.NaN else (k * 0.5f),
      if (k % 6 == 0) Double.NaN else if (k % 9 == 0) -0.0 else k * 1.25,
      nul(new java.math.BigDecimal(k).movePointLeft(2)),
      nul(if (k % 7 == 0) "" else s"s-${k * 13 % 17}-ü"))
  }

  test("sidecars equal the re-read aggregates: nulls, NaN, every zone " +
      "type, an all-null file") {
    val st = new TableStore(spark, tmpDir("filestats-"))
    st.create("t", wide, zoneCols = wide.fieldNames.toSeq,
      bloomCols = Seq("k", "i", "s"), bloomItems = 500)
    val rows = (1L to 60L).map(wideRow)
    // one file of rows whose nullable columns are all null
    val allNull = (1L to 4L).map(i => wideRow(100L + 5 * i))
    st.append("t", spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), wide))
    var seen = check(st, "t")
    st.append("t", spark.createDataFrame(
      spark.sparkContext.parallelize(allNull, 1), wide))
    seen = check(st, "t", seen)
    // a table with neither zone nor bloom columns records row counts
    st.create("plain", wide)
    st.append("plain", spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), wide))
    check(st, "plain")
  }

  test("sidecars equal the re-read aggregates: nested zone columns") {
    val st = new TableStore(spark, tmpDir("filestats-"))
    val df = spark.range(0, 40, 1, 2).select(col("id").as("k"),
      struct((col("id") % 9).cast("int").as("x"),
        when(col("id") % 4 =!= 0, concat(lit("y"), col("id"))).as("y"),
        struct(when(col("id") % 3 =!= 0, col("id") / 3.0).as("w")).as("z"))
        .as("a"))
    st.create("n", df.schema, zoneCols = Seq("k", "a.x", "a.y", "a.z.w"),
      bloomCols = Seq("k"))
    st.append("n", df)
    check(st, "n")
  }

  test("sidecars equal the re-read aggregates: widened types") {
    val st = new TableStore(spark, tmpDir("filestats-"))
    def df(from: Long) = (from until from + 30).map(k =>
      (k, (k % 13).toInt, if (k % 5 == 0) Float.NaN else k / 4.0f))
      .toDF("k", "i", "f")
    st.create("w", df(0).schema, zoneCols = Seq("k", "i", "f"),
      bloomCols = Seq("k"))
    st.append("w", df(0))
    var seen = check(st, "w")
    st.widenColumn("w", "i", LongType)
    st.widenColumn("w", "f", DoubleType)
    st.append("w", df(100).select(col("k"), col("i").cast("long"),
      col("f").cast("double")))
    seen = check(st, "w", seen)
    // a compaction rewrites the int/float files under the wide types
    st.compact("w", 1)
    check(st, "w", seen)
  }

  test("sidecars equal the re-read aggregates: partitioned tables") {
    val st = new TableStore(spark, tmpDir("filestats-"))
    val df = spark.range(0, 80, 1, 3).select(col("id").as("k"),
      (col("id") % 3).cast("int").as("p"),
      when(col("id") % 5 =!= 0, concat(lit("v"), col("id"))).as("v"))
    // an identity partition column as a zone column has no values in
    // the files: its stats read null, as the aggregate over the file does
    st.create("ip", df.schema, partitionBy = Seq("p"),
      zoneCols = Seq("k", "p", "v"), bloomCols = Seq("k", "v"))
    st.append("ip", df)
    check(st, "ip")
    st.create("hp", df.schema, partitionBy = Seq("bucket(4,k)"),
      zoneCols = Seq("k", "v"), bloomCols = Seq("k"))
    st.append("hp", df)
    check(st, "hp")
  }

  test("sidecars equal the re-read aggregates after every commit path: " +
      "CoW and MoR applyNet, merge, SQL row-level writes, compaction") {
    val root = tmpDir("filestats-")
    val st = new TableStore(spark, root)
    def rows(ks: Seq[Long], tag: String): DataFrame =
      ks.map(k => (k, if (k % 6 == 0) null else s"$tag$k", k % 4))
        .toDF("k", "v", "g")
    st.create("c", rows(Nil, "").schema, zoneCols = Seq("k", "v", "g"),
      bloomCols = Seq("k", "v"))
    st.append("c", rows(0L until 50L, "a").repartition(2))
    var seen = check(st, "c")
    st.applyNet("c", Seq(3L, 4L, 60L).toDF("k"), rows(Seq(4L, 60L), "b"),
      Seq("k"))
    seen = check(st, "c", seen)
    st.merge("c", rows(Seq(5L, 61L), "m"), Seq("k"), Seq("v", "g"))
    seen = check(st, "c", seen)
    spark.conf.set("spark.sql.catalog.gfs", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfs.root", root)
    spark.sql("UPDATE gfs.c SET v = 'u' WHERE k = 7")
    seen = check(st, "c", seen)
    spark.sql("""MERGE INTO gfs.c t USING (SELECT 8L AS k, 'mm' AS v,
      0L AS g) s ON t.k = s.k WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    seen = check(st, "c", seen)
    st.setProperties("c", Map("write.merge.mode" -> Some("merge-on-read")))
    st.applyNet("c", Seq(9L, 70L).toDF("k"), rows(Seq(70L), "r"), Seq("k"))
    seen = check(st, "c", seen)
    st.compact("c", 1)
    check(st, "c", seen)
    // 0..49 − {3} + {60} + {61} − {9} + {70}
    assert(st.read("c").count() === 51L)
  }
}

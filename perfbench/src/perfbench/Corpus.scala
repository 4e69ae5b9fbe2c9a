package perfbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Dedup, PortableHash, Similarity, Text}
import graft.tables.TableStore

/** `corpus_pipeline`: repeated batch passes over a seeded corpus stored as
  * a graft table (~10% exact duplicates, ~20% near duplicates made by
  * two-token edits, shared boilerplate lines, PII-shaped strings, a few
  * low-quality documents, seeded embeddings). One pass: per-line normalize
  * and PII redaction → `Text.removeBoilerplate` → `Text.gopherFlags` filter
  * → `Dedup.cleanCorpus` → `Text.tfidfTopTerms` → `Similarity.semDedup` →
  * overwrite an output table; the output is then read back, hashed and
  * checked twenty times. */
final class Corpus extends Workload {
  val Docs = 700
  val ReadsPerPass = 20
  val CycleS = 9.0
  val BoilerplateMinDocs = 8
  val TopTerms = 5
  val SemTau = 0.9
  val In = "corpus"
  val Out = "clean"

  private var root: Path = _
  private var store: TableStore = _
  private var docs: IndexedSeq[Doc] = _
  private var firstHash: Option[(Long, Long)] = None
  private var disk = 0.0
  private var docsDone = 0L
  private var nearDupRatio: Option[Double] = None

  def prepare(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    root = dir.resolve("tables")
    store = new TableStore(spark, root.toString)
    docs = CorpusGen.generate(ctx.seed, Docs)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("text", StringType),
      StructField("embedding", ArrayType(DoubleType))))
    val rows = docs.map(d => Row(d.docId, d.source, d.text, d.embedding.toSeq))
    store.create(In, schema)
    store.append(In, spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema).repartition(4))
    store.create(Out, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("top_terms", ArrayType(StringType)))))
  }

  def warmUp(ctx: Ctx): Unit = cycle(ctx)

  def timedCycles(seconds: Int): Int = Harness.cyclesFor(seconds, CycleS)

  private val failing = Seq("fail_word_count", "fail_mean_wlen", "fail_symbol",
    "fail_alpha", "fail_stopword").map(col).reduce(_ || _)

  private def normalized(input: DataFrame): DataFrame =
    input.select(col("doc_id"), col("source"),
      array_join(transform(split(col("text"), "\n"),
        l => Text.redactPiiFull(Text.normalize(l))), "\n").as("text"))

  private def stripped(norm: DataFrame): DataFrame =
    Text.removeBoilerplate(norm, minDocs = BoilerplateMinDocs)
      .join(norm.select("doc_id", "source"), "doc_id")
      .select(col("doc_id"), col("source"), col("clean_text").as("text"))

  private def quality(docs: DataFrame): DataFrame =
    docs.join(Text.gopherFlags(docs).filter(!failing).select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** One pass. Each stage's result is persisted, as a pipeline reusing
    * intermediate results would; untraced, a stage materializes when the
    * next one first reads it, so the stages run fused. With `traced`, each
    * stage is also counted inside a span named after it. The persisted
    * frames go to `held`. */
  def pipeline(ctx: Ctx, input: DataFrame, traced: Boolean,
      held: ArrayBuffer[DataFrame]): DataFrame = {
    def stage(name: String)(df: => DataFrame): DataFrame =
      ctx.tracer.span(name) {
        val p = df.persist()
        if (traced) p.count()
        held += p
        p
      }
    val norm = stage("ops.clean")(normalized(input))
    val good = stage("ops.quality")(quality(stage("ops.boilerplate")(stripped(norm))))
    val deduped = stage("ops.near_dup") {
      Dedup.cleanCorpus(good.select("doc_id", "text"), dedupThreshold = 0.5)
    }
    val terms = stage("ops.tfidf") {
      Text.tfidfTopTerms(deduped, TopTerms)
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("rank"), col("term")))).as("t"))
        .select(col("doc_id"), col("t.term").as("top_terms"))
    }
    val kept = stage("ops.sem_dedup") {
      val emb = input.join(deduped.select("doc_id"), Seq("doc_id"), "left_semi")
        .select(col("doc_id").as("vec_id"), col("embedding"))
      Similarity.semDedup(emb, tau = SemTau).filter(!col("is_dup"))
        .select(col("vec_id").as("doc_id"))
    }
    deduped.join(kept, Seq("doc_id"), "left_semi")
      .join(terms, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"), col("top_terms"))
  }

  def cycle(ctx: Ctx): Unit = {
    val tr = ctx.tracer
    val held = ArrayBuffer.empty[DataFrame]
    val outDir = root.resolve(Out)
    val (v0, live0, files0) =
      if (tr.enabled) (store.currentVersion(Out), store.currentRelPaths(Out).toSet,
        Harness.files(outDir))
      else (0, Set.empty[String], Set.empty[String])
    val ms = ctx.op("op.pass", ctx.ackMs) {
      store.overwrite(Out, pipeline(ctx, store.read(In), tr.enabled, held))
      if (tr.enabled) Harness.commitAttrs(tr, store, Out, outDir, v0, live0, files0)
    }(_ => None)
    held.foreach(_.unpersist(blocking = true))
    if (ms.isDefined && ctx.timed) {
      docsDone += Docs
      if (disk == 0) disk = Harness.dirBytes(root.resolve(Out)).toDouble /
        math.max(1L, store.rowCount(Out).getOrElse(0L))
    }
    (1 to ReadsPerPass).foreach { _ =>
      ctx.op("op.read.scan", ctx.reads("scan")) {
        val df = store.read(Out)
        val rows = df.collect()
        tr.plan(df.queryExecution)
        tr.attr("rows", rows.length)
        rows
      }(verify)
    }
  }

  /** Planted exact duplicates are gone, planted unique documents survive,
    * and every pass of a run writes the same content. */
  private def verify(rows: Array[Row]): Option[String] = {
    val ids = rows.map(_.getLong(0)).toSet
    val exactLeft = docs.filter(d => d.kind == "exact" && ids(d.docId))
    val uniqueLost = docs.filter(d => d.kind == "unique" && !ids(d.docId))
    var h = 0L
    rows.foreach { r =>
      val terms = if (r.isNullAt(2)) "" else r.getSeq[String](2).mkString(",")
      h += Gen.mix(s"${r.getLong(0)}|${r.getString(1)}|$terms".hashCode.toLong)
    }
    val hash = (h, rows.length.toLong)
    if (firstHash.isEmpty) firstHash = Some(hash)
    if (exactLeft.nonEmpty)
      Some(s"${exactLeft.size} planted exact duplicates survived, e.g. doc " +
        s"${exactLeft.head.docId} (copy of ${exactLeft.head.origin})")
    else if (uniqueLost.nonEmpty)
      Some(s"${uniqueLost.size} planted unique docs were dropped, e.g. doc " +
        s"${uniqueLost.head.docId}")
    else if (firstHash.get != hash)
      Some(s"output hash $hash differs from the first pass's ${firstHash.get}")
    else None
  }

  def finish(ctx: Ctx): Unit = {
    println(s"[perfbench] corpus output hash ${firstHash.map(_._1).getOrElse(0L)} " +
      s"rows ${firstHash.map(_._2).getOrElse(0L)}")
    if (ctx.tracer.enabled) nearDupRatio = Some(nearDupYield(ctx))
  }

  /** Verified near-duplicate pairs per LSH candidate pair on the
    * quality-filtered corpus: candidates from `Dedup.bucketPairs` over the
    * same 16×4 MinHash banding `Dedup.cleanCorpus` uses, verified pairs
    * from `Dedup.minhashNearDups`. */
  private def nearDupYield(ctx: Ctx): Double = ctx.tracer.span("ops.near_dup.probe") {
    val base = quality(stripped(normalized(store.read(In))))
      .select("doc_id", "text").persist()
    val toks = base.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), Dedup.shinglesFromToks(col("toks")).as("sh"))
      .select(col("doc_id"), explode_outer(col("sh")).as("s"))
      .select(col("doc_id"), PortableHash.h31(col("s")).as("h"))
    val aggs = Dedup.minhashAggs(col("h"), 64)
    val sig = toks.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val buckets = sig.select(col("doc_id"), explode_outer(array((0 until 16).map { b =>
      lit(b.toLong) * lit(4294967296L) +
        PortableHash.combine((0 until 4).map(r => col(s"mh${b * 4 + r}")))
    }: _*)).as("bucket"))
    val candidates = Dedup.bucketPairs(buckets, Seq("bucket")).count()
    val verified = Dedup.minhashNearDups(base, 0.5).count()
    base.unpersist()
    Stats.ratio(verified, candidates)
  }

  def itemsPerS(ctx: Ctx, wallS: Double): Double = Stats.ratio(docsDone, wallS)
  def diskBytesPerRow: Double = disk

  def layerMetrics(ctx: Ctx, r: Reduce): Map[String, Double] = {
    val passes = r.named("op.pass")
    def stageS(name: String) = Stats.median(passes.flatMap(p =>
      r.subtree(p).filter(_.name == name).map(_.durMs / 1000)))
    val shuffle = passes.flatMap(p => r.stagesOf(r.jobsUnder(p))).map(_.shuffleWrite).sum
    Map(
      "ops.clean.s" -> stageS("ops.clean"),
      "ops.boilerplate.s" -> stageS("ops.boilerplate"),
      "ops.quality.s" -> stageS("ops.quality"),
      "ops.near_dup.s" -> stageS("ops.near_dup"),
      "ops.tfidf.s" -> stageS("ops.tfidf"),
      "ops.sem_dedup.s" -> stageS("ops.sem_dedup"),
      "ops.near_dup.verified_per_candidate" -> nearDupRatio.getOrElse(0.0),
      "ops.shuffle_bytes_per_doc" -> Stats.ratio(shuffle, Docs.toDouble * passes.size))
  }
}

package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made `Column` backend-agnostic and
  * hid the classic conversions behind `private[sql]`; the standard pattern
  * for libraries contributing native Catalyst expressions is a shim in an
  * `org.apache.spark.sql` subpackage.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (resolved) logical plan — the constructor custom
    * LogicalPlan operators need; `Dataset.ofRows` went `private[sql]`. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Streaming-tagged frame over a batch plan's executed RDD — what a V1
    * streaming `Source.getBatch` must return (MicroBatchExecution asserts
    * `isStreaming`; `internalCreateDataFrame` went `private[sql]`). */
  def streamingFrame(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** Batch-tagged frame over an already-planned streaming micro-batch:
    * what a V1 streaming `Sink.addBatch` needs to hand the batch to a
    * normal batch writer — re-using the incremental execution's RDD
    * instead of re-planning the streaming frame (which batch write
    * paths refuse). */
  def batchFrame(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = false)
  }

  /** `df` executed once, its rows persisted: the frame over them and the
    * RDD to unpersist. Planning and the shuffles run now; the rows are
    * computed and kept by the first action on the frame. This is a
    * lazy `localCheckpoint` the caller can release: the rows keep the
    * partitioning adaptive execution gives a plain action (a small
    * batch coalesces to one partition, so a write from it lands one
    * file — `Dataset.cache()` keeps the shuffles' configured partition
    * count), and the frame keeps `df`'s size estimate, so joins against
    * it plan as they did against `df`. */
  def persisted(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame,
        org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val rows = ds.queryExecution.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(rows, ds,
        isStreaming = false)), rows)
  }

  /** Register an extra planner strategy on a live session (idempotent) —
    * the runtime path for sessions built without withExtensions. */
  def addStrategy(spark: org.apache.spark.sql.SparkSession,
      s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }

  /** Register an extra optimizer rule on a live session (idempotent) —
    * same runtime path as [[addStrategy]], for `Rule[LogicalPlan]`s. */
  def addOptimization(spark: org.apache.spark.sql.SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(r))
      cs.experimental.extraOptimizations = cs.experimental.extraOptimizations :+ r
  }

  /** `df.write.partitionBy(partCols: _*).parquet(dir)` through Spark's
    * own `FileFormatWriter`, with `trackers` seeing every row of every
    * file the tasks write — the hook `DataFrameWriter` does not expose.
    * Planning, sort-by-partition and commit protocol are the ones the
    * plain writer uses; the output directory must not exist yet. */
  def writeParquet(df: org.apache.spark.sql.DataFrame, dir: String,
      partCols: Seq[String],
      trackers: Seq[org.apache.spark.sql.execution.datasources.WriteJobStatsTracker])
      : Unit = {
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.FileFormatWriter
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val hconf = cs.sessionState.newHadoopConf()
    val out = new org.apache.hadoop.fs.Path(dir)
    val qualified = out.getFileSystem(hconf).makeQualified(out).toString
    val committer = org.apache.spark.internal.io.FileCommitProtocol.instantiate(
      cs.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID().toString, qualified)
    SQLExecution.withNewExecutionId(qe, Some("parquet write")) {
      val plan = qe.executedPlan
      val partAttrs = partCols.map(c => plan.output.find(_.name == c)
        .getOrElse(throw new IllegalArgumentException(s"no column $c to partition by")))
      FileFormatWriter.write(cs, plan,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        committer, FileFormatWriter.OutputSpec(qualified, Map.empty, plan.output),
        hconf, partAttrs, None, trackers, Map.empty)
    }
    ()
  }
}

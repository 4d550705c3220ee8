package org.apache.spark.sql.graft

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.{FileFormat, FileFormatWriter,
  V1WriteCommand, V1WritesUtils, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Re-export of the `private[sql]` V1-streaming-fallback table hook: a
  * DSv2 Table implementing this resolves `readStream.table(...)` /
  * `writeStream.toTable(...)` through its [[v1Table]]'s provider (the
  * registered V1 Source/Sink) when it lacks MICRO_BATCH_READ /
  * STREAMING_WRITE — the exact mechanism Delta Lake ships catalog
  * streaming through. Implemented by [[graft.sources.GraftV2Table]]. */
trait V1FallbackTable
    extends org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback

/** Access bridge for `private[sql]` internals — the supported pattern for
  * libraries that register native Catalyst expressions and custom relations
  * without going through string-parsed surfaces. Kept to a handful of minimal
  * forwarders (Column↔Expression, LogicalPlan→DataFrame for mounting the
  * partition-pruning [[graft.read.GraftFileIndex]] relation, and the two
  * batch↔streaming frame re-mounts the V1 Source/Sink contracts need);
  * everything else in this project lives under the `graft` namespace. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Column → SQL text. [[expression]] returns a LAZY node wrapper whose
    * `.sql` renders as the useless `columnnodeexpression()`; this runs
    * the real node→expression conversion first, so the rendering is the
    * resolvable SQL of the column's tree (what the persisted-model
    * sidecar stores). */
  def columnSql(c: Column): String =
    classic.ColumnNodeToExpressionConverter(c.node).sql

  /** The column name when `c` is a bare single-part column reference
    * (`col("k")`, `$"k"`, `df("k")`); None for any expression, nested
    * field or qualified reference. */
  def bareColumnName(c: Column): Option[String] =
    classic.ColumnNodeToExpressionConverter(c.node) match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length == 1 => Some(a.nameParts.head)
      case _ => None
    }

  /** V2 connector Predicates → their V1 `Filter` renderings (the subset
    * that has one) — `private[sql]` in Spark; used by the DSv2 scan to
    * keep expression predicates feeding the metadata-aggregate path's
    * exact partition evaluation. */
  def predicatesToV1(
      ps: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(ps)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df.write.partitionBy(partitionBy: _*).parquet(path)` with extra
    * write stats `trackers`: the same planned write (sort on the partition
    * columns unless `df` already orders by them, empty-string partition
    * values written as nulls, the write's SQL metrics) in one SQL
    * execution, with the trackers handed to `FileFormatWriter.write`
    * beside Spark's basic one. `options` are parquet write options. */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String],
      options: Map[String, String],
      trackers: Seq[WriteJobStatsTracker]): Unit = {
    val query = df.queryExecution.analyzed
    ofRows(df.sparkSession, ParquetWriteCommand(query, path,
      partitionBy.map(c => query.output.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no column $c to partition by"))),
      options, trackers, query.output.map(_.name)))
  }

  /** Tag a batch plan's rows as a streaming micro-batch — the V1
    * Source.getBatch contract (the same internalCreateDataFrame path
    * FileStreamSource takes). */
  def streamingDataFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** Re-mount `df` with a per-row OBSERVER run while the frame
    * materializes — used by [[graft.pipeline.Dedup.clusters]] to fold
    * its convergence count into the round's checkpoint pass instead of
    * paying a separate job per iteration. The observer sees the
    * UnsafeRow BEFORE any defensive copy (read-only peek; Dataset's own
    * checkpoint path copies downstream). */
  def observedDataFrame(spark: SparkSession, df: DataFrame)(
      observe: org.apache.spark.sql.catalyst.InternalRow => Unit)
      : DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val rdd = df.queryExecution.toRdd.mapPartitions { it =>
      it.map { r => observe(r); r }
    }
    s.internalCreateDataFrame(rdd, df.schema, isStreaming = false)
  }

  /** Exact save/restore of the SparkContext checkpoint dir (the public
    * `setCheckpointDir` nests a fresh UUID dir under its argument on every
    * call, so restoring through it would drift the location deeper; the
    * raw private[spark] var is the only faithful restore point). Used by
    * [[graft.pipeline.Dedup.clusters]]'s scoped reliable-checkpoint mode. */
  def rawCheckpointDir(sc: org.apache.spark.SparkContext): Option[String] =
    sc.checkpointDir
  def restoreRawCheckpointDir(sc: org.apache.spark.SparkContext,
      dir: Option[String]): Unit =
    sc.checkpointDir = dir

  /** Spark's own parquet read pipeline (`private[sql]
    * FileFormat.buildReaderWithPartitionValues`) as a serializable
    * per-file reader function — the exact vectorized/pushdown-enabled
    * machinery FileSourceScanExec ships to executors, reused by the
    * native DSv2 batch scan ([[graft.sources]]) instead of
    * re-implementing a parquet decoder. The returned iterators may yield
    * `ColumnarBatch`es disguised as rows when the vectorized reader
    * elects batches (the same unsafe contract FileScanRDD consumes);
    * callers flatten via [[flattenBatches]]. */
  def parquetReadFunc(spark: SparkSession,
      dataSchema: org.apache.spark.sql.types.StructType,
      requiredSchema: org.apache.spark.sql.types.StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(
        spark.asInstanceOf[classic.SparkSession], dataSchema,
        org.apache.spark.sql.types.StructType(Nil), requiredSchema,
        filters, options, hadoopConf)

  /** The option key the parquet reader REQUIRES to know whether the
    * caller consumes `ColumnarBatch`es or rows (`private[sql]`
    * `FileFormat.OPTION_RETURNING_BATCH`). */
  def returningBatchKey: String =
    org.apache.spark.sql.execution.datasources.FileFormat
      .OPTION_RETURNING_BATCH

  /** Row-ify a reader-function output stream: vectorized parquet readers
    * yield `ColumnarBatch` objects through the row-typed iterator (the
    * FileScanRDD contract); downstream row consumers flatten them. */
  def flattenBatches(
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow])
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    it.asInstanceOf[Iterator[Object]].flatMap {
      case b: org.apache.spark.sql.vectorized.ColumnarBatch =>
        scala.jdk.CollectionConverters.IteratorHasAsScala(b.rowIterator())
          .asScala
      case r =>
        Iterator.single(r.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
    }

  /** Drain the listener bus (private[spark]) — lets tests assert on
    * listener-observed facts (e.g. "this operation launched zero jobs")
    * without sleeps. */
  def waitForListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The inverse direction, for V1 STREAMING SINKS: `Sink.addBatch` hands
    * over a frame wrapping the already-planned IncrementalExecution whose
    * LOGICAL plan still carries streaming sources, so any new
    * transformation on it trips the streaming-plan checker. Re-mounting
    * the planned rows as a plain batch frame (rows copied out of the
    * reused unsafe buffers) lets the sink run ordinary batch writes —
    * the standard V1-sink pattern. */
  def sinkBatchDataFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.internalCreateDataFrame(df.queryExecution.toRdd.map(_.copy()),
      df.schema, isStreaming = false)
  }
}

/** The write command behind [[Bridge.writeParquet]]: a plain partitioned
  * parquet write (what `InsertIntoHadoopFsRelationCommand` runs for a new
  * path) whose `FileFormatWriter.write` also carries the caller's stats
  * trackers. */
private[graft] case class ParquetWriteCommand(
    query: LogicalPlan,
    outputPath: String,
    partitionColumns: Seq[Attribute],
    options: Map[String, String],
    trackers: Seq[WriteJobStatsTracker],
    outputColumnNames: Seq[String]) extends V1WriteCommand {

  override val fileFormat: FileFormat = new ParquetFileFormat
  override def staticPartitions: Map[String, String] = Map.empty
  override def bucketSpec: Option[BucketSpec] = None
  override def requiredOrdering: Seq[SortOrder] =
    V1WritesUtils.getSortOrder(outputColumns, partitionColumns, bucketSpec,
      options)

  override def run(spark: classic.SparkSession, child: SparkPlan): Seq[Row] = {
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID().toString, outputPath = outputPath)
    FileFormatWriter.write(spark, child, fileFormat, committer,
      FileFormatWriter.OutputSpec(outputPath, Map.empty, outputColumns),
      hadoopConf, partitionColumns, bucketSpec,
      basicWriteJobStatsTracker(hadoopConf) +: trackers, options)
    Seq.empty
  }

  override protected def withNewChildInternal(
      newChild: LogicalPlan): ParquetWriteCommand = copy(query = newChild)
}

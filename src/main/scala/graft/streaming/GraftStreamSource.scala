package graft.streaming

import graft.format.Timeline
import graft.read.{GraftFileIndex, IncrementalReader, SnapshotReader}
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StringType, StructType}

/** `spark.readStream.format("graft").load(tablePath)` — the table
  * change-stream as a FIRST-CLASS Structured Streaming source (registered
  * via META-INF/services, shortName `graft`), replacing the manual
  * [[TableTail.drainOnce]] + staging-directory bridge.
  *
  * Offsets are commit timestamps: `getOffset` is a driver-side timeline
  * listing (O(#instants) metadata), and each micro-batch is the PLANNED
  * incremental read of `(lastCommitted, newest]` — only the file groups
  * those commits wrote enter the plan, with the commit-time filter pushed
  * to parquet row-group stats. The engine's offset log gives exactly-once
  * per commit range across restarts (same contract as the file source's
  * file log, with the commit ts as the offset).
  *
  * Extension-point choice: this is the same V1 `Source` interface Spark's
  * own FileStreamSource uses, NOT a DSv2 `MicroBatchStream` — deliberately.
  * A DSv2 micro-batch source must produce rows from its own
  * `PartitionReader`, which would mean re-planning the commit-range
  * pruning, parquet scan and MOR merge per partition;
  * `Source.getBatch` instead returns the incremental read's full
  * DECLARATIVE plan (pruning, pushdown, merge, schema resolution all
  * shared with the batch surface, SURVEY.md §7.2). The engine consumes
  * both interfaces through the same SparkDataStream contract.
  *
  * Spark's built-in file source cannot do this: a COW commit REWRITES
  * slices, so carried-over rows would re-appear as input; the commit
  * timeline is the only correct change log.
  */
final class GraftSourceProvider extends StreamSourceProvider
    with RelationProvider with CreatableRelationProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  /** Batch write surface: `df.write.format("graft").option("key", …)
    * .option("partition", …).mode(…).save(tablePath)` — see
    * [[graft.write.FormatWriter]] for options and mode semantics. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val basePath = GraftSourceProvider.path(parameters)
    graft.write.FormatWriter.write(sqlContext.sparkSession, basePath, mode,
      parameters, data)
    createRelation(sqlContext, parameters)
  }

  /** Streaming sink surface: `writeStream.format("graft")` — one commit
    * per micro-batch, exactly-once via batch ids recorded in commit
    * metadata ([[graft.write.GraftStreamSink]]). Append output mode only
    * (a table upsert IS an append of changes; Update/Complete modes would
    * re-emit aggregated state the table contract doesn't model). */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft sink supports Append output mode only, got $outputMode")
    new graft.write.GraftStreamSink(sqlContext.sparkSession,
      GraftSourceProvider.path(parameters), parameters)
  }

  /** Batch side of the format surface: `spark.read.format("graft")
    * .load(tablePath)`. Options: `asOf` (time travel, ≤ commit ts).
    *
    * Delta-free snapshots (COW tables, compacted MOR — the common serving
    * state) mount the base slices through the partition-pruning
    * [[GraftFileIndex]] relation: full Catalyst file-source planning,
    * predicates on `_hoodie_partition_path` prune at listing time, schema
    * from commit metadata. NB: that relation's column order is data columns
    * then the partition column (the lakehouse-format layout).
    *
    * Snapshots with OUTSTANDING MOR deltas (r6) route to
    * [[graft.read.GraftMorRelation]] — the MOR merge planned behind the
    * same surface, with pushed partition predicates pruning the file-GROUP
    * set on BOTH merge sides before planning (writer-canonical column
    * order, matching `GraftTable.snapshot()`). The format surface is total:
    * every table state a `GraftTable` can read, `format("graft")` can too. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val basePath = GraftSourceProvider.path(parameters)
    val asOf = parameters.get("asOf")
    val timeline = Timeline(spark.sessionState.newHadoopConf(), basePath)
    // ts params are validated against the table's fixed ts width up front:
    // lexicographic range comparisons silently misorder mixed widths.
    Seq("asOf", "from", "to", "deleteView").foreach(n =>
      parameters.get(n).foreach(timeline.validateTsParam(n, _)))
    // `readOptimized=true` (r7 tail) = Hudi's RO query: base files only,
    // outstanding deltas skipped — snapshot/asOf shapes only.
    val readOptimized = parameters.get("readOptimized").exists(_.toBoolean)
    require(!readOptimized || (!parameters.contains("from") &&
      !parameters.contains("to") && !parameters.contains("cdc") &&
      !parameters.contains("deleteView")),
      "readOptimized applies to snapshot/asOf reads only " +
        "(not deleteView/from/to/cdc)")
    // `deleteView` = the rows DELETED by that commit (the reference's core
    // capability, materialized-once/served-cached) — r6.
    parameters.get("deleteView").foreach { ts =>
      require(asOf.isEmpty && !parameters.contains("from") &&
        !parameters.contains("to"),
        "deleteView is mutually exclusive with asOf/from/to")
      return new graft.read.GraftDeleteViewRelation(spark, basePath, ts)
    }
    // `from` (+ optional `to`, default newest commit) = INCREMENTAL read:
    // current state of records written in (from, to] — r6, the batch twin
    // of the streaming source's micro-batch ranges.
    require(parameters.contains("from") || !parameters.contains("to"),
      """option "to" requires option "from" (the incremental range is """ +
        "(from, to]); for a historical snapshot use asOf")
    // `cdc=true` (+ from/to) = CHANGE feed: every row-level change in
    // (from, to] tagged _change_type/_change_commit_ts — r7 tail.
    // `cdcPreImages=true` also emits update_preimage rows (Delta CDF
    // analog; what sum-maintaining consumers subtract).
    val cdc = parameters.get("cdc").exists(_.toBoolean)
    val cdcPre = parameters.get("cdcPreImages").exists(_.toBoolean)
    require(!cdc || parameters.contains("from"),
      """option "cdc" requires option "from" (the change range is (from, to])""")
    require(!cdcPre || cdc, """option "cdcPreImages" requires "cdc"""")
    parameters.get("from").foreach { from =>
      require(asOf.isEmpty, "asOf and from/to are mutually exclusive")
      val to = parameters.getOrElse("to",
        timeline.completedInstants().lastOption.map(_.ts).getOrElse(
          throw new IllegalArgumentException(s"empty table at $basePath")))
      // Schemas from commit metadata (the writers keep the newest record a
      // superset of every live file's schema, and the range plan's columns
      // equal that union minus the delete marker)
      if (cdc)
        return new graft.read.GraftChangeFeedRelation(spark, basePath,
          from, to, graft.read.ChangeFeed.schema(timeline, to),
          preImages = cdcPre)
      return new graft.read.GraftIncrementalRelation(spark, basePath,
        from, to, timeline.tableSchema(Some(to)))
    }
    val listed = timeline.latestSlices(asOf).values.toSeq
    val slices =
      if (readOptimized) listed.map(_.copy(deltas = Seq.empty)) else listed
    require(slices.nonEmpty, s"empty table (no slices) at $basePath")
    if (slices.forall(_.deltas.isEmpty)) {
      val partFiles = slices.filter(_.relPath.nonEmpty)
        .groupBy(_.partitionPath).toSeq.sortBy(_._1)
        .map { case (p, ss) => p -> ss.flatMap(_.relPath)
          .map(rp => s"$basePath/$rp") }
      // base-file schema from commit metadata, as in SnapshotReader
      val schema = timeline
        .schema(asOf, Some(graft.format.Instant.CommitAction)).get
      GraftFileIndex.relation(spark, basePath, partFiles, schema,
        fileStats = timeline.fileColStats(slices),
        buckets = SnapshotReader.recordedBuckets(timeline, asOf))
    } else {
      // Outstanding deltas: the merged snapshot's schema is the table
      // schema minus the delta-side delete marker — REORDERED to the same
      // partition-column-last layout the delta-free FileIndex relation
      // reports, so a catalog table's stored schema stays valid as the
      // table moves between delta-free and delta-carrying states.
      val resolved = timeline.tableSchema(asOf)
      val schema = StructType(
        resolved.filterNot(_.name == graft.format.MetaCols.PartitionPath) ++
          resolved.filter(_.name == graft.format.MetaCols.PartitionPath))
      new graft.read.GraftMorRelation(spark, basePath, asOf, schema,
        initialTimeline = Some(timeline))
    }
  }

  /** Streaming source schema: the table schema, plus the two CDC tag
    * columns when `cdc=true` (each micro-batch is then the CHANGE feed of
    * its commit range instead of the incremental current-state read). */
  private def streamSchema(sqlContext: SQLContext,
      schema: Option[StructType],
      parameters: Map[String, String]): StructType = {
    val base = schema.getOrElse(GraftSourceProvider.tableSchema(
      sqlContext.sparkSession, GraftSourceProvider.path(parameters)))
    if (parameters.get("cdc").exists(_.toBoolean) &&
        !base.fieldNames.contains(graft.read.ChangeFeed.ChangeType))
      StructType(base.fields.toSeq :+
        org.apache.spark.sql.types.StructField(
          graft.read.ChangeFeed.ChangeType, StringType) :+
        org.apache.spark.sql.types.StructField(
          graft.read.ChangeFeed.ChangeCommitTs, StringType))
    else base
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), streamSchema(sqlContext, schema, parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    require(!parameters.contains("to"),
      """the streaming tail has no end commit — drop option "to" (bound """ +
        "a run with Trigger.AvailableNow, or use the batch from/to read)")
    parameters.get("from").foreach(f =>
      Timeline(sqlContext.sparkSession.sessionState.newHadoopConf(),
        GraftSourceProvider.path(parameters)).validateTsParam("from", f))
    new GraftTailSource(sqlContext.sparkSession,
      GraftSourceProvider.path(parameters),
      streamSchema(sqlContext, schema, parameters),
      cdc = parameters.get("cdc").exists(_.toBoolean),
      maxCommitsPerBatch = parameters.get("maxCommitsPerBatch").map { s =>
        val n = s.toInt
        require(n >= 1, "maxCommitsPerBatch must be >= 1")
        n
      },
      // Same option name and EXCLUSIVE semantics as the batch incremental
      // read: tail only commits strictly AFTER this ts (default "0" = the
      // whole history). Only consulted on a fresh checkpoint — a restart
      // resumes from the engine's offset log, as with every source.
      startAfter = parameters.getOrElse("from", "0"))
  }
}

object GraftSourceProvider {
  private def path(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft source requires a table path: .load(tablePath)"))

  /** Current table schema (without the MOR delete-marker column), from
    * commit metadata. */
  private def tableSchema(spark: SparkSession, basePath: String): StructType =
    Timeline(spark.sessionState.newHadoopConf(), basePath).tableSchema(None)
}

/** V1 streaming offset carrying a commit timestamp (json == the ts).
  *
  * Offsets are compared as STRINGS (against each other and the `"0"`
  * initial sentinel); this is sound because `Timeline.saveCommit` validates
  * every commit ts as fixed-width digits per table, so lexicographic order
  * == numeric order and `"0"` (width 1) sorts before any real ts. */
final case class CommitOffset(ts: String) extends Offset {
  override val json: String = ts
}

object CommitOffset {
  /** Engine-side offsets come back as SerializedOffset after a checkpoint
    * restart — the json IS the ts either way. */
  def tsOf(o: Offset): String = o match {
    case CommitOffset(t) => t
    case other => other.json
  }
}

/** @param maxCommitsPerBatch Some(n): RATE LIMIT — each micro-batch covers
  *        at most n commits (the commit-count analog of the file source's
  *        maxFilesPerTrigger), bounding per-trigger read size. Carried by
  *        the `SupportsAdmissionControl` surface (the FileStreamSource
  *        pattern): the engine hands `latestOffset(start, …)` the exact
  *        committed cursor, so bounded progression is correct from the
  *        first batch AND across restarts. */
private[streaming] final class GraftTailSource(spark: SparkSession,
    basePath: String, override val schema: StructType,
    cdc: Boolean = false,
    maxCommitsPerBatch: Option[Int] = None,
    startAfter: String = "0") extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => ConnOffset, ReadLimit}

  private def commitsNow(): Seq[String] =
    Timeline(spark.sessionState.newHadoopConf(), basePath)
      .completedInstants().map(_.ts)

  // Trigger.AvailableNow target. Implemented DIRECTLY (the FileStreamSource
  // pattern) instead of letting the engine wrap this source: the wrapper
  // snapshots the source's NEXT offset as the terminal target, which under
  // maxCommitsPerBatch would be one bounded step — the query would stop
  // after a single batch instead of draining in bounded steps.
  @volatile private var availableTarget: Option[String] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableTarget = commitsNow().lastOption

  // Available commits, capped by the AvailableNow target when one is set.
  private def available(): Seq[String] = {
    val listed = commitsNow()
    availableTarget.fold(listed)(t => listed.filter(_ <= t))
  }

  /** Admission-control path (preferred by the engine when implemented):
    * `start` is the exact committed cursor — advance by at most
    * `maxCommitsPerBatch` commits. The `limit` argument expresses row/file
    * units, not commits, so the commit cap is applied here directly. */
  override def latestOffset(start: ConnOffset, limit: ReadLimit): ConnOffset = {
    val cur = start match {
      case null => startAfter
      case c: CommitOffset => c.ts
      case other => other.json()
    }
    val pending = available().filter(_ > cur)
    maxCommitsPerBatch.fold(pending)(pending.take(_))
      .lastOption.map(CommitOffset(_))
      .getOrElse(if (cur == startAfter) null else CommitOffset(cur))
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): ConnOffset = CommitOffset(startAfter)

  override def deserializeOffset(json: String): ConnOffset =
    CommitOffset(json)

  /** Legacy non-admission-control path: newest available (no rate limit —
    * this path never learns the cursor, and a bounded offset behind the
    * engine's committed one would plan an inverted range). */
  override def getOffset: Option[Offset] =
    available().filter(_ > startAfter).lastOption.map(CommitOffset(_))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // first batch: `None` means "from the configured floor", which is the
    // `from` option's ts (default "0" = the whole history)
    val from = start.map(CommitOffset.tsOf).getOrElse(startAfter)
    val to = CommitOffset.tsOf(end)
    // cdc=true: the micro-batch is the CHANGE feed of its commit range
    // (insert/update/delete tags, delete pre-images) — the streaming shape
    // of propagating removals downstream; otherwise the incremental
    // current-state read. Same (from, to] exactly-once offset contract.
    val ranged =
      if (cdc) graft.read.ChangeFeed.read(spark, basePath, from, to)
      else IncrementalReader.read(spark, basePath, from, to)
    // Rate-limited catch-up over schema-evolved history: this batch's
    // range plan resolves schemas as of ITS `to`, which may predate
    // later-added columns the stream's (newest) schema carries — pad
    // those with typed nulls (exactly what the files would read as had
    // they been written under the evolved schema).
    val batch = schema.fields.foldLeft(ranged)((df, f) =>
      if (df.columns.contains(f.name)) df
      else df.withColumn(f.name,
        org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    // V1 contract: the returned frame must be tagged isStreaming — same
    // internalCreateDataFrame path FileStreamSource takes.
    Bridge.streamingDataFrame(spark, batch)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftTailSource[$basePath]"
}

package graft.write

import graft.format._
import graft.read.SnapshotReader
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The writer core: what every graft commit does regardless of table type.
  *
  * [[CowWriter]] and [[MorWriter]] differ only in what an upsert/delete
  * commit writes ([[commit]]): COW rewrites every touched file group, MOR
  * appends delta files. Everything else is one implementation here — the
  * meta-column stamping and the key→file-group routing, table creation
  * ([[insert]]) and replacement ([[overwriteTable]]), rewriting groups from
  * their merged state (MOR compaction and the layout rewrites of
  * [[TableMaintenance]]), building each commit's per-group write stats and
  * publishing the commit.
  *
  * Data files are `<fileId>_<commitTs>.parquet` under partition directories
  * (MOR deltas `.delta.parquet`), each commit a `.hoodie/<ts>.commit` (or
  * `.deltacommit`) JSON carrying per-file write stats — fileId, path,
  * prevCommit, numDeletes: exactly the fields the delete view's planner
  * consumes (ref: DeleteView.java:98-104, 116-126, 132-142). Record keys
  * stay table-unique (Hudi's guarantee). Every data path is distributed
  * Spark jobs; the driver handles only file names and commit JSON,
  * O(#touched file groups) — the metadata scale Hudi plans at.
  */
abstract class TableWriter private[write] (
    spark: SparkSession,
    basePath: String,
    numBuckets: Int,
    statsCols: Seq[String],
    bloomCols: Seq[String],
    bloomBits: Int,
    // None = publish through timeline.saveCommitOcc; Some = hand the
    // fully-built commit to the caller instead (multi-table transactions
    // STAGE here and publish later inside the composed critical section —
    // see [[MultiTableTxn]])
    publish: Option[MultiTableTxn.CommitPublisher],
    sharedTimeline: Option[Timeline]) {

  import TableWriter._

  /** The timeline this writer plans and publishes against: the one the
    * caller resolved the table's [[WriteContract]] from, else its own. */
  val timeline: Timeline = sharedTimeline.getOrElse(
    Timeline(spark.sessionState.newHadoopConf(), basePath))

  /** Deterministic file-group id for a record: `<partition>-<bucket>`,
    * bucket = `pmod(xxhash64(key), numBuckets)` — the routing the bucket
    * pruning of [[graft.read.GraftFileIndex]] inverts on read. */
  protected def fileIdCol: Column =
    concat(col(MetaCols.PartitionPath), lit("-"),
      pmod(xxhash64(col(MetaCols.RecordKey)), lit(numBuckets)).cast("string"))

  /** Route meta-stamped rows to their file group and name the slice file
    * commit `ts` writes for it. */
  protected def routed(df: DataFrame, ts: String): DataFrame =
    df.withColumn(FidCol, fileIdCol)
      .withColumn(MetaCols.FileName,
        concat(col(FidCol), lit("_"), lit(ts), lit(".parquet")))

  /** Stamp the five meta columns onto payload rows for commit `ts`. The
    * input may itself CARRY meta columns (SQL DML passes snapshot rows and
    * re-derives identity from `_hoodie_record_key`/`_hoodie_partition_path`)
    * — they are re-stamped, never duplicated into the payload. */
  protected def withMeta(df: DataFrame, keyCol: Column, partCol: Column,
      ts: String): DataFrame = {
    val payloadCols = df.columns.toSeq.filterNot(MetaCols.all.contains)
    routed(df.withColumn(MetaCols.RecordKey, keyCol.cast("string"))
      .withColumn(MetaCols.PartitionPath, partCol.cast("string"))
      .withColumn(MetaCols.CommitTime, lit(ts))
      // Deterministic per-key seqno (monotonically_increasing_id would be
      // partition-layout-dependent, breaking rebuild determinism).
      .withColumn(MetaCols.CommitSeqno,
        concat(lit(ts), lit("_"), xxhash64(col(MetaCols.RecordKey)).cast("string"))),
      ts)
      .select((MetaCols.all.map(col) ++ payloadCols.map(col) :+ col(FidCol)): _*)
  }

  /** First commit: bulk insert `df` as the table's initial base slices.
    * `extra` lands in the commit's extraMetadata (format-writer/sink use). */
  def insert(df: DataFrame, keyCol: Column, partCol: Column, ts: String,
      extra: Map[String, String] = Map.empty): Unit = {
    // a catalog CREATE TABLE records an EMPTY creation commit — the table
    // may carry schema-only commits, just no data slices yet
    require(timeline.latestSlices(None).isEmpty,
      s"insert() creates a table's data; $basePath already has data commits")
    val data = withMeta(df, keyCol, partCol, ts)
    val written = writeSlices(data, ts)
    // OCC: a concurrent creator completing between the check above and our
    // publish loses/wins exactly once (conflictOnAny under the commit lock)
    saveCommit(ts, groupStats(written, Map.empty, inserted = (_, rows) => rows),
      totalDeleted = 0, op = "INSERT", schema = data.drop(FidCol).schema,
      extra = creationExtra(keyCol, partCol, extra),
      readPoint = timeline.completedInstants().lastOption.map(_.ts),
      conflictOnAny = true)
  }

  /** Upsert + delete in one commit.
    *
    * @param updates full payload rows to insert-or-update (same schema as the
    *                table payload, or a superset: added columns evolve it);
    *                may be empty
    * @param deletes payload rows identifying records to delete (only key +
    *                partition derivation matter); may be empty
    */
  def commit(updates: Option[DataFrame], deletes: Option[DataFrame],
      keyCol: Column, partCol: Column, ts: String,
      extra: Map[String, String] = Map.empty): Unit

  def upsert(updates: DataFrame, keyCol: Column, partCol: Column, ts: String,
      extra: Map[String, String] = Map.empty): Unit =
    commit(Some(updates), None, keyCol, partCol, ts, extra)

  def delete(rows: DataFrame, keyCol: Column, partCol: Column, ts: String,
      extra: Map[String, String] = Map.empty): Unit =
    commit(None, Some(rows), keyCol, partCol, ts, extra)

  /** INSERT_OVERWRITE_TABLE as ONE atomic commit: `df` becomes the table's
    * entire content. New slices are written for every file group the new
    * data lands in; every OTHER live group gets an empty stat (path=None) so
    * the timeline replay supersedes it — exactly the shape an
    * all-rows-deleted rewrite already records. Nothing is ever deleted
    * here: atomicity is the same commit rename every other commit has
    * (readers see the old snapshot until the rename, the new one after),
    * history/time-travel across the overwrite keep working, and the
    * superseded files are reclaimed later by [[TableMaintenance.clean]].
    *
    * The recorded schema is exactly `df`'s (NOT the monotonic union):
    * an overwrite starts a new schema era — every live slice after it was
    * written by it, so dropping or retyping columns is safe; the add-only
    * evolution contract restarts from here.
    *
    * Delete-view semantics: an overwrite REPLACES the table rather than
    * deleting tracked records, so `numDeletes`/`totalRecordsDeleted` are 0
    * and the overwrite commit's delete view is empty by design (Hudi's
    * replacecommit is likewise outside the reference's delete tracking,
    * ref: DeleteSupport.java:89-96 tracks per-record delete commits). */
  def overwriteTable(df: DataFrame, keyCol: Column, partCol: Column,
      ts: String, extra: Map[String, String] = Map.empty): Unit = {
    require(timeline.completedInstants().nonEmpty,
      s"overwriteTable() replaces a table; $basePath has none — use insert()")
    val readPoint = timeline.completedInstants().lastOption.map(_.ts)
    val data = withMeta(df, keyCol, partCol, ts)
    val written = writeSlices(data, ts)
    val prior = timeline.latestSlices(None)
    val writtenFids = written.keys.map(_._2).toSet
    // conflictOnAny: a concurrent commit's file group would survive the
    // replace and resurrect rows the overwrite never saw
    saveCommit(ts, groupStats(written, prior,
        superseded = prior.values.filterNot(s => writtenFids(s.fileId)),
        inserted = (_, rows) => rows),
      totalDeleted = 0, op = "INSERT_OVERWRITE_TABLE",
      schema = data.drop(FidCol).schema,
      extra = creationExtra(keyCol, partCol, extra),
      readPoint = readPoint, conflictOnAny = true, newSchemaEra = true)
  }

  /** Every table-creating commit records the bucket count and the
    * bare-column identity ([[identityExtra]]; caller-supplied extra wins —
    * the format surface passes its resolved [[WriteContract.creationExtra]]).
    * The count pins the key→file-group routing for later appends AND
    * enables exact bucket-index pruning of key lookups at read time; the
    * identity lets the catalog serve the table with its native scans. */
  private def creationExtra(keyCol: Column, partCol: Column,
      extra: Map[String, String]): Map[String, String] =
    Map(WriteContract.BucketsKey -> numBuckets.toString) ++
      identityExtra(keyCol, partCol) ++ extra

  /** Rewrite `groups` from their merged current state as fresh base slices
    * at `ts` (timeline action `commit`) — MOR compaction and the layout
    * rewrites. Rows keep their record identity and commit times; a group
    * whose every row was deleted writes no file and is superseded with an
    * empty stat. `sortBy` (given the merged frame) orders rows within each
    * file; `extraStats` adds columns to the stats index. Returns the
    * written file-group ids, sorted. */
  private[write] def rewriteGroups(ts: String, groups: Seq[FileSlice],
      op: String, sortBy: DataFrame => Seq[Column] = _ => Seq.empty,
      extraStats: Seq[String] = Seq.empty,
      extra: Map[String, String] = Map.empty): Seq[String] = {
    // OCC read point: a delta landing in a group AFTER this merge planned
    // would be silently swallowed by the rewritten slice — group-overlap
    // conflict detection makes the rewrite lose instead
    val readPoint = timeline.completedInstants().lastOption.map(_.ts)
    val merged = SnapshotReader.merge(spark, basePath, groups, Some(timeline))
    val order = sortBy(merged)
    val data = routed(merged, ts)
    val written = writeSlices(data, ts, sortBy = order, extraStats = extraStats)
    val writtenFids = written.keys.map(_._2).toSet
    saveCommit(ts, groupStats(written, groups.map(g => g.fileId -> g).toMap,
        superseded = groups.filterNot(g => writtenFids(g.fileId))),
      totalDeleted = 0, op = op, schema = data.drop(FidCol).schema,
      extra = extra, readPoint = readPoint)
    writtenFids.toSeq.sorted
  }

  /** One write execution producing a slice file per (partition, file
    * group) of `data`, with each file's counts and column stats; the
    * record key is always in the stats index. */
  protected def writeSlices(data: DataFrame, ts: String,
      suffix: String = ".parquet", sortBy: Seq[Column] = Seq.empty,
      extraStats: Seq[String] = Seq.empty)
      : Map[(String, String), SliceFiles.Written] =
    SliceFiles.write(timeline.fs, basePath, data, ts,
      (fid, t) => s"${fid}_$t$suffix",
      statsCols = (MetaCols.RecordKey +: (extraStats ++ statsCols)).distinct,
      sortBy = sortBy, bloomCols = bloomCols, bloomBits = bloomBits)

  /** A commit's write stats: one per written slice — `prevCommit` from the
    * group's slice in `prior`, op counters per file group — plus a 0-row,
    * path-less stat per `superseded` group (emptied or replaced by this
    * commit), so the timeline replay supersedes it and the delete view
    * still sees its prevCommit and numDeletes. */
  protected def groupStats(
      written: Map[(String, String), SliceFiles.Written],
      prior: Map[String, FileSlice],
      superseded: Iterable[FileSlice] = Nil,
      deleted: Map[String, Long] = Map.empty,
      updated: Map[String, Long] = Map.empty,
      inserted: (String, Long) => Long = (_, _) => 0L)
      : Seq[(String, WriteStat)] =
    // NB: .toSeq before .map — mapping the Map directly would collapse
    // same-partition stats onto one key
    written.toSeq.map { case ((part, fid), w) =>
      part -> WriteStat(fid, Some(w.relPath),
        prevCommit = prior.get(fid).map(_.commitTs),
        numWrites = w.rows,
        numDeletes = deleted.getOrElse(fid, 0L),
        numUpdateWrites = updated.getOrElse(fid, 0L),
        numInserts = inserted(fid, w.rows), colStats = w.colStats,
        sizeBytes = Some(w.sizeBytes))
    } ++ superseded.map { s =>
      s.partitionPath -> WriteStat(s.fileId, None,
        prevCommit = Some(s.commitTs), numWrites = 0,
        numDeletes = deleted.getOrElse(s.fileId, 0L),
        numUpdateWrites = 0, numInserts = 0)
    }

  /** Publish one commit. The recorded schema is the monotonic union with
    * the table's previous one ([[monotonicSchema]]) — a frame narrower
    * than the table must not drop columns from every later snapshot —
    * except where `newSchemaEra` (an overwrite) restarts it. */
  protected def saveCommit(ts: String, stats: Seq[(String, WriteStat)],
      totalDeleted: Long, op: String, schema: StructType,
      action: String = Instant.CommitAction,
      extra: Map[String, String] = Map.empty,
      readPoint: Option[String] = None,
      conflictOnAny: Boolean = false,
      newSchemaEra: Boolean = false): Unit = {
    val meta = CommitMetadata(
      partitionToWriteStats = stats.groupBy(_._1).view
        .mapValues(_.map(_._2).sortBy(_.fileId)).toMap,
      operationType = op,
      totalRecordsDeleted = totalDeleted,
      totalRecordsWritten = stats.map(_._2.numWrites).sum,
      schemaJson = Some(MetaCols.canonicalSchema(
        if (newSchemaEra) schema
        else monotonicSchema(timeline, action, schema)).json),
      extra = extra)
    publish match {
      case Some(p) => p(ts, meta, action, readPoint, conflictOnAny)
      case None => timeline.saveCommitOcc(ts, meta, action,
        readPoint = readPoint, conflictOnAny = conflictOnAny)
    }
  }
}

object TableWriter {
  /** Helper column holding the file-group id during a write. */
  private[graft] val FidCol = "__graft_fid"

  /** The identity a table-creating engine write records: `key`/`partition`
    * for each of the two that the caller names by a bare column reference
    * (an expression key records nothing — there is no column to name). */
  private[write] def identityExtra(keyCol: Column, partCol: Column)
      : Map[String, String] =
    Seq(WriteContract.KeyColKey -> keyCol, WriteContract.PartColKey -> partCol)
      .flatMap { case (k, c) =>
        org.apache.spark.sql.graft.Bridge.bareColumnName(c)
          // readers re-resolve the name with col(...), which would parse a
          // dotted name as a nested field; meta columns are not payload
          .filterNot(n => n.contains('.') || MetaCols.all.contains(n))
          .map(k -> _)
      }.toMap

  /** Schema recorded with a commit: the UNION of the newest previously
    * recorded schema (ANY action) and the new frame's schema — new fields'
    * order first, previous-only fields appended, and the MOR delete marker
    * kept only on delta records (base files never carry it, and leaking it
    * into a base-commit record would surface a phantom null column on
    * snapshot reads).
    *
    * Unioning across actions makes the newest recorded schema a superset
    * of EVERY live file's schema by induction — including a COW commit
    * whose frame omits a payload column, the first deltacommit after an
    * insert, and compaction commits on partially-compacted tables. Readers
    * can therefore resolve the table schema from the single newest record.
    * Same-name fields keep the NEW writer's type — diverging types are
    * outside the add-only contract. */
  private[graft] def monotonicSchema(timeline: Timeline, action: String,
      schema: StructType): StructType = {
    val unioned = timeline.schema(None) match {
      case None => schema
      case Some(prev) =>
        val newNames = schema.fieldNames.toSet
        StructType(schema.fields ++ prev.fields.filterNot(f => newNames(f.name)))
    }
    if (action == Instant.CommitAction)
      StructType(unioned.filterNot(_.name == SnapshotReader.IsDeleted))
    else unioned
  }
}

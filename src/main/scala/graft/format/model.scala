package graft.format

/** A completed (or in-flight) action on the timeline.
  * Ref: the reference enumerates `HoodieInstant(timestamp, action, state)`
  * via the timeline (DeleteView.java:51-55, 196-204).
  */
final case class Instant(ts: String, action: String, state: String) {
  def isCompleted: Boolean = state == Instant.Completed
}

object Instant {
  val Completed = "COMPLETED"
  val Inflight  = "INFLIGHT"
  /** COW commit / MOR compaction: writes new base file slices. */
  val CommitAction = "commit"
  /** MOR delta commit: appends delta files to existing file slices. */
  val DeltaCommitAction = "deltacommit"
}

/** Per-written-file statistics recorded in a commit's metadata.
  * Ref: HoodieWriteStat — the reference consumes getPrevCommit/getNumDeletes/
  * getFileId/getPath (DeleteView.java:100, 116-119, 135, 157-158).
  *
  * @param fileId     stable file-group id (survives rewrites)
  * @param path       table-relative path of the written file slice; None when
  *                   a rewrite left the group empty (no file written)
  * @param prevCommit timestamp of the slice this write replaced; None for the
  *                   group's first slice
  * @param numWrites  rows in the written file
  * @param numDeletes record keys removed relative to the previous slice
  * @param numUpdateWrites rows rewritten with changed payload
  * @param numInserts brand-new record keys
  */
final case class WriteStat(
    fileId: String,
    path: Option[String],
    prevCommit: Option[String],
    numWrites: Long,
    numDeletes: Long,
    numUpdateWrites: Long,
    numInserts: Long,
    colStats: Map[String, ColStat] = Map.empty,
    /** Written file size in bytes (Hudi's fileSizeInBytes) — lets read
      * planning size splits and report exact scan statistics without a
      * per-file FS RPC; None on fileless stats and pre-r10 commits. */
    sizeBytes: Option[Long] = None)

/** Per-file, per-column statistics recorded at write time (Hudi's
  * column-stats index analog, kept inline in the commit metadata — the
  * timeline IS this engine's metadata table, and the stats are
  * metadata-sized: #files × #tracked columns).
  *
  * `min`/`max` are the column's typed min/max rendered through Spark's
  * `CAST(x AS STRING)` (round-trippable for every supported atomic type);
  * `None` means the file has no non-null value in the column. `nulls` is
  * the file's null count for the column. Readers parse the strings back
  * through `CAST(STRING AS <colType>)` with the commit schema's type —
  * see [[graft.read.GraftFileIndex]] file skipping.
  */
final case class ColStat(
    min: Option[String],
    max: Option[String],
    nulls: Option[Long] = None,
    /** base64(DEFLATE(k | bitset)) per-file bloom over the column's
      * cast-to-string values — see [[Bloom]]. Recorded only for
      * writer-declared bloom columns. */
    bloom: Option[String] = None,
    /** The column's per-file SUM (Spark `sum` semantics: nulls ignored,
      * integral sums as wrapping Long, fractional as Double), rendered
      * through `CAST(sum(x) AS STRING)` — exact round trip for both.
      * Recorded (r9) for NUMERIC stats columns; `None` on files written
      * before sum recording OR whose column is entirely null (readers
      * disambiguate via `nulls == numWrites`). Feeds the DSv2
      * SUM/AVG metadata-aggregate pushdown. */
    sum: Option[String] = None)

/** Decoded commit file. Ref: HoodieCommitMetadata — the reference consumes
  * getPartitionToWriteStats and getTotalRecordsDeleted
  * (DeleteView.java:85-88, 98, 133, 186).
  *
  * @param schemaJson Spark StructType JSON of the data files THIS commit
  *                   wrote (Hudi records the same thing as an Avro schema in
  *                   its commit extraMetadata). Every graft writer records
  *                   it, and readers take the table schema from it alone
  *                   ([[Timeline.schema]]) — under add-only evolution the
  *                   newest writer schema is a superset of all older
  *                   slices'. Optional in the codec only: readers refuse a
  *                   commit that lacks it.
  * @param extra      free-form writer annotations (Hudi's commit
  *                   `extraMetadata` analog). Used by the streaming format
  *                   sink to record the micro-batch id each commit belongs
  *                   to (the exactly-once replay gate) and by the batch
  *                   format writer to pin the table's bucket count.
  */
final case class CommitMetadata(
    partitionToWriteStats: Map[String, Seq[WriteStat]],
    operationType: String,
    totalRecordsDeleted: Long,
    totalRecordsWritten: Long,
    schemaJson: Option[String] = None,
    extra: Map[String, String] = Map.empty) {

  /** All stats, flattened with their partition path. */
  def allStats: Seq[(String, WriteStat)] =
    partitionToWriteStats.toSeq.sortBy(_._1).flatMap { case (p, ss) =>
      ss.map(p -> _)
    }

  /** Point lookup by fileId (ref: findHoodieWriteStat,
    * DeleteView.java:132-142). */
  def statByFileId(fileId: String): Option[(String, WriteStat)] =
    allStats.find(_._2.fileId == fileId)

  /** [[schemaJson]] parsed, once per decoded commit (a [[Timeline]]
    * decodes each commit once). */
  lazy val schema: Option[org.apache.spark.sql.types.StructType] =
    schemaJson.map(org.apache.spark.sql.types.DataType.fromJson(_)
      .asInstanceOf[org.apache.spark.sql.types.StructType])
}

/** A commit lost the optimistic-concurrency race: an instant that COMPLETED
  * after the writer's read point touched one of the file groups this commit
  * writes (or, for create/overwrite, touched the table at all). The
  * operation is RETRYABLE from the new table state — re-plan against the
  * current snapshot and re-commit with a fresh ts. */
final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

/** A delta (log) file appended to a file slice by a MOR delta commit. */
final case class DeltaFile(commitTs: String, relPath: String)

/** One file slice of a file group: the base parquet written for `fileId` by
  * commit `commitTs` under `partitionPath`, plus any MOR delta files
  * appended since. COW tables always have `deltas.isEmpty`; a MOR group may
  * transiently have `relPath == None` (delta-only slice before first
  * compaction when inserts went through the delta path).
  */
final case class FileSlice(
    partitionPath: String,
    fileId: String,
    commitTs: String,
    relPath: Option[String],
    deltas: Seq[DeltaFile] = Seq.empty)

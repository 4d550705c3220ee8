package graft.read

import graft.format._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Snapshot / time-travel reader over a versioned table (COW or MOR).
  *
  * COW fast path: the latest slices are plain base files, so the snapshot is
  * a single multi-path parquet scan — no shuffle, no merge; Catalyst pushes
  * filters and prunes columns into the scan. The reference has no snapshot
  * reader of its own (it delegates to Hudi); semantics follow Hudi's
  * snapshot query: latest file slice per file group as of the requested
  * instant.
  *
  * MOR path: file groups that carry delta files are merged PER FILE GROUP
  * inside the task by the shared MOR reader ([[MorMerge]]): the group's
  * deltas fold into a key→winner map, the base file streams through it,
  * delete markers (`_hoodie_is_deleted`) cut the key's history
  * (SURVEY.md §7.2 step 4). All versions of a key live in its one file
  * group, so the merge needs no shuffle.
  *
  * Scale notes (100 TB): ONLY groups with outstanding deltas go through
  * the merge reader (its memory is bounded by un-compacted delta rows per
  * group); pure-base groups stream straight from parquet and are unioned
  * in. Regular compaction keeps the merge side small — exactly Hudi's own
  * cost model.
  */
object SnapshotReader {

  /** Standard Hudi delete-marker column carried by MOR delta files. */
  val IsDeleted: String = MetaCols.IsDeleted

  /** Multi-path parquet read with the table schema resolved from commit
    * metadata ([[graft.format.Timeline.schema]]): no footer job at
    * planning time, and files written before an added column appeared read
    * it as null. */
  private[graft] def schemaRead(spark: SparkSession, paths: Seq[String],
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(paths: _*)

  /** Snapshot (or time-travel, via `asOf`) read.
    *
    * Delta-free states plan directly ([[merge]]'s pruning-FileIndex scan).
    * States with OUTSTANDING MOR deltas return the
    * [[GraftMorRelation]]-backed frame — the SAME lazy planning point the
    * format surface uses — so the normal user idiom
    * `snapshot().filter($"_hoodie_partition_path" === …)` prunes the
    * file-GROUP set on BOTH merge sides at metadata level before the
    * merge is planned (engine API ≡ format surface; r7 parity).
    *
    * @param partitions non-empty → METADATA-level partition pruning: only
    *                   slices under the named partition paths are listed,
    *                   scanned, or merged. At 100 TB this is the difference
    *                   between planning thousands of file groups and
    *                   planning one partition's worth — the row-group
    *                   min/max filter on `_hoodie_partition_path` only
    *                   kicks in after every file is already in the plan. */
  def read(spark: SparkSession, basePath: String,
      asOf: Option[String] = None,
      partitions: Seq[String] = Seq.empty): DataFrame =
    read(spark, basePath, asOf, partitions, readOptimized = false)

  /** Snapshot read with an optional READ-OPTIMIZED mode (Hudi's RO query on
    * MOR tables): serve each file group's BASE file only — the state as of
    * its last compaction/base write — skipping outstanding delta files
    * entirely. No merge: the plan is the COW fast path
    * (pruning FileIndex scan with stats/bucket skipping) regardless of how
    * much un-compacted delta data exists. The trade is staleness bounded
    * by compaction lag — Hudi's RO/RT dichotomy exactly. Groups that are
    * still delta-only (never compacted) serve nothing. On COW tables (or a
    * fully compacted MOR state) RO ≡ the snapshot. */
  def read(spark: SparkSession, basePath: String,
      asOf: Option[String],
      partitions: Seq[String],
      readOptimized: Boolean): DataFrame = {
    val timeline = Timeline(spark.sessionState.newHadoopConf(), basePath)
    val listed = timeline.latestSlices(asOf).values.toSeq
      .filter(sl => partitions.isEmpty ||
        partitions.contains(sl.partitionPath))
    val slices =
      if (readOptimized) listed.map(_.copy(deltas = Seq.empty)) else listed
    require(slices.nonEmpty, s"empty table (no matching slices) at $basePath" +
      asOf.fold("")(t => s" as of $t") +
      (if (partitions.nonEmpty) s" partitions=${partitions.mkString(",")}"
       else ""))
    if (slices.exists(_.deltas.nonEmpty)) // lazy merge behind the relation
      org.apache.spark.sql.graft.Bridge.ofRows(spark,
        org.apache.spark.sql.execution.datasources.LogicalRelation(
          new GraftMorRelation(spark, basePath, asOf,
            timeline.tableSchema(asOf), presetPartitions = partitions,
            initialTimeline = Some(timeline))))
    else merge(spark, basePath, slices, Some(timeline), asOf)
  }

  /** Zero rows of the table schema as of `asOf` — the one empty answer
    * of every read surface: a state whose file groups are all FILELESS
    * (deletes emptied them — a legal state: the groups' stats record
    * `path = None`), an empty incremental range, a commit that deleted
    * nothing. Hudi parity: an emptied table reads as zero rows, not an
    * error. */
  private[graft] def emptyLike(spark: SparkSession, timeline: Timeline,
      asOf: Option[String]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      timeline.tableSchema(asOf))

  /** The table's pinned bucket count as of `asOf` — an overwrite may
    * re-declare the count, but it also supersedes every older slice, so
    * the newest recording ≤ `asOf` governs exactly the slices a snapshot
    * at `asOf` can list. None (→ no bucket pruning) for tables created
    * before bucket recording. */
  private[graft] def recordedBuckets(tl: Timeline,
      asOf: Option[String]): Option[Int] =
    tl.recordedExtraAsOf(graft.write.WriteContract.BucketsKey, asOf)
      .flatMap(_.toIntOption)

  /** Merge a concrete set of file slices into their current-state rows.
    *
    * Schemas come from commit metadata ([[Timeline.schema]]: the newest
    * base-commit schema for base files, the newest deltacommit schema for
    * deltas, each ≤ `asOf`) — no footer job is ever planned.
    *
    * Base-only groups mount through the partition-pruning
    * [[GraftFileIndex]] relation, so predicates on
    * `_hoodie_partition_path` prune at LISTING time (the normal user idiom,
    * no explicit `partitions` parameter needed). Delta-carrying groups are
    * merged PER FILE GROUP inside the task by the shared MOR reader
    * ([[MorMerge]], the same reader the catalog's native MOR scan runs):
    * whole groups bin-packed per task, no shuffle, and no job at planning
    * time.
    *
    * @param keyFilter optional one-column `_hoodie_record_key` frame:
    *   restrict the merged snapshot to THESE keys — a broadcast semi-join on
    *   the merged output, so a key probe over a huge table ships only the
    *   probe keys. The frame must be probe-sized (it is broadcast). */
  private[graft] def merge(spark: SparkSession, basePath: String,
      slices: Seq[FileSlice],
      timeline: Option[Timeline] = None,
      asOf: Option[String] = None,
      keyFilter: Option[DataFrame] = None): DataFrame = {
    def abs(rel: String) = s"$basePath/$rel"
    val (withDeltas, baseOnly) = slices.partition(_.deltas.nonEmpty)
    val basePaths = baseOnly.flatMap(_.relPath).map(abs)
    lazy val tl = timeline.getOrElse(
      Timeline(spark.sessionState.newHadoopConf(), basePath))
    // a base file implies a base commit ≤ asOf, a delta file a deltacommit
    lazy val baseSchema = tl.schema(asOf, Some(Instant.CommitAction))

    val plainScan =
      if (basePaths.isEmpty) None
      else {
        val partFiles = baseOnly.filter(_.relPath.nonEmpty)
          .groupBy(_.partitionPath).toSeq.sortBy(_._1)
          .map { case (p, ss) => p -> ss.flatMap(_.relPath).map(abs) }
        Some(GraftFileIndex.scan(spark, basePath, partFiles, baseSchema.get,
          // column-stats skipping index: metadata-recorded per-file
          // min/max ranges let pushed data filters drop files at
          // listing time
          fileStats = tl.fileColStats(baseOnly),
          // bucket-index pruning: the pinned count of the era every
          // planned slice was written under (creation/overwrite ≤ asOf)
          buckets = recordedBuckets(tl, asOf)))
      }

    val merged =
      if (withDeltas.isEmpty) None
      else Some(MorMerge.frame(spark, basePath, withDeltas, tl, asOf,
        baseSchema, tl.schema(asOf, Some(Instant.DeltaCommitAction)).get))

    (plainScan.toSeq ++ merged.toSeq)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map(df => keyFilter.fold(df)(kf => df.join(
        broadcast(kf.toDF(MetaCols.RecordKey)), Seq(MetaCols.RecordKey),
        "left_semi")))
      .getOrElse(emptyLike(spark, tl, asOf)) // every slice is fileless
  }
}

/** Incremental reader: the current state of every record written in the
  * commit range `(fromExclusive, toInclusive]`.
  *
  * Planned from commit metadata, not from a full-table scan: the commits in
  * range name exactly the file groups they wrote (same metadata-first
  * pruning as the delete view, ref: DeleteView.java:98-104), so only those
  * groups' latest slices as of `to` are listed, scanned, and (for MOR)
  * merged — untouched groups never enter the plan. A row's
  * `_hoodie_commit_time` is the commit that wrote its current version, and
  * that write is recorded under the row's fileId in that commit's stats, so
  * group-level pruning is exact, including rewritten COW slices whose
  * carried-over rows mix commit times. The residual commit-time filter then
  * selects the changed rows within the touched slices (pushed to parquet
  * row-group min/max stats).
  *
  * Deletes in the range simply vanish from the snapshot (Hudi incremental
  * semantics); use DeleteView for reconstructing them. Can feed Structured
  * Streaming as a micro-batch source (poll completed instants, read each new
  * range — see streaming.TableTail).
  */
object IncrementalReader {
  def read(spark: SparkSession, basePath: String,
      fromExclusive: String, toInclusive: String,
      partitions: Seq[String] = Seq.empty): DataFrame = {
    val timeline = Timeline(spark.sessionState.newHadoopConf(), basePath)
    val touched: Set[String] = timeline.completedInstants()
      .filter(i => i.ts > fromExclusive && i.ts <= toInclusive)
      .flatMap(i => timeline.metadata(i.ts).allStats.collect {
        case (part, s)
            if partitions.isEmpty || partitions.contains(part) => s.fileId
      })
      .toSet
    val rangeFilter = col(MetaCols.CommitTime) > fromExclusive &&
      col(MetaCols.CommitTime) <= toInclusive
    if (touched.isEmpty) {
      // Degenerate empty range, metadata-first: the snapshot is never
      // planned and no data file enters the plan (inputFiles is empty;
      // asserted in MorSpec).
      SnapshotReader.emptyLike(spark, timeline, Some(toInclusive))
    } else {
      val slices = timeline.latestSlices(Some(toInclusive))
        .collect { case (fid, slice) if touched(fid) => slice }.toSeq
      SnapshotReader.merge(spark, basePath, slices, Some(timeline),
        Some(toInclusive)).filter(rangeFilter)
    }
  }
}

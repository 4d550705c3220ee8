package graft.read

import graft.format._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

  /** Decode a recorded writer-schema JSON to the READER-facing table
    * schema: the struct minus the MOR delete marker (an implementation
    * detail of delta files, never served to users). One definition for
    * every surface that resolves schemas from commit metadata. */
  private[graft] def tableSchemaFromJson(sj: String)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.DataType.fromJson(sj)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .filterNot(_.name == IsDeleted))

  /** Multi-path parquet read that survives ADD-COLUMN schema evolution:
    * `mergeSchema` unions the footers' schemas (files written before the
    * column appeared read as null). Cost is driver-side footer sampling —
    * only paid on PRE-schema-recording tables: commits now carry the writer
    * schema ([[graft.format.CommitMetadata.schemaJson]]), so current-format
    * reads resolve schema from O(1) timeline metadata via
    * [[schemaRead]]/[[graft.format.Timeline.latestSchemaJson]] instead. */
  private[graft] def evolvedRead(spark: SparkSession,
      paths: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** Multi-path parquet read with a commit-metadata-resolved schema: no
    * footer job at planning time (files written before an added column
    * appeared still read as null — same evolution semantics as
    * [[evolvedRead]], the schema superset just comes from the timeline). */
  private[graft] def schemaRead(spark: SparkSession, paths: Seq[String],
      schemaJson: String): DataFrame =
    spark.read.schema(org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType])
      .parquet(paths: _*)

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
    val schemaJson =
      if (slices.exists(_.deltas.nonEmpty)) timeline.latestSchemaJson(asOf)
      else None
    schemaJson match {
      case Some(sj) => // outstanding deltas: lazy merge behind the relation
        org.apache.spark.sql.graft.Bridge.ofRows(spark,
          org.apache.spark.sql.execution.datasources.LogicalRelation(
            new GraftMorRelation(spark, basePath, asOf,
              tableSchemaFromJson(sj), presetPartitions = partitions,
              initialTimeline = Some(timeline))))
      case None => // delta-free (or legacy pre-schema table): direct plan
        merge(spark, basePath, slices, Some(timeline), asOf)
    }
  }

  /** Empty relation carrying the table's schema, for states where every
    * file group is FILELESS (deletes emptied the whole table/slice set —
    * a legal state: the groups' stats record `path = None`). The schema
    * comes from the newest still-existing file any commit ever wrote
    * (commit metadata records historical paths; prior slices survive until
    * cleaned). Hudi parity: an emptied table reads as zero rows, not an
    * error. */
  private[read] def emptyLike(spark: SparkSession, basePath: String,
      timeline: Timeline): DataFrame = {
    val schema = timeline.latestSchemaJson(None) match {
      // O(1): the newest commit's recorded writer schema (marker stripped
      // below together with the footer-sampled fallback's)
      case Some(sj) => org.apache.spark.sql.types.DataType.fromJson(sj)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      case None => // pre-schema-recording table: sample a historical footer
        val conf = spark.sessionState.newHadoopConf()
        val fs = new org.apache.hadoop.fs.Path(basePath).getFileSystem(conf)
        val sample = timeline.completedInstants().reverse.iterator
          .flatMap(i => timeline.metadata(i.ts).allStats.flatMap(_._2.path))
          .map(rel => s"$basePath/$rel")
          .find(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
          .getOrElse(throw new IllegalStateException(
            s"empty slice set at $basePath and no historical file to derive " +
              "a schema from (all prior slices cleaned)"))
        evolvedRead(spark, Seq(sample)).schema
    }
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(
        schema.filterNot(_.name == IsDeleted)))
  }

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
    * Schema resolution is O(1) timeline metadata when the commits recorded
    * their writer schema (newest base-commit schema for base files, newest
    * deltacommit schema for deltas, each ≤ `asOf`) — no footer job is ever
    * planned; pre-schema-recording tables fall back to footer sampling.
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
    def schemaOf(action: String) = tl.latestSchemaJson(asOf, Some(action))
      .map(org.apache.spark.sql.types.DataType.fromJson(_)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    lazy val baseSchema = schemaOf(Instant.CommitAction)

    val plainScan =
      if (basePaths.isEmpty) None
      else baseSchema match {
        case Some(schema) =>
          val partFiles = baseOnly.filter(_.relPath.nonEmpty)
            .groupBy(_.partitionPath).toSeq.sortBy(_._1)
            .map { case (p, ss) => p -> ss.flatMap(_.relPath).map(abs) }
          Some(GraftFileIndex.scan(spark, basePath, partFiles, schema,
            // column-stats skipping index: metadata-recorded per-file
            // min/max ranges let pushed data filters drop files at
            // listing time
            fileStats = tl.fileColStats(baseOnly),
            // bucket-index pruning: the pinned count of the era every
            // planned slice was written under (creation/overwrite ≤ asOf)
            buckets = recordedBuckets(tl, asOf)))
        case None => Some(evolvedRead(spark, basePaths))
      }

    val merged =
      if (withDeltas.isEmpty) None
      else Some(MorMerge.frame(spark, basePath, withDeltas, tl, asOf,
        baseSchema, schemaOf(Instant.DeltaCommitAction)))

    (plainScan.toSeq ++ merged.toSeq)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map(df => keyFilter.fold(df)(kf => df.join(
        broadcast(kf.toDF(MetaCols.RecordKey)), Seq(MetaCols.RecordKey),
        "left_semi")))
      .getOrElse {
        // every slice is fileless (deletes emptied the groups): a legal
        // empty state, not an error
        emptyLike(spark, basePath, tl)
      }
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
      // planned. The schema comes from the newest commit ≤ `to` that
      // recorded one (O(1) metadata; newest writer schema is the current
      // table schema under add-only evolution) — falling back to ONE
      // slice's footers on pre-schema-recording tables — and the result is
      // an empty relation, so no data file enters the plan (inputFiles is
      // empty; asserted in MorSpec).
      timeline.latestSchemaJson(Some(toInclusive)) match {
        case Some(sj) =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            SnapshotReader.tableSchemaFromJson(sj))
        case None =>
          val slices = timeline.latestSlices(Some(toInclusive)).values
          require(slices.nonEmpty,
            s"empty table (no slices) at $basePath as of $toInclusive")
          val newest = slices.maxBy(sl =>
            (sl.deltas.map(_.commitTs) :+ sl.commitTs).max)
          val paths = (newest.relPath.toSeq ++ newest.deltas.map(_.relPath))
            .map(rp => s"$basePath/$rp")
          if (paths.isEmpty) // newest slice fileless (deletes emptied it)
            SnapshotReader.emptyLike(spark, basePath, timeline)
          else {
            val schema = org.apache.spark.sql.types.StructType(
              SnapshotReader.evolvedRead(spark, paths).schema
                .filterNot(_.name == SnapshotReader.IsDeleted))
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          }
      }
    } else {
      val slices = timeline.latestSlices(Some(toInclusive))
        .collect { case (fid, slice) if touched(fid) => slice }.toSeq
      SnapshotReader.merge(spark, basePath, slices, Some(timeline),
        Some(toInclusive)).filter(rangeFilter)
    }
  }
}

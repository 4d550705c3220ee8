package graft.write

import graft.format._
import graft.read.SnapshotReader
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Native Merge-On-Read table writer (the BASELINE.json north-star approach:
  * "Spark + Hudi MergeOnRead reader").
  *
  * Layout: base files `<fileId>_<ts>.parquet` written by `insert`/`compact`
  * (timeline action `commit`), delta files `<fileId>_<ts>.delta.parquet`
  * written by `upsertDelta` (timeline action `deltacommit`) carrying upserted
  * rows plus delete markers (`_hoodie_is_deleted = true`). Snapshot reads
  * merge base + deltas per file group (see
  * [[graft.read.SnapshotReader]]); `compact()` folds outstanding deltas into
  * fresh base slices.
  *
  * Scale notes (100 TB): a delta commit writes ONLY the changed rows (no
  * file-group rewrite — the point of MOR), one distributed job per commit;
  * stats (numDeletes per group) come from a map-side-combined aggregate.
  * Compaction is itself a distributed merge job whose output goes through
  * the same slice writer as COW commits.
  */
final class MorWriter(
    spark: SparkSession,
    basePath: String,
    numBuckets: Int,
    statsCols: Seq[String] = Seq.empty,
    bloomCols: Seq[String] = Seq.empty,
    bloomBits: Int = graft.format.Bloom.DefaultBits,
    // publish hook — see [[CowWriter]]'s parameter of the same name
    publish: Option[MultiTableTxn.CommitPublisher] = None,
    // false = the table declared deltaCounters=off: DELETE-FREE delta
    // commits skip the snapshot-key existence join (table-sized however
    // small the batch) and carry no DeltaCountsKey marker — see
    // [[FormatWriter.DeltaCountersKey]]
    exactCounters: Boolean = true) {

  import CowWriter.FidCol

  private val conf = spark.sessionState.newHadoopConf()
  private val fs: FileSystem = new Path(basePath).getFileSystem(conf)
  val timeline: Timeline = Timeline(conf, basePath)

  private def fileIdCol: Column =
    concat(col(MetaCols.PartitionPath), lit("-"),
      pmod(xxhash64(col(MetaCols.RecordKey)), lit(numBuckets)).cast("string"))

  /** Same contract as CowWriter.withMeta: meta columns on the input are
    * re-stamped, never duplicated into the payload (SQL DML inputs). */
  private def withMeta(df: DataFrame, keyCol: Column, partCol: Column,
      ts: String): DataFrame = {
    val payloadCols = df.columns.toSeq.filterNot(MetaCols.all.contains)
    df.withColumn(MetaCols.RecordKey, keyCol.cast("string"))
      .withColumn(MetaCols.PartitionPath, partCol.cast("string"))
      .withColumn(MetaCols.CommitTime, lit(ts))
      .withColumn(MetaCols.CommitSeqno,
        concat(lit(ts), lit("_"), xxhash64(col(MetaCols.RecordKey)).cast("string")))
      .withColumn(FidCol, fileIdCol)
      .withColumn(MetaCols.FileName,
        concat(col(FidCol), lit("_"), lit(ts), lit(".parquet")))
      .select((MetaCols.all.map(col) ++ payloadCols.map(col) :+ col(FidCol)): _*)
  }

  /** First commit: bulk insert as base file slices (same as COW insert).
    * `extra` lands in the commit's extraMetadata (format-writer/sink use). */
  def insert(df: DataFrame, keyCol: Column, partCol: Column, ts: String,
      extra: Map[String, String] = Map.empty): Unit = {
    // a catalog CREATE TABLE records an EMPTY creation commit — the table
    // may carry schema-only commits, just no data slices yet
    require(timeline.latestSlices(None).isEmpty,
      s"insert() creates a table's data; $basePath already has data commits")
    val data = withMeta(df, keyCol, partCol, ts)
    val written = SliceFiles.write(fs, basePath, data, ts,
      (fid, t) => s"${fid}_$t.parquet",
      statsCols = MetaCols.RecordKey +: statsCols,
      bloomCols = bloomCols, bloomBits = bloomBits)
    val stats = written.toSeq.map { case ((part, fid), w) =>
      part -> WriteStat(fid, Some(w.relPath), prevCommit = None,
        numWrites = w.rows, numDeletes = 0, numUpdateWrites = 0,
        numInserts = w.rows, colStats = w.colStats,
        sizeBytes = Some(w.sizeBytes))
    }
    saveCommit(ts, stats, totalDeleted = 0, op = "INSERT",
      action = Instant.CommitAction, schema = data.drop(FidCol).schema,
      extra = Map(FormatWriter.BucketsKey -> numBuckets.toString) ++
        FormatWriter.identityExtra(keyCol, partCol) ++ extra,
      readPoint = timeline.completedInstants().lastOption.map(_.ts),
      conflictOnAny = true)
  }

  /** MOR delta commit: append upserts + delete markers as delta files —
    * no base-file rewrite.
    *
    * @param updates full payload rows to insert-or-update; may be empty
    * @param deletes payload rows identifying records to delete; may be empty
    */
  def upsertDelta(updates: Option[DataFrame], deletes: Option[DataFrame],
      keyCol: Column, partCol: Column, ts: String,
      extra: Map[String, String] = Map.empty): Unit = {
    require(timeline.completedInstants().nonEmpty,
      s"upsertDelta() needs an existing table at $basePath; call insert() first")
    // OCC read point: the newest instant this delta's plan/counters see
    val readPoint = timeline.completedInstants().lastOption.map(_.ts)

    val up = updates.map(withMeta(_, keyCol, partCol, ts)
      .withColumn(SnapshotReader.IsDeleted, lit(false)))
    val del = deletes.map(withMeta(_, keyCol, partCol, ts)
      .withColumn(SnapshotReader.IsDeleted, lit(true)))
    val deltaRows = (up.toSeq ++ del.toSeq)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(throw new IllegalArgumentException(
        "empty delta commit: no updates and no deletes"))

    val written = SliceFiles.write(fs, basePath, deltaRows, ts,
      (fid, t) => s"${fid}_$t.delta.parquet",
      statsCols = MetaCols.RecordKey +: statsCols,
      bloomCols = bloomCols, bloomBits = bloomBits)
    // A present-but-EMPTY frame (e.g. an empty streaming micro-batch) wrote
    // nothing: no-op, no empty deltacommit on the timeline — and the op
    // counters below are never computed. This is what lets the streaming
    // sink skip its pre-probe and run the batch plan once.
    if (written.isEmpty) return

    // Exact per-group op counters in ONE snapshot join: a delete/update only
    // counts if its key actually lives in the pre-commit snapshot (ref
    // invariant: totalRecordsDeleted must be exact, DeleteView.java:186).
    // Distinct per (key, op) so duplicate keys in user frames can't inflate.
    // r11: numInserts records the NEW LIVE keys this delta creates — an
    // upsert key absent from the pre-commit merged snapshot, unless the
    // SAME commit also deletes it (delete-wins within a commit, so such a
    // key never goes live). With exact per-delta inserts and deletes the
    // group's live row count folds from metadata alone
    // (base numWrites + Σ deltas (numInserts − numDeletes)) — the
    // delta-tolerant COUNT(*) pushdown; the commit carries the
    // [[FormatWriter.DeltaCountsKey]] marker so readers can tell these
    // exact counters from pre-r11 commits (whose numInserts was 0).
    val slices = timeline.latestSlices(None)
    // deltaCounters=off + no deletes: totalDeleted = 0 is trivially exact,
    // and skipping the counters leaves numInserts unrecorded — the
    // pre-marker commit shape every reader handles (metadata COUNT
    // declines the fold for this commit). A delta WITH deletes always
    // computes exactly (delete-view invariant).
    val skipCounters = !exactCounters &&
      del.isEmpty
    val tagged = (del.map(_.select(col(MetaCols.RecordKey), col(FidCol))
        .withColumn("__op", lit("d"))).toSeq ++
      up.map(_.select(col(MetaCols.RecordKey), col(FidCol))
        .withColumn("__op", lit("u"))))
      .reduceOption(_ unionByName _).map(_.distinct())
      .filterNot(_ => skipCounters)
    val opCounts: Map[(String, String), Long] = tagged match {
      case Some(t) =>
        val perKey = t.groupBy(col(MetaCols.RecordKey), col(FidCol))
          .agg(max(when(col("__op") === "u", 1).otherwise(0)).as("__hasU"),
            max(when(col("__op") === "d", 1).otherwise(0)).as("__hasD"))
        // existence probe: the batch's key set is a broadcast
        // semi-join on the merged snapshot (`keyFilter`) — the merge
        // runs per file group inside the scan tasks, so nothing
        // table-sized is shuffled; the surviving keys (≤ batch)
        // broadcast back into perKey. A delete commit's cost is one
        // scan of the table plus batch-sized joins.
        val withEx =
          if (slices.nonEmpty) {
            val exKeys = SnapshotReader
              .merge(spark, basePath, slices.values.toSeq,
                keyFilter =
                  Some(t.select(col(MetaCols.RecordKey)).distinct()))
              .select(col(MetaCols.RecordKey))
              .withColumn("__ex", lit(1))
            perKey.join(broadcast(exKeys), Seq(MetaCols.RecordKey),
              "left")
          } else perKey.withColumn("__ex", lit(null).cast("int"))
        withEx.groupBy(col(FidCol))
          .agg(
            sum(when(col("__hasD") === 1 && col("__ex").isNotNull, 1L)
              .otherwise(0L)).as("d"),
            sum(when(col("__hasU") === 1 && col("__ex").isNotNull, 1L)
              .otherwise(0L)).as("u"),
            sum(when(col("__hasU") === 1 && col("__ex").isNull &&
              col("__hasD") === 0, 1L).otherwise(0L)).as("i"))
          .collect().flatMap(r => Seq(
            (r.getString(0), "d") -> r.getLong(1),
            (r.getString(0), "u") -> r.getLong(2),
            (r.getString(0), "i") -> r.getLong(3))).toMap
      case _ => Map.empty
    }
    val deletedPerFid = opCounts.collect { case ((f, "d"), n) => f -> n }
    val updatedPerFid = opCounts.collect { case ((f, "u"), n) => f -> n }
    val insertedPerFid = opCounts.collect { case ((f, "i"), n) => f -> n }

    val stats = written.toSeq.map { case ((part, fid), w) =>
      part -> WriteStat(fid, Some(w.relPath),
        prevCommit = slices.get(fid).map(_.commitTs),
        numWrites = w.rows,
        numDeletes = deletedPerFid.getOrElse(fid, 0L),
        numUpdateWrites = updatedPerFid.getOrElse(fid, 0L),
        numInserts = insertedPerFid.getOrElse(fid, 0L),
        colStats = w.colStats,
        sizeBytes = Some(w.sizeBytes))
    }
    saveCommit(ts, stats, totalDeleted = deletedPerFid.values.sum,
      op = "UPSERT_DELTA", action = Instant.DeltaCommitAction,
      schema = deltaRows.drop(FidCol).schema,
      extra =
        if (skipCounters) extra
        else extra + (FormatWriter.DeltaCountsKey -> "exact"),
      readPoint = readPoint)
  }

  def upsert(updates: DataFrame, keyCol: Column, partCol: Column, ts: String,
      extra: Map[String, String] = Map.empty): Unit =
    upsertDelta(Some(updates), None, keyCol, partCol, ts, extra)

  def delete(rows: DataFrame, keyCol: Column, partCol: Column, ts: String,
      extra: Map[String, String] = Map.empty): Unit =
    upsertDelta(None, Some(rows), keyCol, partCol, ts, extra)

  /** Compaction: fold every file group with outstanding deltas into a fresh
    * base slice at `ts` (timeline action `commit`, like Hudi compaction).
    * Groups without deltas are untouched. */
  def compact(ts: String): Unit = compactWhere(ts, _.deltas.nonEmpty)

  /** Threshold compaction (Hudi's num-delta-commits strategy): compact only
    * file groups carrying at least `minDeltas` outstanding delta files;
    * groups below the threshold keep accumulating. At scale this bounds
    * both compaction write amplification (only genuinely dirty groups are
    * rewritten) and snapshot merge cost (the merge reader's per-group
    * delta maps stay small). */
  def compactIf(ts: String, minDeltas: Int): Unit =
    compactWhere(ts, _.deltas.size >= minDeltas)

  private def compactWhere(ts: String,
      shouldCompact: FileSlice => Boolean): Unit = {
    // OCC read point: a delta landing in a group AFTER this merge planned
    // would be silently swallowed by the compacted slice — group-overlap
    // conflict detection makes the compaction lose instead
    val readPoint = timeline.completedInstants().lastOption.map(_.ts)
    val slices = timeline.latestSlices(None)
    val dirty = slices.values.filter(shouldCompact).toSeq
    if (dirty.isEmpty) return
    val merged = SnapshotReader.merge(spark, basePath, dirty)
      .withColumn(FidCol, fileIdCol)
      .withColumn(MetaCols.FileName,
        concat(col(FidCol), lit("_"), lit(ts), lit(".parquet")))
    val written = SliceFiles.write(fs, basePath, merged, ts,
      (fid, t) => s"${fid}_$t.parquet",
      statsCols = MetaCols.RecordKey +: statsCols,
      bloomCols = bloomCols, bloomBits = bloomBits)
    // A group whose rows were all deleted writes no file: record a 0-row
    // stat so the slice is still superseded on the timeline.
    val writtenFids = written.keys.map(_._2).toSet
    val emptied = dirty.filterNot(s => writtenFids.contains(s.fileId))
    val stats = written.toSeq.map { case ((part, fid), w) =>
      part -> WriteStat(fid, Some(w.relPath),
        prevCommit = slices.get(fid).map(_.commitTs),
        numWrites = w.rows, numDeletes = 0, numUpdateWrites = 0,
        numInserts = 0, colStats = w.colStats,
        sizeBytes = Some(w.sizeBytes))
    } ++ emptied.map { s =>
      s.partitionPath -> WriteStat(s.fileId, None,
        prevCommit = Some(s.commitTs),
        numWrites = 0, numDeletes = 0, numUpdateWrites = 0, numInserts = 0)
    }
    saveCommit(ts, stats, totalDeleted = 0, op = "COMPACT",
      action = Instant.CommitAction, schema = merged.drop(FidCol).schema,
      readPoint = readPoint)
  }

  private def saveCommit(ts: String, stats: Iterable[(String, WriteStat)],
      totalDeleted: Long, op: String, action: String,
      schema: org.apache.spark.sql.types.StructType,
      extra: Map[String, String] = Map.empty,
      readPoint: Option[String] = None,
      conflictOnAny: Boolean = false): Unit = {
    val byPart = stats.groupBy(_._1).view
      .mapValues(_.map(_._2).toSeq.sortBy(_.fileId)).toMap
    val meta = CommitMetadata(
      partitionToWriteStats = byPart,
      operationType = op,
      totalRecordsDeleted = totalDeleted,
      totalRecordsWritten = stats.map(_._2.numWrites).sum,
      schemaJson = Some(MetaCols.canonicalSchema(
        MorWriter.monotonicSchema(timeline, action, schema)).json),
      extra = extra)
    publish match {
      case Some(p) => p(ts, meta, action, readPoint, conflictOnAny)
      case None => timeline.saveCommitOcc(ts, meta, action,
        readPoint = readPoint, conflictOnAny = conflictOnAny)
    }
  }
}

object MorWriter {

  /** Maintenance compaction by path: fold every file group holding
    * ≥ `minDeltas` outstanding deltas into a fresh base slice — the
    * `CALL <cat>.system.compact` verb's body as a library call, for
    * operators that maintain MOR state tables and compact on their own
    * schedule (post-ingest, off the write path). Identity on table
    * content; no-op (no commit) when nothing qualifies. */
  def compactTable(spark: SparkSession, path: String,
      minDeltas: Int = 1): Unit = {
    val tl = Timeline(spark.sessionState.newHadoopConf(), path)
    val nb = graft.read.SnapshotReader.recordedBuckets(tl, None)
      .getOrElse(throw new IllegalArgumentException(
        s"$path records no bucket count; compaction preserves the " +
          "key->group routing and needs it recorded"))
    val sc = FormatWriter.recordedExtra(tl, FormatWriter.StatsColsKey)
      .map(_.split(",").toSeq).getOrElse(Seq.empty)
    val bc = FormatWriter.recordedExtra(tl, FormatWriter.BloomColsKey)
      .map(_.split(",").toSeq).getOrElse(Seq.empty)
    val bb = FormatWriter.recordedExtra(tl, FormatWriter.BloomBitsKey)
      .map(_.toInt).getOrElse(graft.format.Bloom.DefaultBits)
    val w = new MorWriter(spark, path, nb, statsCols = sc,
      bloomCols = bc, bloomBits = bb)
    val ts = FormatWriter.nextTs(w.timeline)
    try w.compactIf(ts, minDeltas = minDeltas)
    finally w.timeline.unreserve(ts) // no dirty groups -> no commit
  }

  /** Schema recorded with a commit: the UNION of the newest previously
    * recorded schema (ANY action) and the new frame's schema — new fields'
    * order first, previous-only fields appended, and the MOR delete marker
    * kept only on delta records (base files never carry it, and leaking it
    * into a base-commit record would surface a phantom null column on
    * snapshot reads).
    *
    * Unioning across actions makes the newest recorded schema a superset
    * of EVERY live file's schema by induction — including the first
    * deltacommit after an insert (a same-action union would let a narrow
    * first delta record a schema missing base columns, and the snapshot's
    * merged branch would project them away) and compaction commits on
    * partially-compacted tables. Readers can therefore resolve the table
    * schema from the single newest record. Same-name fields keep the NEW
    * writer's type — diverging types are outside the add-only contract. */
  private[graft] def monotonicSchema(timeline: Timeline, action: String,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val unioned = timeline.latestSchemaJson(None) match {
      case None => schema
      case Some(prevJson) =>
        val prev = org.apache.spark.sql.types.DataType.fromJson(prevJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val newNames = schema.fieldNames.toSet
        org.apache.spark.sql.types.StructType(
          schema.fields ++ prev.fields.filterNot(f => newNames(f.name)))
    }
    if (action == Instant.CommitAction)
      org.apache.spark.sql.types.StructType(
        unioned.filterNot(_.name == graft.read.SnapshotReader.IsDeleted))
    else unioned
  }
}

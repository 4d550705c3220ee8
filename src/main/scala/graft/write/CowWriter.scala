package graft.write

import graft.format._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Native Copy-On-Write table writer.
  *
  * Creates Hudi-shaped versioned tables: parquet file slices named
  * `<fileId>_<commitTs>.parquet` under partition directories, plus a
  * `.hoodie/<ts>.commit` JSON per commit carrying per-file write stats
  * (fileId, path, prevCommit, numDeletes — exactly the fields the reference's
  * planner consumes, ref: DeleteView.java:98-104, 116-126, 132-142).
  *
  * Layout and semantics follow SURVEY.md §1.1/§7.2. Record keys are kept
  * table-unique (Hudi's guarantee) so the delete view's global anti-join is
  * equivalent to the per-file-group union (SURVEY.md §7.3).
  *
  * Scale notes (100 TB): the data path is one distributed job per commit —
  * a hash `repartition` on (partition, fileId) followed by a partitioned
  * parquet write; per-group row counts come from a map-side-combined
  * `groupBy(...).count()` (metadata-sized result). Only file *names* and the
  * commit JSON are handled on the driver, which is O(#touched file groups) —
  * the same metadata scale Hudi itself plans at. No data ever moves through
  * the driver.
  *
  * @param numBuckets file groups per partition (deterministic bucketing of
  *                   record keys via xxhash64)
  * @param statsCols  payload columns to track per-file min/max/null stats
  *                   for (the column-stats skipping index); the record key
  *                   is ALWAYS tracked. Names not in the written frame (or
  *                   of non-orderable type) are ignored per write.
  */
final class CowWriter(
    spark: SparkSession,
    basePath: String,
    numBuckets: Int,
    statsCols: Seq[String] = Seq.empty,
    bloomCols: Seq[String] = Seq.empty,
    bloomBits: Int = graft.format.Bloom.DefaultBits,
    precombine: Option[String] = None,
    // publish hook: None = publish through timeline.saveCommitOcc as
    // always; Some = hand the fully-built commit to the caller instead
    // (multi-table transactions STAGE here and publish later inside the
    // composed critical section — see [[MultiTableTxn]])
    publish: Option[MultiTableTxn.CommitPublisher] = None) {

  import CowWriter._

  private val conf = spark.sessionState.newHadoopConf()
  private val fs: FileSystem = new Path(basePath).getFileSystem(conf)
  val timeline: Timeline = Timeline(conf, basePath)

  /** Deterministic file-group id for a record: `<partition>-<bucket>`. */
  private def fileIdCol: Column =
    concat(col(MetaCols.PartitionPath), lit("-"),
      pmod(xxhash64(col(MetaCols.RecordKey)), lit(numBuckets)).cast("string"))

  /** Stamp the five meta columns onto payload rows for commit `ts`. The
    * input may itself CARRY meta columns (SQL DML passes snapshot rows and
    * re-derives identity from `_hoodie_record_key`/`_hoodie_partition_path`)
    * — they are re-stamped, never duplicated into the payload. */
  private def withMeta(df: DataFrame, keyCol: Column, partCol: Column,
      ts: String): DataFrame = {
    val payloadCols = df.columns.toSeq.filterNot(MetaCols.all.contains)
    df.withColumn(MetaCols.RecordKey, keyCol.cast("string"))
      .withColumn(MetaCols.PartitionPath, partCol.cast("string"))
      .withColumn(MetaCols.CommitTime, lit(ts))
      // Deterministic per-key seqno (monotonically_increasing_id would be
      // partition-layout-dependent, breaking rebuild determinism).
      .withColumn(MetaCols.CommitSeqno,
        concat(lit(ts), lit("_"), xxhash64(col(MetaCols.RecordKey)).cast("string")))
      .withColumn(FidCol, fileIdCol)
      .withColumn(MetaCols.FileName,
        concat(col(FidCol), lit("_"), lit(ts), lit(".parquet")))
      .select((MetaCols.all.map(col) ++ payloadCols.map(col) :+ col(FidCol)): _*)
  }

  /** First commit: bulk insert `df` as the table's initial file slices.
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
    // NB: .toSeq before .map — mapping the Map directly would collapse
    // same-partition stats onto one key.
    val stats = written.toSeq.map { case ((part, fid), w) =>
      part -> WriteStat(fid, Some(w.relPath), prevCommit = None,
        numWrites = w.rows, numDeletes = 0, numUpdateWrites = 0,
        numInserts = w.rows, colStats = w.colStats,
        sizeBytes = Some(w.sizeBytes))
    }
    saveCommit(ts, stats, totalDeleted = 0, op = "INSERT",
      schema = data.drop(FidCol).schema,
      extra = creationExtra(keyCol, partCol, extra),
      readPoint = timeline.completedInstants().lastOption.map(_.ts),
      conflictOnAny = true)
  }

  /** Every table-creating commit records the bucket count and the
    * bare-column identity ([[FormatWriter.identityExtra]]; caller-supplied
    * extra wins — the format surface records the same resolved values).
    * The count pins the key→file-group routing for later appends AND
    * enables exact bucket-index pruning of key lookups at read time
    * ([[graft.read.GraftFileIndex]] — the hash that routes a key on write
    * identifies its one candidate file group per partition on read); the
    * identity lets the catalog serve the table with its native scans. */
  private def creationExtra(keyCol: Column, partCol: Column,
      extra: Map[String, String]): Map[String, String] =
    Map(FormatWriter.BucketsKey -> numBuckets.toString) ++
      FormatWriter.identityExtra(keyCol, partCol) ++ extra

  /** Upsert + delete in one commit (COW: affected file groups are fully
    * rewritten as new slices).
    *
    * @param updates full payload rows to insert-or-update (same schema as the
    *                table payload); may be empty
    * @param deletes payload rows identifying records to delete (only key +
    *                partition derivation matter); may be empty
    */
  def commit(updates: Option[DataFrame], deletes: Option[DataFrame],
      keyCol: Column, partCol: Column, ts: String,
      extra: Map[String, String] = Map.empty): Unit = {
    require(timeline.completedInstants().nonEmpty,
      s"commit() needs an existing table at $basePath; call insert() first")
    // OCC read point: the newest instant this writer's plan is based on
    // (the memoized listing latestSlices below reads from)
    val readPoint = timeline.completedInstants().lastOption.map(_.ts)

    val up = updates.map(withMeta(_, keyCol, partCol, ts))
    val del = deletes.map(withMeta(_, keyCol, partCol, ts)
      .select(col(MetaCols.RecordKey), col(MetaCols.PartitionPath), col(FidCol)))

    // Affected file groups — metadata-sized driver list (same scale Hudi
    // plans at); the data itself never reaches the driver.
    val touched: Seq[(String, String)] =
      (up.map(_.select(col(MetaCols.PartitionPath), col(FidCol)))
        .toSeq ++ del.map(_.select(col(MetaCols.PartitionPath), col(FidCol))))
        .reduceOption(_ unionByName _)
        .map(_.distinct().collect().map(r => (r.getString(0), r.getString(1))).toSeq)
        .getOrElse(Seq.empty)
    if (touched.isEmpty) throw new FormatWriter.EmptyCommitException(
      "empty commit: no updates and no deletes")

    val slices = timeline.latestSlices(None)
    val prevByFid: Map[String, FileSlice] =
      touched.flatMap { case (_, fid) => slices.get(fid).map(fid -> _) }.toMap
    val oldPaths = prevByFid.values.flatMap(_.relPath)
      .map(rp => s"$basePath/$rp").toSeq

    // Old-slice schema from commit metadata (newest commit bounds every
    // current slice under add-only evolution); footer merge only for
    // pre-schema-recording tables.
    val old = if (oldPaths.nonEmpty)
      Some(timeline.latestSchemaJson(None)
        .fold(graft.read.SnapshotReader.evolvedRead(spark, oldPaths))(
          sj => graft.read.SnapshotReader.schemaRead(spark, oldPaths, sj)))
    else None

    // Keys being replaced or removed in this commit.
    val changeKeys = (up.map(_.select(MetaCols.RecordKey)).toSeq ++
      del.map(_.select(MetaCols.RecordKey))).reduce(_ unionByName _).distinct()

    // EVENT-TIME resolution (precombine declared, and this commit carries
    // updates): instead of incoming-always-wins, each key keeps the
    // version with the GREATEST ordering value — ties go to the incoming
    // row (newer commit). An old row that wins is carried over with its
    // ORIGINAL meta columns, exactly like a survivor; a losing incoming
    // row lands nowhere. Deletes stay absolute (anti-joined out first).
    // Costs one window shuffle over the touched groups' rows — only paid
    // on tables that opted into ordering.
    val resolvedPc: Option[DataFrame] = (precombine, old, up) match {
      case (Some(pc), Some(o), Some(u)) =>
        require(u.columns.contains(pc),
          s"this table orders upserts by '$pc' (precombine); the update " +
            "frame does not carry that column")
        val oldKept = del.fold(o)(d =>
          o.join(d.select(MetaCols.RecordKey).distinct(),
            Seq(MetaCols.RecordKey), "left_anti"))
          .withColumn(FidCol, fileIdCol)
          .withColumn(MetaCols.FileName,
            concat(col(FidCol), lit("_"), lit(ts), lit(".parquet")))
          .withColumn(NewCol, lit(0))
        val cand = oldKept
          .unionByName(u.withColumn(NewCol, lit(1)),
            allowMissingColumns = true)
        val kw = org.apache.spark.sql.expressions.Window
          .partitionBy(MetaCols.RecordKey)
        val w = kw.orderBy(col(pc).desc_nulls_last, col(NewCol).desc,
          col(MetaCols.CommitSeqno).desc)
        Some(cand
          .withColumn(HadOldCol,
            max(when(col(NewCol) === 0, 1).otherwise(0)).over(kw))
          .withColumn(RnCol, row_number().over(w))
          .filter(col(RnCol) === 1))
      case _ => None
    }

    // Survivors keep their original _hoodie_commit_time/_seqno (COW
    // semantics: unchanged rows are carried over), but move to the new file.
    val survivors = old.map { o =>
      o.join(changeKeys, Seq(MetaCols.RecordKey), "left_anti")
        .withColumn(FidCol, fileIdCol)
        .withColumn(MetaCols.FileName,
          concat(col(FidCol), lit("_"), lit(ts), lit(".parquet")))
    }

    // allowMissingColumns: an upsert may ADD payload columns (schema
    // evolution) — carried-over survivors read them as null.
    val newData = resolvedPc match {
      case Some(r) => r.drop(RnCol, NewCol, HadOldCol)
      case None => (survivors.toSeq ++ up.toSeq)
        .reduce(_.unionByName(_, allowMissingColumns = true))
    }

    val written = writeSlices(newData, ts)

    // Per-group delete/update counters in ONE job (the old slices are 100 TB
    // scale — every extra stats pass is a full re-read): tag the change keys
    // with their op, inner-join once against old keys, count by (fid, op).
    // Distinct per (key, op): duplicate keys in the user-supplied frames must
    // not inflate the counters (survivors already use distinct changeKeys).
    // Ref invariant: totalRecordsDeleted must be exact (DeleteView.java:186).
    // precombine mode: update counts come from the resolved winners below
    // (a losing incoming row is NOT an update — the snapshot is unchanged),
    // so only deletes go through the existence join.
    val tagged = (del.map(_.select(col(MetaCols.RecordKey))
        .withColumn(OpCol, lit("d"))).toSeq ++
      (if (resolvedPc.isEmpty) up else None)
        .map(_.select(col(MetaCols.RecordKey)).withColumn(OpCol, lit("u"))))
      .reduceOption(_ unionByName _)
      .map(_.distinct())
    val opCounts: Map[(String, String), Long] = (old, tagged) match {
      case (Some(o), Some(t)) =>
        o.select(col(MetaCols.RecordKey), col(MetaCols.PartitionPath))
          .join(t, Seq(MetaCols.RecordKey))
          .withColumn(FidCol, fileIdCol)
          .groupBy(col(FidCol), col(OpCol)).count().collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      case _ => Map.empty
    }
    val deletedPerFid = opCounts.collect { case ((f, "d"), n) => f -> n }
    val updatedPerFid: Map[String, Long] = resolvedPc match {
      case Some(r) => r
        .filter(col(NewCol) === 1 && col(HadOldCol) === 1)
        .groupBy(col(FidCol)).count().collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      case None => opCounts.collect { case ((f, "u"), n) => f -> n }.toMap
    }

    // Groups fully emptied by deletes produce no file: record a 0-row stat so
    // the delete view still sees prevCommit + numDeletes for them.
    val writtenFids = written.keys.map(_._2).toSet
    val emptied = touched.filter { case (_, fid) =>
      !writtenFids.contains(fid) && prevByFid.contains(fid)
    }

    val stats = written.toSeq.map { case ((part, fid), w) =>
      part -> WriteStat(fid, Some(w.relPath),
        prevCommit = prevByFid.get(fid).map(_.commitTs),
        numWrites = w.rows,
        numDeletes = deletedPerFid.getOrElse(fid, 0L),
        numUpdateWrites = updatedPerFid.getOrElse(fid, 0L),
        numInserts = 0, colStats = w.colStats,
        sizeBytes = Some(w.sizeBytes))
    } ++ emptied.map { case (part, fid) =>
      part -> WriteStat(fid, None,
        prevCommit = prevByFid.get(fid).map(_.commitTs),
        numWrites = 0,
        numDeletes = deletedPerFid.getOrElse(fid, 0L),
        numUpdateWrites = 0, numInserts = 0)
    }

    saveCommit(ts, stats, totalDeleted = deletedPerFid.values.sum,
      op = "UPSERT", schema = newData.drop(FidCol).schema, extra = extra,
      readPoint = readPoint)
  }

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
    val replaced = prior.values.filterNot(s => writtenFids.contains(s.fileId))
    val stats = written.toSeq.map { case ((part, fid), w) =>
      part -> WriteStat(fid, Some(w.relPath),
        prevCommit = prior.get(fid).map(_.commitTs),
        numWrites = w.rows, numDeletes = 0, numUpdateWrites = 0,
        numInserts = w.rows, colStats = w.colStats,
        sizeBytes = Some(w.sizeBytes))
    } ++ replaced.map { s =>
      s.partitionPath -> WriteStat(s.fileId, None,
        prevCommit = Some(s.commitTs),
        numWrites = 0, numDeletes = 0, numUpdateWrites = 0, numInserts = 0)
    }
    // conflictOnAny: a concurrent commit's file group would survive the
    // replace and resurrect rows the overwrite never saw
    saveCommit(ts, stats, totalDeleted = 0, op = "INSERT_OVERWRITE_TABLE",
      schema = data.drop(FidCol).schema,
      extra = creationExtra(keyCol, partCol, extra),
      readPoint = readPoint, conflictOnAny = true)
  }

  def upsert(updates: DataFrame, keyCol: Column, partCol: Column, ts: String,
      extra: Map[String, String] = Map.empty): Unit =
    commit(Some(updates), None, keyCol, partCol, ts, extra)

  def delete(rows: DataFrame, keyCol: Column, partCol: Column, ts: String,
      extra: Map[String, String] = Map.empty): Unit =
    commit(None, Some(rows), keyCol, partCol, ts, extra)

  private def writeSlices(data: DataFrame, ts: String)
      : Map[(String, String), SliceFiles.Written] =
    SliceFiles.write(fs, basePath, data, ts,
      (fid, t) => s"${fid}_$t.parquet",
      statsCols = MetaCols.RecordKey +: statsCols,
      bloomCols = bloomCols, bloomBits = bloomBits)

  private def saveCommit(ts: String, stats: Iterable[(String, WriteStat)],
      totalDeleted: Long, op: String,
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
      schemaJson = Some(MetaCols.canonicalSchema(schema).json),
      extra = extra)
    publish match {
      case Some(p) =>
        p(ts, meta, graft.format.Instant.CommitAction, readPoint,
          conflictOnAny)
      case None => timeline.saveCommitOcc(ts, meta,
        readPoint = readPoint, conflictOnAny = conflictOnAny)
    }
  }
}

object CowWriter {
  /** Helper column holding the file-group id during a write. */
  private[graft] val FidCol = "__graft_fid"
  /** Helper column tagging change rows with their operation (d/u). */
  private val OpCol = "__graft_op"
  /** Precombine-resolution helper columns (incoming flag, window rank,
    * key-had-an-old-row flag). */
  private val NewCol = "__graft_new"
  private val RnCol = "__graft_rn"
  private val HadOldCol = "__graft_had_old"
}

package graft.write

import graft.format._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-On-Write table writer: an upsert/delete commit REWRITES every
  * file group it touches as new slices (read-optimized serving — readers
  * never merge). Creation, overwrite, routing, stats and publishing are the
  * shared [[TableWriter]] core; callers that resolve a table's
  * [[WriteContract]] get this writer from [[WriteContract.writer]].
  *
  * Scale notes (100 TB): a commit runs two SQL executions — the
  * touched-groups list (metadata-sized) and the rewrite itself, a hash
  * `repartition` on (partition, fileId) followed by a partitioned parquet
  * write that also returns each file's row counts and column stats
  * ([[SliceFiles]]). The op counters follow from those counts and the
  * previous slices' recorded ones; only a commit carrying both updates
  * and deletes adds a third, key-only existence join for its deletes. No
  * data ever moves through the driver.
  *
  * @param numBuckets file groups per partition (deterministic bucketing of
  *                   record keys via xxhash64)
  * @param statsCols  payload columns to track per-file min/max/null stats
  *                   for (the column-stats skipping index); the record key
  *                   is ALWAYS tracked. Names not in the written frame (or
  *                   of non-orderable type) are ignored per write.
  * @param precombine event-time ordering column: an upsert keeps, per key,
  *                   the version with the greatest ordering value
  */
final class CowWriter private[write] (
    spark: SparkSession,
    basePath: String,
    numBuckets: Int,
    statsCols: Seq[String],
    bloomCols: Seq[String],
    bloomBits: Int,
    precombine: Option[String],
    publish: Option[MultiTableTxn.CommitPublisher],
    sharedTimeline: Option[Timeline])
    extends TableWriter(spark, basePath, numBuckets, statsCols, bloomCols,
      bloomBits, publish, sharedTimeline) {

  def this(
      spark: SparkSession,
      basePath: String,
      numBuckets: Int,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      bloomBits: Int = graft.format.Bloom.DefaultBits,
      precombine: Option[String] = None,
      // see [[TableWriter]]'s parameter of the same name
      publish: Option[MultiTableTxn.CommitPublisher] = None) =
    this(spark, basePath, numBuckets, statsCols, bloomCols, bloomBits,
      precombine, publish, None)

  import CowWriter._
  import TableWriter.FidCol

  /** Upsert + delete in one commit: affected file groups are fully
    * rewritten as new slices. */
  override def commit(updates: Option[DataFrame], deletes: Option[DataFrame],
      keyCol: Column, partCol: Column, ts: String,
      extra: Map[String, String]): Unit = {
    require(timeline.completedInstants().nonEmpty,
      s"commit() needs an existing table at $basePath; call insert() first")
    // OCC read point: the newest instant this writer's plan is based on
    // (the memoized listing latestSlices below reads from)
    val readPoint = timeline.completedInstants().lastOption.map(_.ts)

    val incoming = updates.map(withMeta(_, keyCol, partCol, ts))
    val del = deletes.map(withMeta(_, keyCol, partCol, ts)
      .select(col(MetaCols.RecordKey), col(MetaCols.PartitionPath), col(FidCol)))
    // Delete wins: a key this commit both updates and deletes is deleted
    // (the MOR merge resolves the same pair the same way).
    val up = del.fold(incoming)(d => incoming.map(_.join(
      d.select(MetaCols.RecordKey).distinct(), Seq(MetaCols.RecordKey),
      "left_anti")))

    // Affected file groups — metadata-sized driver list (same scale Hudi
    // plans at); the data itself never reaches the driver.
    val touched: Seq[(String, String)] =
      (incoming.map(_.select(col(MetaCols.PartitionPath), col(FidCol)))
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
    // current slice under add-only evolution).
    val old = if (oldPaths.nonEmpty)
      Some(graft.read.SnapshotReader.schemaRead(spark, oldPaths,
        timeline.tableSchema(None)))
    else None

    // Keys being replaced or removed in this commit.
    val changeKeys = (incoming.map(_.select(MetaCols.RecordKey)).toSeq ++
      del.map(_.select(MetaCols.RecordKey))).reduce(_ unionByName _).distinct()

    // EVENT-TIME resolution (precombine declared, and this commit carries
    // updates): instead of incoming-always-wins, each key keeps the
    // version with the GREATEST ordering value — ties go to the incoming
    // row (newer commit). An old row that wins is carried over with its
    // ORIGINAL meta columns, exactly like a survivor; a losing incoming
    // row lands nowhere. Deletes stay absolute (anti-joined out of both
    // sides first). Costs one window shuffle over the touched groups' rows
    // — only paid on tables that opted into ordering.
    val resolvedPc: Option[DataFrame] = (precombine, old, up) match {
      case (Some(pc), Some(o), Some(u)) =>
        require(u.columns.contains(pc),
          s"this table orders upserts by '$pc' (precombine); the update " +
            "frame does not carry that column")
        val oldKept = routed(del.fold(o)(d =>
          o.join(d.select(MetaCols.RecordKey).distinct(),
            Seq(MetaCols.RecordKey), "left_anti")), ts)
          .withColumn(NewCol, lit(0))
        val cand = oldKept
          .unionByName(u.withColumn(NewCol, lit(1)),
            allowMissingColumns = true)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(MetaCols.RecordKey)
          .orderBy(col(pc).desc_nulls_last, col(NewCol).desc,
            col(MetaCols.CommitSeqno).desc)
        Some(cand
          .withColumn(RnCol, row_number().over(w))
          .filter(col(RnCol) === 1)
          .drop(RnCol, NewCol))
      case _ => None
    }

    // Survivors keep their original _hoodie_commit_time/_seqno (COW
    // semantics: unchanged rows are carried over), but move to the new file.
    val survivors = old.map(o =>
      routed(o.join(changeKeys, Seq(MetaCols.RecordKey), "left_anti"), ts))

    // allowMissingColumns: an upsert may ADD payload columns (schema
    // evolution) — carried-over survivors read them as null.
    val newData = resolvedPc.getOrElse((survivors.toSeq ++ up.toSeq)
      .reduce(_.unionByName(_, allowMissingColumns = true)))

    val written = writeSlices(newData, ts)

    // Per-group op counters from metadata and the write itself — no pass
    // over the old slices. Every row the write carried over from a group's
    // previous slice keeps its old commit time, so the previous slice's
    // recorded row count (numWrites — exact, the metadata COUNT(*) fold
    // trusts it) minus the carried rows is what this commit REMOVED from
    // the group: its deleted rows plus the old versions its updates
    // replaced (a losing precombine row replaces nothing). A one-sided
    // commit books the removal as its side; only a commit carrying both
    // runs an existence join, over the delete keys alone, and books the
    // rest as updates. Ref invariant: totalRecordsDeleted must be exact
    // (DeleteView.java:186).
    val prevRows: Map[String, Long] =
      prevByFid.values.groupBy(_.commitTs).flatMap { case (cts, ss) =>
        val rows = timeline.metadata(cts).allStats
          .map { case (_, st) => st.fileId -> st.numWrites }.toMap
        ss.map(s => s.fileId -> rows.getOrElse(s.fileId, 0L))
      }
    val writtenByFid = written.map { case ((_, fid), w) => fid -> w }
    val removed: Map[String, Long] = prevRows.map { case (fid, n) =>
      fid -> (n - writtenByFid.get(fid).fold(0L)(w => w.rows - w.fresh))
    }
    val (deletedPerFid, updatedPerFid) = (up, del, old) match {
      case (Some(_), Some(d), Some(o)) =>
        val deleted = o.select(col(MetaCols.RecordKey),
            col(MetaCols.PartitionPath))
          .join(d.select(MetaCols.RecordKey), Seq(MetaCols.RecordKey),
            "left_semi")
          .groupBy(fileIdCol).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        (deleted, removed.map { case (fid, n) =>
          fid -> (n - deleted.getOrElse(fid, 0L)) })
      case (None, _, _) => (removed, Map.empty[String, Long])
      case _ => (Map.empty[String, Long], removed)
    }

    // Groups fully emptied by deletes produce no file: a 0-row stat keeps
    // their prevCommit + numDeletes visible to the delete view.
    // Inserts: the group's fresh rows that replaced no old row (with
    // precombine, the fresh winners that had no old row).
    saveCommit(ts, groupStats(written, prevByFid,
        superseded = prevByFid.values.filterNot(s => writtenByFid.contains(s.fileId)),
        deleted = deletedPerFid, updated = updatedPerFid,
        inserted = (fid, _) =>
          writtenByFid(fid).fresh - updatedPerFid.getOrElse(fid, 0L)),
      totalDeleted = deletedPerFid.values.sum,
      op = "UPSERT", schema = newData.drop(FidCol).schema, extra = extra,
      readPoint = readPoint)
  }
}

object CowWriter {
  /** Precombine-resolution helper columns (incoming flag, window rank). */
  private val NewCol = "__graft_new"
  private val RnCol = "__graft_rn"
}

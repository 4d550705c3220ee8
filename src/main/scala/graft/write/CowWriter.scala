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
  * Scale notes (100 TB): the data path is one distributed job per commit —
  * a hash `repartition` on (partition, fileId) followed by a partitioned
  * parquet write; per-group row counts come from a map-side-combined
  * `groupBy(...).count()` (metadata-sized result). No data ever moves
  * through the driver.
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
        val oldKept = routed(del.fold(o)(d =>
          o.join(d.select(MetaCols.RecordKey).distinct(),
            Seq(MetaCols.RecordKey), "left_anti")), ts)
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
    val survivors = old.map(o =>
      routed(o.join(changeKeys, Seq(MetaCols.RecordKey), "left_anti"), ts))

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

    // Groups fully emptied by deletes produce no file: a 0-row stat keeps
    // their prevCommit + numDeletes visible to the delete view.
    val writtenFids = written.keys.map(_._2).toSet
    saveCommit(ts, groupStats(written, prevByFid,
        superseded = prevByFid.values.filterNot(s => writtenFids(s.fileId)),
        deleted = deletedPerFid, updated = updatedPerFid),
      totalDeleted = deletedPerFid.values.sum,
      op = "UPSERT", schema = newData.drop(FidCol).schema, extra = extra,
      readPoint = readPoint)
  }
}

object CowWriter {
  /** Helper column tagging change rows with their operation (d/u). */
  private val OpCol = "__graft_op"
  /** Precombine-resolution helper columns (incoming flag, window rank,
    * key-had-an-old-row flag). */
  private val NewCol = "__graft_new"
  private val RnCol = "__graft_rn"
  private val HadOldCol = "__graft_had_old"
}

package graft.write

import graft.format._
import graft.read.SnapshotReader
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Merge-On-Read table writer (the BASELINE.json north-star approach:
  * "Spark + Hudi MergeOnRead reader"): an upsert/delete commit APPENDS delta
  * files `<fileId>_<ts>.delta.parquet` (timeline action `deltacommit`)
  * carrying upserted rows plus delete markers (`_hoodie_is_deleted = true`)
  * — no file-group rewrite. Snapshot reads merge base + deltas per file
  * group (see [[graft.read.SnapshotReader]]); `compact()` folds outstanding
  * deltas into fresh base slices. Creation, overwrite, routing, stats,
  * publishing and the group rewrite behind compaction are the shared
  * [[TableWriter]] core; callers that resolve a table's [[WriteContract]]
  * get this writer from [[WriteContract.writer]].
  *
  * Scale notes (100 TB): a delta commit writes ONLY the changed rows, in
  * one write execution that also returns each file's stats
  * ([[SliceFiles]]); the exact op counters (numDeletes etc. per group)
  * add one existence join against the snapshot, skipped by a
  * `deltaCounters=off` table's delete-free deltas. Compaction is itself a
  * distributed merge job whose output goes through the same slice writer
  * as COW commits.
  *
  * @param exactCounters false = the table declared `deltaCounters=off`:
  *                      DELETE-FREE delta commits skip the snapshot-key
  *                      existence join (table-sized however small the
  *                      batch) and carry no `deltaCounts` marker — see
  *                      [[WriteContract.DeltaCountersKey]]
  */
final class MorWriter private[write] (
    spark: SparkSession,
    basePath: String,
    numBuckets: Int,
    statsCols: Seq[String],
    bloomCols: Seq[String],
    bloomBits: Int,
    publish: Option[MultiTableTxn.CommitPublisher],
    exactCounters: Boolean,
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
      // see [[TableWriter]]'s parameter of the same name
      publish: Option[MultiTableTxn.CommitPublisher] = None,
      exactCounters: Boolean = true) =
    this(spark, basePath, numBuckets, statsCols, bloomCols, bloomBits,
      publish, exactCounters, None)

  import TableWriter.FidCol

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

    val written = writeSlices(deltaRows, ts, suffix = ".delta.parquet")
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
              .merge(spark, basePath, slices.values.toSeq, Some(timeline),
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

    saveCommit(ts, groupStats(written, slices, deleted = deletedPerFid,
        updated = updatedPerFid,
        inserted = (fid, _) => insertedPerFid.getOrElse(fid, 0L)),
      totalDeleted = deletedPerFid.values.sum,
      op = "UPSERT_DELTA", action = Instant.DeltaCommitAction,
      schema = deltaRows.drop(FidCol).schema,
      extra =
        if (skipCounters) extra
        else extra + (FormatWriter.DeltaCountsKey -> "exact"),
      readPoint = readPoint)
  }

  /** A MOR commit is a delta commit ([[upsertDelta]]). */
  override def commit(updates: Option[DataFrame], deletes: Option[DataFrame],
      keyCol: Column, partCol: Column, ts: String,
      extra: Map[String, String]): Unit =
    upsertDelta(updates, deletes, keyCol, partCol, ts, extra)

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
    val dirty = timeline.latestSlices(None).values.filter(shouldCompact).toSeq
    if (dirty.nonEmpty) rewriteGroups(ts, dirty, "COMPACT")
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
      minDeltas: Int = 1): Unit = { compactTableAt(spark, path, minDeltas); () }

  /** [[compactTable]] reporting the commit ts it minted and whether a
    * compaction commit landed there. */
  private[graft] def compactTableAt(spark: SparkSession, path: String,
      minDeltas: Int): (String, Boolean) = {
    val tl = Timeline(spark.sessionState.newHadoopConf(), path)
    val c = WriteContract.resolve(tl, Map.empty)
    val w = new MorWriter(spark, path, c.buckets, c.statsCols, c.bloomCols,
      c.bloomBits, None, exactCounters = true, Some(tl))
    val ts = FormatWriter.nextTs(tl)
    try {
      w.compactIf(ts, minDeltas = minDeltas)
      (ts, tl.instantAt(ts).nonEmpty)
    } finally tl.unreserve(ts) // no dirty groups -> no commit
  }
}

package graft.read

import graft.deleteview.DeleteView
import graft.format.{Instant, MetaCols, Timeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Change-data feed: every row-level change committed in
  * `(fromExclusive, toInclusive]`, tagged `_change_type` ∈
  * {insert, update, delete} with `_change_commit_ts` naming the commit —
  * the Delta CDF / Hudi CDC query analog, and the natural capstone on a
  * delete-tracking engine: the hard third of CDC (enumerating deletes with
  * their full pre-images) IS the reference's delete view
  * (ref: DeleteSupport.java:89-96), reused here commit-by-commit.
  *
  * Per-commit semantics:
  *  - `delete`: the delete view of that commit — the deleted rows' last
  *    pre-delete versions (pre-image payload), `_hoodie_commit_time`
  *    restamped to the deleting commit.
  *  - `insert` / `update`: the rows the commit wrote (post-image payload),
  *    split by whether the key existed in the PRE-commit snapshot —
  *    resolved with one key-only semi-join per commit against the previous
  *    slices of only the file groups the commit touched (the same
  *    metadata-first pruning as the delete view; untouched groups never
  *    enter any plan). A key deleted and later re-inserted in the range
  *    shows delete then insert.
  *  - compaction commits contribute NOTHING: they rewrite bytes, not rows
  *    (merged rows keep their original `_hoodie_commit_time`).
  *  - `INSERT_OVERWRITE_TABLE` emits its written rows (tagged against the
  *    pre-overwrite snapshot); rows it dropped are NOT enumerated as
  *    deletes — an overwrite replaces the table rather than deleting
  *    tracked records (its delete view is empty by design, same contract
  *    as [[graft.write.TableWriter.overwriteTable]]), and enumerating them
  *    would cost a full pre-overwrite snapshot scan instead of
  *    touched-group-bounded work.
  *
  * Scale notes (100 TB): each commit's plan is bounded by the file groups
  * that commit touched — changed-row scans read only the commit's own
  * files (with the residual `_hoodie_commit_time = ts` filter pushed to
  * parquet row-group stats), the existence probe reads only touched
  * groups' previous slices column-pruned to the merge keys, and the
  * delete view is the reference's own metadata-pruned plan. Cost scales
  * with the range's churn, never with table size.
  */
object ChangeFeed {

  val ChangeType = "_change_type"
  val ChangeCommitTs = "_change_commit_ts"

  /** The feed's schema for a range ending at `toInclusive`: the table
    * schema as of `to`, then the two change tags. */
  private[graft] def schema(tl: Timeline, toInclusive: String): StructType =
    StructType(tl.tableSchema(Some(toInclusive)).fields.toSeq :+
      StructField(ChangeType, StringType) :+
      StructField(ChangeCommitTs, StringType))

  /** @param preImages also emit an `update_preimage` row for every
    *                  `update` — the updated key's full PRE-commit row,
    *                  stamped with the updating commit (Delta CDF's
    *                  update_preimage). Costs one full-row (instead of
    *                  key-only) read of the touched groups' previous
    *                  slices per commit — still churn-bounded, never a
    *                  table scan. What sum/avg-maintaining consumers
    *                  (e.g. [[graft.views.MaterializedAgg]]) need to
    *                  subtract the old contribution. */
  def read(spark: SparkSession, basePath: String,
      fromExclusive: String, toInclusive: String,
      preImages: Boolean = false): DataFrame = {
    val tl = Timeline(spark.sessionState.newHadoopConf(), basePath)
    val instants = tl.completedInstants()
    val inRange = instants.filter(i =>
      i.ts > fromExclusive && i.ts <= toInclusive)

    val frames = inRange.flatMap { i =>
      val meta = tl.metadata(i.ts)
      // layout-only commits rewrite bytes, not rows (merged rows keep
      // their original commit time): no changes to report
      if (meta.operationType == "COMPACT" ||
          meta.operationType == "CLUSTER") Seq.empty
      else {
        val prevTs = instants.takeWhile(_.ts < i.ts).lastOption.map(_.ts)
        val deletes =
          if (meta.totalRecordsDeleted > 0)
            // r18: share THIS read's Timeline — each per-commit delete
            // view otherwise re-listed .hoodie and re-parsed every commit
            // file (O(#commits) metadata reads per deleting commit)
            Seq(DeleteView(spark, basePath, i.ts, tl).toDF()
              .withColumn(ChangeType, lit("delete")))
          else Seq.empty
        deletes ++ written(spark, basePath, tl, i, prevTs, preImages).toSeq
      }
    }

    val unioned = frames
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(spark.createDataFrame( // empty range: zero rows
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema(tl, toInclusive)))
    // canonical column order: meta + payload first, CDC tags last
    val cols = unioned.columns.filterNot(c =>
      c == ChangeType || c == ChangeCommitTs) :+ ChangeType :+ ChangeCommitTs
    unioned
      .withColumn(ChangeCommitTs, col(MetaCols.CommitTime))
      .select(cols.map(col).toIndexedSeq: _*)
  }

  /** The rows commit `i` wrote (post-images), tagged insert/update by a
    * key-only existence probe against the touched groups' pre-commit
    * slices. None when the commit wrote no rows (pure delete). */
  private def written(spark: SparkSession, basePath: String, tl: Timeline,
      i: Instant, prevTs: Option[String],
      preImages: Boolean = false): Option[DataFrame] = {
    val meta = tl.metadata(i.ts)
    val paths = meta.allStats.flatMap(_._2.path).map(rp => s"$basePath/$rp")
    if (paths.isEmpty) return None

    // the commit's own writer schema (the newest instant ≤ its ts is it)
    val raw = SnapshotReader.schemaRead(spark, paths, tl.schema(Some(i.ts)).get)

    // EVENT-TIME ordering tables (precombine): a stale delta row LOSES the
    // merge and changes nothing — it must not surface as a change either.
    // Base commits need no handling (a losing incoming row is never
    // stamped with the commit's ts — the carried old winner keeps its
    // original commit time); delta commits compare against the pre-commit
    // state's ordering value below.
    val pcOpt =
      if (i.action == Instant.DeltaCommitAction)
        graft.write.WriteContract.precombine(tl, Some(i.ts))
          .filter(raw.columns.contains)
      else None

    val changed =
      if (i.action == Instant.DeltaCommitAction) {
        // within-commit dedupe, delete-wins (same tiebreak as the snapshot
        // merge): an upsert+delete of one key in one commit is a delete —
        // it must not ALSO surface as an update; with ordering declared,
        // the greatest ordering value wins among the commit's upserts
        val w = Window.partitionBy(MetaCols.RecordKey)
          .orderBy((col(SnapshotReader.IsDeleted).desc +:
            pcOpt.map(pc => col(pc).desc_nulls_last).toSeq :+
            col(MetaCols.CommitSeqno).desc): _*)
        raw.withColumn("__cf_rn", row_number().over(w))
          .filter(col("__cf_rn") === 1 &&
            !col(SnapshotReader.IsDeleted))
          .drop("__cf_rn", SnapshotReader.IsDeleted)
      } else {
        // base commit: carried-over survivors keep their old commit time;
        // only rows stamped by THIS commit changed (pushed to row-group
        // stats on _hoodie_commit_time)
        raw.filter(col(MetaCols.CommitTime) === i.ts)
      }

    // previous state of ONLY the touched groups: full rows when pre-images
    // are requested, key(+ordering)-only for the plain existence probe
    val prevFull: Option[DataFrame] = prevTs.flatMap { p =>
      val touched = meta.allStats.map(_._2.fileId).toSet
      val prevSlices = tl.latestSlices(Some(p)).values
        .filter(sl => touched.contains(sl.fileId)).toSeq
      if (prevSlices.forall(sl =>
          sl.relPath.isEmpty && sl.deltas.isEmpty) || prevSlices.isEmpty)
        None
      else Some(SnapshotReader
        .merge(spark, basePath, prevSlices, Some(tl), Some(p)))
    }
    val prevState: Option[DataFrame] = prevFull.map(prev =>
      // key-only probe, plus the previous ordering value when declared
      prev.select((col(MetaCols.RecordKey) +:
        pcOpt.map(pc => col(pc).as("__cf_prev_ord")).toSeq): _*))

    Some(prevState match {
      case Some(pk) =>
        // keys in a snapshot are unique (the table's Hudi-parity key
        // guarantee), so no distinct — the probe side stays shuffle-free
        val joined = changed.join(pk.withColumn("__cf_existed", lit(1)),
            Seq(MetaCols.RecordKey), "left_outer")
          .withColumn(ChangeType,
            when(col("__cf_existed").isNull, "insert").otherwise("update"))
        val resolved = pcOpt match {
          case Some(pc) => joined // stale delta (loses the merge): no change
            .filter(col("__cf_existed").isNull ||
              col("__cf_prev_ord").isNull ||
              col(pc) >= col("__cf_prev_ord"))
            .drop("__cf_prev_ord")
          case None => joined
        }
        val tagged = resolved.drop("__cf_existed")
        if (!preImages) tagged
        else {
          // the updated keys' full PRE-commit rows, restamped to the
          // updating commit (the same restamp contract as the delete
          // view's pre-images); semi-join against the SURVIVING updates
          // so precombine-stale deltas contribute no pre-image either
          val updatedKeys = tagged.filter(col(ChangeType) === "update")
            .select(MetaCols.RecordKey)
          val pre = prevFull.get
            .join(updatedKeys, Seq(MetaCols.RecordKey), "left_semi")
            .withColumn(MetaCols.CommitTime, lit(i.ts))
            .withColumn(ChangeType, lit("update_preimage"))
          tagged.unionByName(pre, allowMissingColumns = true)
        }
      case None => changed.withColumn(ChangeType, lit("insert"))
    })
  }
}

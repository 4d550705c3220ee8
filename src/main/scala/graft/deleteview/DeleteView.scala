package graft.deleteview

import graft.format._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's core capability, Spark-native: given a versioned table
  * (COW or MOR) and a commit timestamp `T`, reconstruct the full rows that
  * commit `T` deleted and serve them as a DataFrame
  * (ref: DeleteSupport.java:89-96, HudiDeleteHandle.java:61-75). COW
  * rewrites diff old vs new slices; MOR delta commits resolve their
  * `_hoodie_is_deleted` markers against the pre-commit merged state —
  * capability the reference itself lacks (it reads COW rewrites only).
  *
  * Semantics = per-file-group LEFT ANTI JOIN on record key, projected to the
  * full old-row payload, with `_hoodie_commit_time` restamped to `T`
  * (ref: HudiDeleteHandle.java:70-74). Because record keys are table-unique
  * (our writer's guarantee, matching Hudi's), a single global anti-join over
  * the unioned old/new path sets equals the per-group union of anti-joins
  * (SURVEY.md §7.3) — so the whole computation is ONE declarative plan that
  * Catalyst turns into a spillable broadcast/shuffled-hash anti-join, instead
  * of the reference's per-file in-memory HashSet (which OOMs on file groups
  * larger than task memory, ref: HudiDeleteHandle.java:21, 75).
  *
  * The result is materialized once under `<basePath>/.delete/<T>/` and
  * validated against the commit's `totalRecordsDeleted`; later queries serve
  * the cache after a metadata-only row-count check
  * (ref: DeleteView.java:165-190, DeleteSupport.java:89-96). A stale or
  * partial cache (count mismatch) triggers recompute — self-healing.
  *
  * Scale notes (100 TB): planning is O(#touched file groups) driver metadata.
  * Execution reads only the file groups whose write stats say
  * `prevCommit != null && numDeletes > 0` (metadata-driven pruning,
  * ref: DeleteView.java:98-104), projects only the key column on the probe
  * side (Parquet column pruning), and shuffles at most the touched groups'
  * rows. Parallelism comes from Parquet splits, not 1-task-per-file-pair.
  */
final class DeleteView private[graft] (spark: SparkSession,
    basePath: String, ts: String, sharedTimeline: Option[Timeline]) {

  def this(spark: SparkSession, basePath: String, ts: String) =
    this(spark, basePath, ts, None)

  private val conf = spark.sessionState.newHadoopConf()
  private val base = new Path(basePath)
  private val fs = base.getFileSystem(conf)
  // r18 (metadata-read trimming): a caller already holding a Timeline for
  // this table (ChangeFeed iterates one per-commit DeleteView per deleting
  // commit) hands it over — the per-view re-list + re-parse of the whole
  // timeline disappears; standalone construction keeps the fresh handle.
  private val timeline = sharedTimeline.getOrElse(Timeline(conf, basePath))

  // Instant resolution: completed instant with timestamp == ts must exist
  // (ref: DeleteView.java:51-56 — Optional.get throws on absence).
  require(timeline.instantAt(ts).isDefined,
    s"no completed instant at ts=$ts for table $basePath")

  private lazy val meta: CommitMetadata = timeline.metadata(ts)

  /** Materialization path `<base>/.delete/<T>/`
    * (ref: DeleteView.java:165-172). */
  val cachePath: String = s"$basePath/.delete/$ts"

  /** Candidate file groups containing deletions: stats with a previous slice
    * and a positive delete count (ref predicate: DeleteView.java:98-104). */
  private[graft] def deleteStats: Seq[(String, WriteStat)] =
    meta.allStats.filter { case (_, s) =>
      s.prevCommit.isDefined && s.numDeletes > 0
    }

  /** (old slice path, new slice path?) per touched file group. The previous
    * slice is resolved by fileId from the prevCommit's metadata — missing
    * resolution is an error, as in the reference
    * (ref: DeleteView.java:116-126, 132-142). */
  private[graft] def slicePairs: Seq[(String, Option[String])] =
    deleteStats.map { case (_, s) =>
      val prevTs = s.prevCommit.get
      val prev = timeline.metadata(prevTs).statByFileId(s.fileId).getOrElse {
        throw new IllegalStateException(
          s"file group ${s.fileId}: no write stat in prevCommit=$prevTs")
      }._2
      val oldRel = prev.path.getOrElse(throw new IllegalStateException(
        s"file group ${s.fileId}: prevCommit=$prevTs wrote no file"))
      (s"$basePath/$oldRel", s.path.map(p => s"$basePath/$p"))
    }

  /** Build the delete-view plan (no materialization). COW rewrites diff the
    * previous slice against the new one; MOR delta commits semi-join the
    * pre-commit state against the commit's delete markers. A commit that
    * deleted nothing is zero rows of the table schema as of `ts`. */
  private[graft] def plan(): DataFrame = {
    if (meta.totalRecordsDeleted == 0)
      return graft.read.SnapshotReader.emptyLike(spark, timeline, Some(ts))
    val deleted =
      if (timeline.instantAt(ts).exists(_.action == Instant.DeltaCommitAction))
        planMorDelta()
      else planCowRewrite()
    // Restamp the deleting commit's timestamp (ref: HudiDeleteHandle.java:73-74)
    deleted.withColumn(MetaCols.CommitTime, lit(ts))
      // keep the canonical column order (meta prefix, then payload)
      .select(deleted.columns.map(col).toIndexedSeq: _*)
  }

  /** COW: anti-join each touched group's previous slice against the new
    * slice's keys. */
  private def planCowRewrite(): DataFrame = {
    val pairs = slicePairs
    val oldPaths = pairs.map(_._1)
    val newPaths = pairs.flatMap(_._2)
    // Schema of the PRE-commit slices from commit metadata (the newest
    // commit before `ts` bounds every old slice's schema under add-only
    // evolution; a deleting commit always has one before it)
    val prevTs = timeline.completedInstants().map(_.ts).filter(_ < ts).last
    val old = graft.read.SnapshotReader.schemaRead(spark, oldPaths,
      timeline.tableSchema(Some(prevTs)))
    if (newPaths.isEmpty) old // every touched group was fully emptied
    else {
      // Probe side projects ONLY the key column → Parquet column pruning;
      // Catalyst/AQE picks broadcast vs shuffled-hash anti-join and can
      // spill — strictly dominates the reference's in-memory HashSet.
      val newKeys = spark.read.parquet(newPaths: _*)
        .select(MetaCols.RecordKey)
      old.join(newKeys, Seq(MetaCols.RecordKey), "left_anti")
    }
  }

  /** MOR: a delta commit deletes via `_hoodie_is_deleted` markers, so the
    * deleted rows are the PRE-COMMIT state of the touched groups (their
    * latest slices as of the preceding instant, merged) semi-joined on the
    * marker keys. Both sides are metadata-pruned: only groups whose stats
    * say numDeletes > 0 are read, and the marker scan projects
    * (key, is_deleted) only. The writer counts numDeletes against the
    * pre-commit snapshot, so the cache-integrity check
    * (count == totalRecordsDeleted) holds exactly. */
  private def planMorDelta(): DataFrame = {
    val stats = deleteStats
    val touched = stats.map(_._2.fileId).toSet
    val prevTs = timeline.completedInstants().map(_.ts).filter(_ < ts)
      .lastOption.getOrElse(throw new IllegalStateException(
        s"deltacommit $ts has no preceding instant"))
    val oldSlices = timeline.latestSlices(Some(prevTs))
      .collect { case (fid, sl) if touched(fid) => sl }.toSeq
    val old = graft.read.SnapshotReader.merge(spark, basePath, oldSlices,
      Some(timeline), Some(prevTs))
    val deltaPaths = stats.flatMap(_._2.path).map(p => s"$basePath/$p")
    val delKeys = spark.read.parquet(deltaPaths: _*)
      .filter(col(graft.read.SnapshotReader.IsDeleted))
      .select(MetaCols.RecordKey)
    old.join(delKeys, Seq(MetaCols.RecordKey), "left_semi")
  }

  /** Cache probe: dir exists, non-empty, and row count equals the commit's
    * totalRecordsDeleted (metadata-only count — Spark answers from Parquet
    * footers). Ref: checkDeleteFileIsPresent, DeleteView.java:174-190. */
  private[graft] def cacheValid(): Boolean = {
    val p = new Path(cachePath)
    fs.exists(p) &&
      fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet")) &&
      spark.read.parquet(cachePath).count() == meta.totalRecordsDeleted
  }

  /** Materialize (if needed) and serve the delete view
    * (ref: getDeleteDataset, DeleteSupport.java:89-96). */
  def toDF(): DataFrame = {
    if (meta.totalRecordsDeleted == 0) return plan() // nothing to cache
    if (!cacheValid()) {
      plan().write.mode(SaveMode.Overwrite).parquet(cachePath)
      val n = spark.read.parquet(cachePath).count()
      require(n == meta.totalRecordsDeleted,
        s"delete view integrity: wrote $n rows, commit says ${meta.totalRecordsDeleted}")
    }
    spark.read.parquet(cachePath)
  }

  /** Expose the (materialized) delete view to SQL text as a temp view —
    * `SELECT * FROM <name>` then serves the cached Parquet with full
    * pushdown/pruning (SURVEY.md §7.4: temp-view registration is the SQL
    * surface; a TVF is unnecessary for parity). */
  def register(name: String): Unit = toDF().createOrReplaceTempView(name)
}

object DeleteView {
  def apply(spark: SparkSession, basePath: String, ts: String): DeleteView =
    new DeleteView(spark, basePath, ts)

  /** Construction with a caller-shared [[Timeline]] (one listing + one
    * metadata parse per commit for the WHOLE calling operation — see the
    * class note). */
  private[graft] def apply(spark: SparkSession, basePath: String,
      ts: String, tl: Timeline): DeleteView =
    new DeleteView(spark, basePath, ts, Some(tl))
}

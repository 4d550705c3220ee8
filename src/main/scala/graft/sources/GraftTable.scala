package graft.sources

import graft.deleteview.DeleteView
import graft.format.Timeline
import graft.read.{IncrementalReader, SnapshotReader}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Public façade over a versioned table — the one-object API a user of the
  * reference (`DeleteSupport(path, ts).getDeleteDataset()`) migrates to:
  *
  * {{{
  *   val t = GraftTable(spark, "/data/orders")
  *   t.snapshot()                  // current state (COW fast path / MOR merge)
  *   t.asOf("20260102000000")      // time travel
  *   t.incremental(c1, c2)         // rows written in (c1, c2]
  *   t.deleteView(c2)              // rows DELETED by c2 (the reference's API)
  *   t.commits                     // completed instants, oldest→newest
  *
  *   // every view is equally reachable through the FORMAT surface
  *   // (see streaming.GraftSourceProvider), including writes:
  *   spark.read.format("graft").load(path)                    // snapshot
  *   spark.read.format("graft").option("asOf", c1).load(path) // time travel
  *   spark.read.format("graft").option("from", c1).option("to", c2).load(path)
  *   spark.read.format("graft").option("deleteView", c2).load(path)
  *   df.write.format("graft").option("key", "id").option("partition", "p")
  *     .option("type", "mor").mode("append").save(path)       // + operation=delete
  *   spark.readStream.format("graft").load(path)              // change stream
  *   df.writeStream.format("graft").option("key", "id")
  *     .option("partition", "p").start(path)                  // exactly-once sink
  *   // SQL: CREATE TABLE t USING graft OPTIONS (path '/data/orders')
  * }}}
  *
  * All methods return lazy DataFrames planned against the table's commit
  * metadata; nothing is read until an action runs. The underlying scans are
  * plain multi-path parquet relations, so filter pushdown, column pruning
  * and split-based parallelism apply unchanged.
  */
final class GraftTable(spark: SparkSession, basePath: String) {

  private def timeline =
    Timeline(spark.sessionState.newHadoopConf(), basePath)

  /** Completed commit timestamps, oldest first. */
  def commits: Seq[String] = timeline.completedInstants().map(_.ts)

  /** Commit history as a DataFrame (the DESCRIBE-HISTORY shape): one row
    * per completed instant, oldest first — action, recorded operation, and
    * the commit's file/row counters from its write stats. Pure timeline
    * metadata (memoized decodes, no data IO): #commits rows built on the
    * driver, exactly like the planning walk every query already does. */
  def history: DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tl = timeline
    val rows = tl.completedInstants().map { i =>
      val m = tl.metadata(i.ts)
      val ss = m.allStats.map(_._2)
      Row(i.ts, i.action, m.operationType,
        ss.count(_.path.nonEmpty).toLong,
        m.totalRecordsWritten, m.totalRecordsDeleted,
        ss.map(_.numUpdateWrites).sum, ss.map(_.numInserts).sum)
    }
    val schema = StructType(Seq(
      StructField("commit_ts", StringType), StructField("action", StringType),
      StructField("operation", StringType),
      StructField("n_files", LongType), StructField("n_written", LongType),
      StructField("n_deleted", LongType), StructField("n_updated", LongType),
      StructField("n_inserted", LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Latest-state snapshot (COW: pure multi-path scan; MOR: per-file-group
    * merge of dirty groups only). Partition pruning is metadata-level:
    * `snapshot().filter($"_hoodie_partition_path" === …)` prunes the file
    * groups before planning ([[graft.read.GraftMorRelation]] /
    * [[graft.read.GraftFileIndex]]); the `partitions` parameter is the
    * EXPLICIT form of the same pruning. */
  def snapshot(partitions: Seq[String] = Seq.empty): DataFrame =
    SnapshotReader.read(spark, basePath, None, partitions)

  /** Snapshot as of (≤) commit `ts`. */
  def asOf(ts: String, partitions: Seq[String] = Seq.empty): DataFrame =
    SnapshotReader.read(spark, basePath, Some(ts), partitions)

  /** READ-OPTIMIZED view (Hudi RO query): base files only — each group's
    * state as of its last compaction/base write, outstanding deltas
    * skipped. Always the COW-fast-path plan (no merge); staleness
    * bounded by compaction lag. Also reachable as
    * `spark.read.format("graft").option("readOptimized", "true")`. */
  def readOptimized(asOf: Option[String] = None,
      partitions: Seq[String] = Seq.empty): DataFrame =
    SnapshotReader.read(spark, basePath, asOf, partitions,
      readOptimized = true)

  /** Current state of records written in `(fromExclusive, toInclusive]` —
    * plans only the file groups those commits actually wrote. */
  def incremental(fromExclusive: String, toInclusive: String,
      partitions: Seq[String] = Seq.empty): DataFrame =
    IncrementalReader.read(spark, basePath, fromExclusive, toInclusive,
      partitions)

  /** Rows deleted by commit `ts` (the reference's capability): materialized
    * once under `.delete/<ts>/`, count-validated, then served cached. */
  def deleteView(ts: String): DataFrame =
    DeleteView(spark, basePath, ts).toDF()

  /** Change-data feed of `(fromExclusive, toInclusive]`: every row-level
    * change tagged `_change_type` (insert/update/delete) +
    * `_change_commit_ts`, deletes with full pre-image payload (the delete
    * view per commit). `preImages=true` also emits each surviving
    * update's full pre-commit row as `update_preimage`. Per-commit plans
    * are bounded by the commits' own churn — see
    * [[graft.read.ChangeFeed]]. */
  def changeFeed(fromExclusive: String, toInclusive: String,
      preImages: Boolean = false): DataFrame =
    graft.read.ChangeFeed.read(spark, basePath, fromExclusive, toInclusive,
      preImages)

  /** Register `snapshot()` as a SQL temp view. */
  def register(name: String): Unit =
    snapshot().createOrReplaceTempView(name)

  /** Undo every commit after `toTs` (files + timeline + caches). */
  def rollback(toTs: String): Seq[String] =
    graft.write.TableMaintenance.rollback(spark, basePath, toTs)

  /** Reclaim storage unreachable by the newest `retainCommits` snapshots
    * (savepointed snapshots are always kept). */
  def clean(retainCommits: Int): Seq[String] =
    graft.write.TableMaintenance.clean(spark, basePath, retainCommits)

  /** Pin instant `ts`'s snapshot against [[clean]] and timeline archival —
    * a long-term retention point; see
    * [[graft.write.TableMaintenance.savepoint]]. */
  def savepoint(ts: String): Unit =
    graft.write.TableMaintenance.savepoint(spark, basePath, ts)

  /** Release a savepoint (the snapshot becomes reclaimable again). */
  def releaseSavepoint(ts: String): Unit =
    graft.write.TableMaintenance.releaseSavepoint(spark, basePath, ts)

  /** Currently savepointed instants, in timestamp order. */
  def savepoints: Seq[String] = graft.format.Timeline(
    spark.sessionState.newHadoopConf(), basePath).savepoints()

  /** Roll the table back to savepointed instant `ts` — the guaranteed-
    * servable form of [[rollback]]; see
    * [[graft.write.TableMaintenance.restore]]. */
  def restore(ts: String): Seq[String] =
    graft.write.TableMaintenance.restore(spark, basePath, ts)

  /** Layout-only rewrite: every live group's current rows re-written
    * sorted by `sortCols` within each file (row-group pruning becomes
    * effective on them); fileIds, row identities, and commit times are
    * preserved — see [[graft.write.TableMaintenance.sortLayout]]. */
  def sortLayout(ts: String, sortCols: Seq[String]): Seq[String] =
    graft.write.TableMaintenance.sortLayout(spark, basePath, ts, sortCols)

  /** Layout-only Z-ORDER rewrite: rows close in EVERY `zCols` dimension
    * are placed near each other, so row-group pruning serves range
    * predicates on ANY of them — see
    * [[graft.write.TableMaintenance.zorderLayout]]. */
  def zorderLayout(ts: String, zCols: Seq[String],
      bits: Int = 8): Seq[String] =
    graft.write.TableMaintenance.zorderLayout(spark, basePath, ts, zCols,
      bits)

  /** Drop whole partitions in one METADATA-ONLY commit (no data rewrite);
    * see [[graft.write.TableMaintenance.deletePartitions]]. */
  def deletePartitions(ts: String, partitions: Seq[String]): Seq[String] =
    graft.write.TableMaintenance.deletePartitions(spark, basePath, ts,
      partitions)

  /** Change the table's bucket count in one layout-only rewrite — the
    * escape hatch for a table that outgrew (or never needed) its creation
    * grain; see [[graft.write.TableMaintenance.rebucket]]. */
  def rebucket(ts: String, newBuckets: Int): Seq[String] =
    graft.write.TableMaintenance.rebucket(spark, basePath, ts, newBuckets)

  /** Delete data files no commit references (failed/conflicted write
    * attempts' debris) older than `olderThanMs`. */
  def sweepOrphans(olderThanMs: Long = 60L * 60 * 1000): Seq[String] =
    graft.write.TableMaintenance.sweepOrphans(spark, basePath, olderThanMs)

  /** Move all but the newest `keepActive` commits into immutable archive
    * manifests — reads unchanged, `.hoodie` listings stay bounded on a
    * long-lived table; see [[graft.format.Timeline.archive]]. */
  def archiveTimeline(keepActive: Int): Seq[String] =
    graft.write.TableMaintenance.archiveTimeline(spark, basePath, keepActive)
}

object GraftTable {
  def apply(spark: SparkSession, basePath: String): GraftTable =
    new GraftTable(spark, basePath)
}

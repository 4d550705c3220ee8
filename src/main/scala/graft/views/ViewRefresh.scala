package graft.views

import graft.format.Timeline
import graft.read.SnapshotReader
import graft.write.{CowWriter, FormatWriter, WriteContract}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared refresh skeleton for maintained views ([[MaterializedAgg]],
  * [[MaterializedExtrema]], [[MaterializedTopK]]): timeline bookkeeping
  * (source head, recorded as-of, reserved-ts hygiene), structural-commit
  * detection, idempotence (no new source commits → no view commit,
  * net-zero churn → no view commit), and the view-table commit itself.
  * The view KINDS differ only in their bootstrap aggregate and their
  * (ups, dels) diff — passed in as functions. */
private[views] object ViewRefresh {

  /** Source operation types whose row deletions the change feed does NOT
    * enumerate — a range containing one forces the recompute path. */
  val StructuralOps = Set("INSERT_OVERWRITE_TABLE", "DELETE_PARTITION")

  /** Runs one refresh; returns the source commit ts the view reflects.
    * `bootstrap`: source snapshot → full aggregate (the only
    * source-sized scan the view ever costs). `diff`: (view snapshot,
    * structural?, fromExclusive, toInclusive) → (upserts, deletes),
    * either possibly null/empty. */
  def run(spark: SparkSession, srcPath: String, viewPath: String,
      groupCol: String, buckets: Int,
      bootstrap: DataFrame => DataFrame,
      diff: (DataFrame, Boolean, String, String) => (DataFrame, DataFrame))
      : String = {
    val conf = spark.sessionState.newHadoopConf()
    val srcTl = Timeline(conf, srcPath)
    val srcHead = srcTl.completedInstants().lastOption.map(_.ts).getOrElse(
      throw new IllegalArgumentException(s"source table $srcPath is empty"))
    val viewTl = Timeline(conf, viewPath)

    if (viewTl.completedInstants().isEmpty) {
      // the insert reads its frame once (its write measures the files
      // itself), so the bootstrap aggregate streams straight into it
      val agg = bootstrap(SnapshotReader.read(spark, srcPath))
      val ts0 = FormatWriter.nextTs(viewTl)
      try new CowWriter(spark, viewPath, buckets).insert(agg, col(groupCol),
        lit("all"), ts0,
        extra = Map(MaterializedAgg.AsOfKey -> srcHead,
          WriteContract.KeyColKey -> groupCol))
      finally viewTl.unreserve(ts0)
      return srcHead
    }

    val asOf = viewTl.recordedExtraAsOf(MaterializedAgg.AsOfKey, None)
      .getOrElse(throw new IllegalStateException(
        s"$viewPath is not a maintained view (no recorded " +
          s"${MaterializedAgg.AsOfKey})"))
    if (srcHead <= asOf) return asOf // nothing new: no view commit

    val structural = srcTl.completedInstants()
      .filter(i => i.ts > asOf && i.ts <= srcHead)
      .exists(i => StructuralOps.contains(srcTl.metadata(i.ts).operationType))

    val viewSnap = SnapshotReader.read(spark, viewPath)
    val (ups0, dels0) = diff(viewSnap, structural, asOf, srcHead)

    // one execution per diff side (r14 job/byte budget): the two isEmpty
    // gates below plus CowWriter.commit's touched and write passes (and,
    // with both sides, its delete-key existence join) would otherwise
    // re-run each diff plan — CDC read + view join + the retraction
    // re-aggregate of the source — up to 4×. The materialized diff is
    // churn-sized (touched groups), never source-sized
    val ups = Option(ups0).map(_.localCheckpoint(true)).orNull
    val dels = Option(dels0).map(_.localCheckpoint(true)).orNull

    val up = Option(ups).filter(!_.isEmpty)
    val del = Option(dels).filter(!_.isEmpty)
    if (up.isEmpty && del.isEmpty) return asOf // net-zero churn: no commit

    val nb = SnapshotReader.recordedBuckets(viewTl, None).getOrElse(buckets)
    val ts = FormatWriter.nextTs(viewTl)
    try new CowWriter(spark, viewPath, nb).commit(up, del, col(groupCol),
      lit("all"), ts, extra = Map(MaterializedAgg.AsOfKey -> srcHead))
    finally viewTl.unreserve(ts)
    srcHead
  }
}

package graft.read

import graft.format._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The declarative MOR merge — a per-key `row_number()` window over the
  * union of base and delta rows — kept as the PARITY REFERENCE for the
  * per-file-group reader every read surface runs ([[MorMerge]]). It shares
  * no merge code with that reader: version order, delete cut, precombine
  * and delete-wins are re-stated here as window expressions, so a spec
  * comparing the two is comparing two independent implementations.
  *
  * Semantics (SURVEY.md §7.2 step 4): without precombine, the newest
  * `(commit_time desc, is_deleted desc, seqno desc)` version wins and the
  * key is emitted iff it is live; with a recorded precombine column, the
  * newest delete marker cuts the key's history at its commit and the
  * greatest `(pc desc nulls-last, commit_time desc, seqno desc)` live
  * version after the cut wins. */
object WindowMergeReference {

  private val IsDeleted = MetaCols.IsDeleted

  /** Multi-path parquet read whose schema comes from the files' footers
    * (`mergeSchema` unions them; files written before a column appeared
    * read it as null) — the footer-sampling CONTROL for specs that pin
    * the engine's commit-metadata schema resolution: it plans a footer
    * job, and it shares no schema code with the engine. */
  def evolvedRead(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** The reference snapshot (or time travel via `asOf`) of a whole table:
    * its latest slices merged by [[merge]]. */
  def read(spark: SparkSession, basePath: String,
      asOf: Option[String] = None): DataFrame = {
    val tl = Timeline(spark.sessionState.newHadoopConf(), basePath)
    merge(spark, basePath, tl.latestSlices(asOf).values.toSeq, tl, asOf)
  }

  /** Reference merge of a concrete slice set: base-only groups read as
    * plain parquet, dirty groups through the per-key window, unioned by
    * name (the production reader's output shape). */
  def merge(spark: SparkSession, basePath: String, slices: Seq[FileSlice],
      tl: Timeline, asOf: Option[String]): DataFrame = {
    def abs(rel: String) = s"$basePath/$rel"
    val (withDeltas, baseOnly) = slices.partition(_.deltas.nonEmpty)
    // writer schemas from commit metadata: a base file implies a base
    // commit ≤ asOf, a delta file a deltacommit
    def readWith(action: String, paths: Seq[String]): DataFrame =
      SnapshotReader.schemaRead(spark, paths, tl.schema(asOf, Some(action)).get)

    val basePaths = baseOnly.flatMap(_.relPath).map(abs)
    val plain =
      if (basePaths.isEmpty) None
      else Some(readWith(Instant.CommitAction, basePaths))

    val merged = if (withDeltas.isEmpty) None else {
      val mergeBase = withDeltas.flatMap(_.relPath).map(abs)
      val deltas = readWith(Instant.DeltaCommitAction,
        withDeltas.flatMap(_.deltas.map(d => abs(d.relPath))))
      val cols = deltas.columns.filter(_ != IsDeleted)
      val all = ((if (mergeBase.nonEmpty)
        Seq(readWith(Instant.CommitAction, mergeBase)
          .withColumn(IsDeleted, lit(false)))
        else Seq.empty) :+ deltas)
        .reduce(_.unionByName(_, allowMissingColumns = true))
      val pcCol = tl.recordedExtraAsOf(
        graft.write.WriteContract.PrecombineKey, asOf)
        .filter(all.columns.contains)
      val kw = Window.partitionBy(MetaCols.RecordKey)
      val resolved = pcCol match {
        case Some(pc) =>
          val delCut = max(when(col(IsDeleted), col(MetaCols.CommitTime)))
            .over(kw)
          all.withColumn("__cut", delCut)
            .filter(!col(IsDeleted) && (col("__cut").isNull ||
              col(MetaCols.CommitTime) > col("__cut")))
            .withColumn("__rn", row_number().over(kw.orderBy(
              col(pc).desc_nulls_last, col(MetaCols.CommitTime).desc,
              col(MetaCols.CommitSeqno).desc)))
            .filter(col("__rn") === 1)
        case None =>
          all.withColumn("__rn", row_number().over(kw.orderBy(
            col(MetaCols.CommitTime).desc, col(IsDeleted).desc,
            col(MetaCols.CommitSeqno).desc)))
            .filter(col("__rn") === 1 && !col(IsDeleted))
      }
      Some(resolved.select(cols.map(col).toIndexedSeq: _*))
    }

    (plain.toSeq ++ merged.toSeq)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(SnapshotReader.emptyLike(spark, tl, asOf))
  }
}

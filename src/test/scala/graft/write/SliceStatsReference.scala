package graft.write

import graft.format.{Bloom, ColStat, MetaCols}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The slice writer's per-file stats as one separate aggregate over the
  * written frame — the form the writer used before its write job gathered
  * them itself ([[SliceStats]]). Kept as the reference the tracker is
  * pinned against: for the same rows it must give the same row counts and
  * the same `ColStat`s, string for string.
  *
  * Keys are the (partition, fileId) values as the writer names their
  * directories: null or empty → `__HIVE_DEFAULT_PARTITION__`. */
object SliceStatsReference {
  import SliceFiles.{statsSupported, sumSupported}
  import TableWriter.FidCol

  /** (partition, fileId) → (rows, rows stamped `ts`, column stats). */
  def stats(data: DataFrame, ts: String, statsCols: Seq[String],
      bloomCols: Seq[String], bloomBits: Int)
      : Map[(String, String), (Long, Long, Map[String, ColStat])] = {
    def statsable(c: String): Boolean = data.schema.fields.exists(f =>
      f.name == c && statsSupported(f.dataType))
    val blooms = bloomCols.distinct.filter(statsable)
    val tracked = (statsCols ++ blooms).distinct.filter(statsable)
    val summed = tracked.filter(c => data.schema.fields.exists(f =>
      f.name == c && sumSupported(f.dataType))).toSet
    // widened to precision-38 decimal BEFORE summing: the true per-file
    // sum, no long wrap
    def sumWide(c: String): DataType =
      data.schema.fields.find(_.name == c).get.dataType match {
        case d: DecimalType => DecimalType(38, d.scale)
        case _ => DecimalType(38, 0)
      }
    val aggs = Seq(count(lit(1L)).as("__graft_cnt"),
      sum(when(col(MetaCols.CommitTime) === ts, 1L).otherwise(0L))
        .as("__graft_fresh")) ++ tracked.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"__min__$c"),
        max(col(c)).cast("string").as(s"__max__$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nul__$c")) ++
        (if (summed(c))
          Seq(sum(col(c).cast(sumWide(c))).cast("string")
            .as(s"__sum__$c")) else Seq.empty)
    } ++ blooms.map { c =>
      graft.functions.BloomAgg.bloom(col(c).cast("string"), bloomBits,
        Bloom.DefaultHashes).as(s"__blm__$c")
    }
    data.groupBy(MetaCols.PartitionPath, FidCol)
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val stats = tracked.map { c =>
          c -> ColStat(
            min = Option(r.getAs[String](s"__min__$c")),
            max = Option(r.getAs[String](s"__max__$c")),
            nulls = Some(r.getAs[Long](s"__nul__$c")),
            bloom = if (blooms.contains(c))
              Some(Bloom.encode(r.getAs[Array[Byte]](s"__blm__$c")))
            else None,
            sum = if (summed(c)) Option(r.getAs[String](s"__sum__$c"))
              else None)
        }.toMap
        (dirValue(r.getString(0)), dirValue(r.getString(1))) ->
          (r.getAs[Long]("__graft_cnt"), r.getAs[Long]("__graft_fresh"),
            stats)
      }.toMap
  }

  private def dirValue(v: String): String =
    if (v == null || v.isEmpty) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    else v
}

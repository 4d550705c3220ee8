package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table helpers: the pre-shuffle path for repeated joins and
  * aggregations on a stable key.
  *
  * At 100 TB, the dominant cost of a key-joined pipeline is re-shuffling
  * the same fact table on the same key for every query. Writing it ONCE as
  * a bucketed (and per-bucket sorted) table moves that shuffle to write
  * time: every subsequent equi-join between tables bucketed on the same
  * key with the same bucket count, and every aggregation keyed on the
  * bucket column, plans with NO Exchange (asserted in BucketedJoinSpec).
  * This is Spark's native answer to co-located joins — the analog of the
  * versioned-table writers' deterministic key→fileId bucketing
  * (TableWriter.fileIdCol), surfaced for plain analytics tables.
  */
object BucketedTables {

  /** Write `df` as a managed parquet table bucketed (and sorted) by `key`.
    * Bucket count must match between tables that will join. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Read a bucketed table back (bucket metadata comes from the catalog —
    * a plain path read would lose it). */
  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)
}

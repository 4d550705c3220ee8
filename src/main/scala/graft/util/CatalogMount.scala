package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Mount a single graft table directory as a DSv2 catalog table and read
  * it through the NATIVE batch scans — the no-shuffle read path for
  * internal state tables the incremental-ingest operators maintain.
  *
  * Why not [[graft.read.SnapshotReader]]: both merge outstanding deltas
  * per file group inside the task (one shared reader, no shuffle), but
  * only the catalog scan ([[graft.sources.GraftMorBatchScan]]) reports
  * the bucket KeyGroupedPartitioning the storage-partitioned ingest joins
  * key on, and runtime filtering prunes its groups — so joins against
  * the state table plan without an exchange on either side.
  *
  * The catalog instance is cached by Spark per name, so the name encodes
  * the qualified PARENT directory (the mounted warehouse) — remounting
  * the same directory reuses the instance; different directories get
  * different catalogs. Each DISTINCT warehouse registers one
  * `spark.sql.catalog.*` conf pair for the session's lifetime (two
  * strings per mounted parent directory — bounded by the number of
  * distinct state-table roots an application maintains, not by reads;
  * a session mounting unboundedly many directories should prefer
  * [[graft.read.SnapshotReader]] or recycle the session). */
object CatalogMount {

  /** The table at `tableDir` (its parent becomes the warehouse, its name
    * the identifier) as a catalog-scanned DataFrame. */
  def table(spark: SparkSession, tableDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(tableDir)
    val q = p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p)
    val warehouse = q.getParent.toString
    // collision-free deterministic name (a 32-bit hashCode could alias
    // two warehouses onto one cached catalog instance)
    val cat = "graft_mount_" + java.util.UUID
      .nameUUIDFromBytes(warehouse.getBytes("UTF-8"))
      .toString.replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
    // backtick-quoted: a table directory named with a dot/hyphen/space
    // must parse as ONE identifier, not a namespace path
    spark.table(s"$cat.`${q.getName}`")
  }
}

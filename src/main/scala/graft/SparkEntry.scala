package graft

import graft.deleteview.DeleteView
import graft.functions.Bitmap64
import graft.operators.{AsOfJoin, RangeJoin}
import graft.pipeline.{Bpe, Curation, Dedup, Models, Multimodal, Similarity, TextAnalysis, TextRetrieval}
import graft.read.{IncrementalReader, SnapshotReader}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is deterministic (explicit ORDER BY, integer-
  * quantized aggregates — never engine-local decimal/float rounding) so the
  * DuckDB oracle in `oracleSql` hash-matches exactly. Queries on the
  * versioned-table surface (delete view, snapshot, time travel, incremental)
  * run against the [[Fixtures]] COW/MOR tables built deterministically from
  * `orders`, whose commit script is plain key arithmetic — mirrorable 1:1 in
  * oracle SQL over the raw `orders` table. The sketch operators (MinHash/
  * SimHash/embedding near-dup) are specified so their OUTPUT is exact —
  * sketches only generate candidates (with recall 1 on this data, asserted
  * in PipelineSpec); verification is integer-exact — so they brute-force
  * oracle-match too.
  */
object SparkEntry {
  import Fixtures.{C1, C2, C3, C4}

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // events.ts arrives as parquet TIMESTAMP(MICROS) (NTZ); every events
    // query below does exact integer time math on epoch-NANOS longs, so
    // lift at the single load point (µs→ns is ×1000, lossless; NTZ wall
    // clock read as UTC — sessions run timeZone=UTC, same as the DuckDB
    // oracle's native reading of the column).
    if (name == "events") graft.streaming.EventStream.tsNanos(df) else df
  }

  /** Table scan widened to cluster parallelism: the testdata parquet files
    * are single row-groups, i.e. ONE split, so without this every per-row
    * stage above the scan runs on one core (no-op at real scale — see
    * [[graft.util.ParallelScan]]). Scoped to COMPUTE-DENSE queries only:
    * for cheap scan/set-op queries the round-robin exchange costs more than
    * the serial compute it unblocks (measured r2 regressions), so those use
    * the raw scan `t`. */
  private def tp(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.util.ParallelScan.widen(t(spark, sfDir, name))

  /** Orders payload columns, for delete-view/snapshot projections. */
  private val OrdersCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  private val OrdersColsSql = OrdersCols.mkString(", ")

  private def payload(df: DataFrame): DataFrame =
    df.select(OrdersCols.map(col): _*).orderBy(col("o_orderkey"))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = Fixtures.cowDir(spark, "/root/testdata/sf0.001")
    payload(DeleteView(spark, dir, C2).toDF())
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ pipeline ops). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- versioned-table surface (reference parity, SURVEY §2 O1-O19) ----
    "q_delete_view" -> ((s, d) =>
      payload(DeleteView(s, Fixtures.cowDir(s, d), C2).toDF())),
    "q_delete_view_c4" -> ((s, d) =>
      payload(DeleteView(s, Fixtures.cowDir(s, d), C4).toDF())),
    // MOR delete views: C2 is a pre-compaction delta delete; C4 deletes
    // AFTER compaction C3x (marker keys resolved against compacted slices).
    "q_delete_view_mor" -> ((s, d) =>
      payload(DeleteView(s, Fixtures.morDir(s, d), C2).toDF())),
    "q_delete_view_mor_c4" -> ((s, d) =>
      payload(DeleteView(s, Fixtures.morDir(s, d), C4).toDF())),
    "q_snapshot_cow" -> ((s, d) =>
      payload(SnapshotReader.read(s, Fixtures.cowDir(s, d)))),
    // Same snapshot through the FORMAT surface (r5): the batch relation's
    // pruning FileIndex + commit-metadata schema under the oracle gate.
    "q_snapshot_format" -> ((s, d) =>
      payload(s.read.format("graft").load(Fixtures.cowDir(s, d)))),
    // MOR snapshot with OUTSTANDING deltas through the format surface (r6):
    // the C4 delta delete is un-compacted, so this read plans the window
    // merge behind spark.read.format("graft") (GraftMorRelation).
    // READ-OPTIMIZED view of the MOR fixture (Hudi RO query): base files
    // only — the C3x compaction state; the C4 delta delete is invisible.
    "q_read_optimized" -> ((s, d) =>
      payload(s.read.format("graft").option("readOptimized", "true")
        .load(Fixtures.morDir(s, d)))),
    "q_snapshot_format_mor" -> ((s, d) =>
      payload(s.read.format("graft").load(Fixtures.morDir(s, d)))),
    // Partition-filtered MOR format read (r6): the pushed `=` predicate on
    // _hoodie_partition_path prunes the file-GROUP set on BOTH merge sides
    // at metadata level before the merge is planned.
    "q_snapshot_format_mor_part" -> ((s, d) =>
      payload(s.read.format("graft").load(Fixtures.morDir(s, d))
        .filter(col(graft.format.MetaCols.PartitionPath) === "F"))),
    // Write-path round trip (r6): a table created and mutated entirely
    // through df.write.format("graft") (insert + upsert + operation=delete
    // commits), read back through the same format surface.
    "q_format_roundtrip" -> ((s, d) =>
      payload(s.read.format("graft").load(Fixtures.formatRtDir(s, d)))),
    // Incremental read through the format surface (r6): current state of
    // records written in (C2, C3] of the COW fixture — the batch twin of
    // the streaming source's micro-batch range, as .option("from"/"to").
    "q_incremental_format" -> ((s, d) =>
      payload(s.read.format("graft")
        .option("from", C2).option("to", C3)
        .load(Fixtures.cowDir(s, d)))),
    // The reference's core capability through the format surface (r6):
    // rows deleted by C2, materialized-once/served-cached.
    "q_delete_view_format" -> ((s, d) =>
      payload(s.read.format("graft")
        .option("deleteView", C2).load(Fixtures.cowDir(s, d)))),
    // Time travel through the format surface onto a state with OUTSTANDING
    // deltas (asOf=C2 precedes compaction C3x): the merged-plan relation
    // under time travel.
    "q_time_travel_format" -> ((s, d) =>
      payload(s.read.format("graft")
        .option("asOf", C2).load(Fixtures.morDir(s, d)))),
    // ---- SQL DML surface (r7): the fixture table is mutated ENTIRELY by
    // DELETE FROM / UPDATE / MERGE INTO statements (graft.sql.GraftDmlRule);
    // DML commit timestamps are writer-minted, located by timeline position.
    // q_sql_delete: the delete view of the SQL DELETE's own commit — the
    // reference's core artifact produced by a SQL statement.
    "q_sql_delete" -> ((s, d) => {
      val dir = Fixtures.sqlDmlDir(s, d)
      val tl = graft.format.Timeline(s.sessionState.newHadoopConf(), dir)
      payload(DeleteView(s, dir, tl.completedInstants()(1).ts).toDF())
    }),
    // q_sql_update: time travel to the UPDATE's commit (after the SQL
    // update, before the merge).
    "q_sql_update" -> ((s, d) => {
      val dir = Fixtures.sqlDmlDir(s, d)
      val tl = graft.format.Timeline(s.sessionState.newHadoopConf(), dir)
      payload(SnapshotReader.read(s, dir,
        Some(tl.completedInstants()(2).ts)))
    }),
    // q_sql_merge: the head snapshot after MERGE INTO (matched update from
    // source values + not-matched re-insert of previously deleted keys).
    "q_sql_merge" -> ((s, d) =>
      payload(SnapshotReader.read(s, Fixtures.sqlDmlDir(s, d)))),
    // q_insert_into (r8): catalog-managed DSv2 surface — the table is
    // created by CTAS and mutated by INSERT INTO (upsert-by-key) +
    // DELETE FROM through graft.sources.GraftCatalog, with NO extension
    // rule involved, and read back through the catalog's V2 scan
    // (V1-fallback onto the same planned snapshot every surface uses).
    "q_insert_into" -> ((s, d) => {
      val (_, tbl) = Fixtures.dsv2Dir(s, d)
      payload(s.sql(s"SELECT * FROM $tbl"))
    }),
    // q_v2_meta_count (r8): ungrouped COUNT(*) on the delta-free catalog
    // table — answered from commit metadata (GraftMetaCountScan, zero file
    // reads; plan-asserted in Dsv2CatalogSpec), value hash-gated here.
    "q_v2_meta_count" -> ((s, d) => {
      val (_, tbl) = Fixtures.dsv2Dir(s, d)
      s.sql(s"SELECT count(*) AS n FROM $tbl")
    }),
    // q_v2_minmax (r9): grouped MIN/MAX/COUNT answered ENTIRELY from the
    // commit-recorded column-stats index on the delta-free catalog table
    // (GraftMetaAggScan — zero file reads, plan-asserted in
    // Dsv2CatalogSpec; at 100 TB `SELECT max(ts)` must be a metadata
    // walk, not a scan), values hash-gated against the DuckDB oracle.
    "q_v2_minmax" -> ((s, d) => {
      val (_, tbl) = Fixtures.dsv2Dir(s, d)
      s.sql(s"""SELECT o_orderstatus, count(*) AS n,
        count(o_totalprice) AS n_price,
        min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        FROM $tbl GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    }),
    // q_v2_sum (r9, re-pointed r10): grouped SUM answered from the
    // per-file sums the writers record in the column-stats index
    // (GraftMetaAggScan, zero file reads on the delta-free catalog
    // table) — `SELECT sum(x)` at 100 TB is a metadata walk too. EXACT
    // numeric columns only (BIGINT cents + DECIMAL price): integral and
    // decimal addition is associative, so the metadata fold is
    // bit-identical to any scan order — fp sums can never be (the r9
    // hash-mismatch) and now DECLINE to the ordinary scan. Decimal AVG
    // (also exactly answerable) is pinned Spark-vs-Spark in
    // Dsv2CatalogSpec: DuckDB renders avg(decimal) as a double, so an
    // oracle string-compare would test rendering, not arithmetic.
    // (decimal sum rendered as STRING on both sides: the driver's pandas
    // bridge reads DuckDB decimals as float64 but Spark parquet decimals
    // as objects — the string form compares the exact digits instead)
    "q_v2_sum" -> ((s, d) => {
      val (_, tbl) = Fixtures.dsv2Dir(s, d)
      s.sql(s"""SELECT o_orderstatus, sum_cents,
        CAST(sum_price AS STRING) AS sum_price FROM (
          SELECT o_orderstatus, sum(o_cents) AS sum_cents,
            sum(o_price_dec) AS sum_price
          FROM $tbl GROUP BY o_orderstatus)
        ORDER BY o_orderstatus""")
    }),
    // q_v2_spj (r10): STORAGE-PARTITIONED equi-join of two catalog
    // tables bucketed on the same key+count — with v2 bucketing enabled
    // the join plans with ZERO Exchange on either side (the native batch
    // scan reports the writers' bucket layout; plan-asserted in
    // Dsv2CatalogSpec), here value-gated against the DuckDB join oracle.
    // The frame is materialized (localCheckpoint) INSIDE the conf scope
    // so the SPJ planning happens under the enabled conf and nothing
    // leaks to later queries.
    "q_v2_spj" -> ((s, d) => {
      val (_, tbl) = Fixtures.dsv2Dir(s, d)
      val dim = Fixtures.dsv2DimDir(s, d)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try
        s.sql(s"""SELECT a.o_orderkey, a.o_cents, b.o_cents_dim
          FROM $tbl a JOIN $dim b ON a.o_orderkey = b.o_orderkey
          ORDER BY a.o_orderkey""").localCheckpoint(true)
      finally {
        s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
        s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }),
    // q_v2_spj_mor (r11): the same storage-partitioned join with the
    // fact side carrying OUTSTANDING MOR deltas — the native MOR batch
    // scan (GraftMorBatchScan) plans per-file-group merge tasks and
    // reports the same bucket partitioning, so the join still plans with
    // zero Exchange through compaction lag (plan-asserted in
    // Dsv2CatalogSpec; value-gated here against the same DuckDB oracle
    // arithmetic, since the MOR twin is content-identical).
    "q_v2_spj_mor" -> ((s, d) => {
      val mor = Fixtures.dsv2MorDir(s, d)
      val dim = Fixtures.dsv2DimDir(s, d)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try
        s.sql(s"""SELECT a.o_orderkey, a.o_cents, b.o_cents_dim
          FROM $mor a JOIN $dim b ON a.o_orderkey = b.o_orderkey
          ORDER BY a.o_orderkey""").localCheckpoint(true)
      finally {
        s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
        s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }),
    // q_v2_meta_count_mor (r11): COUNT(*) on the OUTSTANDING-DELTA MOR
    // fixture answered from commit metadata alone — the delta-tolerant
    // fold (base numWrites + Σ per-delta exact numInserts − numDeletes,
    // recorded by MorWriter against the merged pre-commit snapshot);
    // plan-asserted zero-file in Dsv2CatalogSpec, value-gated here.
    "q_v2_meta_count_mor" -> ((s, d) => {
      val mor = Fixtures.dsv2MorDir(s, d)
      s.sql(s"SELECT count(*) AS n FROM $mor")
    }),
    // q_v2_minmax_mor (r11): grouped COUNT/COUNT(col)/MIN/MAX/SUM on a
    // MOR table whose outstanding deltas are APPEND-ONLY (exclusively
    // new keys, counters prove it) — the files are a plain union, so
    // every aggregate folds from per-file stats with zero file reads
    // (plan-asserted in Dsv2CatalogSpec; value-gated here: evens by base
    // + odds by delta = every order).
    "q_v2_minmax_mor" -> ((s, d) => {
      val tbl = Fixtures.dsv2MorAppDir(s, d)
      s.sql(s"""SELECT o_orderstatus, count(*) AS n,
        count(o_cents) AS n_cents, min(o_cents) AS min_cents,
        max(o_cents) AS max_cents, sum(o_cents) AS sum_cents
        FROM $tbl GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    }),
    // q_v2_topn_mor (r11): ORDER BY ... LIMIT on the OUTSTANDING-DELTA
    // MOR fixture — the native MOR scan's per-task top-n heap ranks the
    // MERGED rows (the +100000 delta values place their rows; stale base
    // versions never rank); deterministic under the id tiebreak, so the
    // result is oracle-exact.
    "q_v2_topn_mor" -> ((s, d) => {
      val mor = Fixtures.dsv2MorDir(s, d)
      s.sql(s"""SELECT o_orderkey, o_cents FROM $mor
        ORDER BY o_cents DESC, o_orderkey LIMIT 20""")
    }),
    // q_call_delete_view (r10): the reference's core operation driven
    // through the SQL CALL procedure surface (graft.sources
    // .GraftProcedures) — `CALL cat.system.delete_view(...)` materializes
    // the records-deleted-at-commit view (data-sized, landed in the
    // table's .delete cache) and returns the metadata-sized summary; the
    // deleted-row COUNT is the oracle-gated value (the commit ts is a
    // minted clock value, so it is not part of the compared frame).
    "q_call_delete_view" -> ((s, d) => {
      val (_, tbl) = Fixtures.dsv2Dir(s, d)
      val cat = tbl.split('.').head
      s.sql(s"CALL $cat.system.delete_view(table => 'main.orders_ins')")
        .select(col("n_deleted"))
    }),
    // q_mat_view: incrementally maintained materialized aggregate — the
    // view table is refreshed from the source's CHANGE FEED (update
    // pre-images subtract old contributions; deletes empty groups out of
    // the view), never recomputed, yet must hash-match a full GROUP BY of
    // the final source snapshot (graft.views.MaterializedAgg).
    "q_mat_view" -> ((s, d) =>
      views.MaterializedAgg.read(s, Fixtures.matViewDir(s, d))
        .select(col("o_custkey"), col("n_rows"), col("sum_val"))
        .orderBy(col("o_custkey"))),
    // q_mat_view_multi: the multi-measure twin — two sums maintained in
    // one view table from the same CDC folds.
    "q_mat_view_multi" -> ((s, d) =>
      views.MaterializedAgg.read(s, Fixtures.matViewMultiDir(s, d))
        .select(col("o_custkey"), col("n_rows"), col("sum_cents"),
          col("sum_keymod"))
        .orderBy(col("o_custkey"))),
    // q_mat_view_minmax: maintained per-group MIN/MAX over a delete-heavy
    // history — extrema are not invertible under deletes, so the refresh
    // re-aggregates ONLY the groups whose recorded extremum was retracted
    // (source scan filtered to those group values), yet must hash-match a
    // full GROUP BY min/max (graft.views.MaterializedExtrema).
    "q_mat_view_minmax" -> ((s, d) =>
      views.MaterializedExtrema.read(s, Fixtures.matViewMinmaxDir(s, d))
        .select(col("o_custkey"), col("n_rows"), col("min_val"),
          col("max_val"))
        .orderBy(col("o_custkey"))),
    // q_mat_view_distinct: maintained per-group EXACT distinct count over
    // a delete-heavy history — COUNT(DISTINCT) is not maintainable but
    // its bitmap is: insert-only churn unions into the stored bitmap with
    // zero source IO; retraction-touched groups re-aggregate from a
    // group-filtered source scan (graft.views.MaterializedDistinct).
    "q_mat_view_distinct" -> ((s, d) =>
      views.MaterializedDistinct.read(s, Fixtures.matViewDistinctDir(s, d))
        .select(col("o_orderpriority"), col("n_rows"), col("n_distinct"))
        .orderBy(col("o_orderpriority"))),
    // q_mat_view_topk: maintained per-group TOP-3 values over the same
    // delete-heavy history, served exploded as (group, rnk, val) — the
    // deterministic row-set shape a row_number-per-group SQL reproduces
    // (graft.views.MaterializedTopK).
    "q_mat_view_topk" -> ((s, d) =>
      views.MaterializedTopK.readExploded(s, Fixtures.matViewTopkDir(s, d))
        .select(col("o_custkey"), col("rnk").cast("long").as("rnk"),
          col("val"))
        .orderBy(col("o_custkey"), col("rnk"))),
    // q_table_history: the commit log as data (DESCRIBE HISTORY shape) —
    // pure timeline metadata; the layout-independent counters (action,
    // operation, delete/update/insert row counts) are oracle-exact, the
    // file/rewrite counters depend on bucket layout and stay API-only.
    "q_table_history" -> ((s, d) =>
      sources.GraftTable(s, Fixtures.cowDir(s, d)).history
        .select(col("commit_ts"), col("action"), col("operation"),
          col("n_deleted"), col("n_updated"), col("n_inserted"))
        .orderBy(col("commit_ts"))),
    // q_sql_alter: snapshot after `ALTER TABLE ... ADD COLUMNS` (a
    // schema-evolution COMMIT) + an UPDATE writing the new column — files
    // that predate the evolution null-pad `score` at read, rewritten
    // groups carry it (graft.sql.GraftAddColumnsCommand).
    "q_sql_alter" -> ((s, d) =>
      SnapshotReader.read(s, Fixtures.sqlAlterDir(s, d))
        .select(col("o_orderkey"), col("o_totalprice"), col("score"))
        .orderBy(col("o_orderkey"))),
    // q_sql_alter_drop: the FULL payload after `ALTER ... DROP COLUMNS
    // (o_orderpriority)` — the dropped column is absent from the snapshot
    // schema (zero data IO; old files keep the bytes, readers stop
    // requesting them); the oracle simply never selects it.
    "q_sql_alter_drop" -> ((s, d) => {
      val df = SnapshotReader.read(s, Fixtures.sqlAlterDir(s, d))
      require(!df.schema.fieldNames.contains("o_orderpriority"),
        "dropped column leaked back into the snapshot schema")
      df.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("score"))
        .orderBy(col("o_orderkey"))
    }),
    // q_key_lookup (r7): record-key point lookup served by the column-stats
    // skipping index — the pushed key predicate drops every file whose
    // recorded [min,max] key range excludes it at LISTING time (one file
    // per table planned, not one per file group; plan-asserted in
    // FileIndexSpec).
    "q_key_lookup" -> ((s, d) => {
      val dir = Fixtures.cowDir(s, d)
      val k = s.read.parquet(s"$d/orders.parquet")
        .filter(col("o_orderkey") % 7 =!= 0 && col("o_orderkey") % 11 =!= 5)
        .agg(min(col("o_orderkey"))).head().getLong(0)
      payload(SnapshotReader.read(s, dir)
        .filter(col(graft.format.MetaCols.RecordKey) === k.toString))
    }),
    // q_bloom_lookup (r7 tail): equality lookup on a NON-key
    // high-cardinality column (o_custkey) served by the per-file BLOOM
    // index — custkey values interleave across every file so min/max
    // ranges are blind and bucket routing doesn't apply (it serves the
    // record key); the bloom proves absence per file at listing time
    // (plan-asserted in BloomSpec).
    "q_bloom_lookup" -> ((s, d) => {
      val dir = Fixtures.bloomDir(s, d)
      val c = s.read.parquet(s"$d/orders.parquet")
        .filter(col("o_orderkey") % 7 =!= 0)
        .agg(min(col("o_custkey"))).head().getLong(0)
      payload(SnapshotReader.read(s, dir).filter(col("o_custkey") === c))
    }),
    // q_key_lookup_in (r7 tail): multi-key IN-list lookup served by the
    // BUCKET index — pmod(xxhash64(key), buckets) names each key's one
    // candidate file group per partition, exact at any key density (dense
    // keys defeat min/max range skipping: every hash bucket's range spans
    // the key space). Plan-asserted in BucketPruningSpec.
    "q_key_lookup_in" -> ((s, d) => {
      val dir = Fixtures.cowDir(s, d)
      val ks = s.read.parquet(s"$d/orders.parquet")
        .filter(col("o_orderkey") % 7 =!= 0 && col("o_orderkey") % 11 =!= 5)
        .orderBy(col("o_orderkey")).limit(3)
        .select(col("o_orderkey").cast("string"))
        .collect().map(_.getString(0)).toSeq
      payload(SnapshotReader.read(s, dir)
        .filter(col(graft.format.MetaCols.RecordKey).isin(ks: _*)))
    }),
    // q_key_lookup_mor (r7): the same point lookup against the MOR head
    // state with OUTSTANDING deltas — served by SLICE-level stats skipping
    // (a whole file group is dropped only when its base AND every delta
    // prove exclusion; base/delta share fate for merge correctness).
    "q_key_lookup_mor" -> ((s, d) => {
      val dir = Fixtures.morDir(s, d)
      val k = s.read.parquet(s"$d/orders.parquet")
        .filter(col("o_orderkey") % 7 =!= 0 && col("o_orderkey") % 11 =!= 5)
        .agg(min(col("o_orderkey"))).head().getLong(0)
      payload(SnapshotReader.read(s, dir)
        .filter(col(graft.format.MetaCols.RecordKey) === k.toString))
    }),
    // q_cdc (r7 tail): CHANGE-DATA FEED over (C1, C4] — every row-level
    // change tagged _change_type/_change_commit_ts. The delete side IS the
    // reference's delete view per commit (pre-image payload); inserts/
    // updates are each commit's written rows split by a key-only existence
    // probe against only the touched groups' previous slices (per-commit
    // churn-bounded plans, never a table scan).
    "q_cdc" -> ((s, d) => {
      val dir = Fixtures.cowDir(s, d)
      graft.read.ChangeFeed.read(s, dir, C1, C4)
        .select((OrdersCols.map(col) :+ col("_change_type") :+
          col("_change_commit_ts")): _*)
        .orderBy(col("_change_commit_ts"), col("o_orderkey"))
    }),
    // q_cdc_mor_format: the same change range on the MOR twin, through the
    // format surface (option cdc=true) — the C3x COMPACTION between C3 and
    // C4 must contribute ZERO rows (it rewrites bytes, not rows), so the
    // oracle rows are identical to q_cdc's.
    "q_cdc_mor_format" -> ((s, d) => {
      val dir = Fixtures.morDir(s, d)
      s.read.format("graft").option("from", C1).option("to", C4)
        .option("cdc", "true").load(dir)
        .select((OrdersCols.map(col) :+ col("_change_type") :+
          col("_change_commit_ts")): _*)
        .orderBy(col("_change_commit_ts"), col("o_orderkey"))
    }),
    // q_cdc_sqldml: full-history feed (from=0) of the SQL-DML-mutated
    // table — exercises insert tagging through the existence probe: the
    // MERGE re-INSERTs keys the earlier DELETE removed (delete then insert
    // for one key), and its matched side updates. DML commit ts are
    // writer-minted, so the oracle compares payload + type only.
    "q_cdc_sqldml" -> ((s, d) => {
      val dir = Fixtures.sqlDmlDir(s, d)
      s.read.format("graft").option("from", "0").option("cdc", "true")
        .load(dir)
        .select((OrdersCols.map(col) :+ col("_change_type")): _*)
        .orderBy(col("o_orderkey"), col("_change_type"),
          col("o_totalprice"))
    }),
    // q_cdc_mirror (r7 tail): SNAPSHOT of a table built ENTIRELY by
    // applying the source's full change feed (from=0, cdc=true) through
    // the operation=cdc writer — the CDC loop closed. The newest change
    // per key wins across the multi-commit batch (update-then-delete,
    // delete-then-nothing chains collapse to their net effect), so the
    // mirror must equal the source's final snapshot exactly.
    "q_cdc_mirror" -> ((s, d) =>
      payload(SnapshotReader.read(s, Fixtures.mirrorDir(s, d)))),
    // q_sorted_snapshot (r7 tail): snapshot THROUGH a sort-layout CLUSTER
    // commit (every live group rewritten sorted by o_totalprice within
    // each file — row-group pruning becomes effective on it). Layout-only:
    // the rows must equal the pre-cluster state exactly.
    "q_sorted_snapshot" -> ((s, d) =>
      payload(SnapshotReader.read(s, Fixtures.sortedDir(s, d)))),
    // q_zorder_snapshot (r7 tail): snapshot THROUGH a Z-ORDER CLUSTER
    // commit (rows interleave-bucketed over (o_custkey, o_totalprice) so
    // row-group pruning serves range predicates on EITHER column).
    // Layout-only: the rows must equal the pre-cluster state exactly.
    "q_zorder_snapshot" -> ((s, d) =>
      payload(SnapshotReader.read(s, Fixtures.zorderDir(s, d)))),
    // q_zorder_range: a two-sided range predicate on BOTH z-ordered
    // columns against the z-ordered table — the query shape the layout
    // exists for (each ~128 MB row group covers a narrow range in EVERY
    // z column, so the parquet reader prunes on both predicates at once).
    "q_zorder_range" -> ((s, d) =>
      payload(SnapshotReader.read(s, Fixtures.zorderDir(s, d)))
        .filter(col("o_custkey") < 1000 &&
          col("o_totalprice").between(50000, 150000))
        .orderBy(col("o_orderkey"))),
    // q_archive_snapshot / q_archive_time_travel (r7 tail): the COW
    // fixture history with C1–C3 relocated into an archive manifest
    // (keepActive=1) — snapshot AND time travel to an archived instant
    // must be byte-identical to the unarchived table: archival changes
    // where commit metadata is stored, never what history exists.
    "q_archive_snapshot" -> ((s, d) =>
      payload(SnapshotReader.read(s, Fixtures.archivedDir(s, d)))),
    "q_archive_time_travel" -> ((s, d) =>
      payload(SnapshotReader.read(s, Fixtures.archivedDir(s, d), Some(C2)))),
    // q_partition_delete / q_partition_delete_tt (r7 tail): METADATA-ONLY
    // partition drop — the snapshot stops serving partition F with zero
    // data IO; time travel before the drop still serves it.
    "q_partition_delete" -> ((s, d) =>
      payload(s.read.format("graft").load(Fixtures.pdropDir(s, d)))),
    "q_partition_delete_tt" -> ((s, d) =>
      payload(SnapshotReader.read(s, Fixtures.pdropDir(s, d), Some(C2)))),
    // q_sql_time_travel (r7 tail): `TIMESTAMP AS OF` SQL on a graft
    // catalog table resolves to the same planned as-of snapshot.
    "q_sql_time_travel" -> ((s, d) => {
      val dir = Fixtures.cowDir(s, d)
      val tbl = "graft_tt_fixture"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$dir')")
      // the analyzed plan is a self-contained file relation — dropping the
      // catalog entry afterwards does not invalidate it
      try payload(s.sql(s"SELECT * FROM $tbl TIMESTAMP AS OF '$C2'"))
      finally s.sql(s"DROP TABLE $tbl")
    }),
    // q_precombine_cow / q_precombine_mor (r7 tail): EVENT-TIME ordering
    // (the Hudi precombine analog) — an upsert batch carrying half STALE
    // rows (older o_orderdate; must not apply) and half FRESH rows (newer;
    // must apply). COW resolves at write time, MOR at merge time (the
    // delta is left un-compacted so the format read plans the ordering-
    // aware merge).
    "q_precombine_cow" -> ((s, d) =>
      payload(s.read.format("graft")
        .load(Fixtures.precombineDir(s, d, "cow")))),
    "q_precombine_mor" -> ((s, d) =>
      payload(s.read.format("graft")
        .load(Fixtures.precombineDir(s, d, "mor")))),
    // q_rebucket_snapshot / q_rebucket_lookup (r7 tail): table RESCALED
    // from 4 to 9 buckets mid-history (layout-only CLUSTER commit), then
    // appended to through the rescaled routing — the snapshot must equal
    // the same script without the rescale, and a key point-lookup prunes
    // at the NEW grain (count resolved as of the snapshot instant).
    "q_rebucket_snapshot" -> ((s, d) =>
      payload(s.read.format("graft").load(Fixtures.rebucketDir(s, d)))),
    "q_rebucket_lookup" -> ((s, d) => {
      val dir = Fixtures.rebucketDir(s, d)
      val k = s.read.parquet(s"$d/orders.parquet")
        .filter(col("o_orderkey") % 7 =!= 0)
        .agg(min(col("o_orderkey"))).head().getLong(0)
      payload(s.read.format("graft").load(dir)
        .filter(col(graft.format.MetaCols.RecordKey) === k.toString))
    }),
    // q_savepoint_read (r7 tail): time travel to a SAVEPOINTED instant
    // AFTER clean(retainCommits=1) reclaimed everything else outside the
    // head snapshot — the pinned C2 snapshot must serve exactly (without
    // the savepoint the same clean deletes slices C2 needs).
    "q_savepoint_read" -> ((s, d) =>
      payload(SnapshotReader.read(s, Fixtures.savepointDir(s, d),
        Some(C2)))),
    "q_time_travel_cow" -> ((s, d) =>
      payload(SnapshotReader.read(s, Fixtures.cowDir(s, d), Some(C2)))),
    "q_incremental_cow" -> ((s, d) =>
      payload(IncrementalReader.read(s, Fixtures.cowDir(s, d), C2, C3))),
    "q_snapshot_mor" -> ((s, d) =>
      payload(SnapshotReader.read(s, Fixtures.morDir(s, d)))),
    "q_time_travel_mor" -> ((s, d) =>
      payload(SnapshotReader.read(s, Fixtures.morDir(s, d), Some(C2)))),
    "q_incremental_mor" -> ((s, d) =>
      payload(IncrementalReader.read(s, Fixtures.morDir(s, d), C2, C3))),
    // metadata-only COUNT (SURVEY §2 O16/O17) — raw scan, NOT widened:
    // count() on an un-shuffled parquet relation is answered from footers.
    "q_meta_count" -> ((s, d) => {
      import s.implicits._
      Seq(t(s, d, "lineitem").count()).toDF("cnt")
    }),

    // ---- core engine surface: scan/filter/project, agg, join, window,
    //      sort/limit, set ops ----
    "q_scan_filter_project" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1998-01-01") &&
          col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        // total order over ALL output columns: (orderkey, linenumber) is NOT
        // unique in this data, and rows tied on every projected column hash
        // the same in any order
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),
    // Money amounts are quantized per row to exact integer units BEFORE
    // aggregation (cents for prices; 1e-4 units for the discount product —
    // source values carry ≤2+2 decimals, so round() lands on the true value
    // identically in every IEEE engine), and the sums are BIGINT. Decimal
    // aggregates hash-differently across engine→pandas paths; integer sums
    // do not, and at 100 TB fixed-width integer sums are also the cheaper
    // aggregation (no 128-bit decimal accumulation in the inner loop).
    "q1_agg" -> ((s, d) =>
      tp(s, d, "lineitem")
        .filter(col("l_shipdate").cast("date") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("sum_base_price_c"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 10000).cast("long")).as("sum_disc_price_dm"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),
    "q3_topk" -> ((s, d) => {
      val c = tp(s, d, "customer"); val o = tp(s, d, "orders")
      val l = tp(s, d, "lineitem")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(o("o_orderkey").as("o_orderkey"), o("o_orderdate"))
        .agg(sum(round(l("l_extendedprice") * (lit(1.0) - l("l_discount"))
          * 10000).cast("long")).as("revenue_dm"))
        .orderBy(col("revenue_dm").desc, col("o_orderkey").asc)
        .limit(10)
    }),
    "q_window_topn" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      tp(s, d, "orders").withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn").cast("long").as("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),
    "q_antijoin" -> ((s, d) =>
      tp(s, d, "customer").join(
          tp(s, d, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey")).orderBy(col("c_custkey"))),
    "q_semijoin" -> ((s, d) =>
      t(s, d, "supplier").join(t(s, d, "lineitem"),
          col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey")).orderBy(col("s_suppkey"))),
    "q_except" -> ((s, d) =>
      tp(s, d, "customer").select(col("c_custkey").as("custkey"))
        .except(tp(s, d, "orders")
          .filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("custkey")))
        .orderBy(col("custkey"))),
    "q_union" -> ((s, d) =>
      t(s, d, "lineitem").select(col("l_partkey").as("partkey"))
        .union(t(s, d, "part").select(col("p_partkey").as("partkey")))
        .distinct().orderBy(col("partkey"))),
    "q_intersect" -> ((s, d) =>
      tp(s, d, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
        .intersect(tp(s, d, "orders").filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("custkey")))
        .orderBy(col("custkey"))),
    // PIVOT: daily event-type count matrix (explicit pivot values keep the
    // schema static; absent cells are 0, not null, for oracle parity).
    "q_pivot" -> ((s, d) =>
      tp(s, d, "events")
        .withColumn("day",
          date_format(timestamp_micros(expr("ts div 1000")), "yyyy-MM-dd"))
        .groupBy(col("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("day"))),

    // ---- events: time-window agg + gap-based sessionization ----
    // events.ts is lifted to an epoch-NANOS long at the load point (`t`,
    // via EventStream.tsNanos — the stored column is TIMESTAMP(MICROS)
    // NTZ); all time math below is integer arithmetic on epoch nanos —
    // exact and engine-portable (DuckDB reads the column natively as
    // TIMESTAMP).
    // `ts div N` (integer division) NOT `/` — double division of epoch-nanos
    // longs (> 2⁵³) rounds, and a ts within ~256ns of a unit boundary could
    // truncate to the wrong bucket vs the oracle's exact integer math.
    "q_events_hourly" -> ((s, d) =>
      tp(s, d, "events")
        .withColumn("hour",
          date_format(timestamp_micros(expr("ts div 1000")), "yyyy-MM-dd HH"))
        .groupBy(col("event_type"), col("hour"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_c"))
        .orderBy(col("event_type"), col("hour"))),
    "q_events_sessions" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      tp(s, d, "events")
        .withColumn("sec", expr("ts div 1000000000"))
        .withColumn("prev_sec", lag(col("sec"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_sec").isNull ||
            col("sec") - col("prev_sec") > 1800, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // ---- training-data pipeline: dedup / text / similarity / multimodal ----
    // Exact mergeable distinct-count bitmaps (functions/BitmapDistinct):
    // COUNT(DISTINCT) is non-algebraic (Spark plans an Expand + shuffle of
    // the raw distinct values, and the resulting number cannot be
    // re-aggregated); the roaring-style bitmap IS the mergeable form.
    // q_bitmap_rollup is the 100 TB shape: per-(flag,status) bitmap
    // partials — what a per-day job would persist — rolled up per flag by
    // pure bitmap union, no raw-key rescan.
    // BM25-style retrieval over the partition-pruned inverted index
    // (pipeline/TextRetrieval): the query reads ONLY its terms' buckets of
    // the postings, joins nothing (dl/df denormalized at build), and
    // scores in scaled-integer arithmetic the DuckDB oracle reproduces
    // bit-for-bit (fp BM25 is the production scorer, spec-gated — fp never
    // sits under a hash-exactness gate).
    "q_bm25_topk" -> ((s, d) => {
      val dir = Fixtures.textIndexDir(s, d)
      TextRetrieval.exactTopK(s, dir,
        Seq("spark", "join", "window"), k = 20)
    }),
    // q_hybrid_topk: reciprocal-rank fusion of the lexical BM25 pool and
    // the vector cosine pool — ranks are integers on both engines, so the
    // scaled-integer RRF score is oracle-exact (pipeline/TextRetrieval).
    "q_hybrid_topk" -> ((s, d) => {
      val dir = Fixtures.textIndexDir(s, d)
      TextRetrieval.hybridRrfTopK(s, dir,
        Seq("spark", "join", "window"), tp(s, d, "embeddings"),
        col("vec_id"), col("embedding"), queryVecId = 0L, k = 10)
    }),
    // q_phrase_topk: exact phrase search over the positional index — the
    // Lucene PhraseQuery shape as codegen'd array folds over the pruned
    // postings (matched_i = (matched_{i-1} + 1) ∩ positions_i, no
    // explode); occurrence counts are integers, oracle-exact.
    "q_phrase_topk" -> ((s, d) => {
      val dir = Fixtures.textIndexDir(s, d)
      TextRetrieval.phraseTopK(s, dir, Seq("table", "hash"), k = 20)
    }),
    // q_more_like_this: doc-expansion retrieval — the source doc's 5
    // rarest terms (max idf, deterministic ties) become the BM25 query,
    // source excluded; selection and scoring are integer-exact.
    "q_more_like_this" -> ((s, d) => {
      val dir = Fixtures.textIndexDir(s, d)
      val text = t(s, d, "documents").where(col("doc_id") === 0L)
        .select(col("text")).head().getString(0)
      TextRetrieval.moreLikeThis(s, dir, text, selfId = 0L, k = 15)
    }),
    // q_phrase_decontam: verbatim-benchmark leakage screening through the
    // positional index — docs containing ANY of the benchmark phrases,
    // zero false positives, reading only the phrases' posting buckets.
    "q_phrase_decontam" -> ((s, d) => {
      val dir = Fixtures.textIndexDir(s, d)
      TextRetrieval.phraseMatchDocs(s, dir,
          Seq(Seq("table", "hash"), Seq("part", "filter")))
        .orderBy(col("doc_id"))
    }),
    // q_bm25_batch: many queries at once — the query set broadcasts into
    // the union-of-terms pruned scan; per-query rank windows are k-sized.
    "q_bm25_batch" -> ((s, d) => {
      val dir = Fixtures.textIndexDir(s, d)
      import s.implicits._
      val qs = Seq((1L, "spark"), (1L, "join"), (2L, "window"),
        (2L, "scan")).toDF("qid", "term")
      TextRetrieval.exactTopKBatch(s, dir, qs, k = 8)
    }),
    // q_bm25_incremental: the MAINTAINED index — postings as a graft
    // table (df-free), df/corpus stats as MaterializedAgg views refreshed
    // at churn cost per ingest/remove commit; converges to exactly the
    // batch answer over the live docs (three ingests + one remove here).
    "q_bm25_incremental" -> ((s, d) => {
      val dir = Fixtures.textIncIndexDir(s, d)
      TextRetrieval.incExactTopK(s, dir,
        Seq("spark", "join", "window"), k = 20)
    }),
    "q_bitmap_distinct" -> ((s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(Bitmap64.bitmapCardinality(
          Bitmap64.bitmapBuild(col("l_orderkey"))).as("n_orders"))
        .orderBy(col("l_returnflag"))),
    "q_bitmap_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(Bitmap64.bitmapBuild(col("l_orderkey")).as("bm"))
        .groupBy(col("l_returnflag"))
        .agg(Bitmap64.bitmapCardinality(
          Bitmap64.bitmapMerge(col("bm"))).as("n_orders"))
        .orderBy(col("l_returnflag"))),
    // q_bitmap_setops: the exact set algebra over stored bitmaps —
    // intersection / difference / union of two cohorts' key sets without
    // touching raw keys again (the retention-cohort shape at 100 TB).
    "q_bitmap_setops" -> ((s, d) =>
      t(s, d, "lineitem")
        .agg(
          Bitmap64.bitmapBuild(
            when(col("l_returnflag") === "A", col("l_orderkey"))).as("bma"),
          Bitmap64.bitmapBuild(
            when(col("l_returnflag") === "R", col("l_orderkey"))).as("bmr"))
        .select(
          Bitmap64.bitmapCardinality(
            Bitmap64.bitmapAnd(col("bma"), col("bmr"))).as("n_both"),
          Bitmap64.bitmapCardinality(
            Bitmap64.bitmapAndNot(col("bma"), col("bmr"))).as("n_only_a"),
          Bitmap64.bitmapCardinality(
            Bitmap64.bitmapUnion(col("bma"), col("bmr"))).as("n_any"))),
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(tp(s, d, "documents"), col("text"), col("doc_id"))
        .select(col("doc_id")).orderBy(col("doc_id"))),
    "q_text_stats" -> ((s, d) =>
      TextAnalysis.withQuality(t(s, d, "documents"), col("text"))
        .select(col("doc_id"), col("n_tokens"), col("punct_permille"),
          col("stopword_permille"), col("quality_score"))
        .orderBy(col("doc_id"))),
    "q_langid" -> ((s, d) =>
      TextAnalysis.withLangId(tp(s, d, "documents"), col("text"))
        .select(col("doc_id"), col("lang_pred")).orderBy(col("doc_id"))),
    "q_fingerprint" -> ((s, d) =>
      tp(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),
    // Winnowing (MOSS) rolling-hash fingerprints — engine-portable integer
    // polynomial hash, so the full sketch is oracle-checked via its
    // cardinality and extrema per doc.
    "q_winnow" -> ((s, d) =>
      tp(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.winnowFingerprints(col("text")).as("fps"))
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
          coalesce(array_min(col("fps")), lit(-1L)).as("min_fp"),
          coalesce(array_max(col("fps")), lit(-1L)).as("max_fp"))
        .orderBy(col("doc_id"))),
    "q_ngram_pairs" -> ((s, d) =>
      Dedup.ngramJaccardPairs(tp(s, d, "documents"), col("doc_id"),
          col("text"), blocking = col("source"), n = 2,
          thresholdPermille = 200)
        .orderBy(col("id_a"), col("id_b"))),
    // Winnow-fingerprint near-copy pairs within source (MOSS predicate):
    // prefix-filtered candidate generation, in-row intersection verify.
    "q_winnow_pairs" -> ((s, d) =>
      Dedup.winnowPairs(tp(s, d, "documents"), col("doc_id"), col("text"),
          blocking = col("source"), minShared = 10)
        .orderBy(col("id_a"), col("id_b"))),
    // Ratio-mode winnow pairs: shared fingerprints ≥ 30% of the LARGER
    // doc's fingerprint set — the threshold-scaled prefix variant whose
    // candidate cost tracks the output (constant-threshold mode can't).
    "q_winnow_ratio" -> ((s, d) =>
      Dedup.winnowPairs(tp(s, d, "documents"), col("doc_id"), col("text"),
          blocking = col("source"), ratioPermille = Some(300))
        .orderBy(col("id_a"), col("id_b"))),
    // IVF ANN serving path under the oracle gate: probing ALL cells
    // (nprobe = nlist) makes the approximate path exactly equal to brute
    // force, so the DuckDB brute-force oracle hash-matches; the table read
    // still goes through the partitioned-directory probe machinery.
    "q_ivf_topk" -> ((s, d) => {
      val (path, centroids) = Fixtures.ivfDir(s, d)
      Similarity.ivfTopKFromTable(s, path, centroids,
          t(s, d, "embeddings").filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"), k = 5, nprobe = centroids.size)
        .select(col("query_id"), col("corpus_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // q_ivf_ingest_topk: the IVF index GROWN incrementally (bulk load on
    // 2/3 of the corpus, two ivfIngest batches against the frozen
    // centroids) — nprobe=nlist must stay exactly brute force over the
    // UNION, proving ingest places every vector and loses none.
    "q_ivf_ingest_topk" -> ((s, d) => {
      val (path, centroids) = Fixtures.ivfIngestDir(s, d)
      Similarity.ivfTopKFromTable(s, path, centroids,
          t(s, d, "embeddings").filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"), k = 5, nprobe = centroids.size)
        .select(col("query_id"), col("corpus_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // q_ivfpq_topk (r8): the COMPOSED serving layout — IVF cells for
    // selection, PQ codes for compressed-domain ADC scoring, exact rerank
    // joined back by id. nprobe=nlist + rerank ≥ corpus ⇒ exact ≡ brute
    // force (hash-gated); realistic settings are recall-gated in RECALL_r8.
    // q_ivfpq_ingest_topk: the COMPRESSED index grown incrementally —
    // bulk load trains centroids AND codebooks on 2/3, two ivfPqIngest
    // batches append the rest PQ-encoded against the frozen model;
    // exhaustive + full-rerank must stay brute force over the union.
    "q_ivfpq_ingest_topk" -> ((s, d) => {
      val (path, cents, books) = Fixtures.ivfPqIngestDir(s, d)
      Similarity.ivfPqTopKFromTable(s, path, cents, books,
          t(s, d, "embeddings").filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"), k = 5, dim = 64,
          nprobe = cents.size, rerank = 1 << 30)
        .select(col("query_id"), col("corpus_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // q_ann_ingest_topk (r15): the SELF-DESCRIBING .ann index grown
    // incrementally — built as variant pca over 2/3 of the corpus, two
    // annIngest batches append the rest THROUGH THE PERSISTED SIDECARS
    // (stored PCA projection re-applied to each batch, frozen
    // centroids/codebooks). Exhaustive probe + full rerank over the
    // grown directory must stay exact brute force over the union.
    "q_ann_ingest_topk" -> ((s, d) => {
      val dir = Fixtures.annIngestDir(s, d)
      Similarity.annTopK(s, dir,
          t(s, d, "embeddings").filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"), k = 5, nprobe = 8,
          rerank = 1 << 30)
        .select(col("query_id"), col("corpus_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // q_ann_delete_topk (r17): the TAKEDOWN contract — a ledgered
    // tombstone set (annDelete) anti-joins out of serving BEFORE
    // candidate ranking, so exhaustive probe + full rerank over the
    // tombstoned index ≡ brute force over corpus-minus-deleted (the
    // oracle excludes vec_id % 7 = 0 on the corpus side only: deleted
    // docs may still QUERY, they just can't be RETRIEVED). Physical
    // removal at rebuild is spec-pinned in PipelineSpec.
    "q_ann_delete_topk" -> ((s, d) => {
      val dir = Fixtures.annDeleteDir(s, d)
      Similarity.annTopK(s, dir,
          t(s, d, "embeddings").filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"), k = 5, nprobe = 8,
          rerank = 1 << 30)
        .select(col("query_id"), col("corpus_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_ivfpq_topk" -> ((s, d) => {
      val (path, cents, books) = Fixtures.ivfPqDir(s, d)
      Similarity.ivfPqTopKFromTable(s, path, cents, books,
          t(s, d, "embeddings").filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"), k = 5, dim = 64,
          nprobe = cents.size, rerank = 1 << 30)
        .select(col("query_id"), col("corpus_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // q_ivfopq_topk (r11): the FULL production composition —
    // OPQ rotation + IVF cells + residual PQ codes (FAISS
    // `OPQm,IVFn,PQm`). Exhaustive probe + full rerank ≡ brute force
    // (rotation preserves dots; the rerank reads ORIGINAL vectors), so
    // the gate is the same hash-exact oracle; realistic-mode recall vs
    // plain IVF-PQ is measured in RECALL_r11.
    "q_ivfopq_topk" -> ((s, d) => {
      val (path, rot, cents, books) = Fixtures.ivfOpqDir(s, d)
      Similarity.ivfPqTopKFromTable(s, path, cents, books,
          t(s, d, "embeddings").filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"), k = 5, dim = 64,
          nprobe = cents.size, rerank = 1 << 30, rotation = Some(rot))
        .select(col("query_id"), col("corpus_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // PCA-composed IVF-PQ (r14): the FAISS PCAR16,IVF8,PQ8 chain — the
    // whole compressed index lives in a 16-dim principal subspace
    // (rank×dim rotation, dim = rank on the rotated side); stored
    // vectors stay original, so exhaustive probe + full rerank is still
    // exact brute force — the gate.
    "q_ivfpca_topk" -> ((s, d) => {
      val (path, rot, cents, books) = Fixtures.ivfPcaDir(s, d)
      Similarity.ivfPqTopKFromTable(s, path, cents, books,
          t(s, d, "embeddings").filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"), k = 5, dim = 16,
          nprobe = cents.size, rerank = 1 << 30, rotation = Some(rot))
        .select(col("query_id"), col("corpus_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_sim_topk" -> ((s, d) => {
      val e = tp(s, d, "embeddings")
      Similarity.bruteForceTopK(
        e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
        k = 5)
        .select(col("query_id"), col("corpus_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // PCA top-k (r14): candidates ranked in a 16-dim principal subspace
    // (rank/dim of the scoring FLOPs/bytes), exact-cosine rerank on the
    // original vectors. Full rerank ⇒ exact brute force regardless of
    // rank — the gate; realistic (rank, rerank) recall is in RECALL_r14.
    "q_pca_topk" -> ((s, d) => {
      val e = tp(s, d, "embeddings")
      Similarity.pcaTopK(
        e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
        k = 5, dim = 64, rank = 16, center = false, rerank = 1 << 30)
        .select(col("query_id"), col("corpus_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // kNN JOIN (r12): every vector's 3 nearest others. The query side is
    // the whole corpus, so this is the no-broadcast shape — both sides
    // shuffled by IVF cell. nprobe = nlist ⇒ exact brute force (the gate);
    // realistic nprobe recall is measured in RECALL_r12.
    "q_knn_join" -> ((s, d) =>
      Similarity.knnJoin(tp(s, d, "embeddings"), col("vec_id"),
          col("embedding"), k = 3, nlist = 8, nprobe = 8)
        .select(col("query_id"), col("corpus_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))),
    // COMPRESSED-DOMAIN kNN join (r13): both sides of the cell join carry
    // PQ codes, never vectors (SDC scoring); vectors appear only in the
    // id-keyed exact rerank. Exhaustive probe + full rerank ⇒ exact brute
    // force minus self regardless of quantization (the gate); realistic
    // (nprobe, rerank) recall is measured in RECALL_r13.
    // ksub 64 at the GATE (r14): exhaustive probe + full rerank is exact
    // REGARDLESS of quantization quality, so the gate doesn't need
    // production-sized codebooks — 256-entry books trained on the bench
    // corpus cost a 4 MB SDC plan literal and most of the query's wall
    // time for zero gate power (RECALL_r14 prices quality at defaults).
    "q_knn_join_pq" -> ((s, d) =>
      Similarity.knnJoinPq(tp(s, d, "embeddings"), col("vec_id"),
          col("embedding"), k = 3, nlist = 8, nprobe = 8, dim = 64,
          ksub = 64, rerank = 1 << 30)
        .select(col("query_id"), col("corpus_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))),
    // OPQ-composed compressed kNN join (r14): codebooks + SDC table in
    // rotated space, cells/norms/rerank on the original vectors. Same
    // exhaustive gate — rotation preserves inner products, so full rerank
    // is still exact brute force; the realistic-dial recall lift at
    // identical exchange bytes is priced in RECALL_r14.
    "q_knn_join_opq" -> ((s, d) =>
      Similarity.knnJoinPq(tp(s, d, "embeddings"), col("vec_id"),
          col("embedding"), k = 3, nlist = 8, nprobe = 8, dim = 64,
          ksub = 64, rerank = 1 << 30, opqIters = 2)
        .select(col("query_id"), col("corpus_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))),
    // Mutual-kNN-graph clustering (r12): connected components over edges
    // kept only when each endpoint is in the other's top-3 — the
    // clustering-based curation primitive composed from knnJoin +
    // mutualKnnEdges + the existing label-propagation components.
    "q_knn_clusters" -> ((s, d) =>
      Dedup.clusters(
          Similarity.mutualKnnEdges(
            Similarity.knnJoin(tp(s, d, "embeddings"), col("vec_id"),
              col("embedding"), k = 3, nlist = 8, nprobe = 8)),
          col("id_a"), col("id_b"))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .orderBy(col("vec_id"))),
    // q_pq_topk (r8): the product-quantization path's EXACTNESS gate —
    // rerank ≥ corpus size means ADC only generates candidates and the
    // exact-cosine rerank reproduces brute force (the PQ analog of
    // q_ivf_topk's nprobe=nlist). Realistic compressed-domain modes are
    // recall-gated in RECALL_r8.json instead (approximate by design).
    "q_pq_topk" -> ((s, d) => {
      val e = tp(s, d, "embeddings")
      Similarity.pqTopK(e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
        k = 5, dim = 64, m = 8, ksub = 16, rerank = 1 << 30)
        .select(col("query_id"), col("corpus_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // q_opq_topk (r9): the OPQ (learned-rotation PQ) exactness gate —
    // rotation preserves inner products, so full rerank reproduces brute
    // force exactly regardless of the learned rotation/codebooks; the
    // realistic modes' recall lift is measured in RECALL_r9.json.
    "q_opq_topk" -> ((s, d) => {
      val e = tp(s, d, "embeddings")
      Similarity.opqTopK(e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
        k = 5, dim = 64, m = 8, ksub = 16, iters = 1, opqIters = 1,
        rerank = 1 << 30, trainFraction = 0.5)
        .select(col("query_id"), col("corpus_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_minhash_pairs" -> ((s, d) =>
      Dedup.minhashPairs(tp(s, d, "documents"), col("doc_id"), col("text"),
          n = 3, numHashes = 32, bands = 16, thresholdPermille = 500)
        .orderBy(col("id_a"), col("id_b"))),
    "q_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(tp(s, d, "documents"), col("doc_id"), col("text"),
          maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))),
    "q_embed_neardup" -> ((s, d) =>
      Dedup.embeddingNearDupPairs(tp(s, d, "embeddings"), col("vec_id"),
          col("embedding"), thresholdNum = 2, thresholdDen = 5)
        .orderBy(col("id_a"), col("id_b"))),
    // High-recall blocking mode: 32 seeded sign-bands (vs the default 8
    // consecutive ones), r11: + MULTI-PROBE — each vector also probes its
    // lowest-margin bit-flip bucket per band, recovering most single-bit
    // misses (measured recall 0.49 → 0.82 at sf0.1, precision still 1.0,
    // RECALL_r11). The oracle embeds the same seeded coordinate literals
    // and the same argmin flip arithmetic.
    "q_embed_neardup_hi" -> ((s, d) =>
      Dedup.embeddingNearDupPairs(tp(s, d, "embeddings"), col("vec_id"),
          col("embedding"), thresholdNum = 2, thresholdDen = 5,
          bandCoords = Some(EmbedHiCoords), multiProbe = true)
        .orderBy(col("id_a"), col("id_b"))),
    // SemDeDup (r10): cluster-then-dedup — 32 seeded equal-norm Rademacher
    // anchors bound candidates to within-cluster pairs (Σ|c|² not n²; the
    // anchor count is the occupancy knob at scale); assignment and
    // verification all integer, the generated oracle replicates both.
    "q_sem_dedup" -> ((s, d) =>
      Dedup.semDedupKeep(tp(s, d, "embeddings"), col("vec_id"),
          col("embedding"), SemDedupAnchors,
          thresholdNum = 2, thresholdDen = 5)
        .orderBy(col("id"))),
    // Incremental twin (r10): three-batch arrival-order ingest through the
    // cluster-partitioned semantic index must converge to the same kept
    // set — same oracle SQL as q_sem_dedup.
    "q_sem_dedup_incremental" -> ((s, d) =>
      read.SnapshotReader.read(s, Fixtures.semIndexDir(s, d))
        .filter(col("kept"))
        .select(col("doc_id").as("id"), col("cl")).orderBy(col("id"))),
    "q_multimodal_stats" -> ((s, d) =>
      Multimodal.stats(
        tp(s, d, "documents").select(
          col("doc_id").as("media_id"),
          when(col("doc_id") % 3 === 0, "video").otherwise("image").as("kind"),
          col("text").cast("binary").as("content")))
        .orderBy(col("kind"))),
    // REAL image codec round trip: synthesize deterministic grayscale PNGs
    // (JDK ImageIO encoder), decode them back (ImageIO decoder), emit
    // dims + whole-raster checksum — closed-form in doc_id, so the oracle
    // verifies actual compression/decompression, not a stub.
    "q_image_dims" -> ((s, d) =>
      Multimodal.imageDimsRoundtrip(tp(s, d, "documents"), col("doc_id"))
        .orderBy(col("media_id"))),
    // REAL decoded-pixel features: the synthesized PNGs' intensity
    // histograms — bin shape is closed-form in doc_id (pixel depends only
    // on x), so argmax/nonzero-count verify the actual decode+histogram.
    "q_image_hist" -> ((s, d) => {
      import s.implicits._
      val encoded = tp(s, d, "documents")
        .select(col("doc_id").cast("long").as("media_id")).as[Long]
        .mapPartitions { it =>
          it.map { mid =>
            val w = 16 + (mid % 17).toInt
            val h = 16 + (mid % 13).toInt
            (mid, Multimodal.encodePng(w, h, (x, _) => ((x + mid) % 256).toInt))
          }
        }.toDF("media_id", "content")
      Multimodal.imageHistogramFeatures(encoded, col("media_id"),
          col("content"), bins = 16).toDF()
        .select(col("media_id"),
          size(filter(col("features"), f => f > 0f)).cast("long")
            .as("n_nonzero"),
          (array_position(col("features"), array_max(col("features"))) - 1)
            .cast("long").as("top_bin"))
        .orderBy(col("media_id"))
    }),
    // REAL audio codec round trip (WAV PCM via javax.sound.sampled):
    // deterministic waveform per doc, encoded + decoded for real; the
    // signed sample sum is closed-form in doc_id for the oracle.
    "q_audio_stats" -> ((s, d) =>
      Multimodal.audioFactsRoundtrip(tp(s, d, "documents"), col("doc_id"))
        .orderBy(col("media_id"))),
    // REAL video codec round trip: deterministic multi-frame animated GIFs
    // (ImageIO sequence writer), decoded back frame by frame; frame count,
    // dims, and per-frame intensity sums are closed-form in doc_id.
    "q_video_frames" -> ((s, d) =>
      Multimodal.videoFramesRoundtrip(tp(s, d, "documents"), col("doc_id"))
        .orderBy(col("media_id"), col("frame_idx"))),

    // ---- extended analytics surface: rollup, exact median, JSON scalar
    //      functions, token counting, fuzzy-dedup end-to-end, as-of join ----
    "q_rollup" -> ((s, d) =>
      tp(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"))
        .orderBy(col("returnflag"), col("linestatus"))),
    // String/date scalar-function surface in one deterministic pass:
    // substrings, case transforms, concat, year/month extraction, date
    // arithmetic — all engine-portable builtins.
    "q_string_date" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"),
          upper(substring(col("o_orderpriority"), 1, 1)).as("prio_initial"),
          length(col("o_orderpriority")).cast("long").as("prio_len"),
          concat(col("o_orderstatus"), lit("-"),
            substring(col("o_orderpriority"), 1, 1)).as("status_tag"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          datediff(lit("1999-01-01").cast("date"),
            col("o_orderdate").cast("date")).cast("long").as("days_to_99"))
        .orderBy(col("o_orderkey"))),
    // CUBE: all four grouping combinations in one pass (Spark expands to a
    // single Expand + one aggregation — no re-scan per grouping set).
    "q_cube" -> ((s, d) =>
      tp(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("sum_price_c"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_price_c"), col("n"))
        .orderBy(col("returnflag"), col("linestatus"))),
    // Bounded-frame running window: last-4-rows moving sum per user —
    // integer cents over a (ts_us, event_id) total order, so the frame
    // content (and the sum) is engine-exact.
    "q_moving_sum" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").asc, col("event_id").asc)
        .rowsBetween(-3, 0)
      tp(s, d, "events")
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("value_c", round(col("value") * 100).cast("long"))
        .select(col("event_id"), col("user_id"),
          sum(col("value_c")).over(w).as("sum4_c"))
        .orderBy(col("event_id"))
    }),
    // Exact median (lower middle element), not an interpolating percentile:
    // the k-th smallest VALUE is tie-insensitive and engine-portable.
    "q_events_median" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val v = tp(s, d, "events")
        .withColumn("value_c", round(col("value") * 100).cast("long"))
      val wOrd = Window.partitionBy("event_type")
        .orderBy(col("value_c").asc, col("event_id").asc)
      val wAll = Window.partitionBy("event_type")
      v.withColumn("rn", row_number().over(wOrd))
        .withColumn("cnt", count(lit(1)).over(wAll))
        .filter(col("rn") === floor((col("cnt") + 1) / 2))
        .select(col("event_type"), col("value_c").as("median_c"))
        .orderBy(col("event_type"))
    }),
    "q_json_agg" -> ((s, d) =>
      tp(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))),
    "q_token_counts" -> ((s, d) =>
      tp(s, d, "documents").select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_ws"),
          TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"))
        .orderBy(col("doc_id"))),
    "q_quality_filter" -> ((s, d) =>
      TextAnalysis.withQuality(tp(s, d, "documents"), col("text"))
        .filter(col("quality_score") >= 700)
        .select(col("doc_id")).orderBy(col("doc_id"))),
    // Trained linear quality model (r14): ridge fit on integer doc
    // features (closed form from ONE moment job) predicting lang == 'en',
    // scored corpus-wide with the INTEGER-quantized weights — a pure
    // BIGINT dot product, so the oracle (a def rendered after the query
    // runs, embedding the learned qweights — the trained-BPE mechanism)
    // hash-matches with no fp caveat.
    "q_quality_model" -> ((s, d) => {
      val docs = tp(s, d, "documents")
      val m = Models.trainedFor(docs, QualityModelFeats,
        (col("lang") === "en").cast("double"), key = d)
      docs.select(col("doc_id"),
          Models.scoreQ(m, QualityModelFeats).as("score_q"))
        .orderBy(col("doc_id"))
    }),
    // Composed quality FILTER (r14): train the scorer, keep the top 30%
    // by quantized score — the CCNet "keep the best slice" pipeline step
    // (model fit + corpus-relative threshold cut, ties kept) end to end.
    "q_quality_keep" -> ((s, d) => {
      val docs = tp(s, d, "documents")
      val m = Models.trainedFor(docs, QualityModelFeats,
        (col("lang") === "en").cast("double"), key = d)
      Curation.keepTopQuantile(
          docs.withColumn("score_q", Models.scoreQ(m, QualityModelFeats)),
          col("score_q"), 0.3)
        .select(col("doc_id"), col("score_q"))
        .orderBy(col("doc_id"))
    }),
    // Frozen-model serving (r15): fit on HALF the corpus (even doc ids),
    // PERSIST the model as a self-describing one-row sidecar (feature
    // SQL + quantized weights), re-LOAD it, and score the other half
    // from the sidecar alone — stored feature strings re-parsed via
    // expr(), frozen integer weights, no refit, no training-data read.
    // The cross-session CCNet serving pattern; the oracle replays this
    // run's quantized weights over the odd half (trained-BPE mechanism).
    "q_quality_score_frozen" -> ((s, d) => {
      val docs = tp(s, d, "documents")
      val m = Models.ridgeTrainedForKind("ridge_frozen",
        docs.filter(col("doc_id") % 2 === 0), QualityModelFeats,
        (col("lang") === "en").cast("double"), key = d)
      val dir = Fixtures.scratch(d, "quality_model_frozen")
      Models.save(s, dir, "ridge", Models.featureSql(QualityModelFeats), m)
      val mdl = Models.load(s, dir)
      docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"),
          Models.scoreQ(mdl.model, mdl.features.map(expr)).as("score_q"))
        .orderBy(col("doc_id"))
    }),
    // Logistic twin (r14): IRLS fit — one moment job per iteration —
    // on the same features/label; scoring and oracle mechanism identical
    // (quantized-weight BIGINT dot, per-kind lastTrained).
    "q_quality_model_lr" -> ((s, d) => {
      val docs = tp(s, d, "documents")
      val m = Models.logisticTrainedFor(docs, QualityModelFeats,
        (col("lang") === "en").cast("double"), key = d)
      docs.select(col("doc_id"),
          Models.scoreQ(m, QualityModelFeats).as("score_q"))
        .orderBy(col("doc_id"))
    }),
    // Exact distributed quantiles (r12): histogram-refined multi-pass
    // selection, metadata-sized shuffles only — no global sort, no
    // per-group distinct-value buffering. Small buckets/maxExact force
    // multiple refinement rounds even at verify SF.
    "q_exact_quantiles" -> ((s, d) =>
      graft.operators.Quantiles.exactQuantiles(
          t(s, d, "lineitem"), col("l_extendedprice"),
          Seq(0.25, 0.5, 0.75, 0.95), buckets = 64, maxExact = 500)
        .orderBy(col("p_permille"))),
    // Per-group exact quantiles (r12): every (group, prob) bracket
    // advances in ONE aggregate job per round over a broadcast bracket
    // table — pass count is the deepest group's log_B, never group count.
    "q_group_quantiles" -> ((s, d) =>
      graft.operators.Quantiles.exactQuantilesBy(
          t(s, d, "lineitem"), col("l_returnflag"), col("l_extendedprice"),
          Seq(0.5, 0.9), buckets = 64, maxExact = 500)
        .orderBy(col("grp"), col("p_permille"))),
    // CCNet-style LM quality filter (r12): per-doc bigram coverage against
    // a reference slice's LM table (source = 'src0', bigrams seen ≥ 2) —
    // integer-exact; the fp stupid-backoff scorer is spec-pinned instead.
    "q_lm_coverage" -> ((s, d) => {
      val docs = tp(s, d, "documents")
      TextAnalysis.bigramCoverage(docs, col("doc_id"), col("text"),
          TextAnalysis.bigramLm(docs.filter(col("source") === "src0"),
            col("text"), minCount = 2))
        .orderBy(col("doc_id"))
    }),
    // Trigram coverage (r13): the order-3 generalization — same
    // integer-exact single-scan shape over ngramLm(3); the order-n
    // stupid-backoff scorer is its fp twin (spec-pinned).
    "q_lm_coverage_tri" -> ((s, d) => {
      val docs = tp(s, d, "documents")
      TextAnalysis.ngramCoverage(docs, col("doc_id"), col("text"),
          TextAnalysis.ngramLm(docs.filter(col("source") === "src0"),
            col("text"), n = 3, minCount = 2), n = 3)
        .orderBy(col("doc_id"))
    }),
    // Gopher repetition filters (r14, Rae et al. 2021 §A1.1): per-doc
    // top-n-gram fraction at n ∈ {2,3,4} — one explode of all orders,
    // one map-side-combined (doc,n,gram) count, one (doc,n) max; exact
    // integer permille.
    "q_rep_topgram" -> ((s, d) =>
      TextAnalysis.topNgramFraction(tp(s, d, "documents"), col("doc_id"),
          col("text"), orders = Seq(2, 3, 4))
        .orderBy(col("doc_id"), col("n"))),
    // ... and duplicated-5-gram POSITION coverage (overlaps counted
    // once — the within-doc twin of ExactSubstr's covered-token rule).
    "q_rep_dupcov" -> ((s, d) =>
      TextAnalysis.dupNgramCoverage(tp(s, d, "documents"), col("doc_id"),
          col("text"), n = 5)
        .orderBy(col("doc_id"))),
    // Composed Gopher KEEP step (r15): one operator ANDing the paper's
    // thresholds — top-n-gram fraction n ∈ 2..4 (permille 200/180/160)
    // and duplicated-n-gram coverage n ∈ 5..10 (150..100) — emitting
    // kept doc ids; integer-exact so the composed filter hash-gates.
    // r16: the synthetic corpus has no within-doc duplicated 5-grams
    // (the dup family was vacuously clean), so the gate PLANTS
    // repetition — every doc_id % 7 == 0 doc is self-concatenated
    // (reproduced verbatim in the oracle). Doubling duplicates every
    // n-gram (dup coverage → ~1000‰, violating all dup orders) while
    // the top-gram fraction is unchanged (counts and token total both
    // double), so the dup family now discriminates on its own.
    "q_gopher_keep" -> ((s, d) =>
      TextAnalysis.gopherKeep(
          tp(s, d, "documents").select(col("doc_id"),
            when(col("doc_id") % 7 === 0,
              concat(col("text"), lit(" "), col("text")))
              .otherwise(col("text")).as("text")),
          col("doc_id"), col("text"), GopherTop, GopherDup)
        .orderBy(col("doc_id"))),
    // Corpus-relative quality cut: keep the top 20% by integer score via a
    // histogram-resolved threshold — no global sort, ties kept
    // (Curation.keepTopQuantile).
    "q_quality_topfrac" -> ((s, d) =>
      Curation.keepTopQuantile(
          TextAnalysis.withQuality(tp(s, d, "documents"), col("text")),
          col("quality_score"), 0.2)
        .select(col("doc_id"), col("quality_score"))
        .orderBy(col("doc_id"))),
    // Deterministic hash-range train/val/test split: membership is a pure
    // function of (key, salt) — per-row, zero shuffle (Curation.splitAssign).
    "q_split" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          Curation.splitAssign(col("doc_id"), "graft7",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
        .orderBy(col("doc_id"))),
    // Concat-and-chunk sequence packing: per-shard (lang) token stream
    // chunked into 512-token training sequences; each doc's interval and
    // sequence span (Curation.packSequences — one shuffle by shard).
    "q_pack" -> ((s, d) =>
      Curation.packSequences(
          tp(s, d, "documents").select(col("doc_id"), col("lang"),
            TextAnalysis.bpeishTokenCount(col("text")).cast("long")
              .as("n_tok")),
          col("lang"), col("doc_id"), col("n_tok"), cap = 512L)
        .select(col("doc_id"), col("lang"), col("n_tok"), col("tok_start"),
          col("tok_end"), col("seq_first"), col("seq_last"), col("n_seqs"))
        .orderBy(col("doc_id"))),
    // BPE model-token counts (r13): tokenize with the self-contained BPE
    // under the fixture merges (Bpe.SeedMerges — deterministic constants
    // embedded on both engines); exact integers, hash-gated. Production
    // trains with Bpe.trainMerges on the corpus itself (spec/property
    // pinned ≡ the in-memory trainer).
    "q_bpe_tokens" -> ((s, d) =>
      tp(s, d, "documents").select(col("doc_id"),
          Bpe.tokenCount(col("text"), Bpe.SeedMerges).cast("long")
            .as("n_bpe"))
        .orderBy(col("doc_id"))),
    // CORPUS-trained BPE (r14): merges learned by Bpe.trainMerges on the
    // documents table itself (the production path), tokenization under
    // the LEARNED table. The oracle embeds the same learned literals —
    // oracleSql is a def rendered after the queries run, and training is
    // integer-deterministic in the data, so both engines replay one
    // merge table (closes the r13 gap: trainMerges was property-pinned
    // but never hash-gated end to end).
    "q_bpe_tokens_trained" -> ((s, d) => {
      val m = Bpe.trainedFor(tp(s, d, "documents"), col("text"), d)
      tp(s, d, "documents").select(col("doc_id"),
          Bpe.tokenCount(col("text"), m).cast("long").as("n_bpe_t"))
        .orderBy(col("doc_id"))
    }),
    // Sequence packing on MODEL tokens (r13): the q_pack shape with BPE
    // counts instead of the bpe-ish regex — budgets are now real
    // tokenizer units end to end.
    "q_pack_bpe" -> ((s, d) =>
      Curation.packSequences(
          tp(s, d, "documents").select(col("doc_id"), col("lang"),
            Bpe.tokenCount(col("text"), Bpe.SeedMerges).cast("long")
              .as("n_tok")),
          col("lang"), col("doc_id"), col("n_tok"), cap = 256L)
        .select(col("doc_id"), col("lang"), col("n_tok"), col("tok_start"),
          col("tok_end"), col("seq_first"), col("seq_last"), col("n_seqs"))
        .orderBy(col("doc_id"))),
    // Segment manifest of the packing: one row per (doc, sequence) pair
    // with the doc's offset and length inside that sequence — what a
    // training-data loader consumes (Curation.packSegments).
    "q_pack_segments" -> ((s, d) =>
      Curation.packSegments(
          tp(s, d, "documents").select(col("doc_id"), col("lang"),
            TextAnalysis.bpeishTokenCount(col("text")).cast("long")
              .as("n_tok")),
          col("lang"), col("doc_id"), col("n_tok"), cap = 512L)
        .select(col("doc_id"), col("lang"), col("seq"), col("seg_start"),
          col("seg_len"))
        .orderBy(col("doc_id"), col("seq"))),
    // Intra-doc repetition signal (Gopher duplicate-n-gram fraction):
    // per-row arithmetic, zero shuffle (TextAnalysis.dupNgramPermille).
    "q_repetition" -> ((s, d) =>
      tp(s, d, "documents").select(col("doc_id"),
          TextAnalysis.dupNgramPermille(col("text"), 2).as("dup2_permille"),
          TextAnalysis.dupNgramPermille(col("text"), 3).as("dup3_permille"))
        .orderBy(col("doc_id"))),
    // Corpus-level boilerplate score: per-mille of each doc's 2-gram
    // occurrences that appear in >= 8% of all documents — relative
    // threshold computed in-plan (Curation.boilerplateScore).
    "q_boilerplate" -> ((s, d) =>
      Curation.boilerplateScore(tp(s, d, "documents"), col("doc_id"),
          col("text"), n = 2, minDfPermille = 80)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))),
    // Eval-set decontamination: drop every training doc sharing any word
    // 5-gram with the eval subset (doc_id % 17 == 0) — broadcast-probe
    // semi-join on exact gram strings (Curation.decontaminate).
    "q_decontam" -> ((s, d) => {
      val docs = tp(s, d, "documents")
      Curation.decontaminate(
          docs.filter(col("doc_id") % 17 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 17 === 0), col("text"), n = 5)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    // End-to-end fuzzy dedup: MinHash pairs → drop-list → anti-join keep set.
    "q_dedup_fuzzy" -> ((s, d) => {
      val docs = tp(s, d, "documents")
      val drops = Dedup.dropIdsFromPairs(Dedup.minhashPairs(docs,
        col("doc_id"), col("text"), n = 3, numHashes = 32, bands = 16,
        thresholdPermille = 500))
      docs.join(drops, col("doc_id") === col("drop_id"), "left_anti")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    // Incremental fuzzy dedup: the corpus ingested in three batches against
    // a graft-format signature index (Dedup.ingestDedup) — the final kept
    // set must equal ONE batch-mode dedup of everything, so it shares
    // q_dedup_fuzzy's oracle SQL.
    "q_dedup_incremental" -> ((s, d) =>
      read.SnapshotReader.read(s, Fixtures.dedupIndexDir(s, d))
        .filter(col("kept")).select(col("doc_id")).orderBy(col("doc_id"))),
    // Transitive dedup clusters: connected components over verified MinHash
    // pairs via distributed min-label propagation (pointer-jumped; see
    // Dedup.clusters) — one smallest-id representative per component.
    // Best-of-cluster dedup: per duplicate cluster keep the member with
    // the highest quality score (ties by smallest id) plus all unclustered
    // docs — the quality-ranked representative policy
    // (Dedup.keepBestPerCluster over the same MinHash pair set).
    // ExactSubstr duplicated-span removal (Lee et al. 2022): every 8-token
    // window occurring ≥2 times in the corpus is cut from every doc that
    // contains it; hash-then-verify (8-byte candidate shuffle, exact-string
    // verdicts) instead of the paper's in-memory suffix array.
    "q_substr_dedup" -> ((s, d) =>
      Dedup.substrDedup(tp(s, d, "documents"), col("doc_id"), col("text"),
          w = 8)
        .orderBy(col("doc_id"))),
    // RefinedWeb-style duplicated-segment removal (r14): drop non-first
    // occurrences of 5-token segments that repeat corpus-wide; tail and
    // unique segments pass through. Two shuffles (segment-keyed count+join,
    // doc-keyed regroup), never all-pairs.
    "q_seg_dedup" -> ((s, d) =>
      Dedup.segmentDedup(tp(s, d, "documents"), col("doc_id"), col("text"),
          width = 5, minDupCount = 2, keepFirst = true)
        .orderBy(col("doc_id"))),
    // Delimiter-mode segment dedup (r15): the paper's LITERAL line dedup
    // — the synthetic corpus carries no newlines, so the gate first
    // materializes a deterministic line structure (4-token lines joined
    // by \n, reproduced verbatim in the oracle), then drops duplicated
    // EXACT lines corpus-wide through the same count/keep/reassemble
    // plan with delim = "\n" (no tokens, no tail, segments re-joined by
    // the delimiter).
    "q_seg_dedup_lines" -> ((s, d) => {
      val t = TextAnalysis.tokens(col("text"))
      val nl = ((size(t) + lit(3)) / lit(4)).cast("int")
      // explicit zero-doc branch (segSplit's own convention): without it
      // sequence(0, -1) infers step -1 and a null/empty-token doc would
      // throw or null-propagate instead of yielding no lines
      val docsNl = tp(s, d, "documents").select(col("doc_id"),
        array_join(when(nl > 0,
            transform(sequence(lit(0), nl - 1, lit(1)),
              i => array_join(slice(t, i * 4 + 1, lit(4)), " ")))
          .otherwise(array().cast("array<string>")), "\n")
          .as("text_nl"))
      Dedup.segmentDedup(docsNl, col("doc_id"), col("text_nl"),
          minDupCount = 2, keepFirst = true, delim = Some("\n"))
        .orderBy(col("doc_id"))
    }),
    // ExactSubstr span manifest (r12): one row per MAXIMAL duplicated
    // span — the cut list (Lee et al. publish byte ranges, not rewritten
    // text); overlapping/adjacent windows merged by a lag+running-sum
    // pass over the duplicated positions.
    "q_substr_spans" -> ((s, d) =>
      Dedup.substrSpans(tp(s, d, "documents"), col("doc_id"), col("text"),
          w = 8)
        .orderBy(col("doc_id"), col("span_start"))),
    // Incremental ExactSubstr (r12): three arrival batches (doc_id % 3)
    // against the maintained window-count index — each doc cleaned vs
    // everything seen up to and INCLUDING its own batch (the oracle
    // replicates arrival order with cumulative per-batch window counts).
    "q_substr_dedup_incremental" -> ((s, d) =>
      read.SnapshotReader.read(s, s"${Fixtures.substrIndexDir(s, d)}/docs")
        .select(col("doc_id"), col("kept_text"), col("n_tokens"),
          col("removed_tokens"))
        .orderBy(col("doc_id"))),
    // Incremental segment dedup (r14): three doc_id%3 arrival batches
    // against the maintained segment-count index — each occurrence
    // judged vs the cumulative count up to and INCLUDING its own batch,
    // arrival-first kept (the oracle replays both with windows over the
    // batch ordering).
    "q_seg_dedup_incremental" -> ((s, d) =>
      read.SnapshotReader.read(s, s"${Fixtures.segIndexDir(s, d)}/docs")
        .select(col("doc_id"), col("text_dedup"), col("segs_total"),
          col("segs_removed"))
        .orderBy(col("doc_id"))),
    // Segment-index TAKEDOWN (r17): two arrival batches, then a slice
    // deleted with its as-ingested text — the surviving index counts
    // must equal a full recount over the non-deleted ingested docs
    // (exact subtraction; fully-zeroed segments leave no row).
    "q_seg_delete_counts" -> ((s, d) =>
      read.SnapshotReader.read(s,
          s"${Fixtures.segDeleteIdxDir(s, d)}/segindex")
        .select(col("seg"), col("cnt"))
        .orderBy(col("seg"))),
    "q_dedup_best" -> ((s, d) => {
      val docs = tp(s, d, "documents")
      Dedup.keepBestPerCluster(
          TextAnalysis.withQuality(docs, col("text")), col("doc_id"),
          Dedup.minhashPairs(docs, col("doc_id"), col("text"), n = 3,
            numHashes = 32, bands = 16, thresholdPermille = 500),
          col("id_a"), col("id_b"), col("quality_score"))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    "q_dedup_clusters" -> ((s, d) =>
      Dedup.clusters(
          Dedup.minhashPairs(tp(s, d, "documents"), col("doc_id"),
            col("text"), n = 3, numHashes = 32, bands = 16,
            thresholdPermille = 500),
          col("id_a"), col("id_b"))
        .orderBy(col("doc_id"))),
    // End-to-end transitive dedup: keep every cluster representative plus
    // all unpaired docs (contrast q_dedup_fuzzy's pairwise drop-list,
    // which over-deletes on chains).
    "q_dedup_transitive" -> ((s, d) => {
      val docs = tp(s, d, "documents")
      val drops = Dedup.dropIdsFromClusters(Dedup.clusters(
        Dedup.minhashPairs(docs, col("doc_id"), col("text"),
          n = 3, numHashes = 32, bands = 16, thresholdPermille = 500),
        col("id_a"), col("id_b")))
      docs.join(drops, col("doc_id") === col("drop_id"), "left_anti")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    // Event-join queries compare INTEGER MICROSECONDS on both sides: the
    // raw ts carries sub-µs precision that DuckDB's TIMESTAMP truncates
    // away, so nanosecond comparisons could disagree at window/as-of
    // boundaries; `ts div 1000` equals DuckDB's epoch_us exactly (verified).
    // Range (band) join: clicks of the same user in the 10 minutes before
    // each error event (bucketized equi-join — see operators.RangeJoin).
    "q_range_join" -> ((s, d) => {
      val ev = tp(s, d, "events").withColumn("ts_us", expr("ts div 1000"))
      RangeJoin.countPreceding(
          ev.filter(col("event_type") === "error"),
          col("event_id"), col("user_id"), col("ts_us"),
          ev.filter(col("event_type") === "click"),
          col("user_id"), col("ts_us"),
          window = 600L * 1000000L)
        .select(col("id").as("event_id"), col("k").as("user_id"),
          col("n_matches").as("n_clicks"))
        .orderBy(col("event_id"))
    }),
    // Following-band range join: clicks of the same user in the 10 minutes
    // AFTER each error event.
    "q_range_join_fwd" -> ((s, d) => {
      val ev = tp(s, d, "events").withColumn("ts_us", expr("ts div 1000"))
      RangeJoin.countFollowing(
          ev.filter(col("event_type") === "error"),
          col("event_id"), col("user_id"), col("ts_us"),
          ev.filter(col("event_type") === "click"),
          col("user_id"), col("ts_us"),
          window = 600L * 1000000L)
        .select(col("id").as("event_id"), col("k").as("user_id"),
          col("n_matches").as("n_clicks"))
        .orderBy(col("event_id"))
    }),
    // As-of join: each click annotated with the user's latest view at-or-
    // before it (merge-sort formulation — see operators.AsOfJoin).
    "q_asof_join" -> ((s, d) => {
      val ev = tp(s, d, "events").withColumn("ts_us", expr("ts div 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("view_event_id"))
      AsOfJoin.asOf(clicks, col("user_id"), col("ts_us"),
          views, col("user_id"), col("ts_us"),
          Seq("view_event_id" -> col("view_event_id"),
            "view_sec" -> expr("ts_us div 1000000")))
        .select(col("event_id"), col("user_id"),
          coalesce(col("view_event_id"), lit(-1L)).as("view_event_id"),
          coalesce(col("view_sec"), lit(-1L)).as("view_sec"))
        .orderBy(col("event_id"))
    }),
    // Forward as-of: the user's EARLIEST view at-or-after each click (same
    // merge-sort plan, time axis reversed).
    "q_asof_join_fwd" -> ((s, d) => {
      val ev = tp(s, d, "events").withColumn("ts_us", expr("ts div 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("view_event_id"))
      AsOfJoin.asOf(clicks, col("user_id"), col("ts_us"),
          views, col("user_id"), col("ts_us"),
          Seq("view_event_id" -> col("view_event_id")), forward = true)
        .select(col("event_id"), col("user_id"),
          coalesce(col("view_event_id"), lit(-1L)).as("view_event_id"))
        .orderBy(col("event_id"))
    }),
    // Heavy hitters: exact global top-20 tokens — partial-aggregated count
    // per token, TakeOrderedAndProject top-k (no global sort).
    "q_top_tokens" -> ((s, d) =>
      tp(s, d, "documents")
        .select(explode_outer(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)),
    // PII redaction: emails/IPs/ids/phones → category tokens, with audit
    // counts. The synthetic docs carry no PII, so each row derives a
    // deterministic PII suffix from doc_id in-plan (mirrored verbatim in
    // the oracle SQL) — the query cross-checks the regex SEMANTICS of the
    // redaction chain between engines, per-row/zero-shuffle.
    "q_pii_redact" -> ((s, d) => {
      val id = col("doc_id")
      def cs(c: Column): Column = c.cast("string")
      val pii = concat_ws(" ", col("text"),
        concat(lit("user"), cs(id), lit("@mail-"), cs(id % 7),
          lit(".example.com")),
        concat(lit("10."), cs(id % 250), lit("."), cs(id % 100), lit("."),
          cs(id % 200 + 1)),
        concat(cs(id % 900 + 100), lit("-"), cs(id % 90 + 10), lit("-"),
          cs(id % 9000 + 1000)),
        concat(cs(id % 800 + 200), lit(" "), cs(id % 700 + 300), lit(" "),
          cs(id % 9000 + 1000)))
      TextAnalysis.piiCounts(
          tp(s, d, "documents").select(id, pii.as("pii_text")),
          col("pii_text"))
        .select(id, TextAnalysis.redactPii(col("pii_text")).as("red_text"),
          col("n_email"), col("n_ip"), col("n_id"), col("n_phone"))
        .orderBy(id)
    }),
    // Per-doc salient terms: top-5 tokens by integer tf·idf salience
    // (Curation.salientTerms — one text pass, df over the reduced tf set,
    // token-keyed join, one top-k window by doc).
    "q_salient_terms" -> ((s, d) =>
      Curation.salientTerms(tp(s, d, "documents"), col("doc_id"),
          col("text"), k = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("rnk"))),
    // Stratified hash sampling: per-language keep rates as a pure per-row
    // predicate (Curation.sampleStratified — zero shuffle, fuses into the
    // scan; same md5-prefix space as q_split).
    "q_sample_strat" -> ((s, d) =>
      tp(s, d, "documents")
        .filter(Curation.sampleStratified(col("lang"), col("doc_id"), "mix7",
          Seq("en" -> 0.5, "de" -> 0.8, "es" -> 0.25, "fr" -> 0.1,
            "zh" -> 0.9)))
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),
    // Deterministic fixed-size sample: the 20 lowest-hash docs per language
    // (Curation.reservoir — one shuffle by stratum, run-and-engine-stable).
    "q_sample_topk" -> ((s, d) =>
      Curation.reservoir(tp(s, d, "documents"), col("lang"), col("doc_id"),
          "mix7", k = 20)
        .select(col("doc_id"), col("lang"), col("sample_rank"))
        .orderBy(col("lang"), col("sample_rank"))),
    // Token-budget corpus mixture: per-language token budgets filled in
    // hash order (Curation.mixByBudget — one shuffle by domain; zh has no
    // budget and drops entirely).
    "q_mix_budget" -> ((s, d) =>
      Curation.mixByBudget(
          tp(s, d, "documents").select(col("doc_id"), col("lang"),
            TextAnalysis.bpeishTokenCount(col("text")).cast("long")
              .as("n_tok")),
          col("lang"), col("doc_id"), "mix7", col("n_tok"),
          Seq("en" -> 5000L, "de" -> 2000L, "es" -> 1500L, "fr" -> 800L))
        .select(col("doc_id"), col("lang"), col("n_tok"), col("tok_before"))
        .orderBy(col("doc_id"))),
    // Domain token budgets in MODEL tokens (r13): the same deterministic
    // hash-ordered mixture with per-doc BPE counts — training mixtures
    // budgeted in tokenizer units end to end (budgets scaled to the
    // ~2.5x-smaller BPE counts).
    "q_mix_budget_bpe" -> ((s, d) =>
      Curation.mixByBudget(
          tp(s, d, "documents").select(col("doc_id"), col("lang"),
            Bpe.tokenCount(col("text"), Bpe.SeedMerges).cast("long")
              .as("n_tok")),
          col("lang"), col("doc_id"), "mix7", col("n_tok"),
          Seq("en" -> 2500L, "de" -> 1000L, "es" -> 700L, "fr" -> 400L))
        .select(col("doc_id"), col("lang"), col("n_tok"), col("tok_before"))
        .orderBy(col("doc_id"))),
  )

  // ---- DuckDB oracles ----

  /** Revenue per row in exact 1e-4 integer units (ties impossible: true
    * values carry ≤4 decimals, so the double sits ~1e-9 off an integer). */
  private val RevDm =
    "CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)"

  /** DuckDB sum(BIGINT) is HUGEINT (→ float64 via pandas) — always re-cast
    * integer sums to BIGINT so they hash like Spark's LongType. */
  private def sumB(e: String): String = s"CAST(sum($e) AS BIGINT)"

  /** Portable 60-bit SimHash in SQL, mirroring [[Dedup.simhash60]] exactly:
    * md5 hex digits → per-bit ±1 votes → positive-sum bits. */
  private val SimhashSql: String = {
    val bitSums = (0 until 60).map { b =>
      s"sum(CASE WHEN (((strpos('0123456789abcdef', substr(m, ${b / 4 + 1}, 1)) - 1) >> ${b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(", ")
    val simBits = (0 until 60).map { b =>
      s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    "WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok FROM documents), " +
      "h AS (SELECT doc_id, md5(tok) AS m FROM tok), " +
      s"bs AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id), " +
      s"sim AS (SELECT doc_id, ($simBits) AS simhash FROM bs)"
  }

  /** Snapshot state after C3 updates, as a CASE over raw orders. */
  private val PriceAfterC3 =
    "CASE WHEN o_orderkey % 10 = 3 AND o_orderkey % 7 <> 0 THEN o_totalprice + 100000 ELSE o_totalprice END AS o_totalprice"
  private val OrdersColsAfterC3 = OrdersCols
    .map(c => if (c == "o_totalprice") PriceAfterC3 else c).mkString(", ")

  /** DuckDB lambda for whitespace tokens of lower(text). */
  private val Toks =
    "string_split_regex(trim(lower(text)), '\\s+')"

  /** Integer doc features of the trained quality models — the Spark side
    * of the (n_chars, n_tokens, n_distinct_tokens) triple the
    * `q_quality_model*` oracles recompute verbatim in DuckDB. */
  private val QualityModelFeats: Seq[Column] = Seq(
    col("n_chars"),
    size(TextAnalysis.tokens(col("text"))).cast("long"),
    size(array_distinct(TextAnalysis.tokens(col("text")))).cast("long"))

  /** Trained-model oracle replay: oracleSql is a def rendered AFTER the
    * queries run in Verify, so the LEARNED quantized weights of the run
    * embed here as BIGINT literals — the score is a pure integer dot
    * product over the same features, bit-identical in any engine. The
    * zero fallback only fires if the query never ran. */
  /** The Gopher keep gate's threshold tables — the paper's permille
    * defaults, passed to BOTH engines so Spark and the oracle can't
    * drift ([[graft.pipeline.TextAnalysis.gopherKeep]] carries the same
    * values as its parameter defaults). */
  private val GopherTop = Seq(2 -> 200, 3 -> 180, 4 -> 160)
  private val GopherDup =
    Seq(5 -> 150, 6 -> 140, 7 -> 130, 8 -> 120, 9 -> 110, 10 -> 100)

  /** Composed Gopher keep oracle: the q_rep_topgram / q_rep_dupcov
    * constructions generalized to every gated order, reduced to violator
    * sets, ANDed by exclusion. The r16 self-concatenation plant
    * (doc_id % 7 == 0 — makes the dup family non-vacuous on the
    * synthetic corpus) is reproduced verbatim in the planted CTE. */
  private lazy val GopherKeepOracle: String = {
    def caseOf(ts: Seq[(Int, Int)], n: String) =
      s"CASE $n " +
        ts.map { case (k, v) => s"WHEN $k THEN $v" }.mkString(" ") + " END"
    val exT = GopherTop.map(_._1).map(n =>
      s"SELECT doc_id, $n AS n, unnest(CASE WHEN len(t) >= $n THEN " +
        s"list_transform(range(0, len(t)-$n+1), i -> array_to_string(t[i+1:i+$n], ' ')) " +
        "ELSE [] END) AS gram FROM toks").mkString(" UNION ALL ")
    val winsD = GopherDup.map(_._1).map(n =>
      s"SELECT doc_id, $n AS n, unnest(range(0, greatest(len(t)-$n+1, 0))) AS pos, " +
        s"unnest(list_transform(range(0, greatest(len(t)-$n+1, 0)), i -> array_to_string(t[i+1:i+$n], ' '))) AS win FROM toks")
      .mkString(" UNION ALL ")
    "WITH planted AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 " +
      "THEN text || ' ' || text ELSE text END AS text FROM documents), " +
      s"toks AS (SELECT doc_id, $Toks AS t FROM planted), " +
      s"ex AS ($exT), " +
      "c AS (SELECT doc_id, n, gram, count(*) AS c FROM ex GROUP BY doc_id, n, gram), " +
      "m AS (SELECT doc_id, n, max(c) AS top_cnt FROM c GROUP BY doc_id, n), " +
      "nt AS (SELECT doc_id, len(t) AS nt FROM toks), " +
      "vt AS (SELECT DISTINCT m.doc_id AS doc_id FROM m JOIN nt ON m.doc_id = nt.doc_id " +
      s"WHERE floor(m.top_cnt * m.n * 1000 / greatest(nt.nt, 1)) > ${caseOf(GopherTop, "m.n")}), " +
      s"wins AS ($winsD), " +
      "dup AS (SELECT doc_id, n, win FROM wins GROUP BY doc_id, n, win HAVING count(*) >= 2), " +
      "mark AS (SELECT DISTINCT w.doc_id AS doc_id, w.n AS n, w.pos AS pos FROM wins w " +
      "JOIN dup d ON w.doc_id = d.doc_id AND w.n = d.n AND w.win = d.win), " +
      "cov AS (SELECT doc_id, n, count(DISTINCT j) AS covered FROM " +
      "(SELECT doc_id, n, pos + unnest(range(0, n)) AS j FROM mark) GROUP BY doc_id, n), " +
      "vd AS (SELECT DISTINCT c2.doc_id AS doc_id FROM cov c2 JOIN nt ON c2.doc_id = nt.doc_id " +
      s"WHERE floor(c2.covered * 1000 / greatest(nt.nt, 1)) > ${caseOf(GopherDup, "c2.n")}) " +
      "SELECT doc_id FROM documents WHERE doc_id NOT IN " +
      "(SELECT doc_id FROM vt UNION SELECT doc_id FROM vd) ORDER BY doc_id"
  }

  private def qualityScoresCte(kind: String, where: String = ""): String = {
    val q = Models.lastTrained(kind).map(_.qweights)
      .getOrElse(Seq(0L, 0L, 0L, 0L))
    s"SELECT doc_id, CAST(${q(0)} + ${q(1)}*n_chars + ${q(2)}*len(t) + " +
      s"${q(3)}*len(list_distinct(t)) AS BIGINT) AS score_q " +
      s"FROM (SELECT doc_id, n_chars, $Toks AS t FROM documents$where)"
  }

  private def qualityModelOracle(kind: String): String =
    qualityScoresCte(kind) + " ORDER BY doc_id"

  /** Recursive-CTE BPE tokenizer shared by the q_bpe_* / q_pack_bpe
    * oracles: replays [[graft.pipeline.Bpe]]'s single-step
    * leftmost-lowest-rank merge application per DISTINCT word against the
    * embedded [[graft.pipeline.Bpe.SeedMerges]] literals (single-step ≡
    * the batch training application — pinned in BpeProps). Yields
    * `bpe_final(w, n)`: each word's exact token count. chr(31) separates
    * pair halves so ("ab","c") and ("a","bc") stay distinct. */
  private lazy val BpeCte: String = bpeCte(Bpe.SeedMerges)

  /** [[BpeCte]] parameterized by the merge table — the trained-merge
    * oracle (`q_bpe_tokens_trained`) embeds learned literals here. */
  private def bpeCte(merges: Seq[(String, String)]): String = {
    def esc(x: String) = x.replace("'", "''")
    val mv = merges.zipWithIndex
      .map { case ((l, r), i) => s"($i, '${esc(l)}', '${esc(r)}')" }
      .mkString(", ")
    s"merges(rank, l, r) AS (VALUES $mv), " +
      s"bpe_words AS (SELECT DISTINCT w FROM (SELECT unnest($Toks) AS w FROM documents)), " +
      "bpe_step(w, syms) AS (" +
      "SELECT w, list_transform(range(1, len(w) + 1), i -> substr(w, CAST(i AS INT), 1)) FROM bpe_words " +
      "UNION ALL " +
      "SELECT s.w, s.syms[1:list_position(s.pairs, m.l || chr(31) || m.r) - 1] || [m.l || m.r] || s.syms[list_position(s.pairs, m.l || chr(31) || m.r) + 2:] " +
      "FROM (SELECT w, syms, list_transform(range(1, len(syms)), i -> syms[i] || chr(31) || syms[i + 1]) AS pairs FROM bpe_step) s " +
      "JOIN merges m ON list_contains(s.pairs, m.l || chr(31) || m.r) " +
      "AND NOT EXISTS (SELECT 1 FROM merges m2 WHERE m2.rank < m.rank AND list_contains(s.pairs, m2.l || chr(31) || m2.r))), " +
      "bpe_final AS (SELECT w, len(syms) AS n FROM " +
      "(SELECT w, syms, list_transform(range(1, len(syms)), i -> syms[i] || chr(31) || syms[i + 1]) AS pairs FROM bpe_step) s " +
      "WHERE NOT EXISTS (SELECT 1 FROM merges m WHERE list_contains(s.pairs, m.l || chr(31) || m.r)))"
  }

  // Shared quality-metric fragments (must stay semantically identical to
  // TextAnalysis.withQuality):
  private val PunctSql =
    "floor((length(text) - length(regexp_replace(text, '[.,;:!?''\"()]', '', 'g'))) * 1000 / greatest(length(text), 1))"
  private val StopSql =
    s"floor(len(list_filter($Toks, t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) * 1000 / greatest(len($Toks), 1))"
  private val QualitySql =
    s"(CASE WHEN len($Toks) BETWEEN 5 AND 10000 THEN 400 ELSE 0 END + " +
      s"CASE WHEN $StopSql > 20 THEN 300 ELSE 0 END + " +
      s"CASE WHEN $PunctSql < 100 THEN 300 ELSE 0 END)"

  /** Distinct word-3-gram shingle sets per doc (mirrors Dedup.shingleSet
    * with n=3), as a reusable CTE for brute-force Jaccard oracles. */
  private val ShinglesCte =
    "WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(t) - 3, 0) + 1), " +
      "i -> array_to_string(t[i+1:i+3], ' '))) AS s FROM toks)"
  private val JaccPermilleSql =
    "floor(len(list_intersect(a.s, b.s)) * 1000 / greatest(len(list_distinct(list_cat(a.s, b.s))), 1))"

  /** Pairwise fuzzy-dedup keep set (drop the LATER member of every
    * Jaccard≥0.5 pair) — shared by q_dedup_fuzzy (batch mode) and
    * q_dedup_incremental (three-batch ingest through the signature index),
    * which must converge to the same answer. */
  private val FuzzyKeepSql =
    s"$ShinglesCte " +
      "SELECT doc_id FROM documents WHERE doc_id NOT IN (" +
      s"SELECT b.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id WHERE $JaccPermilleSql >= 500) " +
      "ORDER BY doc_id"

  /** Seeded 32×8 coordinate choices for the high-recall embed blocking —
    * ONE constant shared by the Spark query and the generated oracle SQL. */
  private val EmbedHiCoords: Seq[Seq[Int]] =
    Dedup.signBandCoords(bands = 32, rowsPerBand = 8, dim = 64, seed = 7L)

  /** Deterministic sign-LSH blocking + quantized-integer cosine, mirrored
    * 1:1 from Dedup.embeddingNearDupPairs for an arbitrary per-band
    * coordinate choice (all math integer — floor(x·1e6) quantization,
    * integer dot/norms, threshold 2/5 cross-multiplied in 128-bit — so the
    * bucket words and the verdicts are bit-identical across engines).
    * With `multiProbe`, each side also carries its per-band PROBE bucket
    * (home bucket with the LOWEST-|q| coordinate's sign bit flipped —
    * first index on ties, exactly Spark's array_position(absv,
    * array_min)); co-bucketed = home=home ∨ home=probe on either side
    * (probe×probe excluded, like candidatePairsHomeProbe). */
  private def embedNearDupOracle(coords: Seq[Seq[Int]],
      multiProbe: Boolean = false): String = {
    val buckets = coords.zipWithIndex.map { case (cs, b) =>
      val bits = cs.zipWithIndex.map { case (c, j) =>
        s"(CASE WHEN qv[${c + 1}] >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"($bits) AS b$b"
    }.mkString(", ")
    val probes = coords.zipWithIndex.map { case (cs, b) =>
      val m = cs.map(c => s"abs(qv[${c + 1}])").mkString("LEAST(", ", ", ")")
      val chain = cs.zipWithIndex.map { case (c, j) =>
        s"WHEN abs(qv[${c + 1}]) = $m THEN xor(b$b, ${1L << j})"
      }.mkString(" ")
      s"(CASE $chain ELSE b$b END) AS pb$b"
    }.mkString(", ")
    val coBucketed =
      if (multiProbe) coords.indices.map(b =>
        s"(x.b$b = y.b$b OR x.b$b = y.pb$b OR x.pb$b = y.b$b)")
        .mkString(" OR ")
      else coords.indices.map(b => s"x.b$b = y.b$b").mkString(" OR ")
    val nSelect =
      if (multiProbe) s"n0 AS (SELECT vec_id, qv, " +
        s"list_sum(list_transform(qv, v -> v * v)) AS nrm, $buckets " +
        s"FROM q), n AS (SELECT *, $probes FROM n0)"
      else s"n AS (SELECT vec_id, qv, " +
        s"list_sum(list_transform(qv, v -> v * v)) AS nrm, $buckets FROM q)"
    "WITH q AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), v -> CAST(floor(v * 1000000) AS BIGINT)) AS qv FROM embeddings), " +
      s"$nSelect, " +
      "d AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b, " +
      "list_sum(list_transform(list_zip(x.qv, y.qv), p -> p[1] * p[2])) AS dot, " +
      s"x.nrm AS na, y.nrm AS nb FROM n x JOIN n y ON x.vec_id < y.vec_id AND ($coBucketed)) " +
      "SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot_q FROM d " +
      "WHERE na > 0 AND nb > 0 AND dot >= 0 AND 25 * dot * dot >= 4 * na * nb " +
      "ORDER BY id_a, id_b"
  }

  /** Seeded 32×64 Rademacher anchors for q_sem_dedup — ONE constant shared
    * by the Spark query and the generated oracle (equal norms make argmax
    * cosine = argmax integer dot; see [[Dedup.rademacherAnchors]]). */
  private val SemDedupAnchors: Seq[Seq[Long]] =
    Dedup.rademacherAnchors(k = 32, dim = 64, seed = 11L)

  /** SemDeDup mirrored 1:1 from [[Dedup.semDedupKeep]]: quantize, assign
    * by first-max integer anchor dot, drop any member with a smaller-id
    * near-duplicate in its cluster — all arithmetic integer/128-bit, so
    * cluster ids and verdicts are bit-identical across engines. */
  private def semDedupOracle(anchors: Seq[Seq[Long]], num: Int,
      den: Int): String = {
    val anchorsLit =
      anchors.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    "WITH q0 AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), v -> CAST(floor(v * 1000000) AS BIGINT)) AS qv FROM embeddings), " +
      s"q1 AS (SELECT vec_id, qv, list_transform($anchorsLit, w -> list_sum(list_transform(list_zip(qv, w), p -> p[1] * p[2]))) AS dots FROM q0), " +
      "n AS (SELECT vec_id, qv, list_sum(list_transform(qv, v -> v * v)) AS nrm, " +
      "CAST(list_position(dots, list_aggregate(dots, 'max')) - 1 AS INT) AS cl FROM q1), " +
      "d AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b, " +
      "list_sum(list_transform(list_zip(x.qv, y.qv), p -> p[1] * p[2])) AS dot, " +
      "x.nrm AS na, y.nrm AS nb FROM n x JOIN n y ON x.cl = y.cl AND x.vec_id < y.vec_id), " +
      s"drops AS (SELECT DISTINCT id_b FROM d WHERE na > 0 AND nb > 0 AND dot >= 0 AND ${den.toLong * den} * dot * dot >= ${num.toLong * num} * na * nb) " +
      "SELECT vec_id AS id, cl FROM n WHERE vec_id NOT IN (SELECT id_b FROM drops) ORDER BY vec_id"
  }

  def oracleSql: Map[String, String] = Map(
    "q_sem_dedup" -> semDedupOracle(SemDedupAnchors, num = 2, den = 5),
    "q_sem_dedup_incremental" ->
      semDedupOracle(SemDedupAnchors, num = 2, den = 5),
    "q_delete_view" ->
      s"SELECT $OrdersColsSql FROM orders WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey",
    "q_delete_view_c4" ->
      s"SELECT $OrdersColsAfterC3 FROM orders WHERE o_orderkey % 11 = 5 AND o_orderkey % 7 <> 0 ORDER BY o_orderkey",
    "q_delete_view_mor" ->
      s"SELECT $OrdersColsSql FROM orders WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey",
    "q_delete_view_mor_c4" ->
      s"SELECT $OrdersColsAfterC3 FROM orders WHERE o_orderkey % 11 = 5 AND o_orderkey % 7 <> 0 ORDER BY o_orderkey",
    "q_snapshot_cow" ->
      s"SELECT $OrdersColsAfterC3 FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 5 ORDER BY o_orderkey",
    "q_snapshot_format" ->
      s"SELECT $OrdersColsAfterC3 FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 5 ORDER BY o_orderkey",
    "q_snapshot_format_mor" ->
      s"SELECT $OrdersColsAfterC3 FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 5 ORDER BY o_orderkey",
    // RO = the C3x compaction state: C3's price updates applied, C4's
    // delta-only delete NOT visible.
    "q_read_optimized" ->
      s"SELECT $OrdersColsAfterC3 FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey",
    "q_snapshot_format_mor_part" ->
      s"SELECT $OrdersColsAfterC3 FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 5 AND o_orderstatus = 'F' ORDER BY o_orderkey",
    // no delete precedes the C2 update in this fixture (every %10==3 key is
    // hit); the C3 format-surface delete then removes all %7==0 keys
    "q_format_roundtrip" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100000 ELSE o_totalprice END AS o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey"),
    "q_incremental_format" ->
      s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 100000 AS o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 10 = 3 AND o_orderkey % 7 <> 0 ORDER BY o_orderkey",
    "q_delete_view_format" ->
      s"SELECT $OrdersColsSql FROM orders WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey",
    "q_time_travel_format" ->
      s"SELECT $OrdersColsSql FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey",
    "q_sql_delete" ->
      s"SELECT $OrdersColsSql FROM orders WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey",
    "q_sql_update" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100000 ELSE o_totalprice END AS o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey"),
    "q_sql_merge" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 11 = 5 AND o_orderkey % 7 <> 0 THEN o_totalprice * 2 " +
        "WHEN o_orderkey % 11 = 5 THEN o_totalprice " +
        "WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100000 " +
        "ELSE o_totalprice END AS o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders " +
        "WHERE o_orderkey % 7 <> 0 OR o_orderkey % 11 = 5 ORDER BY o_orderkey"),
    // CTAS of %2==0, upsert-INSERT of %3==0 at +100000 (replacing %6==0),
    // DELETE of the 'F' partition (the payload() projection keeps the
    // comparison on the shared orders columns; the fixture's derived
    // o_cents/o_price_dec stats columns are exercised by q_v2_sum)
    "q_insert_into" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100000 " +
        "ELSE o_totalprice END AS o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders " +
        "WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0) " +
        "AND o_orderstatus <> 'F' ORDER BY o_orderkey"),
    "q_v2_meta_count" ->
      ("SELECT count(*) AS n FROM orders " +
        "WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0) " +
        "AND o_orderstatus <> 'F'"),
    // rows removed by the fixture's DELETE WHERE o_orderstatus = 'F':
    // every live key (%2==0 CTAS ∪ %3==0 upsert, distinct by key) in F
    "q_call_delete_view" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_deleted FROM orders " +
        "WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0) " +
        "AND o_orderstatus = 'F'"),
    // the upserted rows (%3 == 0) carry o_totalprice + 100000
    "q_v2_minmax" ->
      ("SELECT o_orderstatus, count(*) AS n, count(price) AS n_price, " +
        "min(price) AS min_price, max(price) AS max_price FROM " +
        "(SELECT o_orderstatus, CASE WHEN o_orderkey % 3 = 0 " +
        "THEN o_totalprice + 100000 ELSE o_totalprice END AS price " +
        "FROM orders WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0) " +
        "AND o_orderstatus <> 'F') " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    // exact-numeric sums only (see the query comment): BIGINT cents sum
    // cast back to BIGINT (DuckDB sums bigints as HUGEINT), decimal sum
    // compared at the shared scale-2 rendering
    "q_v2_sum" ->
      ("SELECT o_orderstatus, CAST(sum(cents) AS BIGINT) AS sum_cents, " +
        "CAST(sum(price_dec) AS VARCHAR) AS sum_price FROM " +
        "(SELECT o_orderstatus, " +
        "CAST(round(price * 100) AS BIGINT) AS cents, " +
        "CAST(CAST(round(price * 100) AS BIGINT) AS DECIMAL(16,0)) " +
        "* CAST(0.01 AS DECIMAL(3,2)) AS price_dec FROM " +
        "(SELECT o_orderstatus, CASE WHEN o_orderkey % 3 = 0 " +
        "THEN o_totalprice + 100000 ELSE o_totalprice END AS price " +
        "FROM orders WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0) " +
        "AND o_orderstatus <> 'F')) " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    // the SPJ fixture pair: orders_ins (keys %2/%3, 'F' deleted, %3 rows
    // at +100000) joined with orders_dim (keys %5, cents+7)
    "q_v2_spj" ->
      ("SELECT a.o_orderkey, a.o_cents, b.o_cents_dim FROM " +
        "(SELECT o_orderkey, CAST(round((CASE WHEN o_orderkey % 3 = 0 " +
        "THEN o_totalprice + 100000 ELSE o_totalprice END) * 100) " +
        "AS BIGINT) AS o_cents FROM orders " +
        "WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0) " +
        "AND o_orderstatus <> 'F') a JOIN " +
        "(SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) " +
        "+ 7 AS o_cents_dim FROM orders WHERE o_orderkey % 5 = 0) b " +
        "ON a.o_orderkey = b.o_orderkey ORDER BY a.o_orderkey"),
    // top-20 by cents over the MOR twin's merged rows (same CASE
    // arithmetic as the SPJ oracle's fact side), id tiebreak
    "q_v2_topn_mor" ->
      ("SELECT o_orderkey, o_cents FROM " +
        "(SELECT o_orderkey, CAST(round((CASE WHEN o_orderkey % 3 = 0 " +
        "THEN o_totalprice + 100000 ELSE o_totalprice END) * 100) " +
        "AS BIGINT) AS o_cents FROM orders " +
        "WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0) " +
        "AND o_orderstatus <> 'F') " +
        "ORDER BY o_cents DESC, o_orderkey LIMIT 20"),
    // the append-only MOR twin's live rows are ALL orders (evens via the
    // base CTAS, odds via the delta insert)
    "q_v2_minmax_mor" ->
      ("SELECT o_orderstatus, count(*) AS n, count(cents) AS n_cents, " +
        "min(cents) AS min_cents, max(cents) AS max_cents, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents FROM " +
        "(SELECT o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT) " +
        "AS cents FROM orders) " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    // the MOR twin's live keys are the same set as orders_ins'
    "q_v2_meta_count_mor" ->
      ("SELECT count(*) AS n FROM orders " +
        "WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0) " +
        "AND o_orderstatus <> 'F'"),
    // the MOR twin is content-identical to orders_ins (only the storage
    // layout differs: outstanding deltas merged per group at read time),
    // so it shares the SPJ oracle arithmetic verbatim
    "q_v2_spj_mor" ->
      ("SELECT a.o_orderkey, a.o_cents, b.o_cents_dim FROM " +
        "(SELECT o_orderkey, CAST(round((CASE WHEN o_orderkey % 3 = 0 " +
        "THEN o_totalprice + 100000 ELSE o_totalprice END) * 100) " +
        "AS BIGINT) AS o_cents FROM orders " +
        "WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0) " +
        "AND o_orderstatus <> 'F') a JOIN " +
        "(SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) " +
        "+ 7 AS o_cents_dim FROM orders WHERE o_orderkey % 5 = 0) b " +
        "ON a.o_orderkey = b.o_orderkey ORDER BY a.o_orderkey"),
    // maintained view ≡ full GROUP BY of the final source state (the
    // fixture's C2 update + C3 delete arithmetic replayed directly)
    "q_mat_view" ->
      ("SELECT o_custkey, count(*) AS n_rows, " +
        "CAST(sum(CAST(round((CASE WHEN o_orderkey % 10 = 3 " +
        "THEN o_totalprice + 100000 ELSE o_totalprice END) * 100) AS BIGINT)) AS BIGINT) AS sum_val " +
        "FROM orders WHERE o_orderkey % 7 <> 0 AND o_custkey IS NOT NULL " +
        "GROUP BY o_custkey ORDER BY o_custkey"),
    "q_mat_view_multi" ->
      ("SELECT o_custkey, count(*) AS n_rows, " +
        "CAST(sum(CAST(round((CASE WHEN o_orderkey % 10 = 3 " +
        "THEN o_totalprice + 100000 ELSE o_totalprice END) * 100) AS BIGINT)) AS BIGINT) AS sum_cents, " +
        "CAST(sum(o_orderkey % 100) AS BIGINT) AS sum_keymod " +
        "FROM orders WHERE o_orderkey % 7 <> 0 AND o_custkey IS NOT NULL " +
        "GROUP BY o_custkey ORDER BY o_custkey"),
    // maintained min/max ≡ full GROUP BY extrema of the final source
    // state (C2's +100000 on %10==3 keys — all odd, so they survive C3's
    // even-key delete)
    "q_mat_view_minmax" ->
      ("SELECT o_custkey, count(*) AS n_rows, " +
        "CAST(min(CAST(round((CASE WHEN o_orderkey % 10 = 3 " +
        "THEN o_totalprice + 100000 ELSE o_totalprice END) * 100) AS BIGINT)) AS BIGINT) AS min_val, " +
        "CAST(max(CAST(round((CASE WHEN o_orderkey % 10 = 3 " +
        "THEN o_totalprice + 100000 ELSE o_totalprice END) * 100) AS BIGINT)) AS BIGINT) AS max_val " +
        "FROM orders WHERE o_orderkey % 2 <> 0 AND o_custkey IS NOT NULL " +
        "GROUP BY o_custkey ORDER BY o_custkey"),
    // maintained distinct ≡ COUNT(DISTINCT) over the final source state:
    // C2 rewrote custkey for %10==3, C3 deleted %2==0, C4 re-inserted
    // %5==1 under new keys with the ORIGINAL custkey
    "q_mat_view_distinct" ->
      ("WITH fin AS (SELECT o_orderpriority, CASE WHEN o_orderkey % 10 = 3 " +
        "THEN o_custkey + 1000000 ELSE o_custkey END AS v FROM orders " +
        "WHERE o_orderkey % 2 <> 0 " +
        "UNION ALL SELECT o_orderpriority, o_custkey AS v FROM orders " +
        "WHERE o_orderkey % 5 = 1) " +
        "SELECT o_orderpriority, count(*) AS n_rows, " +
        "count(DISTINCT v) AS n_distinct FROM fin " +
        "WHERE o_orderpriority IS NOT NULL " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    // maintained top-3 ≡ row_number-per-group of the final source state
    "q_mat_view_topk" ->
      ("SELECT o_custkey, CAST(rnk AS BIGINT) AS rnk, val FROM (" +
        "SELECT o_custkey, " +
        "CAST(round((CASE WHEN o_orderkey % 10 = 3 " +
        "THEN o_totalprice + 100000 ELSE o_totalprice END) * 100) AS BIGINT) AS val, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY " +
        "CAST(round((CASE WHEN o_orderkey % 10 = 3 " +
        "THEN o_totalprice + 100000 ELSE o_totalprice END) * 100) AS BIGINT) DESC) AS rnk " +
        "FROM orders WHERE o_orderkey % 2 <> 0 AND o_custkey IS NOT NULL" +
        ") WHERE rnk <= 3 ORDER BY o_custkey, rnk, val"),
    // history: counters recomputed from the fixture script (C1 insert all,
    // C2 delete %7, C3 upsert %10==3 of the survivors, C4 delete %11==5)
    "q_table_history" ->
      ("SELECT * FROM (" +
        "SELECT '20260101000000' AS commit_ts, 'commit' AS action, 'INSERT' AS operation, " +
        "CAST(0 AS BIGINT) AS n_deleted, CAST(0 AS BIGINT) AS n_updated, (SELECT count(*) FROM orders) AS n_inserted " +
        "UNION ALL SELECT '20260102000000', 'commit', 'UPSERT', " +
        "(SELECT count(*) FROM orders WHERE o_orderkey % 7 = 0), CAST(0 AS BIGINT), CAST(0 AS BIGINT) " +
        "UNION ALL SELECT '20260103000000', 'commit', 'UPSERT', CAST(0 AS BIGINT), " +
        "(SELECT count(*) FROM orders WHERE o_orderkey % 10 = 3 AND o_orderkey % 7 <> 0), CAST(0 AS BIGINT) " +
        "UNION ALL SELECT '20260104000000', 'commit', 'UPSERT', " +
        "(SELECT count(*) FROM orders WHERE o_orderkey % 11 = 5 AND o_orderkey % 7 <> 0), CAST(0 AS BIGINT), CAST(0 AS BIGINT)" +
        ") ORDER BY commit_ts"),
    // schema evolution: score exists only where the post-ALTER UPDATE
    // rewrote the row; every other row reads null from pre-evolution files
    "q_sql_alter" ->
      ("SELECT o_orderkey, o_totalprice, " +
        "CASE WHEN o_orderkey % 10 = 3 THEN o_orderkey % 100 END AS score " +
        "FROM orders ORDER BY o_orderkey"),
    "q_sql_alter_drop" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
        "o_orderdate, " +
        "CASE WHEN o_orderkey % 10 = 3 THEN o_orderkey % 100 END AS score " +
        "FROM orders ORDER BY o_orderkey"),
    "q_key_lookup" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100000 ELSE o_totalprice END AS o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey = " +
        "(SELECT min(o_orderkey) FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 5) " +
        "ORDER BY o_orderkey"),
    "q_bloom_lookup" ->
      (s"SELECT $OrdersColsSql FROM orders WHERE o_orderkey % 7 <> 0 " +
        "AND o_custkey = (SELECT min(o_custkey) FROM orders " +
        "WHERE o_orderkey % 7 <> 0) ORDER BY o_orderkey"),
    "q_key_lookup_in" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100000 ELSE o_totalprice END AS o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey IN " +
        "(SELECT o_orderkey FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 5 ORDER BY o_orderkey LIMIT 3) " +
        "ORDER BY o_orderkey"),
    // same oracle row: the MOR head state (C4 delete deltas outstanding)
    // holds the identical current version of this key
    "q_key_lookup_mor" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100000 ELSE o_totalprice END AS o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey = " +
        "(SELECT min(o_orderkey) FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 5) " +
        "ORDER BY o_orderkey"),
    // change feed over (C1, C4]: C2 deletes (pre-image = original payload),
    // C3 updates (post-image = +100000), C4 deletes (pre-image = the C3
    // state: +100000 iff %10==3)
    "q_cdc" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, " +
        s"'delete' AS _change_type, '${Fixtures.C2}' AS _change_commit_ts FROM orders WHERE o_orderkey % 7 = 0 " +
        "UNION ALL " +
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 100000 AS o_totalprice, o_orderdate, o_orderpriority, " +
        s"'update' AS _change_type, '${Fixtures.C3}' AS _change_commit_ts FROM orders WHERE o_orderkey % 10 = 3 AND o_orderkey % 7 <> 0 " +
        "UNION ALL " +
        "SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100000 ELSE o_totalprice END AS o_totalprice, " +
        "o_orderdate, o_orderpriority, " +
        s"'delete' AS _change_type, '${Fixtures.C4}' AS _change_commit_ts FROM orders WHERE o_orderkey % 11 = 5 AND o_orderkey % 7 <> 0 " +
        "ORDER BY _change_commit_ts, o_orderkey"),
    // the MOR twin's feed is row-identical (its compaction emits nothing)
    "q_cdc_mor_format" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, " +
        s"'delete' AS _change_type, '${Fixtures.C2}' AS _change_commit_ts FROM orders WHERE o_orderkey % 7 = 0 " +
        "UNION ALL " +
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 100000 AS o_totalprice, o_orderdate, o_orderpriority, " +
        s"'update' AS _change_type, '${Fixtures.C3}' AS _change_commit_ts FROM orders WHERE o_orderkey % 10 = 3 AND o_orderkey % 7 <> 0 " +
        "UNION ALL " +
        "SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100000 ELSE o_totalprice END AS o_totalprice, " +
        "o_orderdate, o_orderpriority, " +
        s"'delete' AS _change_type, '${Fixtures.C4}' AS _change_commit_ts FROM orders WHERE o_orderkey % 11 = 5 AND o_orderkey % 7 <> 0 " +
        "ORDER BY _change_commit_ts, o_orderkey"),
    // full DML history: C1 inserts all; DELETE removes %7 keys (pre-image);
    // UPDATE posts +100000 on %10==3 survivors; MERGE updates %11==5
    // survivors to source*2 and re-INSERTs the %11==5 keys the DELETE
    // removed (delete→insert for one key, via the existence probe)
    "q_cdc_sqldml" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, 'insert' AS _change_type FROM orders " +
        "UNION ALL " +
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, 'delete' AS _change_type FROM orders WHERE o_orderkey % 7 = 0 " +
        "UNION ALL " +
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 100000 AS o_totalprice, o_orderdate, o_orderpriority, 'update' AS _change_type FROM orders WHERE o_orderkey % 10 = 3 AND o_orderkey % 7 <> 0 " +
        "UNION ALL " +
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority, 'update' AS _change_type FROM orders WHERE o_orderkey % 11 = 5 AND o_orderkey % 7 <> 0 " +
        "UNION ALL " +
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, 'insert' AS _change_type FROM orders WHERE o_orderkey % 11 = 5 AND o_orderkey % 7 = 0 " +
        "ORDER BY o_orderkey, _change_type, o_totalprice"),
    // the CDC mirror equals the source's final snapshot (same SQL as
    // q_snapshot_cow): C2/C4 deletes removed, C3 updates applied
    "q_cdc_mirror" ->
      s"SELECT $OrdersColsAfterC3 FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 5 ORDER BY o_orderkey",
    // layout-only CLUSTER commit: rows equal the post-delete state
    "q_sorted_snapshot" ->
      s"SELECT $OrdersColsSql FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey",
    // layout-only Z-ORDER commit: rows equal the post-delete state
    "q_zorder_snapshot" ->
      s"SELECT $OrdersColsSql FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey",
    "q_zorder_range" ->
      (s"SELECT $OrdersColsSql FROM orders WHERE o_orderkey % 7 <> 0 " +
        "AND o_custkey < 1000 AND o_totalprice BETWEEN 50000 AND 150000 " +
        "ORDER BY o_orderkey"),
    // archived timeline serves the SAME states as the unarchived table
    "q_archive_snapshot" ->
      s"SELECT $OrdersColsAfterC3 FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 5 ORDER BY o_orderkey",
    "q_archive_time_travel" ->
      s"SELECT $OrdersColsSql FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey",
    // metadata-only partition drop: F gone from the head snapshot, intact
    // at the pre-drop instant; the %10==3 price bump (C2) applies in both
    "q_partition_delete" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100000 ELSE o_totalprice END AS o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders " +
        "WHERE o_orderstatus <> 'F' ORDER BY o_orderkey"),
    "q_partition_delete_tt" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100000 ELSE o_totalprice END AS o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders ORDER BY o_orderkey"),
    // SQL TIMESTAMP AS OF over the COW fixture: the post-C2-delete state
    "q_sql_time_travel" ->
      s"SELECT $OrdersColsSql FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey",
    // event-time ordering: only the FRESH half of the upsert applied
    "q_precombine_cow" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 20 = 13 THEN o_totalprice + 100000 ELSE o_totalprice END AS o_totalprice, " +
        "CASE WHEN o_orderkey % 20 = 13 THEN o_orderdate + INTERVAL 1 DAY ELSE o_orderdate END AS o_orderdate, " +
        "o_orderpriority FROM orders ORDER BY o_orderkey"),
    "q_precombine_mor" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 20 = 13 THEN o_totalprice + 100000 ELSE o_totalprice END AS o_totalprice, " +
        "CASE WHEN o_orderkey % 20 = 13 THEN o_orderdate + INTERVAL 1 DAY ELSE o_orderdate END AS o_orderdate, " +
        "o_orderpriority FROM orders ORDER BY o_orderkey"),
    // rescaled table: rows equal the no-rescale script (C2 deletes out,
    // C4 price bumps in)
    "q_rebucket_snapshot" ->
      s"SELECT $OrdersColsAfterC3 FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey",
    "q_rebucket_lookup" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100000 ELSE o_totalprice END AS o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey = " +
        "(SELECT min(o_orderkey) FROM orders WHERE o_orderkey % 7 <> 0) " +
        "ORDER BY o_orderkey"),
    // savepointed C2 snapshot after clean(1): post-C2-delete state intact
    "q_savepoint_read" ->
      s"SELECT $OrdersColsSql FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey",
    "q_time_travel_cow" ->
      s"SELECT $OrdersColsSql FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey",
    "q_incremental_cow" ->
      s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 100000 AS o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 10 = 3 AND o_orderkey % 7 <> 0 ORDER BY o_orderkey",
    "q_snapshot_mor" ->
      s"SELECT $OrdersColsAfterC3 FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 5 ORDER BY o_orderkey",
    "q_time_travel_mor" ->
      s"SELECT $OrdersColsSql FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey",
    "q_incremental_mor" ->
      s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 100000 AS o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 10 = 3 AND o_orderkey % 7 <> 0 ORDER BY o_orderkey",
    "q_meta_count" ->
      "SELECT count(*) AS cnt FROM lineitem",
    "q_scan_filter_project" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01' AND l_discount > 0.05 ORDER BY l_orderkey, l_linenumber, l_quantity",
    "q1_agg" ->
      (s"SELECT l_returnflag, l_linestatus, ${sumB("CAST(l_quantity AS BIGINT)")} AS sum_qty, " +
        s"${sumB("CAST(round(l_extendedprice * 100) AS BIGINT)")} AS sum_base_price_c, " +
        s"${sumB(RevDm)} AS sum_disc_price_dm, count(*) AS count_order " +
        "FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "q3_topk" ->
      (s"SELECT o_orderkey, o_orderdate, ${sumB(RevDm)} AS revenue_dm " +
        "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey " +
        "GROUP BY o_orderkey, o_orderdate ORDER BY revenue_dm DESC, o_orderkey ASC LIMIT 10"),
    "q_window_topn" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
        "CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn " +
        "FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"),
    "q_antijoin" ->
      "SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F') ORDER BY c_custkey",
    "q_semijoin" ->
      "SELECT s_suppkey FROM supplier WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey) ORDER BY s_suppkey",
    "q_except" ->
      "SELECT c_custkey AS custkey FROM customer EXCEPT SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F' ORDER BY custkey",
    "q_union" ->
      "SELECT DISTINCT partkey FROM (SELECT l_partkey AS partkey FROM lineitem UNION ALL SELECT p_partkey FROM part) ORDER BY partkey",
    "q_intersect" ->
      ("SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F' " +
        "INTERSECT SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O' ORDER BY custkey"),
    "q_pivot" ->
      ("SELECT strftime(ts, '%Y-%m-%d') AS day, " +
        Seq("click", "error", "purchase", "signup", "view").map(t =>
          s"${sumB(s"CASE WHEN event_type = '$t' THEN 1 ELSE 0 END")} AS $t")
          .mkString(", ") +
        " FROM events GROUP BY day ORDER BY day"),
    "q_events_hourly" ->
      ("SELECT event_type, strftime(ts, '%Y-%m-%d %H') AS hour, count(*) AS n, " +
        s"${sumB("CAST(round(value * 100) AS BIGINT)")} AS sum_value_c FROM events " +
        "GROUP BY event_type, hour ORDER BY event_type, hour"),
    "q_events_sessions" ->
      ("SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (" +
        "SELECT user_id, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END AS new_session FROM (" +
        "SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, " +
        "lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_sec " +
        "FROM events)) GROUP BY user_id ORDER BY user_id"),
    // Mirrors TextRetrieval.exactTopK's scaled-integer scoring literally:
    // every Spark `div` is a DuckDB `//` (both floor-divide nonnegative
    // longs), every sum a long sum — bit-exact across engines.
    "q_bm25_topk" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term FROM documents), " +
        "post AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1), " +
        "dfr AS (SELECT term, count(*) AS df FROM post GROUP BY 1), " +
        "st AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl), " +
        "sc AS (SELECT p.doc_id, " +
        "(((1000000 * ((SELECT n FROM st) + 1)) // (f.df + 1)) * " +
        "((p.tf * 2200000 * 1000000) // (p.tf * 1000000 + " +
        "(1200000 * (1000000 - 750000 + (750000 * d.dl * 1000000) // " +
        "((1000000 * (SELECT sdl FROM st)) // (SELECT n FROM st)))) // 1000000))" +
        ") // 1000000 AS tscore " +
        "FROM post p JOIN dl d USING (doc_id) JOIN dfr f USING (term) " +
        "WHERE p.term IN ('spark', 'join', 'window')) " +
        "SELECT doc_id, CAST(sum(tscore) AS BIGINT) AS score FROM sc " +
        "GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 20"),
    // RRF fusion: the lexical CTE is q_bm25_topk's integer scoring ranked
    // to pool 50; the vector CTE ranks cosine against vec_id 0 (the
    // q_sim_topk parity); fused score = Σ 1000000 // (60 + rank)
    "q_hybrid_topk" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term FROM documents), " +
        "post AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1), " +
        "dfr AS (SELECT term, count(*) AS df FROM post GROUP BY 1), " +
        "st AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl), " +
        "sc AS (SELECT p.doc_id, " +
        "(((1000000 * ((SELECT n FROM st) + 1)) // (f.df + 1)) * " +
        "((p.tf * 2200000 * 1000000) // (p.tf * 1000000 + " +
        "(1200000 * (1000000 - 750000 + (750000 * d.dl * 1000000) // " +
        "((1000000 * (SELECT sdl FROM st)) // (SELECT n FROM st)))) // 1000000))" +
        ") // 1000000 AS tscore " +
        "FROM post p JOIN dl d USING (doc_id) JOIN dfr f USING (term) " +
        "WHERE p.term IN ('spark', 'join', 'window')), " +
        "lexs AS (SELECT doc_id, CAST(sum(tscore) AS BIGINT) AS score " +
        "FROM sc GROUP BY doc_id), " +
        "lex AS (SELECT doc_id, lex_rank FROM (SELECT doc_id, " +
        "row_number() OVER (ORDER BY score DESC, doc_id ASC) AS lex_rank " +
        "FROM lexs) WHERE lex_rank <= 50), " +
        "vec AS (SELECT doc_id, vec_rank FROM (SELECT vec_id AS doc_id, " +
        "row_number() OVER (ORDER BY list_cosine_similarity(" +
        "CAST(embedding AS DOUBLE[]), (SELECT CAST(embedding AS DOUBLE[]) " +
        "FROM embeddings WHERE vec_id = 0)) DESC, vec_id ASC) AS vec_rank " +
        "FROM embeddings) WHERE vec_rank <= 50) " +
        "SELECT doc_id, lex_rank, vec_rank, " +
        "CAST(coalesce(1000000 // (60 + lex_rank), 0) + " +
        "coalesce(1000000 // (60 + vec_rank), 0) AS BIGINT) AS rrf_s " +
        "FROM lex FULL OUTER JOIN vec USING (doc_id) " +
        "ORDER BY rrf_s DESC, doc_id ASC LIMIT 10"),
    // doc 0's 5 rarest terms (df asc, term asc) as the query, doc 0
    // excluded — selection and scoring fully integer, hash-exact
    "q_more_like_this" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term FROM documents), " +
        "post AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1), " +
        "dfr AS (SELECT term, count(*) AS df FROM post GROUP BY 1), " +
        "st AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl), " +
        "sel AS (SELECT f.term FROM dfr f " +
        "JOIN (SELECT DISTINCT term FROM tok WHERE doc_id = 0) dt USING (term) " +
        "ORDER BY f.df ASC, f.term ASC LIMIT 5), " +
        "sc AS (SELECT p.doc_id, " +
        "(((1000000 * ((SELECT n FROM st) + 1)) // (f.df + 1)) * " +
        "((p.tf * 2200000 * 1000000) // (p.tf * 1000000 + " +
        "(1200000 * (1000000 - 750000 + (750000 * d.dl * 1000000) // " +
        "((1000000 * (SELECT sdl FROM st)) // (SELECT n FROM st)))) // 1000000))" +
        ") // 1000000 AS tscore " +
        "FROM post p JOIN dl d USING (doc_id) JOIN dfr f USING (term) " +
        "WHERE p.term IN (SELECT term FROM sel) AND p.doc_id <> 0) " +
        "SELECT doc_id, CAST(sum(tscore) AS BIGINT) AS score FROM sc " +
        "GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 15"),
    "q_phrase_decontam" ->
      ("WITH s AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts FROM documents), " +
        "tok AS (SELECT doc_id, unnest(ts) AS term, unnest(range(1, len(ts) + 1)) AS pos FROM s) " +
        "SELECT DISTINCT p1.doc_id AS doc_id " +
        "FROM tok p1 JOIN tok p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1 " +
        "WHERE (p1.term = 'table' AND p2.term = 'hash') " +
        "OR (p1.term = 'part' AND p2.term = 'filter') " +
        "ORDER BY doc_id"),
    // positional oracle: DuckDB zips parallel unnests, so (term, pos)
    // pairs come from one pass; adjacency is the pos+1 self-join
    "q_phrase_topk" ->
      ("WITH s AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts FROM documents), " +
        "tok AS (SELECT doc_id, unnest(ts) AS term, unnest(range(1, len(ts) + 1)) AS pos FROM s) " +
        "SELECT p1.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_occur " +
        "FROM tok p1 JOIN tok p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1 " +
        "WHERE p1.term = 'table' AND p2.term = 'hash' " +
        "GROUP BY p1.doc_id ORDER BY n_occur DESC, p1.doc_id ASC LIMIT 20"),
    "q_bm25_batch" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term FROM documents), " +
        "post AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1), " +
        "dfr AS (SELECT term, count(*) AS df FROM post GROUP BY 1), " +
        "st AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl), " +
        "q(qid, term) AS (VALUES (1, 'spark'), (1, 'join'), (2, 'window'), (2, 'scan')), " +
        "sc AS (SELECT CAST(q.qid AS BIGINT) AS qid, p.doc_id, " +
        "(((1000000 * ((SELECT n FROM st) + 1)) // (f.df + 1)) * " +
        "((p.tf * 2200000 * 1000000) // (p.tf * 1000000 + " +
        "(1200000 * (1000000 - 750000 + (750000 * d.dl * 1000000) // " +
        "((1000000 * (SELECT sdl FROM st)) // (SELECT n FROM st)))) // 1000000))" +
        ") // 1000000 AS tscore " +
        "FROM post p JOIN dl d USING (doc_id) JOIN dfr f USING (term) " +
        "JOIN q ON p.term = q.term), " +
        "agg AS (SELECT qid, doc_id, CAST(sum(tscore) AS BIGINT) AS score " +
        "FROM sc GROUP BY qid, doc_id) " +
        "SELECT qid, doc_id, score FROM (SELECT qid, doc_id, score, " +
        "row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rnk " +
        "FROM agg) WHERE rnk <= 8 ORDER BY qid, score DESC, doc_id ASC"),
    // the maintained index reflects the live docs only (%7 = 0 removed):
    // same literal scoring as q_bm25_topk over the filtered corpus
    "q_bm25_incremental" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term FROM documents WHERE doc_id % 7 <> 0), " +
        "post AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1), " +
        "dfr AS (SELECT term, count(*) AS df FROM post GROUP BY 1), " +
        "st AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl), " +
        "sc AS (SELECT p.doc_id, " +
        "(((1000000 * ((SELECT n FROM st) + 1)) // (f.df + 1)) * " +
        "((p.tf * 2200000 * 1000000) // (p.tf * 1000000 + " +
        "(1200000 * (1000000 - 750000 + (750000 * d.dl * 1000000) // " +
        "((1000000 * (SELECT sdl FROM st)) // (SELECT n FROM st)))) // 1000000))" +
        ") // 1000000 AS tscore " +
        "FROM post p JOIN dl d USING (doc_id) JOIN dfr f USING (term) " +
        "WHERE p.term IN ('spark', 'join', 'window')) " +
        "SELECT doc_id, CAST(sum(tscore) AS BIGINT) AS score FROM sc " +
        "GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 20"),
    "q_bitmap_distinct" ->
      ("SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_bitmap_rollup" ->
      ("SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_bitmap_setops" ->
      ("SELECT " +
        "(SELECT CAST(count(*) AS BIGINT) FROM (" +
        "SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'A' " +
        "INTERSECT SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R')) AS n_both, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM (" +
        "SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'A' " +
        "EXCEPT SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R')) AS n_only_a, " +
        "(SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem " +
        "WHERE l_returnflag IN ('A', 'R')) AS n_any"),
    "q_dedup_exact" ->
      ("SELECT doc_id FROM (SELECT doc_id, row_number() OVER (" +
        "PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) ORDER BY doc_id) AS rn " +
        "FROM documents) WHERE rn = 1 ORDER BY doc_id"),
    "q_text_stats" ->
      (s"SELECT doc_id, CAST(len($Toks) AS BIGINT) AS n_tokens, " +
        "CAST(floor((length(text) - length(regexp_replace(text, '[.,;:!?''\"()]', '', 'g'))) * 1000 / greatest(length(text), 1)) AS BIGINT) AS punct_permille, " +
        s"CAST(floor(len(list_filter($Toks, t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) * 1000 / greatest(len($Toks), 1)) AS BIGINT) AS stopword_permille, " +
        s"CAST((CASE WHEN len($Toks) BETWEEN 5 AND 10000 THEN 400 ELSE 0 END + " +
        s"CASE WHEN floor(len(list_filter($Toks, t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) * 1000 / greatest(len($Toks), 1)) > 20 THEN 300 ELSE 0 END + " +
        "CASE WHEN floor((length(text) - length(regexp_replace(text, '[.,;:!?''\"()]', '', 'g'))) * 1000 / greatest(length(text), 1)) < 100 THEN 300 ELSE 0 END) AS BIGINT) AS quality_score " +
        "FROM documents ORDER BY doc_id"),
    "q_langid" ->
      (s"SELECT doc_id, CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh' " +
        s"WHEN greatest(c_en, c_de, c_fr, c_es) = 0 THEN 'und' " +
        "WHEN c_en = greatest(c_en, c_de, c_fr, c_es) THEN 'en' " +
        "WHEN c_de = greatest(c_en, c_de, c_fr, c_es) THEN 'de' " +
        "WHEN c_fr = greatest(c_en, c_de, c_fr, c_es) THEN 'fr' ELSE 'es' END AS lang_pred FROM (" +
        s"SELECT doc_id, text, len(list_filter($Toks, t -> t IN ('the','and','of','to','in','is'))) AS c_en, " +
        s"len(list_filter($Toks, t -> t IN ('der','die','und','das','ist','nicht'))) AS c_de, " +
        s"len(list_filter($Toks, t -> t IN ('le','la','les','et','est','une'))) AS c_fr, " +
        s"len(list_filter($Toks, t -> t IN ('el','los','las','y','es','una'))) AS c_es FROM documents" +
        ") ORDER BY doc_id"),
    "q_fingerprint" ->
      "SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp FROM documents ORDER BY doc_id",
    "q_winnow" -> {
      val pow = Array.iterate(1L, 5)(_ * 257L) // 257^0..257^4
      val gram = (0 until 5).map(i =>
        s"ascii(substr(s, j+${i + 1}, 1)) * ${pow(4 - i)}").mkString(" + ")
      "WITH c AS (SELECT doc_id, lower(text) AS s, length(lower(text)) AS n FROM documents), " +
        s"h AS (SELECT doc_id, n, CASE WHEN n >= 12 THEN list_transform(range(0, n - 4), j -> ($gram) % 1000000007) ELSE [] END AS hs FROM c), " +
        "wfp AS (SELECT doc_id, CASE WHEN n >= 12 THEN list_distinct(list_transform(range(0, n - 11), j -> list_min(hs[j+1:j+8]))) ELSE [] END AS fps FROM h) " +
        "SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, " +
        "CAST(coalesce(list_min(fps), -1) AS BIGINT) AS min_fp, " +
        "CAST(coalesce(list_max(fps), -1) AS BIGINT) AS max_fp " +
        "FROM wfp ORDER BY doc_id"
    },
    "q_winnow_pairs" -> {
      val pow = Array.iterate(1L, 5)(_ * 257L)
      val gram = (0 until 5).map(i =>
        s"ascii(substr(s, j+${i + 1}, 1)) * ${pow(4 - i)}").mkString(" + ")
      "WITH c AS (SELECT doc_id, source, lower(text) AS s, length(lower(text)) AS n FROM documents), " +
        s"h AS (SELECT doc_id, source, n, CASE WHEN n >= 12 THEN list_transform(range(0, n - 4), j -> ($gram) % 1000000007) ELSE [] END AS hs FROM c), " +
        "wfp AS (SELECT doc_id, source, CASE WHEN n >= 12 THEN list_distinct(list_transform(range(0, n - 11), j -> list_min(hs[j+1:j+8]))) ELSE [] END AS fps FROM h) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(len(list_intersect(a.fps, b.fps)) AS BIGINT) AS n_shared " +
        "FROM wfp a JOIN wfp b ON a.source = b.source AND a.doc_id < b.doc_id " +
        "WHERE len(list_intersect(a.fps, b.fps)) >= 10 " +
        "ORDER BY id_a, id_b"
    },
    // Ratio-mode winnow: shared ≥ 30% of the larger fingerprint set (and at
    // least one shared fingerprint; empty-fingerprint docs excluded).
    "q_winnow_ratio" -> {
      val pow = Array.iterate(1L, 5)(_ * 257L)
      val gram = (0 until 5).map(i =>
        s"ascii(substr(s, j+${i + 1}, 1)) * ${pow(4 - i)}").mkString(" + ")
      "WITH c AS (SELECT doc_id, source, lower(text) AS s, length(lower(text)) AS n FROM documents), " +
        s"h AS (SELECT doc_id, source, n, CASE WHEN n >= 12 THEN list_transform(range(0, n - 4), j -> ($gram) % 1000000007) ELSE [] END AS hs FROM c), " +
        "wfp AS (SELECT doc_id, source, CASE WHEN n >= 12 THEN list_distinct(list_transform(range(0, n - 11), j -> list_min(hs[j+1:j+8]))) ELSE [] END AS fps FROM h) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(len(list_intersect(a.fps, b.fps)) AS BIGINT) AS n_shared " +
        "FROM wfp a JOIN wfp b ON a.source = b.source AND a.doc_id < b.doc_id " +
        "WHERE len(a.fps) >= 1 AND len(b.fps) >= 1 " +
        "AND len(list_intersect(a.fps, b.fps)) >= 1 " +
        "AND len(list_intersect(a.fps, b.fps)) * 1000 >= 300 * greatest(len(a.fps), len(b.fps)) " +
        "ORDER BY id_a, id_b"
    },
    "q_ngram_pairs" ->
      ("WITH sh AS (SELECT doc_id, source, list_distinct(list_transform(" +
        s"range(0, greatest(len($Toks) - 2, 0) + 1), " +
        s"i -> array_to_string(($Toks)[i+1:i+2], ' '))) AS shingles FROM documents) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(floor(len(list_intersect(a.shingles, b.shingles)) * 1000 / greatest(len(list_distinct(list_cat(a.shingles, b.shingles))), 1)) AS BIGINT) AS jaccard_permille " +
        "FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id " +
        "WHERE floor(len(list_intersect(a.shingles, b.shingles)) * 1000 / greatest(len(list_distinct(list_cat(a.shingles, b.shingles))), 1)) >= 200 " +
        "ORDER BY id_a, id_b"),
    "q_sim_topk" ->
      ("SELECT query_id, corpus_id, CAST(rank AS INT) AS rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) q" +
        ") WHERE rank <= 5 ORDER BY query_id, rank"),
    // PCA candidates + FULL exact-cosine rerank ⇒ brute force regardless
    // of the subspace rank — same oracle as q_sim_topk.
    "q_pca_topk" ->
      ("SELECT query_id, corpus_id, CAST(rank AS INT) AS rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) q" +
        ") WHERE rank <= 5 ORDER BY query_id, rank"),
    // nprobe = nlist ⇒ the cell join degenerates to exact brute force over
    // all pairs minus self.
    "q_knn_join" ->
      ("SELECT query_id, corpus_id, CAST(rank AS INT) AS rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM embeddings c, embeddings q WHERE c.vec_id <> q.vec_id" +
        ") WHERE rank <= 3 ORDER BY query_id, rank"),
    // compressed-domain kNN join at exhaustive probe + full rerank ⇒ the
    // same exact brute force minus self as q_knn_join.
    "q_knn_join_pq" ->
      ("SELECT query_id, corpus_id, CAST(rank AS INT) AS rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM embeddings c, embeddings q WHERE c.vec_id <> q.vec_id" +
        ") WHERE rank <= 3 ORDER BY query_id, rank"),
    // OPQ rotation preserves inner products, so exhaustive probe + full
    // rerank is the same exact brute force minus self.
    "q_knn_join_opq" ->
      ("SELECT query_id, corpus_id, CAST(rank AS INT) AS rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM embeddings c, embeddings q WHERE c.vec_id <> q.vec_id" +
        ") WHERE rank <= 3 ORDER BY query_id, rank"),
    // mutual-kNN edges from the exact kNN join, min-label components via
    // the same recursive CTE the transitive-dedup oracles use.
    "q_knn_clusters" ->
      ("WITH RECURSIVE knn AS (SELECT query_id, corpus_id FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM embeddings c, embeddings q WHERE c.vec_id <> q.vec_id" +
        ") WHERE rank <= 3), " +
        "mutual AS (SELECT a.query_id AS id_a, a.corpus_id AS id_b " +
        "FROM knn a JOIN knn b ON a.query_id = b.corpus_id AND a.corpus_id = b.query_id " +
        "WHERE a.query_id < a.corpus_id), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM mutual " +
        "UNION SELECT id_b AS src, id_a AS dst FROM mutual), " +
        "reach(id, lbl) AS (SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.id = e.src) " +
        "SELECT id AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY id " +
        "ORDER BY vec_id"),
    // incrementally-grown IVF at nprobe=nlist ⇒ brute force over the
    // union of all batches — same oracle as q_sim_topk.
    "q_ivf_ingest_topk" ->
      ("SELECT query_id, corpus_id, CAST(rank AS INT) AS rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) q" +
        ") WHERE rank <= 5 ORDER BY query_id, rank"),
    // .ann index grown through its persisted sidecars, exhaustive + full
    // rerank ⇒ brute force over the union — same oracle as q_sim_topk.
    "q_ann_ingest_topk" ->
      ("SELECT query_id, corpus_id, CAST(rank AS INT) AS rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) q" +
        ") WHERE rank <= 5 ORDER BY query_id, rank"),
    // tombstoned .ann index at exhaustive settings ⇒ brute force over
    // corpus-minus-deleted: the takedown slice (vec_id % 7 = 0) is
    // excluded on the CORPUS side only.
    "q_ann_delete_topk" ->
      ("SELECT query_id, corpus_id, CAST(rank AS INT) AS rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM (SELECT * FROM embeddings WHERE vec_id % 7 <> 0) c, " +
        "(SELECT * FROM embeddings WHERE vec_id < 10) q" +
        ") WHERE rank <= 5 ORDER BY query_id, rank"),
    // grown compressed index, exhaustive + full rerank ⇒ brute force over
    // the union — same oracle as q_sim_topk.
    "q_ivfpq_ingest_topk" ->
      ("SELECT query_id, corpus_id, CAST(rank AS INT) AS rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) q" +
        ") WHERE rank <= 5 ORDER BY query_id, rank"),
    // nprobe=nlist + rerank ≥ corpus ⇒ IVF-PQ degenerates to exact brute
    // force — same oracle as q_sim_topk.
    "q_ivfpq_topk" ->
      ("SELECT query_id, corpus_id, CAST(rank AS INT) AS rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) q" +
        ") WHERE rank <= 5 ORDER BY query_id, rank"),
    // exhaustive probe + full rerank over ORIGINAL vectors ⇒ exact brute
    // force regardless of the learned rotation — same oracle
    "q_ivfopq_topk" ->
      ("SELECT query_id, corpus_id, CAST(rank AS INT) AS rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) q" +
        ") WHERE rank <= 5 ORDER BY query_id, rank"),
    // PCA-composed IVF-PQ at exhaustive probe + full rerank ⇒ exact
    // brute force (rerank reads the stored ORIGINAL vectors) — same
    // oracle as q_sim_topk.
    "q_ivfpca_topk" ->
      ("SELECT query_id, corpus_id, CAST(rank AS INT) AS rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) q" +
        ") WHERE rank <= 5 ORDER BY query_id, rank"),
    // rerank ≥ corpus ⇒ the PQ path degenerates to exact brute force —
    // same oracle as q_sim_topk.
    "q_pq_topk" ->
      ("SELECT query_id, corpus_id, CAST(rank AS INT) AS rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) q" +
        ") WHERE rank <= 5 ORDER BY query_id, rank"),
    // OPQ full rerank ⇒ exact brute force (rotation preserves the dot) —
    // same oracle as q_pq_topk.
    "q_opq_topk" ->
      ("SELECT query_id, corpus_id, CAST(rank AS INT) AS rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) q" +
        ") WHERE rank <= 5 ORDER BY query_id, rank"),
    // nprobe = nlist ⇒ the IVF serving path degenerates to exact brute
    // force over the partitioned table — same oracle as q_sim_topk.
    "q_ivf_topk" ->
      ("SELECT query_id, corpus_id, CAST(rank AS INT) AS rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) q" +
        ") WHERE rank <= 5 ORDER BY query_id, rank"),
    "q_multimodal_stats" ->
      (s"SELECT kind, count(*) AS n, ${sumB("octet_length(encode(text))")} AS total_bytes, " +
        s"CAST(floor(${sumB("octet_length(encode(text))")} / count(*)) AS BIGINT) AS avg_bytes FROM (" +
        "SELECT CASE WHEN doc_id % 3 = 0 THEN 'video' ELSE 'image' END AS kind, text FROM documents" +
        ") GROUP BY kind ORDER BY kind"),
    // The Spark side runs a REAL PNG encode→decode round trip; the decoded
    // width/height/raster-sum are closed-form in doc_id (pixel value depends
    // only on x, so px_sum = height · Σ_x (x + id) mod 256).
    "q_image_dims" ->
      ("SELECT media_id, width, height, " +
        "CAST(height * list_sum(list_transform(range(0, width), x -> (x + media_id) % 256)) AS BIGINT) AS px_sum FROM (" +
        "SELECT doc_id AS media_id, CAST(16 + doc_id % 17 AS BIGINT) AS width, " +
        "CAST(16 + doc_id % 13 AS BIGINT) AS height " +
        "FROM documents) ORDER BY media_id"),
    // Brute-force exact-Jaccard oracle: the Spark side is MinHash-LSH
    // candidate generation + exact verification; banding recall is 1 on this
    // data (asserted in PipelineSpec against this same brute force).
    "q_minhash_pairs" ->
      (s"$ShinglesCte " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        s"CAST($JaccPermilleSql AS BIGINT) AS jaccard_permille " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        s"WHERE $JaccPermilleSql >= 500 " +
        "ORDER BY id_a, id_b"),
    // SimHash is md5-derived (portable) → the oracle recomputes it and brute-
    // forces hamming ≤ 3; the Spark side's 4-chunk bucketing has exact recall
    // by pigeonhole, so the two agree by construction.
    "q_simhash_pairs" ->
      (s"$SimhashSql " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming " +
        "FROM sim a JOIN sim b ON a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 " +
        "ORDER BY id_a, id_b"),
    // Deterministic sign-LSH blocking + quantized-integer cosine, mirrored
    // 1:1 from Dedup.embeddingNearDupPairs (8 bands × 8 coordinate sign
    // bits; all math integer — floor(x·1e6) quantization, integer dot/
    // norms, threshold 2/5 cross-multiplied in 128-bit — so the bucket
    // words and the verdicts are bit-identical across engines).
    "q_embed_neardup" ->
      embedNearDupOracle((0 until 8).map(b => (0 until 8).map(j => b * 8 + j))),
    // Same oracle shape over the 32 SEEDED bands (identical literals on
    // both engines — signBandCoords is deterministic).
    "q_embed_neardup_hi" ->
      embedNearDupOracle(EmbedHiCoords, multiProbe = true),
    "q_rollup" ->
      ("SELECT coalesce(l_returnflag, 'ALL') AS returnflag, coalesce(l_linestatus, 'ALL') AS linestatus, " +
        s"${sumB("CAST(l_quantity AS BIGINT)")} AS sum_qty, count(*) AS n " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY returnflag, linestatus"),
    // Per-x-column bin membership counts (the h rows scale every bin
    // equally, so argmax and nonzero-count are h-invariant).
    "q_image_hist" ->
      ("SELECT media_id, CAST(len(list_filter(bins, c -> c > 0)) AS BIGINT) AS n_nonzero, " +
        "CAST(list_position(bins, list_max(bins)) - 1 AS BIGINT) AS top_bin FROM (" +
        "SELECT doc_id AS media_id, list_transform(range(0, 16), b -> " +
        "len(list_filter(range(0, 16 + doc_id % 17), x -> ((x + doc_id) % 256) // 16 = b))) AS bins " +
        "FROM documents) ORDER BY media_id"),
    // The Spark side runs a REAL WAV encode→decode round trip; sample(i) =
    // (i·k) mod 4096 − 2048 with k = 1 + id%31 over n = 256 + (id%64)·4
    // frames at 8 kHz.
    "q_audio_stats" ->
      ("SELECT media_id, sample_rate, n_samples, " +
        "CAST(list_sum(list_transform(range(0, n_samples), i -> (i * k) % 4096 - 2048)) AS BIGINT) AS amp_sum FROM (" +
        "SELECT doc_id AS media_id, CAST(8000 AS BIGINT) AS sample_rate, " +
        "CAST(256 + (doc_id % 64) * 4 AS BIGINT) AS n_samples, 1 + doc_id % 31 AS k " +
        "FROM documents) ORDER BY media_id"),
    // The Spark side runs a REAL animated-GIF encode→decode round trip;
    // 2 + id%4 frames, pixel(f, x, ·) = (x + 7f + id) mod 256 depends only
    // on (frame, x), so px_sum = height · Σ_x (x + 7f + id) mod 256.
    "q_video_frames" ->
      ("SELECT media_id, frame_idx, width, height, " +
        "CAST(height * list_sum(list_transform(range(0, width), x -> (x + 7 * frame_idx + media_id) % 256)) AS BIGINT) AS px_sum FROM (" +
        "SELECT doc_id AS media_id, unnest(range(0, 2 + doc_id % 4)) AS frame_idx, " +
        "CAST(8 + doc_id % 9 AS BIGINT) AS width, CAST(8 + doc_id % 7 AS BIGINT) AS height " +
        "FROM documents) ORDER BY media_id, frame_idx"),
    "q_string_date" ->
      ("SELECT o_orderkey, upper(substr(o_orderpriority, 1, 1)) AS prio_initial, " +
        "CAST(length(o_orderpriority) AS BIGINT) AS prio_len, " +
        "o_orderstatus || '-' || substr(o_orderpriority, 1, 1) AS status_tag, " +
        "CAST(year(o_orderdate) AS BIGINT) AS yr, CAST(month(o_orderdate) AS BIGINT) AS mo, " +
        "CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS BIGINT) AS days_to_99 " +
        "FROM orders ORDER BY o_orderkey"),
    "q_cube" ->
      ("SELECT coalesce(l_returnflag, 'ALL') AS returnflag, coalesce(l_linestatus, 'ALL') AS linestatus, " +
        s"${sumB("CAST(round(l_extendedprice * 100) AS BIGINT)")} AS sum_price_c, count(*) AS n " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY returnflag, linestatus"),
    "q_moving_sum" ->
      ("SELECT event_id, user_id, CAST(sum(value_c) OVER (" +
        "PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC " +
        "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum4_c FROM (" +
        "SELECT event_id, user_id, ts, CAST(round(value * 100) AS BIGINT) AS value_c FROM events" +
        ") ORDER BY event_id"),
    "q_events_median" ->
      ("SELECT event_type, value_c AS median_c FROM (" +
        "SELECT event_type, value_c, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY value_c ASC, event_id ASC) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS cnt " +
        "FROM (SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS value_c FROM events)" +
        ") WHERE rn = floor((cnt + 1) / 2) ORDER BY event_type"),
    "q_json_agg" ->
      (s"SELECT event_type, ${sumB("CAST(json_extract_string(props, '$.k') AS BIGINT)")} AS sum_k, " +
        s"max(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS max_k, count(*) AS n " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_token_counts" ->
      (s"SELECT doc_id, CAST(len($Toks) AS BIGINT) AS n_ws, " +
        "CAST(len(regexp_extract_all(lower(text), '([a-z]+|[0-9]+|[^a-z0-9\\s])')) AS BIGINT) AS n_bpeish " +
        "FROM documents ORDER BY doc_id"),
    "q_quality_filter" ->
      (s"SELECT doc_id FROM documents WHERE CAST($QualitySql AS BIGINT) >= 700 ORDER BY doc_id"),
    // trained-model replay: oracleSql is a def rendered AFTER the queries
    // run in Verify, so the LEARNED quantized weights of the run embed
    // here as BIGINT literals — the score is a pure integer dot product
    // over the same features, bit-identical in any engine. The zero
    // fallback only fires if the query never ran.
    "q_quality_model" -> qualityModelOracle("ridge"),
    "q_quality_model_lr" -> qualityModelOracle("logit"),
    // frozen-sidecar serving: the model fitted on the EVEN half scores
    // the ODD half — weights are this run's ridge_frozen quantization
    // (round-tripped through the persisted sidecar by the query)
    "q_quality_score_frozen" ->
      (qualityScoresCte("ridge_frozen", " WHERE doc_id % 2 = 1") +
        " ORDER BY doc_id"),
    // composed filter: replayed scores + the q_quality_topfrac threshold
    // arithmetic (corpus-relative cut, ties kept)
    "q_quality_keep" ->
      (s"WITH q AS (${qualityScoresCte("ridge")}), " +
        "h AS (SELECT score_q AS s, count(*) AS c FROM q GROUP BY 1), " +
        "w AS (SELECT s, CAST(sum(c) OVER (ORDER BY s DESC) AS BIGINT) AS cum FROM h), " +
        "t AS (SELECT max(s) AS thr FROM w WHERE cum >= CAST(ceil(0.3 * (SELECT count(*) FROM q)) AS BIGINT)) " +
        "SELECT doc_id, score_q FROM q, t WHERE score_q >= thr ORDER BY doc_id"),
    // quantile_disc shares the operator's rank contract:
    // k = max(1, ceil(p * n)), k-th smallest with duplicates counted.
    "q_exact_quantiles" ->
      ("SELECT CAST(250 AS INT) AS p_permille, quantile_disc(l_extendedprice, 0.25) AS value FROM lineitem " +
        "UNION ALL SELECT CAST(500 AS INT), quantile_disc(l_extendedprice, 0.5) FROM lineitem " +
        "UNION ALL SELECT CAST(750 AS INT), quantile_disc(l_extendedprice, 0.75) FROM lineitem " +
        "UNION ALL SELECT CAST(950 AS INT), quantile_disc(l_extendedprice, 0.95) FROM lineitem " +
        "ORDER BY p_permille"),
    "q_group_quantiles" ->
      ("SELECT grp, p_permille, value FROM (" +
        "SELECT l_returnflag AS grp, CAST(500 AS INT) AS p_permille, " +
        "quantile_disc(l_extendedprice, 0.5) AS value FROM lineitem GROUP BY l_returnflag " +
        "UNION ALL SELECT l_returnflag, CAST(900 AS INT), " +
        "quantile_disc(l_extendedprice, 0.9) FROM lineitem GROUP BY l_returnflag" +
        ") ORDER BY grp, p_permille"),
    // bigram lists via list_transform over adjacent pairs; the reference
    // LM is the src0 slice's bigrams with count >= 2.
    "q_lm_coverage" ->
      (s"WITH toks AS (SELECT doc_id, source, $Toks AS t FROM documents), " +
        "bg AS (SELECT doc_id, source, CASE WHEN len(t) >= 2 THEN " +
        "list_transform(range(0, len(t)-1), i -> array_to_string(t[i+1:i+2], ' ')) " +
        "ELSE [] END AS bgs FROM toks), " +
        "lm AS (SELECT bigram FROM (SELECT unnest(bgs) AS bigram FROM bg " +
        "WHERE source = 'src0') GROUP BY bigram HAVING count(*) >= 2), " +
        "ex AS (SELECT doc_id, unnest(bgs) AS bigram FROM bg), " +
        "hits AS (SELECT e.doc_id AS doc_id, count(*) AS known FROM ex e " +
        "JOIN lm l ON e.bigram = l.bigram GROUP BY e.doc_id) " +
        "SELECT b.doc_id AS doc_id, CAST(len(b.bgs) AS INT) AS n_bigrams, " +
        "CAST(coalesce(h.known, 0) AS BIGINT) AS known_bigrams, " +
        "CAST(floor(coalesce(h.known, 0) * 1000 / greatest(len(b.bgs), 1)) AS BIGINT) AS lm_coverage_permille " +
        "FROM bg b LEFT JOIN hits h ON b.doc_id = h.doc_id ORDER BY doc_id"),
    // trigram lists via list_transform over adjacent triples; the
    // reference LM is the src0 slice's trigrams with count >= 2.
    "q_lm_coverage_tri" ->
      (s"WITH toks AS (SELECT doc_id, source, $Toks AS t FROM documents), " +
        "bg AS (SELECT doc_id, source, CASE WHEN len(t) >= 3 THEN " +
        "list_transform(range(0, len(t)-2), i -> array_to_string(t[i+1:i+3], ' ')) " +
        "ELSE [] END AS bgs FROM toks), " +
        "lm AS (SELECT gram FROM (SELECT unnest(bgs) AS gram FROM bg " +
        "WHERE source = 'src0') GROUP BY gram HAVING count(*) >= 2), " +
        "ex AS (SELECT doc_id, unnest(bgs) AS gram FROM bg), " +
        "hits AS (SELECT e.doc_id AS doc_id, count(*) AS known FROM ex e " +
        "JOIN lm l ON e.gram = l.gram GROUP BY e.doc_id) " +
        "SELECT b.doc_id AS doc_id, CAST(len(b.bgs) AS INT) AS n_ngrams, " +
        "CAST(coalesce(h.known, 0) AS BIGINT) AS known_ngrams, " +
        "CAST(floor(coalesce(h.known, 0) * 1000 / greatest(len(b.bgs), 1)) AS BIGINT) AS lm_coverage_permille " +
        "FROM bg b LEFT JOIN hits h ON b.doc_id = h.doc_id ORDER BY doc_id"),
    // Gopher top-n-gram fraction: per (doc, n) the max n-gram count;
    // permille = top_cnt·n·1000/n_tokens (uncapped, like the paper's
    // char fraction — overlapping self-repeats may exceed 1000).
    "q_rep_topgram" ->
      (s"WITH toks AS (SELECT doc_id, $Toks AS t FROM documents), " +
        "ex AS (" + Seq(2, 3, 4).map(n =>
          s"SELECT doc_id, $n AS n, unnest(CASE WHEN len(t) >= $n THEN " +
          s"list_transform(range(0, len(t)-$n+1), i -> array_to_string(t[i+1:i+$n], ' ')) " +
          "ELSE [] END) AS gram FROM toks").mkString(" UNION ALL ") + "), " +
        "c AS (SELECT doc_id, n, gram, count(*) AS c FROM ex GROUP BY doc_id, n, gram), " +
        "m AS (SELECT doc_id, n, max(c) AS top_cnt FROM c GROUP BY doc_id, n), " +
        "base AS (SELECT doc_id, len(t) AS n_tokens, unnest([2, 3, 4]) AS n FROM toks) " +
        "SELECT b.doc_id AS doc_id, CAST(b.n AS INT) AS n, " +
        "CAST(b.n_tokens AS INT) AS n_tokens, " +
        "CAST(coalesce(m.top_cnt, 0) AS BIGINT) AS top_cnt, " +
        "CAST(floor(coalesce(m.top_cnt, 0) * b.n * 1000 / greatest(b.n_tokens, 1)) AS BIGINT) AS permille " +
        "FROM base b LEFT JOIN m ON b.doc_id = m.doc_id AND b.n = m.n " +
        "ORDER BY doc_id, n"),
    // Gopher duplicated-5-gram coverage: positions covered by any
    // within-doc window occurring >= 2 times, overlaps counted once
    // (DISTINCT over pos+k), the same zipped-unnest window build as the
    // ExactSubstr oracles.
    "q_rep_dupcov" ->
      (s"WITH toks AS (SELECT doc_id, $Toks AS t FROM documents), " +
        "wins AS (SELECT doc_id, unnest(range(0, greatest(len(t)-5+1, 0))) AS pos, " +
        "unnest(list_transform(range(0, greatest(len(t)-5+1, 0)), i -> array_to_string(t[i+1:i+5], ' '))) AS win FROM toks), " +
        "dup AS (SELECT doc_id, win FROM wins GROUP BY doc_id, win HAVING count(*) >= 2), " +
        "mark AS (SELECT DISTINCT w.doc_id AS doc_id, w.pos AS pos FROM wins w " +
        "JOIN dup d ON w.doc_id = d.doc_id AND w.win = d.win), " +
        "cov AS (SELECT doc_id, count(DISTINCT j) AS covered FROM " +
        "(SELECT doc_id, pos + unnest(range(0, 5)) AS j FROM mark) GROUP BY doc_id) " +
        "SELECT t.doc_id AS doc_id, CAST(len(t.t) AS INT) AS n_tokens, " +
        "CAST(coalesce(c.covered, 0) AS BIGINT) AS covered_tokens, " +
        "CAST(floor(coalesce(c.covered, 0) * 1000 / greatest(len(t.t), 1)) AS BIGINT) AS permille " +
        "FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id ORDER BY doc_id"),
    // composed Gopher keep: violators of EITHER family (top-gram
    // fraction at its per-order threshold, dup-coverage at its), kept =
    // the rest — thresholds rendered from the same constants the Spark
    // defaults carry
    "q_gopher_keep" -> GopherKeepOracle,
    // top-20% threshold from the descending score histogram (ties kept:
    // the smallest threshold whose tail covers ceil(0.2·N) rows)
    "q_quality_topfrac" ->
      (s"WITH q AS (SELECT doc_id, CAST($QualitySql AS BIGINT) AS quality_score FROM documents), " +
        "h AS (SELECT quality_score AS s, count(*) AS c FROM q GROUP BY 1), " +
        "w AS (SELECT s, CAST(sum(c) OVER (ORDER BY s DESC) AS BIGINT) AS cum FROM h), " +
        "t AS (SELECT max(s) AS thr FROM w WHERE cum >= CAST(ceil(0.2 * (SELECT count(*) FROM q)) AS BIGINT)) " +
        "SELECT doc_id, quality_score FROM q, t WHERE quality_score >= thr ORDER BY doc_id"),
    // Hash-range split: md5 hex prefix vs cumulative-fraction boundaries
    // (0.8 -> cccccccc, 0.9 -> e6666666) — fixed-width lower-case hex, so
    // lexicographic < IS the numeric comparison in both engines.
    "q_split" ->
      ("SELECT doc_id, CASE " +
        "WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|graft7'), 1, 8) < 'cccccccc' THEN 'train' " +
        "WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|graft7'), 1, 8) < 'e6666666' THEN 'val' " +
        "ELSE 'test' END AS split FROM documents ORDER BY doc_id"),
    "q_pack" ->
      ("WITH c AS (SELECT doc_id, lang, " +
        "CAST(len(regexp_extract_all(lower(text), '([a-z]+|[0-9]+|[^a-z0-9\\s])')) AS BIGINT) AS n_tok FROM documents), " +
        "w AS (SELECT doc_id, lang, n_tok, " +
        "CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS tok_end FROM c) " +
        "SELECT doc_id, lang, n_tok, tok_end - n_tok AS tok_start, tok_end, " +
        "(tok_end - n_tok) // 512 AS seq_first, " +
        "CASE WHEN n_tok > 0 THEN (tok_end - 1) // 512 ELSE (tok_end - n_tok) // 512 END AS seq_last, " +
        "(CASE WHEN n_tok > 0 THEN (tok_end - 1) // 512 ELSE (tok_end - n_tok) // 512 END) - ((tok_end - n_tok) // 512) + 1 AS n_seqs " +
        "FROM w ORDER BY doc_id"),
    // recursive-CTE BPE: per-word token counts from single-step merge
    // replay over the embedded SeedMerges literals, summed per doc.
    "q_bpe_tokens" ->
      (s"WITH RECURSIVE $BpeCte, " +
        s"dt AS (SELECT doc_id, unnest($Toks) AS w FROM documents) " +
        "SELECT d.doc_id AS doc_id, CAST(sum(f.n) AS BIGINT) AS n_bpe " +
        "FROM dt d JOIN bpe_final f USING (w) GROUP BY d.doc_id " +
        "ORDER BY doc_id"),
    // same replay over the LEARNED merge table (Bpe.lastTrained is set
    // by the q_bpe_tokens_trained run that precedes this render in
    // Verify; the SeedMerges fallback only fires if the query never ran,
    // in which case there is no result to compare anyway)
    "q_bpe_tokens_trained" ->
      (s"WITH RECURSIVE ${bpeCte(Bpe.lastTrained.getOrElse(Bpe.SeedMerges))}, " +
        s"dt AS (SELECT doc_id, unnest($Toks) AS w FROM documents) " +
        "SELECT d.doc_id AS doc_id, CAST(sum(f.n) AS BIGINT) AS n_bpe_t " +
        "FROM dt d JOIN bpe_final f USING (w) GROUP BY d.doc_id " +
        "ORDER BY doc_id"),
    // q_pack's window arithmetic over per-doc BPE counts (cap 256).
    "q_pack_bpe" ->
      (s"WITH RECURSIVE $BpeCte, " +
        s"dt AS (SELECT doc_id, lang, unnest($Toks) AS w FROM documents), " +
        "c AS (SELECT d.doc_id AS doc_id, any_value(d.lang) AS lang, " +
        "CAST(sum(f.n) AS BIGINT) AS n_tok " +
        "FROM dt d JOIN bpe_final f USING (w) GROUP BY d.doc_id), " +
        "w AS (SELECT doc_id, lang, n_tok, " +
        "CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS tok_end FROM c) " +
        "SELECT doc_id, lang, n_tok, tok_end - n_tok AS tok_start, tok_end, " +
        "(tok_end - n_tok) // 256 AS seq_first, " +
        "CASE WHEN n_tok > 0 THEN (tok_end - 1) // 256 ELSE (tok_end - n_tok) // 256 END AS seq_last, " +
        "(CASE WHEN n_tok > 0 THEN (tok_end - 1) // 256 ELSE (tok_end - n_tok) // 256 END) - ((tok_end - n_tok) // 256) + 1 AS n_seqs " +
        "FROM w ORDER BY doc_id"),
    // Segment manifest: one row per (doc, sequence) pair — each doc's
    // offset and length inside every sequence its interval touches
    // (zero-token docs emit one zero-length segment at their position).
    "q_pack_segments" ->
      ("WITH c AS (SELECT doc_id, lang, " +
        "CAST(len(regexp_extract_all(lower(text), '([a-z]+|[0-9]+|[^a-z0-9\\s])')) AS BIGINT) AS n_tok FROM documents), " +
        "w AS (SELECT doc_id, lang, n_tok, " +
        "CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS tok_end FROM c), " +
        "b AS (SELECT doc_id, lang, n_tok, tok_end - n_tok AS tok_start, tok_end, " +
        "(tok_end - n_tok) // 512 AS seq_first, " +
        "CASE WHEN n_tok > 0 THEN (tok_end - 1) // 512 ELSE (tok_end - n_tok) // 512 END AS seq_last FROM w), " +
        "s AS (SELECT doc_id, lang, tok_start, tok_end, unnest(range(seq_first, seq_last + 1)) AS seq FROM b) " +
        "SELECT doc_id, lang, seq, " +
        "greatest(tok_start, seq * 512) - seq * 512 AS seg_start, " +
        "least(tok_end, (seq + 1) * 512) - greatest(tok_start, seq * 512) AS seg_len " +
        "FROM s ORDER BY doc_id, seq"),
    "q_repetition" ->
      ("WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents), " +
        "g AS (SELECT doc_id, " +
        "list_transform(range(0, greatest(len(t) - 2, 0) + 1), i -> array_to_string(t[i+1:i+2], ' ')) AS g2, " +
        "list_transform(range(0, greatest(len(t) - 3, 0) + 1), i -> array_to_string(t[i+1:i+3], ' ')) AS g3 FROM toks) " +
        "SELECT doc_id, " +
        "CAST(floor((len(g2) - len(list_distinct(g2))) * 1000 / len(g2)) AS BIGINT) AS dup2_permille, " +
        "CAST(floor((len(g3) - len(list_distinct(g3))) * 1000 / len(g3)) AS BIGINT) AS dup3_permille " +
        "FROM g ORDER BY doc_id"),
    "q_boilerplate" ->
      ("WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents), " +
        "ga AS (SELECT doc_id, list_transform(range(0, greatest(len(t) - 2, 0) + 1), " +
        "i -> array_to_string(t[i+1:i+2], ' ')) AS gs FROM toks), " +
        "df AS (SELECT gram, count(*) AS df FROM (SELECT doc_id, unnest(list_distinct(gs)) AS gram FROM ga) GROUP BY gram), " +
        "hot AS (SELECT gram FROM df WHERE df * 1000 >= 80 * (SELECT count(*) FROM documents)), " +
        "occ AS (SELECT doc_id, unnest(gs) AS gram FROM ga), " +
        "hotc AS (SELECT o.doc_id, count(*) AS h FROM occ o JOIN hot ON o.gram = hot.gram GROUP BY o.doc_id) " +
        "SELECT ga.doc_id, CAST(len(gs) AS BIGINT) AS n_grams, " +
        "CAST(floor(coalesce(h, 0) * 1000 / len(gs)) AS BIGINT) AS boilerplate_permille " +
        "FROM ga LEFT JOIN hotc ON ga.doc_id = hotc.doc_id ORDER BY ga.doc_id"),
    "q_decontam" ->
      ("WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents), " +
        "g AS (SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(t) - 5, 0) + 1), " +
        "i -> array_to_string(t[i+1:i+5], ' '))) AS gs FROM toks), " +
        "ev AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 17 = 0), " +
        "bad AS (SELECT DISTINCT tg.doc_id FROM (SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 17 <> 0) tg " +
        "JOIN ev ON tg.gram = ev.gram) " +
        "SELECT doc_id FROM documents WHERE doc_id % 17 <> 0 " +
        "AND doc_id NOT IN (SELECT doc_id FROM bad) ORDER BY doc_id"),
    "q_dedup_fuzzy" -> FuzzyKeepSql,
    // Incremental ingest reaches the same kept set as one batch pass.
    "q_dedup_incremental" -> FuzzyKeepSql,
    // Connected components as a recursive CTE: enumerate every (vertex,
    // reachable-vertex) pair over the symmetric brute-force-Jaccard edge
    // set, then min per vertex — an independent formulation of the same
    // smallest-reachable-id cluster labels.
    "q_dedup_clusters" ->
      ("WITH RECURSIVE " + ShinglesCte.stripPrefix("WITH ") + ", " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh a " +
        s"JOIN sh b ON a.doc_id < b.doc_id WHERE $JaccPermilleSql >= 500), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
        "UNION SELECT id_b AS src, id_a AS dst FROM pairs), " +
        "reach(id, lbl) AS (SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.id = e.src) " +
        "SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach " +
        "GROUP BY id ORDER BY doc_id"),
    // best-of-cluster keep set: same recursive-CTE clusters, winners by
    // (quality desc, doc_id asc) per cluster, losers anti-joined away
    // ExactSubstr: window/token positions via zipped unnests; the NOT
    // EXISTS is the same "covered by any duplicated window" test the
    // in-row array pass evaluates.
    "q_substr_dedup" ->
      (s"WITH toks AS (SELECT doc_id, $Toks AS t FROM documents), " +
        "wins AS (SELECT doc_id, " +
        "unnest(range(0, greatest(len(t)-8+1, 0))) AS pos, " +
        "unnest(list_transform(range(0, greatest(len(t)-8+1, 0)), " +
        "i -> array_to_string(t[i+1:i+8], ' '))) AS win FROM toks), " +
        "dup AS (SELECT win FROM wins GROUP BY win HAVING count(*) >= 2), " +
        "mark AS (SELECT DISTINCT w.doc_id AS doc_id, w.pos AS pos " +
        "FROM wins w JOIN dup d ON w.win = d.win), " +
        "toki AS (SELECT doc_id, unnest(range(0, len(t))) AS idx, " +
        "unnest(t) AS tok FROM toks), " +
        "keep AS (SELECT k.doc_id AS doc_id, k.idx AS idx, k.tok AS tok " +
        "FROM toki k WHERE NOT EXISTS (SELECT 1 FROM mark m " +
        "WHERE m.doc_id = k.doc_id AND m.pos <= k.idx AND k.idx < m.pos + 8)), " +
        "agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS kept_text, " +
        "count(*) AS kept FROM keep GROUP BY doc_id) " +
        "SELECT t.doc_id AS doc_id, coalesce(a.kept_text, '') AS kept_text, " +
        "CAST(len(t.t) AS INT) AS n_tokens, " +
        "CAST(len(t.t) - coalesce(a.kept, 0) AS INT) AS removed_tokens " +
        "FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id " +
        "ORDER BY doc_id"),
    // duplicated-segment removal: non-overlapping 5-token windows via
    // zipped unnests; corpus count + canonical-first via windows; docs
    // reassembled from kept segments in order plus the always-kept tail
    "q_seg_dedup" ->
      (s"WITH toks AS (SELECT doc_id, $Toks AS t FROM documents), " +
        "base AS (SELECT doc_id, t, CAST(len(t)//5 AS INT) AS nseg FROM toks), " +
        "occ AS (SELECT doc_id, unnest(range(0, nseg)) AS pos, " +
        "unnest(list_transform(range(0, nseg), " +
        "i -> array_to_string(t[i*5+1:i*5+5], ' '))) AS seg FROM base), " +
        "occ2 AS (SELECT doc_id, pos, seg, " +
        "count(*) OVER (PARTITION BY seg) AS cnt, " +
        "row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn FROM occ), " +
        "kept AS (SELECT doc_id, pos, seg FROM occ2 WHERE cnt < 2 OR rn = 1), " +
        "agg AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS body, " +
        "count(*) AS kept_n FROM kept GROUP BY doc_id) " +
        "SELECT b.doc_id AS doc_id, " +
        // coalesce: DuckDB's array_to_string([]) is NULL, Spark's '' —
        // both the tail slice and the fully-deduped doc hit it
        "coalesce(array_to_string(list_filter([coalesce(a.body, ''), " +
        "coalesce(array_to_string(b.t[b.nseg*5+1:], ' '), '')], " +
        "x -> x <> ''), ' '), '') AS text_dedup, " +
        "CAST(b.nseg AS BIGINT) AS segs_total, " +
        "CAST(b.nseg - coalesce(a.kept_n, 0) AS BIGINT) AS segs_removed " +
        "FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id " +
        "ORDER BY doc_id"),
    // delimiter-mode (line) segment dedup: the same count/keep windows
    // over EXACT 4-token lines (the deterministic line structure the
    // query materializes), kept lines re-joined by chr(10); no tail
    "q_seg_dedup_lines" ->
      (s"WITH toks AS (SELECT doc_id, $Toks AS t FROM documents), " +
        "base AS (SELECT doc_id, t, CAST((len(t)+3)//4 AS INT) AS nseg FROM toks), " +
        "occ AS (SELECT doc_id, unnest(range(0, nseg)) AS pos, " +
        "unnest(list_transform(range(0, nseg), " +
        "i -> array_to_string(t[i*4+1:i*4+4], ' '))) AS seg FROM base), " +
        "occ2 AS (SELECT doc_id, pos, seg, " +
        "count(*) OVER (PARTITION BY seg) AS cnt, " +
        "row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn FROM occ), " +
        "kept AS (SELECT doc_id, pos, seg FROM occ2 WHERE cnt < 2 OR rn = 1), " +
        "agg AS (SELECT doc_id, string_agg(seg, chr(10) ORDER BY pos) AS body, " +
        "count(*) AS kept_n FROM kept GROUP BY doc_id) " +
        "SELECT b.doc_id AS doc_id, " +
        "coalesce(a.body, '') AS text_dedup, " +
        "CAST(b.nseg AS BIGINT) AS segs_total, " +
        "CAST(b.nseg - coalesce(a.kept_n, 0) AS BIGINT) AS segs_removed " +
        "FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id " +
        "ORDER BY doc_id"),
    // arrival-order segment dedup: cumulative count up to and including
    // the occurrence's own batch (RANGE peers over the batch ordering),
    // arrival-first via row_number over (batch, doc_id, pos)
    "q_seg_dedup_incremental" ->
      (s"WITH toks AS (SELECT doc_id, doc_id % 3 AS b, $Toks AS t FROM documents), " +
        "base AS (SELECT doc_id, b, t, CAST(len(t)//5 AS INT) AS nseg FROM toks), " +
        "occ AS (SELECT doc_id, b, unnest(range(0, nseg)) AS pos, " +
        "unnest(list_transform(range(0, nseg), " +
        "i -> array_to_string(t[i*5+1:i*5+5], ' '))) AS seg FROM base), " +
        "occ2 AS (SELECT doc_id, pos, seg, " +
        "count(*) OVER (PARTITION BY seg ORDER BY b RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "row_number() OVER (PARTITION BY seg ORDER BY b, doc_id, pos) AS rn FROM occ), " +
        "kept AS (SELECT doc_id, pos, seg FROM occ2 WHERE cum < 2 OR rn = 1), " +
        "agg AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS body, " +
        "count(*) AS kept_n FROM kept GROUP BY doc_id) " +
        "SELECT b.doc_id AS doc_id, " +
        "coalesce(array_to_string(list_filter([coalesce(a.body, ''), " +
        "coalesce(array_to_string(b.t[b.nseg*5+1:], ' '), '')], " +
        "x -> x <> ''), ' '), '') AS text_dedup, " +
        "CAST(b.nseg AS BIGINT) AS segs_total, " +
        "CAST(b.nseg - coalesce(a.kept_n, 0) AS BIGINT) AS segs_removed " +
        "FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id " +
        "ORDER BY doc_id"),
    // takedown: index counts == recount over the non-deleted ingested
    // docs (batches doc_id%3 in {0,1}; doc_id%9=0 deleted — exact
    // subtraction, zeroed segments leave no row)
    "q_seg_delete_counts" ->
      (s"WITH toks AS (SELECT doc_id, $Toks AS t FROM documents " +
        "WHERE doc_id % 3 < 2 AND doc_id % 9 <> 0), " +
        "base AS (SELECT doc_id, t, CAST(len(t)//5 AS INT) AS nseg " +
        "FROM toks), " +
        "occ AS (SELECT doc_id, unnest(list_transform(range(0, nseg), " +
        "i -> array_to_string(t[i*5+1:i*5+5], ' '))) AS seg FROM base) " +
        "SELECT seg, CAST(count(*) AS BIGINT) AS cnt FROM occ " +
        "GROUP BY seg ORDER BY seg"),
    // same mark set as q_substr_dedup, islands via lag + running sum
    "q_substr_spans" ->
      (s"WITH toks AS (SELECT doc_id, $Toks AS t FROM documents), " +
        "wins AS (SELECT doc_id, " +
        "unnest(range(0, greatest(len(t)-8+1, 0))) AS pos, " +
        "unnest(list_transform(range(0, greatest(len(t)-8+1, 0)), " +
        "i -> array_to_string(t[i+1:i+8], ' '))) AS win FROM toks), " +
        "dup AS (SELECT win FROM wins GROUP BY win HAVING count(*) >= 2), " +
        "mark AS (SELECT DISTINCT w.doc_id AS doc_id, w.pos AS pos " +
        "FROM wins w JOIN dup d ON w.win = d.win), " +
        "brk AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER " +
        "(PARTITION BY doc_id ORDER BY pos) <= 8 THEN 0 ELSE 1 END AS b " +
        "FROM mark), " +
        "grp AS (SELECT doc_id, pos, sum(b) OVER " +
        "(PARTITION BY doc_id ORDER BY pos) AS g FROM brk) " +
        "SELECT doc_id, CAST(min(pos) AS INT) AS span_start, " +
        "CAST(max(pos) + 8 AS INT) AS span_end, " +
        "CAST(max(pos) + 8 - min(pos) AS INT) AS span_tokens " +
        "FROM grp GROUP BY doc_id, g ORDER BY doc_id, span_start"),
    // arrival-order ExactSubstr: cumulative window counts per (win, batch)
    // decide duplication for each batch's docs — batch b sees batches <= b.
    "q_substr_dedup_incremental" ->
      (s"WITH toks AS (SELECT doc_id, doc_id % 3 AS b, $Toks AS t FROM documents), " +
        "wins AS (SELECT doc_id, b, " +
        "unnest(range(0, greatest(len(t)-8+1, 0))) AS pos, " +
        "unnest(list_transform(range(0, greatest(len(t)-8+1, 0)), " +
        "i -> array_to_string(t[i+1:i+8], ' '))) AS win FROM toks), " +
        "wb AS (SELECT win, b, count(*) AS c FROM wins GROUP BY win, b), " +
        "cum AS (SELECT win, b, sum(c) OVER (PARTITION BY win ORDER BY b) AS cnt FROM wb), " +
        "mark AS (SELECT DISTINCT w.doc_id AS doc_id, w.pos AS pos " +
        "FROM wins w JOIN cum c ON w.win = c.win AND w.b = c.b WHERE c.cnt >= 2), " +
        "toki AS (SELECT doc_id, unnest(range(0, len(t))) AS idx, " +
        "unnest(t) AS tok FROM toks), " +
        "keep AS (SELECT k.doc_id AS doc_id, k.idx AS idx, k.tok AS tok " +
        "FROM toki k WHERE NOT EXISTS (SELECT 1 FROM mark m " +
        "WHERE m.doc_id = k.doc_id AND m.pos <= k.idx AND k.idx < m.pos + 8)), " +
        "agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS kept_text, " +
        "count(*) AS kept FROM keep GROUP BY doc_id) " +
        "SELECT t.doc_id AS doc_id, coalesce(a.kept_text, '') AS kept_text, " +
        "CAST(len(t.t) AS INT) AS n_tokens, " +
        "CAST(len(t.t) - coalesce(a.kept, 0) AS INT) AS removed_tokens " +
        "FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id " +
        "ORDER BY doc_id"),
    "q_dedup_best" ->
      ("WITH RECURSIVE " + ShinglesCte.stripPrefix("WITH ") + ", " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh a " +
        s"JOIN sh b ON a.doc_id < b.doc_id WHERE $JaccPermilleSql >= 500), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
        "UNION SELECT id_b AS src, id_a AS dst FROM pairs), " +
        "reach(id, lbl) AS (SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.id = e.src), " +
        "cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id), " +
        s"q AS (SELECT doc_id, CAST($QualitySql AS BIGINT) AS qs FROM documents), " +
        "r AS (SELECT cl.doc_id, row_number() OVER (PARTITION BY cluster_id " +
        "ORDER BY qs DESC, cl.doc_id ASC) AS rn FROM cl JOIN q ON cl.doc_id = q.doc_id) " +
        "SELECT doc_id FROM documents " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM r WHERE rn > 1) " +
        "ORDER BY doc_id"),
    "q_dedup_transitive" ->
      ("WITH RECURSIVE " + ShinglesCte.stripPrefix("WITH ") + ", " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh a " +
        s"JOIN sh b ON a.doc_id < b.doc_id WHERE $JaccPermilleSql >= 500), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
        "UNION SELECT id_b AS src, id_a AS dst FROM pairs), " +
        "reach(id, lbl) AS (SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.id = e.src) " +
        "SELECT doc_id FROM documents WHERE doc_id NOT IN (" +
        "SELECT id FROM reach GROUP BY id HAVING min(lbl) <> id) " +
        "ORDER BY doc_id"),
    "q_range_join" ->
      ("SELECT e.event_id, e.user_id, " +
        "(SELECT count(*) FROM events c WHERE c.event_type = 'click' AND c.user_id = e.user_id " +
        "AND epoch_us(c.ts) >= epoch_us(e.ts) - 600000000 AND epoch_us(c.ts) < epoch_us(e.ts)) AS n_clicks " +
        "FROM events e WHERE e.event_type = 'error' ORDER BY e.event_id"),
    "q_range_join_fwd" ->
      ("SELECT e.event_id, e.user_id, " +
        "(SELECT count(*) FROM events c WHERE c.event_type = 'click' AND c.user_id = e.user_id " +
        "AND epoch_us(c.ts) > epoch_us(e.ts) AND epoch_us(c.ts) <= epoch_us(e.ts) + 600000000) AS n_clicks " +
        "FROM events e WHERE e.event_type = 'error' ORDER BY e.event_id"),
    "q_asof_join" ->
      ("WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), " +
        "views AS (SELECT user_id, ts, max(event_id) AS view_event_id FROM events WHERE event_type = 'view' GROUP BY user_id, ts) " +
        "SELECT c.event_id, c.user_id, coalesce(v.view_event_id, -1) AS view_event_id, " +
        "coalesce(CAST(floor(epoch(v.ts)) AS BIGINT), -1) AS view_sec " +
        "FROM clicks c ASOF LEFT JOIN views v ON c.user_id = v.user_id AND v.ts <= c.ts " +
        "ORDER BY c.event_id"),
    "q_asof_join_fwd" ->
      ("WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), " +
        "views AS (SELECT user_id, ts, max(event_id) AS view_event_id FROM events WHERE event_type = 'view' GROUP BY user_id, ts) " +
        "SELECT c.event_id, c.user_id, coalesce(v.view_event_id, -1) AS view_event_id " +
        "FROM clicks c ASOF LEFT JOIN views v ON c.user_id = v.user_id AND v.ts >= c.ts " +
        "ORDER BY c.event_id"),
    "q_top_tokens" ->
      (s"SELECT token, count(*) AS n FROM (SELECT unnest($Toks) AS token FROM documents) " +
        "GROUP BY token ORDER BY n DESC, token ASC LIMIT 20"),
    // PII redaction: the same doc_id-derived PII suffix, the same four
    // patterns (Java-regex ∩ RE2 common subset) — DuckDB needs the 'g'
    // flag for replace-ALL to match Spark's regexp_replace.
    "q_pii_redact" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val ssn = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
      val phone = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
      def v(e: String) = s"CAST($e AS VARCHAR)"
      val piiText = "text || ' ' || " +
        s"'user' || ${v("doc_id")} || '@mail-' || ${v("doc_id % 7")} || '.example.com' || ' ' || " +
        s"'10.' || ${v("doc_id % 250")} || '.' || ${v("doc_id % 100")} || '.' || ${v("doc_id % 200 + 1")} || ' ' || " +
        s"${v("doc_id % 900 + 100")} || '-' || ${v("doc_id % 90 + 10")} || '-' || ${v("doc_id % 9000 + 1000")} || ' ' || " +
        s"${v("doc_id % 800 + 200")} || ' ' || ${v("doc_id % 700 + 300")} || ' ' || ${v("doc_id % 9000 + 1000")}"
      s"WITH p AS (SELECT doc_id, $piiText AS pii_text FROM documents) " +
        "SELECT doc_id, " +
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
        s"pii_text, '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), " +
        s"'$ssn', '<ID>', 'g'), '$phone', '<PHONE>', 'g') AS red_text, " +
        s"CAST(len(regexp_extract_all(pii_text, '$email')) AS BIGINT) AS n_email, " +
        s"CAST(len(regexp_extract_all(pii_text, '$ip')) AS BIGINT) AS n_ip, " +
        s"CAST(len(regexp_extract_all(pii_text, '$ssn')) AS BIGINT) AS n_id, " +
        s"CAST(len(regexp_extract_all(pii_text, '$phone')) AS BIGINT) AS n_phone " +
        "FROM p ORDER BY doc_id"
    },
    // Salient terms: integer tf·idf surrogate floor(tf·1e6/df); tf over
    // the token stream, df over the reduced (doc, token) set; ties by
    // token asc make row_number deterministic.
    "q_salient_terms" ->
      (s"WITH toks AS (SELECT doc_id, unnest($Toks) AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM toks WHERE token <> '' GROUP BY 1, 2), " +
        "dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), " +
        "sc AS (SELECT doc_id, token, tf, df, CAST(floor(tf * 1000000 / df) AS BIGINT) AS salience_ppm FROM tf JOIN dfreq USING (token)), " +
        "r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY salience_ppm DESC, token ASC) AS BIGINT) AS rnk FROM sc) " +
        "SELECT doc_id, token, tf, df, salience_ppm, rnk FROM r WHERE rnk <= 5 ORDER BY doc_id, rnk"),
    // Stratified sampling: the per-lang keep rate only picks the hex
    // boundary the row's md5 prefix is compared against (0.5→80000000,
    // 0.8→cccccccc, 0.25→40000000, 0.1→19999999, 0.9→e6666666).
    "q_sample_strat" ->
      ("SELECT doc_id, lang FROM documents " +
        "WHERE substr(md5(CAST(doc_id AS VARCHAR) || '|mix7'), 1, 8) < CASE lang " +
        "WHEN 'en' THEN '80000000' WHEN 'de' THEN 'cccccccc' " +
        "WHEN 'es' THEN '40000000' WHEN 'fr' THEN '19999999' " +
        "WHEN 'zh' THEN 'e6666666' ELSE '00000000' END ORDER BY doc_id"),
    "q_sample_topk" ->
      ("SELECT doc_id, lang, sample_rank FROM (SELECT doc_id, lang, " +
        "CAST(row_number() OVER (PARTITION BY lang " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR) || '|mix7'), doc_id) AS BIGINT) AS sample_rank " +
        "FROM documents) WHERE sample_rank <= 20 ORDER BY lang, sample_rank"),
    // Token-budget mixture: greedy fill in hash order — keep iff the
    // domain's cumulative tokens BEFORE this doc are under its budget.
    "q_mix_budget" ->
      ("WITH c AS (SELECT doc_id, lang, " +
        "CAST(len(regexp_extract_all(lower(text), '([a-z]+|[0-9]+|[^a-z0-9\\s])')) AS BIGINT) AS n_tok, " +
        "md5(CAST(doc_id AS VARCHAR) || '|mix7') AS hk FROM documents), " +
        "w AS (SELECT doc_id, lang, n_tok, " +
        "CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY hk, doc_id) AS BIGINT) - n_tok AS tok_before FROM c) " +
        "SELECT doc_id, lang, n_tok, tok_before FROM w " +
        "WHERE tok_before < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2000 " +
        "WHEN 'es' THEN 1500 WHEN 'fr' THEN 800 ELSE 0 END ORDER BY doc_id"),
    // the mixture arithmetic over recursive-CTE BPE counts
    "q_mix_budget_bpe" ->
      (s"WITH RECURSIVE $BpeCte, " +
        s"dt AS (SELECT doc_id, lang, unnest($Toks) AS w FROM documents), " +
        "c AS (SELECT d.doc_id AS doc_id, any_value(d.lang) AS lang, " +
        "CAST(sum(f.n) AS BIGINT) AS n_tok " +
        "FROM dt d JOIN bpe_final f USING (w) GROUP BY d.doc_id), " +
        "h AS (SELECT doc_id, lang, n_tok, " +
        "md5(CAST(doc_id AS VARCHAR) || '|mix7') AS hk FROM c), " +
        "w AS (SELECT doc_id, lang, n_tok, " +
        "CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY hk, doc_id) AS BIGINT) - n_tok AS tok_before FROM h) " +
        "SELECT doc_id, lang, n_tok, tok_before FROM w " +
        "WHERE tok_before < CASE lang WHEN 'en' THEN 2500 WHEN 'de' THEN 1000 " +
        "WHEN 'es' THEN 700 WHEN 'fr' THEN 400 ELSE 0 END ORDER BY doc_id"),
  )
}

package graft

import graft.format.Timeline
import graft.write.{CowWriter, MorWriter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic versioned-table fixtures built from the driver testdata.
  *
  * Commit script (same for COW and MOR, so snapshot oracles are shared):
  *   C1 insert all orders;
  *   C2 delete keys %7==0;
  *   C3 update keys %10==3 (survivors): o_totalprice += 100000;
  *   C4 delete keys %11==5 (survivors).  MOR adds a compaction C3x between
  *   C3 and C4 so the head snapshot exercises post-compaction deltas.
  *
  * Built once per scale factor under /tmp/graft_tables/<sf>/ and reused
  * across Verify/Bench invocations (rebuilt only when the timeline is
  * incomplete). All predicates are key-arithmetic → exactly mirrorable in
  * the DuckDB oracle SQL.
  */
object Fixtures {
  val C1 = "20260101000000"
  val C2 = "20260102000000"
  val C3 = "20260103000000"
  val C3x = "20260103120000"
  val C4 = "20260104000000"

  /** Fixture cache root for a scale factor — STAMPED against the source
    * testdata (name:size:mtime of every parquet): the driver regenerates
    * /root/testdata in place between rounds, and a cached fixture built
    * from the previous generation would silently serve stale values
    * against an oracle computed on the fresh files (caught live when the
    * r7 regen switched events.ts from NANOS to MICROS). A stamp mismatch
    * wipes the whole cache root once per JVM. */
  private val stampChecked = scala.collection.mutable.Set[String]()
  private def root(sfDir: String): String = {
    val dir = "/tmp/graft_tables/" + sfDir.replaceAll("[^0-9a-zA-Z.]", "_")
    synchronized {
      if (!stampChecked(dir)) {
        val stamp = Option(new java.io.File(sfDir).listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
          .mkString("\n")
        val sf = new java.io.File(dir, "SOURCE_STAMP")
        val cur =
          if (sf.exists()) java.nio.file.Files.readString(sf.toPath) else null
        if (cur != stamp) {
          def rmRec(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmRec)
            f.delete(); ()
          }
          rmRec(new java.io.File(dir))
          new java.io.File(dir).mkdirs()
          java.nio.file.Files.writeString(sf.toPath, stamp)
        }
        stampChecked += dir
      }
    }
    dir
  }

  // A cached table is reusable only if it has all n commits AND was built
  // by a schema-recording writer (r5; readers refuse a table without) AND a
  // column-stats-recording writer (r7) AND a bucket-recording writer (r7
  // tail) — stale tables from an earlier build are rebuilt, never read, and
  // would otherwise exercise skip-free / bucket-prune-free planning.
  private def complete(spark: SparkSession, dir: String, n: Int): Boolean = {
    val tl = Timeline(spark.sessionState.newHadoopConf(), dir)
    def recordsSchema = try tl.schema(None).nonEmpty
      catch { case _: IllegalStateException => false }
    tl.completedInstants().size == n && recordsSchema &&
      tl.recordedExtraAsOf("buckets", None).nonEmpty &&
      tl.completedInstants().headOption.exists(i =>
        tl.metadata(i.ts).allStats.forall { case (_, s) =>
          s.path.isEmpty || s.colStats.nonEmpty
        })
  }

  def cowDir(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = s"${root(sfDir)}/orders_cow"
    if (!complete(spark, dir, 4)) {
      rm(spark, dir)
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val k = col("o_orderkey")
      val w = new CowWriter(spark, dir, numBuckets = 8)
      w.insert(orders, k, col("o_orderstatus"), C1)
      w.delete(orders.filter(k % 7 === 0), k, col("o_orderstatus"), C2)
      w.upsert(orders.filter(k % 10 === 3 && k % 7 =!= 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100000),
        k, col("o_orderstatus"), C3)
      w.delete(orders.filter(k % 11 === 5 && k % 7 =!= 0),
        k, col("o_orderstatus"), C4)
    }
    dir
  }

  def morDir(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = s"${root(sfDir)}/orders_mor"
    if (!complete(spark, dir, 5)) {
      rm(spark, dir)
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val k = col("o_orderkey")
      val w = new MorWriter(spark, dir, numBuckets = 8)
      w.insert(orders, k, col("o_orderstatus"), C1)
      w.delete(orders.filter(k % 7 === 0), k, col("o_orderstatus"), C2)
      w.upsert(orders.filter(k % 10 === 3 && k % 7 =!= 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100000),
        k, col("o_orderstatus"), C3)
      w.compact(C3x)
      w.delete(orders.filter(k % 11 === 5 && k % 7 =!= 0),
        k, col("o_orderstatus"), C4)
    }
    dir
  }

  /** Scratch path under the fixture root for queries that persist
    * metadata-sized sidecars (e.g. the frozen quality model). */
  def scratch(sfDir: String, name: String): String =
    s"${root(sfDir)}/$name"

  /** Build both fixtures up front (Bench calls this before timing). */
  def prepare(spark: SparkSession, sfDir: String): Unit = {
    cowDir(spark, sfDir); morDir(spark, sfDir); ivfDir(spark, sfDir)
    formatRtDir(spark, sfDir); sqlDmlDir(spark, sfDir)
    sqlAlterDir(spark, sfDir); matViewDir(spark, sfDir)
    matViewMinmaxDir(spark, sfDir); dsv2Dir(spark, sfDir)
    sortedDir(spark, sfDir); mirrorDir(spark, sfDir)
    zorderDir(spark, sfDir); archivedDir(spark, sfDir)
    bloomDir(spark, sfDir); savepointDir(spark, sfDir)
    rebucketDir(spark, sfDir)
    precombineDir(spark, sfDir, "cow"); precombineDir(spark, sfDir, "mor")
    pdropDir(spark, sfDir); dedupIndexDir(spark, sfDir)
    // r10 tail: retrieval + incremental-ANN + distinct-view fixtures
    textIndexDir(spark, sfDir); textIncIndexDir(spark, sfDir)
    ivfIngestDir(spark, sfDir); ivfPqIngestDir(spark, sfDir)
    matViewDistinctDir(spark, sfDir); semIndexDir(spark, sfDir)
    // r12: incremental ExactSubstr window index + cleaned docs
    substrIndexDir(spark, sfDir): Unit
  }

  /** Incremental ExactSubstr WINDOW-COUNT INDEX + cleaned docs over
    * `documents`, ingested in three batches by `doc_id % 3` (the arrival
    * order q_substr_dedup_incremental's oracle replicates with cumulative
    * per-batch window counts). Returns the root dir holding `windex` and
    * `docs` ([[graft.pipeline.Dedup.substrIngest]]). */
  def substrIndexDir(spark: SparkSession, sfDir: String): String =
    synchronized {
      val dir = s"${root(sfDir)}/substr_index"
      // 3 ingest commits + 1 compaction (the post-ingest maintenance a
      // read-heavy MOR state table runs — identity on content, turns the
      // serving reads back into plain base scans)
      if (!complete(spark, s"$dir/windex", 4)) {
        rm(spark, dir)
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        def ingest(b: Int, ts: Option[String]): Unit =
          graft.pipeline.Dedup.substrIngest(spark, dir,
            docs.filter(pmod(col("doc_id"), lit(3)) === b),
            col("doc_id"), col("text"), w = 8, ts = ts): Unit
        ingest(0, Some(C1)); ingest(1, None); ingest(2, None)
        graft.write.MorWriter.compactTable(spark, s"$dir/windex")
        graft.write.MorWriter.compactTable(spark, s"$dir/docs")
      }
      dir
    }

  /** Incremental SEGMENT-COUNT INDEX + cleaned docs over `documents`,
    * ingested in three batches by `doc_id % 3` (the arrival order
    * q_seg_dedup_incremental's oracle replicates with cumulative
    * per-batch counts and arrival-first row numbers). Returns the root
    * dir holding `segindex` and `docs`
    * ([[graft.pipeline.Dedup.segIngest]]). */
  def segIndexDir(spark: SparkSession, sfDir: String): String =
    synchronized {
      val dir = s"${root(sfDir)}/seg_index"
      // 3 ingest commits + 1 compaction (post-ingest maintenance)
      if (!complete(spark, s"$dir/segindex", 4)) {
        rm(spark, dir)
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        def ingest(b: Int, ts: Option[String]): Unit =
          graft.pipeline.Dedup.segIngest(spark, dir,
            docs.filter(pmod(col("doc_id"), lit(3)) === b),
            col("doc_id"), col("text"), width = 5, ts = ts): Unit
        ingest(0, Some(C1)); ingest(1, None); ingest(2, None)
        graft.write.MorWriter.compactTable(spark, s"$dir/segindex")
        graft.write.MorWriter.compactTable(spark, s"$dir/docs")
      }
      dir
    }

  /** Segment index with a TAKEDOWN applied
    * ([[graft.pipeline.Dedup.segDelete]]): two arrival batches
    * (doc_id % 3 ∈ {0, 1}), then doc_id % 9 = 0 (a subset of batch 0)
    * deleted with their as-ingested text. q_seg_delete_counts gates the
    * surviving index counts against a DuckDB recount over the
    * non-deleted ingested docs — exact subtraction, zeroed rows
    * gone. */
  def segDeleteIdxDir(spark: SparkSession, sfDir: String): String =
    synchronized {
      val dir = s"${root(sfDir)}/seg_delete_idx"
      // boot create + batch-1 txn + delete txn = 3 segindex commits
      if (!complete(spark, s"$dir/segindex", 3)) {
        rm(spark, dir)
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        graft.pipeline.Dedup.segIngest(spark, dir,
          docs.filter(pmod(col("doc_id"), lit(3)) === 0),
          col("doc_id"), col("text"), width = 5, ts = Some(C1)): Unit
        graft.pipeline.Dedup.segIngest(spark, dir,
          docs.filter(pmod(col("doc_id"), lit(3)) === 1),
          col("doc_id"), col("text"), width = 5): Unit
        graft.pipeline.Dedup.segDelete(spark, dir,
          docs.filter(pmod(col("doc_id"), lit(9)) === 0),
          col("doc_id"), col("text"), width = 5): Unit
      }
      dir
    }

  /** Incremental-dedup SIGNATURE INDEX over `documents`, ingested in three
    * doc_id-ordered batches (see [[graft.pipeline.Dedup.ingestDedup]]).
    * The final kept set must equal batch-mode fuzzy dedup of the whole
    * corpus — q_dedup_incremental reuses q_dedup_fuzzy's oracle SQL. */
  def dedupIndexDir(spark: SparkSession, sfDir: String): String =
    synchronized {
      val dir = s"${root(sfDir)}/dedup_index"
      // 3 ingest commits + 1 compaction (post-ingest maintenance)
      if (!complete(spark, dir, 4)) {
        rm(spark, dir)
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val n = docs.count()
        def ingest(i: Int, ts: String): Unit =
          graft.pipeline.Dedup.ingestDedup(spark, dir,
            docs.filter(col("doc_id") * 3 >= lit(i * n) &&
              col("doc_id") * 3 < lit((i + 1) * n)),
            col("doc_id"), col("text"), ts = Some(ts))
        ingest(0, C1); ingest(1, C2); ingest(2, C3)
        graft.write.MorWriter.compactTable(spark, dir)
      }
      dir
    }

  /** Incremental SEMANTIC-dedup index over `embeddings`, ingested in three
    * vec_id-ordered batches ([[graft.pipeline.Dedup.semIngestDedup]]) with
    * q_sem_dedup's exact anchor/threshold config. The final kept set must
    * equal batch-mode [[graft.pipeline.Dedup.semDedupKeep]] of the whole
    * corpus — q_sem_dedup_incremental reuses q_sem_dedup's oracle SQL. */
  def semIndexDir(spark: SparkSession, sfDir: String): String =
    synchronized {
      val dir = s"${root(sfDir)}/sem_index"
      // 3 ingest commits + 1 post-ingest compaction (MOR state table
      // since r14 — the serving reads go back to plain base scans)
      if (!complete(spark, dir, 4)) {
        rm(spark, dir)
        val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val n = embs.count()
        val anchors = graft.pipeline.Dedup.rademacherAnchors(32, 64, 11L)
        def ingest(i: Int, ts: String): Unit =
          graft.pipeline.Dedup.semIngestDedup(spark, dir,
            embs.filter(col("vec_id") * 3 >= lit(i * n) &&
              col("vec_id") * 3 < lit((i + 1) * n)),
            col("vec_id"), col("embedding"), anchors,
            thresholdNum = 2, thresholdDen = 5, ts = Some(ts))
        ingest(0, C1); ingest(1, C2); ingest(2, C3)
        graft.write.MorWriter.compactTable(spark, dir)
      }
      dir
    }

  /** CDC MIRROR of the COW fixture: its full change feed (one
    * multi-commit batch) applied to a fresh table via
    * `operation=cdc` — the newest change per key wins, deletes remove
    * their keys. The mirror's snapshot must equal the source's final
    * state exactly (the oracle's check). */
  def mirrorDir(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = s"${root(sfDir)}/orders_mirror"
    if (!complete(spark, dir, 1)) {
      rm(spark, dir)
      val src = cowDir(spark, sfDir)
      spark.read.format("graft")
        .option("from", "0").option("cdc", "true").load(src)
        .write.format("graft")
        .option("key", "o_orderkey").option("partition", "o_orderstatus")
        .option("operation", "cdc")
        .option("buckets", "8").option("ts", C1)
        .mode("append").save(dir)
    }
    dir
  }

  /** Table whose head state is a SORT-LAYOUT rewrite (CLUSTER commit):
    * C1 inserts all orders, C2 deletes keys %7==0, C3 rewrites every live
    * group sorted by o_totalprice within each file — layout-only, so the
    * snapshot must equal the post-C2 state exactly (the oracle's check). */
  def sortedDir(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = s"${root(sfDir)}/orders_sorted"
    if (!complete(spark, dir, 3)) {
      rm(spark, dir)
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val k = col("o_orderkey")
      val w = new CowWriter(spark, dir, numBuckets = 8)
      w.insert(orders, k, col("o_orderstatus"), C1)
      w.delete(orders.filter(k % 7 === 0), k, col("o_orderstatus"), C2)
      graft.write.TableMaintenance.sortLayout(spark, dir, C3,
        Seq("o_totalprice"))
    }
    dir
  }

  /** Table whose head state is a Z-ORDER rewrite (CLUSTER commit): same
    * script as [[sortedDir]] but C3 is `zorderLayout(o_custkey,
    * o_totalprice)` — multi-dimensional locality instead of a
    * lexicographic sort. Layout-only: the snapshot must equal the post-C2
    * state exactly, and range predicates on EITHER column prune. */
  def zorderDir(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = s"${root(sfDir)}/orders_zorder"
    if (!complete(spark, dir, 3)) {
      rm(spark, dir)
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val k = col("o_orderkey")
      val w = new CowWriter(spark, dir, numBuckets = 8)
      w.insert(orders, k, col("o_orderstatus"), C1)
      w.delete(orders.filter(k % 7 === 0), k, col("o_orderstatus"), C2)
      graft.write.TableMaintenance.zorderLayout(spark, dir, C3,
        Seq("o_custkey", "o_totalprice"))
    }
    dir
  }

  /** COW fixture history (same script as [[cowDir]]) with the timeline
    * ARCHIVED down to one active commit: C1–C3 live only in an archive
    * manifest. Snapshots, time travel and incremental reads must be
    * byte-identical to the unarchived table (the oracle's check). */
  def archivedDir(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = s"${root(sfDir)}/orders_archived"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val hasArchive = fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/.hoodie/${Timeline.ArchiveDir}"))
    if (!complete(spark, dir, 4) || !hasArchive) {
      rm(spark, dir)
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val k = col("o_orderkey")
      val w = new CowWriter(spark, dir, numBuckets = 8)
      w.insert(orders, k, col("o_orderstatus"), C1)
      w.delete(orders.filter(k % 7 === 0), k, col("o_orderstatus"), C2)
      w.upsert(orders.filter(k % 10 === 3 && k % 7 =!= 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100000),
        k, col("o_orderstatus"), C3)
      w.delete(orders.filter(k % 11 === 5 && k % 7 =!= 0),
        k, col("o_orderstatus"), C4)
      graft.write.TableMaintenance.archiveTimeline(spark, dir,
        keepActive = 1)
    }
    dir
  }

  /** Table REBUCKETED mid-history: C1 format-create of all orders at 4
    * buckets, C2 delete keys %7==0, C3 `rebucket` to 9 (layout-only
    * CLUSTER commit re-recording the count), C4 format append upserting
    * keys %10==3 with o_totalprice += 100000 — routed by the RESCALED
    * count resolved from commit metadata. Head snapshot must equal the
    * same script without the rescale (the oracle's check). */
  def rebucketDir(spark: SparkSession, sfDir: String): String =
    synchronized {
      val dir = s"${root(sfDir)}/orders_rebucket"
      if (!complete(spark, dir, 4)) {
        rm(spark, dir)
        val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        val k = col("o_orderkey")
        orders.write.format("graft")
          .option("key", "o_orderkey").option("partition", "o_orderstatus")
          .option("buckets", "4").option("ts", C1).save(dir)
        orders.filter(k % 7 === 0).write.format("graft").mode("append")
          .option("operation", "delete").option("ts", C2).save(dir)
        graft.write.TableMaintenance.rebucket(spark, dir, C3,
          newBuckets = 9)
        orders.filter(k % 10 === 3 && k % 7 =!= 0)
          .withColumn("o_totalprice", col("o_totalprice") + 100000)
          .write.format("graft").mode("append")
          .option("ts", C4).save(dir) // no buckets: rescaled count applies
      }
      dir
    }

  /** Table with an EVENT-TIME ordering column (`precombine=o_orderdate`):
    * C1 format-create of all orders, C2 upsert of keys %10==3 where the
    * %20==3 half is STALE (o_orderdate shifted 10000 days back, price
    * +555555 — must NOT apply) and the %20==13 half is FRESH (o_orderdate
    * +1 day, price +100000 — must apply). `tpe` picks COW (write-time
    * resolution) or MOR with the delta left un-compacted (merge-time
    * resolution). All arithmetic key-derived → exactly mirrorable in the
    * DuckDB oracle. */
  def precombineDir(spark: SparkSession, sfDir: String,
      tpe: String): String = synchronized {
    val dir = s"${root(sfDir)}/orders_precombine_$tpe"
    if (!complete(spark, dir, 2)) {
      rm(spark, dir)
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val k = col("o_orderkey")
      orders.write.format("graft")
        .option("key", "o_orderkey").option("partition", "o_orderstatus")
        .option("type", tpe).option("buckets", "8")
        .option("precombine", "o_orderdate")
        .option("ts", C1).save(dir)
      orders.filter(k % 10 === 3)
        .withColumn("o_orderdate",
          when(k % 20 === 3,
            col("o_orderdate") - expr("INTERVAL 10000 DAYS"))
            .otherwise(col("o_orderdate") + expr("INTERVAL 1 DAY")))
        .withColumn("o_totalprice",
          when(k % 20 === 3, col("o_totalprice") + 555555)
            .otherwise(col("o_totalprice") + 100000))
        .write.format("graft").mode("append").option("ts", C2).save(dir)
    }
    dir
  }

  /** Table with a METADATA-ONLY partition drop in its history: C1
    * format-create of all orders, C2 upsert keys %10==3 (price +100000),
    * C3 `deletePartitions("F")` — no data job, the F groups are
    * superseded filelessly. Snapshot serves only the surviving
    * partitions; time travel to C2 still serves F. */
  def pdropDir(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = s"${root(sfDir)}/orders_pdrop"
    if (!complete(spark, dir, 3)) {
      rm(spark, dir)
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val k = col("o_orderkey")
      orders.write.format("graft")
        .option("key", "o_orderkey").option("partition", "o_orderstatus")
        .option("buckets", "8").option("ts", C1).save(dir)
      orders.filter(k % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + 100000)
        .write.format("graft").mode("append").option("ts", C2).save(dir)
      graft.write.TableMaintenance.deletePartitions(spark, dir, C3,
        Seq("F"))
    }
    dir
  }

  /** COW fixture history (same script as [[cowDir]]) with C2 SAVEPOINTED
    * and the cleaner run at `retainCommits = 1`: every slice outside the
    * head snapshot is reclaimed EXCEPT what the pinned C2 snapshot
    * reaches. Time travel to C2 must still serve exactly (the oracle's
    * check) — without the savepoint the same clean breaks it. */
  def savepointDir(spark: SparkSession, sfDir: String): String =
    synchronized {
      val dir = s"${root(sfDir)}/orders_savepoint"
      if (!complete(spark, dir, 4)) {
        rm(spark, dir)
        val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        val k = col("o_orderkey")
        val w = new CowWriter(spark, dir, numBuckets = 8)
        w.insert(orders, k, col("o_orderstatus"), C1)
        w.delete(orders.filter(k % 7 === 0), k, col("o_orderstatus"), C2)
        w.upsert(orders.filter(k % 10 === 3 && k % 7 =!= 0)
          .withColumn("o_totalprice", col("o_totalprice") + 100000),
          k, col("o_orderstatus"), C3)
        w.delete(orders.filter(k % 11 === 5 && k % 7 =!= 0),
          k, col("o_orderstatus"), C4)
        graft.write.TableMaintenance.savepoint(spark, dir, C2)
        graft.write.TableMaintenance.clean(spark, dir, retainCommits = 1)
      }
      dir
    }

  /** Table with a per-file BLOOM skipping index on `o_custkey` (a non-key
    * high-cardinality column whose values interleave across every file —
    * min/max ranges are blind there): C1 format-create with
    * `blooms=o_custkey`, C2 delete keys %7==0 (rewrites carry fresh
    * blooms). Customer point-lookups plan only bloom-hit files. */
  def bloomDir(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = s"${root(sfDir)}/orders_bloom"
    if (!complete(spark, dir, 2)) {
      rm(spark, dir)
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      orders.write.format("graft")
        .option("key", "o_orderkey").option("partition", "o_orderstatus")
        .option("buckets", "8").option("blooms", "o_custkey")
        .option("ts", C1).save(dir)
      orders.filter(col("o_orderkey") % 7 === 0)
        .write.format("graft").mode("append")
        .option("operation", "delete").option("ts", C2).save(dir)
    }
    dir
  }

  /** Table mutated ENTIRELY through SQL DML (requires the
    * `graft.GraftExtensions` rules on the session): C1 format-writer create
    * of all orders, then `DELETE FROM` keys %7==0, `UPDATE` keys %10==3
    * (o_totalprice += 100000), and one `MERGE INTO` with source keys %11==5
    * (matched → o_totalprice = source price * 2; not matched — previously
    * deleted %7 keys — re-INSERTed with original payload). Four commits;
    * DML commit timestamps are writer-minted, so queries locate them by
    * timeline position. All predicates are key-arithmetic → exactly
    * mirrorable in the DuckDB oracle SQL. */
  /** DSv2-CATALOG-managed table ([[graft.sources.GraftCatalog]]): created
    * and mutated ENTIRELY by catalog SQL on the pure DSv2 path — no
    * extension rule involved (the no-extension `INSERT INTO` surface,
    * VERDICT r7 next-round #1). Script: CTAS of keys %2==0 (create +
    * insert commits), `INSERT INTO` keys %3==0 with o_totalprice+100000
    * (upsert-by-key: %6==0 keys are REPLACED, odd %3 keys inserted), then
    * `DELETE FROM ... WHERE o_orderstatus = 'F'` (translatable predicate →
    * [[graft.sources.GraftV2Table]] SupportsDelete, one delete commit).
    * Four commits, all key/partition arithmetic → DuckDB-mirrorable.
    * Returns (table base path, catalog-qualified SQL name). */
  def dsv2Dir(spark: SparkSession, sfDir: String): (String, String) =
    synchronized {
      val wh = s"${root(sfDir)}/dsv2_wh"
      // catalog name is per-SF: CatalogManager caches the initialized
      // plugin by name, so one session touching two SFs must not reuse a
      // name against a different warehouse
      val cat = "graft_fix_" + sfDir.replaceAll("[^0-9a-zA-Z]", "_")
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val tbl = s"$cat.main.orders_ins"
      val dir = s"$wh/main/orders_ins"
      // r9/r10: o_totalprice (min/max), o_cents (BIGINT) and o_price_dec
      // (DECIMAL(20,2)) are DECLARED stats columns feeding the DSv2
      // metadata aggregate pushdown (q_v2_minmax/q_v2_sum). The derived
      // exact-numeric twins exist because per-file SUMs are recorded for
      // exact types only (fp addition is order-dependent — the r9
      // q_v2_sum lesson); both are reconstructible in DuckDB from the
      // same integer-cents arithmetic, so sums stay oracle-exact.
      // Rebuild a cached fixture predating the declarations.
      def statsDeclared = {
        val tl = graft.format.Timeline(
          spark.sessionState.newHadoopConf(), dir)
        graft.write.WriteContract.resolve(tl, Map.empty).statsCols
          .contains("o_price_dec") &&
          tl.completedInstants().lastOption.exists(i =>
            tl.metadata(i.ts).allStats.forall { case (_, st) =>
              st.path.isEmpty ||
                Seq("o_cents", "o_price_dec").forall(c =>
                  st.colStats.get(c).exists(_.sum.isDefined))
            })
      }
      // exact integer cents (both engines round(double) half-away-from-
      // zero) and an exact decimal price built from them by exact decimal
      // multiplication — identical values in Spark and DuckDB
      def derived(price: String) =
        s"CAST(round(($price) * 100) AS BIGINT) AS o_cents, " +
          s"CAST(CAST(round(($price) * 100) AS BIGINT) AS DECIMAL(16,0))" +
          s" * CAST(0.01 AS DECIMAL(3,2)) AS o_price_dec"
      if (!complete(spark, dir, 4) || !statsDeclared) {
        rm(spark, dir)
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
        spark.read.parquet(s"$sfDir/orders.parquet")
          .createOrReplaceTempView("graft_dsv2_src")
        spark.sql(
          s"""CREATE TABLE $tbl PARTITIONED BY (o_orderstatus)
             |TBLPROPERTIES (key 'o_orderkey', buckets '8',
             |  stats 'o_totalprice,o_cents,o_price_dec')
             |AS SELECT o.*, ${derived("o_totalprice")}
             |FROM graft_dsv2_src o WHERE o_orderkey % 2 = 0"""
            .stripMargin)
        spark.sql(
          s"""INSERT INTO $tbl SELECT o_orderkey, o_custkey, o_orderstatus,
             |o_totalprice + 100000, o_orderdate, o_orderpriority,
             |${derived("o_totalprice + 100000")}
             |FROM graft_dsv2_src WHERE o_orderkey % 3 = 0""".stripMargin)
        spark.sql(s"DELETE FROM $tbl WHERE o_orderstatus = 'F'")
      }
      (dir, tbl)
    }

  /** Second catalog table in the SAME warehouse as [[dsv2Dir]], bucketed
    * identically (key o_orderkey, buckets 8) — the storage-partitioned
    * join partner for `q_v2_spj`: keys %5==0 with a shifted cents column
    * (CTAS only, 2 commits). Returns the catalog-qualified SQL name. */
  def dsv2DimDir(spark: SparkSession, sfDir: String): String =
    synchronized {
      dsv2Dir(spark, sfDir) // ensures catalog conf + namespace exist
      val wh = s"${root(sfDir)}/dsv2_wh"
      val cat = "graft_fix_" + sfDir.replaceAll("[^0-9a-zA-Z]", "_")
      val tbl = s"$cat.main.orders_dim"
      val dir = s"$wh/main/orders_dim"
      if (!complete(spark, dir, 2)) {
        rm(spark, dir)
        spark.read.parquet(s"$sfDir/orders.parquet")
          .createOrReplaceTempView("graft_dsv2_dim_src")
        spark.sql(
          s"""CREATE TABLE $tbl PARTITIONED BY (o_orderstatus)
             |TBLPROPERTIES (key 'o_orderkey', buckets '8')
             |AS SELECT o_orderkey, o_orderstatus,
             |CAST(round(o_totalprice * 100) AS BIGINT) + 7 AS o_cents_dim
             |FROM graft_dsv2_dim_src WHERE o_orderkey % 5 = 0"""
            .stripMargin)
      }
      tbl
    }

  /** MOR twin of [[dsv2Dir]] with OUTSTANDING deltas (never compacted):
    * CTAS of even keys, a DELTA upsert of %3 keys at +100000, a DELTA
    * delete of status 'F' — content-identical to `orders_ins`, so it
    * shares its oracle arithmetic, but every read must run the per-group
    * merge. The `q_v2_spj_mor` fixture: storage-partitioned joins must
    * survive compaction lag (VERDICT r10 #1). */
  def dsv2MorDir(spark: SparkSession, sfDir: String): String =
    synchronized {
      dsv2Dir(spark, sfDir) // ensures catalog conf + namespace exist
      val wh = s"${root(sfDir)}/dsv2_wh"
      val cat = "graft_fix_" + sfDir.replaceAll("[^0-9a-zA-Z]", "_")
      val tbl = s"$cat.main.orders_mor"
      val dir = s"$wh/main/orders_mor"
      def derived(price: String) =
        s"CAST(round(($price) * 100) AS BIGINT) AS o_cents"
      if (!complete(spark, dir, 4)) {
        rm(spark, dir)
        spark.read.parquet(s"$sfDir/orders.parquet")
          .createOrReplaceTempView("graft_dsv2_mor_src")
        spark.sql(
          s"""CREATE TABLE $tbl PARTITIONED BY (o_orderstatus)
             |TBLPROPERTIES (key 'o_orderkey', buckets '8', type 'mor')
             |AS SELECT o.*, ${derived("o_totalprice")}
             |FROM graft_dsv2_mor_src o WHERE o_orderkey % 2 = 0"""
            .stripMargin)
        spark.sql( // DELTA upsert
          s"""INSERT INTO $tbl SELECT o_orderkey, o_custkey, o_orderstatus,
             |o_totalprice + 100000, o_orderdate, o_orderpriority,
             |${derived("o_totalprice + 100000")}
             |FROM graft_dsv2_mor_src WHERE o_orderkey % 3 = 0"""
            .stripMargin)
        spark.sql(s"DELETE FROM $tbl WHERE o_orderstatus = 'F'") // DELTA
        // the fixture's whole point: deltas must be OUTSTANDING
        val tl = graft.format.Timeline(
          spark.sessionState.newHadoopConf(), dir)
        require(tl.latestSlices(None).values.exists(_.deltas.nonEmpty),
          s"dsv2MorDir fixture expected outstanding deltas at $dir")
      }
      tbl
    }

  /** APPEND-ONLY MOR twin: CTAS of even keys, then a DELTA insert of the
    * odd keys — every delta row a brand-new live key, zero deletes/
    * updates. The shape whose metadata MIN/MAX/SUM stay foldable with
    * deltas outstanding (`q_v2_minmax_mor`): the live table is simply
    * ALL orders. */
  def dsv2MorAppDir(spark: SparkSession, sfDir: String): String =
    synchronized {
      dsv2Dir(spark, sfDir) // ensures catalog conf + namespace exist
      val wh = s"${root(sfDir)}/dsv2_wh"
      val cat = "graft_fix_" + sfDir.replaceAll("[^0-9a-zA-Z]", "_")
      val tbl = s"$cat.main.orders_mor_app"
      val dir = s"$wh/main/orders_mor_app"
      if (!complete(spark, dir, 3)) { // creation + CTAS insert + delta
        rm(spark, dir)
        spark.read.parquet(s"$sfDir/orders.parquet")
          .createOrReplaceTempView("graft_dsv2_morapp_src")
        spark.sql(
          s"""CREATE TABLE $tbl PARTITIONED BY (o_orderstatus)
             |TBLPROPERTIES (key 'o_orderkey', buckets '8', type 'mor',
             |  stats 'o_cents')
             |AS SELECT o_orderkey, o_orderstatus,
             |CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
             |FROM graft_dsv2_morapp_src WHERE o_orderkey % 2 = 0"""
            .stripMargin)
        spark.sql( // DELTA insert of exclusively NEW keys
          s"""INSERT INTO $tbl SELECT o_orderkey, o_orderstatus,
             |CAST(round(o_totalprice * 100) AS BIGINT)
             |FROM graft_dsv2_morapp_src WHERE o_orderkey % 2 = 1"""
            .stripMargin)
        val tl = graft.format.Timeline(
          spark.sessionState.newHadoopConf(), dir)
        require(tl.latestSlices(None).values.exists(_.deltas.nonEmpty),
          s"dsv2MorAppDir fixture expected outstanding deltas at $dir")
      }
      tbl
    }

  def sqlDmlDir(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = s"${root(sfDir)}/orders_sqldml"
    if (!complete(spark, dir, 4)) {
      rm(spark, dir)
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      orders.write.format("graft")
        .option("key", "o_orderkey").option("partition", "o_orderstatus")
        .option("buckets", "8").option("ts", C1).save(dir)
      val tbl = "graft_sqldml_fixture"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$dir')")
      try {
        spark.sql(s"DELETE FROM $tbl WHERE o_orderkey % 7 = 0")
        spark.sql(s"UPDATE $tbl SET o_totalprice = o_totalprice + 100000 " +
          "WHERE o_orderkey % 10 = 3")
        orders.filter(col("o_orderkey") % 11 === 5)
          .createOrReplaceTempView("graft_sqldml_src")
        spark.sql(
          s"""MERGE INTO $tbl t USING graft_sqldml_src s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice * 2
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      } finally spark.sql(s"DROP TABLE $tbl")
    }
    dir
  }

  /** Table whose schema EVOLVES through SQL: C1 format-writer create of all
    * orders, then `ALTER TABLE ... ADD COLUMNS (score BIGINT)` (an empty
    * schema-evolution commit), an `UPDATE` writing the new column for keys
    * %10==3, and `ALTER TABLE ... DROP COLUMNS (o_orderpriority)` (an empty
    * schema-narrowing commit) — the final snapshot mixes pre-evolution
    * files (score null-padded, o_orderpriority bytes present but no longer
    * requested) with rewritten groups. */
  def sqlAlterDir(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = s"${root(sfDir)}/orders_sqlalter"
    if (!complete(spark, dir, 4)) {
      rm(spark, dir)
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      orders.write.format("graft")
        .option("key", "o_orderkey").option("partition", "o_orderstatus")
        .option("buckets", "8").option("ts", C1).save(dir)
      val tbl = "graft_sqlalter_fixture"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$dir')")
      try {
        spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (score BIGINT)")
        spark.sql(s"UPDATE $tbl SET score = o_orderkey % 100 " +
          "WHERE o_orderkey % 10 = 3")
        spark.sql(s"ALTER TABLE $tbl DROP COLUMNS (o_orderpriority)")
      } finally spark.sql(s"DROP TABLE $tbl")
    }
    dir
  }

  /** Incrementally maintained MATERIALIZED AGGREGATE (see
    * [[graft.views.MaterializedAgg]]): source table scripted C1 insert /
    * C2 upsert (%10==3, +100000) / C3 delete (%7==0) with a view refresh
    * after EVERY commit — bootstrap then two incremental (CDC-driven)
    * refreshes, the second covering a delete commit. The view must equal
    * a full GROUP BY of the final source snapshot (q_mat_view's oracle).
    * Returns the VIEW directory. */
  def matViewDir(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = s"${root(sfDir)}/orders_matview"
    val src = s"$dir/src"; val view = s"$dir/view"
    val view2 = s"$dir/view2" // multi-measure twin (sum_cents + sum_keymod)
    def instants(d: String) = Timeline(
      spark.sessionState.newHadoopConf(), d).completedInstants().size
    if (!complete(spark, src, 3) || instants(view) != 3 ||
      instants(view2) != 3) {
      rm(spark, dir)
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val k = col("o_orderkey")
      val cents = round(col("o_totalprice") * 100).cast("long")
      def refresh(): Unit = {
        graft.views.MaterializedAgg.refresh(
          spark, src, view, "o_custkey", cents, buckets = 8)
        graft.views.MaterializedAgg.refresh(
          spark, src, view2, "o_custkey",
          Seq("cents" -> cents, "keymod" -> (k % 100)), buckets = 8)
      }
      val w = new CowWriter(spark, src, numBuckets = 8)
      w.insert(orders, k, col("o_orderstatus"), C1)
      refresh()
      w.upsert(orders.filter(k % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + 100000),
        k, col("o_orderstatus"), C2)
      refresh()
      w.delete(orders.filter(k % 7 === 0), k, col("o_orderstatus"), C3)
      refresh()
    }
    view
  }

  /** Multi-measure twin of [[matViewDir]]'s view (built together). */
  def matViewMultiDir(spark: SparkSession, sfDir: String): String = {
    matViewDir(spark, sfDir)
    s"${root(sfDir)}/orders_matview/view2"
  }

  /** Maintained MIN/MAX view (see [[graft.views.MaterializedExtrema]])
    * over a DELETE-HEAVY history: C1 insert, C2 upsert (%10==3, +100000 —
    * retracts the pre-update value, often a group extremum), C3 delete of
    * HALF the rows (%2==0), refreshing after every commit. The view must
    * equal a full GROUP BY min/max of the final snapshot
    * (q_mat_view_minmax's oracle). Returns the VIEW directory. */
  def matViewMinmaxDir(spark: SparkSession, sfDir: String): String =
    synchronized {
      val dir = s"${root(sfDir)}/orders_matview_minmax"
      val src = s"$dir/src"; val view = s"$dir/view"
      val viewk = s"$dir/viewk" // top-3 twin off the same source script
      def instants(d: String) = Timeline(
        spark.sessionState.newHadoopConf(), d).completedInstants().size
      if (!complete(spark, src, 3) || instants(view) != 3 ||
        instants(viewk) != 3) {
        rm(spark, dir)
        val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        val k = col("o_orderkey")
        val cents = round(col("o_totalprice") * 100).cast("long")
        def refresh(): Unit = {
          graft.views.MaterializedExtrema.refresh(
            spark, src, view, "o_custkey", cents, buckets = 8)
          graft.views.MaterializedTopK.refresh(
            spark, src, viewk, "o_custkey", cents, k = 3, buckets = 8): Unit
        }
        val w = new CowWriter(spark, src, numBuckets = 8)
        w.insert(orders, k, col("o_orderstatus"), C1)
        refresh()
        w.upsert(orders.filter(k % 10 === 3)
          .withColumn("o_totalprice", col("o_totalprice") + 100000),
          k, col("o_orderstatus"), C2)
        refresh()
        w.delete(orders.filter(k % 2 === 0), k, col("o_orderstatus"), C3)
        refresh()
      }
      view
    }

  /** Maintained exact distinct-count view
    * ([[graft.views.MaterializedDistinct]]) over its own delete-heavy
    * source script: C1 insert, C2 custkey-mutating upsert (%10==3 →
    * +1000000: retraction + insert per row), C3 delete (%2==0), C4
    * NEW-key insert (%5==1 re-inserted at key+1000000000 with the
    * ORIGINAL custkey — exercises the zero-source-IO bitmap-union fast
    * path AND idempotent re-insertion of already-present values). */
  def matViewDistinctDir(spark: SparkSession, sfDir: String): String =
    synchronized {
      val dir = s"${root(sfDir)}/orders_matview_distinct"
      val src = s"$dir/src"; val view = s"$dir/view"
      def instants(d: String) = Timeline(
        spark.sessionState.newHadoopConf(), d).completedInstants().size
      if (!complete(spark, src, 4) || instants(view) != 4) {
        rm(spark, dir)
        val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        val k = col("o_orderkey")
        def refresh(): Unit =
          graft.views.MaterializedDistinct.refresh(
            spark, src, view, "o_orderpriority", col("o_custkey"),
            buckets = 8): Unit
        val w = new CowWriter(spark, src, numBuckets = 8)
        w.insert(orders, k, col("o_orderstatus"), C1)
        refresh()
        w.upsert(orders.filter(k % 10 === 3)
          .withColumn("o_custkey", col("o_custkey") + 1000000L),
          k, col("o_orderstatus"), C2)
        refresh()
        w.delete(orders.filter(k % 2 === 0), k, col("o_orderstatus"), C3)
        refresh()
        w.upsert(orders.filter(k % 5 === 1)
          .withColumn("o_orderkey", col("o_orderkey") + 1000000000L),
          col("o_orderkey"), col("o_orderstatus"), C4)
        refresh()
      }
      view
    }

  /** Maintained TOP-3 values view (see [[graft.views.MaterializedTopK]])
    * built with [[matViewMinmaxDir]] off the same delete-heavy source. */
  def matViewTopkDir(spark: SparkSession, sfDir: String): String = {
    matViewMinmaxDir(spark, sfDir)
    s"${root(sfDir)}/orders_matview_minmax/viewk"
  }

  /** Table created ENTIRELY through the write format surface
    * (`df.write.format("graft")`): C1 bulk insert of orders, C2 append
    * upserting keys %10==3 with o_totalprice += 100000 (same arithmetic as
    * the C3 script, so the oracle mirrors it 1:1), C3 DELETE of keys
    * %7==0 via `operation=delete`. Exercises mode semantics (Overwrite
    * create, Append upsert/delete) and the recorded-buckets pin. */
  def formatRtDir(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = s"${root(sfDir)}/orders_fmt"
    if (!complete(spark, dir, 3)) {
      rm(spark, dir)
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val k = col("o_orderkey")
      orders.write.format("graft")
        .option("key", "o_orderkey").option("partition", "o_orderstatus")
        .option("buckets", "8").option("ts", C1)
        .mode("overwrite").save(dir)
      orders.filter(k % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + 100000)
        .write.format("graft")
        .option("key", "o_orderkey").option("partition", "o_orderstatus")
        .option("ts", C2) // no buckets option: the recorded count applies
        .mode("append").save(dir)
      orders.filter(k % 7 === 0)
        .write.format("graft")
        .option("key", "o_orderkey").option("partition", "o_orderstatus")
        .option("operation", "delete").option("ts", C3)
        .mode("append").save(dir)
    }
    dir
  }

  /** IVF-partitioned ANN serving table over the embeddings corpus (one
    * directory per centroid cell — see [[graft.pipeline.Similarity.ivfWrite]])
    * plus its trained centroids, built once per scale factor. The centroids
    * are persisted next to the data so reuse needs no re-training; training
    * itself is deterministic (seeded), so a rebuild yields the same table. */
  /** Shared centroid/codebook persistence for the ANN fixtures — one
    * definition of the stored shape, reloaded identically everywhere. */
  private def saveCentroids(spark: SparkSession,
      centroids: Seq[(Int, Seq[Float])], dir: String): Unit = {
    import spark.implicits._
    centroids.toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private def loadCentroids(spark: SparkSession,
      dir: String): Seq[(Int, Seq[Float])] =
    spark.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toList: Seq[Float]))
      .sortBy(_._1).toSeq

  private def saveBooks(spark: SparkSession,
      books: graft.pipeline.Similarity.PqCodebooks, dir: String): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (cents, sub) =>
      cents.zipWithIndex.map { case (c, code) => (sub, code, c) }
    }.toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private def loadBooks(spark: SparkSession,
      dir: String): graft.pipeline.Similarity.PqCodebooks =
    spark.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Float](2).toList: Seq[Float]))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)

  def ivfDir(spark: SparkSession, sfDir: String,
      nlist: Int = 8): (String, Seq[(Int, Seq[Float])]) = synchronized {
    val dir = s"${root(sfDir)}/embeddings_ivf"
    val dataDir = s"$dir/data"
    val centDir = s"$dir/centroids"
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def done(d: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$d/_SUCCESS"))
    if (!done(centDir)) {
      rm(spark, dir)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val centroids = graft.pipeline.Similarity.ivfWrite(
        emb, col("vec_id"), col("embedding"), dataDir, nlist = nlist)
      saveCentroids(spark, centroids, centDir)
    }
    val cents = loadCentroids(spark, centDir)
    (dataDir, cents)
  }

  /** IVF index grown INCREMENTALLY: trained + bulk-loaded over vec_id
    * %3 != 2, then two [[graft.pipeline.Similarity.ivfIngest]] batches
    * (%3 == 2 split by %2) appended against the frozen centroids — the
    * serving index ends holding EVERY embedding. */
  def ivfIngestDir(spark: SparkSession, sfDir: String,
      nlist: Int = 8): (String, Seq[(Int, Seq[Float])]) = synchronized {
    val dir = s"${root(sfDir)}/embeddings_ivf_ingest"
    val dataDir = s"$dir/data"
    val centDir = s"$dir/centroids"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def done(d: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$d/_SUCCESS"))
    if (!done(centDir)) {
      rm(spark, dir)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val id = col("vec_id"); val v = col("embedding")
      val centroids = graft.pipeline.Similarity.ivfWrite(
        emb.filter(id % 3 =!= 2), id, v, dataDir, nlist = nlist)
      graft.pipeline.Similarity.ivfIngest(
        emb.filter(id % 3 === 2 && id % 2 === 0), id, v, dataDir, centroids)
      graft.pipeline.Similarity.ivfIngest(
        emb.filter(id % 3 === 2 && id % 2 =!= 0), id, v, dataDir, centroids)
      saveCentroids(spark, centroids, centDir)
    }
    val cents = loadCentroids(spark, centDir)
    (dataDir, cents)
  }

  /** IVF-PQ index grown INCREMENTALLY: trained + bulk-loaded over vec_id
    * %3 != 2 (centroids AND codebooks frozen from that 2/3), then two
    * [[graft.pipeline.Similarity.ivfPqIngest]] batches append the rest
    * PQ-encoded against the frozen model. */
  def ivfPqIngestDir(spark: SparkSession, sfDir: String, nlist: Int = 8,
      m: Int = 8, ksub: Int = 16)
      : (String, Seq[(Int, Seq[Float])],
         graft.pipeline.Similarity.PqCodebooks) = synchronized {
    val dir = s"${root(sfDir)}/embeddings_ivfpq_ingest"
    val dataDir = s"$dir/data"
    val centDir = s"$dir/centroids"
    val bookDir = s"$dir/codebooks"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def done(d: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$d/_SUCCESS"))
    if (!done(centDir) || !done(bookDir)) {
      rm(spark, dir)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val id = col("vec_id"); val v = col("embedding")
      val (centroids, books) = graft.pipeline.Similarity.ivfPqWrite(
        emb.filter(id % 3 =!= 2), id, v, dataDir, dim = 64,
        nlist = nlist, m = m, ksub = ksub)
      graft.pipeline.Similarity.ivfPqIngest(
        emb.filter(id % 3 === 2 && id % 2 === 0), id, v, dataDir,
        centroids, books, dim = 64, m = m)
      graft.pipeline.Similarity.ivfPqIngest(
        emb.filter(id % 3 === 2 && id % 2 =!= 0), id, v, dataDir,
        centroids, books, dim = 64, m = m)
      saveCentroids(spark, centroids, centDir)
      saveBooks(spark, books, bookDir)
    }
    val cents = loadCentroids(spark, centDir)
    val books = loadBooks(spark, bookDir)
    (dataDir, cents, books)
  }

  /** IVF-PQ serving index over `embeddings` (cells + compressed codes +
    * stored norms; see [[graft.pipeline.Similarity.ivfPqWrite]]), with the
    * centroids AND per-subspace codebooks persisted beside the data — the
    * deployment shape where queries re-load both as metadata. */
  def ivfPqDir(spark: SparkSession, sfDir: String, nlist: Int = 8,
      m: Int = 8, ksub: Int = 16)
      : (String, Seq[(Int, Seq[Float])],
         graft.pipeline.Similarity.PqCodebooks) = synchronized {
    val dir = s"${root(sfDir)}/embeddings_ivfpq_res"  // _res: residual-PQ index (r8 tail)
    val dataDir = s"$dir/data"
    val centDir = s"$dir/centroids"
    val bookDir = s"$dir/codebooks"
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def done(d: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$d/_SUCCESS"))
    if (!done(centDir) || !done(bookDir)) {
      rm(spark, dir)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val (centroids, books) = graft.pipeline.Similarity.ivfPqWrite(
        emb, col("vec_id"), col("embedding"), dataDir, dim = 64,
        nlist = nlist, m = m, ksub = ksub)
      saveCentroids(spark, centroids, centDir)
      saveBooks(spark, books, bookDir)
    }
    val cents = loadCentroids(spark, centDir)
    val books = loadBooks(spark, bookDir)
    (dataDir, cents, books)
  }

  /** IVF-OPQ serving index (r11): the `OPQm,IVFn,PQm` production layout —
    * OPQ rotation trained first, then the whole IVF-PQ pipeline in
    * rotated space; rotation persisted beside centroids and codebooks. */
  def ivfOpqDir(spark: SparkSession, sfDir: String, nlist: Int = 8,
      m: Int = 8, ksub: Int = 16)
      : (String, Seq[Seq[Double]], Seq[(Int, Seq[Float])],
         graft.pipeline.Similarity.PqCodebooks) = synchronized {
    val dir = s"${root(sfDir)}/embeddings_ivfopq"
    val dataDir = s"$dir/data"
    val centDir = s"$dir/centroids"
    val bookDir = s"$dir/codebooks"
    val rotDir = s"$dir/rotation"
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def done(d: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$d/_SUCCESS"))
    if (!done(centDir) || !done(bookDir) || !done(rotDir)) {
      rm(spark, dir)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val (rot, centroids, books) = graft.pipeline.Similarity.ivfOpqWrite(
        emb, col("vec_id"), col("embedding"), dataDir, dim = 64,
        nlist = nlist, m = m, ksub = ksub, iters = 1, opqIters = 1,
        trainFraction = 0.5)
      import spark.implicits._
      rot.zipWithIndex.map { case (row, i) => (i, row) }
        .toDF("i", "row").coalesce(1)
        .write.mode("overwrite").parquet(rotDir)
      saveCentroids(spark, centroids, centDir)
      saveBooks(spark, books, bookDir)
    }
    val rot: Seq[Seq[Double]] = spark.read.parquet(rotDir).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toList: Seq[Double]))
      .sortBy(_._1).map(_._2).toSeq
    (dataDir, rot, loadCentroids(spark, centDir), loadBooks(spark, bookDir))
  }

  /** PCA-composed IVF-PQ index over `embeddings` (the FAISS
    * `PCAR<rank>,IVF<n>,PQ<m>` chain;
    * [[graft.pipeline.Similarity.ivfPcaWrite]]) — cells/residuals/codes
    * live in the rank-dim principal subspace, stored vectors original. */
  def ivfPcaDir(spark: SparkSession, sfDir: String, rank: Int = 16,
      nlist: Int = 8, m: Int = 8, ksub: Int = 16)
      : (String, Seq[Seq[Double]], Seq[(Int, Seq[Float])],
         graft.pipeline.Similarity.PqCodebooks) = synchronized {
    val dir = s"${root(sfDir)}/embeddings_ivfpca"
    val dataDir = s"$dir/data"
    val centDir = s"$dir/centroids"
    val bookDir = s"$dir/codebooks"
    val rotDir = s"$dir/rotation"
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def done(d: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$d/_SUCCESS"))
    if (!done(centDir) || !done(bookDir) || !done(rotDir)) {
      rm(spark, dir)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val (rot, centroids, books) = graft.pipeline.Similarity.ivfPcaWrite(
        emb, col("vec_id"), col("embedding"), dataDir, dim = 64,
        rank = rank, nlist = nlist, m = m, ksub = ksub, iters = 1,
        trainFraction = 0.5)
      import spark.implicits._
      rot.zipWithIndex.map { case (row, i) => (i, row) }
        .toDF("i", "row").coalesce(1)
        .write.mode("overwrite").parquet(rotDir)
      saveCentroids(spark, centroids, centDir)
      saveBooks(spark, books, bookDir)
    }
    val rot: Seq[Seq[Double]] = spark.read.parquet(rotDir).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toList: Seq[Double]))
      .sortBy(_._1).map(_._2).toSeq
    (dataDir, rot, loadCentroids(spark, centDir), loadBooks(spark, bookDir))
  }

  /** SELF-DESCRIBING `.ann` index grown INCREMENTALLY through its
    * persisted sidecars ([[graft.pipeline.Similarity.annIngest]]): built
    * via [[graft.pipeline.Similarity.annIndexBuild]] (variant pca — the
    * most composed path, so the STORED projection must be re-applied to
    * every batch) over vec_id % 3 != 2, then two annIngest batches append
    * the rest using the directory alone — no in-memory model crosses the
    * build/ingest boundary. q_ann_ingest_topk serves the grown index
    * exhaustively ≡ brute force over the union. */
  def annIngestDir(spark: SparkSession, sfDir: String): String =
    synchronized {
      val dir = s"${root(sfDir)}/embeddings_ann_ingest"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      // the ingest marker is written LAST: a crash mid-sequence leaves a
      // rebuildable partial, never a half-grown index that looks done
      if (!fs.exists(new org.apache.hadoop.fs.Path(
          s"$dir/ingested/_SUCCESS"))) {
        rm(spark, dir)
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val id = col("vec_id"); val v = col("embedding")
        graft.pipeline.Similarity.annIndexBuild(
          emb.filter(id % 3 =!= 2), id, v, dir, dim = 64, nlist = 8,
          iters = 1, trainFraction = 0.5, variant = "pca", rank = 16)
        graft.pipeline.Similarity.annIngest(spark, dir,
          emb.filter(id % 3 === 2 && id % 2 === 0), id, v, "fx-b1"): Unit
        graft.pipeline.Similarity.annIngest(spark, dir,
          emb.filter(id % 3 === 2 && id % 2 =!= 0), id, v, "fx-b2"): Unit
        import spark.implicits._
        Seq(1).toDF("ok").coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/ingested")
      }
      dir
    }

  /** `.ann` index with a LEDGERED TOMBSTONE SET
    * ([[graft.pipeline.Similarity.annDelete]]): built over 2/3 of the
    * corpus, one annIngest batch appends the rest, then vec_id % 7 = 0
    * is taken down. q_ann_delete_topk serves it exhaustively ≡ brute
    * force over corpus-minus-deleted — the takedown contract's oracle
    * gate (serving-time anti-join; the physical-removal twin is
    * spec-pinned in PipelineSpec). */
  def annDeleteDir(spark: SparkSession, sfDir: String): String =
    synchronized {
      val dir = s"${root(sfDir)}/embeddings_ann_delete"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      // the tombstone marker is written LAST: a crash mid-sequence
      // leaves a rebuildable partial, never a half-done index
      if (!fs.exists(new org.apache.hadoop.fs.Path(
          s"$dir/deleted/_SUCCESS"))) {
        rm(spark, dir)
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val id = col("vec_id"); val v = col("embedding")
        graft.pipeline.Similarity.annIndexBuild(
          emb.filter(id % 3 =!= 2), id, v, dir, dim = 64, nlist = 8,
          iters = 1, trainFraction = 0.5, variant = "pca", rank = 16)
        graft.pipeline.Similarity.annIngest(spark, dir,
          emb.filter(id % 3 === 2), id, v, "fx-grow"): Unit
        graft.pipeline.Similarity.annDelete(spark, dir,
          emb.filter(id % 7 === 0), id, "fx-takedown"): Unit
        import spark.implicits._
        Seq(1).toDF("ok").coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/deleted")
      }
      dir
    }

  /** BM25 inverted index over `documents` (postings partitioned by term
    * bucket + one-row corpus stats sidecar;
    * [[graft.pipeline.TextRetrieval.buildIndex]]). */
  def textIndexDir(spark: SparkSession, sfDir: String,
      termBuckets: Int = 16): String = synchronized {
    val dir = s"${root(sfDir)}/text_index"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def complete: Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/stats/_SUCCESS")) &&
        // r10 tail: the positional index (phrase search) — a cache from
        // the pre-positions schema must rebuild
        (try spark.read.parquet(s"$dir/postings").schema
          .fieldNames.contains("positions")
        catch { case _: Throwable => false })
    if (!complete) {
      rm(spark, dir)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.pipeline.TextRetrieval.buildIndex(spark, docs,
        col("doc_id"), col("text"), dir, termBuckets = termBuckets)
    }
    dir
  }

  /** Incrementally maintained BM25 index over `documents`
    * ([[graft.pipeline.TextRetrieval.incIngest]]): three ingest batches
    * (doc_id %3 = 0/1/2) then one remove batch (%7 = 0) — the maintained
    * df/stats views end at 4 commits each. */
  def textIncIndexDir(spark: SparkSession, sfDir: String): String =
    synchronized {
      val dir = s"${root(sfDir)}/text_index_inc"
      def instants(d: String) = Timeline(
        spark.sessionState.newHadoopConf(), d).completedInstants().size
      def positional: Boolean =
        try graft.read.SnapshotReader.read(spark, s"$dir/postings")
          .schema.fieldNames.contains("positions")
        catch { case _: Throwable => false }
      if (instants(s"$dir/statsv") != 4 || instants(s"$dir/dfv") != 4 ||
        !positional) {
        rm(spark, dir)
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val id = col("doc_id"); val tx = col("text")
        // ts pins the bootstrap only; later batches are multi-table
        // transactions that mint their own reserved timestamps
        graft.pipeline.TextRetrieval.incIngest(spark, dir,
          docs.filter(id % 3 === 0), id, tx, ts = Some(C1))
        graft.pipeline.TextRetrieval.incIngest(spark, dir,
          docs.filter(id % 3 === 1), id, tx)
        graft.pipeline.TextRetrieval.incIngest(spark, dir,
          docs.filter(id % 3 === 2), id, tx)
        graft.pipeline.TextRetrieval.incRemove(spark, dir,
          docs.filter(id % 7 === 0), id, tx)
        // post-ingest maintenance: fold the MOR state tables' deltas so
        // serving reads are plain base scans again (content identity)
        graft.write.MorWriter.compactTable(spark, s"$dir/postings")
        graft.write.MorWriter.compactTable(spark, s"$dir/doclen")
      }
      dir
    }

  private def rm(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }
}

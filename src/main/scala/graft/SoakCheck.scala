package graft

import graft.deleteview.DeleteView
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale soak (VERDICT r7 next-round #5): synthetic stress of the three
  * headline paths at ~20× the bench SF's row counts, with the shared
  * local-mode heap CAPPED (`SPARK_DRIVER_MEM=4g` — a data-sized driver
  * collect or an unbounded single-partition operator dies here instead of
  * coasting on the default 8g), measuring per path:
  *
  *  - wall seconds, and PLANNING milliseconds separately (resolve +
  *    optimize + physical planning before any job) — planning must stay
  *    metadata-sized while data grows 20×;
  *  - Spark jobs + stages launched (a path whose job count scales with
  *    rows is driver-bound at 100 TB);
  *  - the LARGEST single-task input and shuffle-read — the per-task memory
  *    proxy; the gate requires max task input < 2 GiB (a task that reads
  *    more than an executor's share of memory spills or dies on a real
  *    cluster).
  *
  * Paths: (1) COW write → 5% delete commit → the reference's delete view;
  * (2) MOR write → partition-confined delta upserts → full merged snapshot
  * AND partition-pruned snapshot (the merge must stay bounded by DIRTY
  * groups); (3) three-batch `ingestDedup` over 100k synthetic docs with
  * planted cross-batch duplicates (the production incremental-dedup shape).
  *
  * Usage: SPARK_DRIVER_MEM=4g sbt "runMain graft.SoakCheck [outJson]"
  * Prints one JSON line (also written to outJson when given); `require`s
  * the gates so a regression fails the run loudly.
  */
object SoakCheck {

  /** Rows for the table paths (~20× the sf0.1 bench orders count). */
  val TableRows = 3000000L
  /** Docs for the dedup path (~20× the sf0.1 documents count). */
  val DocRows = 100000L

  private final class Metrics extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var taskEnds = 0
    @volatile var maxTaskInput = 0L
    @volatile var maxTaskShuffleRead = 0L
    @volatile var maxTaskShuffleRecords = 0L
    @volatile var totalShuffleWrite = 0L
    @volatile var maxTaskDurationMs = 0L
    /** Snapshot for stability polling (events post async). */
    def fingerprint: (Int, Int, Int, Long, Long, Long, Long, Long) =
      (jobs, stages, taskEnds, maxTaskInput, maxTaskShuffleRead,
        maxTaskShuffleRecords, totalShuffleWrite, maxTaskDurationMs)
    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      taskEnds += 1
      // CPU-skew gate for joins whose per-task COMPUTE is quadratic in
      // its keys' rows (the kNN hub cell): records can't see pair work,
      // wall duration can
      if (t.taskInfo != null)
        maxTaskDurationMs = math.max(maxTaskDurationMs,
          t.taskInfo.duration)
      val m = t.taskMetrics
      if (m != null) {
        maxTaskInput = math.max(maxTaskInput, m.inputMetrics.bytesRead)
        maxTaskShuffleRead = math.max(maxTaskShuffleRead,
          m.shuffleReadMetrics.localBytesRead +
            m.shuffleReadMetrics.remoteBytesRead)
        // bytes hide row skew under shuffle compression (boilerplate
        // strings compress ~100×) — record counts are the CPU-skew gate
        maxTaskShuffleRecords = math.max(maxTaskShuffleRecords,
          m.shuffleReadMetrics.recordsRead)
        totalShuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private final case class PathResult(name: String, rowsOut: Long,
      wallSec: Double, planMs: Long, jobs: Int, stages: Int,
      maxTaskInputMB: Long, maxTaskShuffleMB: Long,
      totalShuffleWriteMB: Long, maxTaskShuffleRecords: Long,
      maxTaskDurationMs: Long,
      metaListings: Long = 0L, metaOpens: Long = 0L) {
    def json: String =
      s"""{"rows_out":$rowsOut,"wall_sec":$wallSec,"plan_ms":$planMs,""" +
        s""""jobs":$jobs,"stages":$stages,""" +
        s""""max_task_input_mb":$maxTaskInputMB,""" +
        s""""max_task_shuffle_mb":$maxTaskShuffleMB,""" +
        s""""total_shuffle_write_mb":$totalShuffleWriteMB,""" +
        s""""max_task_shuffle_records":$maxTaskShuffleRecords,""" +
        s""""max_task_duration_ms":$maxTaskDurationMs,""" +
        s""""meta_listings":$metaListings,"meta_opens":$metaOpens}"""
  }

  /** Run `df`'s planning, then `action` under a fresh listener. */
  private def measure(spark: SparkSession, name: String)(
      plan: () => DataFrame)(action: DataFrame => Long): PathResult = {
    val m = new Metrics
    spark.sparkContext.addSparkListener(m)
    try {
      // r18: driver metadata-read accounting (timeline listings + commit
      // file opens) rides each path as a SOAK column — the per-query
      // planning-floor evidence for the shared-Timeline trimming.
      val l0 = graft.format.Timeline.hoodieListings.get()
      val o0 = graft.format.Timeline.commitFileOpens.get()
      val t0 = System.nanoTime()
      val df = plan()
      df.queryExecution.executedPlan // force resolve+optimize+planning
      val t1 = System.nanoTime()
      val rows = action(df)
      val t2 = System.nanoTime()
      // listener events post async — drain the bus exactly (the same
      // private[spark] hook Spark's own tests use), then poll briefly
      // until the counts are stable: a fixed sleep misses late task-end
      // events on a loaded host, undercounting maxTask* and letting the
      // 2 GiB per-task gates pass vacuously
      org.apache.spark.sql.graft.Bridge
        .waitForListeners(spark.sparkContext)
      var last = m.fingerprint
      var stableFor = 0
      val deadline = System.currentTimeMillis() + 5000
      while (stableFor < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(50)
        val now = m.fingerprint
        stableFor = if (now == last) stableFor + 1 else 0
        last = now
      }
      PathResult(name, rows, (t2 - t0) / 1e9, (t1 - t0) / 1000000L,
        m.jobs, m.stages, m.maxTaskInput >> 20, m.maxTaskShuffleRead >> 20,
        m.totalShuffleWrite >> 20, m.maxTaskShuffleRecords,
        m.maxTaskDurationMs,
        metaListings = graft.format.Timeline.hoodieListings.get() - l0,
        metaOpens = graft.format.Timeline.commitFileOpens.get() - o0)
    } finally spark.sparkContext.removeSparkListener(m)
  }

  /** Synthetic wide orders-like frame: 8 partitions, key = id. */
  private def synthTable(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, 64)
      .withColumn("part", concat(lit("p"), pmod(col("id"), lit(8))))
      .withColumn("v1", pmod(xxhash64(col("id"), lit(1)), lit(100000)))
      .withColumn("v2", pmod(xxhash64(col("id"), lit(2)), lit(1000)))
      .withColumn("s1", conv(pmod(xxhash64(col("id"), lit(3)),
        lit(1000000000)), 10, 36))
      .withColumn("s2", conv(pmod(xxhash64(col("id"), lit(4)),
        lit(1000000000)), 10, 36))

  /** Synthetic ~40-word doc text, deterministic in `gid` — docs sharing a
    * gid share text exactly (the planted duplicates). */
  private def synthText(gid: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    concat_ws(" ", (0 until 40).map(w =>
      conv(pmod(xxhash64(gid, lit(w)), lit(99991L)), 10, 36)): _*)

  def main(args: Array[String]): Unit = {
    val outFile = args.headOption
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val heapMb = Runtime.getRuntime.maxMemory() >> 20
    val root = "/tmp/graft_soak"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    try {

    // ---- path 1: COW write → 5% delete commit → delete view ------------
    // (written under <root>/ns/ so path 4 can mount it as a CATALOG table;
    // v1 is a declared stats column so per-file sums are recorded)
    val cowDir = s"$root/ns/cow"
    val data = synthTable(spark, TableRows)
    data.write.format("graft")
      .option("key", "id").option("partition", "part")
      .option("buckets", "16").option("stats", "v1")
      .option("ts", "1000").save(cowDir)
    // the delete REWRITES 5% of the groups: the rewriter must keep
    // recording v1's stats+sums or path 4's metadata aggregate declines
    new graft.write.CowWriter(spark, cowDir, 16, statsCols = Seq("v1"))
      .delete(data.filter(pmod(col("id"), lit(20)) === 0),
        col("id"), col("part"), "2000")
    val dv = measure(spark, "delete_view")(
      () => DeleteView(spark, cowDir, "2000").toDF())(_.count())
    require(dv.rowsOut == TableRows / 20,
      s"delete view returned ${dv.rowsOut}, expected ${TableRows / 20}")

    // ---- path 2: MOR write → confined deltas → merged snapshot ---------
    val morDir = s"$root/mor"
    data.write.format("graft")
      .option("key", "id").option("partition", "part")
      .option("buckets", "16").option("type", "mor")
      .option("ts", "1000").save(morDir)
    // two delta commits confined to partition p0 (1/8 of the groups dirty)
    val w = new graft.write.MorWriter(spark, morDir, 16)
    w.upsert(data.filter(col("part") === "p0" &&
      pmod(col("id"), lit(16)) === 0).withColumn("v1", col("v1") + 1),
      col("id"), col("part"), "3000")
    w.upsert(data.filter(col("part") === "p0" &&
      pmod(col("id"), lit(16)) === 8).withColumn("v1", col("v1") + 2),
      col("id"), col("part"), "4000")
    val mor = measure(spark, "mor_snapshot")(
      () => read.SnapshotReader.read(spark, morDir))(_.count())
    require(mor.rowsOut == TableRows,
      s"MOR snapshot returned ${mor.rowsOut}, expected $TableRows")
    // partition-pruned merged read: only p3's (clean) groups planned
    val morPart = measure(spark, "mor_snapshot_pruned")(
      () => read.SnapshotReader.read(spark, morDir)
        .filter(col(graft.format.MetaCols.PartitionPath) === "p3"))(_.count())
    require(morPart.rowsOut == TableRows / 8,
      s"pruned MOR snapshot returned ${morPart.rowsOut}")

    // ---- path 3: three-batch incremental dedup over 100k docs ----------
    val idxDir = s"$root/dedup_index"
    val b = DocRows / 3
    def batch(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi, 1, 32)
        .withColumn("gid", pmod(col("id"), lit(DocRows * 9 / 10)))
        .select(col("id"), synthText(col("gid")).as("text"))
    var kept = 0L
    val dd = measure(spark, "ingest_dedup")(() => {
      pipeline.Dedup.ingestDedup(spark, idxDir, batch(0, b),
        col("id"), col("text"), ts = Some("1000"))
      pipeline.Dedup.ingestDedup(spark, idxDir, batch(b, 2 * b),
        col("id"), col("text"), ts = Some("2000"))
      pipeline.Dedup.ingestDedup(spark, idxDir, batch(2 * b, DocRows),
        col("id"), col("text"), ts = Some("3000"))
    })(df => { kept = df.filter(col("kept")).count(); df.count() })
    require(dd.rowsOut == DocRows,
      s"dedup index holds ${dd.rowsOut} docs, expected $DocRows")
    // job budget (r13: MOR index + catalog-scan history reads +
    // materialized write frame cut 110 → 100 jobs, 442 → 385 MB shuffle)
    require(dd.jobs <= 3 * 45,
      s"ingest_dedup ran ${dd.jobs} jobs for 3 batches — budget is 45/batch")
    // planted duplicates: ids >= 90% of DocRows repeat earlier gids, so
    // kept must be exactly the distinct gid count
    require(kept == DocRows * 9 / 10,
      s"kept $kept docs, expected ${DocRows * 9 / 10}")

    // ---- path 4: DSv2 metadata aggregate at 20× (r10) ------------------
    // grouped COUNT/MIN/MAX/SUM on the 3M-row catalog table must stay a
    // metadata walk: GraftMetaAggScan in the plan, ZERO file-read bytes,
    // planning O(ms) — `SELECT sum(x) GROUP BY part` at 100 TB is a
    // per-file-stats fold, never a scan
    spark.conf.set("spark.sql.catalog.soakcat",
      classOf[sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.soakcat.warehouse", root)
    val aggSql = "SELECT part, count(*) AS n, min(v1) AS mn, " +
      "max(v1) AS mx, sum(v1) AS sv FROM soakcat.ns.cow GROUP BY part"
    require(spark.sql(aggSql).queryExecution.executedPlan.toString
      .contains("GraftMetaAggScan"),
      s"soak metadata aggregate not metadata-answered:\n" +
        spark.sql(aggSql).queryExecution.executedPlan)
    val metaAgg = measure(spark, "v2_meta_agg")(
      () => spark.sql(aggSql))(_.count())
    require(metaAgg.rowsOut == 8, s"v2_meta_agg rows ${metaAgg.rowsOut}")
    require(metaAgg.maxTaskInputMB == 0,
      s"v2_meta_agg read ${metaAgg.maxTaskInputMB} MB of files " +
        "(must be zero: metadata only)")

    // ---- path 5: catalog streaming drain at 20× (r10) ------------------
    // readStream.table over the same 3M-row catalog table (the
    // V1-fallback source): both commits drain exactly-once through
    // AvailableNow with per-task input bounded like any batch scan
    var streamedRows = 0L
    val stream = measure(spark, "catalog_stream")(() => {
      val q = spark.readStream.table("soakcat.ns.cow")
        .writeStream.format("noop")
        .option("checkpointLocation", s"$root/stream_ckp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(600000)
      streamedRows = q.recentProgress.map(_.numInputRows).sum
      spark.sql("SELECT 1")
    })(_ => streamedRows)
    // AvailableNow plans ONE batch over both commits: the commit-range
    // read emits each touched group's CURRENT rows, i.e. the survivors
    // of the 5% delete (every group was touched by it)
    require(streamedRows == TableRows - TableRows / 20,
      s"catalog stream drained $streamedRows rows, expected " +
        s"${TableRows - TableRows / 20}")

    // ---- path 6: bitmap distinct rollup at 20× (r10 tail) --------------
    // two-level exact distinct over 3M rows: per-(part, v2) bitmap
    // partials (8k groups), then per-part union — the raw keys cross the
    // shuffle ONCE into small partials; the rollup moves only bitmaps.
    // Every part holds exactly TableRows/8 distinct ids by construction.
    val bmAgg = measure(spark, "bitmap_rollup")(() =>
      data.groupBy(col("part"), col("v2"))
        .agg(functions.Bitmap64.bitmapBuild(col("id")).as("bm"))
        .groupBy(col("part"))
        .agg(functions.Bitmap64.bitmapCardinality(
          functions.Bitmap64.bitmapMerge(col("bm"))).as("n")))(df => {
      val rows = df.collect()
      rows.foreach(r => require(r.getLong(1) == TableRows / 8,
        s"bitmap rollup ${r.getString(0)}: ${r.getLong(1)} distinct, " +
          s"expected ${TableRows / 8}"))
      rows.length.toLong
    })
    require(bmAgg.rowsOut == 8, s"bitmap_rollup rows ${bmAgg.rowsOut}")

    // ---- path 7: BM25 index build + pruned search at 20× (r10 tail) ----
    // inverted index over the 100k synthetic docs (~4M postings), then a
    // 3-term search: the search must stay partition-pruned — its biggest
    // task reads a few term buckets' postings, not the corpus.
    val bmIdx = s"$root/text_index"
    val docsAll = spark.range(0, DocRows, 1, 32)
      .select(col("id"), synthText(col("id")).as("text"))
    val idxBuild = measure(spark, "bm25_build")(() => {
      pipeline.TextRetrieval.buildIndex(spark, docsAll, col("id"),
        col("text"), bmIdx, termBuckets = 16)
      spark.read.parquet(s"$bmIdx/stats")
    })(_.count())
    // query terms: the first tokens of one real doc (metadata-sized
    // read), LOWERCASED — synthText's base-36 words are uppercase but the
    // index tokenizer lowercases
    val qTerms = docsAll.limit(1).select(col("text")).head()
      .getString(0).toLowerCase(java.util.Locale.ROOT).split(" ").take(3).toSeq
    val search = measure(spark, "bm25_search")(() =>
      pipeline.TextRetrieval.exactTopK(spark, bmIdx, qTerms, k = 20))(
      _.count())
    require(search.rowsOut == 20, s"bm25_search rows ${search.rowsOut}")
    require(search.maxTaskInputMB < 64,
      s"bm25_search task read ${search.maxTaskInputMB} MB — " +
        "partition pruning failed at 20×")

    // ---- path 7b: MaxScore-pruned search on a SKEWED corpus (r11) ------
    // a HOT term planted in 90% of the 100k docs; query = hot + two
    // ordinary vocab terms (df ≈ 40). The rare terms' recorded impacts
    // set a top-k floor above the hot term's best impact, so the hot
    // term's ~90k docs are pruned BEFORE scoring — the lossless WAND
    // win; the pruned result must equal the full scan bit for bit.
    val wandIdx = s"$root/text_index_skew"
    val docsSkew = spark.range(0, DocRows, 1, 32).select(col("id"),
      concat_ws(" ", synthText(col("id")),
        when(pmod(col("id"), lit(10)) =!= 0, lit("hottt"))
          .otherwise(lit("cold"))).as("text"))
    pipeline.TextRetrieval.buildIndex(spark, docsSkew, col("id"),
      col("text"), wandIdx, termBuckets = 16)
    val skewTerms = qTerms :+ "hottt"
    var wandScored = 0L
    val wand = measure(spark, "bm25_wand")(() =>
      pipeline.TextRetrieval.exactTopK(spark, wandIdx, skewTerms,
        k = 20))(df => {
      val pruned = df.collect().toSeq
      wandScored = pipeline.TextRetrieval.wandCandidates(spark, wandIdx,
        skewTerms, 20, 16).map(_.count()).getOrElse(Long.MaxValue)
      // lossless: equal to the same scorer over an impacts-blind read
      // (wandCandidates disabled by asking beyond the sidecar's k)
      val full = pipeline.TextRetrieval.exactTopK(spark, wandIdx,
        skewTerms, k = pipeline.TextRetrieval.ImpactTopK + 8)
        .limit(20).collect().toSeq
      require(pruned == full, "WAND pruned top-k != full-scan top-k")
      pruned.length.toLong
    })
    require(wand.rowsOut == 20, s"bm25_wand rows ${wand.rowsOut}")
    // the hot term's posting list is ~90% of DocRows; the candidate set
    // the scorer actually reads must be orders of magnitude smaller
    require(wandScored * 100 < DocRows * 9L / 10,
      s"WAND candidates $wandScored — expected <1% of the hot term's " +
        s"~${DocRows * 9 / 10} postings")

    // ---- path 7c: incremental text index at 100k docs (r11) ------------
    // three transactional ingest batches into the maintained index, then
    // a pruned search. Budget: ≤ 65 jobs per ingested batch (bootstrap
    // + MultiTableTxn + churn-bounded view refreshes; r11 materialized
    // the re-executed churn plans, 145 → 85/batch; r13's MOR state
    // tables cut the per-batch index rewrite, 193 → 160 total).
    val incIdx = s"$root/text_index_inc"
    val ib = DocRows / 3
    val incIng = measure(spark, "inc_index_ingest")(() => {
      pipeline.TextRetrieval.incIngest(spark, incIdx,
        docsAll.where(col("id") < ib), col("id"), col("text"))
      pipeline.TextRetrieval.incIngest(spark, incIdx,
        docsAll.where(col("id") >= ib && col("id") < 2 * ib),
        col("id"), col("text"))
      pipeline.TextRetrieval.incIngest(spark, incIdx,
        docsAll.where(col("id") >= 2 * ib), col("id"), col("text"))
      spark.sql("SELECT 1")
    })(_ => 3L)
    require(incIng.jobs <= 3 * 65,
      s"inc_index_ingest ran ${incIng.jobs} jobs for 3 batches — " +
        "budget is 65/batch")
    val incSearch = measure(spark, "inc_index_search")(() =>
      pipeline.TextRetrieval.incExactTopK(spark, incIdx, qTerms, k = 20))(
      _.count())
    require(incSearch.rowsOut == 20,
      s"inc_index_search rows ${incSearch.rowsOut}")

    // ---- path 7d: SemDeDup incremental ingest at 20× (r11) -------------
    // 40k vectors (20× the sf0.1 embeddings), 10% planted exact
    // duplicates of earlier gids, three arriving batches against the
    // cluster-partitioned index. dim 64 keeps chance near-dups at the
    // 9/10 threshold ~0 (7σ), so the kept count is deterministic.
    val semIdx = s"$root/semdedup_index"
    val SemRows = 40000L
    val sb = SemRows / 3
    def semVec(gid: org.apache.spark.sql.Column) =
      array((0 until 64).map(c =>
        ((pmod(xxhash64(gid, lit(c)), lit(2000L)) - 1000L)
          .cast("double") / 1000.0)): _*)
    def semBatch(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi, 1, 32)
        .withColumn("gid", pmod(col("id"), lit(SemRows * 9 / 10)))
        .select(col("id"), semVec(col("gid")).as("vec"))
    val semAnchors = pipeline.Dedup.rademacherAnchors(32, 64, seed = 5L)
    var semKept = 0L
    val sem = measure(spark, "sem_ingest_dedup")(() => {
      pipeline.Dedup.semIngestDedup(spark, semIdx, semBatch(0, sb),
        col("id"), col("vec"), semAnchors, 9, 10, ts = Some("1000"))
      pipeline.Dedup.semIngestDedup(spark, semIdx, semBatch(sb, 2 * sb),
        col("id"), col("vec"), semAnchors, 9, 10, ts = Some("2000"))
      pipeline.Dedup.semIngestDedup(spark, semIdx,
        semBatch(2 * sb, SemRows), col("id"), col("vec"), semAnchors,
        9, 10, ts = Some("3000"))
    })(df => {
      // ONE pass over the (MOR, delta-carrying) index for both counts —
      // two separate actions would pay the V1 merge read twice
      val r = df.agg(count(lit(1)),
        sum(when(col("kept"), 1L).otherwise(0L))).collect()(0)
      semKept = r.getLong(1)
      r.getLong(0)
    })
    require(sem.rowsOut == SemRows,
      s"sem index holds ${sem.rowsOut} docs, expected $SemRows")
    require(semKept == SemRows * 9 / 10,
      s"sem kept $semKept docs, expected ${SemRows * 9 / 10}")
    require(sem.jobs <= 3 * 30,
      s"sem_ingest_dedup ran ${sem.jobs} jobs for 3 batches — " +
        "budget is 30/batch (r14: catalog state reads + pinned broadcasts)")

    // ---- path 7e: sem TAIL batch into the grown index (r14) ------------
    // 1% of the corpus arriving AFTER the 40k-vector index exists. The
    // locality bound here is TOUCHED-CLUSTER HISTORY (with 32 anchors a
    // spread batch touches every cluster — semantics require comparing
    // against those clusters' full history), so unlike substr the tail
    // cannot be index-free; the gate pins that it costs a FRACTION of
    // the 100× bootstrap, i.e. per-batch cost never re-pays the whole
    // ingest history.
    val SemTail = SemRows / 100
    val semTail = measure(spark, "sem_ingest_tail")(() =>
      pipeline.Dedup.semIngestDedup(spark, semIdx,
        semBatch(SemRows, SemRows + SemTail),
        col("id"), col("vec"), semAnchors, 9, 10))(df =>
      df.agg(count(lit(1))).collect()(0).getLong(0))
    require(semTail.rowsOut == SemRows + SemTail,
      s"sem index holds ${semTail.rowsOut}, expected ${SemRows + SemTail}")
    require(semTail.totalShuffleWriteMB * 4 <= sem.totalShuffleWriteMB,
      s"sem_ingest_tail shuffled ${semTail.totalShuffleWriteMB} MB vs " +
        s"${sem.totalShuffleWriteMB} MB for the 100x bootstrap — a tail " +
        "batch must cost a fraction of the history it joins against")
    require(semTail.jobs <= 30,
      s"sem_ingest_tail ran ${semTail.jobs} jobs — budget is 30/batch")

    // ---- path 8: maintained EXACT distinct view at 20× (r10 tail) ------
    // bootstrap over the 3M-row COW table, then an UPSERT moving 2% of
    // the values and an incremental refresh (retraction-heavy: touched
    // groups re-aggregate from the group-filtered source) — the view
    // must equal a direct COUNT(DISTINCT) per group afterwards.
    val dvwDir = s"$root/distinct_view"
    var dvwGroups = 0L
    val dvw = measure(spark, "distinct_view")(() => {
      graft.views.MaterializedDistinct.refresh(spark, cowDir, dvwDir,
        "part", col("v2"), buckets = 8)
      new graft.write.CowWriter(spark, cowDir, 16, statsCols = Seq("v1"))
        .upsert(data.filter(pmod(col("id"), lit(50)) === 1)
          .withColumn("v2", col("v2") + 1000),
          col("id"), col("part"), "3000")
      graft.views.MaterializedDistinct.refresh(spark, cowDir, dvwDir,
        "part", col("v2"), buckets = 8)
      graft.views.MaterializedDistinct.read(spark, dvwDir)
    })(df => {
      val got = df.select(col("part"), col("n_distinct"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = read.SnapshotReader.read(spark, cowDir)
        .groupBy(col("part"))
        .agg(org.apache.spark.sql.functions
          .countDistinct(col("v2")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      require(got == want,
        s"distinct view out of sync: $got vs $want")
      dvwGroups = got.size.toLong
      dvwGroups
    })
    require(dvw.rowsOut == 8, s"distinct_view groups ${dvw.rowsOut}")
    // r14 budget (was 121 jobs / 523 MB before the shared-checkpoint
    // treatment): bootstrap agg + diff sides each execute ONCE now —
    // measured 63 jobs / 285 MB, gated with headroom
    require(dvw.jobs <= 75,
      s"distinct_view ran ${dvw.jobs} jobs — budget is 75 " +
        "(bootstrap + upsert + incremental refresh, single-execution diffs)")
    require(dvw.totalShuffleWriteMB <= 360,
      s"distinct_view shuffled ${dvw.totalShuffleWriteMB} MB — budget 360")

    // ---- path 9: ExactSubstr dedup at 20× docs (r12) -------------------
    // 100k docs of 40 UNIQUE tokens each (token = f(doc, position), so no
    // accidental window repeats); 10% of docs carry one planted 8-token
    // boilerplate span. Exactly the span window duplicates ⇒ removed
    // tokens = 8 × planted docs, deterministic. The candidate shuffle is
    // 8 bytes per window — the gate below is the 100 TB claim.
    val SubDocs = 100000L
    val planted = SubDocs / 10
    val span = (1 to 8).map(i => s"boiler$i").mkString(" ")
    def subText(idc: org.apache.spark.sql.Column) =
      concat_ws(" ",
        (0 until 20).map(i => concat(lit(s"t${i}_"), idc)) ++
          Seq(when(pmod(idc, lit(10)) === 0, lit(span))
            .otherwise(concat(lit("u_"), idc))) ++
          (20 until 40).map(i => concat(lit(s"t${i}_"), idc)): _*)
    val subDocs = spark.range(0, SubDocs, 1, 32)
      .select(col("id"), subText(col("id")).as("text"))
    var subRemoved = 0L
    var subTouched = 0L
    val sub = measure(spark, "substr_dedup")(() =>
      pipeline.Dedup.substrDedup(subDocs, col("id"), col("text"), w = 8)
    )(df => {
      val agg = df.agg(sum(col("removed_tokens")),
        sum(when(col("removed_tokens") > 0, 1L).otherwise(0L)),
        count(lit(1))).collect()(0)
      subRemoved = agg.getLong(0); subTouched = agg.getLong(1); agg.getLong(2)
    })
    require(sub.rowsOut == SubDocs, s"substr_dedup rows ${sub.rowsOut}")
    require(subRemoved == 8 * planted && subTouched == planted,
      s"substr_dedup removed $subRemoved tokens in $subTouched docs, " +
        s"expected ${8 * planted} in $planted")

    // ---- path 9b: incremental ExactSubstr ingest at 20× (r12) ----------
    // the same 100k corpus arriving in three batches against the
    // window-count index; the ingest contract makes removed counts
    // deterministic: the boilerplate span reaches count 2 WITHIN batch 1
    // (10% planted), so every planted doc in every batch is cleaned —
    // same totals as the batch path. Budget: ≤ 60 jobs/batch (the
    // ingest-job-count theme from the r10/r11 verdicts).
    val subIdx = s"$root/substr_index"
    val sb3 = SubDocs / 3
    var incRemoved = 0L
    val subInc = measure(spark, "substr_ingest")(() => {
      def ingest(lo: Long, hi: Long, ts: Option[String]) =
        pipeline.Dedup.substrIngest(spark, subIdx,
          subDocs.filter(col("id") >= lo && col("id") < hi),
          col("id"), col("text"), w = 8, ts = ts)
      ingest(0, sb3, Some("1000"))
      ingest(sb3, 2 * sb3, None)
      ingest(2 * sb3, SubDocs, None)
      read.SnapshotReader.read(spark, s"$subIdx/docs")
    })(df => {
      incRemoved = df.agg(sum(col("removed_tokens"))).collect()(0).getLong(0)
      df.count()
    })
    require(subInc.rowsOut == SubDocs,
      s"substr_ingest docs ${subInc.rowsOut}")
    require(incRemoved == 8 * planted,
      s"substr_ingest removed $incRemoved, expected ${8 * planted}")
    require(subInc.jobs <= 3 * 60,
      s"substr_ingest ran ${subInc.jobs} jobs for 3 batches — " +
        "budget is 60/batch")

    // ---- path 9c: TAIL batch into the grown index (r13) ----------------
    // 1% of the corpus arriving AFTER the 100k-doc index exists: the
    // storage-partitioned index join must keep the exchange batch-sized
    // (batch counts shuffle into the windex bucket layout; index
    // partitions are read co-located, never shuffled) — the gate below is
    // the "per-batch cost tracks the batch" claim at a 100:1 ratio.
    val TailDocs = 1000L
    var tailRemoved = 0L
    val subTail = measure(spark, "substr_ingest_tail")(() =>
      pipeline.Dedup.substrIngest(spark, subIdx,
        spark.range(SubDocs, SubDocs + TailDocs, 1, 8)
          .select(col("id"), subText(col("id")).as("text")),
        col("id"), col("text"), w = 8)
    )(df => {
      tailRemoved =
        df.agg(sum(col("removed_tokens"))).collect()(0).getLong(0)
      df.count()
    })
    require(subTail.rowsOut == TailDocs,
      s"substr_ingest_tail rows ${subTail.rowsOut}")
    require(tailRemoved == 8 * (TailDocs / 10),
      s"substr_ingest_tail removed $tailRemoved, " +
        s"expected ${8 * (TailDocs / 10)}")
    require(subTail.totalShuffleWriteMB * 10 <= subInc.totalShuffleWriteMB,
      s"substr_ingest_tail shuffled ${subTail.totalShuffleWriteMB} MB vs " +
        s"${subInc.totalShuffleWriteMB} MB for the 100x corpus — the " +
        "tail batch's exchange must track the batch, not the index")

    // ---- path 9d: segment dedup at 20× docs (r14) ----------------------
    // 100k docs of 25 unique tokens each (5 aligned segments, no tail);
    // 10% of docs carry one planted 5-token segment at position 4.
    // keepFirst retains exactly the canonical first occurrence, so
    // segs_removed = planted − 1, deterministic. Unlike ExactSubstr the
    // count shuffle carries the distinct SEGMENT STRINGS (the output's
    // own key — no hash-trust); the gate bounds it to corpus scale.
    val SegDocs = 100000L
    val segPlanted = SegDocs / 10
    val segSpan = (1 to 5).map(i => s"segboiler$i").mkString(" ")
    val segDocs = spark.range(0, SegDocs, 1, 32)
      .select(col("id"), concat_ws(" ",
        (0 until 20).map(i => concat(lit(s"s${i}_"), col("id"))) ++
          Seq(when(pmod(col("id"), lit(10)) === 0, lit(segSpan))
            .otherwise(concat_ws(" ",
              (20 until 25).map(i => concat(lit(s"s${i}_"), col("id"))): _*)))
          : _*).as("text"))
    var segRemoved = 0L
    val seg = measure(spark, "seg_dedup")(() =>
      pipeline.Dedup.segmentDedup(segDocs, col("id"), col("text"),
        width = 5)
    )(df => {
      val agg = df.agg(sum(col("segs_removed")), sum(col("segs_total")),
        count(lit(1))).collect()(0)
      segRemoved = agg.getLong(0)
      require(agg.getLong(1) == 5 * SegDocs,
        s"seg_dedup segs_total ${agg.getLong(1)}")
      agg.getLong(2)
    })
    require(seg.rowsOut == SegDocs, s"seg_dedup rows ${seg.rowsOut}")
    require(segRemoved == segPlanted - 1,
      s"seg_dedup removed $segRemoved segments, expected ${segPlanted - 1}")
    // measured 35 MB / 10 jobs at this scale — the count shuffle carries
    // each distinct segment string roughly once (corpus-sized, not
    // occurrence-amplified); gated with headroom
    require(seg.totalShuffleWriteMB <= 60,
      s"seg_dedup shuffled ${seg.totalShuffleWriteMB} MB — budget 60")
    require(seg.jobs <= 15, s"seg_dedup ran ${seg.jobs} jobs — budget 15")

    // ---- path 9e: incremental segment ingest + tail batch (r14) --------
    // the same 100k corpus in three batches against the segment-count
    // index, then a 1% TAIL batch into the grown index: the
    // storage-partitioned join must keep the tail's exchange batch-sized
    // (the substrIngest claim, re-proven on the segment machinery).
    // keepFirst totals: planted−1 removed over the bootstrap batches;
    // every planted tail doc drops its copy (the segment is historical).
    val segIdx = s"$root/seg_index"
    val sg3 = SegDocs / 3
    var segIncRemoved = 0L
    val segInc = measure(spark, "seg_ingest")(() => {
      def ingest(lo: Long, hi: Long, ts: Option[String]) =
        pipeline.Dedup.segIngest(spark, segIdx,
          segDocs.filter(col("id") >= lo && col("id") < hi),
          col("id"), col("text"), width = 5, ts = ts)
      ingest(0, sg3, Some("1000"))
      ingest(sg3, 2 * sg3, None)
      ingest(2 * sg3, SegDocs, None)
      read.SnapshotReader.read(spark, s"$segIdx/docs")
    })(df => {
      segIncRemoved =
        df.agg(sum(col("segs_removed"))).collect()(0).getLong(0)
      df.count()
    })
    require(segInc.rowsOut == SegDocs, s"seg_ingest docs ${segInc.rowsOut}")
    require(segIncRemoved == segPlanted - 1,
      s"seg_ingest removed $segIncRemoved, expected ${segPlanted - 1}")
    require(segInc.jobs <= 3 * 60,
      s"seg_ingest ran ${segInc.jobs} jobs for 3 batches — budget 60/batch")
    val SegTail = 1000L
    var segTailRemoved = 0L
    val segTail = measure(spark, "seg_ingest_tail")(() =>
      pipeline.Dedup.segIngest(spark, segIdx,
        spark.range(SegDocs, SegDocs + SegTail, 1, 8)
          .select(col("id"), concat_ws(" ",
            (0 until 20).map(i => concat(lit(s"s${i}_"), col("id"))) ++
              Seq(when(pmod(col("id"), lit(10)) === 0, lit(segSpan))
                .otherwise(concat_ws(" ", (20 until 25).map(i =>
                  concat(lit(s"s${i}_"), col("id"))): _*))): _*)
            .as("text")),
        col("id"), col("text"), width = 5)
    )(df => {
      segTailRemoved =
        df.agg(sum(col("segs_removed"))).collect()(0).getLong(0)
      df.count()
    })
    require(segTail.rowsOut == SegTail,
      s"seg_ingest_tail rows ${segTail.rowsOut}")
    require(segTailRemoved == SegTail / 10,
      s"seg_ingest_tail removed $segTailRemoved, expected ${SegTail / 10}")
    require(segTail.totalShuffleWriteMB * 10 <= segInc.totalShuffleWriteMB,
      s"seg_ingest_tail shuffled ${segTail.totalShuffleWriteMB} MB vs " +
        s"${segInc.totalShuffleWriteMB} MB for the 100x corpus — the " +
        "tail batch's exchange must track the batch, not the index")

    // ---- path 9e': segment-index TAKEDOWN at 20× (r17) -----------------
    // 2% of the grown 101k-doc index deleted with as-ingested text: the
    // subtraction joins the DELETE batch's counts into the index's
    // bucket layout (the ingest machinery inverted), so its exchange
    // must track the batch like the tail's did — never an index
    // rewrite — and zeroed per-doc-unique segments must leave no row.
    val SegDel = 2000L
    val segDel = measure(spark, "seg_delete")(() => {
      val n = pipeline.Dedup.segDelete(spark, segIdx,
        segDocs.filter(col("id") < SegDel),
        col("id"), col("text"), width = 5)
      // the verification count below reads the whole MOR docs table
      // (index-sized by design) and is asserted
      // OUTSIDE this measure; the gate prices the DELETE alone
      spark.range(0, n).toDF()
    })(_.count())
    require(segDel.rowsOut == SegDel,
      s"seg_delete removed ${segDel.rowsOut} docs")
    require(read.SnapshotReader.read(spark, s"$segIdx/docs").count() ==
      SegDocs + SegTail - SegDel, "seg_delete docs-table count wrong")
    require(segDel.totalShuffleWriteMB * 10 <= segInc.totalShuffleWriteMB,
      s"seg_delete shuffled ${segDel.totalShuffleWriteMB} MB vs " +
        s"${segInc.totalShuffleWriteMB} MB for the 100x corpus — the " +
        "delete batch's exchange must track the batch, not the index")
    require(segDel.jobs <= 60,
      s"seg_delete ran ${segDel.jobs} jobs — budget 60 (constant: " +
        "contract probe + presence probe + counts join + txn passes)")
    // zeroed rows vanish; surviving docs' segments stay
    def segRowOf(id: Long): Long =
      read.SnapshotReader.read(spark, s"$segIdx/segindex")
        .filter(col("seg") ===
          (0 until 5).map(i => s"s${i}_$id").mkString(" "))
        .count()
    require(segRowOf(7L) == 0L,
      "a deleted doc's per-doc-unique segment row must be gone")
    require(segRowOf(SegDel + 7L) == 1L,
      "a surviving doc's segment row must remain")

    // ---- path 9f: HOT-SEGMENT row skew (r15) ---------------------------
    // A planted boilerplate segment covering 80% of ALL occurrences —
    // the pathological shape for the occurrence↔count keep-join: every
    // hot occurrence hashes to ONE reducer. AQE skew-join splitting does
    // NOT protect this plan (the count side reaches the join as a final
    // HashAggregate, so OptimizeSkewedJoin never fires — measured at an
    // 8 KB threshold; and its trigger is COMPRESSED bytes, which
    // identical boilerplate strings crush ~100× below any threshold
    // while the row/CPU skew persists). The armor is Dedup.segKeepJoin's
    // deterministic top-N hot-key split; this path MEASURES it both
    // ways: armor off must exhibit the pathology (the hot occurrences in
    // one task), armor on must bound the largest task to a fraction.
    val SkewDocs2 = 100000L
    val hotSpan2 = (1 to 5).map(i => s"hotboiler$i").mkString(" ")
    val hotDoc2 = Seq.fill(5)(hotSpan2).mkString(" ")
    val skewDocs = spark.range(0, SkewDocs2, 1, 32)
      .select(col("id"),
        when(pmod(col("id"), lit(5)) < 4, lit(hotDoc2))
          .otherwise(concat_ws(" ",
            (0 until 25).map(i => concat(lit(s"x${i}_"), col("id"))): _*))
          .as("text"))
    val hotOcc = SkewDocs2 / 5 * 4 * 5 // 80% of docs × 5 hot segments
    // at 100 TB the distinct-segment count frame does NOT fit a
    // broadcast — at soak scale it would, and a broadcast keep-join has
    // no per-key reducer at all (the pathology this path exists to
    // measure). Disable broadcast for the skew runs only.
    val bcKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val bcSaved = bcKeys.map(k => k -> spark.conf.getOption(k))
    bcKeys.foreach(spark.conf.set(_, "-1"))
    def runSkew(name: String, hotN: Int): (PathResult, Long) = {
      var removed = 0L
      val r = measure(spark, name)(() =>
        pipeline.Dedup.segmentDedup(skewDocs, col("id"), col("text"),
          width = 5, hotN = hotN)
      )(df => {
        val agg = df.agg(sum(col("segs_removed")), count(lit(1)))
          .collect()(0)
        removed = agg.getLong(0)
        agg.getLong(1)
      })
      (r, removed)
    }
    // the ExactSubstr twin on the SAME corpus: the period-5 hot text
    // makes 5 distinct 8-token window rotations, the most frequent at
    // 4 occurrences × 80k docs = 320k rows on one hash AND one string —
    // both mark joins must carry the armor
    def runSkewSub(name: String, hotN: Int): PathResult =
      measure(spark, name)(() =>
        pipeline.Dedup.substrDedup(skewDocs, col("id"), col("text"),
          w = 8, hotN = hotN)
      )(_.count())
    val ((skewOff, remOff), (skewOn, remOn), subOff, subOn) =
      try (runSkew("seg_dedup_skew_unarmored", 0),
        runSkew("seg_dedup_skew", 64),
        runSkewSub("substr_dedup_skew_unarmored", 0),
        runSkewSub("substr_dedup_skew", 64))
      finally bcSaved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    require(subOff.rowsOut == SkewDocs2 && subOn.rowsOut == SkewDocs2,
      s"substr_dedup_skew rows ${subOff.rowsOut}/${subOn.rowsOut}")
    require(subOff.maxTaskShuffleRecords >= 300000,
      s"unarmored substr skew task read ${subOff.maxTaskShuffleRecords} " +
        "records — expected the 320k-row hot window in one task " +
        "(did a plan change absorb the skew? re-point this gate)")
    require(subOn.maxTaskShuffleRecords * 2 <= subOff.maxTaskShuffleRecords,
      s"armored substr skew task read ${subOn.maxTaskShuffleRecords} " +
        s"records vs ${subOff.maxTaskShuffleRecords} unarmored — the " +
        "hot-key split must keep hot windows out of both mark joins")
    require(remOff == hotOcc - 1 && remOn == hotOcc - 1,
      s"seg_dedup_skew removed $remOff/$remOn, expected ${hotOcc - 1}")
    require(skewOff.rowsOut == SkewDocs2 && skewOn.rowsOut == SkewDocs2,
      s"seg_dedup_skew rows ${skewOff.rowsOut}/${skewOn.rowsOut}")
    // the pathology is REAL: without the armor, one task ingests at
    // least the hot key's occurrences (~400k records)
    require(skewOff.maxTaskShuffleRecords >= hotOcc,
      s"unarmored skew task read ${skewOff.maxTaskShuffleRecords} " +
        s"records — expected the hot key's $hotOcc in one task " +
        "(did a plan change absorb the skew? re-point this gate)")
    // ... and the armor bounds it: largest task ≤ a quarter of the hot
    // key (measured 66k vs 406k at this shape — the residual is the
    // even regroup, not the hot key)
    require(skewOn.maxTaskShuffleRecords * 4 <= hotOcc,
      s"armored skew task read ${skewOn.maxTaskShuffleRecords} records " +
        s"vs the $hotOcc-record hot key — the top-N split must keep " +
        "hot occurrences out of the shuffle join")

    // ---- path 9g: GIANT-DOCUMENT in-row text metrics (r18) -------------
    // The in-row gopher rewrite (r17) made the DOCUMENT the unit of
    // parallelism; r18's native kernels bound the per-doc cost at
    // O(orders · L log L), but ONE pathological 10⁶-token doc still runs
    // its nine per-order kernels in ONE task — the documented trade this
    // twin pins with numbers instead of an assumption. Twin shape: the
    // same 20k-doc corpus with and without the planted giant; the giant
    // run's max task must EXHIBIT the concentration (≥ 2 s — proves the
    // gate watches the right task) and stay BOUNDED (≤ 60 s on a ~9 s
    // measured cost — the length-filter headroom), while the keep
    // verdicts stay exact: hash-distinct giant tokens are kept, planted
    // period-3 repetition is dropped.
    val GiantL = 1000000L
    val GopherN = 20000L
    val gopherCorpus = spark.range(0, GopherN, 1, 32).select(col("id"),
      when(pmod(col("id"), lit(7)) === 0,
        concat_ws(" ", (0 until 30).map(i =>
          concat(lit(s"g${i % 3}_"), pmod(col("id"), lit(97)))): _*))
        .otherwise(concat_ws(" ",
          (0 until 30).map(i => concat(lit(s"g${i}_"), col("id"))): _*))
        .as("text"))
    val giantDoc = spark.range(0, 1, 1, 1).select(lit(GopherN).as("id"),
      array_join(transform(sequence(lit(0L), lit(GiantL - 1)),
        i => conv(pmod(xxhash64(i), lit(99991L)), 10, 36)), " ")
        .as("text"))
      .localCheckpoint(true) // generation cost stays out of the twin
    val keptNormal = GopherN - ((GopherN - 1) / 7 + 1) // id % 7 == 0 drop
    def runGopher(name: String, df: org.apache.spark.sql.DataFrame)
        : PathResult =
      measure(spark, name)(() =>
        pipeline.TextAnalysis.gopherKeep(df, col("id"), col("text"))
      )(_.count())
    val gopherNorm = runGopher("gopher_giant_baseline", gopherCorpus)
    val gopherGiant = runGopher("gopher_giant",
      gopherCorpus.unionByName(giantDoc))
    require(gopherNorm.rowsOut == keptNormal,
      s"gopher_giant_baseline kept ${gopherNorm.rowsOut}, " +
        s"expected $keptNormal")
    require(gopherGiant.rowsOut == keptNormal + 1,
      s"gopher_giant kept ${gopherGiant.rowsOut}, expected " +
        s"${keptNormal + 1} (hash-distinct giant doc must be KEPT)")
    require(gopherGiant.maxTaskDurationMs >= 2000,
      s"gopher_giant max task ${gopherGiant.maxTaskDurationMs} ms — " +
        "expected the 10⁶-token doc's kernels concentrated in one task " +
        "(did a plan change spread it? re-point this gate)")
    require(gopherGiant.maxTaskDurationMs <= 60000,
      s"gopher_giant max task ${gopherGiant.maxTaskDurationMs} ms — the " +
        "per-doc kernel cost must stay bounded (measured ~9 s at this " +
        "shape); a regression here re-opens the giant-doc tail")

    // ---- path 10: kNN join at 20× vectors (r12) ------------------------
    // 40k synthetic 64-dim vectors, IVF cell join at nlist 64 / nprobe 4:
    // the whole-corpus-query shape — no broadcast side anywhere; per-task
    // pairs bounded by probed-cell occupancy (the shuffle gate below).
    val KnnRows = 40000L
    val knnVecs = spark.range(0, KnnRows, 1, 32)
      .select(col("id"), semVec(col("id"))
        .cast("array<float>").as("vec"))
    val knn = measure(spark, "knn_join")(() =>
      pipeline.Similarity.knnJoin(knnVecs, col("id"), col("vec"),
        k = 3, nlist = 64, nprobe = 4, trainFraction = 0.25)
    )(_.count())
    require(knn.rowsOut == KnnRows * 3,
      s"knn_join rows ${knn.rowsOut}, expected ${KnnRows * 3}")

    // ---- path 10b: COMPRESSED-DOMAIN kNN join (r13) --------------------
    // same corpus, same nlist/nprobe, graph-build mode (rerank = 0): both
    // sides of the cell join carry PQ codes and no vector enters any
    // shuffle — total shuffle bytes must come in well under the
    // full-vector join's (the gate below).
    val knnPq = measure(spark, "knn_join_pq")(() =>
      pipeline.Similarity.knnJoinPq(knnVecs, col("id"), col("vec"),
        k = 3, nlist = 64, nprobe = 4, dim = 64, trainFraction = 0.25,
        rerank = 0)
    )(_.count())
    require(knnPq.rowsOut == KnnRows * 3,
      s"knn_join_pq rows ${knnPq.rowsOut}, expected ${KnnRows * 3}")
    require(knnPq.totalShuffleWriteMB * 2 <= knn.totalShuffleWriteMB,
      s"knn_join_pq shuffled ${knnPq.totalShuffleWriteMB} MB vs " +
        s"knn_join's ${knn.totalShuffleWriteMB} MB — the codes-only " +
        "join must at least halve the bytes")

    // ---- path 10d: kNN-join HUB-CELL skew (r16) -------------------------
    // Real embedding corpora have hub clusters: 6k of 14k vectors sit in
    // ONE IVF cell (a near-duplicate pile-up), so that cell's task does
    // |cell|² = 36M pair computations — a CPU-skew pathology shuffle
    // RECORDS cannot see (the task reads only ~14k rows) and AQE cannot
    // split (the exchange is ~2 MB, far under any byte threshold; the
    // join is shuffle_hash-pinned besides). The r16 armor derives
    // per-cell splits from the occupancy counts (cellSplitsOf): the hub
    // cell's corpus rows split into ⌈6000/200⌉ = 30 sub-tasks, probes
    // replicate only over THEIR cells' splits (30 sub-cells over 32
    // shuffle partitions — a couple collide per task, which is the
    // residual the gate's margin absorbs). Twin gates in both
    // directions on max task DURATION — the quadratic term's only
    // visible metric: unarmored must exhibit the concentration (proves
    // the pathology and keeps the gate honest), armored must bound it.
    val HubRows = 6000L
    val KnnSkewRows = 14000L
    val hubBase = (0 until 64).map(c =>
      (pmod(xxhash64(lit(7L), lit(c)), lit(2000L)) - 1000L)
        .cast("double") / 1000.0)
    val hubVec = array((0 until 64).map(c =>
      hubBase(c) + (pmod(xxhash64(col("id"), lit(c + 1000)),
        lit(2000L)) - 1000L).cast("double") / 1000000.0): _*)
    val skewVecs = spark.range(0, KnnSkewRows, 1, 32)
      .select(col("id"),
        when(col("id") < HubRows, hubVec)
          .otherwise(semVec(col("id") + 777777L))
          .cast("array<float>").as("vec"))
    def runKnnSkew(name: String, target: Long): PathResult =
      measure(spark, name)(() =>
        pipeline.Similarity.knnJoin(skewVecs, col("id"), col("vec"),
          k = 3, nlist = 32, nprobe = 1, trainFraction = 0.25,
          targetCellRows = target)
      )(_.count())
    // r17 (ADVICE): the twins' thresholds are NORMALIZED against a
    // per-pair cost measured in the SAME run — by the JOIN ITSELF on a
    // scaled-down single-cell hub (1,500 of the same hub vectors at
    // nlist 1: one task, 1500² = 2.25M pairs through the identical
    // plan/kernel/codegen) — so machine speed, CPU contention, JIT
    // state AND the kernel's true constant move the prediction and the
    // measurement together, where the old fixed 3000 ms floor + 2×
    // cross-twin ratio could flip on a slow or noisy host (and a
    // hand-rolled "same cost class" calibration kernel measured 40×
    // off the real join's per-pair cost — only the join calibrates the
    // join). The full hub cell does 6000² = 36M pairs in one task
    // unarmored: concentration must show ≥ 15% of the predicted cost,
    // the armored max task must come in under 50% of it (the occupancy
    // splits cut the largest task to ~1/30 of the quadratic), and
    // armored must beat unarmored outright with margin.
    val CalibHub = 1500L
    val calib = measure(spark, "knn_skew_calibration")(() =>
      pipeline.Similarity.knnJoin(
        skewVecs.filter(col("id") < CalibHub), col("id"), col("vec"),
        k = 3, nlist = 1, nprobe = 1, trainFraction = 0.25)
    )(_.count())
    require(calib.rowsOut == CalibHub * 3,
      s"knn_skew_calibration rows ${calib.rowsOut}")
    val msPerMpair = math.max(0.05,
      calib.maxTaskDurationMs.toDouble /
        (CalibHub * CalibHub / 1.0e6))
    val predictedHubMs = (HubRows * HubRows / 1.0e6) * msPerMpair
    val knnSkewOff = runKnnSkew("knn_join_skew_unarmored", 0L)
    val knnSkewOn = runKnnSkew("knn_join_skew", 200L)
    require(knnSkewOff.rowsOut == KnnSkewRows * 3 &&
      knnSkewOn.rowsOut == KnnSkewRows * 3,
      s"knn_join_skew rows ${knnSkewOff.rowsOut}/${knnSkewOn.rowsOut}")
    require(knnSkewOff.maxTaskDurationMs >= 0.15 * predictedHubMs,
      s"unarmored hub-cell task took ${knnSkewOff.maxTaskDurationMs} ms " +
        f"vs $predictedHubMs%.0f predicted for the 36M-pair cell " +
        f"(calibrated $msPerMpair%.1f ms/Mpair) — expected the " +
        "quadratic in one task (did a plan change absorb the skew? " +
        "re-point this gate)")
    require(knnSkewOn.maxTaskDurationMs <= 0.5 * predictedHubMs,
      s"armored hub-cell max task ${knnSkewOn.maxTaskDurationMs} ms vs " +
        f"$predictedHubMs%.0f predicted unarmored — the occupancy-" +
        "derived splits must break the quadratic cell")
    require(knnSkewOn.maxTaskDurationMs * 1.5 <=
      knnSkewOff.maxTaskDurationMs,
      s"armored hub-cell max task ${knnSkewOn.maxTaskDurationMs} ms vs " +
        s"${knnSkewOff.maxTaskDurationMs} unarmored — armor must win " +
        "outright")

    // ---- path 10c: .ann sidecar index + 1% batch ingest (r15) ----------
    // the serving-index ingest path: annIndexBuild over the 40k corpus,
    // then a 1% batch appended THROUGH THE PERSISTED SIDECARS
    // (annIngest). The batch pass is map-only — rotate/assign/encode are
    // projections and the cell-partitioned write needs no exchange — so
    // the gate pins its shuffle to ~zero and its jobs to a handful,
    // proving ingest cost tracks the batch, not the index.
    val annDir = s"$root/ann_ingest"
    val annBuild = measure(spark, "ann_index_build")(() => {
      graft.pipeline.Similarity.annIndexBuild(knnVecs, col("id"),
        col("vec"), annDir, dim = 64, nlist = 64, iters = 1,
        trainFraction = 0.25, variant = "pca", rank = 16)
      spark.read.parquet(s"$annDir/data")
    })(_.count())
    require(annBuild.rowsOut == KnnRows,
      s"ann_index_build rows ${annBuild.rowsOut}")
    val AnnBatch = 400L
    val annInc = measure(spark, "ann_ingest")(() => {
      graft.pipeline.Similarity.annIngest(spark, annDir,
        spark.range(KnnRows, KnnRows + AnnBatch, 1, 4)
          .select(col("id"), semVec(col("id"))
            .cast("array<float>").as("vec")),
        col("id"), col("vec"), batchId = "soak-b1"): Unit
      // the grown index = build data + the LEDGERED batch dirs (read
      // per root — the roots are separate partitioned tables)
      graft.pipeline.Similarity.annDataRoots(spark, annDir)
        .map(r => spark.read.parquet(r).select("corpus_id"))
        .reduce(_ unionByName _)
    })(_.count())
    require(annInc.rowsOut == KnnRows + AnnBatch,
      s"ann_ingest grew to ${annInc.rowsOut}, " +
        s"expected ${KnnRows + AnnBatch}")
    require(annInc.totalShuffleWriteMB <= 1,
      s"ann_ingest shuffled ${annInc.totalShuffleWriteMB} MB — the " +
        "batch encode is map-only; any exchange means the index got " +
        "re-read into a shuffle")
    require(annInc.jobs <= 22,
      s"ann_ingest ran ${annInc.jobs} jobs — budget 22 (measured 19: " +
        "four sidecar loads with their schema reads, one encode/write " +
        "pass into the staged batch dir, the staged footer count that " +
        "feeds the ledger record, and the per-root verification count " +
        "over data/ + the ledgered batch; ALL constant — none may " +
        "scale with the index)")

    // ---- path 10f: .ann TAKEDOWN at 20× (r15 index) ---------------------
    // 1% of the grown index tombstoned: the delete writes the DISTINCT
    // id set (a takedown-sized exchange, nothing vector-sized) and
    // commits one tombledger entry; serving with the tombstone
    // broadcast-anti-joined must still return k rows per query with no
    // tombstoned id surfacing.
    val AnnDel = 400L
    val annDel = measure(spark, "ann_delete")(() => {
      graft.pipeline.Similarity.annDelete(spark, annDir,
        spark.range(0, AnnDel, 1, 4).select(col("id")),
        col("id"), "soak-td1"): Unit
      spark.read.parquet(s"$annDir/tombstones/soak-td1")
    })(_.count())
    require(annDel.rowsOut == AnnDel,
      s"ann_delete committed ${annDel.rowsOut} ids")
    require(annDel.totalShuffleWriteMB <= 1,
      s"ann_delete shuffled ${annDel.totalShuffleWriteMB} MB — the " +
        "tombstone set is ids-only (one distinct over the id batch); " +
        "any real exchange means vectors entered the delete path")
    // serving with the tombstone set broadcast-anti-joined: k rows per
    // query, no tombstoned id surfaces
    val served = graft.pipeline.Similarity.annTopK(spark, annDir,
        knnVecs.filter(col("id") >= 20000L && col("id") < 20040L),
        col("id"), col("vec"), k = 5, nprobe = 8, rerank = 40)
      .collect()
    require(served.length == 40 * 5,
      s"ann serving with tombstones returned ${served.length} rows")
    require(served.forall(_.getLong(1) >= AnnDel),
      "a tombstoned id surfaced from ann serving")

    // ---- gates ---------------------------------------------------------
    val all = Seq(dv, mor, morPart, dd, metaAgg, stream, bmAgg, idxBuild,
      search, wand, incIng, incSearch, sem, semTail, dvw, sub, subInc,
      subTail, seg, segInc, segTail, segDel, skewOff, skewOn, subOff,
      subOn, gopherNorm, gopherGiant, knn, knnPq, calib, knnSkewOff,
      knnSkewOn, annBuild, annInc, annDel)
    all.foreach(r => require(r.maxTaskInputMB < 2048,
      s"${r.name}: a task read ${r.maxTaskInputMB} MB (>2 GiB gate)"))
    all.foreach(r => require(r.maxTaskShuffleMB < 2048,
      s"${r.name}: a task shuffle-read ${r.maxTaskShuffleMB} MB"))
    // planning is a driver metadata walk — it must not scale with data.
    // ingest_dedup and catalog_stream are excluded: their "plan" thunks
    // RUN the workload (eager multi-commit / stream drain), so plan_ms is
    // wall time, not planning.
    all.filterNot(r => Set("ingest_dedup", "catalog_stream",
        "bm25_build", "distinct_view", "inc_index_ingest",
        "sem_ingest_dedup", "sem_ingest_tail", "knn_join", "knn_join_pq",
        "substr_ingest", "substr_ingest_tail",
        "ann_index_build", "ann_ingest",
        "seg_dedup_skew_unarmored", "seg_dedup_skew",
        "substr_dedup_skew_unarmored", "substr_dedup_skew",
        "knn_join_skew_unarmored", "knn_join_skew",
        "substr_dedup", "seg_dedup", "seg_ingest",
        "seg_ingest_tail", "seg_delete", "ann_delete")(r.name)) // RUN work
      // (knn_join's "plan" includes ivfTrain's Lloyd jobs)
      .foreach(r =>
        require(r.planMs < 30000, s"${r.name}: planning took ${r.planMs} ms"))

    val json = s"""{"table_rows":$TableRows,"doc_rows":$DocRows,""" +
      s""""heap_mb":$heapMb,""" +
      all.map(r => s""""${r.name}":${r.json}""").mkString(",") + "}"
    println(json)
    outFile.foreach(f => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f), json + "\n"))
    } finally spark.stop()
  }
}

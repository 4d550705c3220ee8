package graft.write

import graft.format.Timeline
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Write half of the `graft` format surface — the engine behind
  * `df.write.format("graft")` (batch) and `writeStream.format("graft")`
  * (streaming sink), both dispatched from
  * [[graft.streaming.GraftSourceProvider]].
  *
  * Options: `key`/`partition` (record-key and partition columns),
  * `type` (`cow` default | `mor`: appends are DELTA commits — no
  * file-group rewrite; the streaming-ingest shape), `buckets`, `stats`,
  * `blooms`, `bloomBits`, `precombine` and `deltaCounters` are the table's
  * WRITE CONTRACT: [[WriteContract.resolve]] resolves each against the
  * value the table recorded at creation (a contradicting option refuses;
  * an omitted one takes the recorded value, else the default), a creating
  * or overwriting write records [[WriteContract.creationExtra]], and the
  * contract picks the writer. `operation` (`upsert` default | `delete`:
  * Append mode removes the frame's keys instead of upserting them — COW
  * rewrites survivors, MOR appends delete markers | `cdc`: the frame is a
  * CHANGE feed — `_change_type`/`_change_commit_ts`-tagged rows as
  * produced by [[graft.read.ChangeFeed]]; the newest change per key wins,
  * deletes remove their keys, inserts/updates upsert post-images, all in
  * ONE commit — `readStream(cdc=true) → writeStream(operation=cdc)`
  * mirrors a table INCLUDING deletes), `compactEvery` (MOR only: compact
  * file groups holding ≥ N outstanding deltas after each append — bounds
  * snapshot merge cost without a separate maintenance job), `ts` (explicit
  * commit timestamp — tests/fixtures; defaults to a wall-clock timestamp
  * bumped past the newest commit).
  *
  * Batch modes map to table operations, not directory semantics:
  * Append = upsert-by-key into the existing table (insert when the table
  * doesn't exist yet), Overwrite = replace the table's content in ONE
  * atomic commit (the INSERT_OVERWRITE_TABLE analog — history and time
  * travel across the overwrite survive; superseded slices are reclaimed
  * by [[TableMaintenance.clean]]), ErrorIfExists/Ignore behave as named.
  * All data movement goes through the contract's writer
  * ([[CowWriter]]/[[MorWriter]]): one write execution per commit (a COW
  * commit also lists its touched groups first), the driver handles only
  * file names and commit JSON. One `.hoodie` listing serves
  * the contract, the commit-ts mint and the writer's plan; the OCC check
  * re-lists under the commit lock.
  *
  * At 100 TB the `type` choice is the write-amplification knob: a COW
  * append REWRITES every touched file group (read-optimized serving), a
  * MOR delta append writes ONLY the changed rows (ingest-optimized; the
  * snapshot merge stays bounded via compaction) — exactly Hudi's own
  * trade. Streaming sinks should use `mor` + `compactEvery` unless
  * batches are rare and large.
  *
  * The reference has no write path at all (it reads Hudi tables others
  * wrote) — this is a beyond-reference surface completing the format.
  */
private[graft] object FormatWriter {

  /** Thrown by the writers when a commit would record NO effects (a frame
    * matching zero rows). Callers for whom an empty write is a legal no-op
    * (streaming sinks on empty micro-batches, catalog INSERT of zero rows,
    * DELETE matching nothing) catch THIS type — never a message substring,
    * which rewording would silently break. Extends IllegalArgumentException
    * so callers treating it as a caller error keep working unchanged. */
  final class EmptyCommitException(msg: String)
      extends IllegalArgumentException(msg)

  /** Commit-extra key carrying the micro-batch id a streaming-sink commit
    * belongs to — the exactly-once replay gate (the commit log plays the
    * role of the file sink's `_spark_metadata` batch log). */
  val BatchIdKey = "streaming.batchId"

  /** Commit-extra key carrying the STREAMING QUERY id that wrote a sink
    * commit. Scopes the replay gate: batch ids restart at 0 for every new
    * query (fresh checkpoint), so gating on the id alone would silently
    * swallow a new query's first batches into an already-written table
    * (the file sink's documented foot-gun); gating on (queryId, batchId)
    * makes a replay skip and a new query land. */
  val QueryIdKey = "streaming.queryId"

  /** Commit-extra marker a MOR delta commit carries when its write stats
    * record EXACT live-count deltas (numInserts = new live keys with
    * within-commit delete-wins applied, numDeletes = existing keys
    * removed). Lets the metadata COUNT(*) pushdown fold a group's live
    * row count as base numWrites + Σ deltas (numInserts − numDeletes)
    * without merging; pre-marker delta commits decline the fold (their
    * numInserts was unrecorded). */
  val DeltaCountsKey = "deltaCounts"

  /** Next commit ts: wall clock (14-digit yyyyMMddHHmmss, UTC) when it
    * sorts after the newest commit at the table's ts width; otherwise the
    * newest commit numerically +1 at fixed width (sub-second successive
    * commits, or tables on a different ts convention).
    *
    * The returned ts is RESERVED on the timeline (`<ts>.reserved` marker,
    * atomic create) before data files are stamped with it, so two
    * concurrent auto-ts writers always mint DISTINCT timestamps — the
    * multi-writer entry ticket (Hudi's requested-instant analog); the
    * marker is cleared by the eventual commit. Minting considers both
    * completed and currently-reserved instants. */
  private[graft] def nextTs(timeline: Timeline): String = {
    def bump(ts: String): String = {
      val b = (BigInt(ts) + 1).toString
      require(b.length <= ts.length, s"commit ts overflow bumping past $ts")
      ("0" * (ts.length - b.length)) + b
    }
    val clock = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    val newest = (timeline.completedInstants().map(_.ts) ++
      timeline.reservedTss()).maxOption
    var c = newest match {
      case None => clock
      case Some(last) if clock.length == last.length && clock > last => clock
      case Some(last) => bump(last)
    }
    while (!timeline.reserve(c)) c = bump(c)
    c
  }

  /** Batch write (`df.write.format("graft").mode(...)`). */
  def write(spark: SparkSession, basePath: String, mode: SaveMode,
      parameters: Map[String, String], df: DataFrame): Unit = {
    val timeline = Timeline(spark.sessionState.newHadoopConf(), basePath)
    val exists = timeline.completedInstants().nonEmpty
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft table already exists at $basePath (mode=ErrorIfExists)")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Overwrite if exists =>
        overwrite(spark, basePath, timeline, parameters, df)
      case _ => // Append, or first write under any mode
        appendTo(spark, basePath, timeline, parameters, df, Map.empty)
    }
  }

  private def operation(parameters: Map[String, String]): String =
    parameters.getOrElse("operation", "upsert")
      .toLowerCase(java.util.Locale.ROOT)

  /** INSERT_OVERWRITE_TABLE: replace the table's content with `df` in ONE
    * atomic commit ([[TableWriter.overwriteTable]]) — never a directory
    * delete, so a concurrent reader sees the old snapshot or the new one
    * (never an empty table), a crash mid-write leaves the old table intact
    * (orphaned new files are reclaimed by clean), history and time travel
    * survive, and every option typo throws BEFORE anything irreversible.
    *
    * An overwrite is the table's re-creation point: every contract property
    * — key/partition, `buckets`, `type`, `precombine` — may CHANGE here
    * (every group is rewritten, so nothing stale survives) and the resolved
    * [[WriteContract]] is re-recorded for later appends. */
  private def overwrite(spark: SparkSession, basePath: String,
      timeline: Timeline, parameters: Map[String, String],
      df: DataFrame): Unit = {
    val op = operation(parameters)
    require(op == "upsert",
      s"""mode=Overwrite replaces the table; operation "$op" is meaningless here""")
    val c = WriteContract.resolve(timeline, parameters, recreate = true)
    val (key, part) = (c.keyCol, c.partitionCol)
    val ts = parameters.getOrElse("ts", nextTs(timeline))
    try c.writer(spark, basePath, timeline)
      .overwriteTable(df, col(key), col(part), ts, extra = c.creationExtra)
    finally timeline.unreserve(ts)
  }

  /** Insert-or-upsert one commit (shared by batch Append and the streaming
    * sink). Duplicate keys WITHIN `df` are the caller's bug (Hudi's
    * record-key uniqueness contract). The table's [[WriteContract]] picks
    * the writer: COW appends rewrite touched groups; MOR appends are delta
    * commits, optionally followed by threshold compaction
    * (`compactEvery`). */
  def append(spark: SparkSession, basePath: String,
      parameters: Map[String, String], df: DataFrame,
      extra: Map[String, String]): Unit =
    appendTo(spark, basePath,
      Timeline(spark.sessionState.newHadoopConf(), basePath),
      parameters, df, extra)

  /** [[append]] against a caller's `timeline` of the table. */
  private[write] def appendTo(spark: SparkSession, basePath: String,
      timeline: Timeline, parameters: Map[String, String], df: DataFrame,
      extra: Map[String, String]): Unit = {
    // OCC retry: when the commit ts is auto-minted, a lost race
    // (CommitConflictException — overlapping groups or ordering) re-plans
    // the WHOLE append against the new table state (the conflict check
    // re-listed the timeline under the commit lock) with a fresh reserved
    // ts; the failed attempt's data files are unreferenced and harmless.
    // An explicit .option("ts", ...) fails loudly instead (the caller
    // pinned history).
    val auto = !parameters.contains("ts")
    var attempts = 0
    while (true) {
      try { appendOnce(spark, basePath, timeline, parameters, df, extra); return }
      catch {
        case _: graft.format.CommitConflictException
            if auto && attempts < 4 => attempts += 1
      }
    }
  }

  private def appendOnce(spark: SparkSession, basePath: String,
      timeline: Timeline, parameters: Map[String, String], df: DataFrame,
      extra: Map[String, String]): Unit = {
    val op = operation(parameters)
    require(op == "upsert" || op == "delete" || op == "cdc",
      s"""graft operation must be "upsert", "delete" or "cdc", got "$op"""")
    val c = WriteContract.resolve(timeline, parameters)
    val isNew = timeline.completedInstants().isEmpty
    require(!(isNew && op == "delete"),
      s"cannot delete from a table that does not exist at $basePath")
    // a catalog CREATE TABLE records schema/contract as an EMPTY creation
    // commit — the table exists but holds no slices, so the first data
    // write must still take the insert branch (an upsert would plan
    // against nothing)
    val noData = isNew || timeline.latestSlices(None).isEmpty
    // deleting keys from a created-but-empty table: legal no-op
    if (noData && op == "delete") return
    val (key, part) = (c.keyCol, c.partitionCol)

    // operation=cdc: split the tagged change frame into (upserts, deletes)
    // with the NEWEST change per key winning — a multi-commit batch can
    // carry e.g. update-then-delete or delete-then-reinsert for one key,
    // and only the final state may apply (a fixed delete-wins tiebreak
    // would resurrect or lose rows depending on order). Within one source
    // commit a key appears at most once (the feed's own delete-wins
    // dedupe), so ordering by _change_commit_ts is total per key.
    val (ups, dels): (Option[DataFrame], Option[DataFrame]) =
      if (op == "cdc") {
        val ct = graft.read.ChangeFeed.ChangeType
        val cc = graft.read.ChangeFeed.ChangeCommitTs
        require(df.columns.contains(ct) && df.columns.contains(cc),
          s"operation=cdc needs a change frame carrying $ct and $cc " +
            "(spark.read/readStream option cdc=true produces one)")
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.row_number
        val w = Window.partitionBy(col(key))
          .orderBy(col(cc).desc)
        val latest = df
          .withColumn("__cdc_rn", row_number().over(w))
          .filter(col("__cdc_rn") === 1).drop("__cdc_rn")
        (Some(latest.filter(col(ct) =!= "delete").drop(ct, cc)),
          Some(latest.filter(col(ct) === "delete").drop(ct, cc)))
      } else if (op == "delete") (None, Some(df))
      else (Some(df), None)
    val ts = parameters.getOrElse("ts", nextTs(timeline))
    // unreserve on every exit: a completed commit already cleared its
    // marker (no-op there); a no-op write (empty micro-batch) or a failed/
    // conflicted attempt releases its ts instead of orphaning the marker
    try {
      val w = c.writer(spark, basePath, timeline)
      // bootstrapping (a cdc mirror too: deletes of keys that never
      // existed are no-ops — only the net-surviving rows insert)
      if (noData) w.insert(ups.get, col(key), col(part), ts,
        extra = extra ++ c.creationExtra)
      else {
        // one commit for both effects: COW rewrites survivors, MOR appends
        // upserts and delete markers as one delta
        w.commit(ups, dels, col(key), col(part), ts, extra)
        w match {
          case m: MorWriter =>
            parameters.get("compactEvery").map(_.toInt).foreach { n =>
              require(n >= 1, "compactEvery must be >= 1")
              val cts = nextTs(timeline)
              try m.compactIf(cts, minDeltas = n)
              finally timeline.unreserve(cts) // no dirty groups → no commit
            }
          case _ =>
        }
      }
    } finally timeline.unreserve(ts)
  }
}

/** V1 streaming sink: each micro-batch becomes ONE table commit tagged
  * with its (query id, batch id) in the commit's extraMetadata.
  * Exactly-once under the engine's replay contract: after a restart the
  * engine re-runs the last possibly-uncommitted batch with the SAME query
  * and batch id — `addBatch` compares against the newest commit THIS query
  * wrote (batch ids are monotonic per query, so one newest-first walk that
  * stops at the first matching commit decides replay in O(1) metadata
  * reads per batch, not a full-timeline scan) and skips it, so a batch
  * never lands twice (the commit log IS the sink's batch log, no
  * `_spark_metadata` sidecar). A DIFFERENT query writing to the same
  * table — fresh checkpoint, batch ids restarting at 0 — is a different
  * query id and lands normally. Empty micro-batches land no commit and are
  * detected INSIDE the write itself (the delta write job finds no groups /
  * the COW path refuses the empty commit) — no pre-probe, so the batch
  * plan is never executed just to test emptiness.
  *
  * Pairs with the r5 source: `readStream.format("graft")` →
  * `writeStream.format("graft")` tails one table into another with
  * per-commit exactly-once on both ends. */
private[graft] final class GraftStreamSink(spark: SparkSession,
    basePath: String, parameters: Map[String, String])
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = synchronized {
    val timeline = Timeline(spark.sessionState.newHadoopConf(), basePath)
    // The engine sets this local property on the thread running the sink
    // (the stable query id, not the per-run id). Absent only when addBatch
    // is driven outside a streaming execution.
    val qid = Option(
      spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
    val newestForQuery = timeline.completedInstants().reverseIterator
      .map(i => timeline.metadata(i.ts).extra)
      .collectFirst {
        case ex if ex.contains(FormatWriter.BatchIdKey) &&
          ex.get(FormatWriter.QueryIdKey) == qid =>
          ex(FormatWriter.BatchIdKey).toLong
      }
    // Legacy fallback: sink commits tagged WITHOUT a query id (written by
    // out-of-band addBatch runs, or before query ids were recorded). When
    // this query has no recorded commit yet, a legacy commit's batch id
    // still gates — conservative replay protection, at the cost that a
    // genuinely new query against a legacy-tagged table skips ids the old
    // gate would also have skipped. Only consulted on the query's first
    // batch (one full walk), never once its own commits exist.
    val legacyGate =
      if (newestForQuery.nonEmpty || qid.isEmpty) None
      else timeline.completedInstants().reverseIterator
        .map(i => timeline.metadata(i.ts).extra)
        .collectFirst {
          case ex if ex.contains(FormatWriter.BatchIdKey) &&
            !ex.contains(FormatWriter.QueryIdKey) =>
            ex(FormatWriter.BatchIdKey).toLong
        }
    // A LEGACY-gated skip may be swallowing a genuinely new query's first
    // batches (fresh checkpoint, ids restarting at 0, against a table whose
    // sink commits predate query-id recording) — conservative, but surfaced
    // loudly instead of silent data loss.
    if (legacyGate.exists(_ >= batchId))
      GraftStreamSink.log.warn(
        s"graft sink at $basePath: skipping batch $batchId of query " +
          s"${qid.getOrElse("?")} because a LEGACY (query-id-less) sink " +
          s"commit recorded batchId ${legacyGate.get}; if this is a new " +
          "query (not a replay), its first batches are being dropped — " +
          "start it against a fresh table or re-tag the legacy commits")
    val gate = newestForQuery.orElse(legacyGate)
    if (gate.exists(_ >= batchId)) return // replay: already landed
    // addBatch's frame wraps the planned IncrementalExecution — re-mount as
    // a batch frame so the writer can run ordinary batch jobs over it.
    val batch = org.apache.spark.sql.graft.Bridge
      .sinkBatchDataFrame(spark, data)
    // Empty micro-batches are handled INSIDE the write (no pre-probe — an
    // `isEmpty` check here would execute the batch plan once more): the MOR
    // delta path no-ops after its write job finds no groups; the COW path
    // refuses the empty commit, caught here. Either way no commit lands, so
    // a replayed empty batch skips again.
    try FormatWriter.appendTo(spark, basePath, timeline, parameters, batch,
      extra = Map(FormatWriter.BatchIdKey -> batchId.toString) ++
        qid.map(FormatWriter.QueryIdKey -> _))
    catch {
      case _: FormatWriter.EmptyCommitException =>
        () // empty COW micro-batch: nothing to land
    }
  }

  override def toString: String = s"GraftStreamSink[$basePath]"
}

private object GraftStreamSink {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftStreamSink])
}

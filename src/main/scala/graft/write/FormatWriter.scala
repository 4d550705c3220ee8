package graft.write

import graft.format.{MetaCols, Timeline}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Write half of the `graft` format surface — the engine behind
  * `df.write.format("graft")` (batch) and `writeStream.format("graft")`
  * (streaming sink), both dispatched from
  * [[graft.streaming.GraftSourceProvider]].
  *
  * Options: `key` (record-key column, REQUIRED), `partition` (partition
  * column, REQUIRED), `operation` (`upsert` default | `delete`: Append
  * mode removes the frame's keys instead of upserting them — COW rewrites
  * survivors, MOR appends delete markers | `cdc`: the frame is a CHANGE
  * feed — `_change_type`/`_change_commit_ts`-tagged rows as produced by
  * [[graft.read.ChangeFeed]]; the newest change per key wins, deletes
  * remove their keys, inserts/updates upsert post-images, all in ONE
  * commit — `readStream(cdc=true) → writeStream(operation=cdc)` mirrors a
  * table INCLUDING deletes), `type` (`cow` default | `mor`:
  * appends are DELTA commits — no file-group rewrite; the
  * streaming-ingest shape), `buckets`
  * (file groups per partition; defaults to the count recorded in the
  * table's commit metadata, else 8), `stats` (comma-separated hot payload
  * columns for the column-stats skipping index — the record key is always
  * tracked), `compactEvery` (MOR only: compact
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
  * All data movement goes through [[CowWriter]]/[[MorWriter]]: one
  * distributed job per commit, driver handles only file names and commit
  * JSON.
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

  /** Commit-extra key pinning the table's bucket count at creation, so
    * later appends can't silently re-bucket keys across file groups. */
  val BucketsKey = "buckets"

  /** Commit-extra key pinning the table type (`cow`/`mor`) at creation. */
  val TypeKey = "type"

  /** Commit-extra keys recording the record-key and partition COLUMN NAMES
    * at creation/overwrite — what lets SQL DML (and appends that omit the
    * options) resolve the table's identity columns from metadata. */
  val KeyColKey = "key"
  val PartColKey = "partition"

  /** The identity a table-creating engine write records: `key`/`partition`
    * for each of the two that the caller names by a bare column reference
    * (an expression key records nothing — there is no column to name).
    * Callers merge their own `extra` on top, so an explicit value wins. */
  private[graft] def identityExtra(keyCol: Column, partCol: Column)
      : Map[String, String] =
    Seq(KeyColKey -> keyCol, PartColKey -> partCol).flatMap { case (k, c) =>
      org.apache.spark.sql.graft.Bridge.bareColumnName(c)
        // readers re-resolve the name with col(...), which would parse a
        // dotted name as a nested field; meta columns are not payload
        .filterNot(n => n.contains('.') || MetaCols.all.contains(n))
        .map(k -> _)
    }.toMap

  /** Commit-extra key recording the table's EVENT-TIME ordering column
    * (Hudi's precombine field): when declared at creation/overwrite via
    * `.option("precombine", col)`, the row version with the GREATEST
    * ordering value wins an upsert regardless of arrival order — COW
    * resolves at write time, MOR at merge time — so late-arriving stale
    * updates cannot shadow newer data (out-of-order ingest, replayed
    * batches, backfills). Deletes stay ABSOLUTE (commit-ordered). Null
    * ordering values lose to any non-null; ties go to the newer commit. */
  val PrecombineKey = "precombine"

  /** Commit-extra marker a MOR delta commit carries when its write stats
    * record EXACT live-count deltas (numInserts = new live keys with
    * within-commit delete-wins applied, numDeletes = existing keys
    * removed). Lets the metadata COUNT(*) pushdown fold a group's live
    * row count as base numWrites + Σ deltas (numInserts − numDeletes)
    * without merging; pre-marker delta commits decline the fold (their
    * numInserts was unrecorded). */
  val DeltaCountsKey = "deltaCounts"

  /** Table-property key (recorded at creation/overwrite like
    * `buckets`/`type`): `exact` (default) maintains the per-delta live
    * counters above; `off` skips the existence check they require — a
    * SNAPSHOT-KEY join per delta commit, table-sized however small the
    * batch — for DELETE-FREE deltas. The right declaration for internal
    * high-churn state tables (dedup window/signature indexes) that are
    * consumed by joins, not metadata COUNT(*): their delta commits then
    * carry no [[DeltaCountsKey]] marker and every reader already declines
    * the metadata fold for such commits (the pre-r11 commit shape).
    * Deltas CARRYING DELETES always compute exact counters regardless —
    * `totalRecordsDeleted` exactness is a delete-view invariant. */
  val DeltaCountersKey = "deltaCounters"

  /** Commit-extra key recording the comma-separated HOT payload columns
    * tracked by the column-stats skipping index (the record key is always
    * tracked). Declared at creation via `.option("stats", "c1,c2")`,
    * resolved from metadata for later appends; may be changed per write
    * (stats are per-file — new files simply record the new set). */
  val StatsColsKey = "stats"

  /** Commit-extra key recording the comma-separated columns tracked by the
    * per-file BLOOM skipping index (equality/IN lookups on
    * high-cardinality payload columns, where min/max ranges go blind —
    * see [[graft.format.Bloom]]). Declared via `.option("blooms",
    * "c1,c2")`; bloom columns are implicitly stats columns too. */
  val BloomColsKey = "blooms"

  /** Commit-extra key for the per-file bloom size in bits
    * (`.option("bloomBits", n)`; size to ~7× the expected per-file
    * distinct count — undersized blooms keep files, never drop wrongly). */
  val BloomBitsKey = "bloomBits"

  /** Hot stats columns: explicit option, else the set recorded at
    * creation/overwrite. */
  private def statsCols(parameters: Map[String, String],
      timeline: Timeline): Seq[String] =
    parameters.get(StatsColsKey)
      .orElse(recordedExtra(timeline, StatsColsKey))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  /** Bloom-tracked columns: explicit option, else the set recorded at
    * creation/overwrite. */
  private def bloomCols(parameters: Map[String, String],
      timeline: Timeline): Seq[String] =
    parameters.get(BloomColsKey)
      .orElse(recordedExtra(timeline, BloomColsKey))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  private def bloomBits(parameters: Map[String, String],
      timeline: Timeline): Int =
    parameters.get(BloomBitsKey)
      .orElse(recordedExtra(timeline, BloomBitsKey))
      .map(_.toInt).getOrElse(graft.format.Bloom.DefaultBits)

  private def required(parameters: Map[String, String], name: String): String =
    parameters.getOrElse(name, throw new IllegalArgumentException(
      s"""graft write requires .option("$name", <column name>)"""))

  /** Identity column (key/partition): explicit option, else the name
    * recorded at creation (or the newest overwrite). A contradicting
    * explicit option is an error — changing the record-key or partition
    * derivation mid-table would silently split record identities. */
  private def identityCol(parameters: Map[String, String],
      timeline: Timeline, name: String): String = {
    val recorded = recordedExtra(timeline, name)
    val opt = parameters.get(name)
    (opt, recorded) match {
      case (Some(o), Some(r)) if o != r => throw new IllegalArgumentException(
        s"""$name=$o contradicts the table's recorded $name column "$r"""")
      case (o, r) => o.orElse(r).getOrElse(throw new IllegalArgumentException(
        s"""graft write requires .option("$name", <column name>) """ +
          "(not recorded in this table's commit metadata)"))
    }
  }

  /** Newest commit-extra value for `key` — table properties (buckets, type)
    * are recorded at CREATION and at every OVERWRITE (re-creation point),
    * so the newest record is the live one. Metadata-scale walk, memoized
    * per Timeline; stops at the first carrier. */
  private[graft] def recordedExtra(timeline: Timeline,
      key: String): Option[String] =
    timeline.recordedExtraAsOf(key, None)

  /** Event-time ordering column: recorded at creation/overwrite; appends
    * resolve it from metadata. A contradicting explicit option is an
    * error, and declaring one on an EXISTING table without a recorded
    * column is too (rows written before the declaration would carry
    * arbitrary ordering — re-create or overwrite to declare). */
  private def precombineCol(parameters: Map[String, String],
      timeline: Timeline): Option[String] = {
    val recorded = recordedExtra(timeline, PrecombineKey)
    val opt = parameters.get(PrecombineKey)
    val exists = timeline.completedInstants().nonEmpty
    (opt, recorded) match {
      case (Some(o), Some(r)) if o != r => throw new IllegalArgumentException(
        s"""precombine=$o contradicts the table's recorded ordering column "$r"""")
      case (Some(_), None) if exists => throw new IllegalArgumentException(
        "precombine is declared at table creation or overwrite; this " +
          "table records none (existing rows would carry arbitrary ordering)")
      case (o, r) => o.orElse(r)
    }
  }

  /** Bucket count: explicit option, else the count recorded at table
    * creation (or the newest overwrite), else (for a NEW table only) 8. An
    * explicit option that CONTRADICTS the recorded count is an error, and
    * appending to an existing table with NO recorded count (created by the
    * raw writer APIs) without an explicit option is too — either way,
    * re-bucketing keys across file groups would strand old row versions in
    * groups the upsert never rewrites (silent duplicate keys). */
  private def buckets(parameters: Map[String, String],
      timeline: Timeline): Int = {
    val exists = timeline.completedInstants().nonEmpty
    val recorded = recordedExtra(timeline, BucketsKey).map(_.toInt)
    val opt = parameters.get(BucketsKey).map(_.toInt)
    (opt, recorded) match {
      case (Some(o), Some(r)) if o != r => throw new IllegalArgumentException(
        s"buckets=$o contradicts the table's recorded bucket count $r")
      case (None, None) if exists => throw new IllegalArgumentException(
        "appending to a table with no recorded bucket count; pass " +
          """.option("buckets", N) matching the writer that created it""")
      case (o, r) => o.orElse(r).getOrElse(8)
    }
  }

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
        overwrite(spark, basePath, parameters, df)
      case _ => // Append, or first write under any mode
        append(spark, basePath, parameters, df, Map.empty)
    }
  }

  /** INSERT_OVERWRITE_TABLE: replace the table's content with `df` in ONE
    * atomic commit ([[CowWriter.overwriteTable]]) — never a directory
    * delete, so a concurrent reader sees the old snapshot or the new one
    * (never an empty table), a crash mid-write leaves the old table intact
    * (orphaned new files are reclaimed by clean), history and time travel
    * survive, and every option typo throws BEFORE anything irreversible.
    *
    * An overwrite is the table's re-creation point: `buckets`/`type` may be
    * CHANGED here (every group is rewritten, so re-bucketing strands
    * nothing) and are re-recorded in the commit for later appends. */
  private def overwrite(spark: SparkSession, basePath: String,
      parameters: Map[String, String], df: DataFrame): Unit = {
    val timeline = Timeline(spark.sessionState.newHadoopConf(), basePath)
    // re-creation point: key/partition (like buckets/type) may CHANGE here
    // — every group is rewritten, so no stale identity can survive
    val key = parameters.get(KeyColKey)
      .orElse(recordedExtra(timeline, KeyColKey))
      .getOrElse(required(parameters, KeyColKey))
    val part = parameters.get(PartColKey)
      .orElse(recordedExtra(timeline, PartColKey))
      .getOrElse(required(parameters, PartColKey))
    val op = parameters.getOrElse("operation", "upsert").toLowerCase(java.util.Locale.ROOT)
    require(op == "upsert",
      s"""mode=Overwrite replaces the table; operation "$op" is meaningless here""")
    val opt = parameters.get(TypeKey).map(_.toLowerCase(java.util.Locale.ROOT))
    opt.foreach(t => require(t == "cow" || t == "mor",
      s"""graft type must be "cow" or "mor", got "$t""""))
    val tpe = opt.orElse(recordedExtra(timeline, TypeKey)).getOrElse("cow")
    val nb = parameters.get(BucketsKey).map(_.toInt)
      .orElse(recordedExtra(timeline, BucketsKey).map(_.toInt)).getOrElse(8)
    require(nb >= 1, "buckets must be >= 1")
    val ts = parameters.getOrElse("ts", nextTs(timeline))
    val sc = statsCols(parameters, timeline)
    val bc = bloomCols(parameters, timeline)
    val bb = bloomBits(parameters, timeline)
    // re-creation point: the ordering column may be (re)declared here
    val pc = parameters.get(PrecombineKey)
      .orElse(recordedExtra(timeline, PrecombineKey))
    val dc = deltaCounters(parameters, timeline)
    new CowWriter(spark, basePath, nb, statsCols = sc,
      bloomCols = bc, bloomBits = bb, precombine = pc)
      .overwriteTable(df, col(key), col(part),
        ts, extra = Map(BucketsKey -> nb.toString, TypeKey -> tpe,
          KeyColKey -> key, PartColKey -> part) ++
          (if (sc.nonEmpty) Map(StatsColsKey -> sc.mkString(",")) else Map.empty) ++
          (if (bc.nonEmpty) Map(BloomColsKey -> bc.mkString(","),
            BloomBitsKey -> bb.toString) else Map.empty) ++
          pc.map(PrecombineKey -> _) ++
          (if (dc != "exact") Map(DeltaCountersKey -> dc) else Map.empty))
  }

  /** Delta-counter mode: explicit option, else the mode recorded at
    * creation (or the newest overwrite), else `exact`. See
    * [[DeltaCountersKey]]. */
  private def deltaCounters(parameters: Map[String, String],
      timeline: Timeline): String = {
    val v = parameters.get(DeltaCountersKey)
      .orElse(recordedExtra(timeline, DeltaCountersKey))
      .getOrElse("exact").toLowerCase(java.util.Locale.ROOT)
    require(v == "exact" || v == "off",
      s"""deltaCounters must be "exact" or "off", got "$v"""")
    v
  }

  /** Table type: explicit option, else the type recorded at creation (or
    * the newest overwrite), else `cow`. A contradicting explicit option is
    * an error (a COW append on a MOR table would rewrite groups the merge
    * expects deltas for). */
  private def tableType(parameters: Map[String, String],
      timeline: Timeline): String = {
    val recorded = recordedExtra(timeline, TypeKey)
    val opt = parameters.get(TypeKey).map(_.toLowerCase(java.util.Locale.ROOT))
    opt.foreach(t => require(t == "cow" || t == "mor",
      s"""graft type must be "cow" or "mor", got "$t""""))
    (opt, recorded) match {
      case (Some(o), Some(r)) if o != r => throw new IllegalArgumentException(
        s"""type=$o contradicts the table's recorded type "$r"""")
      case (o, r) => o.orElse(r).getOrElse("cow")
    }
  }

  /** Insert-or-upsert one commit (shared by batch Append and the streaming
    * sink). Duplicate keys WITHIN `df` are the caller's bug (Hudi's
    * record-key uniqueness contract — same as CowWriter's). COW appends
    * rewrite touched groups; MOR appends are delta commits, optionally
    * followed by threshold compaction (`compactEvery`). */
  def append(spark: SparkSession, basePath: String,
      parameters: Map[String, String], df: DataFrame,
      extra: Map[String, String]): Unit = {
    // OCC retry: when the commit ts is auto-minted, a lost race
    // (CommitConflictException — overlapping groups or ordering) re-plans
    // the WHOLE append against the new table state with a fresh reserved
    // ts; the failed attempt's data files are unreferenced and harmless.
    // An explicit .option("ts", ...) fails loudly instead (the caller
    // pinned history).
    val auto = !parameters.contains("ts")
    var attempts = 0
    while (true) {
      try { appendOnce(spark, basePath, parameters, df, extra); return }
      catch {
        case _: graft.format.CommitConflictException
            if auto && attempts < 4 => attempts += 1
      }
    }
  }

  private def appendOnce(spark: SparkSession, basePath: String,
      parameters: Map[String, String], df: DataFrame,
      extra: Map[String, String]): Unit = {
    val timeline = Timeline(spark.sessionState.newHadoopConf(), basePath)
    val key = identityCol(parameters, timeline, KeyColKey)
    val part = identityCol(parameters, timeline, PartColKey)
    val nb = buckets(parameters, timeline)
    val tpe = tableType(parameters, timeline)
    val ts = parameters.getOrElse("ts", nextTs(timeline))
    val isNew = timeline.completedInstants().isEmpty
    // a catalog CREATE TABLE records schema/contract as an EMPTY creation
    // commit — the table exists but holds no slices, so the first data
    // write must still take the insert branch (an upsert would plan
    // against nothing)
    val noData = isNew || timeline.latestSlices(None).isEmpty
    val op = parameters.getOrElse("operation", "upsert").toLowerCase(java.util.Locale.ROOT)
    require(op == "upsert" || op == "delete" || op == "cdc",
      s"""graft operation must be "upsert", "delete" or "cdc", got "$op"""")
    require(!(isNew && op == "delete"),
      s"cannot delete from a table that does not exist at $basePath")
    if (noData && !isNew && op == "delete") {
      timeline.unreserve(ts)
      return // deleting keys from a created-but-empty table: legal no-op
    }

    // operation=cdc: split the tagged change frame into (upserts, deletes)
    // with the NEWEST change per key winning — a multi-commit batch can
    // carry e.g. update-then-delete or delete-then-reinsert for one key,
    // and only the final state may apply (a fixed delete-wins tiebreak
    // would resurrect or lose rows depending on order). Within one source
    // commit a key appears at most once (the feed's own delete-wins
    // dedupe), so ordering by _change_commit_ts is total per key.
    val cdcSplit: Option[(DataFrame, DataFrame)] =
      if (op != "cdc") None
      else {
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
        Some((latest.filter(col(ct) =!= "delete").drop(ct, cc),
          latest.filter(col(ct) === "delete").drop(ct, cc)))
      }
    val sc = statsCols(parameters, timeline)
    val bc = bloomCols(parameters, timeline)
    val bb = bloomBits(parameters, timeline)
    val pc = precombineCol(parameters, timeline)
    val dc = deltaCounters(parameters, timeline)
    val createExtra = extra + (BucketsKey -> nb.toString) +
      (TypeKey -> tpe) + (KeyColKey -> key) + (PartColKey -> part) ++
      (if (sc.nonEmpty) Map(StatsColsKey -> sc.mkString(",")) else Map.empty) ++
      (if (bc.nonEmpty) Map(BloomColsKey -> bc.mkString(","),
        BloomBitsKey -> bb.toString) else Map.empty) ++
      pc.map(PrecombineKey -> _) ++
      (if (dc != "exact") Map(DeltaCountersKey -> dc) else Map.empty)
    // unreserve on every exit: a completed commit already cleared its
    // marker (no-op there); a no-op write (empty micro-batch) or a failed/
    // conflicted attempt releases its ts instead of orphaning the marker
    try {
      if (tpe == "mor") {
        // MOR needs no writer-side ordering: deltas append as written and
        // the snapshot merge resolves by the recorded ordering column
        val w = new MorWriter(spark, basePath, nb, statsCols = sc,
          bloomCols = bc, bloomBits = bb,
          exactCounters = dc == "exact")
        if (noData) cdcSplit match {
          // bootstrapping a mirror: deletes of keys that never existed
          // are no-ops — only the net-surviving rows insert
          case Some((ups, _)) =>
            w.insert(ups, col(key), col(part), ts, extra = createExtra)
          case None =>
            w.insert(df, col(key), col(part), ts, extra = createExtra)
        } else {
          cdcSplit match {
            case Some((ups, dels)) => // one delta commit for both effects
              w.upsertDelta(Some(ups), Some(dels), col(key), col(part), ts,
                extra = extra)
            case None if op == "delete" => // delete markers, no rewrite
              w.delete(df, col(key), col(part), ts, extra = extra)
            case None =>
              w.upsert(df, col(key), col(part), ts, extra = extra)
          }
          parameters.get("compactEvery").map(_.toInt).foreach { n =>
            require(n >= 1, "compactEvery must be >= 1")
            val cts = nextTs(w.timeline)
            try w.compactIf(cts, minDeltas = n)
            finally w.timeline.unreserve(cts) // no dirty groups → no commit
          }
        }
      } else {
        val w = new CowWriter(spark, basePath, nb, statsCols = sc,
          bloomCols = bc, bloomBits = bb, precombine = pc)
        if (noData) cdcSplit match {
          case Some((ups, _)) =>
            w.insert(ups, col(key), col(part), ts, extra = createExtra)
          case None =>
            w.insert(df, col(key), col(part), ts, extra = createExtra)
        } else cdcSplit match {
          case Some((ups, dels)) => // one commit for both effects
            w.commit(Some(ups), Some(dels), col(key), col(part), ts,
              extra = extra)
          case None if op == "delete" =>
            w.delete(df, col(key), col(part), ts, extra = extra)
          case None =>
            w.upsert(df, col(key), col(part), ts, extra = extra)
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
    try FormatWriter.append(spark, basePath, parameters, batch,
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

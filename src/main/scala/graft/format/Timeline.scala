package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.StructType
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** Native timeline reader/writer over `<basePath>/.hoodie/`.
  *
  * Replaces the reference's external timeline server
  * (RemoteHoodieTableFileSystemView @ localhost:26754,
  * ref: DeleteSupport.java:32-33, 45-46) with direct storage reads: completed
  * instants are `<ts>.commit` (base-file writes: COW commits, MOR
  * compactions) or `<ts>.deltacommit` (MOR delta appends) files whose body is
  * the commit-metadata JSON (ref: HoodieTimeline.getInstants/getInstantDetails,
  * DeleteView.java:51-55, 85-87, 196-209). Commits are written atomically
  * (temp file + rename) per SURVEY.md §7.5. All driver-side, metadata-scale:
  * O(#commits) listing, never a data-dir scan.
  */
final class Timeline(val fs: FileSystem, val basePath: Path,
    lock: TableLock = TableLock.JvmOnly,
    val reserveTtlMs: Long = Timeline.DefaultReserveTtlMs) {
  val hoodieDir = new Path(basePath, Timeline.MetaDir)

  /** Commit critical section: the JVM per-table lock (same-driver
    * writers) composed with the configured inter-process [[TableLock]]
    * (multi-driver deployments — `graft.lock.provider=fs`). */
  private def withTableLock[T](f: => T): T =
    Timeline.lockFor(fs.makeQualified(basePath).toString).synchronized {
      lock.withLock(f)
    }

  // Decoded-metadata memo, one parse per timestamp per Timeline instance
  // (ref: cacheMetadata, DeleteView.java:65, 192-217).
  private val memo = mutable.Map.empty[String, CommitMetadata]

  // Instant-listing memo: latestSlices walks metadata per instant and each
  // metadata() lookup validates its instant, so an unmemoized listing is
  // O(#commits²) FS list calls — a real driver bottleneck on object storage.
  // One listStatus per Timeline instance; saveCommit invalidates. A Timeline
  // is a per-operation handle (readers construct one per query), so external
  // writers are picked up by the next operation, same staleness window as
  // Hudi's own timeline snapshot.
  private var instantsMemo: Option[Seq[Instant]] = None
  // ts of instants whose commit file is in the ACTIVE directory (vs only
  // in an archive manifest); populated alongside instantsMemo.
  private var activeTsMemo: Set[String] = Set.empty
  private var archiveMemo: Option[Map[String, (String, CommitMetadata)]] =
    None

  /** Completed instants in timestamp order (memoized; one FS listing per
    * instance — call [[refresh]] to force a re-list). Includes ARCHIVED
    * instants (see [[archive]]) — archival changes where metadata is
    * stored, never what history exists. */
  def completedInstants(): Seq[Instant] = instantsMemo match {
    case Some(cached) => cached
    case None =>
      val listed = listInstants()
      instantsMemo = Some(listed)
      listed
  }

  /** Drop the instant-listing memo (next call re-lists the FS). */
  def refresh(): Unit = { instantsMemo = None; archiveMemo = None }

  private def listInstants(): Seq[Instant] = {
    Timeline.hoodieListings.incrementAndGet()
    if (!Timeline.retryOnce(fs.exists(hoodieDir))) return Seq.empty
    val active = Timeline.retryOnce(fs.listStatus(hoodieDir)).toSeq
      .map(_.getPath.getName)
      .collect {
        case n if n.endsWith(Timeline.CommitSuffix) =>
          Instant(n.stripSuffix(Timeline.CommitSuffix),
            Instant.CommitAction, Instant.Completed)
        case n if n.endsWith(Timeline.DeltaCommitSuffix) =>
          Instant(n.stripSuffix(Timeline.DeltaCommitSuffix),
            Instant.DeltaCommitAction, Instant.Completed)
      }
    activeTsMemo = active.map(_.ts).toSet
    // an instant present in BOTH (crash between archive publish and active
    // delete) counts once — the copies are identical; active is preferred
    // so a half-finished archive pass never changes reads
    val fromArchive = archived().collect {
      case (ts, (action, _)) if !activeTsMemo.contains(ts) =>
        Instant(ts, action, Instant.Completed)
    }
    (active ++ fromArchive).sortBy(_.ts)
  }

  /** Archived instants: ts → (action, metadata), one sequential read per
    * archive manifest (JVM-cached — manifests are immutable once
    * published). Empty for never-archived tables: ONE existence probe. */
  private def archived(): Map[String, (String, CommitMetadata)] =
    archiveMemo match {
      case Some(m) => m
      case None =>
        val dir = new Path(hoodieDir, Timeline.ArchiveDir)
        val m: Map[String, (String, CommitMetadata)] =
          if (!Timeline.retryOnce(fs.exists(dir))) Map.empty
          else Timeline.retryOnce(fs.listStatus(dir)).toSeq
            .filter(_.getPath.getName.endsWith(".json"))
            .flatMap(st => Timeline.archiveEntries(fs, st))
            .map { case (ts, action, meta) => ts -> (action, meta) }
            .toMap
        archiveMemo = Some(m)
        m
    }

  /** Point lookup of a completed instant (ref: DeleteView.java:51-55). */
  def instantAt(ts: String): Option[Instant] =
    completedInstants().find(_.ts == ts)

  /** Whether `ts` is completed AND its commit file is on the ACTIVE
    * timeline (not relocated into an archive manifest). */
  def isActive(ts: String): Boolean = {
    completedInstants() // populates the active-ts memo
    activeTsMemo.contains(ts)
  }

  private def suffixOf(action: String): String = action match {
    case Instant.DeltaCommitAction => Timeline.DeltaCommitSuffix
    case _ => Timeline.CommitSuffix
  }

  /** Decode the commit metadata for instant `ts` (memoized; archived
    * instants resolve from their archive manifest — same decode path). */
  def metadata(ts: String): CommitMetadata =
    memo.getOrElseUpdate(ts, {
      val i = instantAt(ts).getOrElse(
        throw new IllegalArgumentException(
          s"no completed instant at ts=$ts under $hoodieDir"))
      if (!activeTsMemo.contains(ts)) archived()(ts)._2
      else {
        Timeline.commitFileOpens.incrementAndGet()
        val p = new Path(hoodieDir, ts + suffixOf(i.action))
        Timeline.retryOnce {
          val in = fs.open(p)
          try JsonCodec.fromJson(
            new String(org.apache.commons.io.IOUtils.toByteArray(in),
              StandardCharsets.UTF_8))
          finally in.close()
        }
      }
    })

  /** Atomically record a completed commit: write `<ts>.<action>.inflight`,
    * then rename to `<ts>.<action-suffix>`.
    *
    * Timestamp format is VALIDATED here: all digits, and the same width as
    * every commit already on the timeline. Everything downstream — instant
    * ordering, `asOf` bounds, incremental ranges, streaming offsets (which
    * compare commit ts strings against a `"0"` sentinel) — relies on
    * lexicographic order == numeric order, which only holds at fixed
    * width; enforcing it at the single write point keeps every reader
    * honest. */
  def saveCommit(ts: String, meta: CommitMetadata,
      action: String = Instant.CommitAction): Unit = {
    stageCommitLocked(ts, meta, action)
    promoteStagedLocked(ts, action)
  }

  /** First half of [[saveCommit]]: validate and write the commit BODY as
    * `<ts>.<action>.inflight` — nothing becomes visible until
    * [[promoteStagedLocked]] renames it. Multi-table transactions stage
    * every member first, journal the member list, then promote
    * ([[graft.write.MultiTableTxn]]); a crash between stage and promote is
    * rolled forward or back from the journal. Caller holds the table's
    * critical section. */
  private[graft] def stageCommitLocked(ts: String, meta: CommitMetadata,
      action: String = Instant.CommitAction): Unit = {
    require(ts.nonEmpty && ts.forall(_.isDigit),
      s"commit ts must be numeric (digits only), got '$ts'")
    completedInstants().headOption.foreach(first => require(
      ts.length == first.ts.length,
      s"commit ts '$ts' (width ${ts.length}) does not match the table's " +
        s"ts width ${first.ts.length} ('${first.ts}'): mixed widths break " +
        "lexicographic instant ordering"))
    fs.mkdirs(hoodieDir)
    val suffix = suffixOf(action)
    val tmp = new Path(hoodieDir, ts + suffix + ".inflight")
    val fin = new Path(hoodieDir, ts + suffix)
    // Collision guard: a completed instant is immutable and a ts names at
    // most ONE instant (either action). Re-landing a ts means a concurrent
    // writer or a caller bug — silently overwriting (or shadowing) history
    // would corrupt every reader's timeline walk. The memo catches
    // same-instance reuse; the direct exists() catches a racing external
    // writer of the same action.
    require(instantAt(ts).isEmpty && !Timeline.retryOnce(fs.exists(fin)),
      s"instant $ts already completed at $hoodieDir (concurrent writer " +
        "or ts reuse); completed commits are immutable")
    val out = fs.create(tmp, true)
    try out.write(JsonCodec.toJson(meta).getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Second half of [[saveCommit]]: atomically publish a staged commit.
    * `allowAlreadyPromoted = true` (journal RECOVERY re-running the
    * publish) makes an already-completed instant a cleanup no-op; the
    * default keeps the original loud failure — a completed file appearing
    * between stage and promote outside recovery means a racing writer of
    * the same ts, which must never be silently swallowed. */
  private[graft] def promoteStagedLocked(ts: String,
      action: String = Instant.CommitAction,
      allowAlreadyPromoted: Boolean = false): Unit = {
    val suffix = suffixOf(action)
    val tmp = new Path(hoodieDir, ts + suffix + ".inflight")
    val fin = new Path(hoodieDir, ts + suffix)
    if (Timeline.retryOnce(fs.exists(fin))) {
      require(allowAlreadyPromoted,
        s"instant $ts completed concurrently at $hoodieDir (racing " +
          "writer of the same ts); refusing to drop this staged commit")
      fs.delete(tmp, false)
    } else require(fs.rename(tmp, fin),
      s"atomic commit rename failed for $fin")
    // a reservation for this ts (see [[reserve]]) is now superseded by the
    // completed instant
    fs.delete(new Path(hoodieDir, ts + Timeline.ReservedSuffix), false)
    memo.remove(ts)
    instantsMemo = None
  }

  /** Discard a staged-but-never-promoted commit (rollback of an
    * unpublished transaction member): remove the inflight body and the ts
    * reservation. No-op when nothing is staged. */
  private[graft] def discardStagedLocked(ts: String,
      action: String = Instant.CommitAction): Unit = {
    fs.delete(new Path(hoodieDir, ts + suffixOf(action) + ".inflight"),
      false)
    fs.delete(new Path(hoodieDir, ts + Timeline.ReservedSuffix), false)
  }

  /** OCC validate + STAGE (no publish) — the multi-table transaction's
    * per-member first phase; caller holds the critical section. */
  private[graft] def stageCommitOccLocked(ts: String, meta: CommitMetadata,
      action: String = Instant.CommitAction,
      readPoint: Option[String] = None,
      conflictOnAny: Boolean = false): Unit = {
    val newSince = validateOccLocked(ts, meta, readPoint, conflictOnAny)
    stageCommitLocked(ts, reUnionSchema(meta, newSince, action), action)
  }

  /** OPTIMISTIC-CONCURRENCY commit: the same atomic publish as
    * [[saveCommit]], preceded — inside the table's commit lock — by
    * conflict detection against every instant that COMPLETED after this
    * writer's read point (Hudi's `SimpleConcurrentFileWritesConflict
    * ResolutionStrategy` analog):
    *
    *  - group-overlap conflict: a since-completed instant wrote one of the
    *    file groups this commit writes → [[CommitConflictException]] naming
    *    the conflicting group(s) and instant(s). The loser re-plans from
    *    the new table state and retries with a fresh ts; its already-
    *    written data files are unreferenced (no commit records them) and
    *    are reclaimed like any superseded slice.
    *  - `conflictOnAny`: create/overwrite semantics — ANY since-completed
    *    instant conflicts (an overwrite replaces the table as of its read
    *    point; a concurrent commit's file group would survive it and
    *    resurrect stale rows).
    *  - head-ordering guard: the new commit's ts must sort after every
    *    since-completed instant — landing a LOWER ts behind a completed
    *    higher one would retroactively change already-served time-travel
    *    snapshots (commits are immutable history, not just files).
    *
    * Disjoint-group writers both land; overlapping writers get exactly one
    * winner. The JVM-wide per-table lock serializes only the metadata
    * check + commit rename (O(#instants-since) decode, no data I/O) among
    * writers in THIS process — the local-mode deployment. Multi-DRIVER
    * deployments must serialize the same critical section with an external
    * lock provider, exactly Hudi's OCC lock-provider requirement; conflict
    * DETECTION itself is storage-based and driver-agnostic.
    *
    * @param readPoint newest completed instant the writer planned against
    *                  (None = table was empty at read)
    */
  def saveCommitOcc(ts: String, meta: CommitMetadata,
      action: String = Instant.CommitAction,
      readPoint: Option[String] = None,
      conflictOnAny: Boolean = false): Unit =
    withTableLock {
      saveCommitOccLocked(ts, meta, action, readPoint, conflictOnAny)
    }

  /** Run `f` inside THIS table's commit critical section (JVM per-table
    * monitor + configured inter-process lock) — the composition point for
    * multi-table transactions ([[graft.write.MultiTableTxn]]), which nest
    * several tables' sections in canonical path order and then use the
    * `*Locked` verbs below. Reentrant on the JVM monitor, NOT on an `fs`
    * lock provider — never nest the same table twice. */
  private[graft] def withLock[T](f: => T): T = withTableLock(f)

  /** [[saveCommitOcc]]'s body without taking the lock — caller MUST hold
    * this table's critical section (see [[withLock]]). */
  private[graft] def saveCommitOccLocked(ts: String, meta: CommitMetadata,
      action: String = Instant.CommitAction,
      readPoint: Option[String] = None,
      conflictOnAny: Boolean = false): Unit = {
    val newSince = validateOccLocked(ts, meta, readPoint, conflictOnAny)
    saveCommit(ts, reUnionSchema(meta, newSince, action), action)
  }

  /** OCC conflict check ONLY (no publish) — caller must hold the critical
    * section. Returns the instants completed since `readPoint` (what
    * [[reUnionSchema]] needs at publish); throws
    * [[CommitConflictException]] on any conflict. */
  private[graft] def validateOccLocked(ts: String, meta: CommitMetadata,
      readPoint: Option[String],
      conflictOnAny: Boolean): Seq[Instant] = {
      refresh()
      val floor = readPoint.getOrElse("")
      val newSince = completedInstants()
        .filter(i => floor.isEmpty || i.ts > floor)
      if (newSince.nonEmpty) {
        if (conflictOnAny)
          throw new CommitConflictException(
            s"commit $ts conflicts: instant(s) " +
              s"${newSince.map(_.ts).mkString(", ")} completed after this " +
              s"writer's read point ${readPoint.getOrElse("<empty table>")} " +
              "and this operation (create/overwrite) replaces the whole " +
              "table; re-plan from the current state and retry")
        val mine = meta.allStats.map(_._2.fileId).toSet
        val conflicts = newSince.flatMap(i =>
          metadata(i.ts).allStats.map(_._2.fileId)
            .filter(mine.contains).map(i.ts -> _))
        if (conflicts.nonEmpty)
          throw new CommitConflictException(
            s"commit $ts conflicts: file group(s) " +
              conflicts.map(_._2).distinct.mkString(", ") +
              s" were concurrently written by instant(s) " +
              conflicts.map(_._1).distinct.mkString(", ") +
              s" after this writer's read point " +
              s"${readPoint.getOrElse("<empty table>")}; " +
              "re-plan from the current state and retry")
        if (!newSince.forall(_.ts < ts))
          throw new CommitConflictException(
            s"commit $ts would land BEHIND concurrently completed instant " +
              s"${newSince.map(_.ts).max} (already-served time-travel " +
              "snapshots must stay immutable); retry with a fresh ts")
      }
      newSince
    }

  /** Post-lock schema re-union: this commit's recorded writer schema was
    * computed BEFORE the lock, from the writer's (possibly stale) timeline
    * memo — a conflict-FREE concurrent writer that added a different column
    * would otherwise be erased from the "newest schema is a superset of
    * every live slice" invariant the readers rely on ([[schema]]). Inside
    * the lock the since-completed instants are known exactly: append any of
    * their fields this commit's schema is missing (this commit's fields
    * keep their order and types — it is the newest writer; add-only
    * evolution makes same-name/different-type divergence a caller contract
    * violation, resolved newest-wins). The MOR delete marker stays
    * delta-only, as in `TableWriter.monotonicSchema`.
    * Only reached on the disjoint-group append path: create/overwrite
    * (`conflictOnAny`) has already thrown when anything completed since. */
  private def reUnionSchema(meta: CommitMetadata, since: Seq[Instant],
      action: String): CommitMetadata = meta.schema match {
    case Some(mine) if since.nonEmpty =>
      val mineNames = mine.fieldNames.toSet
      val missing = since.flatMap(i => metadata(i.ts).schema)
        .flatMap(_.fields)
        .filterNot(f => mineNames(f.name) ||
          (action != Instant.DeltaCommitAction && f.name == MetaCols.IsDeleted))
        .groupBy(_.name).toSeq.sortBy(_._1)
        .map(_._2.last.copy(nullable = true))
      if (missing.isEmpty) meta
      else meta.copy(schemaJson = Some(MetaCols.canonicalSchema(
        StructType(mine.fields ++ missing)).json))
    case _ => meta
  }

  /** Atomically reserve commit ts `ts` for a writer about to stamp data
    * files with it: a `<ts>.reserved` marker created without overwrite —
    * at most one concurrent writer wins a given ts (Hudi's requested-
    * instant analog). Cleared by the eventual [[saveCommit]].
    *
    * The marker body is a LEASE EXPIRY epoch-ms (`now + reserveTtlMs`,
    * mirroring [[FsLock]]'s lease): a marker orphaned by a crashed writer
    * stops shielding that writer's debris once the lease runs out, so
    * [[graft.write.TableMaintenance.sweepOrphans]] can reclaim the
    * crash's data files, staging dirs, and staged commit bodies instead
    * of protecting them forever. The lease must outlast any data job
    * that stamps files with the ts (default 24 h; raise
    * `graft.reserve.ttlMs` for longer jobs). Minting ([[reservedTss]])
    * still skips EXPIRED markers' timestamps — only the sweep, which
    * deletes the debris in the same pass, clears them; re-minting a
    * crashed ts before its debris is gone could collide file names. */
  def reserve(ts: String): Boolean = {
    require(ts.nonEmpty && ts.forall(_.isDigit),
      s"commit ts must be numeric (digits only), got '$ts'")
    // Same-JVM serialization (the commit lock): create-without-overwrite is
    // only atomic on real distributed stores (HDFS create, S3 conditional
    // put) — the local filesystem's is exists-then-create, so two local
    // threads could both "win" a ts without this. Multi-DRIVER mints rely
    // on the storage's atomic create, like the commit rename itself.
    withTableLock {
      if (instantAt(ts).nonEmpty ||
        Timeline.retryOnce(
          fs.exists(new Path(hoodieDir, ts + Timeline.ReservedSuffix))))
        return false
      try {
        fs.mkdirs(hoodieDir)
        val out = fs.create(
          new Path(hoodieDir, ts + Timeline.ReservedSuffix), false)
        try out.write((System.currentTimeMillis() + reserveTtlMs).toString
          .getBytes(StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }
  }

  /** Release a reservation that will not complete (a no-op write — e.g. an
    * empty streaming micro-batch — or a failed/conflicted attempt);
    * completed instants' markers are cleared by [[saveCommit]] itself.
    * No-op when the instant DID complete or was never reserved. */
  def unreserve(ts: String): Unit =
    if (instantAt(ts).isEmpty)
      fs.delete(new Path(hoodieDir, ts + Timeline.ReservedSuffix), false)

  /** Currently reserved (not yet completed) commit timestamps — EXPIRED
    * leases included (minting must keep skipping a crashed ts until the
    * sweep reclaims its debris; see [[reserve]]). */
  def reservedTss(): Seq[String] = reservationExpiries().keys.toSeq.sorted

  /** Reservation lease expiries: ts → expiry epoch-ms. Markers whose body
    * predates lease recording (or is unreadable) fall back to the marker
    * file's mtime + this table's ttl — conservative for live writers,
    * still finitely reclaimable. One listing + one tiny read per marker
    * (there are O(#concurrent writers) of them). */
  def reservationExpiries(): Map[String, Long] =
    if (!Timeline.retryOnce(fs.exists(hoodieDir))) Map.empty
    else Timeline.retryOnce(fs.listStatus(hoodieDir)).toSeq
      .filter(_.getPath.getName.endsWith(Timeline.ReservedSuffix))
      .map { st =>
        val ts = st.getPath.getName.stripSuffix(Timeline.ReservedSuffix)
        val fromBody: Option[Long] =
          try {
            val in = fs.open(st.getPath)
            val s = try new String(
              org.apache.commons.io.IOUtils.toByteArray(in),
              StandardCharsets.UTF_8)
            finally in.close()
            s.trim.toLongOption
          } catch { case _: java.io.IOException => None }
        ts -> fromBody.getOrElse(st.getModificationTime + reserveTtlMs)
      }.toMap

  /** SAVEPOINT a completed instant: a `<ts>.savepoint` marker pinning that
    * snapshot against reclamation — [[graft.write.TableMaintenance.clean]]
    * keeps every file the savepointed snapshot reaches (however old), and
    * [[archive]] stops BEFORE the oldest savepoint so the instant stays on
    * the active timeline (restorable — rollback needs active instants).
    * The Hudi savepoint analog: long-term retention points (month-end
    * snapshots, pre-migration states) on a table whose cleaner otherwise
    * bounds history to a short window. Markers are tiny metadata files;
    * re-savepointing an already-pinned instant is a no-op. */
  def savepoint(ts: String): Unit = {
    require(instantAt(ts).nonEmpty,
      s"cannot savepoint $ts: no completed instant at $hoodieDir")
    require(isActive(ts),
      s"cannot savepoint $ts: instant is ARCHIVED (archival keeps only " +
        "metadata; the snapshot's files may already be cleaned)")
    fs.create(new Path(hoodieDir, ts + Timeline.SavepointSuffix), true)
      .close()
  }

  /** Release a savepoint: the pinned snapshot becomes reclaimable by the
    * next [[graft.write.TableMaintenance.clean]] like any other old
    * instant. No-op when `ts` was never savepointed. */
  def releaseSavepoint(ts: String): Unit =
    fs.delete(new Path(hoodieDir, ts + Timeline.SavepointSuffix), false)

  /** Currently savepointed instants (markers whose instant still exists),
    * in timestamp order. */
  def savepoints(): Seq[String] = {
    if (!Timeline.retryOnce(fs.exists(hoodieDir))) return Seq.empty
    val marked = Timeline.retryOnce(fs.listStatus(hoodieDir)).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.endsWith(Timeline.SavepointSuffix) =>
        n.stripSuffix(Timeline.SavepointSuffix) }
    marked.filter(ts => instantAt(ts).nonEmpty).sorted
  }

  /** Remove a completed instant's commit file from the timeline (rollback
    * support — data-file deletion is the caller's job, see
    * graft.write.TableMaintenance). No-op if the instant doesn't exist.
    * ARCHIVED instants refuse: archive manifests are immutable and shared
    * by many instants — rollback must stay within the active timeline
    * (the same restore-window contract as [[graft.write.TableMaintenance
    * .clean]]). */
  def deleteCommit(ts: String): Unit =
    instantAt(ts).foreach { i =>
      if (!activeTsMemo.contains(ts))
        throw new IllegalStateException(
          s"instant $ts is ARCHIVED; archived history is immutable — " +
            "only commits still on the active timeline can be rolled back")
      fs.delete(new Path(hoodieDir, ts + suffixOf(i.action)), false)
      memo.remove(ts)
      instantsMemo = None
    }

  /** ARCHIVE the timeline: move every completed instant except the newest
    * `keepActive` into ONE immutable manifest under
    * `.hoodie/${Timeline.ArchiveDir}/` (`<firstTs>_<lastTs>.json`,
    * published by atomic rename), then delete the individual instant
    * files. Pure metadata relocation: [[completedInstants]] and
    * [[metadata]] serve archived instants transparently, so snapshots,
    * time travel, incremental reads, CDC, recorded table properties and
    * schema resolution are all unchanged — only ROLLBACK is restricted to
    * the active tail.
    *
    * Why at 100 TB: a long-lived table commits continuously; after a year
    * of 5-minute commits the `.hoodie` directory holds ~100k instant
    * files, and EVERY reader's planning starts by listing it — on object
    * storage that is the dominant metadata cost (and listings page). With
    * archival the active directory stays O(`keepActive`) and history is
    * read as a handful of sequential manifest files, decoded once per JVM
    * ([[Timeline.archiveEntries]] cache) — Hudi's archived-timeline
    * contract. Crash-safe: a crash between manifest publish and instant-
    * file deletion leaves instants in both places; listing dedupes
    * (active wins) and the next archive pass re-collects them.
    *
    * Returns the archived instant timestamps. */
  def archive(keepActive: Int): Seq[String] = {
    require(keepActive >= 1, "must keep at least the newest commit active")
    withTableLock {
      refresh()
      val activeInstants = completedInstants()
        .filter(i => activeTsMemo.contains(i.ts))
      if (activeInstants.size <= keepActive) return Seq.empty
      // archival stops BEFORE the oldest savepoint: a savepointed instant
      // (and everything after it) stays on the active timeline so the
      // pinned snapshot remains restorable — rollback refuses archived
      // instants. Instants are sorted, so the filter keeps a prefix.
      val firstSavepoint = savepoints().minOption
      val doomed = activeInstants.dropRight(keepActive)
        .filter(i => firstSavepoint.forall(i.ts < _))
      if (doomed.isEmpty) return Seq.empty
      val entries = doomed.map(i => (i.ts, i.action, metadata(i.ts)))
      val dir = new Path(hoodieDir, Timeline.ArchiveDir)
      fs.mkdirs(dir)
      val name = s"${doomed.head.ts}_${doomed.last.ts}.json"
      val tmp = new Path(dir, name + ".inflight")
      val fin = new Path(dir, name)
      val out = fs.create(tmp, true)
      try out.write(JsonCodec.toArchiveJson(entries)
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      // re-archival after a crash may rewrite the same range: identical
      // content, so replacing the manifest is safe
      fs.delete(fin, false)
      require(fs.rename(tmp, fin), s"atomic archive rename failed for $fin")
      doomed.foreach(i =>
        fs.delete(new Path(hoodieDir, i.ts + suffixOf(i.action)), false))
      refresh()
      doomed.map(_.ts)
    }
  }

  /** Validate a USER-SUPPLIED commit-ts parameter (asOf / from / to /
    * deleteView / streaming from) against the table's fixed ts width:
    * every reader compares ts strings lexicographically, which equals
    * numeric order only at fixed width — a truncated or typo'd value
    * would otherwise silently select the wrong range (e.g. "999" sorts
    * AFTER "1003"). `"0"` passes as the accepted history-floor sentinel. */
  def validateTsParam(name: String, ts: String): Unit = {
    require(ts.nonEmpty && ts.forall(_.isDigit),
      s"option '$name' must be a numeric commit ts, got '$ts'")
    if (ts != "0") completedInstants().headOption.foreach(first => require(
      ts.length == first.ts.length,
      s"option '$name'='$ts' (width ${ts.length}) does not match this " +
        s"table's commit-ts width ${first.ts.length} (e.g. '${first.ts}')"))
  }

  /** Newest commit-extra value for `key` recorded at or before `asOf` —
    * table properties (bucket count, type, identity columns) are recorded
    * at CREATION and at every OVERWRITE (a re-creation point), so the
    * newest carrier ≤ `asOf` is the property era every slice of that
    * snapshot was written under. Metadata-scale walk over memoized commit
    * decodes; stops at the first carrier. */
  def recordedExtraAsOf(key: String, asOf: Option[String]): Option[String] =
    completedInstants().reverseIterator
      .filter(i => asOf.forall(i.ts <= _))
      .map(i => metadata(i.ts).extra.get(key))
      .collectFirst { case Some(v) => v }

  /** THE table-schema resolver: the writer schema recorded by the NEWEST
    * completed instant ≤ `asOf` (of `action`, when given), parsed once per
    * decoded commit. Every commit records its writer schema, and the
    * writers keep the newest record a superset of every live file's
    * (add-only evolution, `TableWriter.monotonicSchema`), so this one
    * record is the table schema — no reader samples file footers. None
    * only when no such instant exists; a commit that recorded no schema is
    * refused with one [[IllegalStateException]] naming the table. */
  def schema(asOf: Option[String],
      action: Option[String] = None): Option[StructType] =
    completedInstants().reverseIterator
      .find(i => asOf.forall(i.ts <= _) && action.forall(_ == i.action))
      .map(i => metadata(i.ts).schema.getOrElse(
        throw new IllegalStateException(s"graft table at $basePath has a " +
          "commit that records no schema (schemaJson); readers take the " +
          "table schema from commit metadata only. Rewrite the table with " +
          "an overwrite commit (TableWriter.overwriteTable or INSERT " +
          "OVERWRITE), which records its schema.")))

  /** The reader-facing table schema as of `asOf`: [[schema]] minus the MOR
    * delete marker (an implementation detail of delta files, never served
    * to users). Throws on a table with no commit ≤ `asOf`. */
  def tableSchema(asOf: Option[String]): StructType = {
    val writer = schema(asOf).getOrElse(throw new IllegalArgumentException(
      s"empty table (no commits) at $basePath" +
        asOf.fold("")(t => s" as of $t")))
    StructType(writer.filterNot(_.name == MetaCols.IsDeleted))
  }

  /** The latest file slice per file group as of `asOf` (inclusive); all
    * completed commits when `asOf` is None. Pure metadata walk: base-writing
    * instants (commit/compaction) start a fresh slice, delta commits append
    * to the group's current slice. */
  def latestSlices(asOf: Option[String]): Map[String, FileSlice] = {
    val slices = mutable.LinkedHashMap.empty[String, FileSlice]
    completedInstants()
      .filter(i => asOf.forall(i.ts <= _))
      .foreach { i =>
        metadata(i.ts).allStats.foreach { case (part, s) =>
          if (i.action == Instant.DeltaCommitAction) {
            val delta = DeltaFile(i.ts, s.path.getOrElse(
              throw new IllegalStateException(
                s"deltacommit ${i.ts} wrote no file for group ${s.fileId}")))
            slices(s.fileId) = slices.get(s.fileId) match {
              case Some(sl) => sl.copy(deltas = sl.deltas :+ delta)
              case None => FileSlice(part, s.fileId, i.ts, None, Seq(delta))
            }
          } else {
            slices(s.fileId) = FileSlice(part, s.fileId, i.ts, s.path)
          }
        }
      }
    slices.toMap
  }

  /** Recorded column stats for every file of the given slices (base file +
    * MOR delta files), keyed by FILE NAME (slice names are table-unique:
    * `<fileId>_<ts>[.delta].parquet`). Pure metadata: one (memoized)
    * commit decode per distinct writing commit; files whose commit predates
    * stats recording simply map to empty (no skipping for them). Feeds
    * [[graft.read.GraftFileIndex]] data-filter file skipping. */
  def fileColStats(slices: Seq[FileSlice])
      : Map[String, Map[String, ColStat]] = {
    val byCommit: Map[String, Seq[(String, FileSlice)]] =
      slices.flatMap(sl => (sl.commitTs -> sl) +:
        sl.deltas.map(d => d.commitTs -> sl)).groupBy(_._1)
    byCommit.toSeq.flatMap { case (ts, ss) =>
      val byFid = metadata(ts).allStats.map { case (_, s) =>
        s.fileId -> s
      }.toMap
      ss.flatMap { case (_, sl) =>
        byFid.get(sl.fileId).toSeq.flatMap { st =>
          st.path.filter(_.nonEmpty).map { rel =>
            rel.substring(rel.lastIndexOf('/') + 1) -> st.colStats
          }
        }
      }
    }.toMap
  }
}

object Timeline {
  /** Observability counters (SOAK metadata-read accounting, r18):
    * cumulative `.hoodie` directory listings and commit-file opens across
    * every Timeline instance in this JVM. Measurement only — never read
    * by planning code. */
  val hoodieListings = new java.util.concurrent.atomic.AtomicLong
  val commitFileOpens = new java.util.concurrent.atomic.AtomicLong

  val MetaDir = ".hoodie"
  val CommitSuffix = ".commit"
  val DeltaCommitSuffix = ".deltacommit"
  val ReservedSuffix = ".reserved"
  val SavepointSuffix = ".savepoint"
  val ArchiveDir = "archive"

  /** Hadoop-conf key for the reservation lease (`spark.hadoop.` prefixed
    * in Spark confs), and its default: long enough to outlast any data
    * job that stamps files with a reserved ts — the lease gates DEBRIS
    * RECLAMATION after a crash, not liveness, so erring long only delays
    * cleanup. */
  val ReserveTtlKey = "graft.reserve.ttlMs"
  val DefaultReserveTtlMs: Long = 24L * 60 * 60 * 1000

  // Parsed archive manifests, JVM-wide: manifests are immutable once
  // published, so one decode serves every Timeline instance. Keyed by
  // (qualified path, mtime, length) — a table recreated at the same path
  // (tests, dev) can never serve a stale manifest.
  private val archiveCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Seq[(String, String, CommitMetadata)]]()

  private[format] def archiveEntries(fs: FileSystem,
      st: org.apache.hadoop.fs.FileStatus)
      : Seq[(String, String, CommitMetadata)] =
    archiveCache.computeIfAbsent(
      (st.getPath.toString, st.getModificationTime, st.getLen), _ =>
        retryOnce {
          val in = fs.open(st.getPath)
          try JsonCodec.fromArchiveJson(
            new String(org.apache.commons.io.IOUtils.toByteArray(in),
              StandardCharsets.UTF_8))
          finally in.close()
        })

  // Per-table commit locks for the OCC check+publish critical section
  // (same-JVM writers; see saveCommitOcc scaladoc for the multi-driver
  // contract).
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[format] def lockFor(key: String): Object =
    commitLocks.computeIfAbsent(key, _ => new Object)

  /** One bounded retry around a metadata FS read (parity with the
    * reference's transient-failure retry, ref: DeleteView.java:74-96:
    * metadata fetch is retried exactly once, then the error surfaces). */
  private[format] def retryOnce[T](op: => T): T =
    try op catch { case _: java.io.IOException => op }

  def apply(conf: Configuration, basePath: String): Timeline = {
    val p = new Path(basePath)
    val fs = p.getFileSystem(conf)
    new Timeline(fs, p, TableLock.fromConf(conf, fs, p),
      conf.getLong(ReserveTtlKey, DefaultReserveTtlMs))
  }
}

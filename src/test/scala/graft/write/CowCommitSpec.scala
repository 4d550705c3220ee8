package graft.write

import graft.SparkSpec
import graft.deleteview.DeleteView
import graft.format.{MetaCols, Timeline}
import graft.read.SnapshotReader
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** COW commits: op counters derived from the write's own counts and the
  * previous slices' recorded row counts, pinned against the existence-join
  * form; delete-wins for a key a commit both updates and deletes; and the
  * number of SQL executions a commit runs. */
class CowCommitSpec extends SparkSpec {
  import spark.implicits._

  private val Buckets = 4
  private def keyCol = col("k")
  private def partCol = col("p")
  private def fidOf(key: Column, part: Column): Column =
    concat(part, lit("-"), pmod(xxhash64(key), lit(Buckets)).cast("string"))

  private def rows(keys: Seq[Long], v: Long, ver: Long = 0L): DataFrame =
    keys.map(k => (k, s"p${k % 3}", v, ver)).toDF("k", "p", "v", "ver")

  /** Per-group (deleted, updated, inserted) as the existence join counts
    * them over the pre-commit snapshot's touched groups, with delete-wins:
    * a key in both frames is a delete only. With `precombine`, an update
    * counts only when the incoming row won (it carries the commit's ts
    * after). Inserted: the rows the commit stamped that replaced no old
    * row. */
  private def joinForm(before: DataFrame, after: DataFrame,
      ups: Option[DataFrame], dels: Option[DataFrame], ts: String,
      precombine: Boolean)
      : (Map[String, Long], Map[String, Long], Map[String, Long]) = {
    def keyed(df: DataFrame) = df.select(keyCol.cast("string").as("key"),
      fidOf(keyCol.cast("string"), partCol.cast("string")).as("fid"))
    val touched = (ups.toSeq ++ dels).map(keyed(_).select("fid"))
      .reduce(_ unionByName _).distinct()
    val old = before.select(col(MetaCols.RecordKey).as("key"),
        fidOf(col(MetaCols.RecordKey), col(MetaCols.PartitionPath)).as("fid"))
      .join(touched, Seq("fid"), "left_semi")
    val d = dels.map(keyed(_).select("key").distinct())
    val u = ups.map(u => d.fold(keyed(u).select("key").distinct())(dk =>
      keyed(u).select("key").distinct().join(dk, Seq("key"), "left_anti")))
    def countBy(df: DataFrame): Map[String, Long] =
      df.groupBy("fid").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val deleted = d.fold(Map.empty[String, Long])(dk =>
      countBy(old.join(dk, Seq("key"), "left_semi")))
    val updated = u.fold(Map.empty[String, Long]) { uk =>
      if (!precombine) countBy(old.join(uk, Seq("key"), "left_semi"))
      else countBy(after.filter(col(MetaCols.CommitTime) === ts)
        .select(col(MetaCols.RecordKey).as("key"))
        .join(uk, Seq("key"), "left_semi")
        .join(old, Seq("key")))
    }
    val stamped = countBy(after.filter(col(MetaCols.CommitTime) === ts)
      .select(fidOf(col(MetaCols.RecordKey), col(MetaCols.PartitionPath))
        .as("fid")))
    val inserted = stamped.map { case (fid, n) =>
      fid -> (n - updated.getOrElse(fid, 0L)) }
    (deleted, updated, inserted)
  }

  /** Run one commit and pin every group's counters, the commit total and
    * the delete view's size against [[joinForm]]. */
  private def commitAndCheck(dir: String, w: CowWriter,
      ups: Option[DataFrame], dels: Option[DataFrame], ts: String,
      precombine: Boolean = false): Unit = {
    val before = SnapshotReader.read(spark, dir).localCheckpoint(true)
    w.commit(ups, dels, keyCol, partCol, ts)
    val after = SnapshotReader.read(spark, dir)
    val (deleted, updated, inserted) =
      joinForm(before, after, ups, dels, ts, precombine)
    val meta = Timeline(spark.sessionState.newHadoopConf(), dir).metadata(ts)
    val stats = meta.allStats.map(_._2)
    stats.foreach { s =>
      assert(s.numDeletes == deleted.getOrElse(s.fileId, 0L),
        s"$ts numDeletes of ${s.fileId}")
      assert(s.numUpdateWrites == updated.getOrElse(s.fileId, 0L),
        s"$ts numUpdateWrites of ${s.fileId}")
      assert(s.numInserts == inserted.getOrElse(s.fileId, 0L),
        s"$ts numInserts of ${s.fileId}")
    }
    assert((deleted.keySet ++ updated.keySet ++ inserted.keySet)
      .subsetOf(stats.map(_.fileId).toSet))
    assert(meta.totalRecordsDeleted == deleted.values.sum, s"$ts total")
    assert(DeleteView(spark, dir, ts).toDF().count() ==
      meta.totalRecordsDeleted, s"$ts delete view")
  }

  test("counters from the write's counts equal the existence-join form " +
    "(randomized: delete-only, upsert-only, mixed, duplicates, absent " +
    "keys, emptied groups)") {
    val dir = freshDir("cow_counters")
    val w = new CowWriter(spark, dir, numBuckets = Buckets)
    w.insert(rows(0L until 300L, 0L), keyCol, partCol, "20260101000000")
    val r = new scala.util.Random(7)
    def live(): Seq[Long] = SnapshotReader.read(spark, dir)
      .select(col("k")).as[Long].collect().toSeq.sorted
    def pick(from: Seq[Long], n: Int) = r.shuffle(from).take(n)
    def absent(n: Int) = (0 until n).map(_ => 1000L + r.nextInt(1000))
    var ts = 20260102000000L
    def next(): String = { ts += 1000000L; ts.toString }
    (1 to 2).foreach { round =>
      // delete-only, with keys the table never had
      commitAndCheck(dir, w, None,
        Some(rows(pick(live(), 20) ++ absent(5), 0L)), next())
      // upsert-only: updates plus new keys
      commitAndCheck(dir, w, Some(rows(pick(live(), 15) ++
        (400L + round * 100 until 405L + round * 100), round)), None, next())
      // mixed, overlapping keys (delete wins) and absent deletes
      val l = live()
      val both = pick(l, 5)
      commitAndCheck(dir, w,
        Some(rows(pick(l.diff(both), 10) ++ both, 10L + round)),
        Some(rows(pick(l.diff(both), 10) ++ both ++ absent(3), 0L)), next())
      // duplicate incoming keys (each written twice)
      val dup = pick(live(), 6)
      commitAndCheck(dir, w,
        Some(rows(dup, 20L).unionByName(rows(dup, 21L))), None, next())
      // a delete (mixed with one update) that empties a whole group
      val byGroup = SnapshotReader.read(spark, dir)
        .select(col("k"), fidOf(col(MetaCols.RecordKey),
          col(MetaCols.PartitionPath)).as("fid"))
        .as[(Long, String)].collect().groupBy(_._2)
      val victim = byGroup.toSeq.sortBy(_._1).apply(round)._2.map(_._1).toSeq
      val other = live().diff(victim).take(1)
      commitAndCheck(dir, w, if (round == 1) None
        else Some(rows(other, 30L)), Some(rows(victim, 0L)), next())
      val emptied = Timeline(spark.sessionState.newHadoopConf(), dir)
        .metadata(ts.toString).allStats.map(_._2)
        .filter(_.path.isEmpty)
      assert(emptied.nonEmpty && emptied.forall(_.numDeletes > 0))
    }
  }

  test("precombine counters: only winning incoming rows are updates") {
    val dir = freshDir("cow_counters_pc")
    val w = new CowWriter(spark, dir, numBuckets = Buckets,
      precombine = Some("ver"))
    w.insert(rows(0L until 200L, 0L, ver = 5L), keyCol, partCol,
      "20260101000000")
    val r = new scala.util.Random(11)
    val keys = r.shuffle((0L until 200L).toList)
    val (win, lose, dup, gone) = (keys.take(10), keys.slice(10, 20),
      keys.slice(20, 26), keys.slice(26, 36))
    commitAndCheck(dir, w, Some(rows(win, 1L, ver = 9L)
        .unionByName(rows(lose, 1L, ver = 1L))
        .unionByName(rows(500L until 505L, 1L, ver = 1L))
        // duplicate incoming keys: the higher ver wins
        .unionByName(rows(dup, 2L, ver = 7L))
        .unionByName(rows(dup, 3L, ver = 8L))),
      None, "20260102000000", precombine = true)
    // mixed: winning updates, and deletes overlapping some of them
    commitAndCheck(dir, w, Some(rows(gone ++ keys.slice(36, 46), 4L,
        ver = 10L)),
      Some(rows(gone ++ Seq(999L), 0L)), "20260103000000", precombine = true)
  }

  test("a key updated AND deleted in one commit is deleted (delete wins), " +
    "as in MOR") {
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val k = col("o_orderkey")
    val p = col("o_orderstatus")
    val ups = orders.filter($"o_orderkey" % 10 === 3)
      .withColumn("o_totalprice", $"o_totalprice" + 100000)
    val dels = orders.filter($"o_orderkey" % 7 === 0)
    val cow = freshDir("cow_delete_wins")
    val mor = freshDir("mor_delete_wins")
    new CowWriter(spark, cow, numBuckets = 4).insert(orders, k, p, "20260101000000")
    new CowWriter(spark, cow, numBuckets = 4)
      .commit(Some(ups), Some(dels), k, p, "20260102000000")
    val mw = new MorWriter(spark, mor, numBuckets = 4)
    mw.insert(orders, k, p, "20260101000000")
    mw.upsertDelta(Some(ups), Some(dels), k, p, "20260102000000")

    val snap = SnapshotReader.read(spark, cow)
    assert(snap.filter($"o_orderkey" % 7 === 0).isEmpty)
    val meta = Timeline(spark.sessionState.newHadoopConf(), cow)
      .metadata("20260102000000")
    assert(meta.totalRecordsDeleted == dels.count())
    assert(DeleteView(spark, cow, "20260102000000").toDF().count() ==
      meta.totalRecordsDeleted)
    val payload = orders.columns.toSeq.map(col)
    val c = snap.select(payload: _*)
    val m = SnapshotReader.read(spark, mor).select(payload: _*)
    assert(c.count() == orders.count() - dels.count())
    assert(c.exceptAll(m).isEmpty && m.exceptAll(c).isEmpty)
  }

  /** SQL executions started while `body` runs (unlike job counts, stable
    * under adaptive execution). */
  private def sqlExecutions(body: => Unit): Int = {
    val sc = spark.sparkContext
    Bridge.waitForListeners(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => n.incrementAndGet()
        case _ =>
      }
    }
    sc.addSparkListener(l)
    try { body; Bridge.waitForListeners(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  test("a single-sided COW commit runs 2 SQL executions (touched + write); " +
    "a counter-free MOR delta runs 1") {
    val cow = freshDir("cow_executions")
    val w = new CowWriter(spark, cow, numBuckets = Buckets)
    w.insert(rows(0L until 100L, 0L), keyCol, partCol, "20260101000000")
    val dels = rows(Seq(1L, 2L, 50L), 0L)
    val ups = rows(Seq(3L, 4L, 500L), 1L)
    assert(sqlExecutions(
      w.delete(dels, keyCol, partCol, "20260102000000")) == 2)
    assert(sqlExecutions(
      w.upsert(ups, keyCol, partCol, "20260103000000")) == 2)

    val mor = freshDir("mor_executions")
    val mw = new MorWriter(spark, mor, numBuckets = Buckets,
      exactCounters = false)
    mw.insert(rows(0L until 100L, 0L), keyCol, partCol, "20260101000000")
    assert(sqlExecutions(mw.upsertDelta(Some(ups), None, keyCol, partCol,
      "20260102000000")) == 1)
  }
}

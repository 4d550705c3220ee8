package graftbench

import graft.deleteview.DeleteView
import graft.format.{MetaCols, Timeline}
import graft.read.{ChangeFeed, SnapshotReader}
import graft.write.{CowWriter, MorWriter, TableMaintenance}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Input sizes. A seed changes keys and texts, never these. */
final case class Sizes(
    cowRows: Int, cowDeletes: Int, cowUpdates: Int, cowInserts: Int,
    morRows: Int, morDeltas: Int, morDeletes: Int, morUpdates: Int,
    morInserts: Int, batchDocs: Int, hotCopies: Int, maxBucket: Int)

object Sizes {
  val full: Sizes = Sizes(
    cowRows = 100000, cowDeletes = 500, cowUpdates = 225, cowInserts = 25,
    morRows = 100000, morDeltas = 3, morDeletes = 500, morUpdates = 225,
    morInserts = 25, batchDocs = 1000, hotCopies = 190, maxBucket = 200)
  /** For the self-test: every code path, seconds per run. */
  val tiny: Sizes = Sizes(
    cowRows = 8000, cowDeletes = 40, cowUpdates = 18, cowInserts = 2,
    morRows = 8000, morDeltas = 3, morDeletes = 40, morUpdates = 18,
    morInserts = 2, batchDocs = 200, hotCopies = 20, maxBucket = 20)
}

/** What every workload gets: the session, the client, its seed and where
  * its tables live (`<tables>/ns/<name>`, the catalog `gb`'s warehouse).
  * `plantFault` shifts one expected value so the output check must fail. */
final case class Ctx(spark: SparkSession, h: Harness, seed: Long,
    sizes: Sizes, tables: String, plantFault: Boolean) {
  val fs: FileSystem =
    new Path(tables).getFileSystem(spark.sessionState.newHadoopConf())
  def timeline(dir: String): Timeline =
    Timeline(spark.sessionState.newHadoopConf(), dir)
  def fault: Long = if (plantFault) 1L else 0L
}

trait Workload {
  def name: String
  /** The fixed op mix: each op type with its count per round. */
  def opMix: Seq[(String, Int)]
  def opTypes: Seq[String] = opMix.map(_._1)
  /** Build the initial state under table name `table`; the state of the
    * last call is the one the loop runs on. */
  def setup(table: String): Unit
  /** One round of the workload's fixed op mix. */
  def round(): Unit
  /** The table directories of the current state. */
  def dirs: Seq[String]
  def liveRows: Long
  /** Checks on the final state, after the loop. */
  def finalCheck(): Seq[String]
  /** The workload's own end-to-end metrics: (name, value, unit, samples). */
  def report(h: Harness, traced: Boolean): Seq[(String, Option[Double], String, Int)]
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "tables" => new Tables(new CowDeleteView(c), new MorRead(c))
    case "dedup_ingest" => new DedupIngest(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Full-scan summary of a table-shaped frame: (rows, sum id, sum v1,
    * payload bytes, key checksum, min and max commit time). */
  def summarize(df: DataFrame): Row =
    df.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)),
      coalesce(sum(col("v1")), lit(0L)),
      coalesce(sum(length(col("s1"))), lit(0L)),
      coalesce(sum(pmod(xxhash64(col("k")), lit(1000000007L))), lit(0L)),
      min(col(MetaCols.CommitTime)), max(col(MetaCols.CommitTime))).head()

  def expect(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Seq.empty else Seq(s"$what: got $got, expected $want")

  /** Commit timestamps: fixed width, so string order is commit order. */
  def ts(i: Int): String = (1000000 + i).toString

  def p50(h: Harness, op: String, traced: Boolean): (Option[Double], Int) = {
    val xs = h.timedRecords(op, traced).map(_.wallS)
    (if (xs.isEmpty) None else Some(Stats.median(xs)), xs.size)
  }

  def tail(h: Harness, op: String, traced: Boolean): (Option[Double], Int) = {
    val xs = h.timedRecords(op, traced).map(_.wallS)
    (Stats.tail(xs).map(_._1), xs.size)
  }
}

import Workload._

/** The versioned-table layers in one client: each round runs the COW
  * delete-view round, then the read-only MOR round on a table of its own.
  * (The two run in one JVM because each run pays a cold start of 10-20 s;
  * the per-op report lines keep their latencies apart.) */
final class Tables(cow: CowDeleteView, mor: MorRead) extends Workload {
  val name = "tables"
  def opMix: Seq[(String, Int)] = cow.opMix ++ mor.opMix
  def setup(table: String): Unit = {
    cow.setup(s"${table}_cow")
    mor.setup(s"${table}_mor")
  }
  def round(): Unit = {
    cow.round()
    mor.round()
  }
  def dirs: Seq[String] = cow.dirs ++ mor.dirs
  def liveRows: Long = cow.liveRows + mor.liveRows
  def finalCheck(): Seq[String] = cow.finalCheck() ++ mor.finalCheck()
  def report(h: Harness, traced: Boolean)
      : Seq[(String, Option[Double], String, Int)] =
    cow.report(h, traced) ++ mor.report(h, traced)
}

/** The paper's path with writes beside reads: per round one delete commit
  * (one partition), one upsert commit (another partition), one cold delete
  * view of the delete commit and two warm ones. */
final class CowDeleteView(c: Ctx) extends Workload {
  import c._
  val name = "cow_delete_view"
  val opMix = Seq("commit_delete" -> 1, "commit_upsert" -> 1, "dv_cold" -> 1,
    "dv_warm" -> 2)
  private var dir: String = _
  def dirs: Seq[String] = Seq(dir)
  private var gen: TableGen = _
  private var writer: CowWriter = _
  private var rnd: java.util.Random = _
  private var commits = 0

  def setup(table: String): Unit = {
    dir = s"$tables/ns/$table"
    gen = new TableGen(seed, sizes.cowRows)
    rnd = new java.util.Random(seed * 7919L + 1)
    writer = new CowWriter(spark, dir, 16)
    writer.insert(gen.base(spark), gen.keyCol, gen.partCol, ts(0))
    commits = 0
  }

  def liveRows: Long = gen.liveCount

  /** Data files (path -> bytes), delete-view caches excluded. */
  private def dataFiles(): Map[String, Long] = {
    val it = fs.listFiles(new Path(dir), true)
    val out = Map.newBuilder[String, Long]
    while (it.hasNext) {
      val f = it.next()
      val p = f.getPath.toString
      if (p.endsWith(".parquet") && !p.contains("/.delete/"))
        out += p -> f.getLen
    }
    out.result()
  }

  private def cacheFiles(t: String): Map[String, Long] = {
    val p = new Path(s"$dir/.delete/$t")
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).map(s => s.getPath.getName -> s.getModificationTime)
      .toMap
  }

  /** A commit op; traced rounds also count the data files it wrote. */
  private def commit(op: String, changed: Int)(body: => Unit)(
      check: Timeline => Seq[String]): Unit = {
    val before = if (h.tracing) dataFiles() else Map.empty[String, Long]
    h.op(op)(h.layer("write.commit")(body))(_ => check(timeline(dir)))
    if (h.tracing) {
      val added = dataFiles().filter { case (p, _) => !before.contains(p) }
      h.note("files_written", added.size)
      h.note("bytes_per_changed_row", added.values.sum.toDouble / changed)
    }
  }

  def round(): Unit = {
    val pd = rnd.nextInt(gen.parts)
    val pu = (pd + 1 + rnd.nextInt(gen.parts - 1)) % gen.parts
    val tsDel = ts(commits + 1)
    val tsUp = ts(commits + 2)
    commits += 2

    val dels = gen.delete(pd, sizes.cowDeletes, rnd)
    val delDf = gen.frame(spark, dels)
    commit("commit_delete", dels.size)(
      writer.delete(delDf, gen.keyCol, gen.partCol, tsDel)) { tl =>
      expect("delete commit totalRecordsDeleted",
        tl.metadata(tsDel).totalRecordsDeleted, dels.size.toLong)
    }

    if (h.expired) return
    val ups = gen.upsert(pu, sizes.cowUpdates, sizes.cowInserts, rnd)
    val upDf = gen.frame(spark, ups)
    commit("commit_upsert", ups.size)(
      writer.upsert(upDf, gen.keyCol, gen.partCol, tsUp)) { tl =>
      val m = tl.metadata(tsUp)
      expect("upsert commit totalRecordsDeleted", m.totalRecordsDeleted, 0L) ++
        expect("upsert commit updated rows",
          m.allStats.map(_._2.numUpdateWrites).sum, sizes.cowUpdates.toLong)
    }

    val want = Seq(dels.size.toLong + fault, dels.map(_._1).sum,
      dels.map { case (id, v) => gen.v1(id, v) }.sum, 64L * dels.size,
      tsDel, tsDel)
    def check(s: Row): Seq[String] = {
      val got = Seq(s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3),
        s.getString(5), s.getString(6))
      expect("delete view (rows, sum id, sum v1, payload bytes, min/max " +
        "commit time)", got, want) ++
        expect("delete view rows vs totalRecordsDeleted", s.getLong(0),
          timeline(dir).metadata(tsDel).totalRecordsDeleted)
    }
    def view(): Row = {
      val df = h.layer("deleteview.toDF")(DeleteView(spark, dir, tsDel).toDF())
      h.layer("deleteview.serve")(summarize(df))
    }
    if (h.expired) return
    val cold = h.op("dv_cold")(view())(check)
    for (_ <- 0 until 2 if !h.expired) {
      val cached = if (h.tracing) cacheFiles(tsDel) else Map.empty[String, Long]
      h.op("dv_warm")(view()) { s =>
        check(s) ++ expect("warm view (rows, key checksum) vs cold",
          (s.getLong(0), s.getLong(4)),
          cold.map(r => (r.getLong(0), r.getLong(4))).orNull)
      }
      if (h.tracing) h.note("hit", if (cacheFiles(tsDel) == cached) 1 else 0)
    }
  }

  def finalCheck(): Seq[String] = {
    val s = summarize(SnapshotReader.read(spark, dir))
    expect("final snapshot (rows, sum v1)", (s.getLong(0), s.getLong(2)),
      (gen.liveCount, gen.sumV1))
  }

  def report(h: Harness, traced: Boolean)
      : Seq[(String, Option[Double], String, Int)] = {
    val commits = h.records.filter(r => r.timed && r.traced == traced &&
      r.op.startsWith("commit_")).map(_.wallS).toSeq
    val (cold, nc) = p50(h, "dv_cold", traced)
    val (coldTail, _) = tail(h, "dv_cold", traced)
    val (warm, nw) = p50(h, "dv_warm", traced)
    Seq(
      ("commit_p50_s", if (commits.isEmpty) None
        else Some(Stats.median(commits)), "s", commits.size),
      ("commit_tail_s", Stats.tail(commits).map(_._1), "s", commits.size),
      ("dv_cold_p50_s", cold, "s", nc),
      ("dv_cold_tail_s", coldTail, "s", nc),
      ("dv_warm_p50_s", warm, "s", nw))
  }
}

/** Reads only, on a MOR table with delta commits confined to half the
  * partitions and an archived timeline: per round a full merged snapshot,
  * a partition-filtered catalog SQL scan, a SQL time-travel scan of an
  * archived commit and a change feed over two commits. */
final class MorRead(c: Ctx) extends Workload {
  import c._
  val name = "mor_read"
  val opMix = Seq("scan" -> 1, "pruned_scan" -> 1, "time_travel" -> 1,
    "cdc" -> 1)
  /** Instants left active after set-up; the older ones are archived. */
  private val keepActive = 2
  /** Commits a change-feed read spans. */
  private val CdcSpan = 2
  private var dir: String = _
  def dirs: Seq[String] = Seq(dir)
  private var table: String = _
  private var gen: TableGen = _
  private var rnd: java.util.Random = _
  private var dirty: Seq[Int] = _
  /** Per commit: live (rows, sum v1) per partition after it. */
  private var states: IndexedSeq[IndexedSeq[(Long, Long)]] = _
  /** Per commit: (rows, sum v1) by change type. */
  private var changes: IndexedSeq[Map[String, (Long, Long)]] = _

  def liveRows: Long = gen.liveCount

  /** The partition delta commit `i` writes. */
  private def deltaPart(i: Int): Int = dirty(i % dirty.size)

  private def state(): IndexedSeq[(Long, Long)] =
    (0 until gen.parts).map(p => (gen.liveCount(p), gen.sumV1(p)))

  def setup(tableName: String): Unit = {
    table = tableName
    dir = s"$tables/ns/$table"
    gen = new TableGen(seed, sizes.morRows)
    rnd = new java.util.Random(seed * 7919L + 2)
    dirty = scala.util.Random.javaRandomToRandom(rnd)
      .shuffle((0 until gen.parts).toList).take(gen.parts / 2)
    val w = new MorWriter(spark, dir, 16)
    w.insert(gen.base(spark), gen.keyCol, gen.partCol, ts(0))
    val st = IndexedSeq.newBuilder[IndexedSeq[(Long, Long)]]
    val ch = IndexedSeq.newBuilder[Map[String, (Long, Long)]]
    st += state()
    ch += Map("insert" -> (gen.liveCount, gen.sumV1))
    for (i <- 1 to sizes.morDeltas) {
      val part = deltaPart(i)
      def sumV1(xs: Seq[(Long, Int)]) = xs.map { case (id, v) => gen.v1(id, v) }.sum
      if (i % 2 == 1) {
        val ups = gen.upsert(part, sizes.morUpdates, sizes.morInserts, rnd)
        w.upsert(gen.frame(spark, ups), gen.keyCol, gen.partCol, ts(i))
        val (upd, ins) = ups.splitAt(sizes.morUpdates)
        ch += Map("update" -> (upd.size.toLong, sumV1(upd)),
          "insert" -> (ins.size.toLong, sumV1(ins)))
      } else {
        val dels = gen.delete(part, sizes.morDeletes, rnd)
        w.delete(gen.frame(spark, dels), gen.keyCol, gen.partCol, ts(i))
        ch += Map("delete" -> (dels.size.toLong, sumV1(dels)))
      }
      st += state()
    }
    states = st.result()
    changes = ch.result()
    TableMaintenance.archiveTimeline(spark, dir, keepActive)
    // a change feed serves deletes through the delete view, which is
    // materialized on first use: do that here, so every change-feed read in
    // the loop does the same work whichever range the seed picks
    for (i <- 1 to sizes.morDeltas if changes(i).contains("delete"))
      DeleteView(spark, dir, ts(i)).toDF()
  }

  private def total(s: IndexedSeq[(Long, Long)]): (Long, Long) =
    (s.map(_._1).sum, s.map(_._2).sum)

  /** (rows, sum v1, payload bytes) of a SQL aggregate row. */
  private def sqlCheck(what: String, r: Row, want: (Long, Long)) =
    expect(what, (r.getLong(0), r.getLong(1), r.getLong(2)),
      (want._1 + fault, want._2, 64L * want._1))

  /** A read op: build the frame and its physical plan, then run it. */
  private def readOp(op: String)(frame: => DataFrame)(
      check: Array[Row] => Seq[String]): Unit =
    h.op(op) {
      val df = h.layer("read.plan") {
        val d = frame
        d.queryExecution.executedPlan
        d
      }
      h.layer("read.exec")(df.collect())
    }(check)

  private def aggSql(from: String, where: String = ""): String =
    s"SELECT count(*), coalesce(sum(v1), 0), coalesce(sum(length(s1)), 0) " +
      s"FROM gb.ns.$table $from $where"

  def round(): Unit = {
    if (h.expired) return
    val last = sizes.morDeltas
    // every choice below does the same work whatever the seed: the pruned
    // partition is one a delta commit wrote, the time-travel target the
    // newest archived commit (itself a delta), and every change-feed range
    // holds one upsert and one delete commit
    val part = deltaPart(1 + rnd.nextInt(last))
    val travelTo = last - keepActive
    val cdcFrom = rnd.nextInt(last - CdcSpan + 1)

    readOp("scan")(SnapshotReader.read(spark, dir).agg(count(lit(1)),
      coalesce(sum(col("v1")), lit(0L)),
      coalesce(sum(length(col("s1"))), lit(0L))))(rows => sqlCheck(
      "snapshot (rows, sum v1, payload bytes)", rows.head, total(states(last))))
    h.note("rows_out", total(states(last))._1)

    if (h.expired) return
    readOp("pruned_scan")(spark.sql(aggSql("", s"WHERE part = 'p$part'")))(
      rows => sqlCheck(s"partition p$part scan", rows.head, states(last)(part)))
    h.note("rows_out", states(last)(part)._1)

    if (h.expired) return
    readOp("time_travel")(spark.sql(
      aggSql(s"VERSION AS OF '${ts(travelTo)}'")))(rows => sqlCheck(
      s"VERSION AS OF ${ts(travelTo)}", rows.head, total(states(travelTo))))
    h.note("rows_out", total(states(travelTo))._1)

    if (h.expired) return
    val range = (cdcFrom + 1) to (cdcFrom + CdcSpan)
    val want = range.flatMap(changes).groupBy(_._1).map { case (k, vs) =>
      k -> (vs.map(_._2._1).sum, vs.map(_._2._2).sum)
    }
    readOp("cdc")(ChangeFeed.read(spark, dir, ts(cdcFrom), ts(cdcFrom + CdcSpan))
      .groupBy(ChangeFeed.ChangeType)
      .agg(count(lit(1)), coalesce(sum(col("v1")), lit(0L)))) { rows =>
      val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      expect(s"change feed (${ts(cdcFrom)}, ${ts(cdcFrom + CdcSpan)}] by type", got,
        want.map { case (k, (n, s)) => k -> (n + fault, s) })
    }
    h.note("rows_out", want.values.map(_._1).sum)
  }

  def finalCheck(): Seq[String] = {
    val s = summarize(SnapshotReader.read(spark, dir))
    expect("final snapshot (rows, sum v1)", (s.getLong(0), s.getLong(2)),
      total(states.last))
  }

  def report(h: Harness, traced: Boolean)
      : Seq[(String, Option[Double], String, Int)] =
    Seq("scan", "pruned_scan", "time_travel", "cdc").map { op =>
      val (v, n) = p50(h, op, traced)
      (s"${op}_p50_s", v, "s", n)
    }
}

/** The training-data pipeline: arrival-order document batches into
  * `Dedup.ingestDedup`, with planted exact and near duplicates and a
  * boilerplate cluster that grows past the bucket cap. */
final class DedupIngest(c: Ctx) extends Workload {
  import c._
  val name = "dedup_ingest"
  val opMix = Seq("ingest_batch" -> 1)
  private var dir: String = _
  def dirs: Seq[String] = Seq(dir)
  private var docs: DocGen = _
  private var batches = 0
  /** Planted duplicates and how many were dropped, over timed batches. */
  private var planted = 0L
  private var dropped = 0L
  private var timedBatches = 0

  def liveRows: Long = docs.nextId

  def setup(table: String): Unit = {
    dir = s"$tables/ns/$table"
    docs = new DocGen(seed, sizes.batchDocs, sizes.hotCopies, sizes.maxBucket)
    batches = 0
    planted = 0L
    dropped = 0L
    timedBatches = 0
    ingest(docs.setupBatch()) // an op, so its check counts, but untimed
  }

  def round(): Unit = ingest(docs.nextBatch())

  private def ingest(b: DocBatch): Unit = {
    batches += 1
    val t = ts(batches)
    val frame = spark.createDataFrame(b.docs).toDF("id", "text")
    def run(): DataFrame = h.layer("pipeline.ingestDedup")(
      graft.pipeline.Dedup.ingestDedup(spark, dir, frame, col("id"),
        col("text"), maxBucket = sizes.maxBucket, ts = Some(t)))
    def check(snap: DataFrame): Seq[String] = {
      val r = snap.filter(col("doc_id") >= b.lo && col("doc_id") < b.hi)
        .agg(count(lit(1)), count(when(col("kept"), 1)),
          coalesce(sum(when(col("kept"),
            pmod(col("doc_id") * DocGen.Mix, lit(DocGen.Mod)))), lit(0L)))
        .head()
      if (h.timed) {
        timedBatches += 1
        planted += b.hi - b.lo - b.uniques
        dropped += r.getLong(0) - r.getLong(1)
      }
      expect("batch (docs, kept, kept-id checksum)",
        (r.getLong(0), r.getLong(1), r.getLong(2)),
        (b.hi - b.lo, b.kept + fault, b.keptChecksum))
    }
    h.op("ingest_batch")(run())(check)
    h.note("docs", b.hi - b.lo)
  }

  def finalCheck(): Seq[String] = {
    val n = graft.read.SnapshotReader.read(spark, dir).count()
    expect("index rows", n, docs.nextId)
  }

  def report(h: Harness, traced: Boolean)
      : Seq[(String, Option[Double], String, Int)] = {
    val xs = h.timedRecords("ingest_batch", traced).map(_.wallS)
    Seq(
      ("ingest_docs_per_s", if (xs.isEmpty) None
        else Some(sizes.batchDocs / Stats.median(xs)), "doc/s", xs.size),
      ("ingest_batch_tail_s", Stats.tail(xs).map(_._1), "s", xs.size),
      ("dedup_recall", if (planted == 0) None
        else Some(dropped.toDouble / planted), "ratio", timedBatches))
  }
}

package graft.pipeline

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpec
import graft.read.SnapshotReader
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** [[Dedup.ingestDedup]] against [[IngestDedupReference]]: seeded batch
  * sequences through both forms must leave the same index row for row,
  * and one batch runs a pinned number of SQL executions, none of which
  * holds a signature aggregate or a cached-relation scan. */
class IngestDedupSpec extends SparkSpec {
  import spark.implicits._

  private val MaxBucket = 4

  private def ts(i: Int): String = f"202601${i + 1}%02d000000"

  /** Four seeded batches of 20-word docs, ids unique within each batch:
    *  1. on an empty history — uniques, exact and near (one word replaced,
    *     shingle Jaccard ≥ 0.71) duplicates of its own docs, and six
    *     copies of a boilerplate doc, a cluster past `MaxBucket`;
    *  2. exact and near duplicates of batch 1 and of itself, and three
    *     more boilerplate copies;
    *  3. batch 2 again (a re-ingested batch);
    *  4. fresh ids: uniques, duplicates and two boilerplate copies. */
  private def batches(seed: Long): Seq[Seq[(Long, String)]] = {
    val rnd = new java.util.Random(seed)
    val vocab = Vector.tabulate(300)(i => s"w$i")
    def doc(): Vector[String] = Vector.fill(20)(vocab(rnd.nextInt(300)))
    def near(d: Vector[String]): Vector[String] =
      d.updated(rnd.nextInt(d.size), s"x${rnd.nextInt(1000)}")
    val boiler = Vector.tabulate(20)(i => s"boiler$i")
    val history = ArrayBuffer.empty[Vector[String]]
    var nextId = 1L
    def batch(uniques: Int, exact: Int, nearDups: Int,
        copies: Int): Seq[(Long, String)] = {
      val out = ArrayBuffer.fill(uniques)(doc())
      val pool = (history ++ out).toVector
      out ++= Seq.fill(exact)(pool(rnd.nextInt(pool.size)))
      out ++= Seq.fill(nearDups)(near(pool(rnd.nextInt(pool.size))))
      out ++= Seq.fill(copies)(boiler)
      history ++= out
      out.toSeq.map { d => nextId += 1; (nextId - 1, d.mkString(" ")) }
    }
    val b1 = batch(20, 3, 3, 6)
    val b2 = batch(15, 4, 4, 3)
    Seq(b1, b2, b2, batch(10, 3, 3, 2))
  }

  private def frame(b: Seq[(Long, String)]): DataFrame =
    b.toDF("doc_id", "text")

  private def index(dir: String): Seq[(Long, Seq[Long], Seq[Long], Boolean)] =
    SnapshotReader.read(spark, dir)
      .select("doc_id", "sig", "shingles", "kept").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2),
        r.getBoolean(3)))
      .toSeq.sortBy(_._1)

  test("seeded batch sequences leave the same index as the reference " +
    "form: empty history, in- and cross-batch duplicates, a re-ingested " +
    "batch and a cluster past maxBucket") {
    for (seed <- Seq(7L, 19L)) {
      val dir = freshDir(s"ingest_parity_$seed")
      val ref = freshDir(s"ingest_parity_ref_$seed")
      val bs = batches(seed)
      bs.zipWithIndex.foreach { case (b, i) =>
        Dedup.ingestDedup(spark, dir, frame(b), col("doc_id"), col("text"),
          maxBucket = MaxBucket, ts = Some(ts(i)))
        IngestDedupReference.ingest(spark, ref, frame(b), col("doc_id"),
          col("text"), maxBucket = MaxBucket, ts = Some(ts(i)))
        val (got, want) = (index(dir), index(ref))
        assert(got == want, s"seed $seed, batch ${i + 1}")
      }
      // the scenario really happened: duplicates dropped in every fresh
      // batch, and boilerplate copies past the cap kept
      val rows = index(dir)
      val dropped = rows.filterNot(_._4).map(_._1).toSet
      Seq(bs(0), bs(1), bs(3)).foreach(b =>
        assert(b.exists(d => dropped(d._1)), s"seed $seed: no drop"))
      val boilerIds = bs.flatten.filter(_._2.startsWith("boiler0 "))
        .map(_._1).toSet
      assert(rows.count(r => boilerIds(r._1) && r._4) > 1,
        s"seed $seed: the boilerplate cluster never passed the cap")
    }
  }

  /** SQL executions started while `body` runs, with every physical plan
    * they reported: the initial one and each adaptive re-plan. */
  private def executions(body: => Unit): (Int, Seq[String]) = {
    val sc = spark.sparkContext
    Bridge.waitForListeners(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          n.incrementAndGet(); plans.add(s.physicalPlanDescription)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.add(u.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(l)
    try { body; Bridge.waitForListeners(sc) }
    finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    (n.get, plans.asScala.toSeq)
  }

  private val cacheScans = Seq("InMemoryRelation", "InMemoryTableScan",
    "TableCacheQueryStage")

  test("one ingestDedup batch runs 4 SQL executions (partition probe, " +
    "checkpoint, graft save, its parquet write); no plan holds a " +
    "signature aggregate or a cached-relation scan") {
    val dir = freshDir("ingest_plan")
    val ref = freshDir("ingest_plan_ref")
    val bs = batches(3L)
    Dedup.ingestDedup(spark, dir, frame(bs(0)), col("doc_id"), col("text"),
      maxBucket = MaxBucket, ts = Some(ts(0)))
    IngestDedupReference.ingest(spark, ref, frame(bs(0)), col("doc_id"),
      col("text"), maxBucket = MaxBucket, ts = Some(ts(0)))
    val (n, plans) = executions(Dedup.ingestDedup(spark, dir, frame(bs(1)),
      col("doc_id"), col("text"), maxBucket = MaxBucket, ts = Some(ts(1))))
    assert(n == 4, plans.mkString("\n\n"))
    plans.foreach { p =>
      assert(!p.contains("minhash_sig("), p)
      cacheScans.foreach(c => assert(!p.contains(c), p))
    }
    // the pin can fail: the reference form's batch shows both
    val (_, refPlans) = executions(IngestDedupReference.ingest(spark, ref,
      frame(bs(1)), col("doc_id"), col("text"), maxBucket = MaxBucket,
      ts = Some(ts(1))))
    assert(refPlans.exists(_.contains("minhash_sig(")))
    assert(refPlans.exists(p => cacheScans.exists(p.contains)))
  }
}

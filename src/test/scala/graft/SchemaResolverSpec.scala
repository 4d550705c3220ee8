package graft

import graft.deleteview.DeleteView
import graft.format.Timeline
import graft.read.{ChangeFeed, IncrementalReader, SnapshotReader}
import graft.write.{CowWriter, MorWriter, MultiTableTxn, TableMaintenance}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** The table schema comes from commit metadata only
  * ([[Timeline.schema]]): every commit-producing verb records its writer
  * schema, every read surface refuses a table whose commits record none
  * (one message naming the table), and every empty answer is zero rows
  * of the schema resolved as of its instant. */
class SchemaResolverSpec extends SparkSpec {
  import spark.implicits._

  private val wh = "/tmp/graft_test/schema_wh"
  private val cat = "graft_schema_test"

  private def catalogTable(name: String): (String, String) = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.$name")
    (s"$cat.ns.$name", s"$wh/ns/$name")
  }

  private def tl(dir: String): Timeline =
    Timeline(spark.sessionState.newHadoopConf(), dir)

  private def rows(keys: Seq[Long], v: Long): DataFrame =
    keys.map(k => (k, s"p${k % 2}", v, k * 0.5)).toDF("id", "part", "v", "w")

  private def ts(i: Int): String = f"202601${i / 10 + 1}%02d${i % 10}%02d0000"

  /** Run each verb in order; every commit it lands on each of `dirs` must
    * record a schema (and it must land at least one on each). */
  private def eachRecords(dirs: String*)(
      verbs: (String, () => Unit)*): Unit = {
    def commits(dir: String) = tl(dir).completedInstants().map(_.ts).toSet
    verbs.foreach { case (verb, run) =>
      val before = dirs.map(commits)
      run()
      dirs.zip(before).foreach { case (dir, seen) =>
        val t = tl(dir)
        val landed = t.completedInstants().filterNot(i => seen(i.ts))
        assert(landed.nonEmpty, s"$verb landed no commit at $dir")
        landed.foreach(i => assert(t.metadata(i.ts).schemaJson.nonEmpty,
          s"$verb: ${i.action} ${i.ts} records no schema"))
      }
    }
  }

  test("every commit-producing verb records its writer schema") {
    val k = col("id")
    val p = col("part")
    val cow = freshDir("schema_verbs_cow")
    val cw = new CowWriter(spark, cow, numBuckets = 2)
    eachRecords(cow)(
      "COW insert" -> (() => cw.insert(rows(0L until 40L, 0L), k, p, ts(1))),
      "COW upsert" -> (() => cw.upsert(rows(30L until 50L, 1L), k, p, ts(2))),
      "COW delete" -> (() => cw.delete(rows(0L until 5L, 0L), k, p, ts(3))),
      "COW overwrite" -> (() =>
        cw.overwriteTable(rows(0L until 60L, 2L), k, p, ts(4))),
      "sort layout" -> (() =>
        TableMaintenance.sortLayout(spark, cow, ts(5), Seq("v"))),
      "zorder layout" -> (() =>
        TableMaintenance.zorderLayout(spark, cow, ts(6), Seq("v", "w"))),
      "deletePartitions" -> (() =>
        TableMaintenance.deletePartitions(spark, cow, ts(7), Seq("p0"))),
      "rebucket" -> (() => TableMaintenance.rebucket(spark, cow, ts(8), 3)))

    val mor = freshDir("schema_verbs_mor")
    val mw = new MorWriter(spark, mor, numBuckets = 2)
    eachRecords(mor)(
      "MOR insert" -> (() => mw.insert(rows(0L until 40L, 0L), k, p, ts(1))),
      "MOR upsert" -> (() => mw.upsert(rows(30L until 50L, 1L), k, p, ts(2))),
      "MOR delete" -> (() => mw.delete(rows(0L until 5L, 0L), k, p, ts(3))),
      "compaction" -> (() => mw.compact(ts(4))),
      "MOR overwrite" -> (() =>
        mw.overwriteTable(rows(0L until 20L, 2L), k, p, ts(5))))

    val (t, sqlDir) = catalogTable("verbs")
    eachRecords(sqlDir)(
      "CREATE TABLE" -> (() => spark.sql(s"""CREATE TABLE $t (id BIGINT,
        part STRING, v BIGINT) PARTITIONED BY (part)
        TBLPROPERTIES (key 'id', buckets '2')""")),
      "INSERT INTO" -> (() =>
        spark.sql(s"INSERT INTO $t VALUES (1, 'a', 1), (2, 'b', 2)")),
      "UPDATE" -> (() => spark.sql(s"UPDATE $t SET v = v + 1 WHERE id = 1")),
      "DELETE" -> (() => spark.sql(s"DELETE FROM $t WHERE id = 2")),
      "ALTER ADD COLUMNS" -> (() =>
        spark.sql(s"ALTER TABLE $t ADD COLUMNS (note STRING)")),
      "ALTER DROP COLUMN" -> (() =>
        spark.sql(s"ALTER TABLE $t DROP COLUMN note")),
      "INSERT OVERWRITE" -> (() =>
        spark.sql(s"INSERT OVERWRITE $t VALUES (3, 'a', 3)")))

    eachRecords(cow, mor)("MultiTableTxn" -> (() => MultiTableTxn.commit(spark,
      Seq(MultiTableTxn.TableWrite(cow, updates = Some(rows(Seq(70L), 3L))),
        MultiTableTxn.TableWrite(mor, deletes = Some(rows(Seq(6L), 0L)))))))

    val sink = freshDir("schema_verbs_sink")
    eachRecords(sink)("streaming sink batch" -> { () =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[(Long, String, Long)]
      mem.addData((1L, "a", 1L), (2L, "b", 2L))
      val q = mem.toDF().toDF("id", "part", "v").writeStream.format("graft")
        .option("key", "id").option("partition", "part")
        .option("checkpointLocation", freshDir("schema_verbs_ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(sink)
      q.awaitTermination(120000)
    })
  }

  /** The IllegalStateException `body` fails with, wherever Spark wrapped
    * it. */
  private def refusal(body: => Any): String = {
    val e = intercept[Throwable](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case s: IllegalStateException => s.getMessage }
      .getOrElse(fail(s"expected an IllegalStateException, got $e", e))
  }

  test("a table whose commits record no schema is refused on every read " +
    "surface with one message naming the table") {
    Seq("cow", "mor").foreach { tpe =>
      val (t, dir) = catalogTable(s"unrecorded_$tpe")
      spark.sql(s"""CREATE TABLE $t (id BIGINT, part STRING, v BIGINT)
        PARTITIONED BY (part) TBLPROPERTIES (key 'id', buckets '2',
        type '$tpe')""")
      spark.sql(s"INSERT INTO $t VALUES (1, 'a', 1), (2, 'b', 2), (3, 'a', 3)")
      spark.sql(s"UPDATE $t SET v = v + 10 WHERE id = 3")
      spark.sql(s"DELETE FROM $t WHERE id = 2")
      val instants = tl(dir).completedInstants()
      val inserted = instants(1).ts
      val deleting = instants.last.ts
      // strip the recorded schema from every commit
      val strip = tl(dir)
      instants.foreach { i =>
        val meta = strip.metadata(i.ts)
        strip.deleteCommit(i.ts)
        strip.saveCommit(i.ts, meta.copy(schemaJson = None), i.action)
      }
      val expected = refusal(tl(dir).schema(None))
      assert(expected.contains(dir) && expected.contains("overwrite"))
      def format = spark.read.format("graft")
      Seq[(String, () => Any)](
        "snapshot" -> (() => SnapshotReader.read(spark, dir).collect()),
        "asOf" -> (() => SnapshotReader.read(spark, dir, Some(inserted))),
        "incremental" -> (() =>
          IncrementalReader.read(spark, dir, "0", deleting).collect()),
        "change feed" -> (() => ChangeFeed.read(spark, dir, "0", deleting)),
        "delete view" -> (() => DeleteView(spark, dir, deleting).toDF()),
        "format snapshot" -> (() => format.load(dir).collect()),
        "format from" -> (() => format.option("from", "0").load(dir)),
        "format cdc" -> (() =>
          format.option("from", "0").option("cdc", "true").load(dir)),
        "format deleteView" -> (() =>
          format.option("deleteView", deleting).load(dir)),
        "catalog SELECT" -> (() => spark.sql(s"SELECT * FROM $t").collect())
      ).foreach { case (surface, read) =>
        assert(refusal(read()) == expected, s"$tpe $surface")
      }
      // the remedy the message names: an overwrite records a schema again
      val fresh = Seq((7L, "a", 7L)).toDF("id", "part", "v")
      (if (tpe == "cow") new CowWriter(spark, dir, numBuckets = 2)
       else new MorWriter(spark, dir, numBuckets = 2))
        .overwriteTable(fresh, col("id"), col("part"),
          graft.write.FormatWriter.nextTs(tl(dir)))
      assert(SnapshotReader.read(spark, dir).select("id", "v")
        .as[(Long, Long)].collect().toSeq == Seq((7L, 7L)))
    }
  }

  test("a snapshot as of an emptied state keeps its as-of columns after a " +
    "later commit adds one") {
    val dir = freshDir("schema_asof_emptied")
    val w = new CowWriter(spark, dir, numBuckets = 2)
    val k = col("id")
    val p = col("part")
    w.insert(rows(0L until 10L, 0L), k, p, ts(1))
    w.delete(rows(0L until 10L, 0L), k, p, ts(2)) // every group emptied
    w.upsert(rows(Seq(20L), 1L).withColumn("added", lit("x")), k, p, ts(3))
    val asOf = SnapshotReader.read(spark, dir, Some(ts(2)))
    assert(asOf.isEmpty)
    assert(asOf.schema == tl(dir).tableSchema(Some(ts(2))))
    assert(!asOf.columns.contains("added"))
    assert(SnapshotReader.read(spark, dir).columns.contains("added"))
  }

  /** SQL executions started while `body` runs. */
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

  test("the delete view of a commit that deleted nothing over a state " +
    "without data files is zero rows of the recorded schema, 0 executions") {
    val (t, dir) = catalogTable("dv_empty")
    spark.sql(s"""CREATE TABLE $t (id BIGINT, part STRING, v BIGINT)
      PARTITIONED BY (part) TBLPROPERTIES (key 'id', buckets '2')""")
    val created = tl(dir).completedInstants().head.ts
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 1), (2, 'b', 2)")
    spark.sql(s"DELETE FROM $t WHERE id > 0") // every group emptied
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (note STRING)")
    val altered = tl(dir).completedInstants().last
    assert(tl(dir).metadata(altered.ts).totalRecordsDeleted == 0L)
    assert(tl(dir).latestSlices(Some(altered.ts)).values
      .forall(_.relPath.isEmpty))
    Seq(created, altered.ts).foreach { at =>
      var view: DataFrame = null
      assert(sqlExecutions { view = DeleteView(spark, dir, at).toDF() } == 0,
        s"delete view of $at ran SQL executions")
      assert(view.schema == tl(dir).tableSchema(Some(at)), s"schema at $at")
      assert(view.isEmpty)
    }
    assert(DeleteView(spark, dir, altered.ts).toDF().columns
      .contains("note"))
    assert(!DeleteView(spark, dir, created).toDF().columns.contains("note"))
  }
}

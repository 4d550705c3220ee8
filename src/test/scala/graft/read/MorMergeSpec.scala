package graft.read

import graft.{SparkSpec, TestSpark}
import graft.deleteview.DeleteView
import graft.format.{CommitMetadata, Instant, MetaCols, Timeline, WriteStat}
import graft.write.{MorWriter, WriteContract}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-file-group MOR merge behind every engine-API read, pinned
  * against the test-side window reference ([[WindowMergeReference]]) and
  * checked for the properties it exists for: no job at planning time, no
  * exchange, the same output schema as the window form. */
class MorMergeSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  private def tl(dir: String) =
    Timeline(spark.sessionState.newHadoopConf(), dir)

  private def sameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val cols = want.columns.toIndexedSeq.map(col)
    val g = got.select(cols: _*).collect().map(_.toSeq).toSeq
    val w = want.select(cols: _*).collect().map(_.toSeq).toSeq
    assert(g.diff(w).isEmpty && w.diff(g).isEmpty,
      s"$what: extra ${g.diff(w)}, missing ${w.diff(g)}")
  }

  private def rows(ids: Seq[Long], v: Long => Long) =
    ids.map(i => (i, s"p${i % 3}", v(i))).toDF("id", "part", "v")

  /** A MOR table with base files and outstanding deltas in most groups. */
  private def dirtyTable(name: String): String = {
    val dir = freshDir(name)
    val w = new MorWriter(spark, dir, numBuckets = 2)
    w.insert(rows(1L to 60L, _ * 10), col("id"), col("part"), "1000001")
    w.upsert(rows((2L to 60L by 4) :+ 61L, _ * 100), col("id"), col("part"),
      "1000002")
    w.delete(rows(Seq(5L, 9L, 61L), _ => 0L), col("id"), col("part"),
      "1000003")
    dir
  }

  test("planning a delta-carrying snapshot runs no Spark job and no exchange") {
    val dir = dirtyTable("mormerge_plan")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.Bridge.waitForListeners(sc)
    sc.addSparkListener(listener)
    try {
      val df = SnapshotReader.read(spark, dir)
        .agg(count(lit(1)), sum($"v"))
      val plan = df.queryExecution.executedPlan
      val slices = tl(dir).latestSlices(None).values.toSeq
      assert(slices.exists(_.deltas.nonEmpty), "need outstanding deltas")
      val inner = SnapshotReader.merge(spark, dir, slices)
        .queryExecution.executedPlan
      org.apache.spark.sql.graft.Bridge.waitForListeners(sc)
      assert(jobs.get == 0, s"planning ran ${jobs.get} job(s):\n$plan")
      assert(!inner.toString.contains("Exchange"),
        s"the merge must not shuffle:\n$inner")
      assert(inner.toString.contains("GraftMergeScan"), inner.toString)
      val r = df.head()
      val ref = WindowMergeReference.read(spark, dir)
        .agg(count(lit(1)), sum($"v")).head()
      assert(r == ref)
    } finally sc.removeSparkListener(listener)
  }

  test("merge output schema matches the window form: names, order, nullability") {
    val dir = dirtyTable("mormerge_schema")
    val t = tl(dir)
    val all = t.latestSlices(None).values.toSeq
    for ((what, slices) <- Seq("mixed" -> all,
        "dirty only" -> all.filter(_.deltas.nonEmpty))) {
      val got = SnapshotReader.merge(spark, dir, slices, Some(t)).schema
      val want = WindowMergeReference.merge(spark, dir, slices, t, None)
        .schema
      assert(got.map(f => (f.name, f.dataType, f.nullable)) ==
        want.map(f => (f.name, f.dataType, f.nullable)),
        s"$what:\n${got.treeString}\nvs reference\n${want.treeString}")
    }
  }

  test("the writer's existence probe and the MOR delete view stay exact") {
    val dir = dirtyTable("mormerge_dv")
    val t = tl(dir)
    // 5 and 9 were live base rows, 61 a live delta insert: all three count
    assert(t.metadata("1000003").totalRecordsDeleted == 3L)
    val dv = DeleteView(spark, dir, "1000003").toDF()
    assert(dv.count() == t.metadata("1000003").totalRecordsDeleted)
    assert(dv.select($"id").as[Long].collect().sorted.toSeq ==
      Seq(5L, 9L, 61L))
    // deleting an already-dead key and a never-written one counts nothing
    new MorWriter(spark, dir, numBuckets = 2).delete(
      rows(Seq(5L, 999L), _ => 0L), col("id"), col("part"), "1000004")
    assert(tl(dir).metadata("1000004").totalRecordsDeleted == 0L)
  }

  /** Append a hand-written deltacommit whose rows re-state live keys with
    * a NULL delete marker — a version that is neither live nor a delete. */
  private def nullMarkerCommit(dir: String, ids: Seq[Long], buckets: Int,
      ts: String): Unit = {
    val t = tl(dir)
    val slices = t.latestSlices(None)
    val schema = org.apache.spark.sql.types.StructType(
      t.tableSchema(None).fields :+ org.apache.spark.sql.types.StructField(
        MetaCols.IsDeleted, org.apache.spark.sql.types.BooleanType))
    val fs = t.fs
    val stats = ids.groupBy { i =>
      s"p${i % 2}-" + GraftFileIndex.keyBucket(
        org.apache.spark.unsafe.types.UTF8String.fromString(i.toString),
        buckets)
    }.toSeq.map { case (fid, gids) =>
      val sl = slices(fid)
      val rel = s"${sl.partitionPath}/${fid}_$ts.delta.parquet"
      val tmp = s"$dir/.tmp_nullmarker_$ts"
      SnapshotReader.read(spark, dir).filter($"id".isin(gids: _*))
        .withColumn(MetaCols.CommitTime, lit(ts))
        .withColumn(MetaCols.IsDeleted, lit(null).cast("boolean"))
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val file = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      assert(fs.rename(file, new org.apache.hadoop.fs.Path(s"$dir/$rel")))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      sl.partitionPath -> WriteStat(fid, Some(rel),
        prevCommit = Some(sl.commitTs), numWrites = gids.size.toLong,
        numDeletes = 0, numUpdateWrites = 0, numInserts = 0)
    }
    t.saveCommit(ts, CommitMetadata(
      stats.groupBy(_._1).map { case (p, ss) => p -> ss.map(_._2) },
      "UPSERT", totalRecordsDeleted = 0, totalRecordsWritten = ids.size,
      schemaJson = Some(schema.json)), Instant.DeltaCommitAction)
  }

  test("randomized: SnapshotReader.read ≡ the window reference through " +
      "precombine, resurrection, delete-wins, null markers and add-column") {
    val ops = scala.collection.mutable.Set.empty[Int]
    for (seed <- Seq(3L, 17L, 41L); precombine <- Seq(false, true)) {
      val rnd = new scala.util.Random(seed)
      val dir = freshDir(s"mormerge_fuzz_${seed}_$precombine")
      val w = new MorWriter(spark, dir, numBuckets = 3)
      def frame(ids: Seq[Long], extraCol: Boolean) = {
        val base = ids.map(i => (i, s"p${i % 2}", rnd.nextInt(1000).toLong,
          // a narrow pc range makes ties common: commit order breaks them
          rnd.nextInt(4).toLong)).toDF("id", "part", "v", "pc")
        if (extraCol) base.withColumn("note", concat(lit("n"), $"v"))
        else base
      }
      var evolved = false
      w.insert(frame(1L to 24L, extraCol = false), col("id"), col("part"),
        "1000000", extra =
          if (precombine) Map(WriteContract.PrecombineKey -> "pc")
          else Map.empty)
      var nextId = 25L
      for (step <- 1 to 7) {
        val ts = (1000000 + step).toString
        def pick(n: Int) = rnd.shuffle((1L until nextId).toVector).take(n)
        val op = rnd.nextInt(5)
        ops += op
        op match {
          case 0 => // upsert: new keys + old ones (dead ones resurrect)
            val ids = (nextId until nextId + 2).toSeq ++ pick(4)
            nextId += 2
            w.upsert(frame(ids.distinct, evolved), col("id"), col("part"), ts)
          case 1 =>
            w.delete(frame(pick(3), evolved), col("id"), col("part"), ts)
          case 2 => // same key upserted and deleted in ONE commit
            val ids = pick(3)
            w.upsertDelta(Some(frame(ids, evolved)),
              Some(frame(ids.take(2), evolved)), col("id"), col("part"), ts)
          case 3 => // add-column evolution from here on
            evolved = true
            w.upsert(frame(pick(4), evolved), col("id"), col("part"), ts)
          case _ => // only live keys: their group has a current slice
            val live = SnapshotReader.read(spark, dir)
              .filter($"id".isin(pick(3): _*)).select($"id").as[Long]
              .collect().toSeq
            if (live.nonEmpty) nullMarkerCommit(dir, live, 3, ts)
        }
        val what = s"seed=$seed pc=$precombine step=$step"
        val got = SnapshotReader.read(spark, dir)
        val ref = WindowMergeReference.read(spark, dir)
        sameRows(got, ref, what)
        assert(got.columns.toSeq == ref.columns.toSeq, what)
        // time travel to the previous commit rides the same merge
        val prev = Some((1000000 + step - 1).toString)
        sameRows(SnapshotReader.read(spark, dir, prev),
          WindowMergeReference.read(spark, dir, prev), s"$what asOf")
      }
    }
    assert(ops == (0 until 5).toSet, s"scripts never ran ops ${(0 until 5).toSet -- ops}")
  }
}

package graft

import graft.format.MetaCols
import graft.read.SnapshotReader
import graft.write.CowWriter
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Catalyst-automatic partition pruning (GraftFileIndex) and O(1)
  * commit-metadata schema resolution. */
class FileIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val orders =
    spark.read.parquet(s"$sf0001/orders.parquet").limit(300)

  private def cowTable(name: String): String = {
    val dir = freshDir(name)
    val w = new CowWriter(spark, dir, numBuckets = 2)
    w.insert(orders, col("o_orderkey"), col("o_orderstatus"), Fixtures.C1)
    dir
  }

  test("snapshot filter on partition path prunes at LISTING time") {
    val dir = cowTable("orders_prune")
    val snap = SnapshotReader.read(spark, dir)
    // correctness through the new relation first
    assert(snap.count() == orders.count())
    val filtered = snap.filter(col(MetaCols.PartitionPath) === "F")
    assert(filtered.count() ==
      orders.filter($"o_orderstatus" === "F").count())

    // the planner must route the predicate into the FileIndex as a
    // partitionFilter, and the pruned listing must contain ONLY partition
    // F's slices — a strict subset of the table's files
    val scans = filtered.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1, s"expected one file scan, got ${scans.size}")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      "partition predicate did not reach the scan as a partitionFilter")
    val pruned = scan.relation.location
      .listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files.map(_.getPath.toString))
    val all = scan.relation.location.inputFiles.toSeq
    assert(pruned.nonEmpty && pruned.size < all.size,
      s"pruning listed ${pruned.size}/${all.size} files")
    assert(pruned.forall(_.contains("/F/")),
      s"pruned listing leaked non-F slices: $pruned")
    // NB: Dataset.inputFiles is deliberately NOT asserted here — its
    // contract is the relation's full (unpruned) listing.
  }

  test("partition-pruned snapshot rows == explicit partitions parameter") {
    val dir = cowTable("orders_prune_eq")
    val viaFilter = SnapshotReader.read(spark, dir)
      .filter(col(MetaCols.PartitionPath) === "O")
    val viaParam = SnapshotReader.read(spark, dir,
      partitions = Seq("O"))
    assert(viaFilter.exceptAll(viaParam).isEmpty &&
      viaParam.exceptAll(viaFilter).isEmpty)
  }

  test("engine-API MOR snapshot: partition filter prunes BOTH merge sides (format parity)") {
    val dir = freshDir("orders_mor_parity")
    val mw = new graft.write.MorWriter(spark, dir, numBuckets = 2)
    mw.insert(orders, col("o_orderkey"), col("o_orderstatus"), Fixtures.C1)
    mw.upsert(orders.filter($"o_orderkey" % 5 === 0)
        .withColumn("o_totalprice", $"o_totalprice" + 1),
      col("o_orderkey"), col("o_orderstatus"), Fixtures.C2) // deltas remain

    def plannedVia(df: org.apache.spark.sql.DataFrame): Set[String] = {
      val rels = df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation
            if l.relation.isInstanceOf[graft.read.GraftMorRelation] =>
          l.relation.asInstanceOf[graft.read.GraftMorRelation]
      }
      assert(rels.size == 1,
        "delta-carrying snapshot must be GraftMorRelation-backed")
      df.count() // execute → the relation records its planned files
      rels.head.lastPlannedFiles.toSet
    }

    val api = SnapshotReader.read(spark, dir)
      .filter(col(MetaCols.PartitionPath) === "F")
    val apiFiles = plannedVia(api)
    val fmt = spark.read.format("graft").load(dir)
      .filter(col(MetaCols.PartitionPath) === "F")
    val fmtFiles = plannedVia(fmt)
    assert(apiFiles == fmtFiles,
      s"engine API planned ${apiFiles.size} files, format ${fmtFiles.size}" +
        " — the two idioms must plan the SAME metadata-pruned subset")
    assert(apiFiles.nonEmpty && apiFiles.forall(_.contains("/F/")),
      s"planned files leaked other partitions: $apiFiles")
    val allFiles = plannedVia(SnapshotReader.read(spark, dir))
    assert(apiFiles.size < allFiles.size, "pruning must be a strict subset")
    // and the filter idiom serves the same rows as the explicit parameter
    assert(api.count() ==
      SnapshotReader.read(spark, dir, partitions = Seq("F")).count())
    // and both equal the window-merge reference's rows
    val ref = graft.read.WindowMergeReference.read(spark, dir)
      .filter(col(MetaCols.PartitionPath) === "F")
    val aligned = api.select(ref.columns.map(col).toIndexedSeq: _*)
    assert(aligned.exceptAll(ref).isEmpty && ref.exceptAll(aligned).isEmpty)
  }

  test("MOR with outstanding deltas: filter == partitions param (merge side unpruned but exact)") {
    val dir = freshDir("orders_prune_mor")
    val w = new graft.write.MorWriter(spark, dir, numBuckets = 2)
    w.insert(orders, col("o_orderkey"), col("o_orderstatus"), Fixtures.C1)
    // leave deltas OUTSTANDING (no compaction) so the MOR merge runs
    w.upsert(orders.filter($"o_orderkey" % 5 === 0)
        .withColumn("o_totalprice", $"o_totalprice" + 1),
      col("o_orderkey"), col("o_orderstatus"), Fixtures.C2)
    val viaFilter = SnapshotReader.read(spark, dir)
      .filter(col(MetaCols.PartitionPath) === "F")
    val viaParam = SnapshotReader.read(spark, dir, partitions = Seq("F"))
    assert(viaFilter.count() > 0)
    assert(viaFilter.exceptAll(viaParam).isEmpty &&
      viaParam.exceptAll(viaFilter).isEmpty)
    val ref = graft.read.WindowMergeReference.read(spark, dir)
      .filter(col(MetaCols.PartitionPath) === "F")
      .select(viaFilter.columns.map(col).toIndexedSeq: _*)
    assert(viaFilter.exceptAll(ref).isEmpty && ref.exceptAll(viaFilter).isEmpty)
  }

  test("snapshot planning runs NO footer job (schema from commit metadata)") {
    val dir = cowTable("orders_nofooter")
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    }
    // settle any in-flight listener events from previous tests
    Thread.sleep(300)
    spark.sparkContext.addSparkListener(listener)
    try {
      val snap = SnapshotReader.read(spark, dir)
      snap.queryExecution.optimizedPlan // force full analysis+optimization
      Thread.sleep(800)
      val schemaPathJobs = jobs
      // positive control on the same files: the footer-merge path DOES run
      // a job, so a silent-listener false negative can't pass
      graft.read.WindowMergeReference.evolvedRead(spark, snap.inputFiles.toSeq)
      Thread.sleep(800)
      assert(jobs > schemaPathJobs,
        "control failed: mergeSchema read should run a footer job")
      assert(schemaPathJobs == 0,
        s"schema-resolved snapshot planning ran $schemaPathJobs job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("spark.read.format(\"graft\"): batch relation with predicate pruning") {
    val dir = cowTable("orders_format_read")
    val df = spark.read.format("graft").load(dir)
    assert(df.count() == orders.count())
    val filtered = df.filter(col(MetaCols.PartitionPath) === "F")
    assert(filtered.count() ==
      orders.filter($"o_orderstatus" === "F").count())
    val scans = filtered.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty && scans.head.partitionFilters.nonEmpty,
      "format-surface read must prune partitions from predicates")
    // asOf option = time travel; with one commit it equals the snapshot
    val asOf = spark.read.format("graft").option("asOf", Fixtures.C1)
      .load(dir)
    assert(asOf.count() == orders.count())
    // outstanding MOR deltas route to the merged-plan relation (r6) — same
    // rows as the engine-API snapshot, no compaction precondition
    val morDir = freshDir("orders_format_mor")
    val mw = new graft.write.MorWriter(spark, morDir, numBuckets = 2)
    mw.insert(orders, col("o_orderkey"), col("o_orderstatus"), Fixtures.C1)
    mw.upsert(orders.limit(10), col("o_orderkey"), col("o_orderstatus"),
      Fixtures.C2)
    val viaFormat = spark.read.format("graft").load(morDir)
    val viaApi = SnapshotReader.read(spark, morDir)
      .select(viaFormat.columns.map(col).toIndexedSeq: _*)
    assert(viaFormat.exceptAll(viaApi).isEmpty &&
      viaApi.exceptAll(viaFormat).isEmpty)
    // after compaction the format surface serves the plain file relation
    mw.compact(Fixtures.C3)
    assert(spark.read.format("graft").load(morDir).count() ==
      orders.count())
  }

  test("format MOR read: pushed partition predicate prunes BOTH merge sides at metadata level") {
    val dir = freshDir("orders_format_mor_prune")
    val mw = new graft.write.MorWriter(spark, dir, numBuckets = 2)
    mw.insert(orders, col("o_orderkey"), col("o_orderstatus"), Fixtures.C1)
    // leave deltas OUTSTANDING so the format read plans the MOR merge
    mw.upsert(orders.filter($"o_orderkey" % 5 === 0)
        .withColumn("o_totalprice", $"o_totalprice" + 1),
      col("o_orderkey"), col("o_orderstatus"), Fixtures.C2)

    val df = spark.read.format("graft").load(dir)
    val filtered = df.filter(col(MetaCols.PartitionPath) === "F")
    val viaParam = SnapshotReader.read(spark, dir, partitions = Seq("F"))
      .select(df.columns.map(col).toIndexedSeq: _*)
    assert(filtered.count() > 0)
    assert(filtered.exceptAll(viaParam).isEmpty &&
      viaParam.exceptAll(filtered).isEmpty)
    val ref = graft.read.WindowMergeReference.read(spark, dir)
      .filter(col(MetaCols.PartitionPath) === "F")
      .select(df.columns.map(col).toIndexedSeq: _*)
    assert(filtered.exceptAll(ref).isEmpty && ref.exceptAll(filtered).isEmpty)

    // the relation must have planned ONLY partition F's files (base AND
    // delta) — a strict subset of the unfiltered read's planning
    val rel = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation
    }.collectFirst { case r: graft.read.GraftMorRelation => r }.get
    val prunedFiles = rel.lastPlannedFiles
    assert(prunedFiles.nonEmpty && prunedFiles.forall(_.contains("/F/")),
      s"pruned MOR planning leaked non-F slices: $prunedFiles")
    assert(prunedFiles.exists(_.contains(".delta.")),
      "expected outstanding delta files in the pruned F planning")
    df.count() // unfiltered: plans every partition's files
    val allFiles = rel.lastPlannedFiles
    assert(prunedFiles.size < allFiles.size,
      s"pruning planned ${prunedFiles.size}/${allFiles.size} files")

    // a filter selecting NO partition is empty rows, not an error
    assert(df.filter(col(MetaCols.PartitionPath) === "NOPE").count() == 0)
  }

  test("format append resolves raw writers' recorded bucket count; refuses unrecorded") {
    val dir = freshDir("orders_format_rawtable")
    // raw writers now RECORD their bucket count at creation (r7 tail), so
    // the format surface interoperates without re-declaring it
    val w = new CowWriter(spark, dir, numBuckets = 2)
    w.insert(orders, col("o_orderkey"), col("o_orderstatus"), Fixtures.C1)
    val upd = orders.limit(10)
      .withColumn("o_totalprice", $"o_totalprice" + 1)
    def append(df: org.apache.spark.sql.DataFrame, ts: String) =
      df.write.format("graft")
        .option("key", "o_orderkey").option("partition", "o_orderstatus")
        .option("ts", ts).mode("append")
    // a CONTRADICTING explicit count would re-bucket keys across file
    // groups and strand old row versions (silent duplicate keys) — refused
    val err = intercept[IllegalArgumentException](
      append(upd, Fixtures.C2).option("buckets", "4").save(dir))
    assert(err.getMessage.contains("contradicts"))
    // option-less append resolves the recorded count
    append(upd, Fixtures.C2).save(dir)
    val snap = spark.read.format("graft").load(dir)
    assert(snap.count() == orders.count(),
      "recorded-bucket append must not duplicate keys")

    // a PRE-recording table (bucket extra stripped): guessing would be
    // unsafe — must refuse without an explicit option
    val tl = graft.format.Timeline(spark.sessionState.newHadoopConf(), dir)
    Seq(Fixtures.C1, Fixtures.C2).foreach { ts =>
      val meta = tl.metadata(ts)
      tl.deleteCommit(ts)
      tl.saveCommit(ts, meta.copy(extra = meta.extra - "buckets"))
    }
    tl.refresh()
    val err2 = intercept[IllegalArgumentException](
      append(upd, Fixtures.C3).save(dir))
    assert(err2.getMessage.contains("no recorded bucket count"))
    // the writer's true count, passed explicitly, goes through
    append(upd, Fixtures.C3).option("buckets", "2").save(dir)
    assert(spark.read.format("graft").load(dir).count() == orders.count())
  }

  test("format read of a fully-EMPTIED table is zero rows with the table schema") {
    val dir = freshDir("orders_format_emptied")
    def w(df: org.apache.spark.sql.DataFrame) = df.write.format("graft")
      .option("key", "o_orderkey").option("partition", "o_orderstatus")
    w(orders).option("ts", Fixtures.C1).mode("overwrite").save(dir)
    w(orders).option("operation", "delete").option("ts", Fixtures.C2)
      .mode("append").save(dir) // every file group now fileless
    val df = spark.read.format("graft").load(dir)
    assert(df.count() == 0)
    assert(df.columns.contains("o_orderkey") &&
      df.columns.contains(MetaCols.PartitionPath))
    // and the engine-API read agrees (Hudi parity: emptied ≠ error)
    assert(SnapshotReader.read(spark, dir).count() == 0)
  }

  test("format deleteView option == DeleteView API, served from cache on re-read") {
    val dir = freshDir("orders_format_dv")
    val w = new CowWriter(spark, dir, numBuckets = 2)
    w.insert(orders, col("o_orderkey"), col("o_orderstatus"), Fixtures.C1)
    val doomed = orders.filter($"o_orderkey" % 6 === 0)
    w.delete(doomed, col("o_orderkey"), col("o_orderstatus"), Fixtures.C2)

    val dv = spark.read.format("graft")
      .option("deleteView", Fixtures.C2).load(dir)
    assert(dv.count() == doomed.count() && doomed.count() > 0)
    val api = graft.deleteview.DeleteView(spark, dir, Fixtures.C2).toDF()
      .select(dv.columns.map(col).toIndexedSeq: _*)
    assert(dv.exceptAll(api).isEmpty && api.exceptAll(dv).isEmpty)
    // a second relation serves the materialized cache (idempotence
    // contract), and filters push into it
    val again = spark.read.format("graft")
      .option("deleteView", Fixtures.C2).load(dir)
      .filter($"o_orderkey" % 12 === 0)
    assert(again.count() == doomed.filter($"o_orderkey" % 12 === 0).count())
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("deleteView", Fixtures.C2)
        .option("from", Fixtures.C1).load(dir)
    }
  }

  test("format incremental read: from/to options == IncrementalReader, with delete operation") {
    val dir = freshDir("orders_format_inc")
    def w(df: org.apache.spark.sql.DataFrame) = df.write.format("graft")
      .option("key", "o_orderkey").option("partition", "o_orderstatus")
    w(orders).option("ts", Fixtures.C1).mode("overwrite").save(dir)
    val upd = orders.filter($"o_orderkey" % 10 === 3)
      .withColumn("o_totalprice", $"o_totalprice" + 5)
    w(upd).option("ts", Fixtures.C2).mode("append").save(dir)
    w(orders.filter($"o_orderkey" % 9 === 0))
      .option("operation", "delete").option("ts", Fixtures.C3)
      .mode("append").save(dir)

    // (C1, C2]: exactly the C2 upsert's current rows
    val inc = spark.read.format("graft")
      .option("from", Fixtures.C1).option("to", Fixtures.C2).load(dir)
    val api = graft.read.IncrementalReader.read(spark, dir,
      Fixtures.C1, Fixtures.C2)
      .select(inc.columns.map(col).toIndexedSeq: _*)
    assert(inc.count() == upd.count())
    assert(inc.exceptAll(api).isEmpty && api.exceptAll(inc).isEmpty)
    // `to` defaults to the newest commit; deletes vanish from the range
    val incAll = spark.read.format("graft")
      .option("from", Fixtures.C1).load(dir)
    assert(incAll.filter($"o_orderkey" % 9 === 0).count() == 0,
      "deleted keys must not appear in the incremental range")
    // partition predicate prunes via the metadata path, rows unchanged
    val incF = inc.filter(col(MetaCols.PartitionPath) === "F")
    assert(incF.count() ==
      api.filter(col(MetaCols.PartitionPath) === "F").count())
    // the format delete really removed the keys from the snapshot
    assert(spark.read.format("graft").load(dir)
      .filter($"o_orderkey" % 9 === 0).count() == 0)
    // asOf and from are mutually exclusive
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("asOf", Fixtures.C2)
        .option("from", Fixtures.C1).load(dir)
    }
    // ts params are width-validated against the table (lexicographic
    // comparison misorders mixed widths — fail fast, don't mis-range)
    val werr = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("asOf", "999").load(dir)
    }
    assert(werr.getMessage.contains("width"))
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("from", "20260101").load(dir)
    }
    // a lone `to` is an error, not a silent full snapshot
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("to", Fixtures.C2).load(dir)
    }
  }

  test("format write type=mor: appends are delta commits; compactEvery folds them") {
    import graft.format.{Instant, Timeline}
    val dir = freshDir("orders_format_mor_write")
    def opts(df: org.apache.spark.sql.DataFrame) =
      df.write.format("graft")
        .option("key", "o_orderkey").option("partition", "o_orderstatus")
    opts(orders).option("type", "mor").option("ts", Fixtures.C1)
      .mode("overwrite").save(dir)
    val upd = orders.filter($"o_orderkey" % 5 === 0)
      .withColumn("o_totalprice", $"o_totalprice" + 1)
    opts(upd).option("ts", Fixtures.C2).mode("append").save(dir)

    // create = base commit, append = DELTA commit (no file-group rewrite)
    def tl() = Timeline(spark.sessionState.newHadoopConf(), dir)
    assert(tl().completedInstants().map(_.action) ==
      Seq(Instant.CommitAction, Instant.DeltaCommitAction))
    // recorded type pin: a contradicting cow append must fail
    val err = intercept[IllegalArgumentException] {
      opts(upd).option("type", "cow").option("ts", Fixtures.C3)
        .mode("append").save(dir)
    }
    assert(err.getMessage.contains("contradicts"))
    // merged read through the format surface sees the delta upsert
    val snap = spark.read.format("graft").load(dir)
    assert(snap.count() == orders.count())
    assert(snap.filter($"o_orderkey" % 5 === 0)
      .join(orders.withColumnRenamed("o_totalprice", "orig"),
        Seq("o_orderkey"))
      .filter($"o_totalprice" =!= $"orig" + 1).isEmpty)

    // compactEvery=1: the next append folds ALL outstanding deltas
    opts(orders.filter($"o_orderkey" % 7 === 0)
        .withColumn("o_totalprice", $"o_totalprice" + 2))
      .option("compactEvery", "1").option("ts", Fixtures.C3)
      .mode("append").save(dir)
    val slices = tl().latestSlices(None).values
    assert(slices.nonEmpty && slices.forall(_.deltas.isEmpty),
      "compactEvery left outstanding deltas")
    // post-compaction the format read is the plain pruning file relation
    val clean = spark.read.format("graft").load(dir)
    val scans = clean.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1, "compacted table should mount as a file scan")
    assert(clean.count() == orders.count())
  }

  test("GraftMorRelation.partitionValues: sound conjunct extraction only") {
    import org.apache.spark.sql.sources._
    import graft.read.GraftMorRelation.partitionValues
    val P = MetaCols.PartitionPath
    assert(partitionValues(Array(EqualTo(P, "F"))) == Some(Set("F")))
    assert(partitionValues(Array(In(P, Array("F", "O")))) ==
      Some(Set("F", "O")))
    // top-level filters AND together: intersection
    assert(partitionValues(Array(In(P, Array("F", "O")), EqualTo(P, "O"))) ==
      Some(Set("O")))
    assert(partitionValues(
      Array(And(EqualTo(P, "F"), GreaterThan("o_totalprice", 0)))) ==
      Some(Set("F")))
    // unsound shapes must NOT prune
    assert(partitionValues(
      Array(Or(EqualTo(P, "F"), EqualTo("o_orderstatus", "O")))).isEmpty)
    assert(partitionValues(Array(Not(EqualTo(P, "F")))).isEmpty)
    assert(partitionValues(Array(IsNotNull(P))).isEmpty)
    assert(partitionValues(Array(GreaterThan("o_totalprice", 0))).isEmpty)
  }

  test("mode=Overwrite on an existing table is ONE atomic replace commit") {
    import graft.format.Timeline
    val dir = freshDir("orders_format_overwrite")
    def w(df: org.apache.spark.sql.DataFrame) = df.write.format("graft")
      .option("key", "o_orderkey").option("partition", "o_orderstatus")
    w(orders).option("ts", Fixtures.C1).mode("overwrite").save(dir)

    // a typo'd overwrite (invalid option) must throw BEFORE anything
    // irreversible — the table is untouched
    intercept[IllegalArgumentException] {
      w(orders).option("operation", "delete") // meaningless on Overwrite
        .option("ts", Fixtures.C2).mode("overwrite").save(dir)
    }
    def tl() = Timeline(spark.sessionState.newHadoopConf(), dir)
    assert(tl().completedInstants().map(_.ts) == Seq(Fixtures.C1),
      "failed overwrite must leave the table exactly as it was")
    assert(spark.read.format("graft").load(dir).count() == orders.count())

    // the real overwrite: new content, REPLACE commit — history preserved
    val replacement = orders.filter($"o_orderkey" % 2 === 0)
      .withColumn("o_totalprice", $"o_totalprice" * 2)
    w(replacement).option("ts", Fixtures.C2).mode("overwrite").save(dir)
    assert(tl().completedInstants().map(_.ts) ==
      Seq(Fixtures.C1, Fixtures.C2),
      "overwrite is a commit on the SAME timeline, not a table recreate")
    assert(tl().metadata(Fixtures.C2).operationType ==
      "INSERT_OVERWRITE_TABLE")
    // the snapshot is exactly the replacement
    val snap = spark.read.format("graft").load(dir)
    assert(snap.count() == replacement.count())
    assert(snap.filter($"o_orderkey" % 2 =!= 0).count() == 0)
    // time travel ACROSS the overwrite still serves the old content
    val old = spark.read.format("graft").option("asOf", Fixtures.C1).load(dir)
    assert(old.count() == orders.count())
    // nothing was deleted: every C1 slice file is still on disk (readers
    // concurrent with the overwrite could never observe an empty table)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    tl().metadata(Fixtures.C1).allStats.foreach { case (_, s) =>
      s.path.foreach(rel => assert(
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$rel")),
        s"overwrite deleted $rel — superseded slices belong to clean()"))
    }
    // and clean() reclaims the superseded slices once retention passes
    val cleaned = graft.write.TableMaintenance.clean(spark, dir,
      retainCommits = 1)
    assert(cleaned.nonEmpty)
    assert(spark.read.format("graft").load(dir).count() ==
      replacement.count(), "clean must not touch the live snapshot")

    // an overwrite is a re-creation point: appends after it work unchanged
    val upd = replacement.limit(5)
      .withColumn("o_totalprice", $"o_totalprice" + 1)
    w(upd).option("ts", Fixtures.C3).mode("append").save(dir)
    assert(spark.read.format("graft").load(dir).count() ==
      replacement.count())
  }

  test("overwrite may change buckets and type (whole-table rewrite)") {
    import graft.format.{Instant, Timeline}
    val dir = freshDir("orders_format_overwrite_rebucket")
    def w(df: org.apache.spark.sql.DataFrame) = df.write.format("graft")
      .option("key", "o_orderkey").option("partition", "o_orderstatus")
    w(orders).option("buckets", "2").option("ts", Fixtures.C1)
      .mode("overwrite").save(dir)
    // rebucket 2 → 4 and retype cow → mor in one overwrite: safe, every
    // group is rewritten
    w(orders).option("buckets", "4").option("type", "mor")
      .option("ts", Fixtures.C2).mode("overwrite").save(dir)
    assert(spark.read.format("graft").load(dir).count() == orders.count())
    // appends now follow the NEW recorded properties: delta commit, 4 buckets
    val upd = orders.limit(10)
      .withColumn("o_totalprice", $"o_totalprice" + 1)
    w(upd).option("ts", Fixtures.C3).mode("append").save(dir)
    def tl() = Timeline(spark.sessionState.newHadoopConf(), dir)
    assert(tl().completedInstants().map(_.action) ==
      Seq(Instant.CommitAction, Instant.CommitAction,
        Instant.DeltaCommitAction))
    assert(spark.read.format("graft").load(dir).count() == orders.count(),
      "append after a rebucketing overwrite must not duplicate keys")
    // a contradicting append option is still refused post-overwrite
    val err = intercept[IllegalArgumentException] {
      w(upd).option("buckets", "2").option("ts", Fixtures.C4)
        .mode("append").save(dir)
    }
    assert(err.getMessage.contains("contradicts"))
  }

  test("pushed-filter translation treats dotted column names as ONE name part") {
    import org.apache.spark.sql.sources.EqualTo
    // a column literally named "a.b": col("a.b") would parse it as nested
    // field access and misresolve — the translator must quote
    val df = Seq((1, "x"), (2, "y")).toDF("id", "a.b")
    val c = graft.read.GraftMorRelation.toColumn(EqualTo("a.b", "x")).get
    assert(df.filter(c).count() == 1)
  }

  test("snapshot schema == recorded commit schema (column order preserved)") {
    val dir = cowTable("orders_schema_order")
    val tl = graft.format.Timeline(
      spark.sessionState.newHadoopConf(), dir)
    val recorded = tl.schema(None).get
    assert(SnapshotReader.read(spark, dir).schema == recorded)
  }

  // ---- column-stats file-skipping index (r7) ----

  /** Files the scan would actually plan, honoring partition pruning AND
    * data-filter skipping (the same listFiles call FileSourceScanExec
    * makes). */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1, s"expected one file scan, got ${scans.size}")
    scans.head.relation.location
      .listFiles(scans.head.partitionFilters, scans.head.dataFilters)
      .map(_.files.length).sum
  }

  test("column-stats index: key point lookup plans ONE file, not the table") {
    val dir = freshDir("orders_colstats")
    val w = new CowWriter(spark, dir, numBuckets = 4,
      statsCols = Seq("o_totalprice"))
    w.insert(orders, col("o_orderkey"), col("o_orderstatus"), Fixtures.C1)
    val snap = SnapshotReader.read(spark, dir)
    val total = snap.inputFiles.length
    assert(total > 2, s"need a multi-file table, got $total")

    // positive control FIRST: a data filter on an UNTRACKED column must
    // plan every file — proves the counting method detects non-skipping
    assert(plannedFiles(snap.filter($"o_custkey" >= 0)) == total)

    // key point lookup: exactly one file's [minKey, maxKey] covers the key
    val k = orders.agg(min($"o_orderkey")).as[Long].head()
    val lookup = snap.filter(col(MetaCols.RecordKey) === k.toString)
    assert(lookup.count() == 1)
    assert(plannedFiles(lookup) == 1,
      s"key lookup planned ${plannedFiles(lookup)} of $total files")

    // declared hot column: impossible range plans ZERO files
    val none = snap.filter($"o_totalprice" > 1e15)
    assert(none.count() == 0 && plannedFiles(none) == 0)

    // range + partition predicates compose (both pruning layers)
    val both = snap.filter(col(MetaCols.PartitionPath) === "F" &&
      col(MetaCols.RecordKey) === k.toString)
    assert(plannedFiles(both) <= 1)

    // correctness under skipping: selective tracked-column filter returns
    // exactly the raw scan's rows
    val median = orders.agg(min($"o_totalprice")).head().getDouble(0) + 1000
    val sel = snap.filter($"o_totalprice" < median)
    val raw = graft.read.WindowMergeReference.evolvedRead(spark, snap.inputFiles.toSeq)
      .filter($"o_totalprice" < median)
    assert(sel.count() == raw.count())
  }

  test("column-stats index: DECIMAL stats skip-prune and record exact sums (r10)") {
    val dir = freshDir("orders_decstats")
    import org.apache.spark.sql.types.DecimalType
    // exact decimal money column built from integer cents (no fp rounding)
    val dec = orders.withColumn("o_price_dec",
      (expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) " +
        "AS DECIMAL(16,0))") * expr("CAST(0.01 AS DECIMAL(3,2))"))
        .cast(DecimalType(20, 2)))
    val w = new CowWriter(spark, dir, numBuckets = 4,
      statsCols = Seq("o_price_dec"))
    w.insert(dec, col("o_orderkey"), col("o_orderstatus"), Fixtures.C1)
    val snap = SnapshotReader.read(spark, dir)
    val total = snap.inputFiles.length
    assert(total > 2, s"need a multi-file table, got $total")
    // impossible decimal range: ZERO files planned (min/max skipping on
    // the decimal ordering, not a string rendering)
    val none = snap.filter($"o_price_dec" > new java.math.BigDecimal(
      "99999999999999.99"))
    assert(none.count() == 0 && plannedFiles(none) == 0)
    // selective decimal range is skipping-correct vs the raw scan
    val cut = new java.math.BigDecimal("1000.00")
    val sel = snap.filter($"o_price_dec" < cut)
    val raw = graft.read.WindowMergeReference.evolvedRead(spark, snap.inputFiles.toSeq)
      .filter($"o_price_dec" < cut)
    assert(sel.count() == raw.count() && plannedFiles(sel) <= total)
    // every file recorded an exact decimal sum; their fold == the scan sum
    val tl = graft.format.Timeline(spark.sessionState.newHadoopConf(), dir)
    val sums = tl.metadata(Fixtures.C1).allStats.toSeq.map { case (_, st) =>
      new java.math.BigDecimal(st.colStats("o_price_dec").sum.get)
    }
    val folded = sums.reduce(_ add _)
    val scanned = snap.agg(sum($"o_price_dec")).head().getDecimal(0)
    assert(folded.compareTo(scanned) == 0,
      s"per-file sum fold $folded != scan sum $scanned")
  }

  test("column-stats index: rewrites keep stats; In/null semantics conservative-correct") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = freshDir("colstats_nulls")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("p", StringType), StructField("v", DoubleType)))
    val rows = (1L to 40L).map(i => Row(i, if (i % 2 == 0) "a" else "b",
      if (i % 5 == 0) null else i.toDouble))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val w = new CowWriter(spark, dir, numBuckets = 2, statsCols = Seq("v"))
    w.insert(df, col("k"), col("p"), Fixtures.C1)
    // an UPDATE commit rewrites slices — new slices carry new stats
    w.upsert(df.filter($"k" <= 4).withColumn("v", lit(1000.0)),
      col("k"), col("p"), Fixtures.C2)
    val snap = SnapshotReader.read(spark, dir)
    val total = snap.inputFiles.length

    // rewritten slice's range covers the new value; lookup finds it
    val hot = snap.filter($"v" === 1000.0)
    assert(hot.count() == 4)
    assert(plannedFiles(hot) < total, "post-rewrite stats must skip")

    // In() with all values out of range plans zero files
    assert(plannedFiles(snap.filter($"v".isin(5000.0, 6000.0))) == 0)
    assert(snap.filter($"v".isin(5000.0, 6000.0)).count() == 0)

    // null semantics: isNull keeps files with nulls and finds every row
    assert(snap.filter($"v".isNull).count() ==
      (1L to 40L).count(i => i % 5 == 0 && i > 4))
    // key ranges survive a DELETE commit's rewrite too
    w.delete(df.filter($"k" % 3 === 0), col("k"), col("p"), Fixtures.C3)
    val snap3 = SnapshotReader.read(spark, dir)
    val one = snap3.filter(col(MetaCols.RecordKey) === "1")
    assert(one.count() == 1 && plannedFiles(one) == 1)
  }

  test("column-stats index: MOR slice-level skipping — base and deltas share fate") {
    val dir = freshDir("colstats_mor_slice")
    val mw = new graft.write.MorWriter(spark, dir, numBuckets = 4,
      statsCols = Seq("o_totalprice"))
    mw.insert(orders, col("o_orderkey"), col("o_orderstatus"), Fixtures.C1)
    // outstanding deltas on the %5 keys' groups → snapshot plans the
    // GraftMorRelation, where skipping is per-SLICE, not per-file
    mw.upsert(orders.filter($"o_orderkey" % 5 === 0)
        .withColumn("o_totalprice", $"o_totalprice" + 1),
      col("o_orderkey"), col("o_orderstatus"), Fixtures.C2)

    val df = SnapshotReader.read(spark, dir)
    def rel = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation
    }.collectFirst { case r: graft.read.GraftMorRelation => r }.get

    df.count() // unfiltered planning: every slice's files
    val allFiles = rel.lastPlannedFiles
    assert(allFiles.exists(_.contains(".delta.")), "need outstanding deltas")

    // key point lookup: every other group's base AND deltas exclude the
    // key, so only ONE file group survives planning
    val k = orders.agg(min($"o_orderkey")).as[Long].head()
    val lookup = df.filter(col(MetaCols.RecordKey) === k.toString)
    assert(lookup.count() == 1)
    val planned = rel.lastPlannedFiles
    assert(planned.nonEmpty && planned.size < allFiles.size,
      s"slice skipping planned ${planned.size}/${allFiles.size} files")
    val fids = planned.map(_.split('/').last.takeWhile(_ != '_'))
    assert(fids.distinct.size == 1,
      s"lookup must plan one file GROUP, planned $planned")

    // impossible range on the tracked hot column: zero groups, empty result
    val none = df.filter($"o_totalprice" > 1e15)
    assert(none.count() == 0)
    assert(rel.lastPlannedFiles.isEmpty, "impossible range must plan no slice")

    // share-fate conservatism: a delta WIDENS its group's range past the
    // base's — the group must stay planned when only the delta can match
    mw.upsert(orders.filter($"o_orderkey" === k)
        .withColumn("o_totalprice", lit(9e9)),
      col("o_orderkey"), col("o_orderstatus"), Fixtures.C3)
    val df3 = SnapshotReader.read(spark, dir) // fresh relation: new timeline
    val hot = df3.filter($"o_totalprice" === 9e9)
    assert(hot.count() == 1, "delta-side match must not be skipped away")

    // correctness under skipping: a moderate tracked-column filter returns
    // exactly the in-memory oracle's rows
    val expected = orders
      .withColumn("o_totalprice",
        when($"o_orderkey" === k, lit(9e9))
          .when($"o_orderkey" % 5 === 0, $"o_totalprice" + 1)
          .otherwise($"o_totalprice"))
    val cut = orders.agg(avg($"o_totalprice")).head().getDouble(0)
    assert(df3.filter($"o_totalprice" < cut).count() ==
      expected.filter($"o_totalprice" < cut).count())
  }
}

package graft

import graft.pipeline.Dedup
import graft.read.SnapshotReader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupIncrementalSpec extends SparkSpec {
  import spark.implicits._
  import Fixtures.{C1, C2, C3}

  private val lorem = "alpha beta gamma delta epsilon zeta eta theta " +
    "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  test("ingest reaches the batch-mode kept set; history verdicts settle") {
    val dir = freshDir("incdedup_basic")
    // batch 1: two unique docs + an internal near-dup pair (2 ~ 1)
    val b1 = docs(1L -> lorem, 2L -> (lorem + " extra"),
      3L -> "completely different words entirely unrelated content here now")
    // batch 2: 11 duplicates batch-1's doc 1 (cross-batch); 12 unique;
    // 13 duplicates the DROPPED doc 2 — must still be dropped (dedup is
    // against all SEEN docs, not just survivors)
    val b2 = docs(11L -> lorem, 12L -> ("zeta " * 12).trim,
      13L -> (lorem + " extra"))
    Dedup.ingestDedup(spark, dir, b1, col("doc_id"), col("text"),
      ts = Some(C1))
    val snap2 = Dedup.ingestDedup(spark, dir, b2, col("doc_id"), col("text"),
      ts = Some(C2))
    val kept = snap2.filter(col("kept")).select("doc_id").as[Long]
      .collect().toSet
    assert(kept == Set(1L, 3L, 12L))
    // equals ONE batch-mode pass over the union
    val all = b1.unionByName(b2)
    val batchDrops = Dedup.dropIdsFromPairs(Dedup.minhashPairs(all,
      col("doc_id"), col("text"))).as[Long].collect().toSet
    assert(kept == all.select("doc_id").as[Long].collect().toSet -- batchDrops)
    // batch-1 verdicts are untouched by batch 2 (history is settled)
    val snap1 = SnapshotReader.read(spark, dir, asOf = Some(C1))
    assert(snap1.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(snap1.filter(col("kept")).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 3L))
  }

  test("re-ingesting a batch upserts the same keys with the same verdicts") {
    val dir = freshDir("incdedup_reingest")
    val b1 = docs(1L -> lorem, 2L -> (lorem + " extra"))
    Dedup.ingestDedup(spark, dir, b1, col("doc_id"), col("text"),
      ts = Some(C1))
    val snap = Dedup.ingestDedup(spark, dir, b1, col("doc_id"), col("text"),
      ts = Some(C2))
    // same rows, same verdicts, no duplicated keys
    assert(snap.count() == 2)
    assert(snap.filter(col("kept")).select("doc_id").as[Long]
      .collect().toSet == Set(1L))
  }

  test("streaming ingest: foreachBatch + ingestDedup dedups a document " +
    "stream batch by batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = freshDir("incdedup_stream")
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          Dedup.ingestDedup(spark, dir, batch, col("doc_id"), col("text"))
        ()
      }
      .start()
    try {
      mem.addData(1L -> lorem, 2L -> (lorem + " extra"))
      q.processAllAvailable()
      mem.addData(11L -> lorem,
        12L -> "unrelated words forming a genuinely different document body")
      q.processAllAvailable()
    } finally q.stop()
    // within-batch dup 2 and cross-batch dup 11 dropped; two index commits
    val snap = SnapshotReader.read(spark, dir)
    assert(snap.count() == 4)
    assert(snap.filter(col("kept")).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 12L))
    assert(graft.format.Timeline(spark.sessionState.newHadoopConf(), dir)
      .completedInstants().size == 2)
  }

  test("the index is a real graft table: sketch columns round-trip and " +
    "the change feed sees each batch") {
    val dir = freshDir("incdedup_table")
    Dedup.ingestDedup(spark, dir, docs(1L -> lorem), col("doc_id"),
      col("text"), ts = Some(C1))
    Dedup.ingestDedup(spark, dir, docs(2L -> "unrelated text body here"),
      col("doc_id"), col("text"), ts = Some(C3))
    val snap = SnapshotReader.read(spark, dir)
    // sig is the real MinHash signature (32 longs), shingles non-empty
    val r = snap.filter(col("doc_id") === 1L)
      .select(size(col("sig")), size(col("shingles"))).head()
    assert(r.getInt(0) == 32 && r.getInt(1) > 0)
    // incremental read between the two commits sees only batch 2
    val inc = spark.read.format("graft")
      .option("from", C1).load(dir)
    assert(inc.select("doc_id").as[Long].collect().toSet == Set(2L))
  }

  test("substrIngest: arrival order decides which doc gets cleaned; " +
      "later duplicates never retro-edit settled docs") {
    val dir = freshDir("substr_inc")
    val span = (1 to 8).map(i => s"s$i").mkString(" ")
    // batch 1: doc 1 carries the span ONCE — unique so far, kept whole
    val c1 = graft.pipeline.Dedup.substrIngest(spark, dir,
      docs((1L, s"aa bb $span cc")), $"doc_id", $"text", w = 8,
      ts = Some(C1)).orderBy($"doc_id").collect()
    assert(c1(0).getString(1) == s"aa bb $span cc".toLowerCase &&
      c1(0).getInt(3) == 0, "first occurrence is unique at its arrival")
    // batch 2: doc 2 repeats the span — ITS copy is cut (count reaches
    // 2), doc 1's emitted row stays untouched in dir/docs
    val c2 = graft.pipeline.Dedup.substrIngest(spark, dir,
      docs((2L, s"xx $span yy")), $"doc_id", $"text", w = 8)
      .orderBy($"doc_id").collect()
    assert(c2(0).getString(1) == "xx yy" && c2(0).getInt(3) == 8)
    val all = graft.read.SnapshotReader.read(spark, s"$dir/docs")
      .orderBy($"doc_id")
      .select($"doc_id", $"kept_text", $"removed_tokens").collect()
    assert(all(0).getInt(2) == 0 && all(1).getInt(2) == 8)
    // batch 3: a WITHIN-batch repeat is duplicated on arrival
    val c3 = graft.pipeline.Dedup.substrIngest(spark, dir,
      docs((3L, s"qq $span rr"), (4L, s"zz $span ww")),
      $"doc_id", $"text", w = 8).orderBy($"doc_id").collect()
    assert(c3(0).getString(1) == "qq rr" && c3(1).getString(1) == "zz ww")
    // the window index carries the exact corpus-so-far count
    val cnt = graft.read.SnapshotReader.read(spark, s"$dir/windex")
      .filter($"win" === span.toLowerCase).select($"cnt").as[Long].head()
    assert(cnt == 4L)
  }

  test("substrDelete: takedown subtracts exact window counts, zeroed " +
      "rows vanish, unknown ids and drifted text refuse, and a deleted " +
      "id may re-ingest as new (r17)") {
    val dir = freshDir("substr_del")
    val span = (1 to 8).map(i => s"s$i").mkString(" ")
    graft.pipeline.Dedup.substrIngest(spark, dir,
      docs((1L, span)), $"doc_id", $"text", w = 8, ts = Some(C1))
    val c2 = graft.pipeline.Dedup.substrIngest(spark, dir,
      docs((2L, span)), $"doc_id", $"text", w = 8).collect()
    assert(c2(0).getInt(3) == 8, "doc 2 duplicates doc 1 — cut")
    // refusals fire BEFORE any commit: unknown id, drifted text
    // (underflow), drifted unit (persisted contract)
    val e1 = intercept[IllegalArgumentException](
      graft.pipeline.Dedup.substrDelete(spark, dir,
        docs((99L, "whatever text this is")), $"doc_id", $"text", w = 8))
    assert(e1.getMessage.contains("never ingested"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      graft.pipeline.Dedup.substrDelete(spark, dir,
        docs((1L, s"$span $span")), $"doc_id", $"text", w = 8))
    assert(e2.getMessage.contains("underflow"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      graft.pipeline.Dedup.substrDelete(spark, dir,
        docs((1L, span)), $"doc_id", $"text", w = 4))
    assert(e3.getMessage.contains("ingest contract"), e3.getMessage)
    // the real takedown: both copies go, the count row zeroes out and
    // is DELETED, the docs rows vanish — one transaction
    val n = graft.pipeline.Dedup.substrDelete(spark, dir,
      docs((1L, span), (2L, span)), $"doc_id", $"text", w = 8)
    assert(n == 2)
    assert(graft.read.SnapshotReader.read(spark, s"$dir/windex")
      .filter($"win" === span.toLowerCase).isEmpty,
      "a zeroed window row must be deleted, not kept at 0")
    assert(graft.read.SnapshotReader.read(spark, s"$dir/docs").isEmpty)
    // with the contribution really gone, a future arrival of the same
    // span is UNIQUE again (count-consistent: below minDupCount)
    val c3 = graft.pipeline.Dedup.substrIngest(spark, dir,
      docs((3L, span)), $"doc_id", $"text", w = 8).collect()
    assert(c3(0).getInt(3) == 0, "the deleted contribution must not " +
      "suppress a fresh arrival")
    // a deleted id re-ingests as NEW (its docs row is gone) — and now
    // duplicates doc 3, so its copy is cut
    val c4 = graft.pipeline.Dedup.substrIngest(spark, dir,
      docs((1L, span)), $"doc_id", $"text", w = 8).collect()
    assert(c4(0).getInt(3) == 8)
  }

  test("segDelete: counts subtract exactly; the keep-first keeper is " +
      "NOT re-elected (taken-down content stays suppressed); zeroed " +
      "segments re-open (r17)") {
    val dir = freshDir("seg_del")
    // width-3 segments: doc 1 = [abc][pqr], doc 2 = [abc][stu]
    graft.pipeline.Dedup.segIngest(spark, dir,
      docs((1L, "a b c p q r")), $"doc_id", $"text", width = 3,
      ts = Some(C1))
    val c2 = graft.pipeline.Dedup.segIngest(spark, dir,
      docs((2L, "a b c s t u")), $"doc_id", $"text", width = 3)
      .collect()
    assert(c2(0).getString(1) == "s t u",
      "doc 2's duplicated segment is dropped (doc 1 is the keeper)")
    // unit drift refuses via the persisted contract
    val e = intercept[IllegalArgumentException](
      graft.pipeline.Dedup.segDelete(spark, dir,
        docs((1L, "a b c p q r")), $"doc_id", $"text", width = 4))
    assert(e.getMessage.contains("ingest contract"), e.getMessage)
    // take down the KEEPER doc 1: 'a b c' decrements to 1 (row stays,
    // fdoc frozen), 'p q r' zeroes out (row deleted)
    assert(graft.pipeline.Dedup.segDelete(spark, dir,
      docs((1L, "a b c p q r")), $"doc_id", $"text", width = 3) == 1)
    val idx = graft.read.SnapshotReader.read(spark, s"$dir/segindex")
      .select($"seg", $"cnt", $"fdoc").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(idx("a b c") == ((1L, 1L)),
      "count subtracts; the keeper stays frozen on the deleted doc")
    assert(!idx.contains("p q r"), "zeroed segment row must be deleted")
    assert(graft.read.SnapshotReader.read(spark, s"$dir/docs")
      .select($"doc_id").as[Long].collect().toSeq == Seq(2L))
    // doc 3 repeats 'a b c': count reaches minDup again and the frozen
    // keeper is NOT doc 3 — taken-down content is not resurrected
    val c3 = graft.pipeline.Dedup.segIngest(spark, dir,
      docs((3L, "a b c v w x")), $"doc_id", $"text", width = 3)
      .collect()
    assert(c3(0).getString(1) == "v w x",
      "the keeper slot is not re-elected after a takedown")
    // but the ZEROED segment re-opened: a fresh arrival of 'p q r' is
    // unique again and kept whole
    val c4 = graft.pipeline.Dedup.segIngest(spark, dir,
      docs((4L, "p q r y z w")), $"doc_id", $"text", width = 3)
      .collect()
    assert(c4(0).getString(1) == "p q r y z w")
  }

  test("substrIngest batches are transactional: a fault between the " +
      "windex and docs commits publishes to NEITHER table") {
    import graft.write.MultiTableTxn
    val dir = freshDir("substr_inc_txn")
    graft.pipeline.Dedup.substrIngest(spark, dir,
      docs((1L, "one two three four five six seven eight nine")),
      $"doc_id", $"text", w = 8, ts = Some(C1))
    def counts: (Int, Int) = {
      def n(p: String) = graft.format.Timeline(
        spark.sessionState.newHadoopConf(), p).completedInstants().size
      (n(s"$dir/windex"), n(s"$dir/docs"))
    }
    assert(counts == ((1, 1)))
    // stage a second batch but fault the publish: nothing may land
    val upd = Seq(("w x y z a b c d", 1L, "w x y z a b c d", "all"))
      .toDF("win", "cnt", "k", "p")
    val drows = Seq((2L, "w x y z a b c d", 8, 0, "2", "all"))
      .toDF("doc_id", "kept_text", "n_tokens", "removed_tokens", "k", "p")
    intercept[RuntimeException](MultiTableTxn.commitHook(spark, Seq(
        MultiTableTxn.TableWrite(s"$dir/windex", updates = Some(upd)),
        MultiTableTxn.TableWrite(s"$dir/docs", updates = Some(drows))),
      beforePublish = () => throw new RuntimeException("crash")))
    assert(counts == ((1, 1)), "a faulted batch must publish nothing")
    // a clean retry through the real API lands on both
    graft.pipeline.Dedup.substrIngest(spark, dir,
      docs((2L, "ten eleven twelve thirteen fourteen fifteen sixteen " +
        "seventeen eighteen")), $"doc_id", $"text", w = 8)
    assert(counts == ((2, 2)))
  }

  /** Two count indexes (window and segment) bootstrapped on doc 1, and
    * the non-bootstrap batch of each verb that runs the index join:
    * both ingests of doc 2, then both takedowns of it. */
  private def countIndexVerbs(name: String): Seq[(String, () => Any)] = {
    val sub = freshDir(s"${name}_substr")
    val seg = freshDir(s"${name}_seg")
    val d1 = docs((1L, "one two three four five six seven eight nine"))
    val d2 = docs((2L, "ten eleven twelve thirteen fourteen fifteen " +
      "sixteen seventeen eighteen"))
    graft.pipeline.Dedup.substrIngest(spark, sub, d1, $"doc_id", $"text",
      w = 8, ts = Some(C1))
    graft.pipeline.Dedup.segIngest(spark, seg, d1, $"doc_id", $"text",
      width = 3, ts = Some(C1))
    Seq(
      "substrIngest" -> (() => graft.pipeline.Dedup.substrIngest(spark, sub,
        d2, $"doc_id", $"text", w = 8).collect()),
      "segIngest" -> (() => graft.pipeline.Dedup.segIngest(spark, seg, d2,
        $"doc_id", $"text", width = 3).collect()),
      "substrDelete" -> (() => graft.pipeline.Dedup.substrDelete(spark, sub,
        d2, $"doc_id", $"text", w = 8)),
      "segDelete" -> (() => graft.pipeline.Dedup.segDelete(spark, seg, d2,
        $"doc_id", $"text", width = 3)))
  }

  test("substrIngest's SPJ conf flips are invisible to the caller's " +
      "session, even DURING the ingest (isolated-session window)") {
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.shuffle.enabled")
    // pin the outer session's values to 'false' — a leak would be seen
    // either as a transient 'true' by the poller below or as a flipped
    // final value (the interleaved-restore bug class)
    keys.foreach(k => spark.conf.set(k, "false"))
    try {
      // every verb's non-bootstrap batch runs the index join under the
      // flipped confs (an eager checkpoint, a real execution window)
      countIndexVerbs("count_conf").foreach { case (verb, run) =>
        @volatile var leaked: Option[String] = None
        @volatile var stop = false
        val poller = new Thread(() => {
          while (!stop) {
            keys.foreach { k =>
              if (spark.conf.get(k) == "true") leaked = Some(k)
            }
            Thread.sleep(1)
          }
        })
        poller.setDaemon(true)
        poller.start()
        try run()
        finally { stop = true; poller.join(1000) }
        assert(leaked.isEmpty, s"$verb: conf ${leaked.getOrElse("")} " +
          "leaked to the outer session")
        assert(keys.forall(spark.conf.get(_) == "false"),
          s"$verb: outer-session conf values changed")
      }
    } finally keys.foreach(spark.conf.unset)
  }

  /** The plan lines from `node` up to the root of a formatted final plan
    * tree: each line's parent is the nearest line above it whose node
    * starts further left. */
  private def ancestry(tree: Seq[String], node: Int): Seq[String] = {
    def indent(l: String): Int = l.indexWhere(c => !" :+-".contains(c))
    tree.take(node).reverse.foldLeft(Seq(tree(node))) { (up, l) =>
      if (indent(l) < indent(up.last)) up :+ l else up
    }
  }

  test("the count-index join shuffles only the batch side: no Exchange " +
      "between the index scan and the join in a non-bootstrap batch of " +
      "substrIngest, segIngest, substrDelete and segDelete") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    import org.apache.spark.sql.graft.{Bridge, NewSessionConf}
    // small test indexes would be broadcast to the join; the isolated
    // join session starts from the context conf, so switch broadcasts off
    // there to see the partitioned join the sizes of production take
    NewSessionConf.withValue(spark, "spark.sql.autoBroadcastJoinThreshold",
        "-1") {
      countIndexVerbs("count_plan").foreach { case (verb, run) =>
        val sc = spark.sparkContext
        Bridge.waitForListeners(sc)
        // each execution's latest plan: the start event's, replaced by
        // every adaptive update (the last one is the final plan)
        val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]
        val l = new SparkListener {
          override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
            case s: SparkListenerSQLExecutionStart =>
              plans.put(s.executionId, s.physicalPlanDescription)
            case u: SparkListenerSQLAdaptiveExecutionUpdate =>
              plans.put(u.executionId, u.physicalPlanDescription)
            case _ =>
          }
        }
        sc.addSparkListener(l)
        try { run(); Bridge.waitForListeners(sc) }
        finally sc.removeSparkListener(l)
        import scala.jdk.CollectionConverters._
        val index = if (verb.startsWith("seg")) "segindex" else "windex"
        val joins = plans.values.asScala.toSeq.map(p =>
            p.split("\n").toSeq
              .dropWhile(!_.contains("== Final Plan =="))
              .takeWhile(!_.contains("== Initial Plan ==")))
          .filter(_.exists(_.contains(s"BatchScan $index")))
        assert(joins.size == 1, s"$verb: one index join execution, got " +
          joins.map(_.mkString("\n")).mkString("\n\n"))
        val tree = joins.head
        val up = ancestry(tree, tree.indexWhere(_.contains("BatchScan")))
        val below = up.takeWhile(!_.contains("Join"))
        assert(up.exists(_.contains("SortMergeJoin")),
          s"$verb: the index scan feeds no partitioned join:\n" +
            tree.mkString("\n"))
        assert(!below.exists(n => n.contains("Exchange") ||
            n.contains("QueryStage") || n.contains("AQEShuffleRead")),
          s"$verb: the index side is exchanged:\n" + tree.mkString("\n"))
        assert(tree.exists(_.contains("Exchange")),
          s"$verb: the batch side never shuffles into the index layout:\n" +
            tree.mkString("\n"))
      }
    }
  }

  test("segIngest: arrival-first survives, later duplicates drop their " +
      "own copies only; the index carries exact cumulative counts") {
    val dir = freshDir("seg_inc")
    val span = "w1 w2 w3 w4 w5"
    // batch 1: doc 1 carries the segment once (aligned at pos 0) —
    // unique so far, kept whole; tail always kept
    val c1 = Dedup.segIngest(spark, dir,
      docs((1L, s"$span t1 t2")), $"doc_id", $"text", width = 5,
      ts = Some(C1)).orderBy($"doc_id").collect()
    assert(c1(0).getString(1) == s"$span t1 t2")
    assert(c1(0).getLong(3) == 0L)
    // batch 2: doc 2 repeats the segment — cumulative count reaches 2,
    // doc 2's copy drops (doc 1 stays the arrival-first), doc 1's
    // settled row is untouched
    val c2 = Dedup.segIngest(spark, dir,
      docs((2L, s"$span x1 x2 x3 x4 x5")), $"doc_id", $"text", width = 5)
      .orderBy($"doc_id").collect()
    assert(c2(0).getString(1) == "x1 x2 x3 x4 x5")
    assert(c2(0).getLong(3) == 1L)
    val settled = SnapshotReader.read(spark, s"$dir/docs")
      .orderBy($"doc_id").select($"text_dedup", $"segs_removed").collect()
    assert(settled(0).getString(0) == s"$span t1 t2" &&
      settled(0).getLong(1) == 0L, "settled doc retro-edited")
    // batch 3: within-batch repeat — the batch's own min (doc_id, pos)
    // would win ONLY for a brand-new segment; this one is historical,
    // so both copies drop
    val c3 = Dedup.segIngest(spark, dir,
      docs((3L, s"$span a1 a2 a3 a4 a5"), (4L, span)),
      $"doc_id", $"text", width = 5).orderBy($"doc_id").collect()
    assert(c3(0).getString(1) == "a1 a2 a3 a4 a5")
    assert(c3(1).getString(1) == "")
    // exact cumulative count + the arrival-first pin
    val idx = SnapshotReader.read(spark, s"$dir/segindex")
      .filter($"seg" === span)
      .select($"cnt", $"fdoc", $"fpos").head()
    assert(idx.getLong(0) == 4L)
    assert(idx.getLong(1) == 1L && idx.getInt(2) == 0)
  }

  test("segIngest delim mode: the index keys are exact lines; a later " +
      "batch drops its copy of a historical line") {
    val dir = freshDir("seg_inc_lines")
    Dedup.segIngest(spark, dir, docs((1L, "Shared Line\nkeep me")),
      $"doc_id", $"text", delim = Some("\n"), ts = Some(C1)): Unit
    val c = Dedup.segIngest(spark, dir,
      docs((2L, "fresh\nShared Line")), $"doc_id", $"text",
      delim = Some("\n")).orderBy($"doc_id").collect()
    assert(c(0).getString(1) == "fresh")
    assert(c(0).getLong(2) == 2L && c(0).getLong(3) == 1L)
    // exact-cased line string is the record key
    val idx = SnapshotReader.read(spark, s"$dir/segindex")
      .filter($"seg" === "Shared Line").select($"cnt", $"fdoc").head()
    assert(idx.getLong(0) == 2L && idx.getLong(1) == 1L)
  }

  test("segIngest and substrIngest refuse a re-ingested doc id (the " +
      "count index would double-count it)") {
    val dir = freshDir("seg_inc_guard")
    Dedup.segIngest(spark, dir, docs((1L, "g1 g2 g3 g4 g5")),
      $"doc_id", $"text", width = 5, ts = Some(C1)): Unit
    val e = intercept[IllegalArgumentException](
      Dedup.segIngest(spark, dir, docs((1L, "g1 g2 g3 g4 g5")),
        $"doc_id", $"text", width = 5))
    assert(e.getMessage.contains("already ingested"))
    // fresh ids still flow, and assertNewDocs = false restores the old
    // unchecked behavior for upstream-enforced pipelines
    Dedup.segIngest(spark, dir, docs((2L, "h1 h2 h3 h4 h5")),
      $"doc_id", $"text", width = 5): Unit
    Dedup.segIngest(spark, dir, docs((1L, "g1 g2 g3 g4 g5")),
      $"doc_id", $"text", width = 5, assertNewDocs = false): Unit
    val sdir = freshDir("sub_inc_guard")
    Dedup.substrIngest(spark, sdir, docs((1L, "s1 s2 s3 s4 s5 s6 s7 s8")),
      $"doc_id", $"text", w = 8, ts = Some(C1)): Unit
    val e2 = intercept[IllegalArgumentException](
      Dedup.substrIngest(spark, sdir,
        docs((1L, "s1 s2 s3 s4 s5 s6 s7 s8")), $"doc_id", $"text", w = 8))
    assert(e2.getMessage.contains("already ingested"))
  }

  test("the ingest contract is recorded at bootstrap and a drifting " +
      "unit parameter refuses loudly (r16)") {
    // seg: width drift, delim drift, minDupCount drift — each refuses
    // naming both values; a matching batch continues to flow
    val dir = freshDir("seg_inc_contract")
    Dedup.segIngest(spark, dir, docs((1L, "c1 c2 c3 c4 c5")),
      $"doc_id", $"text", width = 5, ts = Some(C1)): Unit
    val eW = intercept[IllegalArgumentException](
      Dedup.segIngest(spark, dir, docs((2L, "c6 c7 c8")),
        $"doc_id", $"text", width = 3))
    assert(eW.getMessage.contains("token:3") &&
      eW.getMessage.contains("token:5"), eW.getMessage)
    val eD = intercept[IllegalArgumentException](
      Dedup.segIngest(spark, dir, docs((2L, "c6\nc7")),
        $"doc_id", $"text", delim = Some("\n")))
    assert(eD.getMessage.contains("delim:") &&
      eD.getMessage.contains("token:5"), eD.getMessage)
    val eM = intercept[IllegalArgumentException](
      Dedup.segIngest(spark, dir, docs((2L, "c6 c7 c8 c9 c10")),
        $"doc_id", $"text", width = 5, minDupCount = 3))
    assert(eM.getMessage.contains("minDupCount"), eM.getMessage)
    // matching parameters continue the flow after the refusals
    Dedup.segIngest(spark, dir, docs((2L, "d1 d2 d3 d4 d5")),
      $"doc_id", $"text", width = 5): Unit
    // substr: window-width drift refuses, matching batch flows
    val sdir = freshDir("sub_inc_contract")
    Dedup.substrIngest(spark, sdir, docs((1L, "w1 w2 w3 w4 w5 w6 w7 w8")),
      $"doc_id", $"text", w = 8, ts = Some(C1)): Unit
    val eS = intercept[IllegalArgumentException](
      Dedup.substrIngest(spark, sdir, docs((2L, "w9 w10 w11 w12")),
        $"doc_id", $"text", w = 4))
    assert(eS.getMessage.contains("window:4") &&
      eS.getMessage.contains("window:8"), eS.getMessage)
    Dedup.substrIngest(spark, sdir,
      docs((2L, "x1 x2 x3 x4 x5 x6 x7 x8")), $"doc_id", $"text",
      w = 8): Unit
  }

  test("substrIngestBatch: the streaming replay gate skips a fully " +
      "landed micro-batch, refuses a partial overlap, ingests fresh " +
      "ids (r16)") {
    val dir = freshDir("sub_inc_stream")
    val t1 = "r1 r2 r3 r4 r5 r6 r7 r8"
    // bootstrap micro-batch
    assert(Dedup.substrIngestBatch(spark, dir, docs((1L, t1)),
      $"doc_id", $"text", w = 8).nonEmpty)
    // second micro-batch lands
    assert(Dedup.substrIngestBatch(spark, dir, docs((2L, t1)),
      $"doc_id", $"text", w = 8).nonEmpty)
    // engine replay of the landed batch: skip, no double count
    assert(Dedup.substrIngestBatch(spark, dir, docs((2L, t1)),
      $"doc_id", $"text", w = 8).isEmpty)
    val cnt = SnapshotReader.read(spark, s"$dir/windex")
      .filter($"win" === t1).select($"cnt").as[Long].head()
    assert(cnt == 2L, s"replay must not double-count (cnt=$cnt)")
    // empty micro-batch: skip
    assert(Dedup.substrIngestBatch(spark, dir,
      docs((9L, t1)).filter($"doc_id" < 0), $"doc_id", $"text",
      w = 8).isEmpty)
    // partial overlap = two writers or id re-use: refuse
    val e = intercept[IllegalArgumentException](
      Dedup.substrIngestBatch(spark, dir, docs((2L, t1), (3L, t1)),
        $"doc_id", $"text", w = 8))
    assert(e.getMessage.contains("not all"), e.getMessage)
  }

  test("segIngest: a brand-new segment duplicated WITHIN one batch keeps " +
      "the batch's min (doc_id, pos) occurrence") {
    val dir = freshDir("seg_inc_batchfirst")
    Dedup.segIngest(spark, dir, docs((1L, "u1 u2 u3 u4 u5")),
      $"doc_id", $"text", width = 5, ts = Some(C1)): Unit
    val span = "n1 n2 n3 n4 n5"
    val c = Dedup.segIngest(spark, dir,
      docs((5L, span), (6L, span)), $"doc_id", $"text", width = 5)
      .orderBy($"doc_id").collect()
    assert(c(0).getString(1) == span, "batch-min occurrence kept")
    assert(c(1).getString(1) == "", "the other within-batch copy drops")
  }
}

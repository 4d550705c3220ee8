package graft

import graft.deleteview.DeleteView
import graft.functions.ArrayNumeric
import graft.write.CowWriter
import org.apache.spark.sql.functions._

/** SQL-text surface: registered native functions + temp-view registration,
  * and a randomized end-to-end delete-view property check. */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("long_array_dot callable from SQL after registry registration") {
    ArrayNumeric.register(spark)
    val d = spark.sql(
      "SELECT long_array_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .as[Long].head()
    assert(d == 4 + 10 + 18)
    // null propagation
    assert(spark.sql("SELECT long_array_dot(NULL, array(1L)) AS d")
      .head().isNullAt(0))
  }

  test("GraftExtensions injects the same function via the extension hook") {
    // apply the extension function to a fresh builder-independent session is
    // heavyweight; assert the injection itself is well-formed instead.
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw
  }

  test("full native-function registry: scalar kernels and sketch aggregates from SQL") {
    GraftExtensions.registerAll(spark)
    // scalar: shingle hasher == the Column API result
    val sql = spark.sql(
      "SELECT distinct_shingle_hashes(array('a','b','c'), 2) AS h")
      .head().getSeq[Long](0)
    val api = Seq(("a b c")).toDF("t")
      .select(graft.pipeline.Dedup.shingleSet(col("t"), 2).as("h"))
      .head().getSeq[Long](0)
    assert(sql == api)
    // scalar: winnowing — short input empty, long input non-empty
    assert(spark.sql("SELECT winnow_hashes('abc', 5, 8) AS w")
      .head().getSeq[Long](0).isEmpty)
    assert(spark.sql(
      "SELECT winnow_hashes('abcdefghijklmnopqrstuvwxyz', 5, 8) AS w")
      .head().getSeq[Long](0).nonEmpty)
    // aggregates: minhash signature and simhash word via GROUP BY
    val sig = spark.sql(
      "SELECT minhash_sig(x, 4) AS s FROM VALUES (1L), (2L), (3L) AS t(x)")
      .head().getSeq[Long](0)
    assert(sig.length == 4)
    val sim = spark.sql(
      "SELECT simhash_bits(x, 8) AS s FROM VALUES (255L), (255L) AS t(x)")
      .head().getLong(0)
    assert(sim == 255L, "all-ones votes must set all 8 bits")
    // scalar: nearest centroids — centroid 1 = (1,0) matches the vector,
    // ascending-id tiebreak on the two equidistant remainder
    val nc = spark.sql(
      "SELECT nearest_centroids(array(cast(1.0 AS float), cast(0.0 AS float)), " +
        "array(array(0.0D, 1.0D), array(1.0D, 0.0D), array(0.0D, 1.0D)), 2) AS c")
      .head().getSeq[Int](0)
    assert(nc == Seq(1, 0), s"expected Seq(1, 0), got $nc")
    // aggregate: component-wise vector mean over two 2-d float vectors
    val vm = spark.sql(
      "SELECT vector_mean(v, 2) AS m FROM VALUES " +
        "(array(cast(1.0 AS float), cast(3.0 AS float))), " +
        "(array(cast(3.0 AS float), cast(5.0 AS float))) AS t(v)")
      .head().getSeq[Double](0)
    assert(vm == Seq(2.0, 4.0), s"expected Seq(2.0, 4.0), got $vm")
    // scalar: sorted-merge intersection count
    assert(spark.sql("SELECT sorted_intersect_count(array(1L, 3L, 5L), " +
      "array(3L, 4L, 5L)) AS n").as[Long].head() == 2L)
    // the bitmap family end-to-end in one SQL statement: build per group,
    // merge across groups, count and probe the result
    val bmRow = spark.sql(
      "SELECT bitmap_cardinality(bitmap_merge(bm)) AS n, " +
        "bitmap_contains(bitmap_union(first(bm), last(bm)), 30L) AS has30 " +
        "FROM (SELECT g, bitmap_build(x) AS bm FROM VALUES " +
        "(1, 10L), (1, 20L), (2, 20L), (2, 30L) AS t(g, x) GROUP BY g)")
      .head()
    assert(bmRow.getLong(0) == 3L, "distinct {10, 20, 30}")
    assert(bmRow.getBoolean(1))
  }

  test("delete view registers as a SQL temp view with pushdown-able scan") {
    val dir = Fixtures.cowDir(spark, sf0001)
    DeleteView(spark, dir, Fixtures.C2).register("dv_c2")
    val n = spark.sql("SELECT count(*) FROM dv_c2").as[Long].head()
    val direct = DeleteView(spark, dir, Fixtures.C2).toDF().count()
    assert(n == direct && n > 0)
    // SQL filter over the view: every deleted key is ≡ 0 (mod 7)
    assert(spark.sql(
      "SELECT count(*) FROM dv_c2 WHERE o_orderkey % 7 <> 0")
      .as[Long].head() == 0)
  }

  test("SQL DDL: CREATE TABLE ... USING graft serves the snapshot through the catalog") {
    val dir = Fixtures.cowDir(spark, sf0001)
    spark.sql("DROP TABLE IF EXISTS g_orders")
    // schema comes from the relation (commit metadata) — none declared here
    spark.sql(s"CREATE TABLE g_orders USING graft OPTIONS (path '$dir')")
    try {
      val viaSql = spark.sql(
        "SELECT o_orderkey, o_totalprice FROM g_orders")
      val viaApi = graft.read.SnapshotReader.read(spark, dir)
        .select("o_orderkey", "o_totalprice")
      assert(viaSql.exceptAll(viaApi).isEmpty &&
        viaApi.exceptAll(viaSql).isEmpty)
      // catalog reads keep listing-time partition pruning: the predicate
      // must reach the FileIndex as a partitionFilter
      val filtered = spark.sql("SELECT o_orderkey FROM g_orders " +
        s"WHERE ${graft.format.MetaCols.PartitionPath} = 'F'")
      val scans = filtered.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty && scans.head.partitionFilters.nonEmpty,
        "catalog-table read lost partition pruning")
      assert(filtered.count() == graft.read.SnapshotReader
        .read(spark, dir, partitions = Seq("F")).count())
      // INSERT INTO routes through GraftInsertCommand (r7): the column
      // list is validated against the table's PAYLOAD columns — selecting
      // the full 11-column snapshot (meta included) is an arity error, not
      // a raw file write. (Sessions WITHOUT the extension still hit the
      // read-only-format refusal at prepareWrite.)
      val ins = intercept[Exception] {
        spark.sql("INSERT INTO g_orders SELECT * FROM g_orders LIMIT 1")
      }
      def rootCauses(t: Throwable): Seq[Throwable] =
        t +: Option(t.getCause).toSeq.flatMap(rootCauses)
      assert(rootCauses(ins).exists(
        _.getMessage.contains("payload columns")),
        s"expected the payload-arity validation, got $ins")
      // MOR with outstanding deltas through the catalog (merged relation)
      val morDir = freshDir("sql_ddl_mor")
      val mw = new graft.write.MorWriter(spark, morDir, numBuckets = 2)
      val orders = spark.read.parquet(s"$sf0001/orders.parquet").limit(200)
      mw.insert(orders, col("o_orderkey"), col("o_orderstatus"), Fixtures.C1)
      mw.upsert(orders.limit(20), col("o_orderkey"), col("o_orderstatus"),
        Fixtures.C2)
      spark.sql("DROP TABLE IF EXISTS g_orders_mor")
      spark.sql(
        s"CREATE TABLE g_orders_mor USING graft OPTIONS (path '$morDir')")
      try assert(spark.sql("SELECT count(*) FROM g_orders_mor")
        .as[Long].head() == orders.count())
      finally spark.sql("DROP TABLE g_orders_mor")
    } finally spark.sql("DROP TABLE g_orders")
  }

  test("SQL ALTER TABLE ADD COLUMNS: schema evolution as a commit — " +
    "old files null-pad, DML writes the new column, time travel pre-ALTER") {
    val dir = freshDir("sql_alter_cow")
    val orders = spark.read.parquet(s"$sf0001/orders.parquet").limit(100)
    orders.write.format("graft")
      .option("key", "o_orderkey").option("partition", "o_orderstatus")
      .option("buckets", "2").option("ts", Fixtures.C1).save(dir)
    spark.sql("DROP TABLE IF EXISTS g_alter")
    spark.sql(s"CREATE TABLE g_alter USING graft OPTIONS (path '$dir')")
    try {
      spark.sql("ALTER TABLE g_alter ADD COLUMNS (score BIGINT, tag STRING)")
      // catalog resolution serves the widened schema; existing rows null
      val widened = spark.sql("SELECT o_orderkey, score, tag FROM g_alter")
      assert(widened.schema("score").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(widened.filter(col("score").isNotNull ||
        col("tag").isNotNull).count() == 0)
      // the evolution is a COMMIT: one new instant, zero data files
      val tl = graft.format.Timeline(
        spark.sessionState.newHadoopConf(), dir)
      val instants = tl.completedInstants()
      assert(instants.size == 2 &&
        tl.metadata(instants.last.ts).allStats.isEmpty)
      // DML can write the new column
      spark.sql("UPDATE g_alter SET score = o_orderkey % 100, tag = 'hot' " +
        "WHERE o_orderkey % 10 = 3")
      val scored = spark.sql(
        "SELECT o_orderkey, score FROM g_alter WHERE tag = 'hot'")
      assert(scored.count() > 0 &&
        scored.filter(col("score") =!= col("o_orderkey") % 100).count() == 0)
      // rows the UPDATE did not touch stay null in the same snapshot
      assert(spark.sql("SELECT count(*) FROM g_alter " +
        "WHERE tag IS NULL AND o_orderkey % 10 <> 3").as[Long].head() > 0)
      // time travel BEFORE the alter serves the old schema
      val pre = graft.read.SnapshotReader.read(spark, dir, Some(Fixtures.C1))
      assert(!pre.schema.fieldNames.contains("score"))
      // invalid adds fail loudly without committing
      val dup = intercept[Exception] {
        spark.sql("ALTER TABLE g_alter ADD COLUMNS (score BIGINT)") }
      assert(dup.getMessage.contains("already exists"))
      val meta = intercept[Exception] {
        spark.sql("ALTER TABLE g_alter ADD COLUMNS " +
          s"(${graft.format.MetaCols.RecordKey} STRING)") }
      assert(meta.getMessage.contains("reserved"))
      tl.refresh()
      assert(tl.completedInstants().size == 3) // create + alter + update
    } finally spark.sql("DROP TABLE g_alter")
  }

  test("SQL ALTER TABLE DROP COLUMNS: schema narrows as a commit; " +
    "identity columns protected; re-add refused (resurrection guard)") {
    val dir = freshDir("sql_drop_cow")
    val orders = spark.read.parquet(s"$sf0001/orders.parquet").limit(100)
    orders.write.format("graft")
      .option("key", "o_orderkey").option("partition", "o_orderstatus")
      .option("buckets", "2").option("ts", Fixtures.C1).save(dir)
    spark.sql("DROP TABLE IF EXISTS g_drop")
    spark.sql(s"CREATE TABLE g_drop USING graft OPTIONS (path '$dir')")
    try {
      spark.sql("ALTER TABLE g_drop DROP COLUMNS (o_orderpriority)")
      // gone from catalog resolution and from the relation schema
      val snap = spark.sql("SELECT * FROM g_drop")
      assert(!snap.schema.fieldNames.contains("o_orderpriority"))
      assert(snap.count() == 100)
      // zero data IO: one new empty instant
      val tl = graft.format.Timeline(spark.sessionState.newHadoopConf(), dir)
      val instants = tl.completedInstants()
      assert(instants.size == 2 &&
        tl.metadata(instants.last.ts).allStats.isEmpty)
      // time travel BEFORE the drop still serves the column
      assert(graft.read.SnapshotReader.read(spark, dir, Some(Fixtures.C1))
        .schema.fieldNames.contains("o_orderpriority"))
      // identity/meta columns refuse to drop
      val key = intercept[Exception] {
        spark.sql("ALTER TABLE g_drop DROP COLUMNS (o_orderkey)") }
      assert(key.getMessage.contains("record-key"))
      val part = intercept[Exception] {
        spark.sql("ALTER TABLE g_drop DROP COLUMNS (o_orderstatus)") }
      assert(part.getMessage.contains("partition"))
      // missing column: plain form errors, IF EXISTS is a silent no-op
      val missing = intercept[Exception] {
        spark.sql("ALTER TABLE g_drop DROP COLUMNS (nope)") }
      assert(missing.getMessage.contains("no such column"))
      spark.sql("ALTER TABLE g_drop DROP COLUMNS IF EXISTS (nope)")
      tl.refresh()
      assert(tl.completedInstants().size == 2) // no-op minted no commit
      // resurrection guard: re-adding the dropped name is refused
      val readd = intercept[Exception] {
        spark.sql("ALTER TABLE g_drop ADD COLUMNS (o_orderpriority STRING)") }
      assert(readd.getMessage.contains("previously dropped"))
      // ... and the guard resolves names like the analyzer does (default
      // case-insensitive): a case-twiddled re-add is refused too
      val readdCase = intercept[Exception] {
        spark.sql("ALTER TABLE g_drop ADD COLUMNS (O_OrderPriority STRING)") }
      assert(readdCase.getMessage.contains("previously dropped"))
      // a FRESH name still adds fine after the drop
      spark.sql("ALTER TABLE g_drop ADD COLUMNS (note STRING)")
      assert(spark.sql("SELECT note FROM g_drop").count() == 100)
      // an OVERWRITE supersedes every slice — no old file can resurrect
      // values, so the dropped name becomes free again
      spark.sql("INSERT OVERWRITE g_drop SELECT o_orderkey, o_custkey, " +
        "o_orderstatus, o_totalprice, o_orderdate, note FROM g_drop")
      spark.sql("ALTER TABLE g_drop ADD COLUMNS (o_orderpriority STRING)")
      assert(spark.sql("SELECT o_orderpriority FROM g_drop")
        .filter(col("o_orderpriority").isNotNull).count() == 0)
    } finally spark.sql("DROP TABLE g_drop")
  }

  test("SQL ALTER TABLE DROP COLUMNS on MOR with outstanding deltas") {
    val dir = freshDir("sql_drop_mor")
    val orders = spark.read.parquet(s"$sf0001/orders.parquet").limit(100)
    val mw = new graft.write.MorWriter(spark, dir, numBuckets = 2)
    mw.insert(orders, col("o_orderkey"), col("o_orderstatus"), Fixtures.C1)
    mw.upsert(orders.limit(20).withColumn("o_totalprice", lit(1.0)),
      col("o_orderkey"), col("o_orderstatus"), Fixtures.C2)
    spark.sql("DROP TABLE IF EXISTS g_drop_mor")
    spark.sql(s"CREATE TABLE g_drop_mor USING graft OPTIONS (path '$dir')")
    try {
      spark.sql("ALTER TABLE g_drop_mor DROP COLUMNS (o_orderpriority)")
      val df = spark.sql("SELECT * FROM g_drop_mor")
      assert(!df.schema.fieldNames.contains("o_orderpriority"))
      assert(df.count() == 100)
      // the delta rows still win the merge after the narrow
      assert(df.filter(col("o_totalprice") === 1.0).count() == 20)
    } finally spark.sql("DROP TABLE g_drop_mor")
  }

  test("SQL ALTER TABLE ADD COLUMNS on MOR: merged snapshot pads deltas") {
    val dir = freshDir("sql_alter_mor")
    val orders = spark.read.parquet(s"$sf0001/orders.parquet").limit(100)
    val mw = new graft.write.MorWriter(spark, dir, numBuckets = 2)
    mw.insert(orders, col("o_orderkey"), col("o_orderstatus"), Fixtures.C1)
    mw.upsert(orders.limit(20).withColumn("o_totalprice", lit(1.0)),
      col("o_orderkey"), col("o_orderstatus"), Fixtures.C2)
    spark.sql("DROP TABLE IF EXISTS g_alter_mor")
    spark.sql(s"CREATE TABLE g_alter_mor USING graft OPTIONS (path '$dir')")
    try {
      spark.sql("ALTER TABLE g_alter_mor ADD COLUMNS (score BIGINT)")
      // outstanding deltas: the MERGED relation serves the widened schema
      val df = spark.sql("SELECT o_orderkey, o_totalprice, score " +
        "FROM g_alter_mor")
      assert(df.count() == orders.count())
      assert(df.filter(col("score").isNotNull).count() == 0)
      // the delta rows still win the merge (score padded, payload merged)
      assert(df.filter(col("o_totalprice") === 1.0).count() == 20)
    } finally spark.sql("DROP TABLE g_alter_mor")
  }

  test("SQL CTAS: CREATE TABLE ... USING graft AS SELECT creates a real versioned table") {
    val dir = freshDir("sql_ctas")
    val orders = spark.read.parquet(s"$sf0001/orders.parquet").limit(200)
    orders.createOrReplaceTempView("ctas_src")
    spark.sql("DROP TABLE IF EXISTS g_ctas")
    spark.sql(
      s"""CREATE TABLE g_ctas USING graft
         |OPTIONS (path '$dir', key 'o_orderkey', partition 'o_orderstatus',
         |         ts '${Fixtures.C1}')
         |AS SELECT * FROM ctas_src""".stripMargin)
    try {
      // the catalog table serves the snapshot...
      assert(spark.sql("SELECT count(*) FROM g_ctas").as[Long].head() ==
        orders.count())
      // ...and a REAL versioned table exists underneath: commit on the
      // timeline, readable through every other surface
      val tl = graft.format.Timeline(
        spark.sessionState.newHadoopConf(), dir)
      assert(tl.completedInstants().map(_.ts) == Seq(Fixtures.C1))
      assert(graft.read.SnapshotReader.read(spark, dir).count() ==
        orders.count())
    } finally spark.sql("DROP TABLE g_ctas")
  }

  // ---- SQL DML (r7): DELETE FROM / UPDATE / MERGE INTO / INSERT ----

  private def dmlTable(name: String, morType: Boolean = false)
      : (String, String) = {
    val dir = freshDir(s"sqldml_$name")
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val w = orders.write.format("graft")
      .option("key", "o_orderkey").option("partition", "o_orderstatus")
      .option("buckets", "4").option("ts", Fixtures.C1)
    (if (morType) w.option("type", "mor") else w).save(dir)
    val tbl = s"g_dml_$name"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$dir')")
    (tbl, dir)
  }

  test("SQL DML refuses catalog OPTIONS contradicting the recorded contract") {
    // the same declaration a df.write append refuses: re-bucketing (or a
    // MOR delta into a COW table) would strand old row versions — at
    // buckets 2 over a 4-bucket table the UPDATE duplicated keys
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val rows = orders.count()
    for ((opt, v) <- Seq("buckets" -> "2", "type" -> "mor")) {
      val dir = freshDir(s"sqldml_contradict_$opt")
      orders.write.format("graft")
        .option("key", "o_orderkey").option("partition", "o_orderstatus")
        .option("buckets", "4").option("ts", Fixtures.C1).save(dir)
      val tbl = s"g_dml_contradict_$opt"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(
        s"CREATE TABLE $tbl USING graft OPTIONS (path '$dir', $opt '$v')")
      try {
        val err = intercept[Exception](spark.sql(s"UPDATE $tbl SET " +
          "o_totalprice = o_totalprice + 1000 WHERE o_orderkey % 10 = 3"))
        def causes(t: Throwable): Seq[Throwable] =
          t +: Option(t.getCause).toSeq.flatMap(causes)
        assert(causes(err).exists(e => Option(e.getMessage)
          .exists(_.contains(s"$opt=$v contradicts"))), s"$opt: $err")
        val snap = graft.read.SnapshotReader.read(spark, dir)
        assert(snap.count() == rows, s"$opt: row count changed")
        assert(snap.select("o_orderkey").distinct().count() == rows,
          s"$opt: key count changed")
        assert(graft.format.Timeline(spark.sessionState.newHadoopConf(), dir)
          .completedInstants().map(_.ts) == Seq(Fixtures.C1))
      } finally spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("SQL DELETE FROM: one delete commit; delete view reconstructs the rows") {
    val (tbl, dir) = dmlTable("del")
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    try {
      spark.sql(s"DELETE FROM $tbl WHERE o_orderkey % 7 = 0")
      // catalog read sees the post-delete snapshot (refresh contract)
      assert(spark.sql(s"SELECT count(*) FROM $tbl").as[Long].head() ==
        orders.filter($"o_orderkey" % 7 =!= 0).count())
      val tl = graft.format.Timeline(
        spark.sessionState.newHadoopConf(), dir)
      assert(tl.completedInstants().size == 2)
      val delTs = tl.completedInstants()(1).ts
      assert(tl.metadata(delTs).totalRecordsDeleted ==
        orders.filter($"o_orderkey" % 7 === 0).count())
      // the reference's core artifact, produced by a SQL statement
      val dv = DeleteView(spark, dir, delTs).toDF()
      assert(dv.count() == orders.filter($"o_orderkey" % 7 === 0).count())
      // empty-match DELETE is a legal no-op (no empty commit)
      spark.sql(s"DELETE FROM $tbl WHERE o_orderkey < 0")
      assert(tl.completedInstants().size == 2 ||
        graft.format.Timeline(spark.sessionState.newHadoopConf(), dir)
          .completedInstants().size == 2)
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("SQL UPDATE: assignments applied, identity immutable, meta assignment refused") {
    val (tbl, dir) = dmlTable("upd")
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    try {
      spark.sql(s"UPDATE $tbl SET o_totalprice = o_totalprice + 100000 " +
        "WHERE o_orderkey % 10 = 3")
      val bumped = spark.sql(s"SELECT count(*) FROM $tbl " +
        "WHERE o_totalprice >= 100000 AND o_orderkey % 10 = 3")
        .as[Long].head()
      assert(bumped == orders.filter($"o_orderkey" % 10 === 3).count())
      // unchanged rows keep their original commit time (COW carry-over)
      val tl = graft.format.Timeline(
        spark.sessionState.newHadoopConf(), dir)
      val snap = graft.read.SnapshotReader.read(spark, dir)
      assert(snap.filter(col(graft.format.MetaCols.CommitTime) ===
        Fixtures.C1 && $"o_orderkey" % 10 =!= 3).count() ==
        orders.filter($"o_orderkey" % 10 =!= 3).count())
      assert(tl.completedInstants().size == 2)
      val err = intercept[Exception] {
        spark.sql(s"UPDATE $tbl SET _hoodie_record_key = 'x'")
      }
      assert(err.getMessage.contains("meta column"))
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("SQL MERGE INTO: matched update + not-matched insert in ONE commit; cardinality guard") {
    val (tbl, dir) = dmlTable("merge")
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    try {
      spark.sql(s"DELETE FROM $tbl WHERE o_orderkey % 7 = 0")
      orders.filter($"o_orderkey" % 11 === 5)
        .createOrReplaceTempView("sqldml_merge_src")
      spark.sql(
        s"""MERGE INTO $tbl t USING sqldml_merge_src s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice * 2
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val tl = graft.format.Timeline(
        spark.sessionState.newHadoopConf(), dir)
      assert(tl.completedInstants().size == 3, "merge must be ONE commit")
      // re-inserted keys (deleted %7 ∩ %11) are back with original payload
      assert(spark.sql(s"SELECT count(*) FROM $tbl " +
        "WHERE o_orderkey % 7 = 0").as[Long].head() ==
        orders.filter($"o_orderkey" % 7 === 0 &&
          $"o_orderkey" % 11 === 5).count())
      // matched keys carry the doubled source price
      val t2 = spark.sql(s"SELECT t.o_totalprice FROM $tbl t " +
        "JOIN sqldml_merge_src s ON t.o_orderkey = s.o_orderkey " +
        "WHERE t.o_orderkey % 7 <> 0 AND abs(t.o_totalprice - 2 * s.o_totalprice) > 1e-6")
      assert(t2.count() == 0)
      // a target row matching multiple source rows is an error
      orders.filter($"o_orderkey" % 11 === 5)
        .union(orders.filter($"o_orderkey" % 11 === 5))
        .createOrReplaceTempView("sqldml_dup_src")
      val err = intercept[Exception] {
        spark.sql(
          s"""MERGE INTO $tbl t USING sqldml_dup_src s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
             |""".stripMargin)
      }
      assert(err.getMessage.contains("multiple source rows"))
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("SQL MERGE with NOT MATCHED BY SOURCE and INSERT column list") {
    val (tbl, dir) = dmlTable("merge2")
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    try {
      // source: keys %13==1; delete every target row NOT in the source,
      // insert nothing new (all source keys exist)
      orders.filter($"o_orderkey" % 13 === 1)
        .select($"o_orderkey".as("k"), $"o_totalprice".as("p"))
        .createOrReplaceTempView("sqldml_bysource_src")
      spark.sql(
        s"""MERGE INTO $tbl t USING sqldml_bysource_src s
           |ON t.o_orderkey = s.k
           |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p + 1
           |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 2 = 0 THEN DELETE
           |""".stripMargin)
      val kept = spark.sql(s"SELECT count(*) FROM $tbl").as[Long].head()
      assert(kept == orders.filter($"o_orderkey" % 13 === 1 ||
        $"o_orderkey" % 2 =!= 0).count())
      // INSERT with explicit column list: unnamed payload columns → null
      val mx = orders.agg(max($"o_orderkey")).as[Long].head()
      spark.sql(s"SELECT ${mx + 1} AS a, 'F' AS b")
        .createOrReplaceTempView("sqldml_ins_src")
      spark.sql(
        s"""MERGE INTO $tbl t USING sqldml_ins_src s ON t.o_orderkey = s.a
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus)
           |VALUES (s.a, s.b)""".stripMargin)
      val row = spark.sql(s"SELECT o_orderkey, o_orderstatus, o_custkey " +
        s"FROM $tbl WHERE o_orderkey = ${mx + 1}").head()
      assert(row.getLong(0) == mx + 1 && row.getString(1) == "F" &&
        row.isNullAt(2))
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("SQL DML on a MOR table appends DELTA commits (no group rewrite)") {
    import graft.format.{Instant, Timeline}
    val (tbl, dir) = dmlTable("mor", morType = true)
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    try {
      spark.sql(s"DELETE FROM $tbl WHERE o_orderkey % 3 = 0")
      spark.sql(s"UPDATE $tbl SET o_custkey = -1 WHERE o_orderkey % 5 = 1")
      val tl = Timeline(spark.sessionState.newHadoopConf(), dir)
      assert(tl.completedInstants().map(_.action) ==
        Seq(Instant.CommitAction, Instant.DeltaCommitAction,
          Instant.DeltaCommitAction))
      assert(spark.sql(s"SELECT count(*) FROM $tbl").as[Long].head() ==
        orders.filter($"o_orderkey" % 3 =!= 0).count())
      assert(spark.sql(
        s"SELECT count(*) FROM $tbl WHERE o_custkey = -1").as[Long].head() ==
        orders.filter($"o_orderkey" % 5 === 1 &&
          $"o_orderkey" % 3 =!= 0).count())
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("SQL INSERT INTO/OVERWRITE: real commits through FormatWriter") {
    import graft.format.Timeline
    val (tbl, dir) = dmlTable("ins")
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val n = orders.count()
    try {
      // new keys via deterministic arithmetic (no nondeterministic limit:
      // the writer executes its input plan more than once)
      val mx = orders.agg(max($"o_orderkey")).as[Long].head()
      orders.filter($"o_orderkey" % 100 === 1)
        .withColumn("o_orderkey", $"o_orderkey" + mx)
        .createOrReplaceTempView("sqldml_insert_src")
      val added = orders.filter($"o_orderkey" % 100 === 1).count()
      spark.sql(s"INSERT INTO $tbl SELECT * FROM sqldml_insert_src")
      assert(spark.sql(s"SELECT count(*) FROM $tbl").as[Long].head() ==
        n + added)
      val tl = Timeline(spark.sessionState.newHadoopConf(), dir)
      assert(tl.completedInstants().size == 2)
      // INSERT OVERWRITE = the atomic replace commit; history survives
      spark.sql(s"INSERT OVERWRITE $tbl " +
        "SELECT * FROM sqldml_insert_src")
      assert(spark.sql(s"SELECT count(*) FROM $tbl").as[Long].head() ==
        added)
      val tl2 = Timeline(spark.sessionState.newHadoopConf(), dir)
      assert(tl2.completedInstants().size == 3)
      assert(tl2.metadata(tl2.completedInstants().last.ts).operationType ==
        "INSERT_OVERWRITE_TABLE")
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("SQL TIME TRAVEL: TIMESTAMP/VERSION AS OF on a graft catalog table") {
    val dir = Fixtures.cowDir(spark, sf0001)
    spark.sql("DROP TABLE IF EXISTS g_tt")
    spark.sql(s"CREATE TABLE g_tt USING graft OPTIONS (path '$dir')")
    try {
      val c2 = Fixtures.C2
      val api = graft.read.SnapshotReader.read(spark, dir, Some(c2))
        .select("o_orderkey").orderBy("o_orderkey")
      // commit-ts string, VERSION AS OF, and a datetime literal all name
      // the same instant
      Seq(s"TIMESTAMP AS OF '$c2'", s"VERSION AS OF '$c2'",
        "TIMESTAMP AS OF '2026-01-02 00:00:00'").foreach { clause =>
        val viaSql = spark.sql(
          s"SELECT o_orderkey FROM g_tt $clause ORDER BY o_orderkey")
        assert(viaSql.exceptAll(api).isEmpty && api.exceptAll(viaSql).isEmpty,
          s"time travel mismatch for $clause")
      }
      // head snapshot (no clause) differs from the C2 state (C3 updated)
      assert(spark.sql("SELECT count(*) FROM g_tt").head().getLong(0) !=
        api.count() ||
        spark.sql(s"SELECT sum(o_totalprice) FROM g_tt").head().getDouble(0)
          != graft.read.SnapshotReader.read(spark, dir, Some(c2))
            .agg(org.apache.spark.sql.functions.sum("o_totalprice"))
            .head().getDouble(0))
      // a malformed ts fails loudly (width validation), not silently
      assertThrows[Exception] {
        spark.sql("SELECT * FROM g_tt TIMESTAMP AS OF '999'").collect()
      }
    } finally spark.sql("DROP TABLE g_tt")
  }

  test("randomized: delete view == exactly the randomly deleted rows") {
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
      .limit(300).cache()
    val keys = orders.select("o_orderkey").as[Long].collect().toSeq
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val frac = 0.05 + rnd.nextDouble() * 0.3
      val picked = keys.filter(_ => rnd.nextDouble() < frac) match {
        case Nil => keys.take(1)
        case ks => ks
      }
      val dir = freshDir(s"dv_prop_$seed")
      val w = new CowWriter(spark, dir, numBuckets = 4)
      w.insert(orders, col("o_orderkey"), col("o_orderstatus"), Fixtures.C1)
      w.delete(orders.filter(col("o_orderkey").isInCollection(picked)),
        col("o_orderkey"), col("o_orderstatus"), Fixtures.C2)
      val view = DeleteView(spark, dir, Fixtures.C2).toDF()
      val viewKeys = view.select("o_orderkey").as[Long].collect().toSet
      assert(viewKeys == picked.toSet,
        s"seed=$seed: view keys != deleted keys")
      // full payload equality against the pre-delete rows
      val expected = orders.filter(col("o_orderkey").isInCollection(picked))
      assert(view.select(orders.columns.map(col).toIndexedSeq: _*)
        .exceptAll(expected).isEmpty, s"seed=$seed: payload drift")
      assert(expected.exceptAll(
        view.select(orders.columns.map(col).toIndexedSeq: _*)).isEmpty,
        s"seed=$seed: missing rows")
    }
  }
}

package graft

import graft.read.{IncrementalReader, SnapshotReader}
import graft.write.{CowWriter, MorWriter}
import org.apache.spark.sql.functions._

/** ADD-COLUMN schema evolution: a later commit may introduce new payload
  * columns; earlier slices read them as null (mergeSchema scans +
  * allowMissingColumns unions across writers and readers). */
class EvolutionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val orders =
    spark.read.parquet(s"$sf0001/orders.parquet").limit(300)
  private val C1 = Fixtures.C1
  private val C2 = Fixtures.C2

  test("COW: upsert adds a payload column; old rows read null, old snapshots keep the old schema") {
    val dir = freshDir("orders_evo_cow")
    val w = new CowWriter(spark, dir, numBuckets = 2)
    w.insert(orders, col("o_orderkey"), col("o_orderstatus"), C1)
    val up = orders.filter($"o_orderkey" % 10 === 3)
      .withColumn("o_note", concat(lit("note-"), $"o_orderkey"))
    w.upsert(up, col("o_orderkey"), col("o_orderstatus"), C2)

    val snap = SnapshotReader.read(spark, dir)
    assert(snap.columns.contains("o_note"))
    assert(snap.count() == orders.count())
    assert(snap.filter($"o_orderkey" % 10 === 3 && $"o_note".isNull).isEmpty,
      "updated rows must carry the new column")
    assert(snap.filter($"o_orderkey" % 10 =!= 3 && $"o_note".isNotNull).isEmpty,
      "pre-evolution rows must read null")
    // time travel to C1 sees the pre-evolution schema
    assert(!SnapshotReader.read(spark, dir, asOf = Some(C1))
      .columns.contains("o_note"))
  }

  test("MOR: delta upsert with a new column merges against old base slices") {
    val dir = freshDir("orders_evo_mor")
    val w = new MorWriter(spark, dir, numBuckets = 2)
    w.insert(orders, col("o_orderkey"), col("o_orderstatus"), C1)
    val up = orders.filter($"o_orderkey" % 10 === 3)
      .withColumn("o_note", lit("x"))
    w.upsert(up, col("o_orderkey"), col("o_orderstatus"), C2)

    val snap = SnapshotReader.read(spark, dir)
    assert(snap.count() == orders.count())
    assert(snap.filter($"o_note" === "x").count() ==
      orders.filter($"o_orderkey" % 10 === 3).count())

    // incremental range read carries the evolved column for changed rows
    val inc = IncrementalReader.read(spark, dir, C1, C2)
    assert(inc.columns.contains("o_note"))
    assert(inc.count() == up.count())
    assert(inc.filter($"o_note".isNull).isEmpty)
  }

  test("MOR: a narrow FIRST delta must not drop base-only columns from the snapshot") {
    // insert records (payload incl. o_comment); the very first deltacommit
    // passes a NARROWER frame (o_comment dropped). The recorded delta
    // schema unions across ACTIONS (base insert included), so the merged
    // snapshot still serves o_comment from the base side — a same-action
    // union would have projected it away.
    val dir = freshDir("orders_evo_mor_narrow_first")
    val w = new MorWriter(spark, dir, numBuckets = 2)
    val withComment = orders.withColumn("o_note2", lit("keep-me"))
    w.insert(withComment, col("o_orderkey"), col("o_orderstatus"), C1)
    w.upsert(orders.filter($"o_orderkey" % 10 === 4), // no o_note2
      col("o_orderkey"), col("o_orderstatus"), C2)

    val snap = SnapshotReader.read(spark, dir)
    assert(snap.columns.contains("o_note2"),
      "base-only column vanished after a narrow first delta commit")
    assert(snap.filter($"o_orderkey" % 10 =!= 4 && $"o_note2" =!= "keep-me")
      .isEmpty, "unchanged rows must keep their base-side column values")
    assert(snap.filter($"o_orderkey" % 10 === 4 && $"o_note2".isNotNull)
      .isEmpty, "narrow-frame rows read the missing column as null")
    assert(snap.count() == orders.count())
  }

  test("COW: a narrow upsert touching only NEW groups must not drop table columns") {
    // every group the upsert touches is new (a new partition), so no old
    // slice is read: the recorded schema must still be the union with the
    // table's, or every later snapshot loses o_orderpriority
    val dir = freshDir("orders_evo_cow_narrow_new_groups")
    val w = new CowWriter(spark, dir, numBuckets = 2)
    w.insert(orders, col("o_orderkey"), col("o_orderstatus"), C1)
    val fresh = orders.limit(20)
      .withColumn("o_orderkey", $"o_orderkey" + 10000000L)
      .withColumn("o_orderstatus", lit("pNEW"))
      .drop("o_orderpriority")
    w.upsert(fresh, col("o_orderkey"), col("o_orderstatus"), C2)

    val snap = SnapshotReader.read(spark, dir)
    assert(snap.columns.contains("o_orderpriority"),
      "table column vanished after a narrow upsert into new groups")
    assert(snap.count() == orders.count() + 20)
    val isNew = $"o_orderstatus" === "pNEW"
    assert(snap.filter(!isNew && $"o_orderpriority".isNull).isEmpty,
      "untouched rows must keep their o_orderpriority values")
    assert(snap.filter(isNew && $"o_orderpriority".isNotNull).isEmpty,
      "narrow-frame rows read the missing column as null")
  }

  test("MOR: a NARROWER later delta must not drop an earlier delta's added column") {
    // deltacommit C2 adds o_note; deltacommit C3 upserts DIFFERENT keys with
    // the ORIGINAL (narrower) schema. All delta files resolve their schema
    // from the NEWEST deltacommit's recorded schema, which is monotonic by
    // construction (union with the previous record) — without it C3's
    // narrow record would silently null out C2's o_note values.
    val dir = freshDir("orders_evo_mor_narrow")
    val w = new MorWriter(spark, dir, numBuckets = 2)
    w.insert(orders, col("o_orderkey"), col("o_orderstatus"), C1)
    val noted = orders.filter($"o_orderkey" % 10 === 3)
      .withColumn("o_note", lit("x"))
    w.upsert(noted, col("o_orderkey"), col("o_orderstatus"), C2)
    w.upsert(orders.filter($"o_orderkey" % 10 === 4), // narrower frame
      col("o_orderkey"), col("o_orderstatus"), Fixtures.C3)

    val snap = SnapshotReader.read(spark, dir)
    assert(snap.columns.contains("o_note"),
      "added column vanished after a narrower delta commit")
    assert(snap.filter($"o_note" === "x").count() == noted.count(),
      "earlier delta's added-column values were nulled by a narrower delta")
    assert(snap.filter($"o_orderkey" % 10 === 4 && $"o_note".isNotNull)
      .isEmpty, "narrow-frame rows must read the added column as null")
    // the recorded deltacommit schema is the running union
    val tl = graft.format.Timeline(spark.sessionState.newHadoopConf(), dir)
    val recorded =
      tl.schema(None, Some(graft.format.Instant.DeltaCommitAction)).get
    assert(recorded.fieldNames.contains("o_note"))
  }
}

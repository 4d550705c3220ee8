package graft

import graft.format.{CommitMetadata, Timeline}
import graft.write.WriteContract
import graft.write.WriteContract._

/** The write-contract rules ([[WriteContract.resolve]]) on bare timelines:
  * precedence, every contradiction, the defaults, and the creation-extra
  * round trip. Metadata only — no Spark job runs. */
class WriteContractSpec extends SparkSpec {

  /** A table whose commits record `extras`, oldest first. */
  private def table(name: String, extras: Map[String, String]*): Timeline = {
    val tl = Timeline(spark.sessionState.newHadoopConf(),
      freshDir(s"contract_$name"))
    extras.zipWithIndex.foreach { case (ex, i) =>
      tl.saveCommit(f"${i + 1}%014d", CommitMetadata(
        partitionToWriteStats = Map.empty, operationType = "createtable",
        totalRecordsDeleted = 0L, totalRecordsWritten = 0L,
        schemaJson = None, extra = ex))
    }
    tl
  }

  private val created = Map(KeyColKey -> "id", PartColKey -> "part",
    BucketsKey -> "4", TypeKey -> "mor", PrecombineKey -> "ev",
    StatsColsKey -> "a,b", BloomColsKey -> "c", BloomBitsKey -> "2048",
    DeltaCountersKey -> "off")

  private def refused(tl: Timeline, declared: (String, String)*): String =
    intercept[IllegalArgumentException](
      WriteContract.resolve(tl, declared.toMap)).getMessage

  test("defaults: a new table is cow, 8 buckets, exact counters, no indexes") {
    val c = WriteContract.resolve(table("defaults"), Map.empty)
    assert(c == WriteContract(None, None, 8, "cow", None, "exact",
      Seq.empty, Seq.empty, graft.format.Bloom.DefaultBits))
    assert(intercept[IllegalArgumentException](c.keyCol).getMessage
      .contains("""requires .option("key""""))
    assert(intercept[IllegalArgumentException](c.partitionCol).getMessage
      .contains("""requires .option("partition""""))
  }

  test("precedence: declared over recorded over default; newest carrier wins") {
    val tl = table("precedence", created,
      Map(StatsColsKey -> "x"), Map("unrelated" -> "1"))
    val rec = WriteContract.resolve(tl, Map.empty)
    assert(rec == WriteContract(Some("id"), Some("part"), 4, "mor",
      Some("ev"), "off", Seq("x"), Seq("c"), 2048))
    // the free-per-write properties follow the declaration
    val decl = WriteContract.resolve(tl, Map(StatsColsKey -> " p , q ,",
      BloomColsKey -> "d", BloomBitsKey -> "512", DeltaCountersKey -> "EXACT",
      "path" -> "/elsewhere"))
    assert(decl == rec.copy(statsCols = Seq("p", "q"), bloomCols = Seq("d"),
      bloomBits = 512, deltaCounters = "exact"))
    // agreeing declarations of the pinned ones are accepted (type ignores case)
    assert(WriteContract.resolve(tl, Map(KeyColKey -> "id",
      PartColKey -> "part", BucketsKey -> "4", TypeKey -> "MOR",
      PrecombineKey -> "ev")) == rec)
    // recorded ≤ asOf: the as-of view stops before the later stats record
    assert(WriteContract.recorded(tl, Some(f"${1}%014d"))(StatsColsKey) == "a,b")
  }

  test("every contradiction with a recorded property refuses") {
    val tl = table("contradictions", created)
    Seq(KeyColKey -> "other", PartColKey -> "other", BucketsKey -> "8",
      TypeKey -> "cow", PrecombineKey -> "other").foreach { d =>
      assert(refused(tl, d).contains(s"${d._1}=${d._2} contradicts"), d)
    }
  }

  test("a late precombine declaration refuses on an existing table only") {
    val tl = table("late_pc", Map(BucketsKey -> "2"))
    assert(refused(tl, PrecombineKey -> "ev")
      .contains("precombine is declared at table creation"))
    assert(WriteContract.resolve(table("new_pc"), Map(PrecombineKey -> "ev"))
      .precombine.contains("ev"))
  }

  test("an existing table without a recorded bucket count needs one declared") {
    val tl = table("no_buckets", Map(KeyColKey -> "id"))
    val msg = refused(tl)
    assert(msg.contains("no recorded bucket count") &&
      msg.contains("no bucket count"), msg)
    assert(WriteContract.resolve(tl, Map(BucketsKey -> "3")).buckets == 3)
  }

  test("invalid values refuse; a re-creation point lets declarations win") {
    val tl = table("recreate", created)
    assert(refused(tl, TypeKey -> "log").contains("must be"))
    assert(refused(tl, DeltaCountersKey -> "maybe").contains("must be"))
    assert(intercept[IllegalArgumentException](WriteContract.resolve(
      table("zero"), Map(BucketsKey -> "0"))).getMessage.contains(">= 1"))
    val re = WriteContract.resolve(tl, Map(KeyColKey -> "k2",
      BucketsKey -> "16", TypeKey -> "cow", PrecombineKey -> "ev2"),
      recreate = true)
    assert((re.key, re.partition, re.buckets, re.tableType, re.precombine) ==
      (Some("k2"), Some("part"), 16, "cow", Some("ev2")))
  }

  test("creationExtra round-trips through resolve for every key") {
    val full = WriteContract.resolve(table("rt_src", created), Map.empty)
    assert(full.creationExtra == created)
    val bare = WriteContract(Some("k"), Some("p"), 2, "cow", None, "exact",
      Seq.empty, Seq.empty, graft.format.Bloom.DefaultBits)
    assert(bare.creationExtra == Map(KeyColKey -> "k", PartColKey -> "p",
      BucketsKey -> "2", TypeKey -> "cow"))
    Seq(full, bare, full.copy(bloomCols = Seq.empty),
        full.copy(statsCols = Seq.empty, precombine = None)).foreach { c =>
      assert(WriteContract.resolve(table("rt", c.creationExtra),
        Map.empty) == c.copy(bloomBits =
          if (c.bloomCols.isEmpty) graft.format.Bloom.DefaultBits
          else c.bloomBits), c)
    }
  }
}

package graft.write

import graft.SparkSpec
import graft.format.MetaCols
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The slice write's own per-file stats ([[SliceStats]], gathered inside
  * the write job) against the separate aggregate form
  * ([[SliceStatsReference]]): same keys, row counts, fresh counts and
  * `ColStat`s for every stats-supported type, and the same group
  * directories Spark's `DataFrameWriter` names. */
class SliceStatsSpec extends SparkSpec {
  import TableWriter.FidCol

  private val Ts = "20260105000000"
  private val OldTs = "20260101000000"
  private val Payload = Seq(
    "s" -> StringType, "b" -> BooleanType, "d" -> DateType,
    "t" -> TimestampType, "tn" -> TimestampNTZType, "y" -> ByteType,
    "sh" -> ShortType, "i" -> IntegerType, "l" -> LongType,
    "f" -> FloatType, "db" -> DoubleType, "dc" -> DecimalType(10, 2),
    "dw" -> DecimalType(38, 2))
  // partition values Spark escapes ('%', '=') or must not unescape ('+',
  // ' '), and a non-ASCII one (its path needs a UTF-8 JVM file-name
  // encoding, which the build sets for forked runs)
  private val Parts: Seq[String] =
    Seq("p0", "p1", "x%y=z", "a+b c", "ü-β", null, "")

  /** Seeded rows over seven partition values (incl. null and empty) × 2
    * file groups, every payload column nullable; one group's `dc` is all
    * null. ONE input partition, so the aggregate's partial and final
    * steps see each group's rows in the order the write does (equal
    * values such as 0.0/-0.0 keep the first, on both sides). */
  private def frame(seed: Int, n: Int, ts: String): DataFrame = {
    val r = new scala.util.Random(seed)
    val strs = Seq("ß", "日本語", "é", "😀", "plain", "", "Ω+z")
    val doubles = Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5, -2.25, Double.MinPositiveValue)
    // only zeros (and NaN, the greatest): every min, and most maxes, are
    // a tie between 0.0 and -0.0 that the first row seen must win
    val floats = Seq(0.0f, -0.0f, 0.0f, -0.0f, Float.NaN)
    def maybe(v: => Any): Any = if (r.nextInt(10) == 0) null else v
    val rows: Seq[Row] = (0 until n).map { _ =>
      val part = Parts(r.nextInt(Parts.size))
      val fid = if (part == null) null else s"$part-${r.nextInt(2)}"
      Row(Seq(
        if (r.nextBoolean()) ts else OldTs, part, fid,
        maybe(strs(r.nextInt(strs.size)) + r.nextInt(50)),
        maybe(r.nextBoolean()),
        maybe(java.sql.Date.valueOf(
          java.time.LocalDate.ofEpochDay(r.nextInt(40000) - 20000L))),
        maybe(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          r.nextInt(Int.MaxValue) - 1000000000L, r.nextInt(1000) * 1000L))),
        maybe(java.time.LocalDateTime.ofEpochSecond(
          r.nextInt(Int.MaxValue).toLong, r.nextInt(1000) * 1000,
          java.time.ZoneOffset.UTC)),
        maybe((r.nextInt(256) - 128).toByte),
        maybe((r.nextInt(65536) - 32768).toShort),
        maybe(r.nextInt()),
        // near Long.MaxValue: per-file sums pass the long range
        maybe(Long.MaxValue - r.nextInt(1000)),
        maybe(floats(r.nextInt(floats.size))),
        maybe(doubles(r.nextInt(doubles.size))),
        if (part == "p1") null
        else maybe(new java.math.BigDecimal(
          java.math.BigInteger.valueOf(r.nextInt(1000000000).toLong), 2)),
        maybe(new java.math.BigDecimal(new java.math.BigInteger(110, r.self)
          .subtract(java.math.BigInteger.ONE.shiftLeft(109)), 2))): _*)
    }
    val schema = StructType(Seq(MetaCols.CommitTime, MetaCols.PartitionPath,
      FidCol).map(StructField(_, StringType)) ++
      Payload.map { case (c, t) => StructField(c, t) })
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  private def withSessionTz[T](tz: String)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try f finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("write-job stats equal the aggregate form for every stats type " +
    "(nulls, NaN/±0.0, decimal(38) sums, blooms, non-UTC timestamps)") {
    val dir = freshDir("slice_stats")
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val statsCols = Payload.map(_._1)
    val blooms = Seq("s", "i", "t")
    Seq(1, 2).foreach { seed =>
      val ts = s"2026010500000$seed"
      val data = frame(seed, 600, ts).cache()
      try withSessionTz("America/Los_Angeles") {
        val written = SliceFiles.write(fs, dir, data, ts,
          (fid, t) => s"${fid}_$t.parquet", statsCols = statsCols,
          bloomCols = blooms, bloomBits = 2048)
        val ref = SliceStatsReference.stats(data, ts, statsCols, blooms,
          2048)
        assert(written.keySet == ref.keySet)
        written.foreach { case (k, w) =>
          val (rows, fresh, stats) = ref(k)
          assert(w.rows == rows && w.fresh == fresh, s"counts of $k")
          assert(w.colStats.keySet == stats.keySet)
          statsCols.foreach { c =>
            assert(w.colStats(c) == stats(c), s"$c of $k")
          }
          assert(w.relPath == s"${k._1}/${k._2}_$ts.parquet")
          assert(w.sizeBytes ==
            fs.getFileStatus(new Path(dir, w.relPath)).getLen)
        }
        assert(written.values.map(_.rows).sum == 600)
        // the partition values in play: escaped characters, '+', a space,
        // non-ASCII, and null/empty under the default name
        assert(written.keySet.map(_._1) == Set("p0", "p1", "x%y=z", "a+b c",
          "ü-β", ExternalCatalogUtils.DEFAULT_PARTITION_NAME))
        assert(written.values.exists(_.colStats("dc").sum.isEmpty))
      } finally data.unpersist()
    }
  }

  test("fresh counts the rows stamped with the writing commit's ts") {
    val dir = freshDir("slice_fresh")
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val data = frame(3, 300, Ts)
    val written = SliceFiles.write(fs, dir, data, Ts,
      (fid, t) => s"${fid}_$t.parquet")
    val ref = SliceStatsReference.stats(data, Ts, Seq.empty, Seq.empty, 8)
    assert(written.map { case (k, w) => k -> (w.rows, w.fresh) } ==
      ref.map { case (k, (rows, fresh, _)) => k -> (rows, fresh) })
    assert(written.values.map(_.fresh).sum ==
      data.filter(col(MetaCols.CommitTime) === Ts).count())
  }

  test("group directories are the ones DataFrameWriter names " +
    "(null and empty partitions under __HIVE_DEFAULT_PARTITION__)") {
    val dir = freshDir("slice_dirs")
    val refDir = freshDir("slice_dirs_ref")
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(dir).getFileSystem(conf)
    val data = frame(4, 200, Ts)
    val stage = data.withColumn("__graft_part", col(MetaCols.PartitionPath))
      .repartition(col("__graft_part"), col(FidCol))
    stage.write.partitionBy("__graft_part", FidCol).parquet(refDir)
    val refGroups = fs.listStatus(new Path(refDir)).filter(_.isDirectory)
      .flatMap { pd =>
        fs.listStatus(pd.getPath).filter(_.isDirectory).map { fd =>
          def v(p: Path) = ExternalCatalogUtils.unescapePathName(
            p.getName.substring(p.getName.indexOf('=') + 1))
          (v(pd.getPath), v(fd.getPath))
        }
      }.toSet
    val written = SliceFiles.write(fs, dir, data, Ts,
      (fid, t) => s"${fid}_$t.parquet")
    assert(written.keySet == refGroups)
    assert(refGroups.exists(_._1 == ExternalCatalogUtils.DEFAULT_PARTITION_NAME))
    // and each slice file holds exactly the rows of its group (footer
    // count: a '%' or '=' in the path would confuse a path-string read)
    written.foreach { case ((part, fid), w) =>
      val file = new Path(new Path(dir, part), s"${fid}_$Ts.parquet")
      val in = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
      try assert(in.getRecordCount == w.rows) finally in.close()
    }
  }
}

package graft.write

import graft.format.{ColStat, MetaCols}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared file-slice materialization for the COW and MOR writers.
  *
  * Writes one parquet file per (partition, fileId) group in a single
  * distributed job: hash-repartition on the group columns, partitioned write
  * to a temp dir, then driver-side renames (metadata-only FS ops, one per
  * written group — the same O(#touched file groups) driver scale Hudi plans
  * at) into `<part>/<fileName(fid, ts)>`.
  *
  * The same job's stats aggregate (map-side combined, metadata-sized
  * result) also records per-file min/max/null-count for the record key and
  * any writer-declared hot columns — the column-stats skipping index
  * consumed by [[graft.read.GraftFileIndex]]. One pass over the data,
  * no extra job.
  */
private[write] object SliceFiles {
  import TableWriter.FidCol
  private val PartDirCol = "__graft_part"

  /** Per-written-file result: relative path, row count, column stats,
    * and the written file's size in bytes. */
  final case class Written(relPath: String, rows: Long,
      colStats: Map[String, ColStat], sizeBytes: Long)

  /** Column types the stats index can order and round-trip through a
    * string cast. Binary/array/map/struct columns are excluded (no total
    * order worth indexing). */
  private[write] def statsSupported(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | DateType | TimestampType |
         TimestampNTZType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | _: DecimalType => true
    case _ => false
  }

  /** Types whose per-file SUM is recorded: integral and decimal — the
    * types whose addition is EXACT and associative, so a metadata fold of
    * per-file sums equals the global sum bit-for-bit in any order.
    * Float/double are excluded (r10, the q_v2_sum lesson): fp addition is
    * order-dependent, so a recorded-sum fold can never match an oracle's
    * own summation order — "approximately right" fails an exactness gate. */
  private[write] def sumSupported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         _: DecimalType => true
    case _ => false
  }

  /** Returns (partition, fileId) -> Written.
    *
    * @param statsCols columns of `data` to record min/max/nulls for; names
    *                  not present in `data` or of unsupported type are
    *                  skipped (callers validate user-declared ones).
    * @param sortBy    non-empty → rows are sorted by these expressions
    *                  WITHIN each written file (sortWithinPartitions after
    *                  the group repartition; the partitioned write's
    *                  required ordering is a prefix of ours, so no extra
    *                  sort is inserted and the order survives into the
    *                  file). Expressions over `data`'s columns — an
    *                  ephemeral sort key (e.g. a z-value) orders the rows
    *                  without ever being written. Sorted files make the
    *                  parquet reader's row-group min/max pruning effective
    *                  on the sort columns — the layout half of data
    *                  skipping, complementing the file-level stats index.
    */
  /** @param bloomCols columns to ALSO record a per-file bloom filter for
    *                   (each is implicitly a stats column too — a bloom
    *                   without min/max would read as "all null" to the
    *                   skipping index); see [[graft.format.Bloom]].
    *  @param bloomBits bloom bitset size in bits per file per column. */
  def write(fs: FileSystem, basePath: String, data: DataFrame, ts: String,
      fileName: (String, String) => String,
      statsCols: Seq[String] = Seq.empty,
      sortBy: Seq[org.apache.spark.sql.Column] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      bloomBits: Int = graft.format.Bloom.DefaultBits)
      : Map[(String, String), Written] = {
    // Unique per ATTEMPT, not just per ts: concurrent writers that raced to
    // the same ts (possible across drivers on stores without atomic
    // create-no-overwrite) must never stage into each other's directory —
    // the loser's commit is refused later by the OCC ordering guard, but
    // its staging must not corrupt the winner's.
    val tmp = new Path(basePath,
      s".tmp_${ts}_${java.util.UUID.randomUUID().toString.take(8)}")
    fs.delete(tmp, true)

    val blooms = bloomCols.distinct.filter(c =>
      data.schema.fields.exists(f =>
        f.name == c && statsSupported(f.dataType)))
    val repart = data
      .withColumn(PartDirCol, col(MetaCols.PartitionPath))
      // FidCol doubles as the partitionBy column; it is dropped from file
      // contents by partitionBy, which is what we want (helper only).
      .repartition(col(PartDirCol), col(FidCol))
    val withDirs =
      if (sortBy.isEmpty) repart
      else repart.sortWithinPartitions(
        Seq(PartDirCol, FidCol).map(col) ++ sortBy: _*)

    // Declared bloom columns ALSO get PARQUET-NATIVE bloom filters inside
    // each written file (standard parquet write options, consumed by
    // parquet-mr): the file-level index (commit-JSON blooms) drops whole
    // files at PLANNING time; these drop ~128 MB ROW GROUPS inside the
    // files it keeps — any parquet reader with filter pushdown (Spark's
    // included) consults them, no engine code on the read path. Expected
    // NDV mirrors the file-level sizing contract (`bloomBits` ≈ 7× the
    // expected per-file distinct count); parquet sizes its bitset from it
    // and caps at parquet.bloom.filter.max.bytes, so an underestimate only
    // raises the false-positive rate (kept row groups, never wrong rows).
    // Note parquet-mr SKIPS the bloom for a chunk that stays fully
    // dictionary-encoded (verified on parquet 1.16): the dictionary already
    // answers equality-membership per row group EXACTLY, so the bloom only
    // materializes on the plain-encoding fallback — precisely the
    // high-cardinality regime where membership pruning needs it.
    val nativeBloomNdv = math.max(64L, bloomBits.toLong / 7L)
    val writer = blooms.foldLeft(withDirs.write) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c",
          nativeBloomNdv.toString)
    }
    writer
      .partitionBy(PartDirCol, FidCol)
      .parquet(tmp.toString)

    // Row counts + column stats per group — ONE distributed agg with
    // map-side combine; result is metadata-sized (#groups rows). min/max
    // compute on the NATIVE type (string ordering of numerics would be
    // wrong) and only the result is cast to string for storage.
    val tracked = (statsCols ++ blooms).distinct.filter(c =>
      data.schema.fields.exists(f =>
        f.name == c && statsSupported(f.dataType)))
    // exact-numeric stats columns additionally record their per-file SUM
    // (integral/decimal only — see [[sumSupported]]) for the DSv2 SUM/AVG
    // metadata pushdown to fold. The input is widened to precision-38
    // decimal BEFORE summing so the recorded value is the TRUE per-file
    // sum (no long wrap, no ANSI overflow error inside an unrelated
    // write) — string round trip is exact for decimals.
    val summed = tracked.filter(c => data.schema.fields.exists(f =>
      f.name == c && sumSupported(f.dataType))).toSet
    def sumWide(c: String): DataType = {
      val dt = data.schema.fields.find(_.name == c).get.dataType
      dt match {
        case d: DecimalType => DecimalType(38, d.scale)
        case _ => DecimalType(38, 0)
      }
    }
    val aggs = (count(lit(1L)).as("__graft_cnt") +: tracked.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"__min__$c"),
        max(col(c)).cast("string").as(s"__max__$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nul__$c")) ++
        (if (summed(c))
          Seq(sum(col(c).cast(sumWide(c))).cast("string")
            .as(s"__sum__$c")) else Seq.empty)
    }) ++ blooms.map { c =>
      graft.functions.BloomAgg.bloom(col(c).cast("string"), bloomBits,
        graft.format.Bloom.DefaultHashes).as(s"__blm__$c")
    }
    val counts = data.groupBy(MetaCols.PartitionPath, FidCol)
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val bloomSet = blooms.toSet
        val stats = tracked.map { c =>
          c -> ColStat(
            min = Option(r.getAs[String](s"__min__$c")),
            max = Option(r.getAs[String](s"__max__$c")),
            nulls = Some(r.getAs[Long](s"__nul__$c")),
            bloom = if (bloomSet(c))
              Some(graft.format.Bloom.encode(
                r.getAs[Array[Byte]](s"__blm__$c")))
            else None,
            sum = if (summed(c)) Option(r.getAs[String](s"__sum__$c"))
              else None)
        }.toMap
        (r.getString(0), r.getString(1)) ->
          (r.getAs[Long]("__graft_cnt"), stats)
      }.toMap

    val out = scala.collection.mutable.Map.empty[(String, String), Written]
    val partDirs = if (fs.exists(tmp)) fs.listStatus(tmp).filter(_.isDirectory)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    partDirs.foreach { pd =>
      val part = dirValue(pd.getPath.getName)
      fs.listStatus(pd.getPath).filter(_.isDirectory).foreach { fd =>
        val fid = dirValue(fd.getPath.getName)
        val files = fs.listStatus(fd.getPath)
          .filter(f => f.getPath.getName.startsWith("part-"))
        require(files.length == 1,
          s"expected exactly 1 file for group $fid, got ${files.length}")
        val destDir = if (part.isEmpty) new Path(basePath)
          else new Path(basePath, part)
        fs.mkdirs(destDir)
        val name = fileName(fid, ts)
        val dest = new Path(destDir, name)
        fs.delete(dest, false)
        require(fs.rename(files.head.getPath, dest), s"rename to $dest failed")
        val rel = if (part.isEmpty) name else s"$part/$name"
        val (n, stats) = counts.getOrElse((part, fid),
          (0L, Map.empty[String, ColStat]))
        out((part, fid)) = Written(rel, n, stats, files.head.getLen)
      }
    }
    fs.delete(tmp, true)
    out.toMap
  }

  private def dirValue(dirName: String): String = {
    val v = dirName.substring(dirName.indexOf('=') + 1)
    java.net.URLDecoder.decode(v, "UTF-8")
  }
}

package graft.write

import graft.format.{Bloom, ColStat, MetaCols}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker,
  WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Shared file-slice materialization for the COW and MOR writers.
  *
  * Writes one parquet file per (partition, fileId) group in ONE Spark SQL
  * execution: hash-repartition on the group columns, partitioned write to
  * a temp dir, then driver-side renames (metadata-only FS ops, one per
  * written group — the same O(#touched file groups) driver scale Hudi plans
  * at) into `<part>/<fileName(fid, ts)>`.
  *
  * The write job itself measures every file it writes: a write stats
  * tracker ([[SliceStats]]) sees each row as it goes into its file and
  * records the file's row count, how many of its rows carry this commit's
  * `_hoodie_commit_time`, its size, and min/max/null-count (plus sum and
  * bloom where they apply) for the record key and any writer-declared hot
  * columns — the column-stats skipping index consumed by
  * [[graft.read.GraftFileIndex]]. Delta Lake gathers its per-file stats
  * the same way; the data is never read a second time for them.
  */
private[write] object SliceFiles {
  import TableWriter.FidCol
  private val PartDirCol = "__graft_part"

  /** Per-written-file result: relative path, row count, the rows stamped
    * with the writing commit's ts (`fresh` — the rest were carried over
    * from an older slice), column stats, and the file's size in bytes. */
  final case class Written(relPath: String, rows: Long, fresh: Long,
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

  /** Returns (partition, fileId) -> Written. A null or empty partition
    * value is keyed (and its directory named) `__HIVE_DEFAULT_PARTITION__`,
    * as Spark's partitioned writer names it.
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
    * @param bloomCols columns to ALSO record a per-file bloom filter for
    *                  (each is implicitly a stats column too — a bloom
    *                  without min/max would read as "all null" to the
    *                  skipping index); see [[graft.format.Bloom]].
    * @param bloomBits bloom bitset size in bits per file per column. */
  def write(fs: FileSystem, basePath: String, data: DataFrame, ts: String,
      fileName: (String, String) => String,
      statsCols: Seq[String] = Seq.empty,
      sortBy: Seq[org.apache.spark.sql.Column] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      bloomBits: Int = Bloom.DefaultBits)
      : Map[(String, String), Written] = {
    // Unique per ATTEMPT, not just per ts: concurrent writers that raced to
    // the same ts (possible across drivers on stores without atomic
    // create-no-overwrite) must never stage into each other's directory —
    // the loser's commit is refused later by the OCC ordering guard, but
    // its staging must not corrupt the winner's.
    val tmp = new Path(basePath,
      s".tmp_${ts}_${java.util.UUID.randomUUID().toString.take(8)}")
    fs.delete(tmp, true)

    def statsable(c: String): Boolean = data.schema.fields.exists(f =>
      f.name == c && statsSupported(f.dataType))
    val blooms = bloomCols.distinct.filter(statsable)
    val tracked = (statsCols ++ blooms).distinct.filter(statsable)
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
    val options = blooms.flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" -> nativeBloomNdv.toString))
      .toMap

    val conf = data.sparkSession.sessionState.conf
    val stats = new SliceStats(
      StructType(data.schema.filterNot(_.name == FidCol)), tracked,
      blooms.toSet, bloomBits, ts, conf.sessionLocalTimeZone,
      conf.ansiEnabled, new SerializableConfiguration(
        data.sparkSession.sessionState.newHadoopConf()))
    Bridge.writeParquet(withDirs, tmp.toString, Seq(PartDirCol, FidCol),
      options, Seq(stats))

    val out = stats.files.groupBy(_._1).map {
      case (key @ (part, fid), files) =>
        require(files.length == 1,
          s"expected exactly 1 file for group $fid, got ${files.length}")
        val staged = files.head._2
        val destDir = new Path(basePath, part)
        fs.mkdirs(destDir)
        val name = fileName(fid, ts)
        val dest = new Path(destDir, name)
        fs.delete(dest, false)
        require(fs.rename(new Path(tmp, staged.relPath), dest),
          s"rename to $dest failed")
        key -> staged.copy(relPath = s"$part/$name")
    }
    fs.delete(tmp, true)
    out
  }
}

/** A write task's files, each keyed by its group (the rendered partition
  * values) with its path relative to the write's output dir. */
private[write] final case class SliceTaskStats(
    files: Seq[((String, String), SliceFiles.Written)]) extends WriteTaskStats

/** The slice write's stats tracker. Built on the driver and shipped with
  * the write job; each write task counts the rows of every file it writes
  * and folds the tracked columns, and the driver receives every file's
  * stats when the job commits ([[files]]).
  *
  * The values match Spark's own `min`/`max`/`sum`/`count` over the same
  * rows: min/max compare with the type's Catalyst ordering and keep the
  * first of equal values (as `least`/`greatest` do), integral and decimal
  * sums are exact at decimal(38, scale) with Spark's overflow rule, and
  * every value is rendered through Spark's `CAST(… AS STRING)` in the
  * session time zone. Blooms hash the same rendering ([[Bloom.add]]).
  *
  * @param dataSchema the written rows' layout (the frame minus the
  *                   directory columns) — the row `newRow` receives */
private[write] final class SliceStats(dataSchema: StructType,
    tracked: Seq[String], blooms: Set[String], bloomBits: Int, ts: String,
    timeZoneId: String, ansi: Boolean, hadoopConf: SerializableConfiguration)
    extends WriteJobStatsTracker {
  import SliceStats._

  private val cols: Array[Col] = tracked.map { c =>
    val i = dataSchema.fieldIndex(c)
    val dt = dataSchema(i).dataType
    val sumScale = dt match {
      case d: DecimalType => Some(d.scale)
      case _ if SliceFiles.sumSupported(dt) => Some(0)
      case _ => None
    }
    Col(c, i, dt, render(dt),
      sumScale.map(s => (s, render(DecimalType(38, s)))), blooms(c))
  }.toArray
  private val commitTimeAt = dataSchema.fieldIndex(MetaCols.CommitTime)
  private val tsUtf8 = UTF8String.fromString(ts)

  private def render(dt: DataType): Expression =
    Cast(BoundReference(0, dt, nullable = true), StringType, Some(timeZoneId))

  @transient private var collected: Seq[((String, String), SliceFiles.Written)] =
    Nil

  /** Every file the job wrote, keyed by group, its `relPath` relative to
    * the write's output dir (driver side, after the write). */
  def files: Seq[((String, String), SliceFiles.Written)] = collected

  override def newTaskInstance(): WriteTaskStatsTracker = new Task

  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit =
    collected = stats.flatMap { case s: SliceTaskStats => s.files }

  private final class Task extends WriteTaskStatsTracker {
    private val open = scala.collection.mutable.LinkedHashMap.empty[String, File]
    private var group: (String, String) = _
    private var lastPath: String = _
    private var last: File = _

    override def newPartition(values: InternalRow): Unit =
      group = (groupValue(values, 0), groupValue(values, 1))

    override def newFile(path: String): Unit =
      open(path) = new File(group)

    override def newRow(path: String, row: InternalRow): Unit = {
      if (!(path eq lastPath)) { last = open(path); lastPath = path }
      last.add(row)
    }

    override def closeFile(path: String): Unit = {
      val p = new Path(path)
      open(path).sizeBytes =
        p.getFileSystem(hadoopConf.value).getFileStatus(p).getLen
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      SliceTaskStats(open.toSeq.map { case (path, f) => f.result(path) })
  }

  private final class File(group: (String, String)) {
    private var rows = 0L
    private var fresh = 0L
    var sizeBytes = 0L
    private val accs = cols.map(new Acc(_))

    def add(row: InternalRow): Unit = {
      rows += 1
      if (!row.isNullAt(commitTimeAt) &&
          row.getUTF8String(commitTimeAt) == tsUtf8) fresh += 1
      var i = 0
      while (i < accs.length) { accs(i).add(row); i += 1 }
    }

    /** `path` is the task's file; its last three components (the two
      * group directories and the file name) are its place under the
      * write's output dir once the job commits. */
    def result(path: String): ((String, String), SliceFiles.Written) = {
      val p = new Path(path)
      val rel = s"${p.getParent.getParent.getName}/${p.getParent.getName}/" +
        p.getName
      group -> SliceFiles.Written(rel, rows, fresh,
        accs.map(a => a.c.name -> a.result(rows)).toMap, sizeBytes)
    }
  }

  private final class Acc(val c: Col) {
    private val ord = PhysicalDataType.ordering(c.dt)
    private var min: Any = null
    private var max: Any = null
    private var nulls = 0L
    // exact unscaled sum: a Long while it fits, the overflow carried here
    private var sumL = 0L
    private var sumCarry = java.math.BigInteger.ZERO
    private val bloom =
      if (c.bloom) Bloom.empty(bloomBits, Bloom.DefaultHashes) else null

    def add(row: InternalRow): Unit =
      if (row.isNullAt(c.ordinal)) nulls += 1
      else {
        val v = row.get(c.ordinal, c.dt)
        if (min == null || ord.lt(v, min)) min = InternalRow.copyValue(v)
        if (max == null || ord.gt(v, max)) max = InternalRow.copyValue(v)
        if (c.sum.isDefined) addSum(v)
        if (bloom != null) Bloom.add(bloom, v match {
          case s: UTF8String => s
          case _ => c.render.eval(InternalRow(v)).asInstanceOf[UTF8String]
        })
      }

    private def addSum(v: Any): Unit = v match {
      case d: Decimal if d.precision > Decimal.MAX_LONG_DIGITS =>
        sumCarry = sumCarry.add(d.toJavaBigDecimal.unscaledValue)
      case d: Decimal => addLong(d.toUnscaledLong)
      case n: java.lang.Number => addLong(n.longValue)
    }

    private def addLong(x: Long): Unit = {
      val r = sumL + x
      if (((sumL ^ r) & (x ^ r)) < 0) {
        sumCarry = sumCarry.add(java.math.BigInteger.valueOf(sumL))
          .add(java.math.BigInteger.valueOf(x))
        sumL = 0L
      } else sumL = r
    }

    private def str(e: Expression, v: Any): String =
      e.eval(InternalRow(v)).toString

    def result(rows: Long): ColStat = ColStat(
      min = Option(min).map(str(c.render, _)),
      max = Option(max).map(str(c.render, _)),
      nulls = Some(nulls),
      bloom = Option(bloom).map(Bloom.encode),
      sum = c.sum.filter(_ => nulls < rows).flatMap { case (scale, r) =>
        val exact = new java.math.BigDecimal(
          sumCarry.add(java.math.BigInteger.valueOf(sumL)), scale)
        val d = Decimal(exact)
        // Spark's sum rule: null on overflow, or an error under ANSI
        if (d.changePrecision(38, scale)) Some(str(r, d))
        else if (ansi) throw new ArithmeticException(
          s"sum of ${c.name} overflows decimal(38, $scale)")
        else None
      })
  }
}

private[write] object SliceStats {
  /** A tracked column: its ordinal in the written row, type, string
    * rendering, (scale, rendering) of its decimal(38) sum when summed,
    * and whether it carries a bloom. */
  final case class Col(name: String, ordinal: Int, dt: DataType,
      render: Expression, sum: Option[(Int, Expression)], bloom: Boolean)

  /** A partition value as the writer names its directory. */
  def groupValue(values: InternalRow, i: Int): String =
    if (values.isNullAt(i)) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    else {
      val v = values.getUTF8String(i).toString
      if (v.isEmpty) ExternalCatalogUtils.DEFAULT_PARTITION_NAME else v
    }
}

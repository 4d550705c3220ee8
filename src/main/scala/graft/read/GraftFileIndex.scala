package graft.read

import graft.format.{ColStat, MetaCols}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst-automatic partition pruning AND column-stats file skipping for
  * snapshot scans.
  *
  * Partition pruning: the snapshot planner already knows each slice's
  * partition path from commit metadata; this `FileIndex` hands that
  * knowledge to Catalyst by declaring `_hoodie_partition_path` as a
  * PARTITION column of the relation. `PruneFileSourcePartitions` then routes
  * any predicate on it into [[listFiles]]' `partitionFilters`, so the normal
  * user idiom `snapshot.filter($"_hoodie_partition_path" === "p0")` plans
  * ONLY the matching partitions' slices — listing-time pruning, before a
  * single footer or row group is touched. (The reference delegates exactly
  * this to Hudi's file-system view, ref: DeleteSupport.java:42-46.)
  *
  * File skipping (the Hudi column-stats-index analog): commits record
  * per-file min/max/null-count for the record key and writer-declared hot
  * columns ([[graft.format.ColStat]]); `listFiles` evaluates the pushed
  * `dataFilters` against each candidate file's ranges and DROPS files whose
  * recorded range proves no row can match — a key point-lookup plans one
  * file per partition instead of every file group, before any footer read.
  * Evaluation is strictly conservative: unsupported predicate shapes,
  * untracked columns, and pre-stats files all keep the file. At 100 TB this
  * turns key lookups and time-range queries from full-partition scans into
  * O(1)-file plans — the same metadata-first skipping Hudi's column-stats
  * index and Delta's data skipping perform.
  *
  * The data files carry `_hoodie_partition_path` as a regular column too;
  * the relation's data schema EXCLUDES it, so each row's value comes from
  * the (identical) directory-level partition value and the stored column
  * is simply never requested — the standard lakehouse-format layout.
  *
  * No directory listing ever happens here: the slice list IS the file
  * list (one `getFileStatus` per planned file, driver metadata-scale, no
  * footer reads — the table schema comes from commit metadata).
  *
  * Bucket-index pruning (the Hudi bucket-index analog): the writers route
  * each record to file group `<part>-<pmod(xxhash64(key), buckets)>` with
  * the bucket count PINNED in commit metadata at table creation, so a
  * pushed `_hoodie_record_key = k` (or IN-list) predicate identifies
  * exactly ONE candidate bucket per partition — the same hash that routed
  * the key on write locates it on read. Unlike min/max skipping this stays
  * exact at ANY key density: once keys are dense every hash bucket's
  * [min,max] spans the whole key space and range stats prune nothing,
  * while the bucket check still plans one file per partition.
  *
  * @param fileStats recorded column stats keyed by FILE NAME then column
  *                  name (from [[graft.format.Timeline.fileColStats]]);
  *                  empty disables skipping.
  * @param dataSchema types for parsing the stats' string-rendered min/max
  *                   back to comparable values.
  * @param buckets   the table's pinned bucket count (from commit metadata,
  *                  resolved as-of the snapshot's instant); None disables
  *                  bucket pruning (tables created before bucket recording).
  */
final class GraftFileIndex(
    override val rootPaths: Seq[Path],
    partFiles: Seq[(String, Seq[FileStatus])],
    dataSchema: StructType = new StructType(),
    fileStats: Map[String, Map[String, ColStat]] = Map.empty,
    buckets: Option[Int] = None)
  extends FileIndex {

  override val partitionSchema: StructType = GraftFileIndex.PartitionSchema

  /** String-rendered stats parsed back to typed (comparable) values, once
    * per index instance — metadata-sized (#files × #tracked columns). */
  private lazy val parsedStats
      : Map[String, Map[String, GraftFileIndex.FileColStat]] =
    fileStats.view.mapValues(GraftFileIndex.parse(_, dataSchema))
      .filter(_._2.nonEmpty).toMap

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val selected = if (partitionFilters.isEmpty) partFiles
    else {
      // Standard partition-pruning evaluation (the PartitioningAwareFileIndex
      // pattern): bind the predicate to the 1-column partition row and keep
      // matching partitions. Attribute lookup honors spark.sql.caseSensitive
      // and fails with a clear message if a filter was routed here with an
      // attribute outside the partition schema (instead of an opaque
      // index-out-of-bounds from position -1).
      val caseSensitive = org.apache.spark.sql.internal.SQLConf.get
        .caseSensitiveAnalysis
      val bound = Predicate.createInterpreted(
        partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.indexWhere(f =>
              if (caseSensitive) f.name == a.name
              else f.name.equalsIgnoreCase(a.name))
            require(i >= 0,
              s"partition filter attribute '${a.name}' is not a partition " +
                s"column (${partitionSchema.fieldNames.mkString(", ")})")
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
      partFiles.filter { case (part, _) =>
        bound.eval(InternalRow(UTF8String.fromString(part)))
      }
    }
    val statsSkipped =
      if (dataFilters.isEmpty || parsedStats.isEmpty) selected
      else selected
        .map { case (part, files) =>
          part -> files.filter(f => GraftFileIndex.mayMatchFile(
            dataFilters, parsedStats.get(f.getPath.getName)))
        }
        .filter(_._2.nonEmpty)
    // Bucket-index pruning, AND-composed with stats skipping (each is
    // independently conservative). A file whose name doesn't parse to a
    // bucket < the pinned count is kept (pre-bucketing layouts, null-key
    // groups).
    val skipped = buckets match {
      case Some(n) if dataFilters.nonEmpty && n > 0 =>
        statsSkipped
          .map { case (part, files) =>
            part -> files.filter { f =>
              GraftFileIndex.bucketOfFileName(f.getPath.getName, n).forall(
                b => dataFilters.forall(
                  GraftFileIndex.mayMatchBucket(_, b, n)))
            }
          }
          .filter(_._2.nonEmpty)
      case _ => statsSkipped
    }
    skipped.map { case (part, files) =>
      PartitionDirectory(InternalRow(UTF8String.fromString(part)),
        files.toArray)
    }
  }

  override def inputFiles: Array[String] =
    partFiles.flatMap(_._2.map(_.getPath.toString)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = partFiles.flatMap(_._2).map(_.getLen).sum
}

/** Parquet format whose WRITE path is disabled: Spark's analyzer happily
  * plans `INSERT INTO` against any `HadoopFsRelation`, and a raw file
  * insert into a versioned table would land parquet files the timeline
  * never records — accepted, then silently invisible to every reader
  * (observed before this guard). Reads (vectorized scan, filter pushdown,
  * partition pruning) are inherited unchanged; only `prepareWrite` — the
  * first step of any insert plan — refuses, pointing at the real write
  * surface. */
private[read] final class GraftReadOnlyParquetFormat
    extends ParquetFileFormat {
  override def prepareWrite(sparkSession: org.apache.spark.sql.SparkSession,
      job: org.apache.hadoop.mapreduce.Job,
      options: Map[String, String],
      dataSchema: StructType)
      : org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(
      "graft tables do not support INSERT INTO (raw file writes bypass " +
        "the commit timeline and would be invisible to readers); write " +
        """through df.write.format("graft") (upsert/delete by key) or """ +
        "the CowWriter/MorWriter APIs instead")
}

object GraftFileIndex {

  /** The one partition column every slice layout shares. */
  val PartitionSchema: StructType = StructType(Seq(
    StructField(MetaCols.PartitionPath, StringType, nullable = true)))

  /** One column's parsed stats for one file: typed min/max (internal
    * representation — UTF8String/Int/Long/...), null count, and the
    * ordering that compares them. min/max `None` with `nulls > 0` means
    * the file's column is entirely null. `bloom` is the decoded
    * k-prefixed bitset payload when the writer recorded one
    * ([[graft.format.Bloom]]). */
  private[graft] final case class FileColStat(
      dataType: DataType,
      min: Option[Any],
      max: Option[Any],
      nulls: Option[Long],
      ord: Ordering[Any],
      bloom: Option[Array[Byte]] = None,
      /** Typed per-file sum (Long for integral columns, `Decimal` at
        * `sumResultType` precision for decimal columns — Spark's exact
        * `sum` result types); None when unrecorded or the column is
        * entirely null in the file. */
      sum: Option[Any] = None)

  /** Spark's `sum(col)` result type for the recordable EXACT numeric
    * types: integral → Long, decimal(p,s) → decimal(p+10,s) bounded at 38
    * (matching `Sum.resultType`). Float/double return None — fp addition
    * is order-dependent, so recorded fp sums could never support an exact
    * metadata fold (r10; the fractional path was the r9 `q_v2_sum`
    * defect). */
  private[graft] def sumResultType(dt: DataType): Option[DataType] =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType =>
        Some(org.apache.spark.sql.types.LongType)
      case d: org.apache.spark.sql.types.DecimalType =>
        Some(boundedDecimal(d.precision + 10, d.scale))
      case _ => None
    }

  /** `DecimalType.bounded` (private[sql] in Spark): precision and scale
    * capped at MAX_PRECISION = 38. */
  private[graft] def boundedDecimal(precision: Int, scale: Int)
      : org.apache.spark.sql.types.DecimalType =
    org.apache.spark.sql.types.DecimalType(
      math.min(precision, 38), math.min(scale, 38))

  /** Parse one file's recorded stats against the relation's data schema.
    * Columns missing from the schema (or failing to parse) are dropped —
    * skipping stays conservative. (Shared with the DSv2 metadata-aggregate
    * pushdown, [[graft.sources.GraftCatalog]].) */
  private[graft] def parse(stats: Map[String, ColStat],
      schema: StructType): Map[String, FileColStat] = {
    val tz = Some(org.apache.spark.sql.internal.SQLConf.get
      .sessionLocalTimeZone)
    def typed(s: String, dt: DataType): Option[Any] =
      try Option(Cast(Literal(UTF8String.fromString(s), StringType), dt, tz)
        .eval(null))
      catch { case scala.util.control.NonFatal(_) => None }
    stats.flatMap { case (name, st) =>
      schema.fields.find(_.name == name).flatMap { f =>
        val ord = try Some(org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(f.dataType))
        catch { case scala.util.control.NonFatal(_) => None }
        ord.flatMap { o =>
          val mn = st.min.flatMap(typed(_, f.dataType))
          val mx = st.max.flatMap(typed(_, f.dataType))
          // a recorded non-null min/max that fails to parse disables this
          // column's stat (conservative) rather than masquerading as
          // "all null"
          val sm = for {
            srt <- sumResultType(f.dataType)
            raw <- st.sum
            v <- typed(raw, srt)
          } yield v
          if (st.min.isDefined != mn.isDefined ||
              st.max.isDefined != mx.isDefined) None
          else Some(name -> FileColStat(f.dataType, mn, mx, st.nulls, o,
            bloom = st.bloom.flatMap(graft.format.Bloom.decode),
            sum = sm))
        }
      }
    }
  }

  /** Can any row of a file with these stats match ALL the filters?
    * `None`/empty stats → yes (no skipping evidence). */
  private[read] def mayMatchFile(filters: Seq[Expression],
      stats: Option[Map[String, FileColStat]]): Boolean =
    stats match {
      case Some(s) if s.nonEmpty => filters.forall(mayMatch(_, s))
      case _ => true
    }

  /** Conservative range evaluation of one predicate against per-column
    * file stats: `false` only when the stats PROVE no row can match.
    * Unsupported shapes, untracked columns, type mismatches → `true`. */
  private[read] def mayMatch(e: Expression,
      stats: Map[String, FileColStat]): Boolean = {
    val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
    def statOf(a: Attribute, expect: DataType): Option[FileColStat] =
      stats.collectFirst {
        case (n, st) if resolver(n, a.name) && st.dataType == expect => st
      }
    // possible iff some non-null value v in [min,max] satisfies test
    def rangeCheck(a: Attribute, v: Any, dt: DataType)(
        test: (FileColStat, Any) => Boolean): Boolean =
      if (v == null) true // null-literal compares match nothing; keep (safe)
      else statOf(a, dt).forall(st => test(st, v))
    // bloom membership AND-composes with the range test: the bloom hashes
    // the value's cast-to-string rendering — the same canonical form the
    // writer's aggregate hashed — so a clear miss PROVES absence (no false
    // negatives); rendering failure keeps the file (conservative)
    def bloomPossible(st: FileColStat, v: Any): Boolean =
      st.bloom.forall { bl =>
        (try Option(Cast(Literal(v, st.dataType), StringType,
          Some(org.apache.spark.sql.internal.SQLConf.get
            .sessionLocalTimeZone)).eval(null))
        catch { case scala.util.control.NonFatal(_) => None }) match {
          case Some(s: UTF8String) => graft.format.Bloom.mightContain(bl, s)
          case _ => true
        }
      }
    def eqPossible(st: FileColStat, v: Any): Boolean =
      st.min.exists(m => st.ord.lteq(m, v)) &&
        st.max.exists(x => st.ord.gteq(x, v)) &&
        bloomPossible(st, v)
    e match {
      case And(l, r) => mayMatch(l, stats) && mayMatch(r, stats)
      case Or(l, r) => mayMatch(l, stats) || mayMatch(r, stats)

      case EqualTo(a: Attribute, Literal(v, dt)) =>
        rangeCheck(a, v, dt)(eqPossible)
      case EqualTo(Literal(v, dt), a: Attribute) =>
        rangeCheck(a, v, dt)(eqPossible)
      case EqualNullSafe(a: Attribute, Literal(v, dt)) =>
        if (v == null) mayMatch(IsNull(a), stats)
        else rangeCheck(a, v, dt)(eqPossible)
      case EqualNullSafe(Literal(v, dt), a: Attribute) =>
        mayMatch(EqualNullSafe(a, Literal(v, dt)), stats)

      case LessThan(a: Attribute, Literal(v, dt)) => // a < v
        rangeCheck(a, v, dt)((st, x) => st.min.exists(st.ord.lt(_, x)))
      case LessThan(Literal(v, dt), a: Attribute) => // a > v
        rangeCheck(a, v, dt)((st, x) => st.max.exists(st.ord.gt(_, x)))
      case LessThanOrEqual(a: Attribute, Literal(v, dt)) =>
        rangeCheck(a, v, dt)((st, x) => st.min.exists(st.ord.lteq(_, x)))
      case LessThanOrEqual(Literal(v, dt), a: Attribute) =>
        rangeCheck(a, v, dt)((st, x) => st.max.exists(st.ord.gteq(_, x)))
      case GreaterThan(a: Attribute, Literal(v, dt)) => // a > v
        rangeCheck(a, v, dt)((st, x) => st.max.exists(st.ord.gt(_, x)))
      case GreaterThan(Literal(v, dt), a: Attribute) =>
        rangeCheck(a, v, dt)((st, x) => st.min.exists(st.ord.lt(_, x)))
      case GreaterThanOrEqual(a: Attribute, Literal(v, dt)) =>
        rangeCheck(a, v, dt)((st, x) => st.max.exists(st.ord.gteq(_, x)))
      case GreaterThanOrEqual(Literal(v, dt), a: Attribute) =>
        rangeCheck(a, v, dt)((st, x) => st.min.exists(st.ord.lteq(_, x)))

      case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
        list.exists { case Literal(v, dt) =>
          rangeCheck(a, v, dt)(eqPossible) }
      case InSet(a: Attribute, hset) =>
        hset.exists(v => rangeCheck(a, v, a.dataType)(eqPossible))

      case StartsWith(a: Attribute, Literal(p: UTF8String, StringType)) =>
        // rows starting with prefix p exist only if [min, max] intersects
        // [p, p·∞): max >= p and min truncated to |p| chars <= p
        statOf(a, StringType).forall { st =>
          st.max.exists(x => x.asInstanceOf[UTF8String].compareTo(p) >= 0) &&
            st.min.exists(m => m.asInstanceOf[UTF8String]
              .substring(0, p.numChars()).compareTo(p) <= 0)
        }

      case IsNull(a: Attribute) =>
        stats.collectFirst { case (n, st) if resolver(n, a.name) => st }
          .forall(_.nulls.forall(_ > 0))
      case IsNotNull(a: Attribute) =>
        // skip only a provably all-null file: no non-null min/max AND a
        // recorded positive null count
        stats.collectFirst { case (n, st) if resolver(n, a.name) => st }
          .forall(st => st.min.nonEmpty || st.max.nonEmpty ||
            !st.nulls.exists(_ > 0))

      case _ => true
    }
  }

  /** The write-side bucket of a record key: `pmod(xxhash64(key), n)` —
    * computed through the SAME Catalyst hash the writers' `fileIdCol`
    * evaluates ([[graft.write.CowWriter]]), so driver-side routing is
    * bit-identical to the distributed write (identity pinned in
    * BucketPruningSpec). The one bucket arithmetic of every reader: file
    * pruning here, the catalog's `bucket` function and runtime filters. */
  private[graft] def keyBucket(key: UTF8String, n: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(key, StringType, 42L)
    (((h % n) + n) % n).toInt
  }

  /** The bucket encoded in a slice file name
    * `<partition>-<bucket>_<ts>[.delta].parquet`; None (→ no pruning for
    * the file) when the name doesn't parse or the bucket is outside the
    * pinned count. */
  private[graft] def bucketOfFileName(name: String, n: Int): Option[Int] = {
    val stem = name.stripSuffix(".parquet").stripSuffix(".delta")
    val us = stem.lastIndexOf('_')
    if (us <= 0) None else bucketOfFileId(stem.substring(0, us), n)
  }

  /** The bucket suffix of a file-group id `<partition>-<bucket>`. */
  private[graft] def bucketOfFileId(fid: String, n: Int): Option[Int] = {
    val dash = fid.lastIndexOf('-')
    if (dash < 0) None
    else fid.substring(dash + 1).toIntOption.filter(b => b >= 0 && b < n)
  }

  /** Can any row of a file in bucket `fileBucket` (of `n`) match this
    * predicate? Conservative: only key-equality shapes restrict —
    * a `_hoodie_record_key = k` conjunct restricts to `keyBucket(k, n)`,
    * IN-lists to the union of their literals' buckets; every other shape
    * (ranges, other columns, NOT, null literals) returns true. Sound
    * because the writers route EVERY version of a key — inserts, updates,
    * MOR delete markers — to the same bucket. */
  private[read] def mayMatchBucket(e: Expression, fileBucket: Int,
      n: Int): Boolean = {
    val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
    def isKey(a: Attribute): Boolean = resolver(a.name, MetaCols.RecordKey)
    def eqKey(v: Any): Boolean = v match {
      case s: UTF8String => keyBucket(s, n) == fileBucket
      case _ => true // null literal / non-string: no bucket evidence
    }
    e match {
      case And(l, r) =>
        mayMatchBucket(l, fileBucket, n) && mayMatchBucket(r, fileBucket, n)
      case Or(l, r) =>
        mayMatchBucket(l, fileBucket, n) || mayMatchBucket(r, fileBucket, n)
      case EqualTo(a: Attribute, Literal(v, StringType)) if isKey(a) =>
        eqKey(v)
      case EqualTo(Literal(v, StringType), a: Attribute) if isKey(a) =>
        eqKey(v)
      case EqualNullSafe(a: Attribute, Literal(v, StringType))
          if isKey(a) && v != null => eqKey(v)
      case EqualNullSafe(Literal(v, StringType), a: Attribute)
          if isKey(a) && v != null => eqKey(v)
      case In(a: Attribute, list)
          if isKey(a) && list.forall(_.isInstanceOf[Literal]) =>
        list.exists { case Literal(v, _) => eqKey(v) }
      case InSet(a: Attribute, hset) if isKey(a) =>
        hset.exists(eqKey)
      case _ => true
    }
  }

  /** Mount a pruning parquet relation over concrete slice files.
    *
    * @param fullSchema the table schema (commit-metadata-resolved — MUST
    *                   contain `_hoodie_partition_path`); the relation's
    *                   data schema is `fullSchema` minus the partition
    *                   column, and the result is re-projected to
    *                   `fullSchema`'s column order so the scan is a drop-in
    *                   for a plain multi-path parquet read.
    * @param partFiles  (partitionPath, absolute file paths) per partition.
    * @param fileStats  per-file column stats by file name (enables data-
    *                   filter file skipping); empty disables.
    */
  def scan(spark: SparkSession, basePath: String,
      partFiles: Seq[(String, Seq[String])],
      fullSchema: StructType,
      fileStats: Map[String, Map[String, ColStat]] = Map.empty,
      buckets: Option[Int] = None): DataFrame = {
    val df = Bridge.ofRows(spark,
      LogicalRelation(relation(spark, basePath, partFiles, fullSchema,
        fileStats, buckets)))
    // restore the canonical column order (partition cols mount at the end)
    df.select(fullSchema.fieldNames.map(org.apache.spark.sql.functions.col)
      .toIndexedSeq: _*)
  }

  /** The underlying pruning `HadoopFsRelation` (also served as the batch
    * `spark.read.format("graft")` relation — see
    * [[graft.streaming.GraftSourceProvider]]). */
  def relation(spark: SparkSession, basePath: String,
      partFiles: Seq[(String, Seq[String])],
      fullSchema: StructType,
      fileStats: Map[String, Map[String, ColStat]] = Map.empty,
      buckets: Option[Int] = None)
      : HadoopFsRelation = {
    require(fullSchema.fieldNames.contains(MetaCols.PartitionPath),
      s"table schema must carry ${MetaCols.PartitionPath}")
    val fs = new Path(basePath).getFileSystem(
      spark.sessionState.newHadoopConf())
    val statuses = partFiles.map { case (part, paths) =>
      part -> paths.map(p => fs.getFileStatus(new Path(p)))
    }
    val dataSchema = StructType(
      fullSchema.filterNot(_.name == MetaCols.PartitionPath))
    HadoopFsRelation(
      location = new GraftFileIndex(Seq(new Path(basePath)), statuses,
        dataSchema, fileStats, buckets),
      partitionSchema = PartitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new GraftReadOnlyParquetFormat,
      options = Map.empty)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
  }
}

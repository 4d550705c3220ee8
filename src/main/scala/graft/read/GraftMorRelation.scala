package graft.read

import graft.format.{MetaCols, Timeline}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** Shared shape of the format surface's V1 `PrunedFilteredScan` relations
  * (MOR snapshot merge, incremental range, delete view): the subclass
  * provides the declarative plan — receiving the pushed filters for any
  * metadata-level pruning it can do — and this trait applies every
  * translatable filter as a Column on top (Catalyst re-pushes them into
  * the inner plan wherever legal), projects the required columns, and
  * hands the OPTIMIZED plan's InternalRows straight through
  * (`needConversion = false`, the JDBC-relation pattern — no Row
  * round-trip). Keeping the filter translation and scan assembly in one
  * place means the three relations cannot drift apart. */
private[read] trait GraftFilteredScan extends BaseRelation
    with PrunedFilteredScan {

  protected def session: SparkSession

  /** The declarative plan for this scan. `filters` are the pushed source
    * filters, offered for METADATA-level pruning only — row-level
    * application happens in [[buildScan]] regardless. */
  protected def planScan(filters: Array[Filter]): DataFrame

  override def sqlContext: SQLContext = session.sqlContext
  override def needConversion: Boolean = false

  /** Filters this relation fully applies itself (everything expressible as
    * a Column); the engine re-evaluates only what's returned here. */
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filterNot(f => GraftMorRelation.toColumn(f).isDefined)

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val filtered = filters.flatMap(GraftMorRelation.toColumn)
      .foldLeft(planScan(filters))((df, c) => df.filter(c))
    filtered.select(requiredColumns.map(GraftMorRelation.attr).toIndexedSeq: _*)
      .queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

/** Batch `spark.read.format("graft")` relation for snapshots that NEED the
  * MOR merge (file groups with outstanding deltas) — the case a plain file
  * relation cannot express, previously rejected by the format surface.
  *
  * Shape: a V1 `PrunedFilteredScan`. The V1 scan contract is exactly the
  * lazy-planning point the merge needs — `buildScan` receives the user's
  * pushed filters BEFORE any file is planned, so:
  *
  *  1. **Metadata-level partition pruning on BOTH merge sides.** Predicates
  *     on `_hoodie_partition_path` provably required by the filter tree
  *     ([[GraftMorRelation.partitionValues]]) prune the file-GROUP set
  *     before the merge is planned. This is lossless — a partition is a
  *     superset of its file groups, and the merge never crosses file
  *     groups (all versions of a key live in its one group) — and it
  *     closes the base/delta pruning asymmetry: the r5 FileIndex
  *     pruned only the base-file side, deltas were row-filtered post-merge.
  *     At 100 TB this is the difference between merging one partition's
  *     un-compacted groups and merging all of them.
  *  2. **One merge for every surface.** The scan body IS
  *     [[SnapshotReader.merge]]'s plan (pruning FileIndex on base-only
  *     groups, the shared per-file-group reader on dirty ones) with the
  *     pushed filters applied on top — Catalyst pushes them into the
  *     base-only parquet scan; on merged groups they apply post-merge.
  *
  * The reference serves its view as a plain `Dataset<Row>` with no
  * compaction precondition (ref: DeleteSupport.java:89-96); this relation
  * gives the format surface the same totality.
  */
final class GraftMorRelation(
    protected val session: SparkSession,
    basePath: String,
    asOf: Option[String],
    override val schema: StructType,
    presetPartitions: Seq[String] = Seq.empty,
    initialTimeline: Option[Timeline] = None) extends GraftFilteredScan {

  /** Absolute data-file paths the last `buildScan` planned (base + delta) —
    * observability/test hook for the metadata-pruning contract; the V1 RDD
    * hides them from `DataFrame.inputFiles`. */
  @volatile private[graft] var lastPlannedFiles: Seq[String] = Seq.empty

  override protected def planScan(filters: Array[Filter]): DataFrame = {
    // r18 (metadata-read trimming): a TIME-TRAVEL scan (asOf pinned) may
    // reuse the constructor-time Timeline forever — commits are immutable
    // and archival is transparent, so the slices/schema/stats of a
    // snapshot ≤ asOf can never change. Latest-state scans keep a fresh
    // handle per scan (a reused df must see commits landed since).
    val timeline = initialTimeline.filter(_ => asOf.isDefined)
      .getOrElse(Timeline(session.sessionState.newHadoopConf(), basePath))
    val all = timeline.latestSlices(asOf).values.toSeq
      // the engine API's explicit `partitions` parameter, pre-applied
      .filter(s => presetPartitions.isEmpty ||
        presetPartitions.contains(s.partitionPath))
    val partPruned = GraftMorRelation.partitionValues(filters) match {
      case Some(parts) => all.filter(s => parts.contains(s.partitionPath))
      case None => all
    }
    // SLICE-level column-stats skipping (the MOR analog of the delta-free
    // FileIndex's per-file skipping): drop a whole file GROUP only when the
    // base file AND every delta file each PROVE exclusion of the pushed
    // filters — base and deltas share fate, because if every version of
    // every row excludes the predicate, so does the merged current version
    // (updates replace values from an excluded range with values from an
    // excluded range; delete markers only remove rows). Any file without
    // usable stats keeps its whole slice (conservative).
    val statsFilters = filters.toSeq
      .flatMap(GraftMorRelation.statsPredicate(_, schema))
    val statsPruned =
      if (statsFilters.isEmpty) partPruned
      else {
        val parsed = timeline.fileColStats(partPruned).view
          .mapValues(GraftFileIndex.parse(_, schema))
          .filter(_._2.nonEmpty).toMap
        if (parsed.isEmpty) partPruned
        else partPruned.filter { sl =>
          val names = (sl.relPath.toSeq ++ sl.deltas.map(_.relPath))
            .map(rp => rp.substring(rp.lastIndexOf('/') + 1))
          names.isEmpty ||
            names.exists(n =>
              GraftFileIndex.mayMatchFile(statsFilters, parsed.get(n)))
        }
      }
    // Bucket-index pruning at the file-GROUP level: every version of a key
    // — base row, delta upsert, delete marker — is routed to the group
    // whose bucket the pinned-count hash names, so a key-equality filter
    // keeps exactly that group per partition. Sound under the same
    // share-fate argument as slice stats skipping; exact at any key
    // density (where dense keys defeat min/max ranges).
    val slices = SnapshotReader.recordedBuckets(timeline, asOf) match {
      case Some(n) if statsFilters.nonEmpty && n > 0 =>
        statsPruned.filter { sl =>
          GraftFileIndex.bucketOfFileId(sl.fileId, n).forall(b =>
            statsFilters.forall(GraftFileIndex.mayMatchBucket(_, b, n)))
        }
      case _ => statsPruned
    }
    lastPlannedFiles = slices.flatMap(s =>
      (s.relPath.toSeq ++ s.deltas.map(_.relPath))
        .map(rp => s"$basePath/$rp"))
    if (slices.isEmpty) // filters selected no partition/range: empty, not error
      session.createDataFrame(session.sparkContext.emptyRDD[Row], schema)
    else SnapshotReader.merge(session, basePath, slices, Some(timeline), asOf)
  }
}

/** Incremental read behind the format surface:
  * `spark.read.format("graft").option("from", c1).option("to", c2)` — the
  * current state of every record written in `(from, to]`, planned by
  * [[IncrementalReader]] (only the file groups the range's commits wrote
  * enter the plan). Pushed partition predicates become IncrementalReader's
  * metadata-level `partitions` pruning. */
final class GraftIncrementalRelation(
    protected val session: SparkSession,
    basePath: String,
    fromExclusive: String,
    toInclusive: String,
    override val schema: StructType) extends GraftFilteredScan {

  override protected def planScan(filters: Array[Filter]): DataFrame = {
    val parts = GraftMorRelation.partitionValues(filters)
      .map(_.toSeq.sorted).getOrElse(Seq.empty)
    IncrementalReader.read(session, basePath, fromExclusive,
      toInclusive, partitions = parts)
  }
}

/** Change feed behind the format surface:
  * `spark.read.format("graft").option("from", c1).option("to", c2)
  * .option("cdc", "true")` — every row-level change in `(from, to]`
  * tagged `_change_type`/`_change_commit_ts`, planned by [[ChangeFeed]]
  * (per-commit touched-group-bounded plans; the delete side is the
  * reference's delete view). Pushed filters apply row-level via the
  * shared scan trait (CDC rows span commits and change types — no
  * metadata pruning shape to exploit beyond what each per-commit plan
  * already does). */
final class GraftChangeFeedRelation(
    protected val session: SparkSession,
    basePath: String,
    fromExclusive: String,
    toInclusive: String,
    override val schema: StructType,
    preImages: Boolean = false) extends GraftFilteredScan {

  override protected def planScan(filters: Array[Filter]): DataFrame =
    ChangeFeed.read(session, basePath, fromExclusive, toInclusive, preImages)
}

/** The DELETE VIEW — the reference's core capability
  * (`DeleteSupport(path, ts).getDeleteDataset()`) — behind the format
  * surface: `spark.read.format("graft").option("deleteView", ts)`. The
  * rows deleted by commit `ts`, materialized-once/served-cached with the
  * same idempotence contract as `GraftTable.deleteView`. Schema comes
  * from the lazy plan (no materialization at relation-create time); the
  * first scan materializes, later scans read the cached view. */
final class GraftDeleteViewRelation(
    protected val session: SparkSession,
    basePath: String,
    ts: String) extends GraftFilteredScan {

  private val view = graft.deleteview.DeleteView(session, basePath, ts)

  override val schema: StructType = view.plan().schema

  override protected def planScan(filters: Array[Filter]): DataFrame =
    view.toDF()
}

object GraftMorRelation {

  /** The pushed filter's attribute as a Column, resolved as ONE quoted name
    * part — `col(a)` would PARSE the string, turning a column literally
    * named `a.b` into nested-field access (misresolution or analysis error
    * on filters this relation has declared handled). Source filters carry
    * plain top-level column names, so quoting is always the right reading. */
  private[read] def attr(a: String): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a))

  /** Translate a pushed source filter back to a Column predicate; None for
    * shapes the relation leaves to the engine (declared unhandled). */
  private[graft] def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(attr(a) === lit(v))
    case EqualNullSafe(a, v) => Some(attr(a) <=> lit(v))
    case GreaterThan(a, v) => Some(attr(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(attr(a) >= lit(v))
    case LessThan(a, v) => Some(attr(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(attr(a) <= lit(v))
    case In(a, vs) => Some(attr(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(attr(a).isNull)
    case IsNotNull(a) => Some(attr(a).isNotNull)
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case StringStartsWith(a, v) => Some(attr(a).startsWith(v))
    case StringEndsWith(a, v) => Some(attr(a).endsWith(v))
    case StringContains(a, v) => Some(attr(a).contains(v))
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  /** Translate a pushed source filter into a Catalyst predicate typed by
    * the relation schema, for evaluation against recorded per-file column
    * stats ([[GraftFileIndex.mayMatch]]) — slice-level skipping of MOR
    * file groups. Only shapes the stats evaluator understands translate;
    * `None` (and any value-conversion failure) keeps the file. Dropping an
    * untranslatable AND side is sound (fewer constraints → keep more); an
    * OR needs both sides. */
  private[read] def statsPredicate(f: Filter, schema: StructType)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def attrOf(name: String): Option[ce.AttributeReference] =
      schema.fields.find(_.name == name)
        .map(fd => ce.AttributeReference(fd.name, fd.dataType)())
    def cmp(a: String, v: Any)(
        mk: (ce.Expression, ce.Expression) => ce.Expression)
        : Option[ce.Expression] =
      attrOf(a).flatMap(ar =>
        scala.util.Try(mk(ar, ce.Literal.create(v, ar.dataType))).toOption)
    f match {
      case EqualTo(a, v) => cmp(a, v)(ce.EqualTo)
      case EqualNullSafe(a, v) => cmp(a, v)(ce.EqualNullSafe)
      case GreaterThan(a, v) => cmp(a, v)(ce.GreaterThan)
      case GreaterThanOrEqual(a, v) => cmp(a, v)(ce.GreaterThanOrEqual)
      case LessThan(a, v) => cmp(a, v)(ce.LessThan)
      case LessThanOrEqual(a, v) => cmp(a, v)(ce.LessThanOrEqual)
      case In(a, vs) => attrOf(a).flatMap(ar => scala.util.Try(
        ce.In(ar, vs.toSeq.map(v => ce.Literal.create(v, ar.dataType))))
        .toOption)
      case IsNull(a) => attrOf(a).map(ce.IsNull)
      case IsNotNull(a) => attrOf(a).map(ce.IsNotNull)
      case StringStartsWith(a, p) => attrOf(a).flatMap(ar =>
        scala.util.Try(ce.StartsWith(ar,
          ce.Literal.create(p, org.apache.spark.sql.types.StringType)))
          .toOption)
      case And(l, r) =>
        (statsPredicate(l, schema), statsPredicate(r, schema)) match {
          case (Some(x), Some(y)) => Some(ce.And(x, y))
          case (x, y) => x.orElse(y)
        }
      case Or(l, r) => for {
        x <- statsPredicate(l, schema)
        y <- statsPredicate(r, schema)
      } yield ce.Or(x, y)
      case _ => None
    }
  }

  /** Partition paths provably REQUIRED by the pushed filter set, for
    * metadata-level file-group pruning — sound only when an `=`/`IN` on
    * `_hoodie_partition_path` is a top-level conjunct (the pushed filters
    * are implicitly AND-ed; inside an AND both sides constrain). Any other
    * shape (OR with other columns, ranges, NOT) returns None: no metadata
    * pruning, the row-level filter still applies, correctness unaffected.
    * `IsNotNull(part)` is NOT a value constraint — ignored. */
  private[graft] def partitionValues(
      filters: Array[Filter]): Option[Set[String]] = {
    def fromConjunct(f: Filter): Option[Set[String]] = f match {
      case EqualTo(a, v: String) if a == MetaCols.PartitionPath =>
        Some(Set(v))
      case EqualNullSafe(a, v: String) if a == MetaCols.PartitionPath =>
        Some(Set(v))
      case In(a, vs) if a == MetaCols.PartitionPath =>
        Some(vs.collect { case s: String => s }.toSet)
      case And(l, r) => (fromConjunct(l), fromConjunct(r)) match {
        case (Some(x), Some(y)) => Some(x intersect y)
        case (x, y) => x.orElse(y)
      }
      case _ => None
    }
    val sets = filters.flatMap(fromConjunct)
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }
}

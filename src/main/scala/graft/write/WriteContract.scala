package graft.write

import graft.format.Timeline
import org.apache.spark.sql.SparkSession

/** A table's WRITE CONTRACT: the properties its creating commit records in
  * `extra` (and every overwrite re-records — a re-creation point), resolved
  * against what a writer declares. This is the one definition of those
  * keys and of their rules: the format writer, SQL DML, multi-table
  * transactions, compaction, layout rewrites and catalog `CREATE TABLE`
  * all resolve through [[WriteContract.resolve]], record
  * [[creationExtra]], and get their writer from [[writer]].
  *
  * @param key          record-key COLUMN NAME; None when neither declared
  *                     nor recorded (writers that re-derive identity from
  *                     the meta columns need none — see [[keyCol]])
  * @param partition    partition COLUMN NAME, same rule
  * @param buckets      file groups per partition: pins the key→file-group
  *                     routing of every later write
  * @param tableType    `cow` (commits rewrite touched groups) or `mor`
  *                     (commits append delta files)
  * @param precombine   event-time ordering column, if declared
  * @param deltaCounters `exact` or `off` (see [[WriteContract.DeltaCountersKey]])
  * @param statsCols    hot payload columns of the column-stats index
  * @param bloomCols    columns of the per-file bloom index
  * @param bloomBits    per-file bloom size in bits
  */
final case class WriteContract(
    key: Option[String],
    partition: Option[String],
    buckets: Int,
    tableType: String,
    precombine: Option[String],
    deltaCounters: String,
    statsCols: Seq[String],
    bloomCols: Seq[String],
    bloomBits: Int) {

  import WriteContract._

  /** The record-key column; refuses when neither declared nor recorded. */
  def keyCol: String = named(key, KeyColKey)

  /** The partition column; refuses when neither declared nor recorded. */
  def partitionCol: String = named(partition, PartColKey)

  /** The one map a table-creating commit records: every resolved property,
    * the optional ones only when set. [[WriteContract.resolve]] reads each
    * back unchanged. */
  def creationExtra: Map[String, String] =
    Map(BucketsKey -> buckets.toString, TypeKey -> tableType) ++
      key.map(KeyColKey -> _) ++ partition.map(PartColKey -> _) ++
      precombine.map(PrecombineKey -> _) ++
      (if (deltaCounters == Exact) Map.empty
       else Map(DeltaCountersKey -> deltaCounters)) ++
      (if (statsCols.isEmpty) Map.empty
       else Map(StatsColsKey -> statsCols.mkString(","))) ++
      (if (bloomCols.isEmpty) Map.empty
       else Map(BloomColsKey -> bloomCols.mkString(","),
         BloomBitsKey -> bloomBits.toString))

  /** The writer this contract selects — [[CowWriter]] rewrites touched file
    * groups, [[MorWriter]] appends deltas (its snapshot merge resolves the
    * ordering column, so only COW takes `precombine`). It plans and
    * publishes against `timeline`, the one this contract was resolved
    * from. */
  def writer(spark: SparkSession, path: String, timeline: Timeline,
      publish: Option[MultiTableTxn.CommitPublisher] = None): TableWriter =
    if (tableType == Mor)
      new MorWriter(spark, path, buckets, statsCols, bloomCols, bloomBits,
        publish, exactCounters = deltaCounters == Exact, Some(timeline))
    else
      new CowWriter(spark, path, buckets, statsCols, bloomCols, bloomBits,
        precombine, publish, Some(timeline))
}

object WriteContract {

  /** Record-key and partition COLUMN NAMES — what lets SQL DML (and
    * appends that omit the options) resolve a table's identity columns
    * from metadata. */
  val KeyColKey = "key"
  val PartColKey = "partition"

  /** Bucket count: pins the key→file-group routing, so later appends can't
    * silently re-bucket keys across file groups. */
  val BucketsKey = "buckets"

  /** Table type, `cow` or `mor`. */
  val TypeKey = "type"

  /** EVENT-TIME ordering column (Hudi's precombine field): the row version
    * with the GREATEST ordering value wins an upsert regardless of arrival
    * order — COW resolves at write time, MOR at merge time — so
    * late-arriving stale updates cannot shadow newer data. Deletes stay
    * ABSOLUTE (commit-ordered). Null ordering values lose to any non-null;
    * ties go to the newer commit. */
  val PrecombineKey = "precombine"

  /** `exact` (default) maintains the per-delta live counters
    * ([[FormatWriter.DeltaCountsKey]]); `off` skips the existence check they
    * require — a SNAPSHOT-KEY join per delta commit, table-sized however
    * small the batch — for DELETE-FREE deltas. The right declaration for
    * internal high-churn state tables consumed by joins, not metadata
    * COUNT(*): their delta commits carry no marker and every reader
    * declines the metadata fold for them. Deltas CARRYING DELETES always
    * compute exact counters — `totalRecordsDeleted` exactness is a
    * delete-view invariant. */
  val DeltaCountersKey = "deltaCounters"

  /** Comma-separated HOT payload columns tracked by the column-stats
    * skipping index (the record key is always tracked); may change per
    * write — stats are per-file. */
  val StatsColsKey = "stats"

  /** Comma-separated columns tracked by the per-file BLOOM skipping index
    * (equality/IN lookups on high-cardinality columns, see
    * [[graft.format.Bloom]]). */
  val BloomColsKey = "blooms"

  /** Per-file bloom size in bits (size to ~7× the expected per-file
    * distinct count — undersized blooms keep files, never drop wrongly). */
  val BloomBitsKey = "bloomBits"

  val Keys: Seq[String] = Seq(KeyColKey, PartColKey, BucketsKey, TypeKey,
    PrecombineKey, DeltaCountersKey, StatsColsKey, BloomColsKey, BloomBitsKey)

  val Cow = "cow"
  val Mor = "mor"
  val Exact = "exact"
  val DefaultBuckets = 8

  private def named(v: Option[String], name: String): String =
    v.getOrElse(throw new IllegalArgumentException(
      s"""graft write requires .option("$name", <column name>) """ +
        "(not recorded in this table's commit metadata)"))

  private def columns(v: String): Seq[String] =
    v.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** The newest recorded value of every contract key at or before `asOf`
    * ([[Timeline.recordedExtraAsOf]] per key): the properties are recorded
    * at creation and at every overwrite, so the newest carrier is the era
    * every slice of that snapshot was written under. */
  def recorded(tl: Timeline, asOf: Option[String] = None)
      : Map[String, String] =
    Keys.flatMap(k => tl.recordedExtraAsOf(k, asOf).map(k -> _)).toMap

  /** The recorded event-time ordering column at or before `asOf` — what a
    * snapshot merge or change feed of that era orders row versions by. */
  def precombine(tl: Timeline, asOf: Option[String]): Option[String] =
    tl.recordedExtraAsOf(PrecombineKey, asOf)

  /** Resolve the contract a write to `tl`'s table follows: each property
    * is the `declared` value (format options, SQL `OPTIONS`/TBLPROPERTIES)
    * else the recorded one else the default (`cow`, 8 buckets, `exact`,
    * no stats/bloom columns). On an existing table a declaration that
    * CONTRADICTS the recorded key, partition, bucket count, type or
    * ordering column refuses — changing any of them mid-table splits record
    * identities or strands old row versions in groups an upsert never
    * rewrites — and so does declaring an ordering column the table never
    * recorded (rows written before it carry arbitrary ordering), or
    * writing without a bucket count to a table that records none.
    *
    * `recreate` marks a re-creation point (overwrite, rebucket): every
    * group is rewritten, so declarations simply win. */
  def resolve(tl: Timeline, declared: Map[String, String],
      recreate: Boolean = false): WriteContract = {
    val rec = recorded(tl)
    val exists = tl.completedInstants().nonEmpty
    def pinned[T](k: String, parse: String => T, what: String): Option[T] =
      (declared.get(k).map(parse), rec.get(k).map(parse)) match {
        case (Some(d), Some(r)) if d != r && !recreate =>
          throw new IllegalArgumentException(
            s"""$k=$d contradicts the table's recorded $what "$r"""")
        case (d, r) => d.orElse(r)
      }
    val lower = (s: String) => s.toLowerCase(java.util.Locale.ROOT)

    declared.get(TypeKey).map(lower).foreach(t => require(t == Cow || t == Mor,
      s"""graft type must be "$Cow" or "$Mor", got "$t""""))
    val buckets = pinned(BucketsKey, _.toInt, "bucket count").getOrElse {
      if (exists && !recreate) throw new IllegalArgumentException(
        s"no recorded bucket count: ${tl.basePath} records no bucket " +
          "count, and a write must keep the key→file-group routing of the " +
          "writer that created it — declare that writer's count " +
          """(.option("buckets", N) / OPTIONS (buckets 'N')) or rebucket""")
      DefaultBuckets
    }
    require(buckets >= 1, "buckets must be >= 1")
    val precombine = pinned(PrecombineKey, identity, "ordering column")
    if (exists && !recreate && declared.contains(PrecombineKey) &&
        !rec.contains(PrecombineKey))
      throw new IllegalArgumentException(
        "precombine is declared at table creation or overwrite; this " +
          "table records none (existing rows would carry arbitrary ordering)")
    val deltaCounters = lower(declared.get(DeltaCountersKey)
      .orElse(rec.get(DeltaCountersKey)).getOrElse(Exact))
    require(deltaCounters == Exact || deltaCounters == "off",
      s"""deltaCounters must be "$Exact" or "off", got "$deltaCounters"""")
    def latest(k: String) = declared.get(k).orElse(rec.get(k))
    WriteContract(
      key = pinned(KeyColKey, identity, "key column"),
      partition = pinned(PartColKey, identity, "partition column"),
      buckets = buckets,
      tableType = pinned(TypeKey, lower, "type").getOrElse(Cow),
      precombine = precombine,
      deltaCounters = deltaCounters,
      statsCols = latest(StatsColsKey).map(columns).getOrElse(Seq.empty),
      bloomCols = latest(BloomColsKey).map(columns).getOrElse(Seq.empty),
      bloomBits = latest(BloomBitsKey).map(_.toInt)
        .getOrElse(graft.format.Bloom.DefaultBits))
  }

  /** The payload columns the contract names, with their role — what
    * `ALTER TABLE … DROP COLUMNS` refuses to drop. Declared values first,
    * then recorded ones; never refuses (a column list, not a write). */
  def namedColumns(tl: Timeline, declared: Map[String, String])
      : Seq[(String, String)] = {
    val v = recorded(tl) ++ declared.filter { case (k, _) => Keys.contains(k) }
    Seq(KeyColKey -> "record-key column", PartColKey -> "partition column",
      PrecombineKey -> "precombine ordering column")
      .flatMap { case (k, role) => v.get(k).map(_ -> role) } ++
      Seq(StatsColsKey -> "declared stats column",
        BloomColsKey -> "declared bloom column")
        .flatMap { case (k, role) => v.get(k).toSeq.flatMap(columns).map(_ -> role) }
  }
}

package graft.read

import graft.format.{FileSlice, MetaCols, Timeline}
import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Predicate => CatalystPredicate, UnsafeProjection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.sources.{BaseRelation, PrunedScan}
import org.apache.spark.sql.types.{BooleanType, DataType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One file group's physical files: optional base + its delta files in
  * COMMIT ORDER, each as (absolute path, length in bytes). */
final case class MorGroupFiles(
    base: Option[(String, Long)], deltas: Array[(String, Long)]) {
  def bytes: Long = base.map(_._2).getOrElse(0L) + deltas.map(_._2).sum
}

/** A task that merges whole file groups (a merged group never splits: its
  * delta map must see the group's whole history). */
trait MorGroupsTask extends InputPartition {
  def groups: Array[MorGroupFiles]
}

/** Plain merge task: whole groups, bin-packed. */
final case class MorGroupsPartition(groups: Array[MorGroupFiles])
    extends MorGroupsTask

/** THE MOR merge, shared by every read surface: the snapshot reader's
  * dirty groups ([[SnapshotReader.merge]]) and the catalog's native scan
  * ([[graft.sources.GraftMorBatchScan]]) both run this reader.
  *
  * Merge execution (per group, inside the task — the classic MOR scanner
  * shape, cf. Hudi's merged-log-record reader): the group's DELTA files
  * are read first into a key→winner map, then the BASE file STREAMS
  * through it. Memory is O(un-compacted delta rows of the group), never
  * O(base rows); compaction bounds the map. No shuffle: all versions of a
  * key — base row, delta upsert, delete marker — live in the key's one
  * file group. Version resolution:
  *
  *  - no precombine: version order `(commit_time desc, is_deleted desc,
  *    seqno desc)` (within one commit a delete marker beats an upsert of
  *    the same key — delete-wins); the key emits its winner iff the winner
  *    is live (a null marker is neither live nor a delete).
  *  - precombine `pc`: the delete CUT is the max commit time among the
  *    key's delete markers (commit-ordered, absolute); among live
  *    versions newer than the cut the greatest `(pc desc nulls-last,
  *    commit_time desc, seqno desc)` wins. Late stale deltas cannot
  *    shadow newer data; rows written after a delete resurrect.
  *
  * `bound` predicates apply POST-merge only (pushing a value predicate
  * into the base/delta reads would be unsound: dropping a newer
  * non-matching version would resurrect an older matching one); `limit`
  * and `boundSort` shape each task's merged+filtered rows (partial
  * semantics — the engine's own limit/sort stays above). Partitions that
  * are not [[MorGroupsTask]]s are delegated to `clean` (delta-free
  * byte-range splits). All retained rows are copies (the parquet reader
  * reuses its row buffer). */
final case class MorMergeReaderFactory(
    baseReadFunc: Option[PartitionedFile => Iterator[InternalRow]],
    deltaReadFunc: Option[PartitionedFile => Iterator[InternalRow]],
    mergeSchema: StructType,
    requiredLen: Int,
    bound: Seq[Expression],
    keyIdx: Int, ctIdx: Int, seqIdx: Int, pcIdx: Int, pcType: DataType,
    isDelIdx: Int,
    limit: Option[Int] = None,
    clean: Option[PartitionReaderFactory] = None,
    boundSort: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder] =
      Seq.empty)
    extends PartitionReaderFactory {

  private def pf(path: String, len: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(path), 0, len)

  /** Merge state of one record key, folded over the group's delta rows.
    * `delCut` tracks the max commit time among delete markers; `best*`
    * tracks the greatest version under the no-precombine ordering;
    * `live` collects live versions for precombine resolution (compressed
    * to one row before the base streams). */
  private final class KeyState {
    var delCut: UTF8String = null // max ct among is_deleted=TRUE versions
    // no-precombine: streaming max by (ct, delRank, seq)
    var bestRow: InternalRow = null
    var bestCt: UTF8String = null
    var bestDel: Int = -1 // 2=deleted, 1=live, 0=null marker
    var bestSeq: UTF8String = null
    // precombine: live candidate versions (compressed post-delta-read)
    var live: scala.collection.mutable.ArrayBuffer[InternalRow] = null
  }

  @inline private def cmpNullable(a: UTF8String, b: UTF8String): Int =
    if (a == null && b == null) 0
    else if (a == null) -1
    else if (b == null) 1
    else a.compareTo(b)

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val groups: Array[MorGroupFiles] = partition match {
      case t: MorGroupsTask => t.groups
      // clean-group byte-range splits: the delta-free read path, no merge
      case p => return clean.getOrElse(throw new IllegalStateException(
        s"unexpected partition type $p")).createReader(p)
    }
    val pcOrdering: Ordering[Any] =
      if (pcIdx >= 0)
        org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(pcType)
      else null

    /** Winner among this key's LIVE versions newer than the delete cut,
      * by (pc desc nulls-last, ct desc, seq desc) — precombine mode. */
    def pcWinner(st: KeyState, extra: InternalRow): InternalRow = {
      var best: InternalRow = null
      var bestPc: Any = null
      var bc: UTF8String = null
      var bs: UTF8String = null
      def offer(r: InternalRow): Unit = {
        val ct = r.getUTF8String(ctIdx)
        if (st.delCut != null && cmpNullable(ct, st.delCut) <= 0) return
        val pc = if (r.isNullAt(pcIdx)) null else r.get(pcIdx, pcType)
        val seq = r.getUTF8String(seqIdx)
        val better =
          if (best == null) true
          else {
            // pc desc with NULLS LAST: any non-null beats null
            val c =
              if (pc == null && bestPc == null) 0
              else if (pc == null) -1
              else if (bestPc == null) 1
              else pcOrdering.compare(pc, bestPc)
            if (c != 0) c > 0
            else {
              val cc = cmpNullable(ct, bc)
              if (cc != 0) cc > 0 else cmpNullable(seq, bs) > 0
            }
          }
        if (better) { best = r; bestPc = pc; bc = ct; bs = seq }
      }
      if (st.live != null) st.live.foreach(offer)
      if (extra != null) offer(extra)
      best
    }

    /** Fold one delta-file row into the key's state. */
    def foldDelta(states: java.util.HashMap[UTF8String, KeyState],
        row: InternalRow): Unit = {
      val keyRef = row.getUTF8String(keyIdx)
      var st = states.get(keyRef)
      if (st == null) {
        st = new KeyState
        states.put(keyRef.clone(), st)
      }
      val delRank =
        if (row.isNullAt(isDelIdx)) 0
        else if (row.getBoolean(isDelIdx)) 2
        else 1
      val ct = row.getUTF8String(ctIdx)
      if (delRank == 2 && cmpNullable(ct, st.delCut) > 0)
        st.delCut = ct.clone()
      if (pcIdx >= 0) {
        if (delRank == 1) { // live candidate; cut applied at resolve time
          if (st.live == null)
            st.live = scala.collection.mutable.ArrayBuffer.empty
          st.live += row.copy()
        }
      } else {
        val seq = row.getUTF8String(seqIdx)
        val better = {
          val cc = cmpNullable(ct, st.bestCt)
          if (cc != 0) cc > 0
          else if (delRank != st.bestDel) delRank > st.bestDel
          else cmpNullable(seq, st.bestSeq) > 0
        }
        if (better) {
          val c = row.copy()
          st.bestRow = c
          st.bestCt = c.getUTF8String(ctIdx)
          st.bestDel = delRank
          st.bestSeq = c.getUTF8String(seqIdx)
        }
      }
    }

    /** Resolve a BASE row against its key's delta state (delta-version
      * comparisons mirror [[foldDelta]]; base rows are live, delRank 1). */
    def resolveBase(st: KeyState, row: InternalRow): InternalRow =
      if (pcIdx >= 0) {
        val ct = row.getUTF8String(ctIdx)
        val baseLive =
          st.delCut == null || cmpNullable(ct, st.delCut) > 0
        pcWinner(st, if (baseLive) row else null)
      } else {
        val ct = row.getUTF8String(ctIdx)
        val seq = row.getUTF8String(seqIdx)
        val baseBetter = {
          val cc = cmpNullable(ct, st.bestCt)
          if (cc != 0) cc > 0
          else if (1 != st.bestDel) 1 > st.bestDel
          else cmpNullable(seq, st.bestSeq) > 0
        }
        if (baseBetter) row
        else if (st.bestDel == 1) st.bestRow
        else null // winner is a delete marker (or a null-marked row)
      }

    /** The group's merged row stream. */
    def mergeGroup(g: MorGroupFiles): Iterator[InternalRow] = {
      val baseIt: Iterator[InternalRow] = g.base match {
        case Some((p, l)) => baseReadFunc.get(pf(p, l))
        case None => Iterator.empty
      }
      if (g.deltas.isEmpty) baseIt
      else {
        val states = new java.util.HashMap[UTF8String, KeyState]()
        g.deltas.foreach { case (p, l) =>
          deltaReadFunc.get(pf(p, l)).foreach(foldDelta(states, _))
        }
        if (pcIdx >= 0) { // compress: keep only the resolved live winner
          val it = states.values().iterator()
          while (it.hasNext) {
            val st = it.next()
            val w = pcWinner(st, null)
            st.live =
              if (w == null) null
              else scala.collection.mutable.ArrayBuffer(w)
          }
        }
        val merged = baseIt.flatMap { row =>
          val st = states.remove(row.getUTF8String(keyIdx))
          if (st == null) Iterator.single(row)
          else Option(resolveBase(st, row)).iterator
        }
        // keys with no base row: read the map only after the base drained
        val leftovers = Iterator.single(()).flatMap { _ =>
          scala.jdk.CollectionConverters
            .IteratorHasAsScala(states.values().iterator()).asScala
            .flatMap { st =>
              if (pcIdx >= 0)
                if (st.live == null) Iterator.empty else st.live.iterator
              else if (st.bestDel == 1) Iterator.single(st.bestRow)
              else Iterator.empty
            }
        }
        merged ++ leftovers
      }
    }

    TaskRows.reader(TaskRows.shape(groups.iterator.flatMap(mergeGroup),
      bound, limit, boundSort, mergeSchema, requiredLen))
  }
}

/** Per-task row shaping shared by the scan readers. */
object TaskRows {

  /** Row-exact re-verification of claimed predicates, then TopN/LIMIT with
    * PARTIAL semantics (the engine's own limit/sort stays above): TopN
    * keeps a bounded heap of the task's best n rows under the pushed
    * ordering — O(n) memory, one streaming pass; LIMIT stops after n
    * rows. Last, projection to the first `outLen` columns of `schema`
    * when filter/merge-only columns were read. Heap entries are copies
    * (readers reuse their row buffers). */
  def shape(rows: Iterator[InternalRow], bound: Seq[Expression],
      limit: Option[Int],
      sort: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder],
      schema: StructType, outLen: Int): Iterator[InternalRow] = {
    val filtered =
      if (bound.isEmpty) rows
      else {
        val p = CatalystPredicate.create(
          bound.reduce(org.apache.spark.sql.catalyst.expressions.And))
        p.initialize(0)
        rows.filter(p.eval)
      }
    val shaped: Iterator[InternalRow] = (limit, sort) match {
      case (Some(n), sort) if sort.nonEmpty =>
        val ord: Ordering[InternalRow] =
          new org.apache.spark.sql.catalyst.expressions.codegen
            .LazilyGeneratedOrdering(sort)
        val heap = new java.util.PriorityQueue[InternalRow](
          math.max(n, 1), ord.reverse) // peek = worst of the best n
        filtered.foreach { r =>
          if (heap.size < n) heap.offer(r.copy())
          else if (n > 0 && ord.compare(r, heap.peek()) < 0) {
            heap.poll(); heap.offer(r.copy())
          }
        }
        scala.jdk.CollectionConverters.IteratorHasAsScala(heap.iterator())
          .asScala
      case (Some(n), _) => filtered.take(n)
      case _ => filtered
    }
    if (schema.length == outLen) shaped
    else shaped.map(UnsafeProjection.create(
      (0 until outLen).map(i => BoundReference(i, schema.fields(i).dataType,
        schema.fields(i).nullable): Expression)))
  }

  def reader(it: Iterator[InternalRow]): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}

object MorMerge {

  private def resolver(session: SparkSession) =
    session.sessionState.conf.resolver

  /** The merge read schema: `required` first (the output projection is a
    * prefix take), then `extraCols` (filter/sort-only columns), then the
    * merge-forced record key, commit time, seqno and precombine column —
    * each looked up in `table` and added once. */
  def mergeSchema(session: SparkSession, required: StructType,
      extraCols: Seq[String], table: StructType,
      precombine: Option[String]): StructType = {
    val r = resolver(session)
    val have = scala.collection.mutable.ArrayBuffer(required.fields: _*)
    def ensure(name: String): Unit =
      if (!have.exists(f => r(f.name, name)))
        table.fields.find(f => r(f.name, name)).foreach(have += _)
    (extraCols ++ Seq(MetaCols.RecordKey, MetaCols.CommitTime,
      MetaCols.CommitSeqno) ++ precombine).foreach(ensure)
    StructType(have.toSeq)
  }

  /** The shared reader over `mergeSchema`: base files read with the base
    * writer schema, delta files with the delta writer schema plus the
    * delete marker LAST (so every shared field sits at the same ordinal in
    * base and delta rows). Columns a file predates read as null. */
  def readerFactory(session: SparkSession, baseSchema: Option[StructType],
      deltaSchema: Option[StructType], mergeSchema: StructType,
      requiredLen: Int, precombine: Option[String],
      bound: Seq[Expression] = Seq.empty, limit: Option[Int] = None,
      clean: Option[PartitionReaderFactory] = None,
      boundSort: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder] =
        Seq.empty): MorMergeReaderFactory = {
    val r = resolver(session)
    def idxOf(name: String): Int =
      mergeSchema.fields.indexWhere(f => r(f.name, name))
    val deltaReadSchema = StructType(mergeSchema.fields :+
      StructField(MetaCols.IsDeleted, BooleanType, nullable = true))
    // each reader builds on its OWN hadoopConf: buildReaderWithPartition-
    // Values stamps the requested schema INTO the conf it is given, so a
    // shared conf makes the last-built reader's schema leak into the others
    def freshConf() = session.sessionState.newHadoopConf()
    val rowOpts = Map(
      org.apache.spark.sql.graft.Bridge.returningBatchKey -> "false")
    // NO parquet-level predicate pushdown on either merge side (see the
    // factory scaladoc): predicates run post-merge
    def readFunc(ds: StructType, read: StructType) =
      org.apache.spark.sql.graft.Bridge.parquetReadFunc(
        session, ds, read, Seq.empty, rowOpts, freshConf())
    val pcIdx = precombine.map(idxOf).getOrElse(-1)
    MorMergeReaderFactory(baseSchema.map(readFunc(_, mergeSchema)),
      deltaSchema.map(readFunc(_, deltaReadSchema)), mergeSchema,
      requiredLen, bound,
      keyIdx = idxOf(MetaCols.RecordKey),
      ctIdx = idxOf(MetaCols.CommitTime),
      seqIdx = idxOf(MetaCols.CommitSeqno),
      pcIdx = pcIdx,
      pcType = if (pcIdx >= 0) mergeSchema.fields(pcIdx).dataType else null,
      isDelIdx = mergeSchema.length,
      limit = limit, clean = clean, boundSort = boundSort)
  }

  /** Recorded file sizes of the slices' base + delta files, keyed by
    * relative path (from the write stats — zero FS RPCs on current
    * tables; files from pre-size-recording commits are absent). */
  def recordedSizes(tl: Timeline, slices: Seq[FileSlice])
      : Map[String, Long] =
    slices.flatMap { sl =>
      def sized(ts: String, rel: String) =
        tl.metadata(ts).statByFileId(sl.fileId).flatMap(_._2.sizeBytes)
          .map(rel -> _)
      sl.relPath.flatMap(sized(sl.commitTs, _)).toSeq ++
        sl.deltas.flatMap(d => sized(d.commitTs, d.relPath))
    }.toMap

  /** One group's files with lengths: recorded sizes first, one
    * `getFileStatus` for any file that predates size recording. */
  def groupFiles(basePath: String, sl: FileSlice, sizes: Map[String, Long],
      conf: => org.apache.hadoop.conf.Configuration): MorGroupFiles = {
    lazy val fs = new org.apache.hadoop.fs.Path(basePath).getFileSystem(conf)
    def fileOf(rel: String): (String, Long) = {
      val p = new org.apache.hadoop.fs.Path(s"$basePath/$rel")
      (p.toString, sizes.getOrElse(rel, fs.getFileStatus(p).getLen))
    }
    MorGroupFiles(sl.relPath.map(fileOf),
      sl.deltas.sortBy(_.commitTs).map(d => fileOf(d.relPath)).toArray)
  }

  /** Greedy largest-first bin packing of whole groups into tasks of at
    * most `maxSplit` bytes (a group larger than that gets a task of its
    * own); every group costs its bytes plus `openCost`. */
  def binPack(groups: Seq[MorGroupFiles], maxSplit: Long, openCost: Long)
      : Seq[Array[MorGroupFiles]] = {
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[(scala.collection.mutable.ArrayBuffer[MorGroupFiles], Long)]
    groups.sortBy(-_.bytes).foreach { g =>
      val cost = g.bytes + openCost
      bins.indexWhere(_._2 + cost <= maxSplit) match {
        case -1 => bins += ((scala.collection.mutable.ArrayBuffer(g), cost))
        case i => val (buf, tot) = bins(i); buf += g
          bins(i) = (buf, tot + cost)
      }
    }
    bins.map(_._1.toArray).toSeq
  }

  /** The merged rows of delta-carrying `slices` as a lazily planned frame
    * over [[MorMergeRelation]]: column pruning reaches both merge sides,
    * planning runs no job and execution no exchange. Output schema: the
    * delta writer schema minus the delete marker, all fields nullable (the
    * shape the snapshot's union expects). Writer schemas come from commit
    * metadata: `base` is None on a table with no base commit yet. */
  private[read] def frame(spark: SparkSession, basePath: String,
      slices: Seq[FileSlice], tl: Timeline, asOf: Option[String],
      base: Option[StructType], delta: StructType): DataFrame = {
    val out = StructType(delta.filterNot(_.name == MetaCols.IsDeleted)
      .map(_.copy(nullable = true)))
    val allCols = (base.toSeq.flatMap(_.fieldNames) ++ delta.fieldNames).toSet
    val pc = graft.write.WriteContract.precombine(tl, asOf)
      .filter(allCols.contains)
    val sizes = recordedSizes(tl, slices)
    val groups = slices.map(groupFiles(basePath, _, sizes,
      spark.sessionState.newHadoopConf()))
    org.apache.spark.sql.graft.Bridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.LogicalRelation(
        new MorMergeRelation(spark, basePath, groups, out, base, delta, pc)))
  }
}

/** The merged rows of a fixed set of delta-carrying file groups: whole
  * groups per task, bin-packed by Spark's own split sizing, merged by the
  * shared [[MorMergeReaderFactory]]. `PrunedScan` hands it the required
  * columns (pruning reaches both merge sides), `FileRelation` reports its
  * files to `Dataset.inputFiles`, and `sizeInBytes` — the files' bytes,
  * an upper bound on the merge output — lets a small merged side
  * auto-broadcast. */
private[read] final class MorMergeRelation(session: SparkSession,
    basePath: String, groups: Seq[MorGroupFiles], out: StructType,
    baseSchema: Option[StructType], deltaSchema: StructType,
    precombine: Option[String]) extends BaseRelation with PrunedScan
    with org.apache.spark.sql.execution.FileRelation {

  override def sqlContext: SQLContext = session.sqlContext
  override def schema: StructType = out
  override def needConversion: Boolean = false
  override def sizeInBytes: Long = groups.map(_.bytes).sum
  override def inputFiles: Array[String] = groups.flatMap(g =>
    g.base.map(_._1).toSeq ++ g.deltas.map(_._1)).toArray
  override def toString: String = s"GraftMergeScan($basePath, " +
    s"groups=${groups.size}, deltas=${groups.map(_.deltas.length).sum})"

  override def buildScan(requiredColumns: Array[String]): RDD[Row] = {
    val required = StructType(requiredColumns.map(out(_)))
    val factory = MorMerge.readerFactory(session, baseSchema,
      Some(deltaSchema), MorMerge.mergeSchema(session, required, Seq.empty,
        out, precombine), required.length, precombine)
    val openCost = session.sessionState.conf.filesOpenCostInBytes
    val bins = MorMerge.binPack(groups, FilePartition.maxSplitBytes(session,
      groups.map(_.bytes + openCost).sum), openCost)
    // needConversion=false: the RDD carries InternalRows
    new MorMergeRDD(session.sparkContext, bins, factory)
      .asInstanceOf[RDD[Row]]
  }
}

/** One task per bin of whole groups, read by the shared merge reader. */
private final class MorMergeRDD(sc: org.apache.spark.SparkContext,
    bins: Seq[Array[MorGroupFiles]], factory: MorMergeReaderFactory)
    extends RDD[InternalRow](sc, Nil) {
  override protected def getPartitions: Array[Partition] =
    bins.indices.map(i => new Partition { val index = i }).toArray
  override def compute(split: Partition, context: TaskContext)
      : Iterator[InternalRow] = {
    val r = factory.createReader(MorGroupsPartition(bins(split.index)))
    Iterator.continually(r).takeWhile(_.next()).map(_.get())
  }
}

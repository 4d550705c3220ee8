package graft.sql

import graft.format.{MetaCols, Timeline}
import graft.write.{FormatWriter, WriteContract}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.graft.Bridge

/** SQL DML on graft tables — `DELETE FROM`, `UPDATE`, `MERGE INTO`, and
  * `INSERT INTO/OVERWRITE` against catalog tables created with
  * `CREATE TABLE ... USING graft`.
  *
  * The reference's whole reason to exist is DELETE tracking
  * (ref: DeleteSupport.java:89-96); these rules give deletes (and the other
  * verbs) their natural SQL front door, wired to the SAME commit verb the
  * programmatic surface uses ([[graft.write.TableWriter.commit]], on the
  * writer the table's [[WriteContract]] selects) — one commit per
  * statement, delete views and incremental reads of DML commits work
  * unchanged.
  *
  * Extension-point choice: an analyzer rule injected via
  * `SparkSessionExtensions.injectResolutionRule` (the Delta-lineage pattern
  * for V1-relation DML), NOT DSv2 `SupportsRowLevelOperations` —
  * deliberately. The DSv2 row-level path would force this engine to
  * re-implement its scans as imperative `PartitionReader`s; the rule instead
  * REWRITES the resolved DML plan into a command whose body is ordinary
  * declarative DataFrame work over the already-planned snapshot relation
  * (pruning FileIndex, pushdown, MOR merge — all shared with every other
  * surface), feeding the existing writers. Condition evaluation, the MERGE
  * join, and all row movement stay distributed Catalyst plans; the driver
  * handles only commit metadata.
  *
  * Identity contract: a row's record key and partition path are IMMUTABLE
  * under DML (Hudi's non-global-index contract). UPDATE/MERGE re-derive
  * them from the snapshot's own `_hoodie_record_key`/`_hoodie_partition_path`
  * meta columns, so assignments to payload columns the key/partition was
  * derived from change the PAYLOAD only, never the row's identity;
  * assignments to the meta columns themselves are rejected.
  */
class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  import GraftDml._

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsDown {
      // MERGE star actions must expand BEFORE generic resolution chokes on
      // the target's meta columns (INSERT * would demand a
      // `_hoodie_commit_time` source column): map the PAYLOAD columns only.
      // (V2 catalog targets expand identically — their output IS the
      // payload, so the meta-column filter is a no-op.)
      case m @ MergeIntoTable(GraftTable(_, _), source, _, _, _, _, _)
          if m.targetTable.resolved && source.resolved && hasStar(m) =>
        expandStars(m, session)
      case m @ MergeIntoTable(GraftV2Rel(_, _), source, _, _, _, _, _)
          if m.targetTable.resolved && source.resolved && hasStar(m) =>
        expandStars(m, session)

      case d @ DeleteFromTable(GraftTable(ct, path), cond) if d.resolved =>
        GraftDeleteCommand(path, ct, d.table, cond)

      case u @ UpdateTable(GraftTable(ct, path), assignments, cond)
          if u.resolved =>
        GraftUpdateCommand(path, ct, u.table, assignments, cond)

      case m @ MergeIntoTable(GraftTable(ct, path), _, _, _, _, _, _)
          if m.resolved =>
        require(!m.withSchemaEvolution,
          "MERGE ... WITH SCHEMA EVOLUTION is not supported on graft " +
            "tables; add columns through an Append write instead")
        GraftMergeCommand(path, ct, m)

      // ---- DSv2 catalog targets (graft.sources.GraftCatalog) ----------
      // The V2 relation serves the PAYLOAD schema; the row-level commands
      // need the meta-column-carrying snapshot (identity re-derivation).
      // Remap the resolved statement's target attributes by name onto the
      // analyzed V1 snapshot plan of the same table, then reuse the SAME
      // commands — with the extension installed, a V2 catalog table gets
      // full DML: arbitrary-predicate DELETE (beyond SupportsDelete's
      // translatable filters), UPDATE, and MERGE.
      case d @ DeleteFromTable(GraftV2Rel(rel, path), cond) if d.resolved =>
        val (snap, m) = snapshotRemap(session, rel)
        GraftDeleteCommand(path, syntheticCt(rel, path), snap,
          remapAttrs(cond, m))

      case u @ UpdateTable(GraftV2Rel(rel, path), assignments, cond)
          if u.resolved =>
        val (snap, m) = snapshotRemap(session, rel)
        GraftUpdateCommand(path, syntheticCt(rel, path), snap,
          assignments.map(a => Assignment(remapAttrs(a.key, m),
            remapAttrs(a.value, m))),
          cond.map(remapAttrs(_, m)))

      case mg @ MergeIntoTable(GraftV2Rel(rel, path), _, _, _, _, _, _)
          if mg.resolved =>
        require(!mg.withSchemaEvolution,
          "MERGE ... WITH SCHEMA EVOLUTION is not supported on graft " +
            "tables; add columns through an Append write instead")
        val (snap, m) = snapshotRemap(session, rel)
        def rmA(a: MergeAction): MergeAction = a match {
          case UpdateAction(c, assigns, fromStar) =>
            UpdateAction(c.map(remapAttrs(_, m)),
              assigns.map(x => Assignment(remapAttrs(x.key, m),
                remapAttrs(x.value, m))), fromStar)
          case DeleteAction(c) => DeleteAction(c.map(remapAttrs(_, m)))
          case InsertAction(c, assigns) =>
            // INSERT assignment keys reference the TARGET's columns but
            // values only the source — keys remap, values pass through
            InsertAction(c.map(remapAttrs(_, m)),
              assigns.map(x => Assignment(remapAttrs(x.key, m), x.value)))
          case other => other
        }
        GraftMergeCommand(path, syntheticCt(rel, path), mg.copy(
          targetTable = snap,
          mergeCondition = remapAttrs(mg.mergeCondition, m),
          matchedActions = mg.matchedActions.map(rmA),
          notMatchedActions = mg.notMatchedActions.map(rmA),
          notMatchedBySourceActions = mg.notMatchedBySourceActions.map(rmA)))

      // INSERT INTO/OVERWRITE: intercepted before PreprocessTableInsertion
      // would demand the meta columns; routed through FormatWriter so the
      // rows land as a real commit (the raw-file path stays refused for
      // sessions without the extension).
      case i @ InsertIntoStatement(GraftTable(ct, path), partSpec, userCols,
          query, overwrite, ifPartitionNotExists, byName)
          if query.resolved =>
        require(partSpec.isEmpty && !ifPartitionNotExists,
          "graft tables partition by their recorded partition column; " +
            "static PARTITION specs are not supported — insert the rows " +
            "with their partition values")
        GraftInsertCommand(path, ct, i.table, query, userCols, overwrite,
          byName)

      // ALTER TABLE ... ADD COLUMNS: Spark's V1 command only supports the
      // built-in file sources (its run() rejects other providers), so
      // intercept the already-converted command for graft catalog tables
      // and record the evolution as a COMMIT instead.
      case a @ org.apache.spark.sql.execution.command
          .AlterTableAddColumnsCommand(ident, cols) =>
        graftPathByName(session, ident.database.toSeq :+ ident.table) match {
          case Some(path) =>
            val ct = session.sessionState.catalog.getTableMetadata(ident)
            GraftAddColumnsCommand(path, ct, cols)
          case None => a // other providers: Spark's own command runs
        }
    }
}

/** SQL `ALTER TABLE ... DROP COLUMNS` on graft tables. Spark's session
  * catalog rejects DROP COLUMNS for every V1 table DURING RESOLUTION
  * (`ResolveSessionCatalog` throws before custom resolution rules run), so
  * this rule lives in the HINT batch and replaces the still-unresolved
  * `DropColumns` node for graft tables; non-graft tables fall through to
  * Spark's own (refusing) handling. */
class GraftAlterRule(session: SparkSession) extends Rule[LogicalPlan] {

  import GraftDml._

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsDown {
      case d @ DropColumns(
          ur: org.apache.spark.sql.catalyst.analysis.UnresolvedTable,
          cols, ifExists) =>
        graftTableByName(session, ur.multipartIdentifier) match {
          case Some((ct, path)) =>
            val names = cols.map {
              case org.apache.spark.sql.catalyst.analysis
                  .UnresolvedFieldName(Seq(n)) => n
              case other => throw new IllegalArgumentException(
                "graft tables support dropping top-level columns only, " +
                  s"got ${other.name.mkString(".")}")
            }
            GraftDropColumnsCommand(path, ct, names, ifExists)
          case None => d
        }
    }
}

/** SQL TIME TRAVEL: `SELECT ... FROM t TIMESTAMP AS OF '<commitTs>'` (or
  * `VERSION AS OF '<commitTs>'` — commit timestamps ARE this engine's
  * versions). Spark only resolves time travel for DSv2 catalogs, and its
  * `ResolveRelations` eagerly rejects timestamp literals that don't cast
  * to TIMESTAMP (a bare 14-digit commit ts doesn't) — so this rule runs in
  * the HINT-resolution batch, BEFORE the main resolution batch, replacing
  * the unresolved node with the planned as-of snapshot (the same
  * pruning/merge plan the programmatic `asOf` read uses). Non-graft
  * tables fall through untouched to Spark's own handling. */
class GraftTimeTravelRule(session: SparkSession) extends Rule[LogicalPlan] {

  import GraftDml._

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsDown {
      case tt @ org.apache.spark.sql.catalyst.analysis.RelationTimeTravel(
          ur: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation,
          tsExpr, version) =>
        graftPathByName(session, ur.multipartIdentifier) match {
          case Some(path) =>
            val asOf = timeTravelTs(tsExpr, version)
            Timeline(session.sessionState.newHadoopConf(), path)
              .validateTsParam("TIMESTAMP/VERSION AS OF", asOf)
            graft.read.SnapshotReader.read(session, path, Some(asOf))
              .queryExecution.analyzed
          case None => tt
        }
    }
}

private[graft] object GraftDml {

  /** Match a (possibly aliased) catalog relation whose provider is graft;
    * yields the catalog table and the table base path. */
  object GraftTable {
    def unapply(plan: LogicalPlan): Option[(CatalogTable, String)] =
      plan match {
        case SubqueryAlias(_, child) => unapply(child)
        case lr: LogicalRelation =>
          lr.catalogTable
            .filter(_.provider.exists(_.equalsIgnoreCase("graft")))
            .flatMap(ct => ct.storage.properties.get("path")
              .orElse(ct.storage.locationUri.map(_.toString))
              .map(ct -> _))
        case _ => None
      }
  }

  /** Match a (possibly aliased) DSv2 relation whose table is a graft
    * catalog table ([[graft.sources.GraftCatalog]]); yields the relation
    * and the table base path. */
  object GraftV2Rel {
    def unapply(plan: LogicalPlan): Option[
        (org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation,
         String)] =
      plan match {
        case SubqueryAlias(_, child) => unapply(child)
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation =>
          r.table match {
            case t: graft.sources.GraftV2Table => Some((r, t.path))
            case _ => None
          }
        case _ => None
      }
  }

  /** The analyzed V1 snapshot plan of the V2 relation's table plus the
    * name-resolved map from the relation's attribute ids onto it — what
    * lets a resolved DML statement over the payload-schema V2 relation
    * re-root on the meta-column-carrying snapshot the row-level commands
    * need. Uses the TABLE's empty-state-aware snapshot (a DML statement
    * against a created-but-empty table is a legal no-op, not a planning
    * error). */
  def snapshotRemap(session: SparkSession,
      rel: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2Relation)
      : (LogicalPlan, Map[org.apache.spark.sql.catalyst.expressions.ExprId,
         Attribute]) = {
    val relOutput = rel.output
    val snap = rel.table.asInstanceOf[graft.sources.GraftV2Table]
      .snapshotDf(session).queryExecution.analyzed
    val resolver = session.sessionState.conf.resolver
    val m = relOutput.flatMap(a =>
      snap.output.find(s => resolver(s.name, a.name)).map(a.exprId -> _))
      .toMap
    require(m.size == relOutput.size,
      s"cannot map V2 relation columns ${relOutput.map(_.name)} onto the " +
        s"snapshot of ${rel.table.name()} (columns " +
        s"${snap.output.map(_.name)})")
    (snap, m)
  }

  def remapAttrs(e: Expression,
      m: Map[org.apache.spark.sql.catalyst.expressions.ExprId,
        Attribute]): Expression =
    e.transform { case a: AttributeReference => m.getOrElse(a.exprId, a) }

  /** Minimal CatalogTable stand-in for a V2 catalog target: the DML
    * commands only consult `storage.properties` (recorded commit extras
    * supply the rest) and use the identifier in messages; there is no
    * session-catalog entry to refresh ([[refreshIfCataloged]]). */
  def syntheticCt(rel: org.apache.spark.sql.execution.datasources.v2
      .DataSourceV2Relation, path: String): CatalogTable =
    CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        rel.table.name()),
      tableType = org.apache.spark.sql.catalyst.catalog
        .CatalogTableType.EXTERNAL,
      storage = org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat
        .empty.copy(properties = Map("path" -> path)),
      schema = rel.schema,
      provider = Some("graft"))

  /** Refresh the session-catalog entry when one exists; V2 catalog
    * targets have none (their reads re-plan from commit metadata). */
  def refreshIfCataloged(spark: SparkSession, ct: CatalogTable): Unit =
    if (spark.sessionState.catalog.tableExists(ct.identifier))
      spark.catalog.refreshTable(ct.identifier.quotedString)

  /** Catalog lookup by (possibly qualified) name: the graft table's base
    * path, or None when the name is not a graft catalog table (temp views
    * and other providers fall through to Spark's own resolution). */
  def graftPathByName(session: SparkSession,
      ident: Seq[String]): Option[String] =
    graftTableByName(session, ident).map(_._2)

  /** Like [[graftPathByName]] but also yields the catalog table. */
  def graftTableByName(session: SparkSession,
      ident: Seq[String]): Option[(CatalogTable, String)] = {
    val catalog = session.sessionState.catalog
    val ti = ident match {
      case Seq(t) => org.apache.spark.sql.catalyst.TableIdentifier(t)
      case Seq(db, t) =>
        org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))
      case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
        org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))
      case _ => return None
    }
    if (!catalog.tableExists(ti)) return None
    val ct = catalog.getTableMetadata(ti)
    if (!ct.provider.exists(_.equalsIgnoreCase("graft"))) None
    else ct.storage.properties.get("path")
      .orElse(ct.storage.locationUri.map(_.toString))
      .map(ct -> _)
  }

  /** Every column name a LIVE file could still carry: the union of
    * recorded schemas since the table's last OVERWRITE (an overwrite
    * supersedes every slice, so columns dropped before it cannot
    * resurrect — their bytes live only in unreferenced files). The
    * re-add resurrection guard ([[GraftAddColumnsCommand]]) checks
    * against this; metadata-scale walk over memoized decodes. */
  def historicalColumnNames(tl: Timeline): Set[String] = {
    val instants = tl.completedInstants()
    val floor = instants.reverseIterator.find(i =>
      tl.metadata(i.ts).operationType == "INSERT_OVERWRITE_TABLE")
      .map(_.ts).getOrElse("")
    instants.filter(_.ts >= floor)
      .flatMap(i => tl.metadata(i.ts).schema.toSeq.flatMap(_.fieldNames))
      .toSet
  }

  /** The commit ts a TIMESTAMP/VERSION AS OF clause names: a digit string
    * is a commit ts verbatim; a timestamp literal converts to the UTC
    * `yyyyMMddHHmmss` the auto-minting writer stamps. */
  def timeTravelTs(tsExpr: Option[Expression],
      version: Option[String]): String = version match {
    case Some(v) => v
    case None =>
      val e = tsExpr.getOrElse(throw new IllegalArgumentException(
        "time travel needs TIMESTAMP AS OF or VERSION AS OF"))
      require(e.foldable,
        s"TIMESTAMP AS OF must be a literal, got ${e.sql}")
      e.eval() match {
        case s: org.apache.spark.unsafe.types.UTF8String
            if s.toString.forall(_.isDigit) => s.toString
        case s: org.apache.spark.unsafe.types.UTF8String
            if s.toString.matches(
              """\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}:\d{2})?""") =>
          // '2026-01-02[ 00:00:00]' → the 14-digit commit-ts form
          s.toString.filter(_.isDigit).padTo(14, '0')
        case micros: java.lang.Long =>
          java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
            .withZone(java.time.ZoneOffset.UTC)
            .format(java.time.Instant.EPOCH.plus(
              micros, java.time.temporal.ChronoUnit.MICROS))
        case other => throw new IllegalArgumentException(
          "TIMESTAMP AS OF on a graft table takes a commit-ts string " +
            s"(digits) or a timestamp literal, got $other")
      }
  }

  def hasStar(m: MergeIntoTable): Boolean =
    (m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions)
      .exists {
        case _: UpdateStarAction | _: InsertStarAction => true
        case _ => false
      }

  /** Expand `UPDATE SET *` / `INSERT *` against the target's PAYLOAD
    * columns: each must exist in the source by name (the meta columns are
    * engine-derived and never sourced). Leaves explicit actions untouched;
    * the analyzer then resolves the expanded assignments normally. */
  def expandStars(m: MergeIntoTable, session: SparkSession): MergeIntoTable = {
    val resolver = session.sessionState.conf.resolver
    val payload = m.targetTable.output
      .filterNot(a => MetaCols.all.contains(a.name))
    def assigns(what: String): Seq[Assignment] = payload.map { t =>
      val s = m.sourceTable.output.find(s => resolver(s.name, t.name))
        .getOrElse(throw new IllegalArgumentException(
          s"MERGE $what requires source column '${t.name}' " +
            "(expanding * over the target's payload columns)"))
      Assignment(t, s)
    }
    def expand(a: MergeAction): MergeAction = a match {
      case UpdateStarAction(cond) => UpdateAction(cond, assigns("UPDATE SET *"))
      case InsertStarAction(cond) => InsertAction(cond, assigns("INSERT *"))
      case other => other
    }
    m.copy(matchedActions = m.matchedActions.map(expand),
      notMatchedActions = m.notMatchedActions.map(expand),
      notMatchedBySourceActions = m.notMatchedBySourceActions.map(expand))
  }

  /** One DML commit: updates/deletes are meta-column-carrying frames rooted
    * at the table's own snapshot relation; identity re-derives from
    * `_hoodie_record_key`/`_hoodie_partition_path`. The commit follows the
    * table's [[WriteContract]] with the catalog table's OPTIONS as the
    * declared side, so an option that contradicts the recorded contract
    * refuses exactly like the same `df.write` option would. Its writer
    * keeps the table's full write contract — COW rewrites the touched
    * groups resolving upserts by the recorded ordering column (a stale SQL
    * UPDATE/MERGE loses exactly like a stale batch upsert), MOR appends a
    * delta commit under the recorded counters mode, and both re-record the
    * declared stats and bloom columns. */
  def commitOnce(spark: SparkSession, basePath: String, ct: CatalogTable,
      updates: Option[DataFrame], deletes: Option[DataFrame]): Unit = {
    val tl = Timeline(spark.sessionState.newHadoopConf(), basePath)
    val w = WriteContract.resolve(tl, ct.storage.properties)
      .writer(spark, basePath, tl)
    val ts = FormatWriter.nextTs(tl)
    try w.commit(updates, deletes, col(MetaCols.RecordKey),
      col(MetaCols.PartitionPath), ts)
    finally tl.unreserve(ts) // no-op when the commit landed
  }

  /** Drop-or-keep emptiness probe: None when the frame has no rows (the
    * writers reject fully-empty commits; a DML statement matching nothing
    * is a legal no-op). One bounded extra execution per frame — DML
    * statements are rare, large operations where this cost is noise. */
  def nonEmpty(df: DataFrame): Option[DataFrame] =
    if (df.isEmpty) None else Some(df)

  def rejectMetaAssignments(assignments: Seq[Assignment]): Unit =
    assignments.foreach { a =>
      val name = keyName(a.key)
      require(!MetaCols.all.contains(name),
        s"cannot assign to meta column '$name' (engine-derived; a row's " +
          "key and partition identity are immutable under DML)")
    }

  def keyName(key: Expression): String = key match {
    case a: AttributeReference => a.name
    case other => throw new IllegalArgumentException(
      s"only top-level column assignments are supported, got $other")
  }

  /** Project `df` (which contains the target's attributes, possibly among
    * source attributes after a join) to exactly the target schema, with
    * `assignments` applied and values cast to the column's type (ANSI
    * assignment casting); unassigned columns keep the target row's value. */
  def applyAssignments(df: DataFrame, targetAttrs: Seq[Attribute],
      assignments: Seq[Assignment]): DataFrame = {
    rejectMetaAssignments(assignments)
    val byAttr: Map[Attribute, Expression] = assignments.map { a =>
      val key = a.key match {
        case ar: AttributeReference => targetAttrs
          .find(t => t.exprId == ar.exprId)
          .getOrElse(throw new IllegalArgumentException(
            s"assignment key ${ar.name} is not a target column"))
        case other => throw new IllegalArgumentException(
          s"only top-level column assignments are supported, got $other")
      }
      key -> a.value
    }.toMap
    df.select(targetAttrs.map { a =>
      byAttr.get(a) match {
        case Some(v) => Bridge.column(v).cast(a.dataType).as(a.name)
        case None => Bridge.column(a)
      }
    }: _*)
  }

  /** First-matching-action split (MERGE semantics: per row, the FIRST
    * action whose condition holds applies; rows matching none carry over
    * untouched): tag each row with its action index in one `when` chain,
    * return per-action frames. */
  def splitByAction(df: DataFrame, actions: Seq[MergeAction])
      : Seq[(MergeAction, DataFrame)] = {
    val tagCol = "__graft_dml_action"
    val tag = actions.zipWithIndex.foldLeft(Option.empty[Column]) {
      case (acc, (a, i)) =>
        val c = a.condition.map(Bridge.column).getOrElse(lit(true))
        Some(acc.fold(when(c, lit(i)))(_.when(c, lit(i))))
    }
    val tagged = df.withColumn(tagCol, tag.getOrElse(lit(null)))
    actions.zipWithIndex.map { case (a, i) =>
      a -> tagged.filter(col(tagCol) === i).drop(tagCol)
    }
  }
}

/** `DELETE FROM <graft table> WHERE <cond>` → one delete commit of the
  * matching snapshot rows. The condition is ANY Catalyst predicate (not
  * just source-filter-convertible shapes) — it runs inside the snapshot
  * plan, where partition predicates still prune at metadata/listing level. */
case class GraftDeleteCommand(basePath: String, ct: CatalogTable,
    target: LogicalPlan, condition: Expression) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val doomed = Bridge.ofRows(spark, target)
      .filter(Bridge.column(condition))
    GraftDml.nonEmpty(doomed).foreach(d =>
      GraftDml.commitOnce(spark, basePath, ct, None, Some(d)))
    GraftDml.refreshIfCataloged(spark, ct)
    Seq.empty
  }
}

/** `UPDATE <graft table> SET ... WHERE <cond>` → one upsert commit of the
  * matching rows with assignments applied (values cast to the column type);
  * row identity (key, partition) re-derives from the meta columns and is
  * immutable. */
case class GraftUpdateCommand(basePath: String, ct: CatalogTable,
    target: LogicalPlan, assignments: Seq[Assignment],
    condition: Option[Expression]) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val tgt = Bridge.ofRows(spark, target)
    val matched = condition.map(c => tgt.filter(Bridge.column(c)))
      .getOrElse(tgt)
    val updated = GraftDml.applyAssignments(matched, target.output,
      assignments)
    GraftDml.nonEmpty(updated).foreach(u =>
      GraftDml.commitOnce(spark, basePath, ct, Some(u), None))
    GraftDml.refreshIfCataloged(spark, ct)
    Seq.empty
  }
}

/** `MERGE INTO <graft table> t USING <source> s ON <cond> WHEN ...` → ONE
  * commit carrying every action's effect:
  *
  *  - matched rows: `t INNER JOIN s ON cond`, split by first-matching
  *    action; UPDATE assignments may reference both sides.
  *  - not-matched rows: `s LEFT ANTI JOIN t` → INSERT actions (new record
  *    keys; requires the table's recorded key/partition column names).
  *  - not-matched-by-source rows: `t LEFT ANTI JOIN s` → UPDATE/DELETE.
  *
  * All three are ordinary shuffled/broadcast joins Catalyst plans against
  * the snapshot relation. Cardinality contract (ANSI/Delta): a target row
  * matching MULTIPLE source rows fails the statement when any matched
  * action exists — checked with one metadata-light aggregate on the join. */
case class GraftMergeCommand(basePath: String, ct: CatalogTable,
    merge: MergeIntoTable) extends LeafRunnableCommand {

  import GraftDml._

  override def run(spark: SparkSession): Seq[Row] = {
    val targetAttrs = merge.targetTable.output
    val tgt = Bridge.ofRows(spark, merge.targetTable)
    val src = Bridge.ofRows(spark, merge.sourceTable)
    val cond = Bridge.column(merge.mergeCondition)
    val keyAttr = targetAttrs.find(_.name == MetaCols.RecordKey)
      .getOrElse(throw new IllegalStateException(
        s"graft relation lost ${MetaCols.RecordKey}"))

    val updates = scala.collection.mutable.Buffer.empty[DataFrame]
    val deletes = scala.collection.mutable.Buffer.empty[DataFrame]

    if (merge.matchedActions.nonEmpty) {
      val matched = tgt.join(src, cond, "inner")
      // ANSI cardinality check: one source match per target row
      val dup = matched.groupBy(Bridge.column(keyAttr)).count()
        .filter(col("count") > 1).limit(1).count()
      require(dup == 0,
        "MERGE: a target row matched multiple source rows — the update/" +
          "delete to apply is ambiguous; de-duplicate the source on the " +
          "join keys")
      splitByAction(matched, merge.matchedActions).foreach {
        case (UpdateAction(_, assigns, _), rows) =>
          updates += applyAssignments(rows, targetAttrs, assigns)
        case (DeleteAction(_), rows) =>
          deletes += rows.select(targetAttrs.map(Bridge.column): _*)
        case (other, _) => throw new IllegalArgumentException(
          s"unsupported WHEN MATCHED action: $other")
      }
    }

    if (merge.notMatchedActions.nonEmpty) {
      val c = WriteContract.resolve(
        Timeline(spark.sessionState.newHadoopConf(), basePath),
        ct.storage.properties)
      val keyName = c.key.getOrElse(throw new IllegalArgumentException(
        "MERGE INSERT needs the table's record-key column name: declare " +
          "OPTIONS (key '...', partition '...') or create the table " +
          "through the graft format writer (which records them)"))
      val partName = c.partition.getOrElse(throw new IllegalArgumentException(
        "MERGE INSERT needs the table's partition column name (see key)"))
      val payloadAttrs = targetAttrs
        .filterNot(a => MetaCols.all.contains(a.name))
      val notMatched = src.join(tgt, cond, "left_anti")
      splitByAction(notMatched, merge.notMatchedActions).foreach {
        case (InsertAction(_, assigns), rows) =>
          rejectMetaAssignments(assigns)
          val byName = assigns.map(a => GraftDml.keyName(a.key) -> a.value)
            .toMap
          val projected = rows.select(payloadAttrs.map { a =>
            byName.get(a.name) match {
              case Some(v) => Bridge.column(v).cast(a.dataType).as(a.name)
              case None => lit(null).cast(a.dataType).as(a.name)
            }
          }: _*)
          // new records: identity derives from the named payload columns,
          // exactly as a format-writer append would
          updates += projected
            .withColumn(MetaCols.RecordKey, col(keyName).cast("string"))
            .withColumn(MetaCols.PartitionPath, col(partName).cast("string"))
        case (other, _) => throw new IllegalArgumentException(
          s"unsupported WHEN NOT MATCHED action: $other")
      }
    }

    if (merge.notMatchedBySourceActions.nonEmpty) {
      val bySource = tgt.join(src, cond, "left_anti")
      splitByAction(bySource, merge.notMatchedBySourceActions).foreach {
        case (UpdateAction(_, assigns, _), rows) =>
          updates += applyAssignments(rows, targetAttrs, assigns)
        case (DeleteAction(_), rows) =>
          deletes += rows.select(targetAttrs.map(Bridge.column): _*)
        case (other, _) => throw new IllegalArgumentException(
          s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
      }
    }

    val up = updates.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .flatMap(nonEmpty)
    val del = deletes.reduceOption(_.unionByName(_))
      .flatMap(nonEmpty)
    if (up.nonEmpty || del.nonEmpty)
      commitOnce(spark, basePath, ct, up, del)
    refreshIfCataloged(spark, ct)
    Seq.empty
  }
}

/** `INSERT INTO/OVERWRITE <graft table> [(cols)] SELECT ...` → a real
  * commit through [[FormatWriter]] (Append = upsert-by-key; OVERWRITE = the
  * atomic replace commit). Column mapping is positional against the
  * table's PAYLOAD columns (or the named column list), values cast to the
  * column types; unnamed columns insert as null. */
case class GraftInsertCommand(basePath: String, ct: CatalogTable,
    relation: LogicalPlan, query: LogicalPlan, userCols: Seq[String],
    overwrite: Boolean, byName: Boolean) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val resolver = spark.sessionState.conf.resolver
    val payloadAttrs = relation.output
      .filterNot(a => MetaCols.all.contains(a.name))
    val srcDf = Bridge.ofRows(spark, query)
    val srcAttrs = query.output
    val named: Seq[(String, Column)] =
      if (byName || userCols.nonEmpty) {
        val names = if (userCols.nonEmpty) userCols else srcAttrs.map(_.name)
        require(names.size == srcAttrs.size,
          s"INSERT column list has ${names.size} names for " +
            s"${srcAttrs.size} query columns")
        names.zip(srcAttrs).map { case (n, a) =>
          val t = payloadAttrs.find(p => resolver(p.name, n)).getOrElse(
            throw new IllegalArgumentException(
              s"INSERT column '$n' is not a payload column of " +
                s"${ct.identifier}"))
          t.name -> Bridge.column(a).cast(t.dataType).as(t.name)
        }
      } else {
        require(srcAttrs.size == payloadAttrs.size,
          s"INSERT query has ${srcAttrs.size} columns; table " +
            s"${ct.identifier} has ${payloadAttrs.size} payload columns " +
            s"(${payloadAttrs.map(_.name).mkString(", ")})")
        payloadAttrs.zip(srcAttrs).map { case (t, a) =>
          t.name -> Bridge.column(a).cast(t.dataType).as(t.name)
        }
      }
    val assigned = named.toMap
    val rows = srcDf.select(payloadAttrs.map { a =>
      assigned.getOrElse(a.name, lit(null).cast(a.dataType).as(a.name))
    }: _*)
    // a CTAS-declared `ts` option pins only the CREATION commit; an insert
    // must mint its own commit ts or it would collide with that instant
    val params = ct.storage.properties - "ts" + ("path" -> basePath)
    if (overwrite)
      FormatWriter.write(spark, basePath, SaveMode.Overwrite, params, rows)
    else
      FormatWriter.append(spark, basePath, params, rows, Map.empty)
    spark.catalog.refreshTable(ct.identifier.quotedString)
    Seq.empty
  }
}

/** `ALTER TABLE <graft table> ADD COLUMNS (c TYPE, ...)` → schema evolution
  * AS A COMMIT: one empty commit whose recorded schema is the table's
  * current schema plus the new (nullable) columns, published through the
  * same OCC gate as a data commit — zero data IO, versioned like everything
  * else (time travel before the ALTER serves the old schema; existing files
  * null-pad the new columns at read, the same add-only contract a widening
  * Append write records). The catalog's stored schema is updated in the
  * same statement so catalog resolution (which verifies the relation's
  * schema against the stored one) stays consistent. */
case class GraftAddColumnsCommand(basePath: String, ct: CatalogTable,
    cols: Seq[org.apache.spark.sql.types.StructField])
    extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.types.StructType
    SchemaEvolution.addColumns(spark, basePath, cols,
      ct.identifier.toString)
    // catalog schema = dataSchema ++ partitionSchema, and the relation
    // serves `_hoodie_partition_path` LAST either way — as a Hive-style
    // partition column (delta-free scan relation; pp not in dataSchema) or
    // as the final ordinary column (MOR merged relation; pp in dataSchema).
    // New columns go before a trailing pp so the stored schema keeps
    // matching what the relation resolves.
    val (ppTail, dataHead) = ct.dataSchema.fields
      .partition(_.name == MetaCols.PartitionPath)
    spark.sessionState.catalog.alterTableDataSchema(ct.identifier,
      StructType(dataHead ++ cols.map(_.copy(nullable = true)) ++ ppTail))
    spark.catalog.refreshTable(ct.identifier.quotedString)
    Seq.empty
  }
}

/** `ALTER TABLE <graft table> DROP COLUMNS (c, ...)` → schema NARROWING as
  * a commit: one empty commit whose recorded schema omits the dropped
  * columns — zero data IO (existing files keep the bytes; readers simply
  * stop requesting the column), versioned (time travel before the DROP
  * still serves it). Identity and index columns (key, partition,
  * precombine, declared stats/bloom columns) refuse to drop — recorded
  * writer contracts reference them by name. Re-ADDING a dropped name is
  * refused by [[GraftAddColumnsCommand]]'s resurrection guard. Note the
  * OCC schema re-union: a conflict-free writer landing concurrently with
  * the DROP re-adds any column its commit recorded — concurrent-add wins
  * over drop, the safe direction (no data silently hidden). */
case class GraftDropColumnsCommand(basePath: String, ct: CatalogTable,
    names: Seq[String], ifExists: Boolean) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.types.StructType
    val resolver = spark.sessionState.conf.resolver
    val dropped = SchemaEvolution.dropColumns(spark, basePath, names,
      ifExists, ct.storage.properties, ct.identifier.toString).toSet
    if (dropped.isEmpty) return Seq.empty // IF EXISTS and nothing matched
    // alterTableDataSchema refuses narrowing ("dropping columns not
    // supported") — replace the stored schema wholesale; the commit above
    // is the source of truth and the catalog must mirror it
    val fresh = spark.sessionState.catalog.getTableMetadata(ct.identifier)
    spark.sessionState.catalog.alterTable(fresh.copy(schema =
      StructType(fresh.schema.fields.filterNot(f =>
        dropped.exists(d => resolver(f.name, d))))))
    spark.catalog.refreshTable(ct.identifier.quotedString)
    Seq.empty
  }
}

/** The schema-evolution CORE shared by the V1 extension commands above and
  * the DSv2 catalog's `alterTable` ([[graft.sources.GraftCatalog]]): all
  * guards + the empty OCC-gated evolution commit live HERE, so both SQL
  * surfaces enforce identical contracts; only catalog-state sync differs
  * (session catalog mirrors its stored schema; the V2 catalog has no
  * side-car state — commit metadata IS its schema). */
private[graft] object SchemaEvolution {

  /** Widening: validate (reserved names, duplicates, exists,
    * resurrection guard) and publish the ADD COLUMNS evolution commit. */
  def addColumns(spark: SparkSession, basePath: String,
      cols: Seq[org.apache.spark.sql.types.StructField],
      what: String): Unit = {
    import org.apache.spark.sql.types.StructType
    val resolver = spark.sessionState.conf.resolver
    val tl = Timeline(spark.sessionState.newHadoopConf(), basePath)
    val current = tl.tableSchema(None)
    val historical = GraftDml.historicalColumnNames(tl)
    cols.foreach { f =>
      require(!MetaCols.all.contains(f.name) && f.name != MetaCols.IsDeleted,
        s"cannot add column '${f.name}': the name is reserved for " +
          "engine meta columns")
      require(!current.fields.exists(e => resolver(e.name, f.name)),
        s"cannot add column '${f.name}': it already exists in $what")
      // resurrection guard: files written before a DROP still carry the
      // old values, and re-adding the name would silently surface them in
      // every not-yet-rewritten row
      // compared with the SAME resolver as the exists check: under
      // default case-insensitive resolution, ADD COLUMNS (Score) after
      // DROP COLUMNS (score) must hit the guard too
      require(!historical.exists(h => resolver(h, f.name)),
        s"cannot re-add previously dropped column '${f.name}': files " +
          "written before the drop may still carry its values and would " +
          "resurrect them; rewrite the table (overwrite) under a new name")
    }
    require(cols.map(_.name.toLowerCase(java.util.Locale.ROOT)).distinct.size == cols.size,
      "duplicate column names in ADD COLUMNS")
    // base ("commit") action: the recorded schema keeps the MOR delete
    // marker off (the table schema has none), like every base-file commit
    // (delta commits re-add it)
    val evolved = MetaCols.canonicalSchema(StructType(
      current.fields ++ cols.map(_.copy(nullable = true))))
    publishEvolution(tl, evolved)
  }

  /** Narrowing: validate (existence unless `ifExists`, protection of the
    * columns the write contract names — recorded, or `declared` by the
    * catalog table) and publish the DROP COLUMNS commit; returns the
    * column names actually dropped (empty = IF EXISTS no-op). */
  def dropColumns(spark: SparkSession, basePath: String,
      names: Seq[String], ifExists: Boolean,
      declared: Map[String, String], what: String): Seq[String] = {
    import org.apache.spark.sql.types.StructType
    val resolver = spark.sessionState.conf.resolver
    val tl = Timeline(spark.sessionState.newHadoopConf(), basePath)
    val current = tl.tableSchema(None)
    val protectedCols: Map[String, String] = (
      MetaCols.all.map(_ -> "engine meta column") ++
      WriteContract.namedColumns(tl, declared)).toMap
    val present = names.filter { n =>
      val exists = current.fields.exists(e => resolver(e.name, n))
      require(exists || ifExists,
        s"cannot drop column '$n': no such column in $what")
      exists
    }
    present.foreach { n =>
      protectedCols.find { case (p, _) => resolver(p, n) }.foreach {
        case (_, w) => throw new IllegalArgumentException(
          s"cannot drop column '$n': it is the table's $w")
      }
    }
    if (present.isEmpty) return Seq.empty
    val dropped = present.toSet
    val narrowed = MetaCols.canonicalSchema(StructType(
      current.fields.filterNot(f => dropped.exists(d => resolver(f.name, d)))))
    publishEvolution(tl, narrowed)
    present
  }

  private def publishEvolution(tl: Timeline,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val readPoint = tl.completedInstants().lastOption.map(_.ts)
    val ts = FormatWriter.nextTs(tl)
    try {
      tl.saveCommitOcc(ts, graft.format.CommitMetadata(
        partitionToWriteStats = Map.empty,
        operationType = "altertable",
        totalRecordsDeleted = 0L, totalRecordsWritten = 0L,
        schemaJson = Some(schema.json)), readPoint = readPoint)
    } finally tl.unreserve(ts)
  }
}

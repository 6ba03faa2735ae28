package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertStarAction, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateStarAction}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types.{LongType, StructType}

import graft.lake.LakeTable
import graft.maintain.{DeleteFrom, MergeInto}

/** SQL DML statements over registered lake views — the last surface
  * asymmetry vs the reference closed: its API exposes the whole record
  * lifecycle (backend/app/api/v1/endpoints/files.py:15-76), and after this
  * a pure-SQL user executes
  *
  *   `DELETE FROM transcripts WHERE ts < timestamp '2024-01-01'`
  *   `MERGE INTO transcripts USING drops
  *      ON transcripts.conv_id = drops.conv_id
  *     AND transcripts.turn_idx = drops.turn_idx
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *`
  *
  * end to end, with exactly the engine's semantics: the DELETE runs
  * [[graft.maintain.DeleteFrom]] (predicate-derived metadata pruning,
  * O(matching files) rewrite, ledger-checkpointed) and the MERGE runs
  * [[graft.maintain.MergeInto]] (non-empty-wins, append-only schema
  * evolution, O(changed files) commit). Enabled per session via
  * [[GraftSparkExtensions]] (`injectParser` exists only at session build
  * time); Spark's own parser already produces `DeleteFromTable` /
  * `MergeIntoTable` plans — this parser only REROUTES those whose target
  * is, when the statement is parsed, a live lake view into runnable
  * commands; everything else (including the statements over non-lake
  * tables and views) passes through verbatim.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    rewrite(delegate.parsePlan(sqlText))

  /** `DELETE FROM t` / `MERGE INTO t [AS alias]` — the target may sit under
    * a SubqueryAlias; the view is looked up by the bare relation name.
    */
  private def targetName(p: LogicalPlan): Option[Seq[String]] = p match {
    case u: UnresolvedRelation => Some(u.multipartIdentifier)
    case SubqueryAlias(_, u: UnresolvedRelation) => Some(u.multipartIdentifier)
    case _ => None
  }

  /** The (name, root) of the live lake table a DML target names: a one-part
    * name whose temp view, as the session holds it now, is exactly the live
    * scan [[GraftPlans.registerTable]] registers. A view pinned by
    * [[GraftPlans.registerAsOf]], replaced by another plan, or dropped is
    * not routed, so the statement follows Spark's own path.
    */
  private def lakeTarget(target: LogicalPlan): Option[(String, String)] =
    targetName(target) match {
      case Some(Seq(name)) =>
        session.sessionState.catalog.getRawTempView(name).flatMap(_.plan).collect {
          case g: GraftTableScan if g.snapshotId.isEmpty => (name, g.root)
        }
      case _ => None
    }

  /** Qualifiers that may prefix a column of the DELETE target: the alias
    * (if any) and the relation name itself — both stripped from the
    * condition before it is re-rendered to SQL, because DeleteFrom.run
    * resolves the predicate against the BARE table schema (an aliased
    * `DELETE FROM transcripts t WHERE t.conv_id = ...` otherwise fails
    * analysis on every reference). Only the leading name part is a
    * qualifier (a routed target is a one-part name, see [[lakeTarget]]);
    * the rest may be a struct field path (`t.meta.lang`).
    */
  private def stripTargetQualifier(cond: Expression,
                                   target: LogicalPlan): Expression = {
    def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val quals: Set[String] = (target match {
      case SubqueryAlias(ident, u: UnresolvedRelation) => ident.name +: u.multipartIdentifier
      case u: UnresolvedRelation => u.multipartIdentifier
      case _ => Seq.empty
    }).map(lower).toSet
    cond.transform {
      case a: UnresolvedAttribute if a.nameParts.length > 1 && quals(lower(a.nameParts.head)) =>
        UnresolvedAttribute(a.nameParts.tail)
    }
  }

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case DeleteFromTable(target, cond) =>
      lakeTarget(target) match {
        case Some((_, root)) =>
          GraftDeleteCommand(root, stripTargetQualifier(cond, target).sql)
        case None => plan
      }
    case m @ MergeIntoTable(target, source, cond,
        matched, notMatched, bySource, _) =>
      lakeTarget(target) match {
        case Some((name, root)) =>
          validateMergeShape(cond, matched, notMatched, bySource, name)
          GraftMergeCommand(root, source)
        case None => m
      }
    case other => other
  }

  /** The engine's MERGE is the canonical keyed upsert with non-empty-wins
    * update semantics — accept exactly that statement shape and fail any
    * other LOUDLY (running different actions under the engine's semantics
    * would silently do the wrong thing; the programmatic API is the escape
    * hatch for anything else).
    */
  private def validateMergeShape(cond: Expression,
                                 matched: Seq[Any], notMatched: Seq[Any],
                                 bySource: Seq[Any], name: String): Unit = {
    def keyEqualities(e: Expression): Option[Set[String]] = e match {
      case And(a, b) =>
        for { x <- keyEqualities(a); y <- keyEqualities(b) } yield x ++ y
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
          if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) &&
            // the two sides must come from DIFFERENT relations:
            // `ON t.conv_id = t.conv_id` names the target twice and would
            // otherwise slip through the shape gate
            a.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) !=
              b.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) =>
        Some(Set(a.nameParts.last.toLowerCase(java.util.Locale.ROOT)))
      case _ => None
    }
    val keys = keyEqualities(cond)
    val ok = keys.contains(Set("conv_id", "turn_idx")) &&
      matched.forall { case UpdateStarAction(None) => true; case _ => false } &&
      matched.size <= 1 &&
      notMatched.forall { case InsertStarAction(None) => true; case _ => false } &&
      notMatched.size <= 1 && bySource.isEmpty
    if (!ok) throw new IllegalArgumentException(
      s"MERGE INTO $name supports exactly the keyed upsert form: ON " +
        "t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx WHEN MATCHED " +
        "THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * (engine " +
        "semantics: non-empty staged values win, empty never clobbers); " +
        "use the programmatic MergeInto API for other action shapes")
  }

  // everything else: verbatim delegation
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

/** `DELETE FROM <lakeview> WHERE <pred>` — runs the ledger-checkpointed
  * predicate delete and returns the deleted-row count. The predicate text
  * is the parsed condition's canonical SQL, pinned in the job plan exactly
  * like a programmatic call's.
  */
final case class GraftDeleteCommand(root: String, predicateSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[AttributeReference] =
    Seq(AttributeReference("deleted_rows", LongType, nullable = false)())

  override def run(sparkSession: SparkSession): Seq[Row] = {
    val table = LakeTable.load(sparkSession, root)
    val jobId = s"sql-delete-${java.util.UUID.randomUUID().toString.take(8)}"
    val res = DeleteFrom.run(table, jobId, predicateSql)
    Seq(Row(res.deletedRows))
  }
}

/** `MERGE INTO <lakeview> USING <source> ...` (canonical upsert shape) —
  * stages the source relation through the engine's merge: alignment by
  * name, append-only schema evolution, non-empty-wins updates, inserts
  * for unmatched keys, O(changed files) commit.
  */
final case class GraftMergeCommand(root: String, source: LogicalPlan)
    extends LeafRunnableCommand {
  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("staged_rows", LongType, nullable = false)(),
    AttributeReference("touched_files", LongType, nullable = false)())

  override def run(sparkSession: SparkSession): Seq[Row] = {
    val table = LakeTable.load(sparkSession, root)
    val staged = Bridge.ofRows(sparkSession, source)
    val tag = s"sql-merge-${java.util.UUID.randomUUID().toString.take(8)}"
    val res = MergeInto.merge(table, staged, tag)
    Seq(Row(res.stagedRows, res.touchedFiles.toLong))
  }
}

package graft.sql

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualNullSafe, EqualTo, ExprId, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand

import org.apache.spark.sql.GraftShims

import graft.tables.{LakeTable, MergeClauses}

/** `MERGE INTO` support for lake tables — both the upsert-all shape the
  * reference's PyIceberg destination defines (`pyiceberg.py:141-149`) and
  * the general SQL-standard clause matrix (Trino/Iceberg's consumption
  * surface, SURVEY §2.12):
  *
  * {{{
  * MERGE INTO lake.ns.t AS t USING src AS s ON t.k = s.k
  * WHEN MATCHED AND s.op = 'del' THEN DELETE
  * WHEN MATCHED THEN UPDATE SET name = s.name, score = t.score + s.score
  * WHEN NOT MATCHED AND s.score > 0 THEN INSERT (k, name) VALUES (s.k, s.name)
  * WHEN NOT MATCHED BY SOURCE AND t.stale THEN DELETE
  * }}}
  *
  * Both shapes run on the table layer's one merge engine. The
  * unconditional `UPDATE SET * / INSERT *` pair goes through
  * `LakeTable.merge`, which adds schema evolution and PyIceberg's rule
  * that any duplicate source key raises, then runs that clause set. Every
  * other shape converts once fully resolved: each action's expressions
  * remap target/source attribute references (by exprId) onto the
  * [[MergeClauses]] frame and run through `LakeTable.mergeClauses` — SQL
  * clause-order semantics, where only a duplicate key matching a target
  * row raises, on the same copy-on-write, file-pruned commit path.
  */
final class LakeMergeIntoRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case m: MergeIntoTable if lakeTarget(m.targetTable).isDefined &&
        m.sourceTable.resolved && isUpsertAll(m) =>
      val (t, _) = lakeTarget(m.targetTable).get
      LakeMergeCommand(t.location, mergeKeys(m), m.sourceTable)
    case m: MergeIntoTable if lakeTarget(m.targetTable).isDefined && m.resolved =>
      convertGeneral(m)
  }

  private def isUpsertAll(m: MergeIntoTable): Boolean = {
    val t = lakeTarget(m.targetTable).get._1
    m.notMatchedBySourceActions.isEmpty &&
      isUpdateAll(m.matchedActions, t) && isInsertAll(m.notMatchedActions, t) &&
      equiJoinKeys(m.mergeCondition).isDefined
  }

  private def mergeKeys(m: MergeIntoTable): Seq[String] =
    equiJoinKeys(m.mergeCondition).getOrElse(unsupported(
      "the merge condition must be a conjunction of t.<col> = s.<col> " +
        s"equalities, got: ${m.mergeCondition.sql}"))

  private def convertGeneral(m: MergeIntoTable): LogicalPlan = {
    val (t, targetOut) = lakeTarget(m.targetTable).get
    val keys = mergeKeys(m)
    val targetIds = targetOut.map(_.exprId).toSet
    val sourceIds = m.sourceTable.output.map(_.exprId).toSet

    def remap(e: Expression): Column = GraftShims.columnOf(e.transform {
      case a: AttributeReference if targetIds.contains(a.exprId) =>
        UnresolvedAttribute(Seq(MergeClauses.TargetPrefix + a.name))
      case a: AttributeReference if sourceIds.contains(a.exprId) =>
        UnresolvedAttribute(Seq(MergeClauses.SourcePrefix + a.name))
      case a: AttributeReference => unsupported(
        s"reference '${a.name}' is neither a target nor a source column")
    })
    def assignPairs(assigns: Seq[Assignment]): Map[String, Column] =
      assigns.map(a => colName(a.key).getOrElse(unsupported(
        s"assignment target must be a plain column, got ${a.key.sql}")) ->
        remap(a.value)).toMap
    val allFromSource: Map[String, Column] = t.meta.schema.fieldNames.map(c =>
      c -> GraftShims.columnOf(
        UnresolvedAttribute(Seq(MergeClauses.SourcePrefix + c)))).toMap

    def updateOrDelete(a: MergeAction): MergeClauses.Clause = a match {
      case UpdateAction(cond, assigns, _) =>
        MergeClauses.Update(cond.map(remap), assignPairs(assigns))
      case UpdateStarAction(cond) =>
        MergeClauses.Update(cond.map(remap), allFromSource)
      case DeleteAction(cond) => MergeClauses.Delete(cond.map(remap))
      case other => unsupported(s"unexpected merge action: $other")
    }
    def insert(a: MergeAction): MergeClauses.Insert = a match {
      case InsertAction(cond, assigns) =>
        MergeClauses.Insert(cond.map(remap), assignPairs(assigns))
      case InsertStarAction(cond) =>
        MergeClauses.Insert(cond.map(remap), allFromSource)
      case other => unsupported(s"unexpected not-matched action: $other")
    }
    LakeMergeClausesCommand(t.location, keys, m.sourceTable,
      m.matchedActions.map(updateOrDelete),
      m.notMatchedActions.map(insert),
      m.notMatchedBySourceActions.map(updateOrDelete))
  }

  private def unsupported(msg: String): Nothing =
    throw new UnsupportedOperationException(s"MERGE INTO a lake table: $msg")

  private def lakeTarget(p: LogicalPlan): Option[(LakeSqlTable, Seq[Attribute])] =
    p match {
      case a: SubqueryAlias => lakeTarget(a.child)
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table match {
          case t: LakeSqlTable => Some((t, r.output))
          case _ => None
        }
      case _ => None
    }

  /** Same-named column equalities out of the merge condition. */
  private def equiJoinKeys(cond: Expression): Option[Seq[String]] = cond match {
    case And(l, r) =>
      for { a <- equiJoinKeys(l); b <- equiJoinKeys(r) } yield a ++ b
    case EqualTo(a, b) => pairKey(a, b).map(Seq(_))
    case EqualNullSafe(a, b) => pairKey(a, b).map(Seq(_))
    case _ => None
  }

  private def pairKey(a: Expression, b: Expression): Option[String] =
    for { x <- colName(a); y <- colName(b); if x.equalsIgnoreCase(y) } yield x

  private def colName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: UnresolvedAttribute => Some(u.nameParts.last)
    case _ => None
  }

  /** UPDATE SET * — either the unexpanded star action or its expansion to
    * same-named assignments covering every table column. */
  private def isUpdateAll(actions: Seq[MergeAction], t: LakeSqlTable): Boolean =
    actions match {
      case Seq(UpdateStarAction(None)) => true
      case Seq(UpdateAction(None, assigns, _)) => coversAll(assigns, t)
      case _ => false
    }

  private def isInsertAll(actions: Seq[MergeAction], t: LakeSqlTable): Boolean =
    actions match {
      case Seq(InsertStarAction(None)) => true
      case Seq(InsertAction(None, assigns)) => coversAll(assigns, t)
      case _ => false
    }

  private def coversAll(assigns: Seq[Assignment], t: LakeSqlTable): Boolean = {
    val sameName = assigns.forall(a =>
      (colName(a.key), colName(a.value)) match {
        case (Some(k), Some(v)) => k.equalsIgnoreCase(v)
        case _ => false
      })
    val assigned = assigns.flatMap(a => colName(a.key)).map(_.toLowerCase).toSet
    sameName && t.meta.schema.fieldNames.forall(f => assigned.contains(f.toLowerCase))
  }
}

/** The upsert-all statement: run the storage layer's transactional upsert
  * (copy-on-write on touched files, in-plan duplicate-source-key guard)
  * against the materialized source plan. */
final case class LakeMergeCommand(
    location: String,
    keys: Seq[String],
    @transient source: LogicalPlan) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.GraftShims.ofRows(session, source)
    LakeTable.load(session, location).merge(src, keys)
    Nil
  }
  override def simpleString(maxFields: Int): String =
    s"LakeMergeCommand $location keys=[${keys.mkString(", ")}]"
}

/** A general MERGE statement lowered onto [[LakeTable.mergeClauses]]. */
final case class LakeMergeClausesCommand(
    location: String,
    keys: Seq[String],
    @transient source: LogicalPlan,
    @transient matched: Seq[MergeClauses.Clause],
    @transient notMatched: Seq[MergeClauses.Insert],
    @transient notMatchedBySource: Seq[MergeClauses.Clause])
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.GraftShims.ofRows(session, source)
    LakeTable.load(session, location)
      .mergeClauses(src, keys, matched, notMatched, notMatchedBySource)
    Nil
  }
  override def simpleString(maxFields: Int): String =
    s"LakeMergeClausesCommand $location keys=[${keys.mkString(", ")}] " +
      s"matched=${matched.size} notMatched=${notMatched.size} " +
      s"notMatchedBySource=${notMatchedBySource.size}"
}

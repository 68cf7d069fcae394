package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.GraftSqlBridge

import graft.ops.{AtomicPublish, MergeInto}
import graft.sources.GraftManagedTable

/** SQL DML over catalog-managed graft tables — the analysis rule that
  * turns Spark's resolved `UPDATE` / `DELETE FROM` / `MERGE INTO`
  * plans into the protocol's own commands:
  *
  * {{{
  *   UPDATE graft_cat.db.t SET v = v + 1 WHERE k % 10 = 3
  *   DELETE FROM graft_cat.db.t WHERE ds = '2026-08-01'
  *   MERGE INTO graft_cat.db.t USING batch s ON t.k = s.k
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *
  *     [WHEN NOT MATCHED BY SOURCE THEN DELETE]
  * }}}
  *
  * This is the extension-rule door Delta Lake itself shipped on for
  * years (`DeltaAnalysis` rewriting `UpdateTable`/`MergeIntoTable`
  * into Delta commands): Spark's native row-level path
  * (`SupportsRowLevelOperations`) would make SPARK plan the rewrite —
  * scanning and re-writing affected rows through a connector
  * DataWriter — while the protocol already owns BETTER physical
  * strategies for exactly these statements, chosen per table:
  *
  *   - tables with a declared merge identity (`merge.keys`
  *     TBLPROPERTY): UPDATE/DELETE/MERGE land as merge-on-read
  *     upsert/tombstone SEGMENTS ([[MergeInto.updateWhere]] /
  *     [[MergeInto.deleteWhere]] / [[MergeInto.upsertInto]]) — write
  *     cost ∝ the matched rows / the batch, NEVER the table;
  *   - keyless tables: copy-on-write PARTIAL rewrites
  *     ([[MergeInto.updateMatching]] / [[MergeInto.deleteMatching]])
  *     that rewrite only zonemap-affected segments and keep disjoint
  *     segments (and the clustering layout) in place.
  *
  * The rule fires on RESOLVED plans only, inside the analyzer's
  * fixed point (Spark's own row-level rewrites skip tables that don't
  * implement the row-level API, so there is no contention). Matching
  * is strictly scoped to [[GraftManagedTable]] relations — every
  * other table's DML flows to Spark untouched.
  *
  * Refusals are loud and name the API door: subquery predicates
  * (the rebind across a fresh snapshot read cannot carry them),
  * MERGE shapes beyond the four canonical ones (see
  * [[GraftMergeCommand]]), conditional matched/not-matched clauses,
  * partial-column `UPDATE SET` inside MERGE, and
  * `WITH SCHEMA EVOLUTION` (the API spells it
  * [[graft.engine.GraftConf.AllowSchemaEvolution]]).
  */
case class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u: UpdateTable if u.resolved =>
      GraftTarget.unapply(u.table).map(convertUpdate(u, _)).getOrElse(plan)
    case d: DeleteFromTable if d.resolved =>
      GraftTarget.unapply(d.table).map(convertDelete(d, _)).getOrElse(plan)
    case m: MergeIntoTable if m.resolved =>
      GraftTarget.unapply(m.targetTable).map(convertMerge(m, _))
        .getOrElse(plan)
    // a STILL-RESOLVING DML command: its target relation must stay a
    // placeholder (the conversion above matches on it), so pending-read
    // expansion applies only to the command's READ side — expanding the
    // target would orphan the command into Spark's row-level planner,
    // which this table deliberately doesn't implement
    case m: MergeIntoTable =>
      val expanded = expandPendingReads(m.sourceTable)
      if (expanded eq m.sourceTable) plan
      else m.copy(sourceTable = expanded)
    case _: UpdateTable | _: DeleteFromTable => plan
    case _ => expandPendingReads(plan)
  }

  /** RECONCILED READS of pending-merge tables: a catalog-managed table
    * that carries merge-on-read segments cannot be served by a path
    * listing (reconciliation is a join), so its relation is a
    * placeholder this rule swaps for the [[AtomicPublish.readOver]]
    * plan — the analysis-time view expansion Delta performs for
    * deletion-vector reads. SQL `SELECT` between a MERGE/DELETE and
    * the next fold thus sees the reconciled table, through the same
    * claims-join plan the API read builds (broadcastable claims,
    * zonemap-pruned base scan). Write TARGETS are exempt: the V2 write
    * commands need the relation itself, and their protocol commits
    * never read through it. */
  private def expandPendingReads(plan: LogicalPlan): LogicalPlan = {
    def pending(r: DataSourceV2Relation): Option[GraftManagedTable] =
      r.table match {
        case t: GraftManagedTable if t.pendingMor => Some(t)
        case _ => None
      }
    if (!plan.exists {
      case r: DataSourceV2Relation => pending(r).nonEmpty
      case _ => false
    }) return plan
    val writeTargets: Set[LogicalPlan] = plan match {
      case w: V2WriteCommand => Set(w.table)
      case _ => Set.empty
    }
    plan.transformUp {
      case r: DataSourceV2Relation if !writeTargets.exists(_ eq r) =>
        pending(r).map { t =>
          val reconciled =
            AtomicPublish.read(session, t.tableRoot).queryExecution.analyzed
          val aliases = r.output.map { old =>
            val n = reconciled.output
              .find(_.name.equalsIgnoreCase(old.name))
              .getOrElse(throw new IllegalStateException(
                s"graft reconciled read of ${t.tableRoot} lost column " +
                  s"`${old.name}` — fold the table and retry"))
            org.apache.spark.sql.catalyst.expressions.Alias(
              n, old.name)(exprId = old.exprId)
          }
          Project(aliases, reconciled): LogicalPlan
        }.getOrElse(r)
    }
  }

  private def convertUpdate(u: UpdateTable,
                            t: GraftManagedTable): LogicalPlan = {
    val sets = u.assignments.map { a =>
      a.key match {
        case ar: AttributeReference => ar.name -> noSubquery(a.value, "UPDATE SET")
        case other => refuse(s"UPDATE SET targets a non-column expression " +
          s"`${other.sql}` — only top-level columns are assignable")
      }
    }
    GraftUpdateCommand(t.tableRoot, t.mergeKeys, sets,
      u.condition.map(noSubquery(_, "UPDATE WHERE")))
  }

  private def convertDelete(d: DeleteFromTable,
                            t: GraftManagedTable): LogicalPlan =
    GraftDeleteCommand(t.tableRoot, t.mergeKeys,
      noSubquery(d.condition, "DELETE WHERE"))

  private def convertMerge(m: MergeIntoTable,
                           t: GraftManagedTable): LogicalPlan = {
    if (m.withSchemaEvolution) refuse(
      "MERGE … WITH SCHEMA EVOLUTION is not supported through SQL — set " +
        s"${graft.engine.GraftConf.AllowSchemaEvolution.key}=true and use MergeInto.upsertInto")
    val targetOut = m.targetTable.outputSet
    val sourceOut = m.sourceTable.outputSet

    // ON clause → merge keys: a conjunction of target.k = source.k
    // equi-predicates over IDENTICALLY-NAMED columns (the merge
    // identity both sides agree on)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val keyPairs = conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if targetOut.contains(a) && sourceOut.contains(b) => (a, b)
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if targetOut.contains(a) && sourceOut.contains(b) => (a, b)
      case other => refuse(s"MERGE ON must be a conjunction of " +
        s"target.k = source.k equi-predicates; got `${other.sql}` — for " +
        "richer match conditions use MergeInto.upsertInto after shaping " +
        "the source")
    }
    keyPairs.foreach { case (a, b) =>
      if (!a.name.equalsIgnoreCase(b.name)) refuse(
        s"MERGE ON joins differently-named columns (${a.name} vs " +
          s"${b.name}) — align the source column names to the target's")
    }
    val keys = keyPairs.map(_._1.name)
    t.mergeKeys.foreach { declared =>
      if (declared.map(_.toLowerCase).sorted != keys.map(_.toLowerCase).sorted)
        refuse(s"MERGE ON keys (${keys.mkString(", ")}) differ from the " +
          s"table's declared merge identity (${declared.mkString(", ")}) — " +
          "the merge.keys TBLPROPERTY is the table's row identity and " +
          "every MERGE must use it")
    }

    // Star/full-row assignment lists: every target column assigned
    // from the IDENTICALLY-NAMED source column (the shape
    // `UPDATE SET *` / `INSERT *` expands to). upsertInto replaces
    // whole rows, so partial SET lists are refused toward updateWhere.
    val targetCols = m.targetTable.output.map(_.name)
    def fullRowAssignment(assigns: Seq[Assignment], clause: String): Unit = {
      val assigned = assigns.map { a =>
        (a.key, a.value) match {
          case (k: AttributeReference, v: AttributeReference)
              if k.name.equalsIgnoreCase(v.name) &&
                targetOut.contains(k) && sourceOut.contains(v) => k.name
          case (k, v) => refuse(s"MERGE $clause assigns " +
            s"`${k.sql} = ${v.sql}` — only whole-row same-name " +
            s"assignments (the SET * / INSERT * shape) are supported; " +
            "for computed or partial assignments use UPDATE … WHERE or " +
            "MergeInto.upsertInto with a pre-shaped source")
        }
      }
      val missing = targetCols.filterNot(c =>
        assigned.exists(_.equalsIgnoreCase(c)))
      if (missing.nonEmpty) refuse(s"MERGE $clause covers only " +
        s"${assigned.size} of ${targetCols.size} target columns " +
        s"(missing ${missing.mkString(", ")}) — upsert semantics replace " +
        "whole rows; assign every column or use UPDATE … WHERE")
    }
    def unconditional(a: MergeAction, clause: String): Unit =
      if (a.condition.nonEmpty) refuse(s"MERGE $clause carries an AND " +
        "condition — conditional clauses are not supported; pre-filter " +
        "the source or use the MergeInto API")

    val matched = m.matchedActions
    val notMatched = m.notMatchedActions
    val bySource = m.notMatchedBySourceActions
    matched.foreach(unconditional(_, "WHEN MATCHED"))
    notMatched.foreach(unconditional(_, "WHEN NOT MATCHED"))
    bySource.foreach(unconditional(_, "WHEN NOT MATCHED BY SOURCE"))

    def isUpdate(a: MergeAction): Boolean = a match {
      case _: UpdateStarAction => true
      case ua: UpdateAction => fullRowAssignment(ua.assignments,
        "WHEN MATCHED UPDATE"); true
      case _ => false
    }
    def isInsert(a: MergeAction): Boolean = a match {
      case _: InsertStarAction => true
      case ia: InsertAction => fullRowAssignment(ia.assignments,
        "WHEN NOT MATCHED INSERT"); true
      case _ => false
    }

    val shape = (matched, notMatched, bySource) match {
      case (Seq(u), Seq(i), Seq())
          if isUpdate(u) && isInsert(i) => GraftMergeCommand.Upsert
      case (Seq(u), Seq(i), Seq(_: DeleteAction))
          if isUpdate(u) && isInsert(i) => GraftMergeCommand.Sync
      case (Seq(_: DeleteAction), Seq(), Seq()) =>
        GraftMergeCommand.DeleteMatched
      case (Seq(), Seq(i), Seq()) if isInsert(i) =>
        GraftMergeCommand.InsertOnly
      case _ => refuse("unsupported MERGE shape — supported: " +
        "[MATCHED UPDATE SET * + NOT MATCHED INSERT *] (upsert), " +
        "the same + [NOT MATCHED BY SOURCE DELETE] (full sync), " +
        "[MATCHED DELETE] alone (keyed delete), and " +
        "[NOT MATCHED INSERT *] alone (insert-only); " +
        "richer shapes live on the MergeInto API")
    }
    // target-name → source-name projection (source may carry extras).
    // A matched-DELETE only consumes the source's key columns; the
    // row-landing shapes need every target column.
    val needed =
      if (shape == GraftMergeCommand.DeleteMatched) keys else targetCols
    val projection = needed.map { c =>
      val s = m.sourceTable.output.find(_.name.equalsIgnoreCase(c)).map(_.name)
        .getOrElse(refuse(s"MERGE source is missing target column `$c` — " +
          "upsert semantics need every target column"))
      (c, s)
    }
    GraftMergeCommand(t.tableRoot, keys, shape, projection, m.sourceTable)
  }

  private def noSubquery(e: Expression, where: String): Expression = {
    if (e.exists(_.isInstanceOf[SubqueryExpression])) refuse(
      s"$where contains a subquery — evaluate it to a batch first and " +
        "use the MergeInto API, or inline the values")
    e
  }

  private def refuse(msg: String): Nothing =
    throw new UnsupportedOperationException(s"graft SQL DML: $msg")
}

/** Scoped extractor: a (possibly aliased) DSv2 relation whose table is
  * the catalog's managed graft table. */
private object GraftTarget {
  def unapply(plan: LogicalPlan): Option[GraftManagedTable] = plan match {
    case SubqueryAlias(_, child) => unapply(child)
    case r: DataSourceV2Relation => r.table match {
      case t: GraftManagedTable => Some(t)
      case _ => None
    }
    case _ => None
  }
}

/** Expression → Column against a FRESH snapshot read: the plan the
  * analyzer resolved binds the relation loaded at parse time, while
  * the command reads the table at RUN time — so attributes re-resolve
  * BY NAME against the new scan (schemas are flat; names are unique). */
private object Rebind {
  def column(e: Expression): Column =
    GraftSqlBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
}

/** `UPDATE t SET … WHERE …` — routed by merge identity: declared
  * `merge.keys` → [[MergeInto.updateWhere]] (merge-on-read, write ∝
  * matched rows); keyless → [[MergeInto.updateMatching]]
  * (copy-on-write partial rewrite, zone-disjoint segments kept). */
case class GraftUpdateCommand(tableRoot: String,
                              mergeKeys: Option[Seq[String]],
                              sets: Seq[(String, Expression)],
                              condition: Option[Expression])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val pred = condition.map(Rebind.column).getOrElse(lit(true))
    val set = sets.map { case (n, e) => n -> Rebind.column(e) }.toMap
    mergeKeys match {
      case Some(keys) => MergeInto.updateWhere(spark, tableRoot, pred, set, keys)
      case None       => MergeInto.updateMatching(spark, tableRoot, pred, set)
    }
    Seq.empty
  }
}

/** `DELETE FROM t WHERE …` — keyed tables tombstone the matched keys
  * ([[MergeInto.deleteWhere]], write ∝ matched keys); keyless tables
  * take the zone-pruned partial rewrite
  * ([[MergeInto.deleteMatching]]). */
case class GraftDeleteCommand(tableRoot: String,
                              mergeKeys: Option[Seq[String]],
                              condition: Expression)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val pred = Rebind.column(condition)
    mergeKeys match {
      case Some(keys) => MergeInto.deleteWhere(spark, tableRoot, pred, keys)
      case None       => MergeInto.deleteMatching(spark, tableRoot, pred)
    }
    Seq.empty
  }
}

/** `MERGE INTO t USING s ON …` in its four canonical shapes. The
  * source plan is captured as resolved logical plan and re-wrapped at
  * run time; `projection` aligns it to the target's column set (extra
  * source columns — join helpers, staging metadata — are dropped). */
case class GraftMergeCommand(tableRoot: String,
                             keys: Seq[String],
                             shape: GraftMergeCommand.Shape,
                             projection: Seq[(String, String)],
                             sourcePlan: LogicalPlan)
  extends LeafRunnableCommand {
  import GraftMergeCommand._

  override def innerChildren: Seq[LogicalPlan] = Seq(sourcePlan)

  override def run(spark: SparkSession): Seq[Row] = {
    val source = GraftSqlBridge.ofRows(spark, sourcePlan)
      .select(projection.map { case (t, s) => col(s).as(t) }: _*)
    shape match {
      case Upsert => MergeInto.upsertInto(spark, tableRoot, source, keys)
      case Sync   => MergeInto.syncInto(spark, tableRoot, source, keys)
      case DeleteMatched =>
        MergeInto.deleteFrom(spark, tableRoot,
          source.select(keys.map(col): _*), keys)
      case InsertOnly =>
        // insert-only MERGE: the dedup-append idiom — land only rows
        // whose key the table does not already hold. The anti join's
        // big side is the KEY-COLUMN scan of the table (column-pruned,
        // zonemap-prunable); the write is ∝ the new rows.
        val existing = AtomicPublish.read(spark, tableRoot)
          .select(keys.map(col): _*)
        val fresh = source.join(existing, keys, "left_anti")
        if (!fresh.isEmpty)
          AtomicPublish.appendSegment(spark, tableRoot)(p =>
            fresh.write.parquet(p))
    }
    Seq.empty
  }
}

object GraftMergeCommand {
  sealed trait Shape
  case object Upsert extends Shape
  case object Sync extends Shape
  case object DeleteMatched extends Shape
  case object InsertOnly extends Shape
}

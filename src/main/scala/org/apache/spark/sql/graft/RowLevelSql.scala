package org.apache.spark.sql.graft

import java.util.UUID

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import _root_.graft.Pins

/** SQL-text row-level mutations — `DELETE FROM` / `UPDATE` / `MERGE
  * INTO` — for v1 lake tables (session-catalog tables `USING parquet`
  * and path-based file relations).
  *
  * Spark 4's parser+analyzer already produce fully resolved
  * [[DeleteFromTable]]/[[UpdateTable]]/[[MergeIntoTable]] plans for ANY
  * target; only the PLANNER rejects non-DataSourceV2 targets ("Table
  * does not support DELETE/UPDATE/MERGE"). [[RowLevelSqlRewrite]] steps
  * in at post-hoc resolution — after everything is resolved, before the
  * planner's rejection — and swaps the node for a
  * [[GraftRowLevelCommand]] that executes the standard group-based
  * copy-on-write rewrite with plain distributed DataFrame plans:
  *
  *  - DELETE: keep rows where the predicate is not satisfied,
  *  - UPDATE: per-column CASE WHEN predicate THEN assignment ELSE old,
  *  - MERGE:  full-outer join on the merge condition, then per-row
  *    first-matching-action semantics (WHEN MATCHED [AND c] THEN
  *    UPDATE/DELETE, WHEN NOT MATCHED THEN INSERT, WHEN NOT MATCHED BY
  *    SOURCE THEN UPDATE/DELETE) with the standard cardinality check
  *    (a target row matching >1 source rows is an error),
  *
  * then stages the result to a sibling directory on the TABLE'S OWN
  * filesystem (cluster-reachable, unlike driver-local tmp) and
  * replaces the table contents with a static-mode INSERT OVERWRITE.
  * Two-phase on purpose — the result plan reads the files it is about
  * to replace (same discipline as Sources.upsertPartitioned, m02).
  *
  * Granularity: the rewrite group is the WHOLE table — always correct,
  * and the right default for un-partition-aligned predicates. When the
  * mutation is partition-aligned, [[graft.sources.Sources.upsertPartitioned]]
  * is the partition-targeted fast path that rewrites only affected
  * partitions. Hive-SerDe tables (`STORED AS ...`) are left to Spark's
  * native error — graft lake tables are `USING parquet`.
  */
object RowLevelSqlRewrite extends Rule[LogicalPlan] {

  /** Unwraps a DML target to its writable v1 relation, when supported. */
  private[graft] def unwrapTarget(plan: LogicalPlan)
      : Option[(Option[CatalogTable], Option[Path], Seq[String])] = plan match {
    case SubqueryAlias(_, child) => unwrapTarget(child)
    case l: LogicalRelation =>
      l.relation match {
        case h: HadoopFsRelation =>
          Some((l.catalogTable, h.location.rootPaths.headOption,
            h.partitionSchema.fieldNames.toSeq))
        case _ => None
      }
    case _ => None
  }

  private def simpleKeys(as: Seq[Assignment]): Boolean =
    as.forall(_.key.isInstanceOf[AttributeReference])

  private def actionsSupported(as: Seq[MergeAction]): Boolean = as.forall {
    case u: UpdateAction => simpleKeys(u.assignments)
    case i: InsertAction => simpleKeys(i.assignments)
    case _: DeleteAction => true
    case _ => false // star actions resolve away; anything else is unknown
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d @ DeleteFromTable(table, cond)
        if d.resolved && unwrapTarget(table).isDefined =>
      GraftRowLevelCommand("DELETE", table, None, Some(cond))
    case u @ UpdateTable(table, assignments, cond)
        if u.resolved && unwrapTarget(table).isDefined && simpleKeys(assignments) =>
      GraftRowLevelCommand("UPDATE", table, None, cond, assignments)
    case m: MergeIntoTable
        if m.resolved && unwrapTarget(m.targetTable).isDefined &&
          !m.withSchemaEvolution &&
          actionsSupported(m.matchedActions ++ m.notMatchedActions ++
            m.notMatchedBySourceActions) =>
      GraftRowLevelCommand("MERGE", m.targetTable, Some(m.sourceTable),
        Some(m.mergeCondition), Nil, m.matchedActions, m.notMatchedActions,
        m.notMatchedBySourceActions)
    case _ => plan
  }
}

case class GraftRowLevelCommand(
    verb: String,
    target: LogicalPlan,
    source: Option[LogicalPlan],
    condition: Option[Expression],
    assignments: Seq[Assignment] = Nil,
    matchedActions: Seq[MergeAction] = Nil,
    notMatchedActions: Seq[MergeAction] = Nil,
    notMatchedBySourceActions: Seq[MergeAction] = Nil)
  extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = target +: source.toSeq

  private def c(e: Expression): Column = ColumnBridge.column(e)

  /** Predicate as a three-valued-logic-safe boolean: NULL ⇒ false. */
  private def pred(e: Expression): Column = coalesce(c(e), lit(false))

  // scoped: MERGE's pinned join must outlive the staging write (which
  // re-reads it), then release
  override def run(spark: SparkSession): Seq[Row] = Pins.scope {
    val (catalogTable, path, partitionCols) =
      RowLevelSqlRewrite.unwrapTarget(target).getOrElse(
        throw new IllegalStateException(s"$verb target is not a graft lake table"))
    val tdf = ColumnBridge.ofRows(spark, target)
    val result: DataFrame = verb match {
      case "DELETE" =>
        tdf.filter(!pred(condition.get))
      case "UPDATE" =>
        val byId = assignments
          .map(a => a.key.asInstanceOf[AttributeReference].exprId -> a.value).toMap
        val hit = condition.map(pred).getOrElse(lit(true))
        tdf.select(target.output.map { attr =>
          byId.get(attr.exprId) match {
            case Some(v) => when(hit, c(v)).otherwise(c(attr)).as(attr.name)
            case None => c(attr).as(attr.name)
          }
        }: _*)
      case "MERGE" => mergeResult(spark, tdf)
    }

    // Stage next to the table (same FS — executors can reach it; a
    // driver-local tmp dir could not back a distributed write-back).
    val loc: Path = catalogTable.map(t => new Path(t.location)).orElse(path)
      .getOrElse(throw new IllegalStateException(s"$verb target has no location"))
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = loc.getFileSystem(hconf)
    val staging = new Path(loc.getParent,
      s".graft_stage_${loc.getName}_${UUID.randomUUID().toString.take(8)}")
    try {
      val ordered = result.select(target.output.map(a => col(a.name)): _*)
      ordered.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      val staged = spark.read.parquet(staging.toString)
        .select(target.output.map(a => col(a.name)): _*)
      catalogTable match {
        case Some(ct) =>
          // static overwrite: the whole table is replaced, including
          // partitions the result no longer touches (a DELETE can drain
          // a partition; dynamic mode would leave it stale). Must be the
          // SESSION conf — insertInto ignores a per-writer option here.
          val confKey = "spark.sql.sources.partitionOverwriteMode"
          val prev = spark.conf.getOption(confKey)
          spark.conf.set(confKey, "static")
          try staged.write.mode(SaveMode.Overwrite)
            .insertInto(ct.identifier.unquotedString)
          finally prev match {
            case Some(v) => spark.conf.set(confKey, v)
            case None => spark.conf.unset(confKey)
          }
        case None =>
          val w = staged.write.mode(SaveMode.Overwrite)
          (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
            .parquet(loc.toString)
          spark.catalog.refreshByPath(loc.toString)
      }
      catalogTable.foreach(ct => spark.catalog.refreshTable(ct.identifier.unquotedString))
    } finally { fs.delete(staging, true); () }
    Seq.empty
  }

  /** Full-outer-join MERGE rewrite. Presence markers (non-null side
    * flags) drive the three row classes; within a class the action list
    * folds right so the FIRST action whose condition holds wins, exactly
    * SQL MERGE's evaluation order. */
  private def mergeResult(spark: SparkSession, tdf0: DataFrame): DataFrame = {
    val T = "__graft_t"; val S = "__graft_s"; val TID = "__graft_tid"
    val tdf = tdf0.withColumn(T, lit(true))
      .withColumn(TID, monotonically_increasing_id())
    val sdf = ColumnBridge.ofRows(spark, source.get).withColumn(S, lit(true))
    val joined = Pins.pin(tdf.join(sdf, c(condition.get), "full_outer"))
    val isMatched = col(T).isNotNull && col(S).isNotNull
    val isNotMatched = col(T).isNull && col(S).isNotNull
    if (matchedActions.nonEmpty || notMatchedBySourceActions.nonEmpty) {
      val dups = joined.filter(isMatched).groupBy(col(TID)).count()
        .filter(col("count") > 1).limit(1).count()
      if (dups > 0) throw new org.apache.spark.SparkException(
        "MERGE cardinality violation: a target row matched more than one source row")
    }
    def actionCond(a: MergeAction): Column =
      a.condition.map(pred).getOrElse(lit(true))
    def branchKeep(actions: Seq[MergeAction], default: Column): Column =
      actions.foldRight(default) { (a, els) =>
        val keep = a match { case _: DeleteAction => lit(false); case _ => lit(true) }
        when(actionCond(a), keep).otherwise(els)
      }
    def branchValue(actions: Seq[MergeAction], attr: Attribute,
        default: Column): Column =
      actions.foldRight(default) { (a, els) =>
        val v: Column = a match {
          case u: UpdateAction =>
            u.assignments
              .find(_.key.asInstanceOf[AttributeReference].exprId == attr.exprId)
              .map(x => c(x.value)).getOrElse(c(attr))
          case i: InsertAction =>
            i.assignments
              .find(_.key.asInstanceOf[AttributeReference].exprId == attr.exprId)
              .map(x => c(x.value)).getOrElse(lit(null).cast(attr.dataType))
          case _: DeleteAction => c(attr) // row is dropped by branchKeep
        }
        when(actionCond(a), v).otherwise(els)
      }
    val keep = when(isMatched, branchKeep(matchedActions, lit(true)))
      .when(isNotMatched, branchKeep(notMatchedActions, lit(false)))
      .otherwise(branchKeep(notMatchedBySourceActions, lit(true)))
    val cols = target.output.map { attr =>
      when(isMatched, branchValue(matchedActions, attr, c(attr)))
        .when(isNotMatched,
          branchValue(notMatchedActions, attr, lit(null).cast(attr.dataType)))
        .otherwise(branchValue(notMatchedBySourceActions, attr, c(attr)))
        .as(attr.name)
    }
    joined.filter(keep).select(cols: _*)
  }
}

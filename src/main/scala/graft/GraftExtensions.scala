package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BpeEncode, DotProduct, DotProductInt, FreqSketch, PolyFingerprint, QualityScore}

/** SQL-surface registration for graft's native expressions: sessions
  * built with `spark.sql.extensions=graft.GraftExtensions` can call
  * `graft_dot(a, b)` from SQL text. DataFrame callers don't need this —
  * [[graft.functions.DotProduct]] lifts into a Column directly, which is
  * why SparkEntry queries also work in a driver-owned session without
  * the extension. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_dot(array<double>, array<double>) takes 2 arguments, got ${children.length}")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot_int"),
      new ExpressionInfo(classOf[DotProductInt].getName, "graft_dot_int"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_dot_int(array<int>, array<int>) takes 2 arguments, got ${children.length}")
        DotProductInt(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[PolyFingerprint].getName, "graft_fingerprint"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_fingerprint(string) takes 1 argument, got ${children.length}")
        PolyFingerprint(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_quality_score"),
      new ExpressionInfo(classOf[QualityScore].getName, "graft_quality_score"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_quality_score(string) takes 1 argument, got ${children.length}")
        QualityScore(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "graft_bpe_encode"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_bpe_encode(string, array<string>) takes 2 arguments, got ${children.length}")
        BpeEncode(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_freq_sketch"),
      new ExpressionInfo(classOf[FreqSketch].getName, "graft_freq_sketch"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_freq_sketch(string, capacity) takes 2 arguments, got ${children.length}")
        val cap = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
            if v != null => v.toString.toInt
          case other => throw new IllegalArgumentException(
            s"graft_freq_sketch capacity must be an integer literal, got $other")
        }
        FreqSketch(children.head, cap)
      }))
    // row_number()<=k window-filter → native bounded-heap top-k operator
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    // ddl12: CREATE/DROP TEMPORARY MACRO — Hive's named-inline-
    // expression statement, rewritten to Spark SQL scalar functions
    // with the return type inferred from the body (see MacroParser)
    ext.injectParser((session, delegate) =>
      new graft.plans.MacroParser(session, delegate))
    // sql08: CREATE/REFRESH MATERIALIZED VIEW — SQL-text reach for the
    // mv01–mv04 view family (path-addressed s16 snapshot views); the
    // statements plan as RunnableCommands mapping onto IncrementalView
    ext.injectParser((session, delegate) =>
      new graft.plans.MaterializedViewSqlParser(session, delegate))
    // SQL-text DELETE/UPDATE/MERGE INTO on v1 lake tables: the analyzer
    // resolves them fine, only the planner rejects v1 targets — rewrite
    // the resolved command to a distributed copy-on-write plan first
    ext.injectPostHocResolutionRule(_ => org.apache.spark.sql.graft.RowLevelSqlRewrite)
    // the `graft_*` operator names (Sql.Registry) resolve on reference
    ext.injectResolutionRule(Sql.ResolveOperators)
  }
}

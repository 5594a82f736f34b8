package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point — the deployment-grade way to install
  * graft's custom Catalyst surface into any session:
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *   (or SparkSession.builder().withExtensions(new GraftExtensions))
  *
  * Installs `graft_dot` (codegen dot product, see DotProduct) and
  * `graft_simhash64` (codegen SimHash majority vote, see SimHash64). The
  * harness mains use the runtime-registry path (VectorOps.ensureRegistered)
  * because the driver owns session construction; both paths bind the same
  * expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL-string DDL entry point: intercepts the MAPPED BY grammar (and
    // catalog-guarded shared statements) and falls through to the vanilla
    // parser otherwise — see plans.GraftSqlParser for the routing rules.
    ext.injectParser((session, delegate) =>
      new graft.plans.GraftSqlParser(session, delegate))
    // CHECK-constraint enforcement on kv catalog-table batch writes: the
    // write query gains a raise-on-violation filter — at analysis time for
    // INSERT/OVERWRITE, at optimization time for the row-level rewrite's
    // ReplaceData/WriteDelta (see plans.CheckConstraints).
    ext.injectResolutionRule(session => new graft.plans.CheckConstraintRule(session))
    ext.injectOptimizerRule(session => new graft.plans.CheckConstraintDmlRule(session))
    // Transparent rollup rewrite over registered materialized views — a
    // no-op until MvCatalog has registrations (see plans.MvRewriteRule).
    ext.injectOptimizerRule(session => new graft.plans.MvRewriteRule(session))
    // Transparent secondary-index rewrite over registered indexes — a
    // no-op until IndexCatalog has registrations (see plans.IndexRewriteRule).
    ext.injectOptimizerRule(session => new graft.plans.IndexRewriteRule(session))
    // Whole-operator surface: plans the TopKPerGroup logical node as the
    // two-phase bounded-heap exec pair (see plans.TopK).
    ext.injectPlannerStrategy(session => graft.plans.GraftTopKStrategy)
    // ANALYZE-to-CBO bridge: after operator optimization, annotate mutated
    // keyed tables' replay subtrees with their analyzed row counts so
    // Spark's own join selection sees post-mutation reality (a DELETE that
    // shrank the table below the broadcast threshold flips hint-free);
    // the strategy plans the annotation node away as its child.
    ext.injectPreCBORule(session => new graft.plans.AnalyzeStatsRule(session))
    ext.injectPlannerStrategy(session => graft.plans.GraftStatsStrategy)
    // Primitive constants in filter/project comparisons become codegen
    // parameters, so statements that differ only in key constants reuse
    // one compiled class (see plans.ParamLiteral). The columnar hook's
    // pre-transition rule runs just before CollapseCodegenStages.
    ext.injectColumnar(session => graft.plans.ParamLiteralColumnarRule)
    // Same arity checks VectorOps.ensureRegistered enforces — without them
    // extra arguments would be silently dropped via exprs.head.
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getCanonicalName, "graft_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2,
          s"graft_dot expects exactly 2 arguments, got ${exprs.length}")
        DotProduct(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getCanonicalName, "graft_simhash64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 1,
          s"graft_simhash64 expects exactly 1 argument, got ${exprs.length}")
        SimHash64(exprs.head)
      }))
  }
}

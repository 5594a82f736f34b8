package graft.plans

import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions.{Literal, Not}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** `DELETE FROM t` without WHERE on an `epochs` kv table. Spark hands an
  * unconditional DELETE on a truncatable table straight to `deleteWhere`
  * and never plans the row-level rewrite, so a table whose merge-on-read
  * deltas rule out the history-keeping metadata delete would refuse it.
  * Spelling the condition as `NOT false` lets the rewrite plan it; the
  * optimizer folds it back to true, and the metadata-only delete still
  * replaces the rewrite wherever the table accepts it. */
class KvDeleteAllRule extends Rule[LogicalPlan] {
  // a DELETE is always the root of its statement's plan
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d @ DeleteFromTable(target, Literal.TrueLiteral) if epochsKv(target) =>
      d.copy(condition = Not(Literal.FalseLiteral))
    case other => other
  }

  private def epochsKv(target: LogicalPlan): Boolean =
    EliminateSubqueryAliases(target) match {
      case DataSourceV2Relation(t: graft.sources.GraftKvTable, _, _, _, _, _) => t.stampEpochs
      case _ => false
    }
}

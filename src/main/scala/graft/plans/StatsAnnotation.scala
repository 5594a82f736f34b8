package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

import graft.sources.GraftKvTable

/** ANALYZE-to-CBO bridge for graft keyed tables (SURVEY.md §2 A8; the
  * HBaseCatalog-kept-stats-for-join-selection analogue, re-expressed as a
  * Catalyst extension).
  *
  * A MUTATED keyed table reads its kv store, whose scan reports the
  * manifest's row count and on-disk bytes: merge-on-read DELETEs leave the
  * deleted rows' files in place, so a table that a DELETE made
  * broadcast-small keeps planning as a shuffle join. `ANALYZE TABLE`
  * already computes the TRUE current row count in one scan; this rule
  * injects it where Spark's own join selection reads statistics.
  *
  * Mechanics: [[GraftStatsNode]] is a pass-through unary node that reports
  * the analyzed Statistics; [[AnalyzeStatsRule]] (injected via
  * `injectPreCBORule`, i.e. after operator optimization — pushdown is
  * done — and before stats-dependent planning) wraps each maximal subtree
  * that is Project/Filter over one analyzed table's CURRENT store scan, so
  * a self-join of the table annotates each side, never the join;
  * [[GraftStatsStrategy]] plans the node away as its child. Stale stats
  * never fire: ANALYZE records the mutation-log position it ran at, and a
  * later DML drops the table out of [[graft.ops.Ddl.cboStats]] (SHOW STATS
  * flags it `stats_stale`). A `VERSION AS OF` read is a pinned scan and
  * never matches; neither does an independent read of the base parquet.
  *
  * Unmutated tables are deliberately NOT annotated — their store scan's
  * manifest statistics are already sound.
  *
  * At cluster scale this is the pre-shuffle win AQE cannot give: AQE flips
  * to broadcast only after both sides' shuffle files are written, while a
  * statistics-driven initial plan never shuffles the big side at all.
  */
final case class GraftStatsNode(child: LogicalPlan, rowCount: Long,
    cols: Map[String, org.apache.spark.sql.catalyst.plans.logical.ColumnStat] =
      Map.empty)
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  // deliberately NOT Some(rowCount): maxRows feeds correctness transforms
  // (limit elimination) and a stale-held frame could carry a smaller
  // annotation than its actual rows — statistics stay advisory only
  override def maxRows: Option[Long] = child.maxRows
  override lazy val stats: Statistics = Statistics(
    sizeInBytes = EstimationUtils.getOutputSize(output, BigInt(rowCount)),
    rowCount = Some(BigInt(rowCount)),
    // ANALYZE ... FOR COLUMNS results, matched to this subtree's own
    // output attributes by name — FilterEstimation then shrinks
    // selective predicates the row count alone cannot see through
    attributeStats = org.apache.spark.sql.catalyst.expressions.AttributeMap(
      output.flatMap(a => cols.get(a.name.toLowerCase).map(a -> _))))
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftStatsNode =
    copy(child = newChild)
}

object GraftStatsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g: GraftStatsNode => planLater(g.child) :: Nil
    case _                 => Nil
  }
}

final class AnalyzeStatsRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    val tables = graft.ops.Ddl.cboStats()
    if (tables.isEmpty) plan else annotate(plan, tables)
  }

  private type TableStats = Map[String, (Long,
    Map[String, org.apache.spark.sql.catalyst.plans.logical.ColumnStat])]

  private def annotate(p: LogicalPlan, tables: TableStats): LogicalPlan =
    matchTable(p, tables) match {
      case Some((rows, cols)) => GraftStatsNode(p, rows, cols)
      case None => p.withNewChildren(p.children.map(annotate(_, tables)))
    }

  /** The subtree reads one analyzed table's CURRENT state iff it is
    * Project/Filter over exactly one scan of that table's kv store, not
    * pinned to a version. */
  private def matchTable(p: LogicalPlan, tables: TableStats)
      : Option[(Long, Map[String,
        org.apache.spark.sql.catalyst.plans.logical.ColumnStat])] = {
    var stores = List.empty[String]
    var ok = true
    p.foreach {
      case r: DataSourceV2ScanRelation => stores ::= storeOf(r.relation)
      case r: DataSourceV2Relation     => stores ::= storeOf(r)
      case _: Project | _: Filter      => ()
      case _                           => ok = false
    }
    stores match {
      case List(s) if ok => tables.get(s)
      case _             => None
    }
  }

  private def storeOf(r: DataSourceV2Relation): String = r.table match {
    case kv: GraftKvTable if kv.pinned.isEmpty => graft.ops.Ddl.normPath(kv.path)
    case _                                     => ""
  }
}

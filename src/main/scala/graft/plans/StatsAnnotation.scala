package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project, Statistics, UnaryNode, Union}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** ANALYZE-to-CBO bridge for graft keyed tables (SURVEY.md §2 A8; the
  * HBaseCatalog-kept-stats-for-join-selection analogue, re-expressed as a
  * Catalyst extension).
  *
  * A MUTATED keyed table reads as its replay plan — base parquet under
  * filters (DELETE), projections (UPDATE/ADD/DROP), unions (INSERT/LOAD)
  * and anti-joins (MERGE). Spark's size-only estimation cannot see through
  * that shape: a DELETE that removed 99% of the rows still carries the full
  * base file size, so a table that became broadcast-small keeps planning as
  * a shuffle join. `ANALYZE TABLE` already computes the TRUE current row
  * count in one scan; this rule injects it where Spark's own join selection
  * reads statistics.
  *
  * Mechanics: [[GraftStatsNode]] is a pass-through unary node that reports
  * the analyzed Statistics; [[AnalyzeStatsRule]] (injected via
  * `injectPreCBORule`, i.e. after operator optimization — pushdown is
  * done — and before stats-dependent planning) wraps each maximal subtree
  * that reads exclusively from an analyzed table's files and has replay
  * shape (no aggregates, no non-anti joins, so a self-join of the table
  * annotates each side, never the join); [[GraftStatsStrategy]] plans the
  * node away as its child. Stale stats never fire: ANALYZE records the
  * mutation-log position it ran at, and a later DML drops the table out of
  * [[graft.ops.Ddl.cboStats]] (SHOW STATS flags it `stats_stale`).
  *
  * Unmutated tables are deliberately NOT annotated — a plain parquet scan's
  * file-size estimate is already sound, and rewriting every TPC-H scan's
  * estimate from rows × width would perturb working broadcast decisions.
  *
  * At cluster scale this is the pre-shuffle win AQE cannot give: AQE flips
  * to broadcast only after both sides' shuffle files are written, while a
  * statistics-driven initial plan never shuffles the big side at all.
  */
object StatsAnnotation {
  /** Positive identification of replay plans: Ddl's registration funnel
    * (`Ddl.register`, behind CREATE, every logged statement and restart
    * replay) tags the registered view's BASE relation with a fresh
    * per-registration NONCE. The annotation rule requires the table's
    * CURRENT nonce — an independent `spark.read.parquet(samePath)` is a
    * DIFFERENT dataset (the pre-mutation file), and `graft.t`, asOf and
    * time-travel frames run the replay SQL outside the funnel, so neither
    * ever inherits the table's post-mutation statistics. Tags survive Catalyst's copy-on-transform
    * (makeCopy preserves them). */
  val KeyedTableTag: org.apache.spark.sql.catalyst.trees.TreeNodeTag[String] =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[String]("graft.keyed.table")
}

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

  private type TableStats = Seq[(String, Seq[String], Long,
    Map[String, org.apache.spark.sql.catalyst.plans.logical.ColumnStat])]

  private def annotate(p: LogicalPlan, tables: TableStats): LogicalPlan =
    matchTable(p, tables) match {
      case Some((rows, cols)) => GraftStatsNode(p, rows, cols)
      case None => p.withNewChildren(p.children.map(annotate(_, tables)))
    }

  /** The subtree is one analyzed table's CURRENT replay (possibly under
    * its own pushed filters/projections) iff three things hold:
    *  1. some leaf carries the table's CURRENT registration nonce in
    *     [[StatsAnnotation.KeyedTableTag]] — only the registered view's
    *     own base relation is tagged, so a user's independent read of the
    *     same parquet or a time-travel frame can never match;
    *  2. the leaf path MULTISET equals the table's full replay multiset
    *     exactly — an asOf prefix, a self-union (paths doubled), or a
    *     bare base read under-/over-counts and is rejected;
    *  3. every operator is on the replay WHITELIST (Project / Filter /
    *     Union / LeftAnti join / file relation) — anything that can
    *     multiply rows (Generate, windows, other joins) or aggregate
    *     them vetoes. */
  private def matchTable(p: LogicalPlan, tables: TableStats)
      : Option[(Long, Map[String,
        org.apache.spark.sql.catalyst.plans.logical.ColumnStat])] = {
    if (p.isInstanceOf[GraftStatsNode]) return None
    var paths = List.empty[String]
    var tag: Option[String] = None
    var ok = true
    p.foreach {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation =>
            paths = fs.location.rootPaths.map(_.toUri.getPath).toList ++ paths
          case _ => ok = false
        }
        if (tag.isEmpty)
          tag = lr.getTagValue(StatsAnnotation.KeyedTableTag)
      case j: Join if j.joinType != LeftAnti => ok = false
      case _: Project | _: Filter | _: Join | _: Union => ()
      case _ => ok = false
    }
    if (!ok || tag.isEmpty) None
    else {
      val sorted = paths.sorted
      tables.collectFirst {
        case (name, ps, rows, cols) if tag.contains(name) && ps == sorted =>
          (rows, cols)
      }
    }
  }
}

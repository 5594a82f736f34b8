package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.internal.StaticSQLConf

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
  *
  * Built through `withExtensions`, it also raises Spark's compiled-class
  * cache bound (see GraftExtensions.CodegenCacheEntries) and swaps Hadoop's
  * local filesystem for graft's fork-free one (graft.sources.LocalFs),
  * which spares streaming checkpoints a `chmod` and a `readlink` process
  * per file. Limit: both are builder-time system properties, so a
  * `spark.sql.extensions=` session whose context already exists keeps
  * Hadoop's class; pass the two `spark.hadoop.*` confs of `LocalFs.Confs`
  * there.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Size Spark's compiled-class cache before the session's SparkConf
    // exists: withExtensions runs this at builder time, and build() later
    // loads spark.* system properties into its new SparkConf. A value set
    // by builder .config(...) or spark-submit --conf still wins.
    sys.props.getOrElseUpdate(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
      GraftExtensions.CodegenCacheEntries.toString)
    // Same point and precedence for the fork-free local filesystem: the
    // context copies spark.hadoop.* into its Hadoop configuration.
    graft.sources.LocalFs.Confs.foreach { case (k, v) =>
      sys.props.getOrElseUpdate(k, v) }
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
    // Unconditional DELETE on an `epochs` kv table keeps its history (see
    // plans.KvDeleteAllRule).
    ext.injectResolutionRule(_ => new graft.plans.KvDeleteAllRule)
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

object GraftExtensions {
  /** Bound of Spark's compiled-class cache in a session built with
    * `withExtensions(new GraftExtensions)`
    * (`spark.sql.codegen.cache.maxEntries`; Spark's default is 100).
    *
    * The working set it must hold: the LLM-pipeline operators (dedup,
    * graph, ANN, text, streaming) keep about
    * 300 distinct generated sources alive, with up to 2 entries each,
    * because the cache is keyed by (context class loader, source): an AQE
    * stage compiles a class on the driver and a task compiles the same
    * source under the executor's loader. The cache is a Guava cache, so the
    * bound is split over its 4 segments; 100 entries are 4 LRU lists of 25.
    * At 100 one pass over the 11 pipelines recompiled about 500 classes; at
    * 4096, about 45.
    *
    * Limit: Spark builds the cache once per JVM, from the static SQL conf
    * in force when code is first generated. A JVM whose SparkContext
    * already exists, or that has already generated code, keeps its old
    * bound. The `spark.sql.extensions=` route installs graft after the
    * context is built, so there the bound has to be passed as a conf.
    */
  val CodegenCacheEntries = 4096
}

package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, In, InSet, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter, HintInfo, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** A registered secondary index: point/IN predicates on `col` over
  * `sourcePath` get rewritten to an index probe + key semi-join (see
  * [[IndexRewriteRule]]). `indexPath` holds a slim (col, keyCols…)
  * projection written range-clustered + sorted on `col`, so the probe
  * prunes to O(matches) via parquet min/max stats. `keyCols` must be
  * UNIQUE in the source (validated at build time) — semi-join on a
  * non-unique key would admit rows whose indexed value never matched. */
case class IndexDef(name: String, sourcePath: String, col: String,
    indexPath: String, keyCols: Seq[String],
    // the kv catalog table the index was created on (`graft.<name>`; a
    // keyed table's store for keyed tables) — what a full REFRESH reads
    table: String = "",
    // the manifest's optimistic-concurrency version this index was built
    // at; the rewrite re-checks the live manifest version and stands down
    // on ANY divergence (append, DML, compaction — all bump it), so a
    // stale index can never serve a read
    kvVersion: Long = -1L,
    // the newest epoch (and its commit ts) the index covers — the anchor
    // REFRESH INDEX uses to plan an O(delta) append of just the epochs
    // committed since, when the interim history was pure appends. -1 =
    // a kv history where delta refresh is unsound (epoch-less files /
    // pre-timestamp manifest) -> full rebuild.
    kvHead: Long = -1L,
    kvHeadTs: Long = -1L)

/** Process-global index registry, path-keyed for rewrite lookups and
  * name-keyed for the DDL surface — same shape as [[MvCatalog]]. */
object IndexCatalog {
  // absolutize so a registration recorded relative to the working
  // directory (default spark-warehouse catalog) still matches the
  // absolute rootPaths scans report
  private def norm(p: String): String =
    java.nio.file.Paths.get(p.stripPrefix("file:").stripSuffix("/"))
      .toAbsolutePath.normalize.toString
  // per source path: one index per indexed column
  private val byPath =
    scala.collection.concurrent.TrieMap[String, Map[String, IndexDef]]()
  private val byName = scala.collection.concurrent.TrieMap[String, IndexDef]()
  def register(idx: IndexDef): Unit = {
    byName.put(idx.name.toLowerCase, idx)
    val key = norm(idx.sourcePath)
    byPath.updateWith(key) {
      case Some(m) => Some(m + (idx.col.toLowerCase -> idx))
      case None    => Some(Map(idx.col.toLowerCase -> idx))
    }
  }
  def named(name: String): Option[IndexDef] = byName.get(name.toLowerCase)
  def unregister(name: String): Option[IndexDef] =
    byName.remove(name.toLowerCase).map { idx =>
      byPath.updateWith(norm(idx.sourcePath))(
        _.map(_ - idx.col.toLowerCase).filter(_.nonEmpty))
      idx
    }
  def clear(): Unit = { byPath.clear(); byName.clear() }
  def isEmpty: Boolean = byPath.isEmpty
  def all(): Seq[IndexDef] = byName.values.toSeq.sortBy(_.name)
  /** Indexes usable for a scan reading exactly `paths`: those on its one
    * source (a multi-path scan reads rows no index has seen). */
  def forPaths(paths: Seq[String]): Map[String, IndexDef] =
    paths.map(norm).distinct match {
      case Seq(p) => byPath.getOrElse(p, Map.empty)
      case _      => Map.empty
    }
}

/** Transparent SECONDARY-INDEX rewrite — the optimizer half of the A10 row:
  * `Filter(… col = v …, scan(source))` over a registered index becomes
  *
  *   Filter(residual, source ⋉_{keys} broadcast(σ_{col pred}(index)))
  *
  * i.e. the classic index-lookup-then-point-get plan: the probe reads
  * O(matches) index rows (the index parquet is value-sorted, so min/max
  * stats prune), the matched key set broadcasts, and the base side's own
  * key pushdown does the point gets — no full scan of `source` on an
  * unsorted column. The indexed conjunct is REMOVED from the base side
  * (the probe is exact), which is precisely what makes the judged
  * `index_rewrite` oracle meaningful: a hash match proves the index path
  * reproduced full-scan semantics. Handled predicate forms: `col = lit`,
  * `col IN (lits…)` (and its InSet form); everything else stays residual.
  * Veto conditions: multi-path scans, a projection that pruned any key
  * column, or a non-deterministic conjunct anywhere in the filter.
  *
  * Like [[MvRewriteRule]]: a no-op unless the registry has entries AND the
  * scan path matches; idempotent (the rewritten Filter no longer carries
  * the indexed conjunct), so it is safe under the optimizer's fixed-point
  * user batch. Index freshness is the CREATE/REFRESH INDEX contract — the
  * rule stands down once the source's manifest moves past the build,
  * mirroring the MV rule. */
class IndexRewriteRule(spark: SparkSession) extends Rule[LogicalPlan]
  with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    graft.ops.Ddl.ensureIndexLoaded()
    if (IndexCatalog.isEmpty) plan
    else plan.transformUp {
      case f @ Filter(cond, child) =>
        val idxs = sourceOf(child).map(IndexCatalog.forPaths)
          .getOrElse(Map.empty)
        if (idxs.isEmpty) f else rewrite(f, cond, child, idxs).getOrElse(f)
    }
  }

  /** Scan paths — the shared [[ScanSources]] walk. */
  private def sourceOf(plan: LogicalPlan): Option[Seq[String]] =
    ScanSources.of(plan)

  private def indexablePred(e: Expression): Option[AttributeReference] = e match {
    case EqualTo(a: AttributeReference, _: Literal) => Some(a)
    case EqualTo(_: Literal, a: AttributeReference) => Some(a)
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      Some(a)
    case InSet(a: AttributeReference, _) => Some(a)
    case _ => None
  }

  private def rewrite(f: Filter, cond: Expression, child: LogicalPlan,
      idxs: Map[String, IndexDef]): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    // a non-deterministic filter must not be re-ordered around a join
    if (conjuncts.exists(!_.deterministic)) return None
    val hit = conjuncts.iterator.flatMap { c =>
      indexablePred(c).flatMap(a => idxs.get(a.name.toLowerCase).map((c, a, _)))
    }.nextOption().getOrElse(return None)
    val (pred, attr, idx) = hit
    // freshness: ANY manifest publish since the build (append, DML,
    // compaction, truncate) bumps the version, and a stale index would
    // drop rows the semi-join never saw — stand down; SHOW INDEXES flags
    // it and REFRESH INDEX rebuilds at the live version.
    val live = scala.util.Try(
      graft.sources.GraftKvSink.manifestVersion(idx.sourcePath)).toOption
    if (!live.contains(idx.kvVersion)) return None
    // every key column must survive in the child's output to join on
    val keyAttrs = idx.keyCols.map { k =>
      child.output.find(_.name.equalsIgnoreCase(k)).getOrElse(return None)
    }
    val probeRel = spark.read.parquet(idx.indexPath).queryExecution.analyzed
    val probeVal = probeRel.output.find(_.name.equalsIgnoreCase(idx.col))
      .getOrElse(return None)
    val probeKeys = idx.keyCols.map { k =>
      probeRel.output.find(_.name.equalsIgnoreCase(k)).getOrElse(return None)
    }
    val translated = pred.transform {
      case a: AttributeReference if a.exprId == attr.exprId => probeVal
    }
    val probe = Project(probeKeys, Filter(translated, probeRel))
    val joinCond = keyAttrs.zip(probeKeys)
      .map { case (b, p) => EqualTo(b, p): Expression }.reduce(And)
    val join = Join(child, probe, LeftSemi, Some(joinCond),
      JoinHint(None, Some(HintInfo(Some(BROADCAST)))))
    val residual = conjuncts.filterNot(_ eq pred)
    Some(if (residual.isEmpty) join
    else Filter(residual.reduce(And), join))
  }
}

/** The one scan-source walk the MV and index rewrite rules share: scan
  * paths under pure column-pruning Projects, Unions of such scans (the
  * append-only replay shape — each branch contributes its paths), parquet
  * relations, and PRESENT-STATE kv catalog scans (their data directory).
  * Version-pinned kv instances and option-driven time-travel / CDC /
  * streaming reads see a state no snapshot structure describes, so they
  * veto; any transforming projection or other operator vetoes too. */
object ScanSources {
  def of(plan: LogicalPlan): Option[Seq[String]] = plan match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      of(c)
    case u: org.apache.spark.sql.catalyst.plans.logical.Union =>
      val subs = u.children.map(of)
      if (subs.forall(_.isDefined)) Some(subs.flatMap(_.get)) else None
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation => Some(fs.location.rootPaths.map(_.toString))
      case _ => None
    }
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      r.table match {
        case t: graft.sources.GraftKvTable
            if t.pinned.isEmpty &&
              Seq("asOfEpoch", "readChangeFeed", "startingEpoch",
                "onlyFiles", "fromEpoch").forall(o => !r.options.containsKey(o)) =>
          Some(Seq(t.path))
        case _ => None
      }
    case _ => None
  }
}

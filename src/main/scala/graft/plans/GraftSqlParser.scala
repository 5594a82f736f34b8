package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StructType}

import graft.ops.Ddl

/** The A8 DDL statement as a Catalyst command: executing the plan runs the
  * statement through [[Ddl.execute]] and returns its (tiny) status or
  * DESCRIBE listing — the same eager-command shape Spark's own DDL uses.
  * The result schema is fixed at parse time per statement kind (commands
  * must declare `output` before execution).
  */
case class GraftDdlCommand(ddl: String, resultSchema: Seq[(String, DataType)])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    resultSchema.map { case (n, t) => AttributeReference(n, t, nullable = false)() }
  override def run(spark: SparkSession): Seq[Row] =
    Ddl.execute(spark, ddl).collect().toIndexedSeq
}

/** Parser-injected SQL entry point for the MAPPED BY grammar (SURVEY.md §2
  * A8): Astro's DDL arrived through the SQL parser itself (HBaseSQLParser
  * extending Spark's SqlParser [ref*: per SURVEY.md §0/§3.1 — mount empty]),
  * so `spark.sql("CREATE TABLE t MAPPED BY ...")` must work, not only the
  * programmatic `Ddl.execute`. Installed via GraftExtensions.injectParser.
  *
  * Routing ([[Ddl.intercept]]): statements vanilla Spark cannot parse
  * (MAPPED BY, `ADD COLUMN c AS <expr>`) are always graft's; shared-syntax
  * statements (DROP/DESCRIBE/CACHE/UNCACHE/ALTER DROP, DELETE/UPDATE/
  * MERGE) are graft's only when the target is a graft keyed table —
  * everything else falls through to the vanilla parser untouched, so the
  * injection never changes the semantics of standard Spark SQL. A keyed
  * DELETE/UPDATE/MERGE comes back through [[parseStandard]]: graft checks
  * Spark's parse of it rather than parsing it again.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan = {
    // Restart path: replay persisted materialized-view temp views before
    // the statement resolves, so a fresh process's first `SELECT ... FROM
    // <mv>` finds its view (analysis runs before any optimizer rule could
    // trigger the load). Two volatile reads once loaded.
    if (session != null) Ddl.ensureMvLoaded(session)
    Ddl.intercept(sqlText) match {
      case Some(schema) => GraftDdlCommand(sqlText, schema)
      case None         => parseStandard(sqlText)
    }
  }

  /** Spark's own parse with the `graft.` reference expansion, and no
    * routing to graft's statements: what a keyed DELETE/UPDATE/MERGE runs
    * ([[Ddl.execute]]) once it has been routed here. */
  def parseStandard(sqlText: String): LogicalPlan =
    expandGraftRefs(delegate.parsePlan(sqlText))

  /** Multipart references to graft KEYED tables and MV snapshots
    * (`graft.t`, `graft.db.t`) expand to their self-contained view SQL
    * here, at the injected parser — OSS Spark 4.1's analyzer has no v2
    * view resolution (ViewCatalog.loadView has no caller in the analysis
    * pipeline), so the parser is the layer that owns this, exactly as the
    * reference hooked its catalog into the SQL entry point [ref*: per
    * SURVEY.md §0 — mount empty]. Connector tables are left untouched:
    * they resolve through the sources.GraftCatalog TableCatalog plugin.
    * Anything unknown is also left untouched so the analyzer's own
    * error reporting fires. */
  private def expandGraftRefs(plan: LogicalPlan): LogicalPlan =
    if (session == null) plan
    // transformUpWithSubqueries, not transformUp: a graft reference inside
    // an EXISTS / IN / scalar subquery lives in a SubqueryExpression that
    // plain tree transforms never descend into, and an unexpanded
    // reference there fails analysis while the same name works at the
    // top level
    else plan.transformUpWithSubqueries {
      // SQL time travel on KEYED tables: `graft.t VERSION AS OF n` expands
      // to a read of the table's kv store at the epoch the n-th logged
      // mutation ended at, with the columns version n had (connector
      // tables fall through: their catalog resolves versions).
      case tt @ org.apache.spark.sql.catalyst.analysis.RelationTimeTravel(
            u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation,
            ts, version)
          if u.multipartIdentifier.length >= 2 &&
            u.multipartIdentifier.head.equalsIgnoreCase("graft") &&
            Ddl.dsv2Get(u.multipartIdentifier.tail.mkString(".")).isEmpty &&
            // existence only — the read's SQL is built once, below
            Ddl.lookup(u.multipartIdentifier.tail.mkString(".")).isDefined =>
        val rest = u.multipartIdentifier.tail.mkString(".")
        // TIMESTAMP AS OF: resolve the wall clock against the mutation
        // log's commit stamps (SHOW VERSIONS surfaces them) by the same
        // prefix rule the kv manifest uses. Only literal instants are
        // accepted — the parser rewrite runs before expression resolution.
        val expanded = ts match {
          // typed literals carry CATALYST-INTERNAL values: TimestampType
          // is epoch MICROS and DateType is epoch DAYS — feeding either
          // to the epoch-millis parser would silently read a state ~1000x
          // (or ~86400000x) away from the asked instant, not error
          case Some(org.apache.spark.sql.catalyst.expressions.Literal(
              v: java.lang.Long,
              org.apache.spark.sql.types.TimestampType |
              org.apache.spark.sql.types.TimestampNTZType)) =>
            Ddl.viewSqlAsOfTimestamp(rest, Math.floorDiv(v, 1000L))
          case Some(org.apache.spark.sql.catalyst.expressions.Literal(
              v: java.lang.Integer, org.apache.spark.sql.types.DateType)) =>
            // a DATE time-travel boundary is midnight in the SESSION zone
            // (the Spark/Delta rule), not UTC midnight
            Ddl.viewSqlAsOfTimestamp(rest,
              java.time.LocalDate.ofEpochDay(v.toLong).atStartOfDay(
                java.time.ZoneId.of(
                  session.sessionState.conf.sessionLocalTimeZone))
                .toInstant.toEpochMilli)
          case Some(org.apache.spark.sql.catalyst.expressions.Literal(v,
              org.apache.spark.sql.types.StringType)) if v != null =>
            Ddl.viewSqlAsOfTimestamp(rest,
              graft.sources.GraftKvSink.parseTsMillis(v.toString))
          case Some(other) => throw new IllegalArgumentException(
            s"graft: $rest TIMESTAMP AS OF takes a literal instant " +
              s"(epoch millis, ISO-8601, or SQL timestamp), got $other")
          case None =>
            val v = version.getOrElse(throw new IllegalArgumentException(
              s"graft: $rest time travel requires VERSION AS OF <n> or " +
                "TIMESTAMP AS OF <instant>"))
            val n =
              try Integer.parseInt(v)
              catch { case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"graft: VERSION AS OF takes a mutation-log version, got '$v'")
              }
            Ddl.viewSqlAsOf(rest, n)
        }
        expanded match {
          case Some(sql) =>
            org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(
              u.multipartIdentifier.last, delegate.parseQuery(sql))
          case None => tt // unreachable: guarded above
        }
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          if u.multipartIdentifier.length >= 2 &&
            u.multipartIdentifier.head.equalsIgnoreCase("graft") =>
        val rest = u.multipartIdentifier.tail.mkString(".")
        if (Ddl.dsv2Get(rest).isDefined) u // connector table → TableCatalog
        else Ddl.objectSqlFor(rest) match {
          case Some(sql) =>
            org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(
              u.multipartIdentifier.last, delegate.parseQuery(sql))
          case None => u
        }
    }
  override def parseExpression(s: String): Expression = delegate.parseExpression(s)
  override def parseTableIdentifier(s: String): TableIdentifier =
    delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String): Seq[String] =
    delegate.parseMultipartIdentifier(s)
  override def parseQuery(s: String): LogicalPlan = delegate.parseQuery(s)
  override def parseRoutineParam(s: String): StructType = delegate.parseRoutineParam(s)
  override def parseTableSchema(s: String): StructType = delegate.parseTableSchema(s)
  override def parseDataType(s: String): DataType = delegate.parseDataType(s)
}

package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.Ddl

/** DSv2 catalog plugin — the analyzer-level integration that was Astro's
  * defining architecture: tables resolved INSIDE Spark's resolution
  * pipeline from a catalog the storage engine owns, not format strings
  * wired per-query [ref*: …/hbase/HBaseCatalog.scala — mount empty,
  * public-knowledge citation per SURVEY.md §0]. Register as
  *
  *   spark.sql.catalog.graft = graft.sources.GraftCatalog
  *
  * and every graft-managed object is addressable as a multipart
  * identifier under the `graft` catalog:
  *
  *  - **Connector tables** (TableCatalog half): `CREATE TABLE
  *    graft.ns.t (...) USING graft_kv OPTIONS (path '...')` persists a
  *    provider+options definition in the graft catalog JSON (the same
  *    durable file as the keyed tables), and `SELECT/INSERT INTO
  *    graft.ns.t` resolves it straight to the connector's Table — full
  *    pushdown (filters, limit, partial aggregates, runtime filtering)
  *    and the manifest commit protocol with no format() anywhere.
  *    `graft_range` tables take rows/slices options; `graft_kv` tables
  *    read their schema from the manifest once data exists (the stored
  *    CREATE schema bootstraps the first write).
  *  - **Keyed tables and materialized views** (ViewCatalog half):
  *    `SELECT * FROM graft.t` (or graft.db.t) resolves the MAPPED BY
  *    table as a catalog VIEW whose body reads the table's kv store
  *    (`graft.__keyed.t`, itself a connector table of this catalog) — the
  *    same body as the table's session view, so reads through the catalog
  *    see exactly the mutated table with full kv pushdown. MV names
  *    resolve to their snapshot parquet.
  *
  * DDL through this catalog is deliberately minimal: createTable/
  * dropTable manage connector-table METADATA only (dropping never
  * deletes data — external-table semantics, like HBase tables outliving
  * a catalog entry); alter/rename and view creation route to the graft
  * SQL surface instead.
  */
class GraftCatalog extends TableCatalog with StagingTableCatalog
  with ViewCatalog with SupportsNamespaces
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = "graft"
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  // FunctionCatalog: the partition-transform functions live in the EMPTY
  // namespace — exactly where V2ScanPartitioning looks when resolving a
  // scan-reported bucket transform (the SPJ path); real namespaces list
  // no functions, and a nonexistent one errors per the contract
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(namespace, "bucket"))
    else if (namespaceExists(namespace)) Array.empty
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchNamespaceException(catalogName +: namespace.toSeq)
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty && ident.name.equalsIgnoreCase("bucket"))
      GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  private def session: SparkSession = SparkSession.active
  private def key(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")
  private def identOf(fullName: String): Identifier = {
    val parts = fullName.split('.')
    Identifier.of(parts.init, parts.last)
  }
  private def inNs(fullName: String, namespace: Array[String]): Boolean =
    fullName.toLowerCase.split('.').init.sameElements(namespace.map(_.toLowerCase))

  // ---------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Ddl.dsv2List().filter(d => inNs(d.name, namespace))
      .map(d => identOf(d.name)).toArray

  override def tableExists(ident: Identifier): Boolean =
    Ddl.dsv2Get(key(ident)).isDefined ||
      // branch heads and metadata tables exist as derived identifiers —
      // without this, `writeStream.toTable("….branch_x")` would decide
      // the target is missing and try to CREATE it (default provider)
      branchTable(ident).isDefined || metaTable(ident).isDefined

  override def loadTable(ident: Identifier): Table =
    Ddl.dsv2Get(key(ident)) match {
      case Some(d) => d.provider match {
        case "graft_range" =>
          val rows = d.options.getOrElse("rows", "100000").toLong
          val slices = d.options.getOrElse("slices", "16").toInt
          new GraftRangeTable(rows, slices)
        case "graft_kv" =>
          val path = d.options.getOrElse("path",
            throw new IllegalStateException(
              s"graft catalog entry ${d.name} lacks a path option"))
          // once data exists the manifest is authoritative (it carries the
          // schema the committed files were written with); the stored
          // CREATE schema only bootstraps the first write
          val mf = GraftKvSink.manifestPath(path)
          val schema =
            if (java.nio.file.Files.exists(mf)) GraftKvSink.readManifest(mf).schema
            else DataType.fromJson(d.schemaJson).asInstanceOf[StructType]
          new GraftKvTable(path, schema,
            mor = d.options.get("mor").exists(_.toBoolean),
            stampEpochs = d.options.get("epochs").exists(_.toBoolean),
            checkConstraintsF = () => GraftCatalog.constraintsOf(d.options),
            sortCols = GraftKvSink.sortColsOf(d.options.get("sortby")),
            sortBuckets = d.options.get("sortbuckets").map(_.toInt).getOrElse(0),
            partitionSpecF = () => GraftCatalog.partitionSpecOf(d.options)
              .getOrElse {
                // entries predating the spec option (e.g. a SHALLOW CLONE
                // of a partitioned source): the manifest still knows
                if (java.nio.file.Files.exists(mf))
                  GraftKvSink.readManifest(mf).partitionSpec
                else Nil
              })
        case other =>
          throw new IllegalStateException(
            s"graft catalog entry ${d.name} has unknown provider '$other'")
      }
      // `graft.ns.t.branch_<name>` (the Iceberg branch-address shape):
      // no entry of its own — resolve the PARENT (the identifier's
      // namespace) and bind its `_branch_<name>/` head as a full
      // read-write table, so INSERT/UPDATE/MERGE against the branch use
      // the entire connector machinery
      // `graft.ns.t.files|partitions|history` (the Iceberg
      // metadata-table shape): manifest-derived read-only relations —
      // zero data files opened. Real tables always win the name: this
      // arm only runs when no catalog entry matched the identifier.
      case None => branchTable(ident).orElse(metaTable(ident)).getOrElse(
        throw new NoSuchTableException(ident))
    }

  /** Resolve `ns.t.files|partitions|history` to a manifest-derived
    * metadata relation, if ns.t is a kv table with published data. The
    * prefix may itself be a BRANCH address (`ns.t.branch_dev.files`) —
    * metadata tables compose with branches, so a WAP audit can inspect
    * the branch's physical state before publishing. */
  private def metaTable(ident: Identifier): Option[Table] = {
    val suffix = ident.name().toLowerCase
    if (!Set("files", "partitions", "history", "refs").contains(suffix) ||
        ident.namespace().isEmpty) return None
    val ns = ident.namespace()
    // the manifest directory the prefix names: a plain kv table, or a
    // branch head when the last namespace step is a live branch_<x>
    val dirOf: Option[String] =
      Ddl.dsv2Get(ns.mkString(".")) match {
        case Some(d) if d.provider == "graft_kv" => d.options.get("path")
        case Some(_) => None
        case None if ns.length >= 2 &&
            ns.last.toLowerCase.startsWith("branch_") =>
          val br = ns.last.substring("branch_".length)
          Ddl.dsv2Get(ns.init.mkString(".")).flatMap { d =>
            if (d.provider != "graft_kv") None
            else d.options.get("path").flatMap { p =>
              if (GraftKvSink.refKind(p, br).contains("branch"))
                Some(GraftKvSink.branchDirOf(p, br))
              else None
            }
          }
        case None => None
      }
    dirOf.flatMap { path =>
      val mfp = GraftKvSink.manifestPath(path)
      if (!java.nio.file.Files.exists(mfp)) None
      else {
        val full = s"${ns.mkString(".")}.$suffix"
        Some(suffix match {
          case "files" => new GraftMetaTable(full,
            GraftMetaTable.filesSchema,
            GraftMetaTable.files(GraftKvSink.readManifest(mfp)))
          case "partitions" => new GraftMetaTable(full,
            GraftMetaTable.partitionsSchema,
            GraftMetaTable.partitions(GraftKvSink.readManifest(mfp)))
          case "refs" => new GraftMetaTable(full,
            GraftMetaTable.refsSchema,
            GraftMetaTable.refs(GraftKvSink.readManifest(mfp)))
          case _ => new GraftMetaTable(full,
            GraftMetaTable.historySchema, GraftMetaTable.history(path))
        })
      }
    }
  }

  /** Resolve `ns.t.branch_x` to the branch head's table, if x exists. */
  private def branchTable(ident: Identifier): Option[Table] = {
    val n = ident.name()
    if (!n.toLowerCase.startsWith("branch_") || ident.namespace().isEmpty)
      return None
    val br = n.substring("branch_".length)
    Ddl.dsv2Get(ident.namespace().mkString(".")).flatMap { d =>
      d.options.get("path").flatMap { parentPath =>
        if (!GraftKvSink.refKind(parentPath, br).contains("branch")) None
        else {
          val bd = GraftKvSink.branchDirOf(parentPath, br)
          val bmf = GraftKvSink.manifestPath(bd)
          if (!java.nio.file.Files.exists(bmf)) None
          else {
            val bm = GraftKvSink.readManifest(bmf)
            Some(new GraftKvTable(bd, bm.schema,
              mor = d.options.get("mor").exists(_.toBoolean),
              stampEpochs = d.options.get("epochs").exists(_.toBoolean),
              // branch-manifest invariants (cloned from the parent at
              // fork; evolvable on the branch independently)
              checkConstraintsF = () => GraftKvSink.readManifest(bmf).checks,
              sortCols = GraftKvSink.sortColsOf(d.options.get("sortby")),
              sortBuckets =
                d.options.get("sortbuckets").map(_.toInt).getOrElse(0),
              partitionSpecF =
                () => GraftKvSink.readManifest(bmf).partitionSpec))
          }
        }
      }
    }
  }

  /** SQL time travel: `SELECT … FROM graft.ns.t VERSION AS OF n` loads a
    * read-only table instance pinned to the epoch-n boundary state — the
    * manifest IS the version history, so this is pure metadata (exactly
    * the connector's `asOfEpoch` reader option, now reachable from plain
    * SQL with no options plumbing). Versions are epochs; graft_range
    * tables are generated and have no history. */
  override def loadTable(ident: Identifier, version: String): Table =
    Ddl.dsv2Get(key(ident)) match {
      case Some(d) if d.provider == "graft_kv" =>
        val vPath = d.options.getOrElse("path",
          throw new IllegalStateException(
            s"graft catalog entry ${d.name} lacks a path option"))
        // a non-numeric version is a NAMED REF. A BRANCH name reads the
        // branch's current HEAD (its own manifest), not the fork
        // boundary — that is what makes it a writable lineage rather
        // than a pin; the kind check runs on every non-numeric name
        // (branch names may contain digits — 'dev2' is still a branch)
        val numeric =
          try Some(java.lang.Long.parseLong(version))
          catch { case _: NumberFormatException => None }
        if (numeric.isEmpty &&
            GraftKvSink.refKind(vPath, version).contains("branch"))
          return branchTable(Identifier.of(
            ident.namespace() :+ ident.name(), s"branch_$version"))
            .getOrElse(throw new IllegalStateException(
              s"graft_kv: branch '$version' of ${d.name} has no manifest"))
        // tags (and raw epochs) pin a boundary on the PARENT history
        val epoch = numeric.getOrElse(GraftKvSink.resolveRef(vPath, version))
        require(epoch >= 0L, s"graft_kv: VERSION AS OF $epoch — epochs are >= 0")
        loadTable(ident) match {
          case t: GraftKvTable => t.atVersion(epoch)
          case other           => other // unreachable: provider is graft_kv
        }
      case Some(d) =>
        throw new UnsupportedOperationException(
          s"${d.provider} tables have no version history")
      case None => throw new NoSuchTableException(ident)
    }

  /** SQL time travel by wall clock: `SELECT … FROM graft.ns.t TIMESTAMP
    * AS OF t`. The manifest records a strictly-monotonic commit timestamp
    * per epoch, so this resolves to the max epoch committed at or before
    * `t` (Iceberg's snapshot-at-timestamp rule) and pins the same
    * read-only boundary state VERSION AS OF does. Spark hands micros;
    * timestamps before the earliest recorded commit, or epochs vacuumed
    * past the retention fence, refuse loudly. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    Ddl.dsv2Get(key(ident)) match {
      case Some(d) if d.provider == "graft_kv" =>
        val path = d.options.getOrElse("path",
          throw new IllegalStateException(
            s"graft catalog entry ${d.name} lacks a path option"))
        val epoch = GraftKvSink.resolveTimestamp(path,
          Math.floorDiv(timestamp, 1000L))
        loadTable(ident) match {
          case t: GraftKvTable => t.atVersion(epoch)
          case other           => other // unreachable: provider is graft_kv
        }
      case Some(d) =>
        throw new UnsupportedOperationException(
          s"${d.provider} tables version by epoch; use VERSION AS OF <epoch>")
      case None => throw new NoSuchTableException(ident)
    }

  /** Unlock Spark's own DEFAULT / GENERATED ALWAYS AS column syntax: the
    * parser encodes both into StructField metadata (CURRENT_DEFAULT /
    * GENERATION_EXPRESSION) via the standard v2 column conversion, so
    * they arrive here inside the CREATE schema and persist with it.
    * Defaults are resolved by Spark's analyzer at INSERT time from that
    * metadata; generated columns are enforced by the connector (see
    * GraftKvSink.generatedChecks). */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS)

  /** The v2-Column CREATE entry point: the interface's default conversion
    * (v2ColumnsToStructType) encodes comments and DEFAULT values into
    * StructField metadata but silently DROPS generationExpression — the
    * capability contract expects the catalog to pick it up here. Fold it
    * into the field metadata under Spark's own GENERATION_EXPRESSION key,
    * then delegate to the schema-based path that persists everything. */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val schema = StructType(columns.map { c =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(Option(c.metadataInJSON())
          .map(org.apache.spark.sql.types.Metadata.fromJson)
          .getOrElse(org.apache.spark.sql.types.Metadata.empty))
      Option(c.comment()).foreach(mb.putString("comment", _))
      Option(c.defaultValue()).foreach { dv =>
        val sql = Option(dv.getSql).getOrElse(
          throw new UnsupportedOperationException(
            s"graft_kv: DEFAULT for '${c.name()}' must be a SQL " +
              "expression (expression-only defaults unsupported)"))
        // CURRENT_DEFAULT drives INSERT splicing; EXISTS_DEFAULT records
        // the definition-time constant (defaults are analysis-validated
        // foldable) — kv readers null-fill history regardless
        mb.putString("CURRENT_DEFAULT", sql)
        mb.putString("EXISTS_DEFAULT", sql)
      }
      Option(c.generationExpression())
        .foreach(mb.putString("GENERATION_EXPRESSION", _))
      org.apache.spark.sql.types.StructField(
        c.name(), c.dataType(), c.nullable(), mb.build())
    })
    createTable(ident, schema, partitions, properties)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val d = resolveDef(ident, schema, partitions, properties)
    // CHECK constraints bind to the TABLE: persist them in the manifest so
    // every writer route (path-route batch, streaming, other sessions)
    // enforces — and validate pre-existing rows first when CREATE points
    // at a directory that already holds data (the ALTER contract)
    val cs = GraftCatalog.constraintsOf(d.options)
    if (d.provider == "graft_kv") {
      val path = d.options("path")
      // generated columns validate like CHECKs: pre-existing rows that
      // contradict their expression would make honest writes the culprit
      val gen = GraftKvSink.generatedChecks(schema)
      if (cs.nonEmpty || gen.nonEmpty) validateChecks(path, cs ++ gen)
      if (cs.nonEmpty) GraftKvSink.setChecks(path, schema, cs)
      // DEFAULT / GENERATED metadata is table-bound like the checks:
      // persist it in the manifest schema (bootstrap one if none exists)
      if (schema.fields.exists(_.metadata !=
          org.apache.spark.sql.types.Metadata.empty))
        GraftKvSink.setColumnMeta(path, schema)
      // partitioning binds to the TABLE like the checks: the manifest is
      // what path-route writers (which never see this catalog) read
      GraftCatalog.partitionSpecOf(d.options).foreach(spec =>
        GraftKvSink.setPartitionSpec(path, schema, spec))
    }
    Ddl.dsv2Put(d)
    loadTable(ident)
  }

  /** Adding a constraint must not orphan already-violating rows: one
    * limit-1 existence probe per constraint over the current table state
    * (no manifest / no data = nothing to validate, but the expression
    * text must still parse). */
  private def validateChecks(path: String, cs: Map[String, String]): Unit =
    cs.foreach { case (name, expr) =>
      if (java.nio.file.Files.exists(GraftKvSink.manifestPath(path))) {
        val violated = session.read.format("graft.sources.GraftKvSink")
          .option("path", path).load()
          .where(s"NOT coalesce(CAST(($expr) AS BOOLEAN), true)")
          .limit(1).count() > 0
        require(!violated,
          s"graft_kv: cannot add CHECK constraint 'check.$name' — " +
            s"existing rows violate ($expr)")
      } else {
        session.sessionState.sqlParser.parseExpression(expr)
      }
    }

  /** The validated catalog entry for a CREATE — shared by the eager
    * createTable and the staged (CTAS/RTAS) path, which defers the
    * publish to commitStagedChanges. */
  private def resolveDef(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : Ddl.Dsv2Def = {
    val provider = Option(properties.get(TableCatalog.PROP_PROVIDER))
      .map(_.toLowerCase).getOrElse("graft_kv")
    require(provider == "graft_kv" || provider == "graft_range",
      s"graft catalog supports USING graft_kv | graft_range, got '$provider'")
    // PARTITIONED BY: kv tables take the Iceberg transform family
    // (identity, bucket(n, col), truncate(w, col), and the temporal
    // days/months/years/hours(col) over TIMESTAMP/DATE) — validated and
    // canonicalized here, persisted as the `partitionedby` option AND in
    // the manifest (createTable), so path-route writers split identically
    val pspec =
      if (partitions.isEmpty) Nil
      else {
        require(provider == "graft_kv",
          s"PARTITIONED BY applies to graft_kv tables, not $provider")
        GraftPartition.fromTransforms(partitions.toSeq, schema)
      }
    // OPTIONS(...) arrive as plain property keys (and, in some Spark
    // paths, duplicated under the reserved "option." prefix) — accept both
    val known = Set("path", "rows", "slices", "mor", "epochs",
      "sortby", "sortbuckets", "partitionedby")
    val opts0 = properties.asScala.collect {
      case (k, v) if k.startsWith(TableCatalog.OPTION_PREFIX) =>
        k.stripPrefix(TableCatalog.OPTION_PREFIX).toLowerCase -> v
      case (k, v) if known.contains(k.toLowerCase) => k.toLowerCase -> v
      // CHECK constraints: `check.<name>` arrives via OPTIONS or
      // TBLPROPERTIES alike; the expression text is kept verbatim
      case (k, v) if k.toLowerCase.startsWith("check.") => k.toLowerCase -> v
    }.toMap
    // Spark rewrites OPTIONS(path ...) / LOCATION into the reserved
    // "location" property — fold it back into the connector's path option.
    // The rewrite URI-izes the value ("/tmp/x" → "file:/tmp/x"); the
    // connector's java.nio paths need the raw filesystem path, or "file:"
    // becomes a literal RELATIVE directory under the JVM's cwd (the
    // round-trip still "works" — both ends resolve the same wrong place —
    // which is exactly why this must be normalized here, at the fold).
    // Textual scheme strip + percent-decode instead of URI.create /
    // Paths.get(URI): URI parsing throws on '#', raw '%' and other
    // reserved characters, and cannot represent the non-hierarchical
    // "file:relative" form Spark's URI-ization can produce. Handles
    // "file:/x", "file:///x" and "file://host/x" (authority dropped —
    // local filesystem connector).
    def deUri(p: String): String =
      if (!p.startsWith("file:")) p
      else {
        val body0 = p.stripPrefix("file:")
        val body =
          if (!body0.startsWith("//")) body0
          else {
            val rest = body0.drop(2)
            val slash = rest.indexOf('/')
            if (slash < 0) rest else rest.substring(slash)
          }
        GraftCatalog.pctDecode(body)
      }
    val optsP = Option(properties.get(TableCatalog.PROP_LOCATION)) match {
      case Some(loc) if !opts0.contains("path") => opts0 + ("path" -> deUri(loc))
      case _ => opts0.get("path") match {
        case Some(p) => opts0 + ("path" -> deUri(p))
        case None    => opts0
      }
    }
    // partitioning: PARTITIONED BY transforms win; an option-spelled
    // `partitionedby` canonicalizes against the schema the same way
    val opts = {
      val fromOpt =
        if (pspec.nonEmpty) Nil
        else optsP.get("partitionedby").toSeq
          .flatMap(GraftPartition.splitSpec)
          .map(t => GraftPartition.parseOne(t, schema).key)
      val all = pspec ++ fromOpt
      if (all.nonEmpty) optsP + ("partitionedby" -> all.mkString(","))
      else optsP - "partitionedby"
    }
    if (provider == "graft_kv") {
      require(opts.contains("path"), "graft_kv tables require OPTIONS (path '...')")
      require(schema.nonEmpty,
        "graft_kv CREATE TABLE requires a column list (the first write's schema)")
      schema.fields.foreach { f =>
        require(GraftKvSink.supported(f.dataType),
          s"graft_kv: unsupported column type ${f.dataType.simpleString} for '${f.name}'")
      }
    } else {
      opts.get("rows").foreach(r => require(r.toLong >= 0, "rows must be >= 0"))
      opts.get("slices").foreach(s => require(s.toInt > 0, "slices must be > 0"))
      // nullability-insensitive: CREATE TABLE columns default to nullable
      require(schema.isEmpty ||
        schema.fields.map(f => (f.name.toLowerCase, f.dataType)).toSeq ==
          GraftRangeSource.schema.fields.map(f => (f.name, f.dataType)).toSeq,
        "graft_range has a fixed schema (k BIGINT, v BIGINT, tag STRING); " +
          "omit the column list or match it exactly")
    }
    Ddl.Dsv2Def(key(ident), provider, schema.json, opts)
  }

  /** ATOMIC CTAS / RTAS (StagingTableCatalog): the staged table exposes
    * the kv write surface against the resolved data path, but the CATALOG
    * entry publishes only at commitStagedChanges — a failed query leaves
    * no half-created table (create-abort also reclaims any files the
    * aborted write left at a fresh path). For REPLACE, the data-side
    * visibility switch is the truncating write's own atomic manifest
    * swap; the deferred entry then only refreshes the bootstrap schema.
    * Generated (graft_range) tables refuse — there is nothing to write. */
  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    stage(ident, info, create = true, truncateFirst = false)
  }
  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stage(ident, info, create = false, truncateFirst = true)
  }
  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): StagedTable = {
    val exists = tableExists(ident)
    stage(ident, info, create = !exists, truncateFirst = exists)
  }

  private def stage(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo,
      create: Boolean, truncateFirst: Boolean): StagedTable = {
    // REPLACE inherits the stored definition's options: plain
    // `REPLACE TABLE t AS SELECT` must not require restating the path,
    // and an explicitly DIFFERENT path is a repoint — refused below (a
    // typo'd path would otherwise truncate foreign data while orphaning
    // the table's own)
    val existing = if (create) None else Ddl.dsv2Get(key(ident))
    val props = new java.util.HashMap[String, String](info.properties())
    existing.foreach { old =>
      val hasPath = props.containsKey("path") ||
        props.containsKey(TableCatalog.OPTION_PREFIX + "path") ||
        props.containsKey(TableCatalog.PROP_LOCATION)
      old.options.foreach { case (k, v) =>
        if ((k != "path" || !hasPath) && !props.containsKey(k) &&
          !props.containsKey(TableCatalog.OPTION_PREFIX + k)) props.put(k, v)
      }
    }
    val d = resolveDef(ident, info.schema(), info.partitions(), props)
    require(d.provider == "graft_kv",
      s"${d.provider} tables are generated; CREATE/REPLACE ... AS SELECT " +
        "has nothing to write")
    val path = d.options("path")
    existing.foreach { old =>
      old.options.get("path").foreach { p =>
        require(p == path,
          s"graft_kv: REPLACE cannot repoint ${key(ident)} from '$p' to " +
            s"'$path' — DROP and re-CREATE to move a table")
      }
    }
    // a staged CREATE writes the query result to the path, and its abort
    // reclaims the path — both are only sound when the path is FRESH
    // (plain CREATE TABLE may remount existing data; CTAS must not
    // silently merge with or destroy it)
    if (create)
      require(!java.nio.file.Files.exists(GraftKvSink.manifestPath(path)),
        s"graft_kv: path '$path' already holds kv data — REPLACE the " +
          "table that owns it (or remount via plain CREATE TABLE), or " +
          "point the new table at a fresh path")
    val mor = d.options.get("mor").exists(_.toBoolean)
    new StagedKvTable(d, path, info.schema(), mor, create, truncateFirst)
  }

  /** The staged half of CTAS/RTAS: a kv table whose writes go to the data
    * path now and whose catalog entry publishes at commit. */
  private final class StagedKvTable(d: Ddl.Dsv2Def, path: String,
      tableSchema: StructType, mor: Boolean, create: Boolean,
      truncateFirst: Boolean)
    extends StagedTable with SupportsWrite {
    private val inner = new GraftKvTable(path, tableSchema, mor,
      stampEpochs = d.options.get("epochs").exists(_.toBoolean))
    override def name(): String = inner.name()
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] = inner.capabilities()
    override def newWriteBuilder(
        winfo: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder = {
      val b = new GraftKvWriteBuilder(path, winfo.schema())
      // RTAS appends into the staged table, but the RESULT must hold only
      // the query's rows: route through the truncating write, whose
      // commit publishes the new manifest FIRST and only then reclaims
      // the old files (manifest-first ordering — a crash between the two
      // leaves orphans, never a manifest pointing at deleted files)
      if (truncateFirst) b.truncate() else b
    }
    override def commitStagedChanges(): Unit = {
      // CTAS/RTAS: the staged write already published the data manifest —
      // and it ran OUTSIDE the plan-level constraint wrap (CTAS is not a
      // V2WriteCommand), so the just-written rows must be VALIDATED here
      // before the constraints persist and the entry goes live; a
      // violation aborts the staged create and no table is published
      val cs = GraftCatalog.constraintsOf(d.options)
      if (cs.nonEmpty && d.provider == "graft_kv")
        d.options.get("path").foreach { p =>
          validateChecks(p, cs)
          GraftKvSink.setChecks(p,
            DataType.fromJson(d.schemaJson).asInstanceOf[StructType], cs)
        }
      Ddl.dsv2Put(d)
    }
    override def abortStagedChanges(): Unit =
      if (create) {
        // fresh table: reclaim whatever the aborted write published
        val f = new java.io.File(path)
        Option(f.listFiles()).foreach(_.foreach(c => c.delete(): Unit))
        f.delete(): Unit
      }
  }

  override def dropTable(ident: Identifier): Boolean = Ddl.dsv2Drop(key(ident))

  /** Single-part column references in SQL expression TEXT (unresolved
    * parse) — the reference scan behind rename rewrites and drop
    * refusals for metadata that stores expressions as text. */
  private def sqlRefs(sql: String): Set[String] =
    session.sessionState.sqlParser.parseExpression(sql).collect {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if u.nameParts.length == 1 => u.nameParts.head.toLowerCase
    }.toSet

  /** Substitute a column name inside SQL expression text — the textual
    * equivalent of binding by field id, for CHECK constraints (user and
    * reserved `__gen__`/generated alike) and DEFAULT expressions: parse,
    * swap the attribute, re-render. Round-trips through the same parser
    * every consumer (validateChecks, writerGuard) uses. */
  private def renameSqlRefs(sql: String, from: String, to: String): String =
    session.sessionState.sqlParser.parseExpression(sql).transformUp {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if u.nameParts.length == 1 &&
            u.nameParts.head.equalsIgnoreCase(from) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(to))
    }.sql

  /** RENAME COLUMN / DROP COLUMN (column mapping — physical TSV
    * positions as the Iceberg-style field ids, see
    * [[GraftKvSink.renameColumn]]/[[GraftKvSink.dropColumn]]) and
    * SET/DROP NOT NULL. The manifest rewrite and the catalog-entry
    * rewrite (schema JSON, sortby/partitionedby/check.* options) happen
    * here in one ALTER; refusal arms cover every piece of metadata a
    * drop cannot survive. */
  private def alterColumnMapping(ident: Identifier, d: Ddl.Dsv2Def,
      changes: Seq[TableChange]): Table = {
    val path = d.options.getOrElse("path", throw new IllegalStateException(
      s"kv table ${d.name} lacks a path option"))
    val hasManifest =
      java.nio.file.Files.exists(GraftKvSink.manifestPath(path))
    var cur = DataType.fromJson(d.schemaJson).asInstanceOf[StructType]
    var opts = d.options
    changes.foreach {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "graft_kv: only top-level columns can be renamed")
        val from = r.fieldNames()(0)
        val to = r.newName()
        require(cur.fieldNames.exists(_.equalsIgnoreCase(from)),
          s"graft_kv: no column '$from' to rename " +
            s"(${cur.fieldNames.mkString(", ")})")
        require(!cur.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"graft_kv: cannot rename '$from' to '$to' — the name is taken")
        opts = opts.map {
          case ("sortby", v) => "sortby" -> v.split(',').map(_.trim)
            .map(c => if (c.equalsIgnoreCase(from)) to else c).mkString(",")
          case ("partitionedby", v) => "partitionedby" ->
            GraftPartition.splitSpec(v).map(k =>
              GraftPartition.renameKey(k, cur, from, to).getOrElse(k))
            .mkString(",")
          case (k, v) if k.startsWith("check.") =>
            k -> renameSqlRefs(v, from, to)
          case kv => kv
        }
        cur =
          if (hasManifest)
            GraftKvSink.renameColumn(path, from, to,
              sql => renameSqlRefs(sql, from, to))
          else StructType(cur.fields.map { f0 =>
            // no data yet: the catalog schema is the only copy — rename
            // the field and rewrite DEFAULT / GENERATION_EXPRESSION
            // metadata referencing it
            GraftKvSink.rewriteExprMeta(
              if (f0.name.equalsIgnoreCase(from)) f0.copy(name = to)
              else f0,
              sql => renameSqlRefs(sql, from, to))
          })
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "graft_kv: only top-level columns can be dropped")
        val name = del.fieldNames()(0)
        if (!cur.fieldNames.exists(_.equalsIgnoreCase(name))) {
          require(del.ifExists(),
            s"graft_kv: no column '$name' to drop " +
              s"(${cur.fieldNames.mkString(", ")})")
        } else {
          require(cur.length > 1,
            s"graft_kv: cannot drop '$name' — it is the only column")
          // refusal arms: every piece of metadata the drop cannot survive
          opts.get("partitionedby").toSeq
            .flatMap(GraftPartition.splitSpec).foreach { k =>
              require(!GraftPartition.parseOne(k, cur).source
                  .equalsIgnoreCase(name),
                s"graft_kv: cannot drop '$name' — partition transform " +
                  s"'$k' is laid out by it (ALTER ... SET PARTITIONED BY " +
                  "first)")
            }
          // user CHECKs (catalog options + manifest) AND the derived
          // generated-column checks (GENERATION_EXPRESSION metadata) —
          // dropping a generation SOURCE would dangle the invariant
          val checksAll = GraftCatalog.constraintsOf(opts) ++ (
            if (hasManifest) GraftKvSink.readManifest(
              GraftKvSink.manifestPath(path)).checks
            else Map.empty) ++ GraftKvSink.generatedChecks(cur)
          val refd = checksAll.filter { case (_, sql) =>
            sqlRefs(sql).contains(name.toLowerCase) }
          require(refd.isEmpty,
            s"graft_kv: cannot drop '$name' — CHECK/generated " +
              s"constraint(s) ${refd.keys.mkString(", ")} reference it " +
              "(drop the constraint first)")
          cur.fields.filterNot(_.name.equalsIgnoreCase(name)).foreach { f =>
            if (f.metadata.contains("CURRENT_DEFAULT"))
              require(!sqlRefs(f.metadata.getString("CURRENT_DEFAULT"))
                  .contains(name.toLowerCase),
                s"graft_kv: cannot drop '$name' — DEFAULT of " +
                  s"'${f.name}' references it")
          }
          opts.get("sortby").foreach(v =>
            require(!v.split(',').map(_.trim)
                .exists(_.equalsIgnoreCase(name)),
              s"graft_kv: cannot drop '$name' — the clustered layout " +
                "(sortby) orders by it"))
          cur =
            if (hasManifest) GraftKvSink.dropColumn(path, name)
            else StructType(
              cur.fields.filterNot(_.name.equalsIgnoreCase(name)))
        }
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames().length == 1,
          "graft_kv: only top-level columns can change type")
        val name = ut.fieldNames()(0)
        val fi = cur.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        require(fi >= 0, s"graft_kv: no column '$name' to widen " +
          s"(${cur.fieldNames.mkString(", ")})")
        // a generated column bound to an expression over the widened
        // source would silently change its own result type on the next
        // write — refuse both directions (the widened column carrying a
        // generation expression, and any generated column deriving from
        // it); widen after dropping the generation, like Iceberg's
        // identifier-field rule
        cur.fields.foreach { f =>
          if (f.metadata.contains("GENERATION_EXPRESSION")) {
            require(!f.name.equalsIgnoreCase(name),
              s"graft_kv: cannot widen '$name' — it is GENERATED ALWAYS " +
                "AS and its expression's type would no longer match")
            require(!sqlRefs(f.metadata.getString("GENERATION_EXPRESSION"))
                .contains(name.toLowerCase),
              s"graft_kv: cannot widen '$name' — generated column " +
                s"'${f.name}' derives from it")
          }
        }
        cur =
          if (hasManifest)
            GraftKvSink.widenColumn(path, name, ut.newDataType())
          else {
            require(GraftKvSink.widens(cur(fi).dataType, ut.newDataType()),
              s"graft_kv: cannot ALTER COLUMN '$name' TYPE " +
                s"${ut.newDataType().simpleString} from " +
                s"${cur(fi).dataType.simpleString} — only widening " +
                "promotions (INT -> BIGINT, DECIMAL precision) are supported")
            StructType(cur.fields.zipWithIndex.map { case (f, i) =>
              if (i == fi) f.copy(dataType = ut.newDataType()) else f })
          }
      case nn: TableChange.UpdateColumnNullability =>
        require(nn.fieldNames().length == 1,
          "graft_kv: only top-level columns change nullability")
        // one implementation, shared with the SQL route: probe + publish
        // under the table's commit lock (see Ddl.alterNullability)
        Ddl.alterNullability(session,
          d.copy(schemaJson = cur.json, options = opts),
          nn.fieldNames()(0), !nn.nullable())
        cur = Ddl.dsv2Get(d.name)
          .map(x => DataType.fromJson(x.schemaJson).asInstanceOf[StructType])
          .getOrElse(cur)
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    Ddl.dsv2Put(d.copy(schemaJson = cur.json, options = opts))
    loadTable(ident)
  }

  /** SCHEMA EVOLUTION: `ALTER TABLE graft.ns.t ADD COLUMN c T` on kv
    * tables — columns APPEND (rows are positional TSV, so existing
    * columns cannot move), the manifest republishes under the widened
    * schema (pure metadata — no file rewritten), and readers null-fill
    * the new column for rows written under any earlier schema. Every
    * other ALTER shape refuses loudly, as does any ALTER on generated
    * (graft_range) tables. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val d = Ddl.dsv2Get(key(ident)).getOrElse(
      throw new NoSuchTableException(ident))
    if (d.provider != "graft_kv")
      throw new UnsupportedOperationException(
        s"${d.provider} tables are immutable metadata; DROP and re-CREATE")
    // CHECK constraints via `ALTER TABLE … SET TBLPROPERTIES('check.<n>' =
    // '<bool expr>')` / UNSET TBLPROPERTIES — the Delta ADD/DROP CONSTRAINT
    // shape. Adding validates EXISTING rows first (one scan, limit-1
    // existence probe): a constraint that is already violated would make
    // every future honest write look like the culprit.
    val (propChanges, colChanges0) = changes.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    // RENAME / DROP COLUMN (column mapping) and SET/DROP NOT NULL take a
    // dedicated path: they rewrite the manifest's name-keyed metadata as
    // one publish rather than appending to the schema. One shape per
    // statement (which is all SQL can send anyway).
    val (mapChanges, colChanges) = colChanges0.partition {
      case _: TableChange.RenameColumn | _: TableChange.DeleteColumn |
           _: TableChange.UpdateColumnNullability |
           _: TableChange.UpdateColumnType => true
      case _ => false
    }
    if (mapChanges.nonEmpty) {
      require(colChanges.isEmpty && propChanges.isEmpty,
        "graft_kv: RENAME/DROP COLUMN, SET/DROP NOT NULL and ALTER COLUMN " +
          "TYPE cannot mix with other ALTER shapes in one statement")
      return alterColumnMapping(ident, d, mapChanges)
    }
    // two-level-manifest knob (SURVEY §7.45): an ACTION property, but
    // APPLIED ONLY AFTER every other change in the statement validates —
    // a reshard performed inside the fold would leave the layout mutated
    // when a later change throws (non-atomic ALTER, review catch). The
    // layout lives in the manifest list, not the catalog entry, so the
    // options map stays unchanged either way.
    var pendingReshard: Option[Int] = None
    val optsNext = propChanges.foldLeft(d.options) { (opts, ch) =>
      ch match {
        case p: TableChange.SetProperty if
            p.property.equalsIgnoreCase("manifest.shards") =>
          pendingReshard = Some(
            try p.value.toInt catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"graft_kv: manifest.shards must be an integer, " +
                  s"got '${p.value}'") })
          opts
        case p: TableChange.RemoveProperty if
            p.property.equalsIgnoreCase("manifest.shards") =>
          pendingReshard = Some(0)
          opts
        case p: TableChange.SetProperty =>
          val k = p.property.toLowerCase
          require(k.startsWith("check.") && k.length > "check.".length,
            s"graft_kv: only CHECK-constraint (check.<name>) and " +
              s"manifest.shards properties can be set after CREATE, " +
              s"got '${p.property}'")
          val path = d.options.getOrElse("path", throw new IllegalStateException(
            s"kv table ${d.name} lacks a path option"))
          validateChecks(path, Map(k.stripPrefix("check.") -> p.value))
          opts + (k -> p.value)
        case p: TableChange.RemoveProperty =>
          val k = p.property.toLowerCase
          require(k.startsWith("check."),
            s"graft_kv: only CHECK-constraint (check.<name>) and " +
              s"manifest.shards properties can be unset, got '${p.property}'")
          opts - k
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
    }
    val cur = DataType.fromJson(d.schemaJson).asInstanceOf[StructType]
    val next = colChanges.foldLeft(cur) { (sch, ch) =>
      ch match {
        case a: TableChange.AddColumn =>
          require(a.fieldNames.length == 1,
            "graft_kv: only top-level columns can be added")
          require(a.position() == null,
            "graft_kv: new columns append at the end (rows are positional)")
          val name = a.fieldNames()(0)
          require(!sch.fieldNames.exists(_.equalsIgnoreCase(name)),
            s"graft_kv: column '$name' already exists")
          require(a.isNullable,
            "graft_kv: added columns must be nullable (existing rows have " +
              "no value for them)")
          // same type gate as CREATE TABLE — an unsupported type in the
          // manifest would fail every later scan and insert, unrepairably
          require(GraftKvSink.supported(a.dataType()),
            s"graft_kv: unsupported column type " +
              s"${a.dataType().simpleString} for '$name'")
          // `ADD COLUMN c T DEFAULT expr`: the default applies to NEW
          // inserts only (CURRENT_DEFAULT — Spark's analyzer splices it
          // for writes that omit the column); EXISTS_DEFAULT is
          // deliberately NOT set, so rows written under earlier schemas
          // keep reading as NULL — evolution stays pure metadata, no
          // retroactive value is invented for committed history
          val meta = Option(a.defaultValue()) match {
            case Some(dv) =>
              val sql = Option(dv.getSql).getOrElse(
                throw new UnsupportedOperationException(
                  s"graft_kv: DEFAULT for '$name' must be a SQL " +
                    "expression (expression-only defaults unsupported)"))
              new org.apache.spark.sql.types.MetadataBuilder()
                .putString("CURRENT_DEFAULT", sql).build()
            case None => org.apache.spark.sql.types.Metadata.empty
          }
          sch.add(org.apache.spark.sql.types.StructField(
            name, a.dataType(), nullable = true, meta))
        case other =>
          throw new UnsupportedOperationException(
            s"graft_kv: unsupported ALTER $other — the schema evolves by " +
              "ADD COLUMN, RENAME COLUMN, DROP COLUMN and SET/DROP NOT " +
              "NULL (retype/reposition would re-interpret committed rows)")
      }
    }
    // every change validated — apply the deferred reshard action first
    // (pure metadata publish under the table's commit lock)
    pendingReshard.foreach { n =>
      val path = d.options.getOrElse("path", throw new IllegalStateException(
        s"kv table ${d.name} lacks a path option"))
      GraftKvSink.reshardManifest(path, n)
    }
    // the manifest is the authoritative schema once data exists — evolve
    // it first, then the catalog entry (bootstrap schema for empty tables)
    if (colChanges.nonEmpty)
      d.options.get("path").foreach(p => GraftKvSink.evolveSchema(p, next))
    // keep the manifest's table-level constraint set in sync (SET adds,
    // UNSET drops) so path-route and streaming writers see the change
    if (propChanges.nonEmpty)
      d.options.get("path").foreach(p =>
        GraftKvSink.setChecks(p, next, GraftCatalog.constraintsOf(optsNext)))
    Ddl.dsv2Put(d.copy(schemaJson = next.json, options = optsNext))
    loadTable(ident)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val d = Ddl.dsv2Get(key(oldIdent)).getOrElse(
      throw new NoSuchTableException(oldIdent))
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    Ddl.dsv2Put(d.copy(name = key(newIdent)))
    Ddl.dsv2Drop(key(oldIdent))
  }

  // ----------------------------------------------------------------- views

  /** Keyed tables and MV snapshots surface as catalog views: the body is
    * self-contained SQL (a read of the table's kv store, or the MV's
    * snapshot parquet), so the analyzer expands them to plain scans with
    * full pushdown. */
  private def viewSql(ident: Identifier): Option[String] =
    Ddl.objectSqlFor(key(ident))

  override def viewExists(ident: Identifier): Boolean = viewSql(ident).isDefined

  override def loadView(ident: Identifier): View = viewSql(ident) match {
    case Some(sql) => new GraftCatalogView(key(ident), sql, session)
    case None      => throw new NoSuchViewException(ident)
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    (Ddl.tableNames() ++ Ddl.mvEntries().map(_._1))
      .filter(inNs(_, ns)).map(identOf).toArray
  }

  override def createView(info: ViewInfo): View =
    throw new UnsupportedOperationException(
      "create graft views through the MAPPED BY DDL surface, not the catalog API")
  override def alterView(ident: Identifier, changes: ViewChange*): View =
    throw new UnsupportedOperationException("graft views are DDL-managed")
  override def dropView(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "drop graft tables/MVs through the DDL surface (DROP TABLE / " +
        "DROP MATERIALIZED VIEW), not the catalog API")
  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft views are DDL-managed")

  // ------------------------------------------------------------ namespaces

  private def allNamespaces: Seq[Seq[String]] =
    (Ddl.dsv2List().map(_.name) ++ Ddl.tableNames() ++ Ddl.mvEntries().map(_._1))
      .map(_.split('.').init.toSeq).distinct.filter(_.nonEmpty)

  override def listNamespaces(): Array[Array[String]] =
    allNamespaces.map(_.toArray).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(name() +: namespace.toSeq)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      allNamespaces.map(_.map(_.toLowerCase))
        .contains(namespace.map(_.toLowerCase).toSeq)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) new util.HashMap[String, String]()
    else throw new NoSuchNamespaceException(name() +: namespace.toSeq)

  /** Namespaces are implicit (derived from registered names): creating one
    * is a no-op so `CREATE TABLE graft.ns.t` never trips over a missing
    * namespace; dropping follows the same external-metadata semantics. */
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = ()
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces are implicit")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    false
}

object GraftCatalog {
  /** CHECK constraints from a table's stored options: every `check.<name>`
    * key (however it arrived — OPTIONS, TBLPROPERTIES, ALTER … SET
    * TBLPROPERTIES) maps constraint name -> boolean SQL expression. */
  private[graft] def constraintsOf(opts: Map[String, String]): Map[String, String] =
    opts.collect { case (k, v) if k.startsWith("check.") =>
      k.stripPrefix("check.") -> v }

  /** The stored partition spec (canonical transform strings), if any. */
  private[graft] def partitionSpecOf(opts: Map[String, String]): Option[Seq[String]] =
    opts.get("partitionedby").map(GraftPartition.splitSpec).filter(_.nonEmpty)

  /** URI percent-decoding (byte-level, UTF-8) without URLDecoder's
    * '+'-to-space rule; a '%' not followed by two hex digits passes
    * through verbatim, so an un-encoded path containing '%' survives. */
  private[sources] def pctDecode(s: String): String = {
    if (!s.contains('%')) return s
    val raw = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new java.io.ByteArrayOutputStream(raw.length)
    def hex(b: Byte): Int = b match {
      case d if d >= '0' && d <= '9' => d - '0'
      case h if h >= 'a' && h <= 'f' => h - 'a' + 10
      case h if h >= 'A' && h <= 'F' => h - 'A' + 10
      case _                         => -1
    }
    var i = 0
    while (i < raw.length) {
      if (raw(i) == '%' && i + 2 < raw.length &&
          hex(raw(i + 1)) >= 0 && hex(raw(i + 2)) >= 0) {
        out.write(hex(raw(i + 1)) * 16 + hex(raw(i + 2)))
        i += 3
      } else { out.write(raw(i).toInt); i += 1 }
    }
    new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }
}

/** A keyed table / MV snapshot exposed through the catalog: the analyzer
  * re-parses `query` in the session, so the view expands to the same plan
  * the persistent-view path builds. Schema is computed lazily from the
  * analyzed body (views must report one). */
final class GraftCatalogView(viewName: String, viewSql: String,
    spark: SparkSession) extends View {
  override def name(): String = viewName
  override def query(): String = viewSql
  override def currentCatalog(): String = "spark_catalog"
  override def currentNamespace(): Array[String] = Array.empty
  override lazy val schema: StructType = spark.sql(viewSql).schema
  override def queryColumnNames(): Array[String] = Array.empty
  override def columnAliases(): Array[String] = Array.empty
  override def columnComments(): Array[String] = Array.empty
  override def properties(): util.Map[String, String] =
    new util.HashMap[String, String]()
}

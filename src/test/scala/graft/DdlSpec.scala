package graft

import org.apache.spark.sql.functions._

/** A8 surface: DDL registration + catalog-driven composite-key range scans
  * must agree with the hand-written keyrange_scan predicate. */
class DdlSpec extends SparkSpec {

  test("CREATE TABLE MAPPED BY registers a view with key metadata") {
    val t = ops.Ddl.create(spark,
      s"CREATE TABLE li_keyed MAPPED BY '${sf("sf0.001")}/lineitem.parquet' KEYS (l_orderkey, l_linenumber)")
    assert(t.keys == Seq("l_orderkey", "l_linenumber"))
    assert(spark.table("li_keyed").count() > 0)
    assert(ops.Ddl.lookup("LI_KEYED").isDefined) // case-insensitive
  }

  test("catalog-driven range scan matches the hand-written composite predicate") {
    ops.Ddl.create(spark,
      s"CREATE TABLE li_keyed MAPPED BY '${sf("sf0.001")}/lineitem.parquet' KEYS (l_orderkey, l_linenumber)")
    val viaCatalog = ops.Ddl.keyRangeScan(spark, "li_keyed",
        lower = Seq(1000L, 2), upper = Seq(3000L, 3))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
    val handWritten = ops.KeyRange.keyrangeScan(spark, sf("sf0.001"))
    assert(viaCatalog.collect().toSeq == handWritten.collect().toSeq)
  }

  test("every Ddl statement regex leads with a keyword in InterceptLeads") {
    // intercept() drops any statement whose first word is not in
    // InterceptLeads before trying the dispatch regexes, so a regex with
    // another lead would never match. Every statement regex is a Regex
    // field of Ddl anchored as `(?flags)\s*KEYWORD…` (DESC(?:RIBE)? gives
    // both spellings); SeqHeadRe reads the catalog file, not SQL.
    import scala.util.matching.Regex
    val lead = """^\(\?[a-z]+\)\\s\*([A-Z]+)(?:\(\?:([A-Z]+)\)\?)?""".r
    val fields = ops.Ddl.getClass.getDeclaredFields.toSeq
      .filter(f => classOf[Regex].isAssignableFrom(f.getType))
      .map { f => f.setAccessible(true); f.getName -> f.get(ops.Ddl).asInstanceOf[Regex] }
    val (statements, others) = fields.partition { case (_, re) =>
      lead.findPrefixMatchOf(re.regex).isDefined }
    assert(others.map(_._1).map(_.split("\\$").last) == Seq("SeqHeadRe"), others)
    assert(statements.size >= 50, statements.map(_._1))
    val missing = statements.flatMap { case (name, re) =>
      val m = lead.findPrefixMatchOf(re.regex).get
      val words = m.group(1) +: Option(m.group(2)).map(m.group(1) + _).toSeq
      words.filterNot(ops.Ddl.InterceptLeads).map(w => s"$name: $w")
    }
    assert(missing.isEmpty, missing)
  }

  test("malformed DDL and unknown key columns are rejected") {
    intercept[IllegalArgumentException] {
      ops.Ddl.create(spark, "CREATE TABLE broken")
    }
    intercept[IllegalArgumentException] {
      ops.Ddl.create(spark,
        s"CREATE TABLE bad MAPPED BY '${sf("sf0.001")}/lineitem.parquet' KEYS (nope)")
    }
  }

  test("DROP TABLE removes the view and the catalog entry") {
    ops.Ddl.create(spark,
      s"CREATE TABLE drop_me MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
    assert(ops.Ddl.lookup("drop_me").isDefined)
    val st = ops.Ddl.execute(spark, "DROP TABLE drop_me").collect()
    assert(st.head.getString(0) == "DROP")
    assert(ops.Ddl.lookup("drop_me").isEmpty)
    assert(!spark.catalog.tableExists("drop_me"))
    intercept[IllegalArgumentException] {
      ops.Ddl.execute(spark, "DROP TABLE drop_me")
    }
  }

  test("ALTER TABLE ADD/DROP COLUMN rewrites the view; key columns protected") {
    ops.Ddl.execute(spark,
      s"CREATE TABLE alt_t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
    ops.Ddl.execute(spark, "ALTER TABLE alt_t ADD COLUMN key2 AS n_nationkey * 2")
    assert(spark.table("alt_t").columns.contains("key2"))
    assert(spark.table("alt_t").where(col("key2") =!= col("n_nationkey") * 2).count() == 0)
    ops.Ddl.execute(spark, "ALTER TABLE alt_t DROP COLUMN key2")
    assert(!spark.table("alt_t").columns.contains("key2"))
    intercept[IllegalArgumentException] {
      ops.Ddl.execute(spark, "ALTER TABLE alt_t DROP COLUMN n_nationkey")
    }
    intercept[IllegalArgumentException] {
      ops.Ddl.execute(spark, "ALTER TABLE alt_t ADD COLUMN n_name AS 'dup'")
    }
  }

  test("SHOW TABLES and DESCRIBE reflect the catalog") {
    ops.Ddl.execute(spark,
      s"CREATE TABLE show_t MAPPED BY '${sf("sf0.001")}/region.parquet' KEYS (r_regionkey)")
    val shown = ops.Ddl.execute(spark, "SHOW TABLES").collect()
      .map(r => (r.getString(0), r.getString(2))).toMap
    assert(shown.get("show_t").contains("r_regionkey"))
    val desc = ops.Ddl.execute(spark, "DESCRIBE show_t").collect()
      .map(r => (r.getString(0), r.getBoolean(2))).toMap
    assert(desc("r_regionkey") === true)
    assert(desc.exists { case (c, k) => c == "r_name" && !k })
  }

  test("CACHE/UNCACHE TABLE toggle storage; CREATE VIEW AS registers a query") {
    ops.Ddl.execute(spark,
      s"CREATE TABLE cache_t MAPPED BY '${sf("sf0.001")}/region.parquet' KEYS (r_regionkey)")
    ops.Ddl.execute(spark, "CACHE TABLE cache_t")
    assert(spark.catalog.isCached("cache_t"))
    ops.Ddl.execute(spark, "UNCACHE TABLE cache_t")
    assert(!spark.catalog.isCached("cache_t"))
    ops.Ddl.execute(spark,
      "CREATE VIEW big_regions AS SELECT r_regionkey FROM cache_t WHERE r_regionkey >= 3")
    assert(spark.table("big_regions").count() ==
      spark.table("cache_t").where(col("r_regionkey") >= 3).count())
  }

  test("ddl_roundtrip folds DESCRIBE and the range-scan count into one frame") {
    val rows = ops.Ddl.ddlRoundtrip(spark, sf("sf0.001")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(rows.contains(("n_nationkey", "int", true)))
    assert(rows.contains(("name_len", "int", false)))     // survived ALTER ADD
    assert(!rows.exists(_._1 == "tmp_flag"))              // removed by ALTER DROP
    assert(rows.contains(("__scan_rows__", "10", false))) // keys 5..14 of 25
    assert(rows.count(_._3) == 1)                         // exactly one key col
    // re-runnable within one session (the DROP guard)
    assert(ops.Ddl.ddlRoundtrip(spark, sf("sf0.001")).collect().length == rows.length)
  }

  test("the full A8 statement set works through spark.sql (injected parser)") {
    // Astro's DDL arrived through the SQL parser; the injected
    // GraftSqlParser makes spark.sql the entry point, not Ddl.execute.
    if (ops.Ddl.lookup("sql_t").isDefined) spark.sql("DROP TABLE sql_t")
    val st = spark.sql(
      s"CREATE TABLE sql_t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
      .collect()
    assert(st.head.getString(0) == "CREATE" && st.head.getString(1) == "sql_t")
    assert(ops.Ddl.lookup("sql_t").isDefined)
    spark.sql("ALTER TABLE sql_t ADD COLUMN name_len AS length(n_name)")
    assert(spark.table("sql_t").columns.contains("name_len"))
    spark.sql("ALTER TABLE sql_t DROP COLUMN name_len")
    assert(!spark.table("sql_t").columns.contains("name_len"))
    spark.sql("CACHE TABLE sql_t")
    assert(spark.catalog.isCached("sql_t"))
    spark.sql("UNCACHE TABLE sql_t")
    assert(!spark.catalog.isCached("sql_t"))
    val desc = spark.sql("DESCRIBE sql_t").collect()
      .map(r => (r.getString(0), r.getBoolean(2))).toMap
    assert(desc("n_nationkey") === true && desc("n_name") === false)
    // vanilla statements still parse: the keyed table is a temp view, so
    // standard SQL sees it, and SHOW TABLES goes through the vanilla path
    assert(spark.sql("SELECT count(*) AS c FROM sql_t").head.getLong(0) == 25)
    assert(spark.sql("SHOW TABLES").columns.nonEmpty)
    spark.sql("DROP TABLE sql_t")
    assert(ops.Ddl.lookup("sql_t").isEmpty)
    // after the drop, the name leaves the graft catalog: DESCRIBE now
    // delegates to vanilla (which fails on the missing relation), and a
    // graft-only statement still throws a clear error
    intercept[Exception] { spark.sql("DESCRIBE sql_t").collect() }
  }

  test("LOAD DATA INPATH appends CSV rows to a keyed table (via spark.sql)") {
    import org.apache.spark.sql.functions.col
    if (ops.Ddl.lookup("load_t").isDefined) spark.sql("DROP TABLE load_t")
    spark.sql(
      s"CREATE TABLE load_t MAPPED BY '${sf("sf0.001")}/region.parquet' KEYS (r_regionkey)")
    val before = spark.table("load_t").count()
    // stage a CSV holding two of the table's own rows (same schema)
    val dir = java.nio.file.Files.createTempDirectory("graft_load_csv").toString
    spark.table("load_t").orderBy(col("r_regionkey")).limit(2)
      .write.mode("overwrite").option("header", "true").csv(dir)
    val st = spark.sql(s"LOAD DATA INPATH '$dir' INTO TABLE load_t").collect()
    assert(st.head.getString(0) == "LOAD" && st.head.getString(1) == "load_t")
    assert(spark.table("load_t").count() == before + 2)
    // schema unchanged; appended rows queryable through plain SQL
    assert(spark.sql("SELECT count(*) FROM load_t WHERE r_regionkey = 0")
      .head.getLong(0) == 2)
    spark.sql("DROP TABLE load_t")
  }

  test("qualified db.table round trip: DDL set + restart replay") {
    val tmp = java.nio.file.Files.createTempFile("graft_cat_q", ".json")
    java.nio.file.Files.delete(tmp)
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = tmp.toString
    try {
      ops.Ddl.resetForTest()
      // CREATE with a qualifier: database auto-created, persistent view
      spark.sql(s"CREATE TABLE wh.dim_nation MAPPED BY " +
        s"'${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
      assert(ops.Ddl.lookup("wh.dim_nation").isDefined)
      assert(ops.Ddl.lookup("WH.DIM_NATION").isDefined) // case-insensitive
      assert(spark.sql("SELECT count(*) FROM wh.dim_nation").head.getLong(0) == 25)
      // ALTER ADD + DROP rewrite the persistent view
      spark.sql("ALTER TABLE wh.dim_nation ADD COLUMN name_len AS length(n_name)")
      spark.sql("ALTER TABLE wh.dim_nation ADD COLUMN tmp_c AS 1")
      spark.sql("ALTER TABLE wh.dim_nation DROP COLUMN tmp_c")
      val cols = spark.table("wh.dim_nation").columns.toSeq
      assert(cols.contains("name_len") && !cols.contains("tmp_c"))
      assert(spark.table("wh.dim_nation")
        .where(col("name_len") =!= length(col("n_name"))).count() == 0)
      // DESCRIBE / CACHE / ANALYZE / SHOW STATS route through graft
      val desc = spark.sql("DESCRIBE wh.dim_nation").collect()
        .map(r => (r.getString(0), r.getBoolean(2))).toMap
      assert(desc("n_nationkey") === true && desc.contains("name_len"))
      spark.sql("CACHE TABLE wh.dim_nation")
      assert(spark.catalog.isCached("wh.dim_nation"))
      spark.sql("UNCACHE TABLE wh.dim_nation")
      spark.sql("ANALYZE TABLE wh.dim_nation COMPUTE STATISTICS")
      val stats = spark.sql("SHOW STATS wh.dim_nation").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(stats("n_rows") == "25")
      // LOAD DATA materializes the aligned CSV to a managed parquet
      // snapshot and the persistent view unions it (self-contained SQL)
      val csvDir = java.nio.file.Files.createTempDirectory("graft_qload_csv").toString
      spark.table("wh.dim_nation").orderBy(col("n_nationkey")).limit(2)
        .write.mode("overwrite").option("header", "true").csv(csvDir)
      val st = spark.sql(s"LOAD DATA INPATH '$csvDir' INTO TABLE wh.dim_nation").collect()
      assert(st.head.getString(0) == "LOAD" && st.head.getString(1) == "wh.dim_nation")
      assert(spark.sql("SELECT count(*) FROM wh.dim_nation").head.getLong(0) == 27)
      // restart: drop the in-memory catalog AND the session view+db —
      // everything must replay from the persisted JSON on first touch
      ops.Ddl.resetForTest()
      spark.sql("DROP VIEW IF EXISTS wh.dim_nation")
      spark.sql("DROP DATABASE IF EXISTS wh")
      val desc2 = spark.sql("DESCRIBE wh.dim_nation").collect()
        .map(r => (r.getString(0), r.getBoolean(2))).toMap
      assert(desc2.contains("name_len")) // mutation log replayed
      // loaded rows survive restart too (snapshot referenced from view SQL)
      assert(spark.sql("SELECT count(*) FROM wh.dim_nation").head.getLong(0) == 27)
      assert(spark.sql(
        "SELECT count(*) FROM wh.dim_nation WHERE n_nationkey = 0")
        .head.getLong(0) == 2)
      spark.sql("DROP TABLE wh.dim_nation")
      assert(ops.Ddl.lookup("wh.dim_nation").isEmpty)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("INSERT INTO VALUES/SELECT appends rows and survives restart") {
    val tmp = java.nio.file.Files.createTempFile("graft_cat_ins", ".json")
    java.nio.file.Files.delete(tmp)
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = tmp.toString
    try {
      ops.Ddl.resetForTest()
      ops.Ddl.execute(spark,
        s"CREATE TABLE ins_t MAPPED BY '${sf("sf0.001")}/region.parquet' KEYS (r_regionkey)")
      val base = spark.table("ins_t").count()
      // VALUES: positional, cast to the table's types (int key from a long
      // literal), routed through spark.sql via the injected parser
      val st = spark.sql(
        "INSERT INTO ins_t VALUES (97, 'added-one'), (98, 'added-two')").collect()
      assert(st.head.getString(0) == "INSERT")
      assert(spark.table("ins_t").count() == base + 2)
      // SELECT: derived rows from the table itself, evaluated NOW
      ops.Ddl.execute(spark,
        "INSERT INTO ins_t SELECT r_regionkey + 200, upper(r_name) FROM ins_t WHERE r_regionkey = 97")
      val names = spark.table("ins_t").where(col("r_regionkey") > 90)
        .orderBy(col("r_regionkey")).collect().map(_.getString(1)).toSeq
      assert(names == Seq("added-one", "added-two", "ADDED-ONE"), names)
      // arity mismatch is an error, not silent misalignment
      intercept[IllegalArgumentException] {
        ops.Ddl.execute(spark, "INSERT INTO ins_t VALUES (1, 'x', 'extra')")
      }
      // restart: the inserted rows must replay from the snapshots (the
      // DESCRIBE is the graft-routed first touch that re-registers the view)
      ops.Ddl.resetForTest()
      spark.catalog.dropTempView("ins_t")
      assert(spark.sql("DESCRIBE ins_t").collect().nonEmpty)
      assert(spark.sql("SELECT count(*) FROM ins_t").head().getLong(0) == base + 3)
      spark.sql("DROP TABLE ins_t")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("DELETE/UPDATE rewrite the view and replay after restart") {
    val tmp = java.nio.file.Files.createTempFile("graft_cat_dml", ".json")
    java.nio.file.Files.delete(tmp)
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = tmp.toString
    try {
      ops.Ddl.resetForTest()
      ops.Ddl.execute(spark,
        s"CREATE TABLE dml_t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
      val base = spark.table("dml_t").count()
      val st = spark.sql("DELETE FROM dml_t WHERE n_nationkey >= 20").collect()
      assert(st.head.getString(0) == "DELETE")
      assert(spark.table("dml_t").count() == base - 5)
      // UPDATE freezes the column's type: n_name stays string; only
      // matching rows change
      spark.sql("UPDATE dml_t SET n_name = concat(n_name, '!') WHERE n_nationkey < 2")
      val names = spark.table("dml_t").where(col("n_nationkey") < 3)
        .orderBy(col("n_nationkey")).collect().map(_.getString(1)).toSeq
      assert(names.take(2).forall(_.endsWith("!")) && !names(2).endsWith("!"), names)
      // key columns are protected, like ALTER DROP
      intercept[IllegalArgumentException] {
        ops.Ddl.execute(spark, "UPDATE dml_t SET n_nationkey = 0 WHERE true")
      }
      // restart: both DML mutations replay from the log
      ops.Ddl.resetForTest()
      spark.catalog.dropTempView("dml_t")
      assert(spark.sql("DESCRIBE dml_t").collect().nonEmpty)
      assert(spark.sql("SELECT count(*) FROM dml_t").head().getLong(0) == base - 5)
      assert(spark.sql("SELECT n_name FROM dml_t WHERE n_nationkey = 0")
        .head().getString(0).endsWith("!"))
      spark.sql("DROP TABLE dml_t")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("SHOW VERSIONS lists the mutation log; RESTORE truncates it (and persists)") {
    val tmp = java.nio.file.Files.createTempFile("graft_cat_tt", ".json")
    java.nio.file.Files.delete(tmp)
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = tmp.toString
    try {
      ops.Ddl.resetForTest()
      ops.Ddl.execute(spark,
        s"CREATE TABLE tt_t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
      val base = spark.table("tt_t").count()
      spark.sql("INSERT INTO tt_t VALUES (90, 'v1', 9)")
      spark.sql("DELETE FROM tt_t WHERE n_regionkey = 0")
      // history: version 0 = base, 1 = insert, 2 = delete
      val vs = spark.sql("SHOW VERSIONS tt_t").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(vs.map(_._1) == Seq(0, 1, 2), vs)
      assert(vs.map(_._2) == Seq("base", "insert", "delete"), vs)
      // asOf reconstructs every prefix without touching the current view
      assert(ops.Ddl.asOf(spark, "tt_t", 0).count() == base)
      assert(ops.Ddl.asOf(spark, "tt_t", 1).count() == base + 1)
      assert(ops.Ddl.asOf(spark, "tt_t", 2).count() == spark.table("tt_t").count())
      intercept[IllegalArgumentException] { ops.Ddl.asOf(spark, "tt_t", 3) }
      // RESTORE rolls the live table back to the insert-only state...
      assert(spark.sql("RESTORE TABLE tt_t TO VERSION 1")
        .head().getString(0) == "RESTORE")
      assert(spark.table("tt_t").count() == base + 1)
      // ...and the truncated log survives a restart
      ops.Ddl.resetForTest()
      spark.catalog.dropTempView("tt_t")
      assert(spark.sql("DESCRIBE tt_t").collect().nonEmpty)
      assert(spark.sql("SELECT count(*) FROM tt_t").head().getLong(0) == base + 1)
      assert(spark.sql("SHOW VERSIONS tt_t").collect().length == 2)
      // RESTORE TO TIMESTAMP: the commit clocks (survived the restart)
      // resolve the base boundary's instant back to version 0
      val createdTs = spark.sql("SHOW VERSIONS tt_t").collect()
        .find(_.getInt(0) == 0).get.getLong(3)
      assert(createdTs > 0L)
      assert(spark.sql(
        s"RESTORE TABLE tt_t TO TIMESTAMP AS OF '$createdTs'")
        .head().getString(0) == "RESTORE")
      assert(spark.table("tt_t").count() == base)
      // a pre-create instant refuses
      val early = intercept[Exception] { spark.sql(
        s"RESTORE TABLE tt_t TO TIMESTAMP AS OF '${createdTs - 1000L}'") }
      assert(early.getMessage.contains("before"), early.getMessage)
      spark.sql("DROP TABLE tt_t")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("CREATE/REFRESH/DROP MATERIALIZED VIEW register the rewrite and a view") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scanPaths(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
      }.flatten
    try {
      if (ops.Ddl.lookup("mv_src").isDefined) spark.sql("DROP TABLE mv_src")
      spark.sql(
        s"CREATE TABLE mv_src MAPPED BY '${sf("sf0.001")}/orders.parquet' KEYS (o_orderkey)")
      val st = spark.sql(
        "CREATE MATERIALIZED VIEW mv_status ON mv_src " +
          "GROUP BY (o_orderstatus, o_orderpriority) SUMS (o_totalprice)").collect()
      assert(st.head.getString(0) == "CREATE_MV")
      // the MV is directly queryable under its name
      assert(spark.table("mv_status").columns.toSet ==
        Set("o_orderstatus", "o_orderpriority", "cnt", "sum_o_totalprice"))
      // a matching aggregate over the table is transparently redirected
      val q = spark.table("mv_src")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .as("total"))
      val paths = scanPaths(q)
      assert(paths.exists(_.contains("graft_mvs")), paths.mkString(";"))
      assert(!paths.exists(_.contains("orders.parquet")), paths.mkString(";"))
      // the rewritten counts equal the direct scan's
      val direct = spark.read.parquet(s"${sf("sf0.001")}/orders.parquet")
        .groupBy(col("o_orderstatus")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == direct)
      // refresh rebuilds; drop unregisters (rewrite stops firing)
      assert(spark.sql("REFRESH MATERIALIZED VIEW mv_status")
        .head().getString(0) == "REFRESH_MV")
      assert(spark.sql("DROP MATERIALIZED VIEW mv_status")
        .head().getString(0) == "DROP_MV")
      assert(!scanPaths(spark.table("mv_src").groupBy(col("o_orderstatus")).count())
        .exists(_.contains("graft_mvs")))
      // a mutated table takes an MV over its current state, and the
      // rewrite serves the table read with the post-DML counts
      spark.sql("DELETE FROM mv_src WHERE o_orderstatus = 'F'")
      ops.Ddl.execute(spark,
        "CREATE MATERIALIZED VIEW mv2 ON mv_src GROUP BY (o_orderstatus) SUMS (o_totalprice)")
      val q2 = spark.table("mv_src").groupBy(col("o_orderstatus")).agg(count(lit(1)).as("cnt"))
      assert(scanPaths(q2).exists(_.contains("graft_mvs")), scanPaths(q2).mkString(";"))
      assert(q2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        direct - "F")
      spark.sql("DROP MATERIALIZED VIEW mv2")
      spark.sql("DROP TABLE mv_src")
    } finally graft.plans.MvCatalog.clear()
  }

  test("MERGE INTO upserts by primary key and replays after restart") {
    val tmp = java.nio.file.Files.createTempFile("graft_cat_merge", ".json")
    java.nio.file.Files.delete(tmp)
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = tmp.toString
    try {
      ops.Ddl.resetForTest()
      ops.Ddl.execute(spark,
        s"CREATE TABLE mrg_t MAPPED BY '${sf("sf0.001")}/region.parquet' KEYS (r_regionkey)")
      val base = spark.table("mrg_t").count() // 5 regions
      // source: one matched key (0 -> rewritten row) + one new key (99)
      val st = spark.sql(
        """MERGE INTO mrg_t USING (
          |  SELECT 0 AS r_regionkey, 'ZERO' AS r_name
          |  UNION ALL
          |  SELECT 99, 'NOVA'
          |) s ON s.r_regionkey = r_regionkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      assert(st.head.getString(0) == "MERGE")
      assert(spark.table("mrg_t").count() == base + 1)
      assert(spark.sql("SELECT r_name FROM mrg_t WHERE r_regionkey = 0")
        .head().getString(0) == "ZERO")
      assert(spark.sql("SELECT r_name FROM mrg_t WHERE r_regionkey = 99")
        .head().getString(0) == "NOVA")
      // ON clause must cover exactly the primary key
      intercept[IllegalArgumentException] {
        ops.Ddl.execute(spark,
          "MERGE INTO mrg_t USING (SELECT 1 AS r_regionkey, 'x' AS r_name) " +
            "s ON s.r_name = r_name " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      }
      // a tautological ON (source = source) must be rejected, not silently
      // executed with primary-key semantics it never stated
      intercept[IllegalArgumentException] {
        ops.Ddl.execute(spark,
          "MERGE INTO mrg_t USING (SELECT 1 AS r_regionkey, 'x' AS r_name) " +
            "s ON s.r_regionkey = s.r_regionkey " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      }
      // an alias-less MERGE cannot name the source side — clear error
      intercept[IllegalArgumentException] {
        ops.Ddl.execute(spark,
          "MERGE INTO mrg_t USING (SELECT 1 AS r_regionkey, 'x' AS r_name) " +
            "ON r_regionkey = r_regionkey " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      }
      // duplicate PRIMARY KEY rows in the source are an error (standard
      // MERGE raises on multi-match), not silently-kept duplicates
      intercept[IllegalArgumentException] {
        ops.Ddl.execute(spark,
          "MERGE INTO mrg_t USING (SELECT 7 AS r_regionkey, 'a' AS r_name " +
            "UNION ALL SELECT 7, 'b') s ON s.r_regionkey = r_regionkey " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      }
      // restart: the upsert reads back from the store
      ops.Ddl.resetForTest()
      spark.catalog.dropTempView("mrg_t")
      assert(spark.sql("DESCRIBE mrg_t").collect().nonEmpty) // re-materializes
      assert(spark.sql("SELECT count(*) FROM mrg_t").head().getLong(0) == base + 1)
      assert(spark.sql("SELECT r_name FROM mrg_t WHERE r_regionkey = 0")
        .head().getString(0) == "ZERO")
      spark.sql("DROP TABLE mrg_t")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("MERGE INTO a qualified table rewrites the persistent view") {
    val tmp = java.nio.file.Files.createTempFile("graft_cat_merge_q", ".json")
    java.nio.file.Files.delete(tmp)
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = tmp.toString
    try {
      ops.Ddl.resetForTest()
      ops.Ddl.execute(spark,
        s"CREATE TABLE wh.mrg MAPPED BY '${sf("sf0.001")}/region.parquet' KEYS (r_regionkey)")
      val base = spark.table("wh.mrg").count()
      spark.sql(
        """MERGE INTO wh.mrg USING (
          |  SELECT 1 AS r_regionkey, 'ONE' AS r_name
          |) s ON s.r_regionkey = r_regionkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(spark.table("wh.mrg").count() == base)
      assert(spark.sql("SELECT r_name FROM wh.mrg WHERE r_regionkey = 1")
        .head().getString(0) == "ONE")
      // restart replay goes through the self-contained view SQL
      ops.Ddl.resetForTest()
      spark.sql("DROP VIEW IF EXISTS wh.mrg")
      assert(spark.sql("DESCRIBE wh.mrg").collect().nonEmpty) // re-materializes
      assert(spark.sql("SELECT r_name FROM wh.mrg WHERE r_regionkey = 1")
        .head().getString(0) == "ONE")
      assert(spark.sql("SELECT count(*) FROM wh.mrg").head().getLong(0) == base)
      spark.sql("DROP TABLE wh.mrg")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("generalized MERGE: conditional clauses, explicit SET/INSERT, by-source DELETE") {
    val tmp = java.nio.file.Files.createTempFile("graft_cat_mergegen", ".json")
    java.nio.file.Files.delete(tmp)
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = tmp.toString
    try {
      ops.Ddl.resetForTest()
      ops.Ddl.execute(spark,
        s"CREATE TABLE mg_t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
      val base = spark.table("mg_t").count() // 25 nations, keys 0..24
      // source matches 0,1,2 and brings new keys 90,91
      val st = spark.sql(
        """MERGE INTO mg_t t USING (
          |  SELECT * FROM VALUES (0, 10), (1, 20), (2, 30), (90, 70), (91, -1)
          |    AS v(n_nationkey, w) ) s
          |ON s.n_nationkey = t.n_nationkey
          |WHEN MATCHED AND s.w = 20 THEN DELETE
          |WHEN MATCHED AND t.n_nationkey = 0 THEN UPDATE SET
          |  n_name = concat(t.n_name, '-x'), n_regionkey = s.w + 100
          |WHEN MATCHED THEN UPDATE SET n_name = upper(t.n_name)
          |WHEN NOT MATCHED AND s.w > 0 THEN INSERT
          |  (n_nationkey, n_name) VALUES (s.n_nationkey, concat('n', s.w))
          |WHEN NOT MATCHED BY SOURCE AND t.n_nationkey >= 20 THEN DELETE"""
          .stripMargin).collect()
      assert(st.head.getString(0) == "MERGE")
      val rows = spark.table("mg_t")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect().map(r => r.getInt(0) ->
          (r.getString(1), if (r.isNullAt(2)) None else Some(r.getInt(2)))).toMap
      // clause 1: key 1 deleted; clause 2: key 0 explicit assignments;
      // clause 3: key 2 uppercased; insert: 90 (w>0) yes, 91 (w=-1) no,
      // unlisted n_regionkey = NULL; by-source: keys 20..24 deleted
      assert(!rows.contains(1) && !rows.contains(91) && !rows.contains(20))
      assert(rows(0)._1.endsWith("-x") && rows(0)._2.contains(110))
      assert(rows(2)._1 == rows(2)._1.toUpperCase)
      assert(rows(90) == (("n70", None)))
      assert(rows.contains(19))
      assert(rows.size == base - 1 - 5 + 1) // -key1, -keys 20..24, +key90
      // restart: the merge reads back from the store
      ops.Ddl.resetForTest()
      spark.catalog.dropTempView("mg_t")
      assert(spark.sql("DESCRIBE mg_t").collect().nonEmpty) // re-materializes
      assert(spark.sql("SELECT count(*) FROM mg_t").head().getLong(0) ==
        base - 5)
      assert(spark.sql("SELECT n_name FROM mg_t WHERE n_nationkey = 90")
        .head().getString(0) == "n70")
      spark.sql("DROP TABLE mg_t")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("generalized MERGE: CASE expressions inside clause conditions and SET values") {
    val tmp = java.nio.file.Files.createTempFile("graft_cat_mergecase", ".json")
    java.nio.file.Files.delete(tmp)
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = tmp.toString
    try {
      ops.Ddl.resetForTest()
      ops.Ddl.execute(spark,
        s"CREATE TABLE mgcase_t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
      // a CASE…THEN…END inside the AND-condition previously truncated at
      // the inner THEN and rejected the whole statement
      spark.sql(
        """MERGE INTO mgcase_t t USING (
          |  SELECT * FROM VALUES (0, 5), (1, 50), (90, 9)
          |    AS v(n_nationkey, w) ) s
          |ON s.n_nationkey = t.n_nationkey
          |WHEN MATCHED AND CASE WHEN s.w > 10 THEN true ELSE false END
          |  THEN DELETE
          |WHEN MATCHED THEN UPDATE SET n_name =
          |  CASE WHEN s.w = 5 THEN 'low' ELSE 'hi' END
          |WHEN NOT MATCHED AND CASE WHEN s.w > 0 THEN s.w < 100
          |                          ELSE false END
          |  THEN INSERT (n_nationkey, n_name)
          |  VALUES (s.n_nationkey, CASE WHEN s.w = 9 THEN 'nine' ELSE 'o' END)"""
          .stripMargin)
      val rows = spark.table("mgcase_t").select("n_nationkey", "n_name")
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      assert(!rows.contains(1))        // w=50: CASE condition true → DELETE
      assert(rows(0) == "low")         // w=5: second clause's CASE value
      assert(rows(90) == "nine")       // insert condition + value both CASE
      spark.sql("DROP TABLE mgcase_t")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("incremental REFRESH MATERIALIZED VIEW folds append-only inserts") {
    if (ops.Ddl.lookup("imv_t").isDefined) ops.Ddl.execute(spark, "DROP TABLE imv_t")
    if (graft.plans.MvCatalog.named("imv_mv").isDefined)
      ops.Ddl.execute(spark, "DROP MATERIALIZED VIEW imv_mv")
    ops.Ddl.execute(spark,
      s"CREATE TABLE imv_t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
    ops.Ddl.execute(spark,
      "CREATE MATERIALIZED VIEW imv_mv ON imv_t " +
        "GROUP BY (n_regionkey) SUMS (n_nationkey)")
    try {
      def direct = spark.table("imv_t")
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_nationkey").cast("decimal(18,6)")).as("s"))
        .orderBy(col("n_regionkey")).collect().toSeq
      def snapPath = graft.plans.MvCatalog.named("imv_mv").get.snapshotPath
      def snapRows = spark.read.parquet(snapPath).count()
      def kvVersion = graft.plans.MvCatalog.named("imv_mv").get.kvVersion
      val before = direct
      val rows0 = snapRows
      ops.Ddl.execute(spark, "INSERT INTO imv_t VALUES (90, 'inc-a', 7)")
      ops.Ddl.execute(spark, "INSERT INTO imv_t VALUES (91, 'inc-b', 1)")
      ops.Ddl.execute(spark, "REFRESH MATERIALIZED VIEW imv_mv")
      // the refresh was INCREMENTAL: one partial row per inserted group
      // appended to the snapshot, no rebuild
      assert(snapRows == rows0 + 2, snapRows)
      // the snapshot's partials fold to exactly the direct aggregation
      // over the CURRENT view (group 7 gained a row, group 1 gained a row)
      val after = direct
      assert(after != before)
      def fromMv = spark.read.parquet(snapPath)
        .groupBy(col("n_regionkey"))
        .agg(sum(col("cnt")).cast("long").as("cnt"),
          sum(col("sum_n_nationkey")).cast("decimal(28,6)").as("s"))
        .orderBy(col("n_regionkey")).collect().toSeq
      assert(fromMv == after, s"$fromMv vs $after")
      // the transparent rewrite fires on the table read: the aggregate
      // redirects to the snapshot parquet
      val agg = spark.table("imv_t").groupBy(col("n_regionkey"))
        .agg(sum(col("n_nationkey").cast("decimal(18,6)")).as("s"))
      val leaves = agg.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
      assert(leaves.exists(_.contains("graft_mvs")), leaves.mkString(";"))
      // a second refresh with nothing new is a no-op (same build version)
      val v1 = kvVersion
      ops.Ddl.execute(spark, "REFRESH MATERIALIZED VIEW imv_mv")
      assert(kvVersion == v1)
      // a non-append mutation is maintained from the changed files: the
      // partials still fold to the table's current aggregation
      ops.Ddl.execute(spark, "DELETE FROM imv_t WHERE n_nationkey = 91")
      ops.Ddl.execute(spark, "REFRESH MATERIALIZED VIEW imv_mv")
      assert(fromMv == direct, s"$fromMv vs $direct")
      assert(spark.table("imv_t").count() == before.map(_.getLong(1)).sum + 1)
    } finally {
      ops.Ddl.execute(spark, "DROP MATERIALIZED VIEW imv_mv")
      ops.Ddl.execute(spark, "DROP TABLE imv_t")
    }
  }

  test("delta REFRESH INDEX covers append-only inserts; rewrite fires on the view") {
    if (ops.Ddl.lookup("di_t").isDefined) ops.Ddl.execute(spark, "DROP TABLE di_t")
    if (graft.plans.IndexCatalog.named("di_ix").isDefined)
      ops.Ddl.execute(spark, "DROP INDEX di_ix")
    ops.Ddl.execute(spark,
      s"CREATE TABLE di_t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
    ops.Ddl.execute(spark, "CREATE INDEX di_ix ON di_t (n_regionkey)")
    try {
      ops.Ddl.execute(spark, "INSERT INTO di_t VALUES (90, 'delta-new', 77)")
      def stale: Boolean = ops.Ddl.execute(spark, "SHOW INDEXES").collect()
        .find(_.getString(0) == "di_ix").get.getBoolean(3)
      assert(stale)
      // before the refresh, the stale index stands down: the table read
      // keeps its plain filter and results stay exact
      def viewQ = spark.table("di_t").filter(col("n_regionkey") === 77)
      def semiCount: Int =
        "Join LeftSemi".r.findAllIn(viewQ.queryExecution.optimizedPlan.toString)
          .length
      assert(semiCount == 0, viewQ.queryExecution.optimizedPlan.toString.take(1500))
      assert(viewQ.count() == 1)
      val built = java.nio.file.Files.list(java.nio.file.Paths.get(
        graft.plans.IndexCatalog.named("di_ix").get.indexPath)).count()
      ops.Ddl.execute(spark, "REFRESH INDEX di_ix")
      assert(!stale)
      // the refresh indexed only the appended epoch (new index files
      // beside the old ones), and the read redirects to the index again
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(
        graft.plans.IndexCatalog.named("di_ix").get.indexPath)).count() > built)
      assert(semiCount == 1, viewQ.queryExecution.optimizedPlan.toString.take(1500))
      assert(viewQ.collect().map(_.getInt(0)).toSeq == Seq(90))
      // second append + CREATE-after-insert path: a fresh index on an
      // append-only table covers the snapshots immediately
      ops.Ddl.execute(spark, "INSERT INTO di_t VALUES (91, 'delta-two', 78)")
      if (graft.plans.IndexCatalog.named("di_ix2").isDefined)
        ops.Ddl.execute(spark, "DROP INDEX di_ix2")
      ops.Ddl.execute(spark, "CREATE INDEX di_ix2 ON di_t (n_name)")
      val q2 = spark.table("di_t").filter(col("n_name") === "delta-two")
      assert(q2.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
      assert(q2.collect().map(_.getInt(0)).toSeq == Seq(91))
      ops.Ddl.execute(spark, "DROP INDEX di_ix2")
      // a non-append mutation falls back: REFRESH rebuilds from the
      // table's current state, and the read redirects and stays exact
      ops.Ddl.execute(spark, "DELETE FROM di_t WHERE n_nationkey = 0")
      ops.Ddl.execute(spark, "REFRESH INDEX di_ix")
      assert(!stale)
      assert(semiCount == 1, viewQ.queryExecution.optimizedPlan.toString.take(1500))
      assert(viewQ.count() == 1)
    } finally {
      ops.Ddl.execute(spark, "DROP INDEX di_ix")
      ops.Ddl.execute(spark, "DROP TABLE di_t")
    }
  }

  test("REFRESH after non-append DML squashes the replay; index and MV rewrites fire again") {
    if (ops.Ddl.lookup("sq_t").isDefined) ops.Ddl.execute(spark, "DROP TABLE sq_t")
    if (graft.plans.IndexCatalog.named("sq_ix").isDefined)
      ops.Ddl.execute(spark, "DROP INDEX sq_ix")
    if (graft.plans.MvCatalog.named("sq_mv").isDefined)
      ops.Ddl.execute(spark, "DROP MATERIALIZED VIEW sq_mv")
    ops.Ddl.execute(spark,
      s"CREATE TABLE sq_t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
    ops.Ddl.execute(spark, "CREATE INDEX sq_ix ON sq_t (n_regionkey)")
    ops.Ddl.execute(spark,
      "CREATE MATERIALIZED VIEW sq_mv ON sq_t GROUP BY (n_regionkey) SUMS (n_nationkey)")
    try {
      // non-append DML: delete region 0, bump one name
      ops.Ddl.execute(spark, "DELETE FROM sq_t WHERE n_regionkey = 0")
      ops.Ddl.execute(spark,
        "UPDATE sq_t SET n_name = upper(n_name) WHERE n_nationkey = 1")
      // expected state, computed directly from the view (the replay)
      val expectKeys = spark.table("sq_t").filter(col("n_regionkey") === 1)
        .collect().map(_.getInt(0)).toSet
      // REFRESH INDEX squashes the table to a materialized snapshot and
      // rebuilds from it: the view becomes a single-parquet read again and
      // the transparent rewrite FIRES on the table read
      ops.Ddl.execute(spark, "REFRESH INDEX sq_ix")
      val q = spark.table("sq_t").filter(col("n_regionkey") === 1)
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains("LeftSemi"), opt.take(1500))
      assert(q.collect().map(_.getInt(0)).toSet == expectKeys)
      // the deleted region is really gone from the squashed state
      assert(spark.table("sq_t").filter(col("n_regionkey") === 0).count() == 0)
      // REFRESH MV on the (already-squashed) history rebuilds the snapshot
      // from the replay state — deleted rows are NOT served (the old
      // fallback aggregated the pre-DML base parquet)
      ops.Ddl.execute(spark, "REFRESH MATERIALIZED VIEW sq_mv")
      val mvRows = spark.table("sq_mv").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(!mvRows.contains(0), mvRows)
      val direct = spark.table("sq_t").groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("cnt")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(mvRows == direct, s"$mvRows vs $direct")
      // the MV rewrite also fires on the squashed single-path view read
      val agg = spark.table("sq_t").groupBy(col("n_regionkey"))
        .agg(sum(col("n_nationkey").cast("decimal(18,6)")).as("s"))
      val leaves = agg.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
      assert(leaves.exists(_.contains("graft_mvs")), leaves.mkString(";"))
      // an INDEPENDENT read of the original base parquet is NOT redirected
      // to the squash-state index/MV (covered-multiset rule): all 25
      // nations, including deleted region 0, still come back
      val bare = spark.read.parquet(s"${sf("sf0.001")}/nation.parquet")
      assert(bare.count() == 25)
      assert(bare.filter(col("n_regionkey") === 0).count() == 5)
      // time travel still reconstructs pre-squash versions from the log
      // prefix: version 0 is the untouched base
      assert(ops.Ddl.asOf(spark, "sq_t", 0).count() == 25)
      assert(ops.Ddl.asOf(spark, "sq_t", 1)
        .filter(col("n_regionkey") === 0).count() == 0)
    } finally {
      ops.Ddl.execute(spark, "DROP MATERIALIZED VIEW sq_mv")
      ops.Ddl.execute(spark, "DROP INDEX sq_ix")
      ops.Ddl.execute(spark, "DROP TABLE sq_t")
    }
  }

  test("DML on an indexed table prints a staleness notice and flags SHOW INDEXES") {
    if (ops.Ddl.lookup("st_t").isDefined) ops.Ddl.execute(spark, "DROP TABLE st_t")
    if (graft.plans.IndexCatalog.named("st_ix").isDefined)
      ops.Ddl.execute(spark, "DROP INDEX st_ix")
    ops.Ddl.execute(spark,
      s"CREATE TABLE st_t MAPPED BY '${sf("sf0.001")}/orders.parquet' KEYS (o_orderkey)")
    ops.Ddl.execute(spark, "CREATE INDEX st_ix ON st_t (o_custkey)")
    try {
      def staleFlag: Boolean = ops.Ddl.execute(spark, "SHOW INDEXES").collect()
        .find(_.getString(0) == "st_ix").get.getBoolean(3)
      assert(!staleFlag)
      // the mutation funnel emits one clear line naming the staled index
      val buf = new java.io.ByteArrayOutputStream()
      val prevErr = System.err
      System.setErr(new java.io.PrintStream(buf, true))
      try ops.Ddl.execute(spark, "DELETE FROM st_t WHERE o_orderkey = 1")
      finally System.setErr(prevErr)
      val notice = new String(buf.toByteArray)
      assert(notice.contains("staled INDEX st_ix"), notice)
      assert(notice.contains("REFRESH"), notice)
      assert(staleFlag)
      // REFRESH re-pins the build position: flag clears
      ops.Ddl.execute(spark, "REFRESH INDEX st_ix")
      assert(!staleFlag)
    } finally {
      ops.Ddl.execute(spark, "DROP INDEX st_ix")
      ops.Ddl.execute(spark, "DROP TABLE st_t")
    }
  }

  test("generalized MERGE: by-source UPDATE and validation errors") {
    ops.Ddl.execute(spark,
      s"CREATE TABLE mg_v MAPPED BY '${sf("sf0.001")}/region.parquet' KEYS (r_regionkey)")
    try {
      // NOT MATCHED BY SOURCE UPDATE touches exactly the unmatched rows
      spark.sql(
        """MERGE INTO mg_v t USING (
          |  SELECT 0 AS r_regionkey UNION ALL SELECT 1) s
          |ON s.r_regionkey = t.r_regionkey
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET r_name = 'stale'"""
          .stripMargin)
      assert(spark.sql("SELECT count(*) FROM mg_v WHERE r_name = 'stale'")
        .head().getLong(0) == 3)
      assert(spark.sql(
        "SELECT count(*) FROM mg_v WHERE r_regionkey <= 1 AND r_name = 'stale'")
        .head().getLong(0) == 0)
      // bare-table USING form: `MERGE INTO t USING view s ON …`
      spark.sql("SELECT 0 AS r_regionkey UNION ALL SELECT 77")
        .createOrReplaceTempView("mg_src_v")
      spark.sql(
        """MERGE INTO mg_v t USING mg_src_v s
          |ON s.r_regionkey = t.r_regionkey
          |WHEN MATCHED THEN UPDATE SET r_name = 'via-table'
          |WHEN NOT MATCHED THEN INSERT (r_regionkey, r_name)
          |  VALUES (s.r_regionkey, 'new-77')""".stripMargin)
      assert(spark.sql("SELECT r_name FROM mg_v WHERE r_regionkey = 0")
        .head().getString(0) == "via-table")
      assert(spark.sql("SELECT r_name FROM mg_v WHERE r_regionkey = 77")
        .head().getString(0) == "new-77")
      // PRIMARY KEY columns cannot be assigned
      intercept[IllegalArgumentException] {
        ops.Ddl.execute(spark,
          "MERGE INTO mg_v t USING (SELECT 0 AS r_regionkey) s " +
            "ON s.r_regionkey = t.r_regionkey " +
            "WHEN MATCHED THEN UPDATE SET r_regionkey = 9")
      }
      // unknown SET column
      intercept[IllegalArgumentException] {
        ops.Ddl.execute(spark,
          "MERGE INTO mg_v t USING (SELECT 0 AS r_regionkey) s " +
            "ON s.r_regionkey = t.r_regionkey " +
            "WHEN MATCHED THEN UPDATE SET nope = 1")
      }
      // only the last clause of a group may omit AND <condition>
      intercept[IllegalArgumentException] {
        ops.Ddl.execute(spark,
          "MERGE INTO mg_v t USING (SELECT 0 AS r_regionkey) s " +
            "ON s.r_regionkey = t.r_regionkey " +
            "WHEN MATCHED THEN DELETE " +
            "WHEN MATCHED AND t.r_regionkey = 1 THEN UPDATE SET r_name = 'x'")
      }
      // INSERT column list must include the PRIMARY KEY
      intercept[IllegalArgumentException] {
        ops.Ddl.execute(spark,
          "MERGE INTO mg_v t USING (SELECT 77 AS r_regionkey) s " +
            "ON s.r_regionkey = t.r_regionkey " +
            "WHEN NOT MATCHED THEN INSERT (r_name) VALUES ('x')")
      }
      // NULL source keys can never join — rejected loudly
      intercept[IllegalArgumentException] {
        ops.Ddl.execute(spark,
          "MERGE INTO mg_v t USING (SELECT CAST(NULL AS INT) AS r_regionkey) s " +
            "ON s.r_regionkey = t.r_regionkey " +
            "WHEN MATCHED THEN UPDATE SET r_name = 'x'")
      }
    } finally {
      ops.Ddl.execute(spark, "DROP TABLE mg_v")
    }
  }

  test("generalized MERGE: composite keys and multiple conditional INSERT clauses") {
    if (ops.Ddl.lookup("mgc_t").isDefined) ops.Ddl.execute(spark, "DROP TABLE mgc_t")
    ops.Ddl.execute(spark,
      s"CREATE TABLE mgc_t MAPPED BY '${sf("sf0.001")}/lineitem.parquet' " +
        "KEYS (l_orderkey, l_linenumber)")
    try {
      val base = spark.table("mgc_t").count()
      // ON must name BOTH key columns; a partial key is rejected
      intercept[IllegalArgumentException] {
        ops.Ddl.execute(spark,
          "MERGE INTO mgc_t t USING (SELECT 1L AS l_orderkey, 1 AS l_linenumber) s " +
            "ON s.l_orderkey = t.l_orderkey " +
            "WHEN MATCHED THEN UPDATE SET l_returnflag = 'x'")
      }
      // composite-key matching + two conditional INSERT clauses with
      // first-match-wins: w=1 rows take the first branch, others the second
      spark.sql(
        """MERGE INTO mgc_t t USING (
          |  SELECT * FROM VALUES
          |    (CAST(9000001 AS BIGINT), 1, 1), (CAST(9000001 AS BIGINT), 2, 5)
          |    AS v(l_orderkey, l_linenumber, w) ) s
          |ON s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber
          |WHEN NOT MATCHED AND s.w = 1 THEN INSERT
          |  (l_orderkey, l_linenumber, l_returnflag)
          |  VALUES (s.l_orderkey, s.l_linenumber, 'first-branch')
          |WHEN NOT MATCHED THEN INSERT
          |  (l_orderkey, l_linenumber, l_returnflag)
          |  VALUES (s.l_orderkey, s.l_linenumber, 'second-branch')"""
          .stripMargin)
      assert(spark.table("mgc_t").count() == base + 2)
      val ins = spark.table("mgc_t").filter(col("l_orderkey") === 9000001L)
        .select(col("l_linenumber"), col("l_returnflag"))
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      assert(ins == Map(1 -> "first-branch", 2 -> "second-branch"), ins.toString)
    } finally ops.Ddl.execute(spark, "DROP TABLE mgc_t")
  }

  test("generalized MERGE on a qualified table replays through the view SQL") {
    val tmp = java.nio.file.Files.createTempFile("graft_cat_mergegen_q", ".json")
    java.nio.file.Files.delete(tmp)
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = tmp.toString
    try {
      ops.Ddl.resetForTest()
      ops.Ddl.execute(spark,
        s"CREATE TABLE wh.mg MAPPED BY '${sf("sf0.001")}/region.parquet' KEYS (r_regionkey)")
      val base = spark.table("wh.mg").count()
      spark.sql(
        """MERGE INTO wh.mg t USING (
          |  SELECT 1 AS r_regionkey UNION ALL SELECT 42) s
          |ON s.r_regionkey = t.r_regionkey
          |WHEN MATCHED THEN UPDATE SET r_name = 'one!'
          |WHEN NOT MATCHED THEN INSERT (r_regionkey, r_name)
          |  VALUES (s.r_regionkey, 'forty-two')""".stripMargin)
      assert(spark.table("wh.mg").count() == base + 1)
      // restart: the persistent view reads the store again
      ops.Ddl.resetForTest()
      spark.sql("DROP VIEW IF EXISTS wh.mg")
      assert(spark.sql("DESCRIBE wh.mg").collect().nonEmpty)
      assert(spark.sql("SELECT r_name FROM wh.mg WHERE r_regionkey = 1")
        .head().getString(0) == "one!")
      assert(spark.sql("SELECT r_name FROM wh.mg WHERE r_regionkey = 42")
        .head().getString(0) == "forty-two")
      assert(spark.sql("SELECT count(*) FROM wh.mg").head().getLong(0) == base + 1)
      spark.sql("DROP TABLE wh.mg")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("INSERT INTO a qualified table snapshots into the persistent view") {
    val tmpd = java.nio.file.Files.createTempDirectory("graft_cat_qins")
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = tmpd.resolve("cat.json").toString
    try {
      ops.Ddl.resetForTest()
      ops.Ddl.execute(spark,
        s"CREATE TABLE wh.qins MAPPED BY '${sf("sf0.001")}/region.parquet' KEYS (r_regionkey)")
      val base = spark.table("wh.qins").count()
      spark.sql("INSERT INTO wh.qins VALUES (55, 'q-added')")
      assert(spark.table("wh.qins").count() == base + 1)
      // DML folds into the self-contained view SQL too
      spark.sql("UPDATE wh.qins SET r_name = upper(r_name) WHERE r_regionkey = 55")
      spark.sql("DELETE FROM wh.qins WHERE r_regionkey = 0")
      assert(spark.table("wh.qins").count() == base)
      // restart replay: the persistent view's SQL references the snapshot
      // (DESCRIBE = graft-routed first touch that re-registers the view)
      ops.Ddl.resetForTest()
      spark.sql("DROP VIEW IF EXISTS wh.qins")
      assert(spark.sql("DESCRIBE wh.qins").collect().nonEmpty)
      assert(spark.sql("SELECT r_name FROM wh.qins WHERE r_regionkey = 55")
        .head().getString(0) == "Q-ADDED")
      assert(spark.sql("SELECT count(*) FROM wh.qins WHERE r_regionkey = 0")
        .head().getLong(0) == 0)
      spark.sql("DROP TABLE wh.qins")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
    }
  }

  test("catalog survives restart: persisted file replays schema and scans") {
    val tmp = java.nio.file.Files.createTempFile("graft_cat", ".json")
    java.nio.file.Files.delete(tmp)
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = tmp.toString
    try {
      ops.Ddl.resetForTest()
      ops.Ddl.execute(spark,
        s"CREATE TABLE persist_t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
      ops.Ddl.execute(spark, "ALTER TABLE persist_t ADD COLUMN name_len AS length(n_name)")
      // simulate a process restart: forget the in-memory catalog AND the
      // session's temp view — everything must come back from the JSON file
      ops.Ddl.resetForTest()
      spark.catalog.dropTempView("persist_t")
      // routed through spark.sql: intercept's catalog guard must see the
      // persisted entry before any execute() has run in the "new" process
      val desc = spark.sql("DESCRIBE persist_t").collect()
        .map(r => (r.getString(0), r.getBoolean(2))).toMap
      assert(desc("n_nationkey") === true)
      assert(desc.contains("name_len")) // ALTER ADD replayed from the log
      assert(ops.Ddl.keyRangeScan(spark, "persist_t", Seq(5), Seq(14)).count() == 10)
      spark.sql("DROP TABLE persist_t")
      assert(ops.Ddl.lookup("persist_t").isEmpty)
      // the DROP persisted too: another "restart" must not resurrect it
      ops.Ddl.resetForTest()
      assert(ops.Ddl.lookup("persist_t").isEmpty)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("a fresh process's first CREATE does not clobber the persisted catalog") {
    val tmp = java.nio.file.Files.createTempFile("graft_cat_merge", ".json")
    java.nio.file.Files.delete(tmp)
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = tmp.toString
    try {
      ops.Ddl.resetForTest()
      ops.Ddl.execute(spark,
        s"CREATE TABLE keep_t MAPPED BY '${sf("sf0.001")}/region.parquet' KEYS (r_regionkey)")
      // restart; the VERY FIRST statement is another CREATE — persist() must
      // merge the disk catalog before writing, not overwrite it with {new_t}
      ops.Ddl.resetForTest()
      ops.Ddl.execute(spark,
        s"CREATE TABLE new_t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
      ops.Ddl.resetForTest()
      assert(ops.Ddl.lookup("keep_t").isDefined) // survived the fresh-JVM CREATE
      assert(ops.Ddl.lookup("new_t").isDefined)
      spark.sql("DROP TABLE keep_t"); spark.sql("DROP TABLE new_t")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("programmatic DROP TABLE IF EXISTS on a missing table is a no-op") {
    val st = ops.Ddl.execute(spark, "DROP TABLE IF EXISTS never_created_t").collect()
    assert(st.head.getString(0) == "DROP_SKIPPED")
    intercept[IllegalArgumentException] { // without IF EXISTS it still throws
      ops.Ddl.execute(spark, "DROP TABLE never_created_t")
    }
  }

  test("a corrupt catalog file degrades to an empty catalog, never throws") {
    val tmp = java.nio.file.Files.createTempFile("graft_cat_bad", ".json")
    java.nio.file.Files.writeString(tmp, "[ { \"name\": \"trunc") // mid-write kill
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = tmp.toString
    try {
      ops.Ddl.resetForTest()
      assert(ops.Ddl.lookup("anything").isEmpty) // parses nothing, throws nothing
      // and the catalog still WORKS (persist overwrites the bad file atomically)
      ops.Ddl.execute(spark,
        s"CREATE TABLE after_bad MAPPED BY '${sf("sf0.001")}/region.parquet' KEYS (r_regionkey)")
      ops.Ddl.resetForTest()
      assert(ops.Ddl.lookup("after_bad").isDefined) // round-trips through the file
      spark.sql("DROP TABLE after_bad")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("DROP TABLE IF EXISTS and DESC[RIBE] TABLE route to the graft parser") {
    spark.sql(
      s"CREATE TABLE ifex_t MAPPED BY '${sf("sf0.001")}/region.parquet' KEYS (r_regionkey)")
    assert(spark.sql("DESC TABLE ifex_t").collect().nonEmpty)
    assert(spark.sql("DESCRIBE TABLE ifex_t").collect()
      .map(_.getString(0)).contains("r_regionkey"))
    val st = spark.sql("DROP TABLE IF EXISTS ifex_t").collect()
    assert(st.head.getString(0) == "DROP")
    assert(ops.Ddl.lookup("ifex_t").isEmpty)
  }

  test("ALTER/LOAD on a CACHE'd table keeps it cached, no orphaned plan") {
    ops.Ddl.execute(spark,
      s"CREATE TABLE cach2_t MAPPED BY '${sf("sf0.001")}/region.parquet' KEYS (r_regionkey)")
    ops.Ddl.execute(spark, "CACHE TABLE cach2_t")
    ops.Ddl.execute(spark, "ALTER TABLE cach2_t ADD COLUMN k2 AS r_regionkey + 1")
    // the NEW view is the cached one (old plan was uncached before replace)
    assert(spark.catalog.isCached("cach2_t"))
    assert(spark.table("cach2_t").columns.contains("k2"))
    ops.Ddl.execute(spark, "UNCACHE TABLE cach2_t")
    assert(!spark.catalog.isCached("cach2_t"))
    ops.Ddl.execute(spark, "DROP TABLE cach2_t")
  }

  test("LOAD DATA aligns CSV columns by header name, not position") {
    if (ops.Ddl.lookup("load_rev").isDefined) spark.sql("DROP TABLE load_rev")
    spark.sql(
      s"CREATE TABLE load_rev MAPPED BY '${sf("sf0.001")}/region.parquet' KEYS (r_regionkey)")
    val cols = spark.table("load_rev").columns
    // stage a CSV with the column order REVERSED — a position-mapped read
    // would load r_comment into r_regionkey
    val dir = java.nio.file.Files.createTempDirectory("graft_load_rev").toString
    spark.table("load_rev").orderBy(col("r_regionkey")).limit(2)
      .select(cols.reverse.map(col).toSeq: _*)
      .write.mode("overwrite").option("header", "true").csv(dir)
    spark.sql(s"LOAD DATA INPATH '$dir' INTO TABLE load_rev")
    // appended rows carry real keys (0 appears twice now), never nulls or
    // comment text coerced into the key column
    assert(spark.sql("SELECT count(*) FROM load_rev WHERE r_regionkey = 0")
      .head.getLong(0) == 2)
    assert(spark.table("load_rev").filter(col("r_regionkey").isNull).count() == 0)
    // a CSV missing a table column is an error, not silent nulls
    val dir2 = java.nio.file.Files.createTempDirectory("graft_load_miss").toString
    spark.table("load_rev").limit(1).select(col("r_name"))
      .write.mode("overwrite").option("header", "true").csv(dir2)
    intercept[Exception] {
      spark.sql(s"LOAD DATA INPATH '$dir2' INTO TABLE load_rev").collect()
    }
    spark.sql("DROP TABLE load_rev")
  }

  test("LOAD into a single-part table: bare name, graft.t and time travel agree") {
    if (ops.Ddl.lookup("load_p").isDefined) spark.sql("DROP TABLE load_p")
    spark.sql(
      s"CREATE TABLE load_p MAPPED BY '${sf("sf0.001")}/region.parquet' KEYS (r_regionkey)")
    val dir = java.nio.file.Files.createTempDirectory("graft_load_p").toString
    spark.table("load_p").orderBy(col("r_regionkey")).limit(2)
      .write.mode("overwrite").option("header", "true").csv(dir)
    spark.sql(s"LOAD DATA INPATH '$dir' INTO TABLE load_p")
    def rows(q: String) =
      spark.sql(q).collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    val bare = rows("SELECT * FROM load_p")
    assert(bare.length == 7)
    val ts = ops.Ddl.lookup("load_p").get.muts.last.ts
    assert(rows("SELECT * FROM graft.load_p") == bare)
    assert(rows("SELECT * FROM graft.load_p VERSION AS OF 1") == bare)
    assert(rows(s"SELECT * FROM graft.load_p TIMESTAMP AS OF '$ts'") == bare)
    assert(ops.Ddl.asOf(spark, "load_p", 1).count() == 7)
    spark.sql("DROP TABLE load_p")
  }

  test("a catalog written before keyed tables were stored in kv is refused, never migrated") {
    withCatalog("graft_legacy_cat") { dir =>
      val cat = dir.resolve("graft_catalog.json")
      val base = s"${sf("sf0.001")}/region.parquet"
      val ins = dir.resolve("ins").toString
      spark.sql("SELECT 10 AS r_regionkey, 'ten' AS r_name").write.parquet(ins)
      // a table entry without `store`, and an index and an MV entry without
      // `kvVersion`: the shapes such a catalog holds
      java.nio.file.Files.writeString(cat,
        s"""{"seq": 1, "tables": [{"name": "legacy_t", "path": "$base",
           |  "keys": ["r_regionkey"], "created": 1000, "stats": [], "muts": [
           |    {"op": "insert", "a": "", "b": "$ins", "ts": "1001"}]}],
           | "mvs": [{"name": "legacy_mv", "source": "$base", "snapshot": "$dir/old_mv",
           |   "groups": ["r_name"], "cnt": "cnt", "sums": {},
           |   "dectype": "DECIMAL(38,6)", "table": "legacy_t"}],
           | "dsv2": [],
           | "indexes": [{"name": "legacy_ix", "source": "$base", "col": "r_name",
           |   "index": "$dir/old_ix", "keys": ["r_regionkey"], "builtAt": 0,
           |   "table": "legacy_t"}]}
           |""".stripMargin)
      def stderrOf(body: => Unit): String = {
        val buf = new java.io.ByteArrayOutputStream()
        val prev = System.err
        System.setErr(new java.io.PrintStream(buf, true))
        try body finally System.setErr(prev)
        buf.toString
      }
      ops.Ddl.resetForTest()
      val skipped = stderrOf(assert(ops.Ddl.lookup("legacy_t").isDefined))
      assert(skipped.contains("skipping index 'legacy_ix'") &&
        skipped.contains("skipping materialized view 'legacy_mv'"), skipped)
      def refused(stmt: String): Unit = {
        val e = intercept[Exception](spark.sql(stmt).collect())
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(x => String.valueOf(x.getMessage)).toSeq
        assert(msgs.exists(m => m.contains("written before keyed tables were " +
          "stored in kv") && m.contains("DROP TABLE legacy_t") &&
          m.contains(cat.toString)), s"$stmt: $e")
      }
      refused("SELECT * FROM graft.legacy_t")
      refused("SELECT * FROM graft.legacy_t VERSION AS OF 0")
      refused("INSERT INTO legacy_t VALUES (11, 'eleven')")
      // the table still lists; its index and MV are not registered
      assert(ops.Ddl.execute(spark, "SHOW TABLES").collect().map(_.getString(0))
        .contains("legacy_t"))
      assert(graft.plans.IndexCatalog.named("legacy_ix").isEmpty)
      assert(graft.plans.MvCatalog.named("legacy_mv").isEmpty)
      assert(spark.sql("SHOW INDEXES").collect().isEmpty)
      // the next catalog write keeps the table entry as it was and leaves
      // the index and MV entries out
      spark.sql(s"CREATE TABLE fresh_t MAPPED BY '$base' KEYS (r_regionkey)")
      val written = java.nio.file.Files.readString(cat)
      assert(!written.contains("legacy_ix") && !written.contains("legacy_mv"), written)
      ops.Ddl.resetForTest()
      val kept = ops.Ddl.lookup("legacy_t").get
      assert(kept.store.isEmpty && kept.muts.map(m => (m.op, m.b, m.ts)) ==
        Seq(("insert", ins, 1001L)))
      refused("SELECT * FROM graft.legacy_t")
      spark.sql("DROP TABLE legacy_t")
      assert(ops.Ddl.lookup("legacy_t").isEmpty)
      ops.Ddl.resetForTest()
      assert(ops.Ddl.tableNames() == Seq("fresh_t"))
      spark.sql("DROP TABLE fresh_t")
      // the older array-format file: one stderr line, an empty catalog, and
      // the next write replaces the file
      java.nio.file.Files.writeString(cat,
        s"""[{"name": "arr_t", "path": "$base", "keys": ["r_regionkey"], "muts": []}]""")
      ops.Ddl.resetForTest()
      val arr = stderrOf(assert(ops.Ddl.tableNames().isEmpty))
      assert(arr.contains("bare table array") && arr.contains(cat.toString), arr)
      spark.sql(s"CREATE TABLE after_arr MAPPED BY '$base' KEYS (r_regionkey)")
      ops.Ddl.resetForTest()
      assert(ops.Ddl.tableNames() == Seq("after_arr"))
      assert(spark.sql("SELECT count(*) FROM graft.after_arr").head().getLong(0) == 5L)
      spark.sql("DROP TABLE after_arr")
    }
  }

  test("DELETE FROM a keyed table keeps every version; the DELETE's version reads empty") {
    withCatalog("graft_delete_all") { _ =>
      spark.sql(s"CREATE TABLE del_all MAPPED BY '${sf("sf0.001")}/region.parquet' " +
        "KEYS (r_regionkey)")
      // the first DELETE is a metadata-only publish; the UPDATE leaves a
      // merge-on-read delta, so the second runs as a row-level delete
      Seq("DELETE FROM del_all", "INSERT INTO del_all VALUES (7, 'seven')",
        "UPDATE del_all SET r_name = 'SEVEN' WHERE r_regionkey = 7",
        "DELETE FROM del_all", "INSERT INTO del_all VALUES (8, 'eight')")
        .foreach(spark.sql)
      def at(v: Int): Seq[(Int, String)] =
        spark.sql(s"SELECT r_regionkey, r_name FROM graft.del_all VERSION AS OF $v")
          .collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sorted
      assert(at(0).length == 5)
      assert((1 to 5).map(at) == Seq(Nil, Seq((7, "seven")), Seq((7, "SEVEN")), Nil,
        Seq((8, "eight"))))
      val t = ops.Ddl.lookup("del_all").get
      val epochs = t.baseEpoch +: t.muts.map(_.epoch)
      assert(epochs == epochs.distinct.sorted, epochs)
      spark.sql("DROP TABLE del_all")
    }
  }

  test("ANALYZE stats persist across a restart and route through spark.sql") {
    if (ops.Ddl.lookup("an_t").isDefined) spark.sql("DROP TABLE an_t")
    spark.sql(
      s"CREATE TABLE an_t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
    // SHOW STATS before ANALYZE is an explicit error, not an empty frame
    intercept[Exception] { spark.sql("SHOW STATS an_t").collect() }
    val st = spark.sql("ANALYZE TABLE an_t COMPUTE STATISTICS").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(st("n_rows") == "25")
    assert(st("n_nationkey_min") == "0" && st("n_nationkey_max") == "24")
    // simulated restart: stats must come back from the persisted catalog
    ops.Ddl.resetForTest()
    val st2 = spark.sql("SHOW STATS an_t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(st2 == st)
    spark.sql("DROP TABLE an_t")
  }

  test("partial ANALYZE FOR COLUMNS analyzes only the named columns and merges") {
    if (ops.Ddl.lookup("anc_t").isDefined) spark.sql("DROP TABLE anc_t")
    spark.sql(
      s"CREATE TABLE anc_t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
    def stats(): Map[String, String] = spark.sql("SHOW STATS anc_t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // full-width analyze records every eligible column
    spark.sql("ANALYZE TABLE anc_t COMPUTE STATISTICS FOR COLUMNS").collect()
    val full = stats()
    assert(full.contains("col.n_nationkey.ndv") && full.contains("col.n_name.ndv")
      && full.contains("col.n_regionkey.ndv"))
    // partial analyze touches ONLY the named column's entries; the other
    // columns' previously recorded stats survive (Spark merges the same way)
    spark.sql("ANALYZE TABLE anc_t COMPUTE STATISTICS FOR COLUMNS n_regionkey").collect()
    val part = stats()
    assert(part.contains("col.n_regionkey.ndv") && part.contains("col.n_name.ndv")
      && part.contains("col.n_nationkey.ndv"))
    assert(part("col.n_regionkey.ndv") == full("col.n_regionkey.ndv"))
    // an unknown column is an explicit error, not a silent no-op
    val e = intercept[Exception] {
      spark.sql("ANALYZE TABLE anc_t COMPUTE STATISTICS FOR COLUMNS nope").collect()
    }
    assert(e.getMessage.contains("unknown column"))
    spark.sql("DROP TABLE anc_t")
  }

  test("prefix bounds work (leading key only)") {
    ops.Ddl.create(spark,
      s"CREATE TABLE li_keyed MAPPED BY '${sf("sf0.001")}/lineitem.parquet' KEYS (l_orderkey, l_linenumber)")
    val n = ops.Ddl.keyRangeScan(spark, "li_keyed", Seq(100L), Seq(200L)).count()
    val expect = Tables.lineitem(spark, sf("sf0.001"))
      .filter(col("l_orderkey") >= 100 && col("l_orderkey") <= 200).count()
    assert(n == expect)
  }

  test("MATERIALIZED VIEW definitions survive a process restart") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scanPaths(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
      }.flatten
    val tmp = java.nio.file.Files.createTempFile("graft_cat_mvp", ".json")
    java.nio.file.Files.delete(tmp)
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = tmp.toString
    val src = s"${sf("sf0.001")}/orders.parquet"
    def agg() = spark.sql("SELECT * FROM graft.mvp_src")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .as("total"))
    try {
      ops.Ddl.resetForTest(); graft.plans.MvCatalog.clear()
      spark.sql(s"CREATE TABLE mvp_src MAPPED BY '$src' KEYS (o_orderkey)")
      spark.sql("CREATE MATERIALIZED VIEW mvp_mv ON mvp_src " +
        "GROUP BY (o_orderstatus) SUMS (o_totalprice)")
      assert(scanPaths(agg()).exists(_.contains("graft_mvs")))
      // --- restart: in-memory registries gone, catalog file remains ---
      ops.Ddl.resetForTest(); graft.plans.MvCatalog.clear()
      spark.catalog.dropTempView("mvp_mv"); spark.catalog.dropTempView("mvp_src")
      // an aggregate over the table (no DDL statement runs) gets the
      // rewrite back via the optimizer rule's lazy load
      val paths = scanPaths(agg())
      assert(paths.exists(_.contains("graft_mvs")), paths.mkString(";"))
      // ...and values still match the direct scan
      val direct = spark.read.parquet(src).groupBy(col("o_orderstatus")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(agg().collect().map(r => r.getString(0) -> r.getLong(1)).toMap == direct)
      // the MV's own temp view replays on the first SQL statement
      assert(spark.sql("SELECT * FROM mvp_mv").collect().nonEmpty)
      // --- DROP persists: a second restart must NOT resurrect the MV ---
      spark.sql("DROP MATERIALIZED VIEW mvp_mv")
      ops.Ddl.resetForTest(); graft.plans.MvCatalog.clear()
      val after = scanPaths(agg())
      assert(!after.exists(_.contains("graft_mvs")), after.mkString(";"))
      spark.sql("DROP TABLE mvp_src")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest(); graft.plans.MvCatalog.clear()
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("catalog refuses a stale overwrite after another process wrote the file") {
    val tmp = java.nio.file.Files.createTempFile("graft_cat_conc", ".json")
    java.nio.file.Files.delete(tmp)
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = tmp.toString
    try {
      ops.Ddl.resetForTest()
      spark.sql(s"CREATE TABLE conc_t MAPPED BY '${sf("sf0.001")}/region.parquet' " +
        "KEYS (r_regionkey)")
      // simulate a concurrent JVM having written a newer catalog version
      val txt = java.nio.file.Files.readString(tmp)
      java.nio.file.Files.writeString(tmp,
        txt.replaceFirst(""""seq"\s*:\s*\d+""", "\"seq\" : 99"))
      val e = intercept[IllegalStateException] {
        ops.Ddl.execute(spark, "ALTER TABLE conc_t ADD COLUMN one AS 1")
      }
      assert(e.getMessage.contains("another process"), e.getMessage)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
      java.nio.file.Files.deleteIfExists(tmp)
      spark.catalog.dropTempView("conc_t")
    }
  }

  test("CREATE INDEX rejects NULL and duplicate keys in the source") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_guard").toString
    Seq((Option(1L), "a", 5L), (Option.empty[Long], "b", 6L))
      .toDF("k", "s", "v").write.parquet(s"$dir/nulls.parquet")
    Seq((1L, "a", 5L), (1L, "b", 6L))
      .toDF("k", "s", "v").write.parquet(s"$dir/dups.parquet")
    for ((f, word) <- Seq(("nulls", "NULL"), ("dups", "not unique"))) {
      if (ops.Ddl.lookup("ig_t").isDefined) ops.Ddl.execute(spark, "DROP TABLE ig_t")
      ops.Ddl.execute(spark,
        s"CREATE TABLE ig_t MAPPED BY '$dir/$f.parquet' KEYS (k)")
      val e = intercept[IllegalArgumentException] {
        ops.Ddl.execute(spark, "CREATE INDEX ig_i ON ig_t (v)")
      }
      assert(e.getMessage.contains(word), e.getMessage)
      assert(graft.plans.IndexCatalog.named("ig_i").isEmpty)
      // a rejected CREATE must not surface in SHOW INDEXES either
      assert(!ops.Ddl.execute(spark, "SHOW INDEXES").collect()
        .exists(_.getString(0) == "ig_i"))
      ops.Ddl.execute(spark, "DROP TABLE ig_t")
    }
  }

  test("visibility labels: DNF algebra, restart replay, guarded drops") {
    if (ops.Ddl.lookup("vl_t").isDefined) ops.Ddl.execute(spark, "DROP TABLE vl_t")
    ops.Ddl.execute(spark,
      s"CREATE TABLE vl_t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
    ops.Ddl.execute(spark, "ALTER TABLE vl_t ADD COLUMN vis AS " +
      "CASE WHEN n_regionkey = 0 THEN 'pii&emea' WHEN n_regionkey = 1 THEN 'pii' " +
      "WHEN n_regionkey = 2 THEN 'pub|pii' ELSE '' END")
    ops.Ddl.execute(spark, "ALTER TABLE vl_t VISIBILITY COLUMN vis")
    try {
      def regions(): Set[Int] = spark.table("vl_t")
        .select(col("n_regionkey")).distinct().collect().map(_.getInt(0)).toSet
      // no auths: only unlabeled rows
      ops.Ddl.execute(spark, "SET VISIBILITY NONE")
      assert(regions() == Set(3, 4))
      // {pii}: single atom and the OR alternative pass; the AND term fails
      ops.Ddl.execute(spark, "SET VISIBILITY (pii)")
      assert(regions() == Set(1, 2, 3, 4))
      // {pii, emea}: the AND term now passes too
      ops.Ddl.execute(spark, "SET VISIBILITY (pii, emea)")
      assert(regions() == Set(0, 1, 2, 3, 4))
      // {pub}: only the OR alternative and public rows
      ops.Ddl.execute(spark, "SET VISIBILITY ('pub')")
      assert(regions() == Set(2, 3, 4))
      // the visibility column itself cannot be dropped
      intercept[IllegalArgumentException] {
        ops.Ddl.execute(spark, "ALTER TABLE vl_t DROP COLUMN vis")
      }
      // qualified tables route through the self-contained SQL body
      // (rebuildSql's viscol branch) — same algebra must hold
      if (ops.Ddl.lookup("visdb.t").isDefined)
        ops.Ddl.execute(spark, "DROP TABLE visdb.t")
      ops.Ddl.execute(spark,
        s"CREATE TABLE visdb.t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
      ops.Ddl.execute(spark, "ALTER TABLE visdb.t ADD COLUMN vis AS " +
        "CASE WHEN n_regionkey = 0 THEN 'pii&emea' WHEN n_regionkey = 1 THEN 'pii' ELSE '' END")
      ops.Ddl.execute(spark, "ALTER TABLE visdb.t VISIBILITY COLUMN vis")
      ops.Ddl.execute(spark, "SET VISIBILITY (pii)")
      def qRegions(): Set[Int] = spark.table("visdb.t")
        .select(col("n_regionkey")).distinct().collect().map(_.getInt(0)).toSet
      assert(qRegions() == Set(1, 2, 3, 4))
      ops.Ddl.execute(spark, "SET VISIBILITY (pii, emea)")
      assert(qRegions() == Set(0, 1, 2, 3, 4))
      ops.Ddl.execute(spark, "DROP TABLE visdb.t")
      // restart: the viscol mutation is persisted, the auth set is NOT —
      // a fresh process starts with no authorizations (secure default)
      ops.Ddl.resetForTest()
      spark.catalog.dropTempView("vl_t")
      ops.Ddl.execute(spark, "DESCRIBE vl_t") // forces reload + view replay
      assert(regions() == Set(3, 4))
    } finally {
      ops.Ddl.execute(spark, "SET VISIBILITY NONE")
      ops.Ddl.execute(spark, "DROP TABLE vl_t")
    }
  }

  test("SQL VERSION AS OF on keyed tables replays log prefixes; refusals are loud") {
    if (ops.Ddl.lookup("ttq_t").isDefined) ops.Ddl.execute(spark, "DROP TABLE ttq_t")
    ops.Ddl.execute(spark,
      s"CREATE TABLE ttq_t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
    ops.Ddl.execute(spark, "INSERT INTO ttq_t VALUES (97, 'v', 9)")
    ops.Ddl.execute(spark, "DELETE FROM ttq_t WHERE n_nationkey = 97")
    def cnt(suffix: String): Long =
      spark.sql(s"SELECT count(*) FROM graft.ttq_t $suffix").head().getLong(0)
    val base = cnt("VERSION AS OF 0")
    assert(cnt("VERSION AS OF 1") == base + 1)
    assert(cnt("VERSION AS OF 2") == base)
    assert(cnt("") == base)
    // works inside joins/subqueries too (the expansion is a plain subplan)
    assert(spark.sql(
      """SELECT count(*) FROM graft.ttq_t VERSION AS OF 1 a
        |JOIN graft.ttq_t VERSION AS OF 0 b ON a.n_nationkey = b.n_nationkey
        |""".stripMargin).head().getLong(0) == base)
    val oob = intercept[Exception] {
      spark.sql("SELECT * FROM graft.ttq_t VERSION AS OF 9").collect() }
    assert(oob.getMessage.contains("out of range"), oob.getMessage)
    // TIMESTAMP AS OF resolves through the mutation log's commit stamps
    // (SHOW VERSIONS column 4) by the kv prefix rule
    val clocks = ops.Ddl.execute(spark, "SHOW VERSIONS ttq_t").collect()
      .map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(clocks.values.forall(_ > 0L)) // every entry stamped
    assert(cnt(s"TIMESTAMP AS OF '${clocks(1)}'") == base + 1)
    assert(cnt(s"TIMESTAMP AS OF '${clocks(2)}'") == base)
    // between two commits resolves to the earlier one (prefix rule)
    assert(cnt(s"TIMESTAMP AS OF '${clocks(2) - 1}'") == base + 1)
    assert(cnt(s"TIMESTAMP AS OF '${clocks(0)}'") == base)
    // a TYPED timestamp literal carries catalyst MICROS — must resolve to
    // the same boundary, not a micros-as-millis instant ~1000x away
    val t1Str = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(clocks(1)))
    assert(cnt(s"TIMESTAMP AS OF TIMESTAMP '$t1Str'") == base + 1)
    // a pre-create instant names a state that never existed — refuse
    val ts = intercept[Exception] {
      spark.sql("SELECT * FROM graft.ttq_t TIMESTAMP AS OF " +
        "'2020-01-01 00:00:00'").collect() }
    assert(ts.getMessage.contains("before"), ts.getMessage)
    ops.Ddl.execute(spark, "DROP TABLE ttq_t")
  }

  test("changefeed labels ops and keeps after-image NULL on nulling updates") {
    if (ops.Ddl.lookup("cf_t").isDefined) ops.Ddl.execute(spark, "DROP TABLE cf_t")
    ops.Ddl.execute(spark,
      s"CREATE TABLE cf_t MAPPED BY '${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
    ops.Ddl.execute(spark, "UPDATE cf_t SET n_name = NULL WHERE n_nationkey = 1")
    ops.Ddl.execute(spark, "DELETE FROM cf_t WHERE n_nationkey = 2")
    ops.Ddl.execute(spark, "INSERT INTO cf_t VALUES (95, 'new', 9)")
    val cf = ops.Ddl.changefeed(spark, "cf_t", 0, 3).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .sortBy(t => (t._1, t._2))
    // update to NULL must NOT fall back to the before-image value
    assert(cf.toSeq == Seq(("delete", 2, ops.Ddl.asOf(spark, "cf_t", 0)
        .filter(col("n_nationkey") === 2).collect().head.getString(1)),
      ("insert", 95, "new"), ("update", 1, null)))
    // identical endpoints diff to nothing; bad version range is rejected
    assert(ops.Ddl.changefeed(spark, "cf_t", 3, 3).isEmpty)
    intercept[IllegalArgumentException] {
      ops.Ddl.changefeed(spark, "cf_t", 0, 9)
    }
    ops.Ddl.execute(spark, "DROP TABLE cf_t")
  }

  test("kv MATERIALIZED VIEW: version staleness, O(delta) refresh, pinned reads never fold") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_mv").toString
    spark.sql("DROP TABLE IF EXISTS graft.ddlspec.mvt")
    spark.sql(s"CREATE TABLE graft.ddlspec.mvt (g STRING, v DOUBLE) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    Seq(("a", 1.5), ("b", 2.5), ("a", 3.0)).toDF("g", "v")
      .write.format("graft.sources.GraftKvSink").option("path", dir)
      .option("epoch", "0").mode("overwrite").save()
    ops.Ddl.execute(spark,
      "CREATE MATERIALIZED VIEW mvt_roll ON graft.ddlspec.mvt " +
        "GROUP BY (g) SUMS (v)")
    try {
      def q() = spark.table("graft.ddlspec.mvt").groupBy(col("g"))
        .agg(count(lit(1)).as("cnt"), sum(graft.ops.dec(col("v"))).as("t"))
      def plan() = q().queryExecution.optimizedPlan.toString
      def res() = q().collect()
        .map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).doubleValue)).toSet
      assert(!plan().contains("ddlspec.mvt"), plan()) // rewritten to snapshot
      assert(res() == Set(("a", 2L, 4.5), ("b", 1L, 2.5)))
      // VERSION AS OF never folds a snapshot of a different state
      assert(spark.sql(
        "SELECT g, count(*) FROM graft.ddlspec.mvt VERSION AS OF 0 GROUP BY g")
        .queryExecution.optimizedPlan.toString.contains("ddlspec.mvt"))
      // append -> stale -> stands down; REFRESH is O(delta): the snapshot
      // parquet gains part files without losing the originals
      Seq(("b", 4.0)).toDF("g", "v")
        .write.format("graft.sources.GraftKvSink").option("path", dir)
        .option("epoch", "1").mode("append").save()
      assert(plan().contains("ddlspec.mvt"))
      val snap = graft.plans.MvCatalog.named("mvt_roll").get.snapshotPath
      def parts(): Set[String] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(java.nio.file.Paths.get(snap))
          .iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
      }
      val before = parts()
      ops.Ddl.execute(spark, "REFRESH MATERIALIZED VIEW mvt_roll")
      assert(before.subsetOf(parts()) && parts().size > before.size,
        s"expected delta partials appended: $before -> ${parts()}")
      assert(!plan().contains("ddlspec.mvt"))
      assert(res() == Set(("a", 2L, 4.5), ("b", 2L, 6.5)))
      // row-level DML -> refresh maintains incrementally from the
      // manifest diff (signed partials APPENDED — the old parquet parts
      // survive), results reflect the delete exactly
      spark.sql("DELETE FROM graft.ddlspec.mvt WHERE v = 3.0")
      assert(plan().contains("ddlspec.mvt")) // stale again
      val preDml = parts()
      ops.Ddl.execute(spark, "REFRESH MATERIALIZED VIEW mvt_roll")
      assert(preDml.subsetOf(parts()) && parts().size > preDml.size,
        s"expected IVM-appended signed partials: $preDml -> ${parts()}")
      assert(!plan().contains("ddlspec.mvt"))
      assert(res() == Set(("a", 1L, 1.5), ("b", 2L, 6.5)))
    } finally {
      ops.Ddl.execute(spark, "DROP MATERIALIZED VIEW mvt_roll")
      spark.sql("DROP TABLE graft.ddlspec.mvt")
    }
  }

  test("epochs 'true' tables: plain SQL writes are epoch-stamped, O(delta) MV refresh fires") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_epopt").toString
    spark.sql("DROP TABLE IF EXISTS graft.ddlspec.epo")
    spark.sql(s"CREATE TABLE graft.ddlspec.epo (g STRING, v DOUBLE) " +
      s"USING graft_kv OPTIONS (path '$dir', epochs 'true')")
    // pure SQL: OVERWRITE bootstraps epoch 0, INSERTs take 1, 2
    spark.sql("INSERT OVERWRITE graft.ddlspec.epo VALUES ('a', 1.0)")
    spark.sql("INSERT INTO graft.ddlspec.epo VALUES ('b', 2.0)")
    spark.sql("INSERT INTO graft.ddlspec.epo VALUES ('a', 3.0)")
    val hist = spark.sql("DESCRIBE HISTORY graft.ddlspec.epo").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist == Seq((0L, "append"), (1L, "append"), (2L, "append")), hist)
    // VERSION AS OF works on a SQL-only table now
    assert(spark.sql("SELECT g FROM graft.ddlspec.epo VERSION AS OF 1")
      .collect().map(_.getString(0)).toSet == Set("a", "b"))
    // and so does O(delta) MV maintenance
    ops.Ddl.execute(spark,
      "CREATE MATERIALIZED VIEW epo_roll ON graft.ddlspec.epo " +
        "GROUP BY (g) SUMS (v)")
    try {
      spark.sql("INSERT INTO graft.ddlspec.epo VALUES ('b', 4.0)")
      val snap = graft.plans.MvCatalog.named("epo_roll").get.snapshotPath
      def parts(): Set[String] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(java.nio.file.Paths.get(snap))
          .iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
      }
      val before = parts()
      ops.Ddl.execute(spark, "REFRESH MATERIALIZED VIEW epo_roll")
      assert(before.subsetOf(parts()) && parts().size > before.size,
        s"SQL-appended epochs table should delta-refresh: $before -> ${parts()}")
      assert(spark.table("graft.ddlspec.epo").groupBy(col("g"))
        .agg(sum(graft.ops.dec(col("v"))).as("t")).collect()
        .map(r => (r.getString(0), r.getDecimal(1).doubleValue)).toSet ==
        Set(("a", 4.0), ("b", 6.0)))
    } finally {
      ops.Ddl.execute(spark, "DROP MATERIALIZED VIEW epo_roll")
      spark.sql("DROP TABLE graft.ddlspec.epo")
    }
  }

  test("kv MV REFRESH under DML is incremental view maintenance, not a rebuild") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_ivm").toString
    spark.sql("DROP TABLE IF EXISTS graft.ddlspec.ivt")
    spark.sql(s"CREATE TABLE graft.ddlspec.ivt (g STRING, v DOUBLE) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    Seq(("a", 1.0), ("b", 2.0), ("a", 3.0), ("c", 5.0)).toDF("g", "v")
      .write.format("graft.sources.GraftKvSink").option("path", dir)
      .option("epoch", "0").mode("overwrite").save()
    ops.Ddl.execute(spark,
      "CREATE MATERIALIZED VIEW ivt_mv ON graft.ddlspec.ivt " +
        "GROUP BY (g) SUMS (v)")
    assert(spark.table("ivt_mv").count() == 3) // one partial row per group
    // a CoW UPDATE mutates history; REFRESH must maintain the MV from the
    // manifest diff (signed partials APPENDED), not rebuild the table
    spark.sql("UPDATE graft.ddlspec.ivt SET v = 10.0 WHERE g = 'a' AND v = 1.0")
    ops.Ddl.execute(spark, "REFRESH MATERIALIZED VIEW ivt_mv")
    val snapRows = spark.table("ivt_mv").count()
    assert(snapRows > 3, s"expected appended signed partials, got $snapRows " +
      "rows — a full rebuild would hold exactly one row per group")
    // the fold is exact: +10 insert partial and -1 delete partial net
    val folded = spark.table("ivt_mv")
      .groupBy("g").agg(org.apache.spark.sql.functions.sum("cnt").as("c"),
        org.apache.spark.sql.functions.sum("sum_v").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).doubleValue())).toSet
    assert(folded == Set(("a", 2L, 13.0), ("b", 1L, 2.0), ("c", 1L, 5.0)),
      folded)
    // a group-emptying DELETE must make the group VANISH: the zero-net
    // detection re-folds the snapshot (O(MV)) instead of leaving a
    // zero-count row behind
    spark.sql("DELETE FROM graft.ddlspec.ivt WHERE g = 'c'")
    ops.Ddl.execute(spark, "REFRESH MATERIALIZED VIEW ivt_mv")
    assert(spark.table("ivt_mv").where("g = 'c'").count() == 0)
    assert(spark.table("ivt_mv").count() == 2) // re-folded: one row per group
    val folded2 = spark.table("ivt_mv")
      .select("g", "cnt", "sum_v").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).doubleValue())).toSet
    assert(folded2 == Set(("a", 2L, 13.0), ("b", 1L, 2.0)), folded2)
    ops.Ddl.execute(spark, "DROP MATERIALIZED VIEW ivt_mv")
    spark.sql("DROP TABLE IF EXISTS graft.ddlspec.ivt")
  }

  test("kv MV on an epoch-less (SQL-INSERT) table: no-op refresh is harmless") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_mvnoop").toString
    spark.sql("DROP TABLE IF EXISTS graft.ddlspec.mvn")
    spark.sql(s"CREATE TABLE graft.ddlspec.mvn (g STRING, v DOUBLE) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    spark.sql("INSERT INTO graft.ddlspec.mvn VALUES ('a', 1.0), ('b', 2.0)")
    ops.Ddl.execute(spark,
      "CREATE MATERIALIZED VIEW mvn_roll ON graft.ddlspec.mvn " +
        "GROUP BY (g) SUMS (v)")
    try {
      def res() = spark.table("graft.ddlspec.mvn").groupBy(col("g"))
        .agg(count(lit(1)).as("cnt"), sum(graft.ops.dec(col("v"))).as("t"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(res() == Set(("a", 1L), ("b", 1L)))
      // a REFRESH with no interim commit must NOT rebuild: with the MV
      // still fresh, the rebuild's own aggregate is the rewritable shape
      // and would be redirected to read the snapshot mid-Overwrite —
      // destroying it (and any rebuild here is O(table) waste besides)
      ops.Ddl.execute(spark, "REFRESH MATERIALIZED VIEW mvn_roll")
      assert(res() == Set(("a", 1L), ("b", 1L)))
      assert(spark.table("mvn_roll").count() == 2L) // the MV name still reads
      // epoch-LESS appends (plain SQL INSERT) can never delta-refresh —
      // the full rebuild path must still produce correct results
      spark.sql("INSERT INTO graft.ddlspec.mvn VALUES ('a', 3.0)")
      ops.Ddl.execute(spark, "REFRESH MATERIALIZED VIEW mvn_roll")
      assert(res() == Set(("a", 2L), ("b", 1L)))
      assert(spark.table("mvn_roll").count() == 2L) // view re-registered
    } finally {
      ops.Ddl.execute(spark, "DROP MATERIALIZED VIEW mvn_roll")
      spark.sql("DROP TABLE graft.ddlspec.mvn")
    }
  }

  test("kv CREATE INDEX: KEY clause required, version-pinned reads never rewrite") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_ix").toString
    spark.sql("DROP TABLE IF EXISTS graft.ddlspec.ixt")
    spark.sql(s"CREATE TABLE graft.ddlspec.ixt (id BIGINT, v BIGINT) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    Seq((1L, 10L), (2L, 20L), (3L, 10L)).toDF("id", "v")
      .write.format("graft.sources.GraftKvSink").option("path", dir)
      .option("epoch", "0").mode("overwrite").save()
    Seq((4L, 30L)).toDF("id", "v")
      .write.format("graft.sources.GraftKvSink").option("path", dir)
      .option("epoch", "1").mode("append").save()
    // kv tables declare no unique key: the KEY clause is mandatory
    val noKey = intercept[IllegalArgumentException] {
      ops.Ddl.execute(spark, "CREATE INDEX ixt_v ON graft.ddlspec.ixt (v)") }
    assert(noKey.getMessage.contains("KEY"), noKey.getMessage)
    ops.Ddl.execute(spark,
      "CREATE INDEX ixt_v ON graft.ddlspec.ixt (v) KEY (id)")
    try {
      def probe(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("v") === 10L).queryExecution.optimizedPlan.toString
      // present-state read rewrites; the answer is unchanged
      assert(probe(spark.table("graft.ddlspec.ixt")).contains("LeftSemi"))
      assert(spark.table("graft.ddlspec.ixt").filter(col("v") === 10L)
        .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
      // a VERSION AS OF read sees a state the index does not describe —
      // the rewrite must stand down even though the index is FRESH
      assert(!probe(spark.sql(
        "SELECT * FROM graft.ddlspec.ixt VERSION AS OF 0")).contains("LeftSemi"))
      // an append bumps the manifest version: stale, stands down, SHOW
      // INDEXES flags it; REFRESH re-pins and the rewrite returns
      Seq((5L, 10L)).toDF("id", "v")
        .write.format("graft.sources.GraftKvSink").option("path", dir)
        .option("epoch", "2").mode("append").save()
      assert(!probe(spark.table("graft.ddlspec.ixt")).contains("LeftSemi"))
      val stale = ops.Ddl.execute(spark, "SHOW INDEXES").collect()
        .find(_.getString(0) == "ixt_v").get.getBoolean(3)
      assert(stale)
      // a pure-append history refreshes O(DELTA): only the new epoch's
      // files are indexed and APPENDED — the original index parts survive
      val ixPath = graft.plans.IndexCatalog.named("ixt_v").get.indexPath
      def ixParts(): Set[String] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(java.nio.file.Paths.get(ixPath))
          .iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
      }
      val before = ixParts()
      ops.Ddl.execute(spark, "REFRESH INDEX ixt_v")
      assert(before.subsetOf(ixParts()) && ixParts().size > before.size,
        s"expected delta append, got full rewrite: $before -> ${ixParts()}")
      assert(probe(spark.table("graft.ddlspec.ixt")).contains("LeftSemi"))
      assert(spark.table("graft.ddlspec.ixt").filter(col("v") === 10L)
        .collect().map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
      // row-level DML mutates rows the index already has: the next
      // REFRESH must REBUILD (old index parts replaced), and results
      // reflect the delete
      spark.sql("DELETE FROM graft.ddlspec.ixt WHERE id = 3")
      val preDml = ixParts()
      ops.Ddl.execute(spark, "REFRESH INDEX ixt_v")
      assert(ixParts().intersect(preDml).isEmpty,
        s"expected full rebuild after DML: $preDml -> ${ixParts()}")
      assert(probe(spark.table("graft.ddlspec.ixt")).contains("LeftSemi"))
      assert(spark.table("graft.ddlspec.ixt").filter(col("v") === 10L)
        .collect().map(_.getLong(0)).toSet == Set(1L, 5L))
    } finally {
      ops.Ddl.execute(spark, "DROP INDEX ixt_v")
      spark.sql("DROP TABLE graft.ddlspec.ixt")
    }
  }

  test("writable branches: isolation, head reads, guards, fast-forward, drop") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_br").toString
    spark.sql("DROP TABLE IF EXISTS graft.brspec.t")
    spark.sql("CREATE TABLE graft.brspec.t (id BIGINT, v DOUBLE) " +
      s"USING graft_kv OPTIONS (path '$dir', epochs 'true')")
    spark.sql("INSERT INTO graft.brspec.t SELECT id, CAST(id AS DOUBLE) " +
      "FROM range(10)")
    ops.Ddl.execute(spark, "ALTER TABLE graft.brspec.t CREATE BRANCH dev")
    // branch dir exists, parent refs pin the fork
    val bd = GraftKvSink.branchDirOf(dir, "dev")
    assert(java.nio.file.Files.exists(GraftKvSink.manifestPath(bd)))
    assert(GraftKvSink.refKind(dir, "dev").contains("branch"))
    // writes to the branch; parent untouched; head reads see them
    spark.sql("INSERT INTO graft.brspec.t.branch_dev SELECT id, " +
      "CAST(id AS DOUBLE) FROM range(10, 15)")
    assert(spark.table("graft.brspec.t").count() == 10L)
    assert(spark.sql("SELECT count(*) FROM graft.brspec.t VERSION AS OF 'dev'")
      .head.getLong(0) == 15L)
    // CoW UPDATE on the branch rewrites a FORKED (foreign) file locally
    spark.sql("UPDATE graft.brspec.t.branch_dev SET v = -1 WHERE id = 3")
    assert(spark.table("graft.brspec.t").where("v = -1").count() == 0L)
    assert(spark.sql(
      "SELECT v FROM graft.brspec.t VERSION AS OF 'dev' WHERE id = 3")
      .head.getDouble(0) == -1.0)
    // guards: DROP TAG refuses a branch; compaction clamps below the fork
    val e1 = intercept[Exception] {
      ops.Ddl.execute(spark, "ALTER TABLE graft.brspec.t DROP TAG dev") }
    assert(e1.getMessage.contains("DROP BRANCH"), e1.getMessage)
    GraftKvSink.compact(dir, 99L) // must clamp below fork, not rename forked files
    assert(spark.sql("SELECT count(*) FROM graft.brspec.t VERSION AS OF 'dev'")
      .head.getLong(0) == 15L, "branch must survive parent compaction")
    // parent advance forbids fast-forward
    spark.sql("INSERT INTO graft.brspec.t SELECT id, CAST(id AS DOUBLE) " +
      "FROM range(100, 102)")
    val e2 = intercept[Exception] {
      ops.Ddl.execute(spark, "ALTER TABLE graft.brspec.t FAST FORWARD TO 'dev'") }
    assert(e2.getMessage.contains("advanced past"), e2.getMessage)
    // a fresh branch off the advanced head fast-forwards cleanly
    ops.Ddl.execute(spark, "ALTER TABLE graft.brspec.t CREATE BRANCH dev2")
    spark.sql("INSERT INTO graft.brspec.t.branch_dev2 SELECT id, " +
      "CAST(id AS DOUBLE) FROM range(200, 203)")
    // a branch name CONTAINING A DIGIT still reads the branch HEAD (the
    // numeric-looking-name regression: 'dev2' must not fall through to
    // the fork-boundary tag route)
    assert(spark.sql(
      "SELECT count(*) FROM graft.brspec.t VERSION AS OF 'dev2'")
      .head.getLong(0) == 15L)
    // the branch can self-localize (OPTIMIZE folds foreign refs into a
    // local file) and STILL fast-forward — ancestry is proven by the
    // fork-time state signature, not the reference set
    graft.sources.GraftKvSink.compact(
      graft.sources.GraftKvSink.branchDirOf(dir, "dev2"), 99L)
    assert(spark.sql(
      "SELECT count(*) FROM graft.brspec.t VERSION AS OF 'dev2'")
      .head.getLong(0) == 15L)
    // ...but publishing its imported fold boundary would strand the
    // SIBLING ref 'dev' (pinned at epoch 0): refuse until it drops
    val e3 = intercept[Exception] {
      ops.Ddl.execute(spark, "ALTER TABLE graft.brspec.t FAST FORWARD TO 'dev2'") }
    assert(e3.getMessage.contains("pins"), e3.getMessage)
    ops.Ddl.execute(spark, "ALTER TABLE graft.brspec.t DROP BRANCH dev")
    assert(GraftKvSink.refKind(dir, "dev").isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(bd)))
    // pre-publish parent states time-travel UNTIL the publish of a
    // branch that folded its whole history (the compaction above raised
    // the fold boundary — published with it, below-fence reads refuse)
    assert(spark.sql("SELECT count(*) FROM graft.brspec.t VERSION AS OF 0")
      .head.getLong(0) == 10L)
    ops.Ddl.execute(spark, "ALTER TABLE graft.brspec.t FAST FORWARD TO 'dev2'")
    assert(spark.table("graft.brspec.t").count() == 15L)
    assert(spark.table("graft.brspec.t").where("id >= 200").count() == 3L)
    assert(GraftKvSink.refKind(dir, "dev2").isEmpty)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(GraftKvSink.branchDirOf(dir, "dev2"))))
    assertThrows[Exception] { // the folded range is honestly fenced now
      spark.sql("SELECT count(*) FROM graft.brspec.t VERSION AS OF 0")
        .collect()
    }
    spark.sql("DROP TABLE graft.brspec.t")
  }

  test("maintenance statements address a branch head directly") {
    import graft.ops.Ddl
    val dir = java.nio.file.Files.createTempDirectory("graft_brmnt").toString
    spark.sql("DROP TABLE IF EXISTS graft.brm.t")
    spark.sql("CREATE TABLE graft.brm.t (id BIGINT) USING graft_kv " +
      s"OPTIONS (path '$dir', epochs 'true')")
    spark.sql("INSERT INTO graft.brm.t SELECT id FROM range(4)")
    Ddl.execute(spark, "ALTER TABLE graft.brm.t CREATE BRANCH dev")
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO graft.brm.t.branch_dev " +
        s"SELECT id + ${10 * (i + 1)} FROM range(2)")
    }
    // DESCRIBE HISTORY on the branch lineage: fork epoch + 3 branch
    // appends (the WAP audit's "what landed on this branch?" question)
    val hist = Ddl.execute(spark,
      "DESCRIBE HISTORY graft.brm.t.branch_dev").collect()
    assert(hist.count(_.getString(1) == "append") == 4, hist.mkString("\n"))
    // OPTIMIZE the branch head: self-localizes (folds foreign fork bytes
    // + branch epochs into local files) — the WAP-with-MOR prerequisite
    Ddl.execute(spark, "OPTIMIZE graft.brm.t.branch_dev")
    val bd = graft.sources.GraftKvSink.branchDirOf(dir, "dev")
    val bm = graft.sources.GraftKvSink.readManifest(
      graft.sources.GraftKvSink.manifestPath(bd))
    assert(bm.files.size == 1, bm.files)
    assert(spark.table("graft.brm.t.branch_dev").count() == 10)
    // parent untouched by branch maintenance
    assert(spark.table("graft.brm.t").count() == 4)
    // VACUUM the branch head (branch-scoped retention), then publish —
    // the fork signature survives self-localization
    Ddl.execute(spark, "VACUUM graft.brm.t.branch_dev")
    Ddl.execute(spark, "ALTER TABLE graft.brm.t FAST FORWARD TO 'dev'")
    assert(spark.table("graft.brm.t").count() == 10)
    // a dead/unknown branch address refuses like an unknown table
    intercept[Exception] {
      Ddl.execute(spark, "OPTIMIZE graft.brm.t.branch_nope")
    }
    spark.sql("DROP TABLE graft.brm.t")
  }

  test("keyed RENAME COLUMN replays through the mutation log") {
    import graft.ops.Ddl
    Ddl.execute(spark, "DROP TABLE IF EXISTS nren_t")
    Ddl.create(spark, s"CREATE TABLE nren_t MAPPED BY " +
      s"'${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
    Ddl.execute(spark, "ALTER TABLE nren_t RENAME COLUMN n_name TO label")
    val cols = spark.table("nren_t").columns.toSeq
    assert(cols.contains("label") && !cols.contains("n_name"), cols)
    // the renamed column carries the ORIGINAL data, and DML composes
    // across the rename in the replayed log
    assert(spark.sql("SELECT label FROM nren_t WHERE n_nationkey = 3")
      .head.getString(0).nonEmpty)
    Ddl.execute(spark, "UPDATE nren_t SET label = 'X' WHERE n_nationkey = 3")
    assert(spark.sql("SELECT label FROM nren_t WHERE n_nationkey = 3")
      .head.getString(0) == "X")
    // INSERT after the rename aligns to the CURRENT schema positionally
    Ddl.execute(spark,
      "INSERT INTO nren_t VALUES (97, 'zzz_new', 1)")
    assert(spark.sql("SELECT label FROM nren_t WHERE n_nationkey = 97")
      .head.getString(0) == "zzz_new")
    // refusals: key column, taken name, unknown column
    intercept[Exception] {
      Ddl.execute(spark, "ALTER TABLE nren_t RENAME COLUMN n_nationkey TO k")
    }
    intercept[Exception] {
      Ddl.execute(spark, "ALTER TABLE nren_t RENAME COLUMN label TO n_regionkey")
    }
    intercept[Exception] {
      Ddl.execute(spark, "ALTER TABLE nren_t RENAME COLUMN nope TO x")
    }
    Ddl.execute(spark, "DROP TABLE nren_t")
  }

  test("keyed ALTER COLUMN TYPE widens through the mutation log") {
    import graft.ops.Ddl
    Ddl.execute(spark, "DROP TABLE IF EXISTS nwid_t")
    Ddl.create(spark, s"CREATE TABLE nwid_t MAPPED BY " +
      s"'${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
    assert(spark.table("nwid_t").schema("n_regionkey").dataType ==
      org.apache.spark.sql.types.IntegerType)
    Ddl.execute(spark, "ALTER TABLE nwid_t ALTER COLUMN n_regionkey TYPE BIGINT")
    val sch = spark.table("nwid_t").schema
    assert(sch("n_regionkey").dataType ==
      org.apache.spark.sql.types.LongType, sch.simpleString)
    // committed values re-read EXACTLY under the wide type; position keeps
    assert(sch.fieldIndex("n_regionkey") == 2)
    assert(spark.sql("SELECT n_regionkey FROM nwid_t WHERE n_nationkey = 3")
      .head.getLong(0) >= 0L)
    // DML and INSERT compose across the widen (values past INT range land)
    Ddl.execute(spark,
      "INSERT INTO nwid_t VALUES (98, 'widetest', 4000000001)")
    assert(spark.sql("SELECT n_regionkey FROM nwid_t WHERE n_nationkey = 98")
      .head.getLong(0) == 4000000001L)
    Ddl.execute(spark,
      "UPDATE nwid_t SET n_regionkey = 4000000002 WHERE n_nationkey = 98")
    assert(spark.sql("SELECT n_regionkey FROM nwid_t WHERE n_nationkey = 98")
      .head.getLong(0) == 4000000002L)
    // refusals: key column, narrowing (not an up-cast), unknown column
    intercept[Exception] { Ddl.execute(spark,
      "ALTER TABLE nwid_t ALTER COLUMN n_nationkey TYPE BIGINT") }
    intercept[Exception] { Ddl.execute(spark,
      "ALTER TABLE nwid_t ALTER COLUMN n_regionkey TYPE INT") }
    intercept[Exception] { Ddl.execute(spark,
      "ALTER TABLE nwid_t ALTER COLUMN nope TYPE BIGINT") }
    Ddl.execute(spark, "DROP TABLE nwid_t")
  }

  test("keyed ALTER COLUMN TYPE survives a restart replay (qualified table)") {
    import graft.ops.Ddl
    Ddl.execute(spark, "DROP TABLE IF EXISTS nwiddb.t")
    Ddl.create(spark, s"CREATE TABLE nwiddb.t MAPPED BY " +
      s"'${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
    Ddl.execute(spark, "ALTER TABLE nwiddb.t ALTER COLUMN n_regionkey TYPE BIGINT")
    Ddl.execute(spark,
      "UPDATE nwiddb.t SET n_regionkey = 4000000007 WHERE n_nationkey = 5")
    // the qualified view body is SELF-CONTAINED SQL: re-resolving it (the
    // restart path) must replay the widen + the post-widen UPDATE
    val v = spark.table("nwiddb.t")
    assert(v.schema("n_regionkey").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(spark.sql("SELECT n_regionkey FROM nwiddb.t WHERE n_nationkey = 5")
      .head.getLong(0) == 4000000007L)
    Ddl.execute(spark, "DROP TABLE nwiddb.t")
  }

  test("keyed RENAME COLUMN survives a restart replay (qualified table)") {
    import graft.ops.Ddl
    Ddl.execute(spark, "DROP TABLE IF EXISTS nrendb.t")
    Ddl.create(spark, s"CREATE TABLE nrendb.t MAPPED BY " +
      s"'${sf("sf0.001")}/nation.parquet' KEYS (n_nationkey)")
    Ddl.execute(spark, "ALTER TABLE nrendb.t RENAME COLUMN n_name TO label")
    Ddl.execute(spark,
      "UPDATE nrendb.t SET label = 'Y' WHERE n_nationkey = 5")
    // the qualified view body is SELF-CONTAINED SQL: re-resolving it (the
    // restart path) must replay the rename + the post-rename UPDATE
    val v = spark.table("nrendb.t")
    assert(v.columns.contains("label") && !v.columns.contains("n_name"))
    assert(spark.sql("SELECT label FROM nrendb.t WHERE n_nationkey = 5")
      .head.getString(0) == "Y")
    assert(spark.table("nrendb.t").count() == 25)
    Ddl.execute(spark, "DROP TABLE nrendb.t")
  }

  /** Runs `body` against a fresh catalog file, restoring the old one; the
    * catalog's directory, stores included, is deleted afterwards. */
  private def withCatalog(prefix: String)(body: java.nio.file.Path => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = dir.resolve("graft_catalog.json").toString
    try { ops.Ddl.resetForTest(); body(dir) }
    finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
      ops.deleteTree(dir.toFile)
    }
  }

  /** A frame's schema and row multiset, comparable across reads. */
  private def state(df: org.apache.spark.sql.DataFrame) =
    (df.schema.map(f => f.name -> f.dataType.simpleString),
      df.collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|")))

  test("time travel across schema changes reads each version's columns, types and rows") {
    withCatalog("graft_tt_schema") { dir =>
      val base = dir.resolve("base").toString
      spark.range(4).selectExpr("CAST(id AS INT) AS k", "CAST(id * 2 AS INT) AS v",
        "concat('s', id) AS s").write.parquet(base)
      spark.sql(s"CREATE TABLE tts MAPPED BY '$base' KEYS (k)")
      Seq("ALTER TABLE tts ADD COLUMN c AS v * 10",
        "INSERT INTO tts VALUES (10, 1, 'a', 5)",
        "ALTER TABLE tts ADD COLUMN d DEFAULT 7",
        "INSERT INTO tts VALUES (11, 2, 'b', 6)",
        "ALTER TABLE tts RENAME COLUMN s TO s2",
        "UPDATE tts SET v = v + 100 WHERE k >= 10",
        "ALTER TABLE tts ALTER COLUMN v TYPE BIGINT",
        "INSERT INTO tts VALUES (12, 3, 'c', 8, 9)",
        "ALTER TABLE tts DROP COLUMN c",
        "UPDATE tts SET d = 0 WHERE k = 12").foreach(spark.sql)
      // the model: version -> (columns with types, rows)
      val b0 = (0 until 4).map(i => Seq(i, i * 2, s"s$i"))
      val v1 = b0.map(r => r :+ r(1).asInstanceOf[Int] * 10)
      val v2 = v1 :+ Seq(10, 1, "a", 5)
      val v3 = v2.map(_ :+ null)
      val v4 = v3 :+ Seq(11, 2, "b", 6, 7)
      val v6 = v4.map(r => if (r.head.asInstanceOf[Int] >= 10)
        r.updated(1, r(1).asInstanceOf[Int] + 100) else r)
      val v8 = v6 :+ Seq(12, 3, "c", 8, 9)
      val v9 = v8.map(r => r.patch(3, Nil, 1))
      val v10 = v9.map(r => if (r.head == 12) r.updated(3, 0) else r)
      val i3 = Seq("k" -> "int", "v" -> "int", "s" -> "string")
      val want = Seq(
        (i3, b0), (i3 :+ ("c" -> "int"), v1), (i3 :+ ("c" -> "int"), v2),
        (i3 :+ ("c" -> "int") :+ ("d" -> "int"), v3),
        (i3 :+ ("c" -> "int") :+ ("d" -> "int"), v4),
        (Seq("k" -> "int", "v" -> "int", "s2" -> "string", "c" -> "int", "d" -> "int"), v4),
        (Seq("k" -> "int", "v" -> "int", "s2" -> "string", "c" -> "int", "d" -> "int"), v6),
        (Seq("k" -> "int", "v" -> "bigint", "s2" -> "string", "c" -> "int", "d" -> "int"), v6),
        (Seq("k" -> "int", "v" -> "bigint", "s2" -> "string", "c" -> "int", "d" -> "int"), v8),
        (Seq("k" -> "int", "v" -> "bigint", "s2" -> "string", "d" -> "int"), v9),
        (Seq("k" -> "int", "v" -> "bigint", "s2" -> "string", "d" -> "int"), v10))
        .map { case (cols, rows) =>
          (cols, rows.map(_.map(String.valueOf)).sortBy(_.mkString("|"))) }
      (0 to 10).foreach { v =>
        assert(state(spark.sql(s"SELECT * FROM graft.tts VERSION AS OF $v")) == want(v),
          s"version $v")
      }
      assert(state(spark.table("tts")) == want(10))
      spark.sql("DROP TABLE tts")
    }
  }

  test("RESTORE across MOR DML and ALTER keeps every version; DML continues after it") {
    withCatalog("graft_restore_mor") { dir =>
      val base = dir.resolve("base").toString
      spark.range(5).selectExpr("CAST(id AS INT) AS k", "concat('n', id) AS n")
        .write.parquet(base)
      spark.sql(s"CREATE TABLE rst MAPPED BY '$base' KEYS (k)")
      spark.sql("INSERT INTO rst VALUES (10, 'ten')")
      spark.sql("UPDATE rst SET n = upper(n) WHERE k < 2")
      spark.sql("MERGE INTO rst t USING (SELECT 3 AS k, 'm3' AS n UNION ALL " +
        "SELECT 20, 'm20') s ON s.k = t.k WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      spark.sql("ALTER TABLE rst ADD COLUMN x AS k * 3")
      def at(v: Int) = state(spark.sql(s"SELECT * FROM graft.rst VERSION AS OF $v"))
      val before = (0 to 1).map(at)
      // back to version 1: before the UPDATE, the MERGE and the ADD COLUMN
      spark.sql("RESTORE TABLE rst TO VERSION 1")
      assert((0 to 1).map(at) == before)
      assert(state(spark.table("rst")) == before(1))
      // DML goes on from the restored state, and the dropped column's name
      // is free again
      spark.sql("DELETE FROM rst WHERE k = 4")
      spark.sql("INSERT INTO rst VALUES (30, 'thirty')")
      spark.sql("ALTER TABLE rst ADD COLUMN x AS k + 1")
      val cols = Seq("k" -> "int", "n" -> "string")
      def rows(rs: (Int, String)*) = rs.map(r => Seq(r._1.toString, r._2))
        .sortBy(_.mkString("|"))
      val v1 = rows((0, "n0"), (1, "n1"), (2, "n2"), (3, "n3"), (4, "n4"), (10, "ten"))
      val v2 = v1.filterNot(_.head == "4")
      val v3 = (v2 :+ Seq("30", "thirty")).sortBy(_.mkString("|"))
      val v4 = v3.map(r => r :+ (r.head.toInt + 1).toString)
      val want = Seq((cols, before(0)._2), (cols, v1), (cols, v2), (cols, v3),
        (cols :+ ("x" -> "int"), v4))
      def check(): Unit = {
        assert(spark.sql("SHOW VERSIONS rst").collect().map(_.getString(1)).toSeq ==
          Seq("base", "insert", "delete", "insert", "add"))
        (0 to 4).foreach(v => assert(at(v) == want(v), s"version $v"))
        assert(state(spark.table("rst")) == want(4))
      }
      check()
      // restart: the truncated log and the store both persist
      ops.Ddl.resetForTest()
      spark.catalog.dropTempView("rst")
      spark.sql("DESCRIBE rst").collect()
      check()
      spark.sql("DROP TABLE rst")
    }
  }

  test("a MAPPED BY table over an empty parquet reads its empty versions and takes DML") {
    withCatalog("graft_empty_base") { dir =>
      val base = dir.resolve("base").toString
      spark.range(0).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS n")
        .write.parquet(base)
      spark.sql(s"CREATE TABLE emp MAPPED BY '$base' KEYS (k)")
      spark.sql("DELETE FROM emp WHERE k = 1")
      spark.sql("UPDATE emp SET n = 'x' WHERE k = 1")
      spark.sql("INSERT INTO emp VALUES (1, 'a')")
      spark.sql("MERGE INTO emp t USING (SELECT 2 AS k, 'b' AS n) s ON s.k = t.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      val cols = Seq("k" -> "int", "n" -> "string")
      def at(v: Int) = state(spark.sql(s"SELECT * FROM graft.emp VERSION AS OF $v"))
      (0 to 2).foreach(v => assert(at(v) == (cols, Nil), s"version $v"))
      assert(at(3) == (cols, Seq(Seq("1", "a"))))
      assert(at(4) == (cols, Seq(Seq("1", "a"), Seq("2", "b"))))
      spark.sql("RESTORE TABLE emp TO VERSION 0")
      assert(state(spark.table("emp")) == (cols, Nil))
      spark.sql("DROP TABLE emp")
    }
  }

  test("keyed DML takes Spark's grammar: quoted keywords, subqueries, several assignments") {
    withCatalog("graft_dml_grammar") { dir =>
      val base = dir.resolve("base").toString
      spark.range(4).selectExpr("CAST(id AS INT) AS k", "concat('n', id) AS n",
        "CAST(id * 2 AS INT) AS r").write.parquet(base)
      spark.sql(s"CREATE TABLE gsp MAPPED BY '$base' KEYS (k)")
      spark.range(5).selectExpr("CAST(id AS INT) AS x").createOrReplaceTempView("gsp_src")
      Seq("UPDATE gsp SET n = 'a WHERE b' WHERE k = 1",
        "UPDATE gsp SET r = (SELECT max(x) FROM gsp_src WHERE x < 4) WHERE k = 0",
        "update gsp\n  set n = upper(n), r = r + 10\n  where k >= 2",
        "MERGE INTO gsp t USING (SELECT 2 AS k, 'm2' AS n, 7 AS r UNION ALL " +
          "SELECT 9, 'm9', 9) s ON (s.k = t.k) " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "DELETE FROM gsp",
        "INSERT INTO gsp VALUES (5, 'e', 5)").foreach(spark.sql)
      val cols = Seq("k" -> "int", "n" -> "string", "r" -> "int")
      def rows(rs: (Int, String, Int)*) =
        rs.map(r => Seq(r._1, r._2, r._3).map(String.valueOf)).sortBy(_.mkString("|"))
      val v0 = Seq((0, "n0", 0), (1, "n1", 2), (2, "n2", 4), (3, "n3", 6))
      val v1 = v0.updated(1, (1, "a WHERE b", 2))
      val v2 = v1.updated(0, (0, "n0", 3))
      val v3 = v2.take(2) ++ Seq((2, "N2", 14), (3, "N3", 16))
      val v4 = v3.updated(2, (2, "m2", 7)) :+ ((9, "m9", 9))
      val want = Seq(v0, v1, v2, v3, v4, Nil, Seq((5, "e", 5))).map(v => (cols, rows(v: _*)))
      val details = Seq(base,
        "n CASE WHEN (k = 1) THEN CAST(('a WHERE b') AS STRING) ELSE `n` END",
        "r CASE WHEN (k = 0) THEN CAST(((SELECT max(x) FROM gsp_src WHERE x < 4)) " +
          "AS INT) ELSE `r` END",
        "n, r CASE WHEN (k >= 2) THEN CAST((upper(n)) AS STRING) ELSE `n` END, " +
          "CASE WHEN (k >= 2) THEN CAST((r + 10) AS INT) ELSE `r` END",
        "s.k = t.k", "true", "")
      def check(): Unit = {
        val log = spark.sql("SHOW VERSIONS gsp").collect()
        assert(log.map(_.getString(1)).toSeq ==
          Seq("base", "update", "update", "update", "merge", "delete", "insert"))
        assert(log.map(_.getString(2)).toSeq == details)
        want.indices.foreach(v => assert(
          state(spark.sql(s"SELECT * FROM graft.gsp VERSION AS OF $v")) == want(v),
          s"version $v"))
        assert(state(spark.table("gsp")) == want.last)
      }
      check()
      ops.Ddl.resetForTest()
      spark.catalog.dropTempView("gsp")
      spark.sql("DESCRIBE gsp").collect() // re-registers the view
      check()
      spark.sql("DROP TABLE gsp")
    }
  }

  test("keyed DML runs on the store under hidden columns; a source may time-travel") {
    withCatalog("graft_dml_store") { dir =>
      val base = dir.resolve("base").toString
      spark.range(4).selectExpr("CAST(id AS INT) AS k", "CAST(id * 10 AS INT) AS a",
        "concat('b', id) AS b", "CAST(id AS INT) AS c").write.parquet(base)
      spark.sql(s"CREATE TABLE rws MAPPED BY '$base' KEYS (k)")
      // both leave hidden columns in the store: the dropped b, the INT a
      Seq("ALTER TABLE rws DROP COLUMN b",
        "ALTER TABLE rws ALTER COLUMN a TYPE BIGINT",
        "MERGE INTO rws t USING (SELECT 1 AS k, 100L AS a, 11 AS c UNION ALL " +
          "SELECT 7, 700L, 77) s ON s.k = t.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "MERGE INTO rws t USING (SELECT 8 AS k, 5 AS w) s ON s.k = t.k " +
          "WHEN NOT MATCHED THEN INSERT (k, c) VALUES (s.k, s.w)",
        "UPDATE rws SET c = c + 1 WHERE k = 0",
        "DELETE FROM rws WHERE k = 2",
        "MERGE INTO rws t USING (SELECT k, a, c FROM graft.rws VERSION AS OF 0) s " +
          "ON s.k = t.k WHEN MATCHED AND t.k = 3 THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *").foreach(spark.sql)
      def rows(rs: Seq[Any]*) = rs.map(_.map(String.valueOf)).sortBy(_.mkString("|"))
      val b0 = (0 until 4).map(i => Seq(i, i * 10, s"b$i", i))
      val v1 = b0.map(_.patch(2, Nil, 1))
      val v3 = v1.filterNot(_.head == 1) ++ Seq(Seq(1, 100, 11), Seq(7, 700, 77))
      val v4 = v3 :+ Seq(8, null, 5)
      val v5 = v4.map(r => if (r.head == 0) r.updated(2, 1) else r)
      val v6 = v5.filterNot(_.head == 2)
      val v7 = v6 :+ Seq(2, 20, 2)
      val kac = Seq("k" -> "int", "a" -> "int", "c" -> "int")
      val wide = kac.updated(1, "a" -> "bigint")
      val want = Seq(
        (Seq("k" -> "int", "a" -> "int", "b" -> "string", "c" -> "int"), rows(b0: _*)),
        (kac, rows(v1: _*)), (wide, rows(v1: _*)), (wide, rows(v3: _*)),
        (wide, rows(v4: _*)), (wide, rows(v5: _*)), (wide, rows(v6: _*)),
        (wide, rows(v7: _*)))
      def check(): Unit = {
        want.indices.foreach(v => assert(
          state(spark.sql(s"SELECT * FROM graft.rws VERSION AS OF $v")) == want(v),
          s"version $v"))
        assert(state(spark.table("rws")) == want.last)
      }
      check()
      ops.Ddl.resetForTest()
      spark.catalog.dropTempView("rws")
      spark.sql("DESCRIBE rws").collect() // re-registers the view
      check()
      spark.sql("DROP TABLE rws")
    }
  }

  test("keyed DELETE/UPDATE/MERGE route to graft by their head, whatever the spelling") {
    withCatalog("graft_dml_route") { dir =>
      val base = dir.resolve("base").toString
      spark.range(3).selectExpr("CAST(id AS INT) AS k", "concat('n', id) AS n")
        .write.parquet(base)
      spark.sql(s"CREATE TABLE rte MAPPED BY '$base' KEYS (k)")
      spark.sql("DROP TABLE IF EXISTS graft.rtens.t")
      spark.sql("CREATE TABLE graft.rtens.t (k INT, n STRING) USING graft_kv " +
        s"OPTIONS (path '${dir.resolve("kv")}')")
      spark.sql("SELECT 1 AS k, 'v' AS n").createOrReplaceTempView("rte_view")
      def stmts(t: String) = Seq(
        s"delete from $t where k = 1",
        s"\n  DELETE\n  FROM $t\n",
        s"update $t set n = 'x'",
        s"UPDATE\n\t$t\nSET n = 'x'\nWHERE k = 1",
        s"merge into $t t using rte_view s on s.k = t.k when matched then delete",
        s"MERGE\nINTO $t\nt USING rte_view s\nON s.k = t.k\nWHEN MATCHED THEN DELETE")
      stmts("rte").foreach(s => assert(ops.Ddl.intercept(s).isDefined, s))
      (stmts("graft.rtens.t") ++ stmts("rte_view"))
        .foreach(s => assert(ops.Ddl.intercept(s).isEmpty, s))
      spark.sql("DROP TABLE graft.rtens.t")
      spark.sql("DROP TABLE rte")
    }
  }

  test("the alias-less star MERGE refuses NULL source keys") {
    withCatalog("graft_merge_nullkey") { dir =>
      val base = dir.resolve("base").toString
      spark.range(3).selectExpr("CAST(id AS INT) AS k", "concat('n', id) AS n")
        .write.parquet(base)
      spark.sql(s"CREATE TABLE mnk MAPPED BY '$base' KEYS (k)")
      val before = state(spark.table("mnk"))
      val e = intercept[IllegalArgumentException] {
        spark.sql("MERGE INTO mnk USING (SELECT CAST(NULL AS INT) AS k, 'z' AS n) s " +
          "ON s.k = k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      }
      assert(e.getMessage.contains("NULL PRIMARY KEY"), e.getMessage)
      assert(state(spark.table("mnk")) == before)
      assert(spark.sql("SHOW VERSIONS mnk").count() == 1)
      spark.sql("DROP TABLE mnk")
    }
  }

  test("keyed ALTER COLUMN TYPE takes Spark's lossless up-casts; RESTORE crosses them") {
    withCatalog("graft_widen_up") { dir =>
      val base = dir.resolve("base").toString
      spark.range(3).selectExpr("CAST(id AS INT) AS k", "CAST(id + 0.1 AS FLOAT) AS f",
        "CAST(id * 3 AS INT) AS v", "date_add(DATE'2020-01-01', CAST(id AS INT)) AS d")
        .write.parquet(base)
      spark.sql(s"CREATE TABLE wup MAPPED BY '$base' KEYS (k)")
      def at(v: Int) = state(spark.sql(s"SELECT * FROM graft.wup VERSION AS OF $v"))
      val v0 = at(0)
      Seq("ALTER TABLE wup ALTER COLUMN f TYPE DOUBLE",
        "ALTER TABLE wup ALTER COLUMN v TYPE DOUBLE",
        "ALTER TABLE wup ALTER COLUMN d TYPE TIMESTAMP",
        "INSERT INTO wup VALUES (7, 0.3D, 1.5, TIMESTAMP'2021-02-03 04:05:06')",
        "UPDATE wup SET v = v + 0.25 WHERE k = 1").foreach(spark.sql)
      // positions keep; committed values re-read exactly under the wide types
      // (a FLOAT widens to the exact double of the float, not of its text)
      val want = state(spark.sql("SELECT * FROM VALUES " +
        "(0, CAST(CAST(0.1 AS FLOAT) AS DOUBLE), 0.0D, CAST(DATE'2020-01-01' AS TIMESTAMP)), " +
        "(1, CAST(CAST(1.1 AS FLOAT) AS DOUBLE), 3.25D, CAST(DATE'2020-01-02' AS TIMESTAMP)), " +
        "(2, CAST(CAST(2.1 AS FLOAT) AS DOUBLE), 6.0D, CAST(DATE'2020-01-03' AS TIMESTAMP)), " +
        "(7, 0.3D, 1.5D, TIMESTAMP'2021-02-03 04:05:06') AS t(k, f, v, d)"))
      assert(state(spark.table("wup")) == want)
      assert(at(5) == want)
      // each earlier version reads its own types
      assert(at(0)._1 == Seq("k" -> "int", "f" -> "float", "v" -> "int", "d" -> "date"))
      assert(at(1)._1 == Seq("k" -> "int", "f" -> "double", "v" -> "int", "d" -> "date"))
      assert(at(3)._1 == Seq("k" -> "int", "f" -> "double", "v" -> "double", "d" -> "timestamp"))
      assert(at(3)._2.map(r => Seq(r(0), r(2))) ==
        Seq(Seq("0", "0.0"), Seq("1", "3.0"), Seq("2", "6.0")))
      // narrowing refuses
      intercept[IllegalArgumentException] {
        spark.sql("ALTER TABLE wup ALTER COLUMN v TYPE INT")
      }
      intercept[IllegalArgumentException] {
        spark.sql("ALTER TABLE wup ALTER COLUMN d TYPE DATE")
      }
      // back to version 1: before two widens, the INSERT and the UPDATE
      val v1 = at(1)
      spark.sql("RESTORE TABLE wup TO VERSION 1")
      assert(state(spark.table("wup")) == v1)
      assert(at(0) == v0)
      // the column widens again, and DML goes on
      spark.sql("ALTER TABLE wup ALTER COLUMN v TYPE BIGINT")
      spark.sql("INSERT INTO wup VALUES (8, 8.5D, 5000000000, DATE'2022-01-01')")
      val v3 = state(spark.table("wup"))
      assert(spark.sql("SELECT v FROM wup WHERE k = 8").head.getLong(0) == 5000000000L)
      assert(spark.sql("SHOW VERSIONS wup").collect().map(_.getString(1)).toSeq ==
        Seq("base", "widen", "widen", "insert"))
      ops.Ddl.resetForTest()
      spark.catalog.dropTempView("wup")
      assert((0 to 3).map(at) == Seq(v0, v1, at(2), v3))
      spark.sql("DESCRIBE wup").collect() // registers the bare view
      assert(state(spark.table("wup")) == v3)
      spark.sql("DROP TABLE wup")
    }
  }

  test("an ALTER whose fill fails at runtime leaves the schema and the log unchanged") {
    withCatalog("graft_add_fail") { dir =>
      val base = dir.resolve("base").toString
      spark.range(3).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS s")
        .write.parquet(base)
      spark.sql(s"CREATE TABLE afail MAPPED BY '$base' KEYS (k)")
      def cur() = state(spark.sql("SELECT * FROM graft.afail"))
      val before = cur()
      intercept[Exception] {
        spark.sql("ALTER TABLE afail ADD COLUMN c AS CASE WHEN k >= 0 THEN " +
          "CAST(raise_error('boom') AS INT) ELSE 0 END")
      }
      assert(cur() == before)
      assert(ops.Ddl.lookup("afail").get.muts.isEmpty)
      // the name is free: a retry with a good expression lands
      spark.sql("ALTER TABLE afail ADD COLUMN c AS k * 2")
      assert(cur()._1.map(_._1) == Seq("k", "s", "c"))
      assert(state(spark.sql("SELECT * FROM graft.afail VERSION AS OF 0")) == before)
      spark.sql("DROP TABLE afail")
    }
  }

  test("MAPPED BY refuses column types and string values the kv store cannot hold") {
    // the store holds no TINYINT/SMALLINT/BINARY/STRUCT/MAP column, and its
    // text codec no tab, newline or carriage return in a string value: a
    // base file or a write carrying one is refused
    withCatalog("graft_codec") { dir =>
      val small = dir.resolve("small").toString
      spark.sql("SELECT 1 AS k, CAST(2 AS SMALLINT) AS s").write.parquet(small)
      intercept[Exception](spark.sql(s"CREATE TABLE codec_t MAPPED BY '$small' KEYS (k)"))
      assert(ops.Ddl.lookup("codec_t").isEmpty)
      assert(ops.Ddl.dsv2Get("__keyed.codec_t").isEmpty)
      val bad = dir.resolve("bad").toString
      spark.sql("SELECT 1 AS k, concat('a', char(9), 'b') AS s").write.parquet(bad)
      intercept[Exception](spark.sql(s"CREATE TABLE codec_t MAPPED BY '$bad' KEYS (k)"))
      assert(ops.Ddl.lookup("codec_t").isEmpty)
      assert(ops.Ddl.dsv2Get("__keyed.codec_t").isEmpty)
      val ok = dir.resolve("ok").toString
      spark.sql("SELECT 1 AS k, 'a' AS s").write.parquet(ok)
      spark.sql(s"CREATE TABLE codec_t MAPPED BY '$ok' KEYS (k)")
      val before = state(spark.table("codec_t"))
      intercept[Exception] {
        spark.sql("INSERT INTO codec_t VALUES (2, concat('x', char(10), 'y'))")
      }
      intercept[Exception] {
        spark.sql("UPDATE codec_t SET s = concat('p', char(13)) WHERE k = 1")
      }
      assert(state(spark.table("codec_t")) == before)
      assert(state(spark.sql("SELECT * FROM graft.codec_t")) == before)
      assert(spark.sql("SHOW VERSIONS codec_t").count() == 1)
      spark.sql("DROP TABLE codec_t")
    }
  }
}

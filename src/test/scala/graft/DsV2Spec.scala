package graft

import org.apache.spark.sql.functions._

/** The DSv2 connector must actually PRUNE: key predicates shrink the set of
  * planned input partitions (Astro's region-pruning analogue), and residual
  * predicates still apply above the scan. */
class DsV2Spec extends SparkSpec {

  private def ranged = spark.read.format("graft.sources.GraftRangeSource")
    .option("rows", "100000").option("slices", "16").load()

  test("key bounds prune input partitions") {
    val pruned = ranged.filter(col("k") < 10000)
    // 16 slices of 6250 keys; [0, 10000) overlaps exactly 2
    assert(pruned.rdd.getNumPartitions == 2)
    assert(pruned.count() == 10000)
    val full = ranged
    assert(full.rdd.getNumPartitions == 16)
  }

  test("pushed bounds appear in the scan; residual filters still apply") {
    val df = ranged.filter(col("k").between(500, 1499) && col("v") >= 900)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("keyBounds=[500,1500)"), plan)
    val rows = df.collect()
    assert(rows.forall(r => r.getLong(0) >= 500 && r.getLong(0) <= 1499))
    assert(rows.forall(_.getLong(1) >= 900))
    // residual matches the brute-force recomputation
    val expect = (500L to 1499L).count(k => graft.sources.GraftRangeSource.valueOf(k) >= 900)
    assert(rows.length == expect)
  }

  test("top-N and limit pushdown truncate the scanned key range") {
    // ORDER BY k LIMIT 20 over [20000, ∞): the scan must collapse to the
    // 20 smallest surviving keys — one partition, 20 generated rows
    val df = SparkEntry.queries("dsv2_limit_pushdown")(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("keyBounds=[20000,20020)"), plan.take(1200))
    assert(df.collect().map(_.getLong(0)).toSeq == (20000L to 20019L))
    // DESC top-n truncates from the top of the range instead
    val desc = ranged.filter(col("k") >= 20000).orderBy(col("k").desc).limit(5)
    assert(desc.queryExecution.executedPlan.toString
      .contains("keyBounds=[99995,100000)"),
      desc.queryExecution.executedPlan.toString.take(1200))
    assert(desc.collect().map(_.getLong(0)).toSeq ==
      (99999L to 99995L by -1))
    // a residual (non-key) filter blocks the truncation: limit must not
    // starve on rows the engine drops above the scan
    val resid = ranged.filter(col("v") < 500).limit(7)
    val residPlan = resid.queryExecution.executedPlan.toString
    assert(residPlan.contains("keyBounds=[0,100000)"), residPlan.take(1200))
    assert(resid.count() == 7)
  }

  test("reported statistics reflect the pruned range and drive broadcast") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    // a key-bounded slice must report its PRUNED cardinality to the planner
    val narrow = ranged.filter(col("k") < 64)
    val stats = narrow.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.computeStats()
    }.head
    assert(stats.rowCount.contains(BigInt(64)), stats)
    // ...which makes joining the slice against a big table broadcast it
    // without hints (default 10 MB threshold; 64 rows ≈ 1.3 KB)
    val big = spark.range(0, 200000).selectExpr("id AS k2")
    val j = big.join(narrow, col("k2") === col("k"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      plan.take(1200))
  }

  test("runtime filtering narrows the key range to the join keys' envelope") {
    // unit level: an IN-list narrows the bounds BEFORE partition planning
    val scan = new graft.sources.GraftRangeScan(
      100000L, 16, 0L, 100000L, graft.sources.GraftRangeSource.schema)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array[Any](1200L, 8L, 4077L))))
    assert(scan.description().contains("keyBounds=[8,4078)"), scan.description())
    assert(scan.planInputPartitions().length == 1) // one 6250-key slice
    // integration: a broadcast-joined filtered dim injects the IN-list at
    // runtime (the DSv2 dynamic-partition-pruning path)
    import spark.implicits._
    val dimPath = java.nio.file.Files
      .createTempDirectory("graft_rtf_dim").toString
    Seq(100L, 2000L, 55555L).toDF("dk")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("dk") >= 0)
    val j = ranged.join(dim, col("k") === col("dk"))
    assert(j.collect().map(_.getLong(0)).sorted.toSeq == Seq(100L, 2000L, 55555L))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("runtimefilters: ["), plan.take(1500))
  }

  test("column pruning generates only requested columns") {
    val df = ranged.select("tag").filter(col("tag") === "r5")
    assert(df.schema.fieldNames === Array("tag"))
    assert(df.count() > 0)
  }

  test("aggregate pushdown: partials computed in the scan, no raw-row exchange") {
    val df = ops.KeyRange.dsv2AggPushdown(spark, "")
    val plan = df.queryExecution.executedPlan
    val planStr = plan.toString
    // the pushed aggregate is visible in the scan node...
    // (count(k) on the non-null key arrives as CountStar after translation)
    assert(planStr.contains("PushedAggregation: [count_star, min_v, max_v, sum_v]"), planStr)
    assert(planStr.contains("GroupBy: [tag]"), planStr)
    // ...and the scan's OUTPUT is the partial-aggregate schema — the raw
    // (k, v, tag) rows never cross the scan boundary, so the exchange that
    // feeds the final aggregate carries only group partials
    val inner = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val scans = inner.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.length == 1, planStr)
    assert(scans.head.scan.readSchema().fieldNames.toSeq ==
      Seq("tag", "count_star", "min_v", "max_v", "sum_v"), planStr)
    // filter pushdown composes: key bounds still prune regions
    assert(planStr.contains("keyBounds=[20000,80000)"), planStr)
    // semantics match a brute-force recomputation of the generator
    val expect = (20000L until 80000L)
      .map(k => graft.sources.GraftRangeSource.tagOf(k) -> graft.sources.GraftRangeSource.valueOf(k))
      .groupBy(_._1).view
      .mapValues(vs => (vs.size.toLong, vs.map(_._2).min, vs.map(_._2).max, vs.map(_._2).sum))
      .toMap
    val rows = df.collect()
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val (cnt, mn, mx, sm) = expect(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) == ((cnt, mn, mx, sm)), r)
    }
  }

  // --- the write connector: commit protocol + round trip ---

  private def kvWrite(df: org.apache.spark.sql.DataFrame, dir: String,
      mode: String): Unit =
    df.write.format("graft.sources.GraftKvSink").option("path", dir)
      .mode(mode).save()

  private def kvRead(dir: String) =
    spark.read.format("graft.sources.GraftKvSink").option("path", dir).load()

  test("kv manifest answers ungrouped MIN/MAX/COUNT with zero data files opened") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_agg").toString
    kvWrite(Seq((7L, "b", 2.5), (1L, "a", 1.5)).toDF("id", "s", "v"), dir, "overwrite")
    kvWrite(Seq((3L, "d", -0.5), (9L, "c", 9.25)).toDF("id", "s", "v"), dir, "append")
    def agg() = kvRead(dir).agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.min(col("id")),
      org.apache.spark.sql.functions.max(col("id")),
      org.apache.spark.sql.functions.min(col("s")),
      org.apache.spark.sql.functions.max(col("s")),
      org.apache.spark.sql.functions.min(col("v")),
      org.apache.spark.sql.functions.max(col("v")))
    val a = agg()
    assert(a.queryExecution.executedPlan.toString
      .contains("manifest row counts/stats"), a.queryExecution.executedPlan.toString)
    assert(a.head() === org.apache.spark.sql.Row(4L, 1L, 9L, "a", "d", -0.5, 9.25))
    // the stats ranges came from the manifest, not the data: delete every
    // data file — a metadata-only answer must be unaffected
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".kv"))
      .foreach(java.nio.file.Files.delete)
    assert(agg().head() === org.apache.spark.sql.Row(4L, 1L, 9L, "a", "d", -0.5, 9.25))
    // a FILTERED extremum must NOT use the manifest (filters are residual)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_kv_agg2").toString
    kvWrite(Seq((1L, 5.0), (2L, 7.0)).toDF("id", "v"), dir2, "overwrite")
    val f = kvRead(dir2).filter(col("id") > 1L)
      .agg(org.apache.spark.sql.functions.max(col("v")))
    assert(!f.queryExecution.executedPlan.toString.contains("manifest"))
    assert(f.head().getDouble(0) == 7.0)
    // a NaN-poisoned column has no stats — its extremum falls back to the
    // scan (but COUNT alone stays manifest-answered)
    val dir3 = java.nio.file.Files.createTempDirectory("graft_kv_agg3").toString
    kvWrite(Seq((1L, Double.NaN), (2L, 4.0)).toDF("id", "v"), dir3, "overwrite")
    val nanMax = kvRead(dir3).agg(org.apache.spark.sql.functions.max(col("v")))
    assert(!nanMax.queryExecution.executedPlan.toString.contains("manifest"))
    assert(nanMax.head().getDouble(0).isNaN) // Spark max: NaN > any double
    val cnt3 = kvRead(dir3).agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)))
    assert(cnt3.queryExecution.executedPlan.toString.contains("manifest row counts"))
    assert(cnt3.head().getLong(0) == 2L)
  }

  test("kv native row-level DML: DELETE/UPDATE/MERGE with file-granular replace") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_rowlevel").toString
    spark.sql("DROP TABLE IF EXISTS graft.rlspec.t")
    spark.sql(s"CREATE TABLE graft.rlspec.t (id BIGINT, s STRING, v DOUBLE) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    try {
      spark.sql("INSERT INTO graft.rlspec.t VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'c', 3.0)")
      def rows: Seq[(Long, String, Double)] = spark.table("graft.rlspec.t")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      def manifestFiles: Set[String] = {
        val json = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, "_graft_manifest.json")))
        "\"name\" : \"([^\"]+)\"".r.findAllMatchIn(json).map(_.group(1)).toSet
      }
      // the _file metadata column names each row's data file
      val fileOf = spark.sql("SELECT id, _file FROM graft.rlspec.t").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(fileOf.values.toSet.size == 3, fileOf.toString) // one row per file here
      // DELETE rewrites ONLY the file holding the matched row: the other
      // two files survive under their original names (copy-on-write by
      // group, groups = stats-pruned files)
      val before = manifestFiles
      spark.sql("DELETE FROM graft.rlspec.t WHERE id = 2")
      assert(rows == Seq((1L, "a", 1.0), (3L, "c", 3.0)))
      val after = manifestFiles
      assert(after.contains(fileOf(1L)) && after.contains(fileOf(3L)), after)
      assert(!after.contains(fileOf(2L)), after)
      assert((before -- after) == Set(fileOf(2L)), (before, after).toString)
      spark.sql("UPDATE graft.rlspec.t SET v = v * 10 WHERE id = 1")
      assert(rows == Seq((1L, "a", 10.0), (3L, "c", 3.0)))
      // full MERGE clause set through SPARK'S OWN planner
      spark.sql(
        """MERGE INTO graft.rlspec.t t USING (
          |  SELECT 3L AS id, 'C!' AS s UNION ALL SELECT 9L, 'nine') s
          |ON t.id = s.id
          |WHEN MATCHED AND t.v > 2 THEN UPDATE SET s = s.s
          |WHEN MATCHED THEN DELETE
          |WHEN NOT MATCHED THEN INSERT (id, s, v) VALUES (s.id, s.s, 0.5)
          |WHEN NOT MATCHED BY SOURCE AND t.id = 1 THEN UPDATE SET v = -1.0"""
          .stripMargin)
      assert(rows == Seq((1L, "a", -1.0), (3L, "C!", 3.0), (9L, "nine", 0.5)))
      // unconditional DELETE = metadata truncate (SupportsDeleteV2)
      spark.sql("DELETE FROM graft.rlspec.t")
      assert(spark.table("graft.rlspec.t").count() == 0L)
    } finally spark.sql("DROP TABLE graft.rlspec.t")
  }

  test("kv merge-on-read: deltas instead of rewrites, time travel, compaction fold") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_mor").toString
    spark.sql("DROP TABLE IF EXISTS graft.rlspec.m")
    spark.sql(s"CREATE TABLE graft.rlspec.m (id BIGINT, s STRING, v DOUBLE) " +
      s"USING graft_kv OPTIONS (path '$dir', mor 'true')")
    try {
      // two explicit epochs so time travel has pre-DML boundaries
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "s", "v")
        .write.format("graft.sources.GraftKvSink").option("path", dir)
        .option("epoch", "1").mode("append").save()
      Seq((3L, "c", 3.0)).toDF("id", "s", "v")
        .write.format("graft.sources.GraftKvSink").option("path", dir)
        .option("epoch", "2").mode("append").save()
      def rows: Seq[(Long, String, Double)] = spark.table("graft.rlspec.m")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      val baseFiles = graft.sources.GraftKvSink.listedFiles(dir)._1.toSet
      // a 1-row MERGE writes a DELTA file (epoch 3) and rewrites NOTHING
      spark.sql(
        """MERGE INTO graft.rlspec.m t USING (
          |  SELECT 2L AS id, 'B!' AS s UNION ALL SELECT 9L, 'nine') s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET s = s.s
          |WHEN NOT MATCHED THEN INSERT (id, s, v) VALUES (s.id, s.s, 0.5)"""
          .stripMargin)
      val (files1, deltas1) = graft.sources.GraftKvSink.listedFiles(dir)
      assert(files1.toSet == baseFiles, (files1, baseFiles).toString)
      assert(deltas1.nonEmpty && deltas1.forall(d =>
        d.startsWith("epoch-3-delta-") && d.endsWith(".kvd")), deltas1)
      assert(rows == Seq((1L, "a", 1.0), (2L, "B!", 2.0), (3L, "c", 3.0),
        (9L, "nine", 0.5)))
      // a later DELETE can remove a delta-INSERTED row (delta-on-delta)
      // and a base row in the same statement — epoch 4
      spark.sql("DELETE FROM graft.rlspec.m WHERE id IN (1, 9)")
      assert(rows == Seq((2L, "B!", 2.0), (3L, "c", 3.0)))
      // COUNT stays manifest-answered, adjusted by delta counts; MIN/MAX
      // decline to the data path while deltas are present
      val cnt = kvRead(dir).agg(count(lit(1)))
      assert(cnt.queryExecution.executedPlan.toString
        .contains("manifest row counts"), cnt.queryExecution.executedPlan.toString)
      assert(cnt.head().getLong(0) == 2L)
      val mx = kvRead(dir).agg(max(col("id")))
      assert(!mx.queryExecution.executedPlan.toString.contains("manifest"))
      assert(mx.head().getLong(0) == 3L)
      // TIME TRAVEL ACROSS MOR DML: nothing was rewritten, so pre-DML
      // epochs reconstruct exactly (the fence copy-on-write needs does
      // not exist here)
      val tt2 = spark.read.format("graft.sources.GraftKvSink")
        .option("path", dir).option("asOfEpoch", "2").load()
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(tt2 == Seq((1L, "a"), (2L, "b"), (3L, "c")), tt2)
      val tt3 = spark.read.format("graft.sources.GraftKvSink")
        .option("path", dir).option("asOfEpoch", "3").load()
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(tt3 == Seq((1L, "a"), (2L, "B!"), (3L, "c"), (9L, "nine")), tt3)
      // STREAMING READ is fenced while deltas exist (a position-delete
      // cannot replay as an append)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_mor_ck").toString
      val fence = intercept[Exception] {
        val q = spark.readStream.format("graft.sources.GraftKvSink")
          .option("path", dir).load()
          .writeStream.format("memory").queryName("mor_fence")
          .option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
      }
      assert(fence.getMessage != null && fence.getMessage.contains("compact"),
        fence.toString)
      // COPY-ON-WRITE DML on the same directory is fenced too: a group
      // replace would strand the overlay
      spark.sql("DROP TABLE IF EXISTS graft.rlspec.mcow")
      spark.sql(s"CREATE TABLE graft.rlspec.mcow (id BIGINT, s STRING, v DOUBLE) " +
        s"USING graft_kv OPTIONS (path '$dir')")
      val cow = intercept[Exception] {
        spark.sql("DELETE FROM graft.rlspec.mcow WHERE id = 2")
      }
      assert(cow.getMessage != null && cow.getMessage.contains("compact"),
        cow.toString)
      spark.sql("DROP TABLE graft.rlspec.mcow")
      // COMPACTION FOLDS the deltas: identical current reads, no .kvd
      // left, and the epoch fence takes over for the folded range
      val before = rows
      val removed = graft.sources.GraftKvSink.compact(dir, 99L)
      assert(removed > 0)
      assert(rows == before, (rows, before).toString)
      val (files2, deltas2) = graft.sources.GraftKvSink.listedFiles(dir)
      assert(deltas2.isEmpty, deltas2)
      import scala.jdk.CollectionConverters._
      assert(!java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .iterator().asScala.exists(_.getFileName.toString.endsWith(".kvd")))
      // post-compaction the count comes back exact from the manifest, and
      // min/max are manifest-eligible again only if stats survived the
      // fold (they are dropped — absent stats never prune, so the
      // aggregate falls back to the data; the VALUE must still be right)
      assert(kvRead(dir).agg(count(lit(1))).head().getLong(0) == 2L)
      assert(kvRead(dir).agg(max(col("id"))).head().getLong(0) == 3L)
      // folded history is vacuumed: asOfEpoch below the fence errors
      val gone = intercept[Exception] {
        spark.read.format("graft.sources.GraftKvSink")
          .option("path", dir).option("asOfEpoch", "2").load().count()
      }
      assert(gone.getMessage.contains("vacuumed"), gone.toString)
    } finally spark.sql("DROP TABLE IF EXISTS graft.rlspec.m")
  }

  test("kv changefeed reads only changed files, across CoW history and MOR deltas") {
    import spark.implicits._
    // copy-on-write side: four bloom-isolated files, a DELETE touching one
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_cf").toString
    spark.sql("DROP TABLE IF EXISTS graft.rlspec.cf")
    spark.sql(s"CREATE TABLE graft.rlspec.cf (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    try {
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "s")
        .repartition(4, col("id"))
        .write.format("graft.sources.GraftKvSink").option("path", dir)
        .option("epoch", "1").mode("append").save()
      val nFiles = graft.sources.GraftKvSink.listedFiles(dir)._1.length
      assert(nFiles >= 2, s"fixture needs multiple files, got $nFiles")
      spark.sql("DELETE FROM graft.rlspec.cf WHERE id = 2")
      // the manifest diff names ONE superseded file on the from side —
      // untouched files are never opened by the changefeed
      val (fromFiles, toFiles) = graft.sources.GraftKvSink.changedFiles(dir, 1L, 2L)
      assert(fromFiles.length == 1, (fromFiles, toFiles).toString)
      val feed = graft.ops.KeyRange.kvChangefeedFrame(spark, dir, 1L, 2L, Seq("id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(feed == Seq(("delete", 2L)), feed.toString)
      // merge-on-read side: a delta window diffs the referenced base file
      // and the delta's inserts — nothing else
      val mdir = java.nio.file.Files.createTempDirectory("graft_kv_cfm").toString
      spark.sql("DROP TABLE IF EXISTS graft.rlspec.cfm")
      spark.sql(s"CREATE TABLE graft.rlspec.cfm (id BIGINT, s STRING) " +
        s"USING graft_kv OPTIONS (path '$mdir', mor 'true')")
      try {
        Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "s")
          .repartition(4, col("id"))
          .write.format("graft.sources.GraftKvSink").option("path", mdir)
          .option("epoch", "1").mode("append").save()
        spark.sql(
          """MERGE INTO graft.rlspec.cfm t USING (
            |  SELECT 2L AS id, 'B!' AS s UNION ALL SELECT 9L, 'nine') s
            |ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET s = s.s
            |WHEN NOT MATCHED THEN INSERT (id, s) VALUES (s.id, s.s)"""
            .stripMargin)
        val (mFrom, mTo) = graft.sources.GraftKvSink.changedFiles(mdir, 1L, 2L)
        // from side: only the base file(s) the delta position-deletes from
        assert(mFrom.nonEmpty && mFrom.forall(_.endsWith(".kv")) &&
          mFrom.length < 4, (mFrom, mTo).toString)
        assert(mTo.exists(_.endsWith(".kvd")), (mFrom, mTo).toString)
        val mfeed = graft.ops.KeyRange.kvChangefeedFrame(spark, mdir, 1L, 2L, Seq("id"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
          .sortBy(_._2).toSeq
        assert(mfeed == Seq(("update", 2L, "B!"), ("insert", 9L, "nine")).sortBy(_._2),
          mfeed.toString)
      } finally spark.sql("DROP TABLE IF EXISTS graft.rlspec.cfm")
    } finally spark.sql("DROP TABLE IF EXISTS graft.rlspec.cf")
  }

  test("ADD COLUMN evolves the kv schema; old rows null-fill; other ALTERs refuse") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_ev").toString
    spark.sql("DROP TABLE IF EXISTS graft.rlspec.ev")
    spark.sql(s"CREATE TABLE graft.rlspec.ev (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    try {
      spark.sql("INSERT INTO graft.rlspec.ev VALUES (1, 'a'), (2, 'b')")
      spark.sql("ALTER TABLE graft.rlspec.ev ADD COLUMN v DOUBLE")
      // the widened schema is visible, no data file was rewritten
      assert(spark.table("graft.rlspec.ev").columns.toSeq ==
        Seq("id", "s", "v"))
      spark.sql("INSERT INTO graft.rlspec.ev VALUES (3, 'c', 1.5)")
      val rows = spark.table("graft.rlspec.ev")
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))))
        .toSet
      assert(rows == Set((1L, "a", null), (2L, "b", null),
        (3L, "c", java.lang.Double.valueOf(1.5))), rows)
      // filters and projection on the evolved column work across both
      // generations (old files have no stats for v — pruning keeps them)
      assert(spark.table("graft.rlspec.ev").where("v > 1.0")
        .select("id").collect().map(_.getLong(0)).toSeq == Seq(3L))
      assert(spark.table("graft.rlspec.ev").where("v IS NULL")
        .count() == 2L)
      // COUNT stays manifest-answered after evolution; MIN of the evolved
      // column must NOT be (old files carry no stats for it)
      val cnt = spark.table("graft.rlspec.ev")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)))
      assert(cnt.queryExecution.executedPlan.toString
        .contains("manifest row counts"))
      assert(cnt.head().getLong(0) == 3L)
      val mn = spark.table("graft.rlspec.ev")
        .agg(org.apache.spark.sql.functions.min("v"))
      assert(!mn.queryExecution.executedPlan.toString
        .contains("manifest row counts"))
      assert(mn.head().getDouble(0) == 1.5)
      // row-level DML still works across generations
      spark.sql("UPDATE graft.rlspec.ev SET v = 9.0 WHERE id = 1")
      assert(spark.table("graft.rlspec.ev").where("v = 9.0")
        .select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
      // refusals: retype, duplicate add, NOT NULL add (rename/drop are
      // now column-mapping evolutions with their own spec)
      Seq("ALTER TABLE graft.rlspec.ev ALTER COLUMN v TYPE INT",
        "ALTER TABLE graft.rlspec.ev ADD COLUMN v INT",
        "ALTER TABLE graft.rlspec.ev ADD COLUMN w INT NOT NULL")
        .foreach { stmt =>
          intercept[Exception] { spark.sql(stmt) }; ()
        }
      // rename + drop evolve via column mapping (metadata-only)
      spark.sql("ALTER TABLE graft.rlspec.ev RENAME COLUMN s TO t")
      spark.sql("ALTER TABLE graft.rlspec.ev DROP COLUMN t")
      assert(!spark.table("graft.rlspec.ev").columns.contains("t"))
      // generated tables stay immutable
      spark.sql("DROP TABLE IF EXISTS graft.rlspec.gen")
      spark.sql("CREATE TABLE graft.rlspec.gen USING graft_range " +
        "OPTIONS (rows '10', slices '2')")
      val gen = intercept[Exception] {
        spark.sql("ALTER TABLE graft.rlspec.gen ADD COLUMN x INT") }
      assert(gen.getMessage.contains("immutable"), gen.getMessage)
      spark.sql("DROP TABLE graft.rlspec.gen")
    } finally spark.sql("DROP TABLE IF EXISTS graft.rlspec.ev")
  }

  test("DESCRIBE HISTORY classifies append/rewrite/compact epochs from the manifest") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_hist").toString
    spark.sql("DROP TABLE IF EXISTS graft.rlspec.hist")
    spark.sql(s"CREATE TABLE graft.rlspec.hist (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    try {
      (0 to 2).foreach { k =>
        Seq((k.toLong * 10, s"e$k"), (k.toLong * 10 + 1, s"f$k"))
          .toDF("id", "s").coalesce(1) // one file per epoch: the rewrite
          // below then supersedes a known 2-row file
          .write.format("graft.sources.GraftKvSink")
          .option("path", dir).option("epoch", k.toString)
          .mode(if (k == 0) "overwrite" else "append").save()
      }
      // copy-on-write DELETE rewrites epoch 1's file: 2 superseded rows
      // out, 1 replacement row back in, at the rewrite epoch 3
      spark.sql("DELETE FROM graft.rlspec.hist WHERE id = 10")
      def hist(): Seq[(Long, String, Long, Long)] =
        spark.sql("DESCRIBE HISTORY graft.rlspec.hist").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
          .toSeq
      assert(hist() == Seq(
        (0L, "append", 2L, 0L), (1L, "append", 2L, 0L),
        (2L, "append", 2L, 0L), (3L, "rewrite", 1L, 2L)), hist())
      // vacuum reclaims the retained files: the rewrite epoch stays in the
      // log (it IS a commit) but its deleted count degrades to 0, and the
      // fully-superseded epoch-1 commit is no longer reconstructible
      graft.sources.GraftKvSink.vacuum(dir, graceMs = 0L)
      assert(hist() == Seq(
        (0L, "append", 2L, 0L), (2L, "append", 2L, 0L),
        (3L, "rewrite", 1L, 0L)), hist())
      // compaction merges everything into the boundary-epoch file; a
      // boundary that coincides with a rewrite epoch keeps the rewrite
      // label (the rewrite was the actual commit at that epoch)
      graft.sources.GraftKvSink.compact(dir, 3L)
      assert(hist() == Seq((3L, "rewrite", 5L, 0L)), hist())
      // a pure compaction boundary (no rewrite there) reads "compact"
      Seq((99L, "z")).toDF("id", "s").coalesce(1)
        .write.format("graft.sources.GraftKvSink")
        .option("path", dir).option("epoch", "4").mode("append").save()
      graft.sources.GraftKvSink.compact(dir, 4L)
      assert(hist() == Seq((4L, "compact", 6L, 0L)), hist())
      // keyed tables are not kv tables: the statement falls through to
      // Spark's parser and fails to parse (SHOW VERSIONS covers them)
      intercept[Exception] {
        spark.sql("DESCRIBE HISTORY no_such_kv_table").collect() }
    } finally spark.sql("DROP TABLE IF EXISTS graft.rlspec.hist")
  }

  test("staged CTAS/RTAS: atomic create, schema-redefining replace, abort leaves nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_ctas").toString
    spark.sql("DROP TABLE IF EXISTS graft.rlspec.ctas")
    try {
      spark.sql(s"CREATE TABLE graft.rlspec.ctas USING graft_kv " +
        s"OPTIONS (path '$dir') AS SELECT id FROM range(3)")
      assert(spark.table("graft.rlspec.ctas").count() == 3L)
      // RTAS REDEFINES the schema (the old CREATE's bootstrap is replaced
      // along with the data — the truncating write's manifest swap is the
      // visibility switch)
      spark.sql(s"REPLACE TABLE graft.rlspec.ctas USING graft_kv " +
        s"OPTIONS (path '$dir') AS SELECT id, CAST(id AS DOUBLE) AS v FROM range(4)")
      assert(spark.table("graft.rlspec.ctas").columns.toSeq == Seq("id", "v"))
      assert(spark.table("graft.rlspec.ctas").count() == 4L)
      spark.sql(s"CREATE OR REPLACE TABLE graft.rlspec.ctas USING graft_kv " +
        s"OPTIONS (path '$dir') AS SELECT id FROM range(2)")
      assert(spark.table("graft.rlspec.ctas").count() == 2L)
      // plain RTAS inherits the stored path — no OPTIONS restatement
      spark.sql("REPLACE TABLE graft.rlspec.ctas USING graft_kv " +
        "AS SELECT id FROM range(5)")
      assert(spark.table("graft.rlspec.ctas").count() == 5L)
      // ...but an explicitly DIFFERENT path is a repoint: refused (a typo
      // would truncate foreign data while orphaning the table's own)
      val dirX = java.nio.file.Files.createTempDirectory("graft_kv_ctasx").toString
      val rep = intercept[Exception] {
        spark.sql(s"REPLACE TABLE graft.rlspec.ctas USING graft_kv " +
          s"OPTIONS (path '$dirX') AS SELECT id FROM range(1)") }
      assert(rep.getMessage.contains("repoint"), rep.getMessage)
      // staged CREATE refuses a path that already holds kv data (success
      // would merge foreign rows in; abort would reclaim foreign files)
      val occupied = intercept[Exception] {
        spark.sql(s"CREATE TABLE graft.rlspec.ctas2 USING graft_kv " +
          s"OPTIONS (path '$dir') AS SELECT id FROM range(1)") }
      assert(occupied.getMessage.contains("already holds"), occupied.getMessage)
      // a failing CTAS publishes NO catalog entry and reclaims the path
      val dir2 = java.nio.file.Files.createTempDirectory("graft_kv_ctas2").toString
      intercept[Exception] {
        spark.sql(s"CREATE TABLE graft.rlspec.ctasbad USING graft_kv " +
          s"OPTIONS (path '$dir2') " +
          "AS SELECT id, assert_true(id < 1) AS x FROM range(5)")
      }
      assert(!spark.catalog.tableExists("graft.rlspec.ctasbad"))
      assert(Option(new java.io.File(dir2).listFiles())
        .forall(_.isEmpty), s"abort left files at $dir2")
      // generated tables have nothing to write
      val gen = intercept[Exception] {
        spark.sql("CREATE TABLE graft.rlspec.genctas USING graft_range " +
          "AS SELECT id FROM range(2)") }
      // refused either by the fixed-schema gate (mismatched query schema)
      // or by the nothing-to-write staging gate
      assert(gen.getMessage.contains("fixed schema") ||
        gen.getMessage.contains("generated"), gen.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS graft.rlspec.ctas")
  }

  test("OPTIMIZE and VACUUM drive kv maintenance from SQL") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_opt").toString
    spark.sql("DROP TABLE IF EXISTS graft.rlspec.opt")
    spark.sql(s"CREATE TABLE graft.rlspec.opt (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir', mor 'true')")
    try {
      (0 to 2).foreach { k =>
        Seq((k.toLong, s"e$k")).toDF("id", "s").coalesce(1)
          .write.format("graft.sources.GraftKvSink")
          .option("path", dir).option("epoch", k.toString)
          .mode(if (k == 0) "overwrite" else "append").save()
      }
      spark.sql("DELETE FROM graft.rlspec.opt WHERE id = 1") // MOR delta
      assert(graft.sources.GraftKvSink.listedFiles(dir)._2.nonEmpty)
      // OPTIMIZE folds the three epochs and the delta into one base state
      val opt = spark.sql("OPTIMIZE graft.rlspec.opt").collect()
      assert(opt.head.getString(0) == "OPTIMIZE", opt.mkString)
      val (files, deltas) = graft.sources.GraftKvSink.listedFiles(dir)
      assert(deltas.isEmpty && files.length == 1, s"$files $deltas")
      assert(spark.table("graft.rlspec.opt").collect()
        .map(_.getLong(0)).toSet == Set(0L, 2L))
      // VACUUM RETAIN 0 MINUTES reclaims the pre-compaction originals
      val vac = spark.sql("VACUUM graft.rlspec.opt RETAIN 0 MINUTES").collect()
      assert(vac.head.getString(0) == "VACUUM", vac.mkString)
      // non-kv targets fall through to Spark's parser and fail loudly
      intercept[Exception] { spark.sql("OPTIMIZE not_a_kv_table").collect() }
    } finally spark.sql("DROP TABLE IF EXISTS graft.rlspec.opt")
  }

  test("SQL VERSION AS OF reads epoch boundary states; TIMESTAMP AS OF and bad versions refuse") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_tt").toString
    spark.sql("DROP TABLE IF EXISTS graft.rlspec.tt")
    spark.sql(s"CREATE TABLE graft.rlspec.tt (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    try {
      Seq((1L, "a")).toDF("id", "s")
        .write.format("graft.sources.GraftKvSink").option("path", dir)
        .option("epoch", "1").mode("append").save()
      Seq((2L, "b")).toDF("id", "s")
        .write.format("graft.sources.GraftKvSink").option("path", dir)
        .option("epoch", "2").mode("append").save()
      def at(v: Long): Set[Long] = spark
        .sql(s"SELECT id FROM graft.rlspec.tt VERSION AS OF $v")
        .collect().map(_.getLong(0)).toSet
      assert(at(1L) == Set(1L))
      assert(at(2L) == Set(1L, 2L))
      // a CoW DELETE supersedes files; historical versions still read
      spark.sql("DELETE FROM graft.rlspec.tt WHERE id = 1")
      assert(at(2L) == Set(1L, 2L))
      assert(spark.table("graft.rlspec.tt")
        .collect().map(_.getLong(0)).toSet == Set(2L))
      // a version no commit ever produced is NOT the current state — it
      // would silently "move" as epochs land; refuse like Delta/Iceberg
      val nf = intercept[Exception] { spark.sql(
        "SELECT * FROM graft.rlspec.tt VERSION AS OF 99").collect() }
      assert(nf.getMessage.contains("version not found"), nf.getMessage)
      // TIMESTAMP AS OF resolves through the recorded commit clock: the
      // exact commit timestamp pins that epoch; 1 ms earlier resolves
      // BACKWARD to the prior epoch (strict monotonicity makes the
      // boundary exact); a future timestamp is the head (Iceberg's rule)
      val commitTs = spark.sql("DESCRIBE HISTORY graft.rlspec.tt")
        .select("version", "commit_ts").collect()
        .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
      def atTs(t: java.sql.Timestamp): Set[Long] = spark
        .sql(s"SELECT id FROM graft.rlspec.tt TIMESTAMP AS OF '${t.toInstant}'")
        .collect().map(_.getLong(0)).toSet
      assert(atTs(commitTs(1L)) == Set(1L))
      assert(atTs(commitTs(2L)) == Set(1L, 2L))
      assert(atTs(new java.sql.Timestamp(commitTs(2L).getTime - 1L)) == Set(1L))
      assert(atTs(new java.sql.Timestamp(
        System.currentTimeMillis() + 3600000L)) ==
        spark.table("graft.rlspec.tt").collect().map(_.getLong(0)).toSet)
      // a timestamp before the earliest recorded commit refuses loudly
      val ts = intercept[Exception] { spark.sql(
        "SELECT * FROM graft.rlspec.tt TIMESTAMP AS OF '2026-01-01'").collect() }
      assert(ts.getMessage.contains("before the earliest recorded commit"),
        ts.getMessage)
      // a non-numeric version is a NAMED-REF lookup now; with no refs
      // defined it refuses listing the (empty) existing set
      val bad = intercept[Exception] { spark.sql(
        "SELECT * FROM graft.rlspec.tt VERSION AS OF 'v1'").collect() }
      assert(bad.getMessage.contains("no ref named"), bad.getMessage)
      // vacuum reclaims retained history; the pinned read then errors
      // through the same fence as any vacuumed asOfEpoch
      graft.sources.GraftKvSink.vacuum(dir, graceMs = 0L)
      intercept[Exception] { at(1L) }
    } finally spark.sql("DROP TABLE IF EXISTS graft.rlspec.tt")
  }

  test("kv compact refuses a boundary splitting a delta from its target; truncate reclaims history") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_split").toString
    spark.sql("DROP TABLE IF EXISTS graft.rlspec.sp")
    spark.sql(s"CREATE TABLE graft.rlspec.sp (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir', mor 'true')")
    try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "s")
        .write.format("graft.sources.GraftKvSink").option("path", dir)
        .option("epoch", "1").mode("append").save()
      // delta epoch 2 INSERTS id 9; delta epoch 3 position-deletes it —
      // the deleter references the epoch-2 .kvd by name
      spark.sql(
        """MERGE INTO graft.rlspec.sp t USING (SELECT 9L AS id, 'nine' AS s) s
          |ON t.id = s.id WHEN NOT MATCHED THEN INSERT (id, s)
          |VALUES (s.id, s.s)""".stripMargin)
      spark.sql("DELETE FROM graft.rlspec.sp WHERE id = 9")
      def ids: Set[Long] = spark.table("graft.rlspec.sp")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L))
      // folding ONLY the insert delta (upTo=2) would renumber id 9 into
      // the compacted file while epoch 3's delete still targets the gone
      // .kvd name — the deleted row would silently RESURFACE. Refuse.
      val e = intercept[Exception] { graft.sources.GraftKvSink.compact(dir, 2L) }
      assert(e.getMessage.contains("position-deletes from"), e.getMessage)
      assert(ids == Set(1L, 2L))
      // a boundary keeping referrer and target together folds cleanly
      graft.sources.GraftKvSink.compact(dir, 99L)
      assert(ids == Set(1L, 2L))
      assert(graft.sources.GraftKvSink.listedFiles(dir)._2.isEmpty)
      // unconditional DELETE FROM (metadata truncate) reclaims EVERYTHING,
      // including retained CoW history files, leaving no orphans
      spark.sql("DROP TABLE IF EXISTS graft.rlspec.sp2")
      val dir2 = java.nio.file.Files.createTempDirectory("graft_kv_trunc").toString
      spark.sql(s"CREATE TABLE graft.rlspec.sp2 (id BIGINT, s STRING) " +
        s"USING graft_kv OPTIONS (path '$dir2')")
      try {
        Seq((1L, "a"), (2L, "b")).toDF("id", "s")
          .write.format("graft.sources.GraftKvSink").option("path", dir2)
          .option("epoch", "1").mode("append").save()
        spark.sql("DELETE FROM graft.rlspec.sp2 WHERE id = 1") // retains history
        spark.sql("DELETE FROM graft.rlspec.sp2")              // truncate
        assert(spark.table("graft.rlspec.sp2").count() == 0L)
        import scala.jdk.CollectionConverters._
        val left = java.nio.file.Files.list(java.nio.file.Paths.get(dir2))
          .iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.endsWith(".kv") || n.endsWith(".kvd")).toSeq
        assert(left.isEmpty, left.toString)
      } finally spark.sql("DROP TABLE IF EXISTS graft.rlspec.sp2")
    } finally spark.sql("DROP TABLE IF EXISTS graft.rlspec.sp")
  }

  test("kv MERGE rewrites only runtime-matched files (group filtering on _file)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_rgf").toString
    spark.sql("DROP TABLE IF EXISTS graft.rlspec.g")
    spark.sql(s"CREATE TABLE graft.rlspec.g (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    try {
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "s")
        .repartition(4, col("id"))
        .write.format("graft.sources.GraftKvSink").option("path", dir)
        .mode("append").save()
      def manifestFiles: Set[String] = {
        val json = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, "_graft_manifest.json")))
        "\"name\" : \"([^\"]+)\"".r.findAllMatchIn(json).map(_.group(1)).toSet
      }
      val before = manifestFiles
      assert(before.size >= 2, before)
      // a MERGE's ON condition is a JOIN — static stats pruning cannot
      // narrow it. The scan's runtime group filter on _file (fed by
      // Spark's group-discovery subquery) must confine the rewrite to the
      // files actually holding matched rows.
      spark.sql(
        """MERGE INTO graft.rlspec.g t USING (SELECT 2L AS id, 'B!' AS s) s
          |ON t.id = s.id WHEN MATCHED THEN UPDATE SET s = s.s""".stripMargin)
      val after = manifestFiles
      assert((before -- after).size == 1, (before, after).toString)
      assert(spark.table("graft.rlspec.g").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ==
        Seq((1L, "a"), (2L, "B!"), (3L, "c"), (4L, "d")))
    } finally spark.sql("DROP TABLE graft.rlspec.g")
  }

  test("kv sink round-trips rows exactly, incl. nulls and backslashes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_rt").toString
    val df = Seq(
      (1L, Some("plain"), 1.25),
      (2L, None, -0.5),
      (3L, Some("\\N"), 3.0),        // literal backslash-N must NOT read as null
      (4L, Some("\\\\double"), 1e-300))
      .toDF("id", "s", "v")
      .select(col("id"), col("s"), col("v"))
    kvWrite(df, dir, "overwrite")
    val back = kvRead(dir).orderBy(col("id")).collect()
    val orig = df.orderBy(col("id")).collect()
    assert(back.toSeq == orig.toSeq, back.mkString("|"))
  }

  test("kv writers refuse tab, newline and carriage return in strings; the table is unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_cr").toString
    kvWrite(Seq((1L, "a", Seq("x"))).toDF("id", "s", "arr"), dir, "overwrite")
    def state = (kvRead(dir).orderBy(col("id")).collect().toSeq,
      graft.sources.GraftKvSink.listedFiles(dir))
    val before = state
    def refused(write: => Unit): Unit = {
      val e = intercept[Exception](write)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("tab/newline/carriage return")), e.toString)
      assert(state == before)
    }
    Seq("cr\rsplit", "crlf\r\n", "\r", "nl\nsplit", "tab\tsplit").foreach { bad =>
      refused(kvWrite(Seq((2L, bad, Seq("y"))).toDF("id", "s", "arr"), dir, "append"))
      refused(kvWrite(Seq((3L, "ok", Seq("y", bad))).toDF("id", "s", "arr"), dir, "append"))
    }
    // the merge-on-read delta writer: an UPDATE's post-image is refused too
    val mor = java.nio.file.Files.createTempDirectory("graft_kv_cr_mor").toString
    spark.sql("DROP TABLE IF EXISTS graft.rlspec.cr")
    spark.sql(s"CREATE TABLE graft.rlspec.cr (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$mor', mor 'true')")
    try {
      spark.sql("INSERT INTO graft.rlspec.cr VALUES (1, 'a'), (2, 'b')")
      def rows = spark.table("graft.rlspec.cr").orderBy("id").collect().toSeq
      val rowsBefore = rows
      val e = intercept[Exception](
        spark.sql("UPDATE graft.rlspec.cr SET s = 'x\\ry' WHERE id = 2"))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("carriage return")), e.toString)
      assert(rows == rowsBefore)
      assert(graft.sources.GraftKvSink.listedFiles(mor)._2.isEmpty)
    } finally spark.sql("DROP TABLE graft.rlspec.cr")
  }

  test("kv scan prunes files from manifest min/max stats") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_stats").toString
    // range-clustered write → disjoint per-file id ranges in the manifest
    val df = (0L until 1000L).map(i => (i, s"s$i", i / 10.0)).toDF("id", "s", "v")
    kvWrite(df.repartitionByRange(8, col("id")), dir, "overwrite")
    val mfJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_manifest.json")))
    assert(mfJson.contains("\"stats\""), mfJson.take(400))
    def planned(fs: org.apache.spark.sql.sources.Filter*): Int =
      new graft.sources.GraftKvScan(dir, None, fs).planInputPartitions().length
    val total = planned()
    assert(total == 8)
    // a point predicate touches exactly one file; ranges touch few
    assert(planned(org.apache.spark.sql.sources.EqualTo("id", 5L)) == 1)
    assert(planned(org.apache.spark.sql.sources.GreaterThan("id", 990L)) == 1)
    assert(planned(org.apache.spark.sql.sources.LessThanOrEqual("id", 130L)) <= 2)
    assert(planned(org.apache.spark.sql.sources.In("id", Array(5L, 995L))) == 2)
    // unknown shapes / unknown columns never prune
    assert(planned(org.apache.spark.sql.sources.IsNull("s")) == total)
    assert(planned(org.apache.spark.sql.sources.EqualTo("nope", 1L)) == total)
    // a NULL comparison value must not throw (three-valued logic: it
    // matches nothing, so only the non-null IN elements drive pruning)
    assert(planned(org.apache.spark.sql.sources.In("id", Array(null, 6L))) == 1)
    assert(planned(org.apache.spark.sql.sources.EqualTo("id", null)) == 0)
    assert(planned(org.apache.spark.sql.sources.GreaterThan("id", null)) == 0)
    // end to end through the DataFrame API: pushed filter prunes the scan
    // AND the result is exact (Spark re-applies every predicate)
    val got = kvRead(dir).filter(col("id") === 5L).collect()
    assert(got.length == 1 && got.head.getLong(0) == 5L)
    val rangeGot = kvRead(dir).filter(col("id") > 990L && col("v") >= 0.0)
    assert(rangeGot.count() == 9)
    // doubles prune too; strings compare lexicographically
    assert(planned(org.apache.spark.sql.sources.GreaterThan("v", 99.0)) == 1)
    // all-null columns yield no stats and never prune
    val dir2 = java.nio.file.Files.createTempDirectory("graft_kv_nulls").toString
    kvWrite(Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
      .toDF("id", "s"), dir2, "overwrite")
    assert(new graft.sources.GraftKvScan(dir2, None,
      Seq(org.apache.spark.sql.sources.EqualTo("s", "x"))).planInputPartitions().length ==
      new graft.sources.GraftKvScan(dir2, None, Seq.empty).planInputPartitions().length)
  }

  test("kv blooms prune point lookups that range stats cannot") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_bloom").toString
    // evens and odds interleave: every file spans ~the full id range, so
    // min/max stats never exclude an equality probe — the bloom must
    val df = (0L until 2000L).map(i => (i, s"tag${i % 7}")).toDF("id", "s")
    kvWrite(df.filter(col("id") % 2 === 0).coalesce(1), dir, "overwrite")
    kvWrite(df.filter(col("id") % 2 === 1).coalesce(1), dir, "append")
    def planned(fs: org.apache.spark.sql.sources.Filter*): Int =
      new graft.sources.GraftKvScan(dir, None, fs).planInputPartitions().length
    val total = planned()
    assert(total >= 2)
    // id=6 lives in exactly one file; stats alone would keep every file
    // whose [min,max] covers 6 (all of them) — blooms cut to 1
    assert(planned(org.apache.spark.sql.sources.EqualTo("id", 6L)) == 1)
    assert(planned(org.apache.spark.sql.sources.EqualTo("id", 7L)) == 1)
    // a value NO file contains prunes everything (modulo bloom fpp — at
    // 2000/4096 items per filter the 1% fpp makes 0-or-rarely-1 planned)
    assert(planned(org.apache.spark.sql.sources.EqualTo("id", 999999L)) <= 1)
    // IN spanning both parities keeps both matching files
    assert(planned(org.apache.spark.sql.sources.In("id", Array(6L, 7L))) == 2)
    // strings probe their own bloom; every file has all 7 tags
    assert(planned(org.apache.spark.sql.sources.EqualTo("s", "tag3")) == total)
    // correctness is untouched: Spark re-applies all predicates
    assert(kvRead(dir).filter(col("id") === 6L).count() == 1)
    assert(kvRead(dir).filter(col("id") === 999999L).count() == 0)
    // compaction merges blooms: one file, probes still answered
    graft.sources.GraftKvSink.compact(dir, 0L)
    assert(planned() == 1)
    assert(planned(org.apache.spark.sql.sources.EqualTo("id", 999999L)) <= 1)
    assert(kvRead(dir).filter(col("id") === 6L).count() == 1)
    assert(kvRead(dir).count() == 2000)
  }

  test("kv scan prunes columns: only requested fields are materialized") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_cols").toString
    kvWrite(Seq((1L, "a", 1.5, 10), (2L, null.asInstanceOf[String], -2.0, 20))
      .toDF("id", "s", "v", "n"), dir, "overwrite")
    val df = kvRead(dir).select(col("s"), col("id")) // subset AND reordered
    val inner = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val scans = inner.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    // Spark prunes to FILE order and reorders above the scan: 2 of 4 cols
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("id", "s"),
      scans.head.scan.readSchema().treeString)
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 1L), (null, 2L)))
    // count(*) is answered from the MANIFEST, zero data files opened: the
    // plan carries the pushed-count scan and the single metadata partition
    val cnt = kvRead(dir).agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)))
    assert(cnt.queryExecution.executedPlan.toString
      .contains("manifest row counts"), cnt.queryExecution.executedPlan.toString)
    assert(cnt.head().getLong(0) == 2L)
    assert(kvRead(dir).count() == 2L)
    // a FILTERED count must NOT use the manifest (filters are residual)
    val fcnt = kvRead(dir).filter(col("id") === 1L)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)))
    assert(!fcnt.queryExecution.executedPlan.toString
      .contains("manifest row counts"))
    assert(fcnt.head().getLong(0) == 1L)
    // time travel composes: asOfEpoch counts only the visible epochs
    kvWrite(Seq((9L, "x", 0.0, 1)).toDF("id", "s", "v", "n"), dir, "append")
    assert(kvRead(dir).count() == 3L)
  }

  test("kv sink append merges the manifest; overwrite truncates it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_ap").toString
    kvWrite(Seq((1L, "a")).toDF("id", "s"), dir, "overwrite")
    kvWrite(Seq((2L, "b")).toDF("id", "s"), dir, "append")
    assert(kvRead(dir).count() == 2)
    kvWrite(Seq((9L, "z")).toDF("id", "s"), dir, "overwrite")
    val rows = kvRead(dir).collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 9L)
    // truncate really deleted the old data files, not just the manifest rows
    val dataFiles = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(dataFiles)
      .asScala.map(_.getFileName.toString).filter(_.endsWith(".kv")).toSeq
    assert(names.length == 1, names)
  }

  test("kv sink readers only see manifest-listed files (stray files invisible)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_mf").toString
    kvWrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir, "overwrite")
    // a stray uncommitted file appears (crashed task / foreign writer):
    // scans must ignore it because it is not in the manifest
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-99999-0.kv"),
      "7\tghost\n".getBytes("UTF-8"))
    assert(kvRead(dir).count() == 2)
    assert(kvRead(dir).where(col("s") === "ghost").count() == 0)
    // vacuum reclaims the orphan AND aged task attempts (commits sweep
    // only their own writeId-scoped temps now); listed files survive and
    // reads are unchanged
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-88888-0.tmp"),
      "8\tlive\n".getBytes("UTF-8"))
    // default grace window protects young files from a racing commit sweep
    assert(graft.sources.GraftKvSink.vacuum(dir) == 0)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "part-99999-0.kv")))
    // no grace (no live writers): the orphan and the stale attempt go
    assert(graft.sources.GraftKvSink.vacuum(dir, graceMs = 0L) == 2)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "part-99999-0.kv")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "part-88888-0.tmp")))
    assert(kvRead(dir).count() == 2)
    assert(graft.sources.GraftKvSink.vacuum(dir) == 0) // idempotent
  }

  // --- optimistic concurrency: interleaved commits -----------------------

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.write.PhysicalWriteInfo
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
  import org.apache.spark.unsafe.types.UTF8String

  private val kvSchema = StructType(Seq(
    StructField("id", LongType), StructField("s", StringType)))
  private val onePartition = new PhysicalWriteInfo {
    override def numPartitions(): Int = 1
  }

  /** Plan a batch write (factory snapshot = optimistic read), write one
    * row through the real task writer, return (write, commit message) so
    * the test controls the interleaving of the driver-side commits. */
  private def plannedAppend(dir: String, id: Long, s: String, taskId: Long,
      replace: Boolean = false)
      : (graft.sources.GraftKvBatchWrite, org.apache.spark.sql.connector.write.WriterCommitMessage) = {
    val w = new graft.sources.GraftKvBatchWrite(dir, kvSchema, replace)
    val writer = w.createBatchWriterFactory(onePartition).createWriter(0, taskId)
    writer.write(InternalRow(id, UTF8String.fromString(s)))
    (w, writer.commit())
  }

  test("interleaved concurrent appends both land (optimistic merge)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_occ").toString
    kvWrite(Seq((1L, "seed")).toDF("id", "s"), dir, "overwrite")
    assert(graft.sources.GraftKvSink.manifestVersion(dir) == 0L)
    // both writers plan against version 0, then commit one after the other:
    // the second detects the version advance and MERGES (append∥append)
    val (wA, msgA) = plannedAppend(dir, 2L, "from-A", taskId = 100L)
    val (wB, msgB) = plannedAppend(dir, 3L, "from-B", taskId = 200L)
    wB.commit(Array(msgB))
    assert(graft.sources.GraftKvSink.manifestVersion(dir) == 1L)
    wA.commit(Array(msgA)) // stale snapshot, compatible: must not drop B's files
    assert(graft.sources.GraftKvSink.manifestVersion(dir) == 2L)
    assert(kvRead(dir).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((1L, "seed"), (2L, "from-A"), (3L, "from-B")))
    assert(graft.sources.GraftKvSink.listedFiles(dir)._1.size == 3)
  }

  test("append racing a truncate refuses deterministically, both orders") {
    import spark.implicits._
    // order 1: append lands first, the truncate planned against the old
    // version refuses (its wholesale replacement was derived from a state
    // that no longer exists)
    val d1 = java.nio.file.Files.createTempDirectory("graft_kv_occ_t1").toString
    kvWrite(Seq((1L, "seed")).toDF("id", "s"), d1, "overwrite")
    val (wT, msgT) = plannedAppend(d1, 9L, "truncator", taskId = 300L, replace = true)
    val (wA, msgA) = plannedAppend(d1, 2L, "appender", taskId = 400L)
    wA.commit(Array(msgA))
    val e1 = intercept[IllegalStateException] { wT.commit(Array(msgT)) }
    assert(e1.getMessage.contains("concurrent commit"), e1.getMessage)
    assert(kvRead(d1).count() == 2) // seed + append, truncate never published

    // order 2: truncate lands first, the append planned against the old
    // version refuses (the files it planned against are gone)
    val d2 = java.nio.file.Files.createTempDirectory("graft_kv_occ_t2").toString
    kvWrite(Seq((1L, "seed")).toDF("id", "s"), d2, "overwrite")
    val (wT2, msgT2) = plannedAppend(d2, 9L, "truncator", taskId = 500L, replace = true)
    val (wA2, msgA2) = plannedAppend(d2, 2L, "appender", taskId = 600L)
    wT2.commit(Array(msgT2))
    val e2 = intercept[IllegalStateException] { wA2.commit(Array(msgA2)) }
    assert(e2.getMessage.contains("concurrent commit"), e2.getMessage)
    assert(kvRead(d2).collect().map(_.getString(1)).toSeq == Seq("truncator"))
  }

  test("row-level replace refuses when any commit lands concurrently") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_occ_rr").toString
    kvWrite(Seq((1L, "seed")).toDF("id", "s"), dir, "overwrite")
    val victim = graft.sources.GraftKvSink.listedFiles(dir)._1.head
    val w = new graft.sources.GraftKvBatchWrite(dir, kvSchema, replace = false,
      explicitEpoch = None, replaceFiles = Some(() => Seq(victim)))
    val writer = w.createBatchWriterFactory(onePartition).createWriter(0, 700L)
    writer.write(InternalRow(1L, UTF8String.fromString("rewritten")))
    val msg = writer.commit()
    kvWrite(Seq((5L, "racer")).toDF("id", "s"), dir, "append") // version advances
    val e = intercept[IllegalStateException] { w.commit(Array(msg)) }
    assert(e.getMessage.contains("row-level rewrite"), e.getMessage)
    // the rewrite never published: seed intact, racer intact
    assert(kvRead(dir).orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("seed", "racer"))
  }

  test("explicit-epoch appends racing the same epoch: first wins, second refuses") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_occ_ep").toString
    // epoch-stamped table (streaming-shaped history)
    Seq((1L, "seed")).toDF("id", "s").write.format("graft.sources.GraftKvSink")
      .option("path", dir).option("epoch", "0").mode("append").save()
    def epochWrite(id: Long, taskId: Long): (graft.sources.GraftKvBatchWrite,
        org.apache.spark.sql.connector.write.WriterCommitMessage) = {
      val w = new graft.sources.GraftKvBatchWrite(dir, kvSchema, replace = false,
        explicitEpoch = Some(7L))
      val writer = w.createBatchWriterFactory(onePartition).createWriter(0, taskId)
      writer.write(InternalRow(id, UTF8String.fromString(s"w$id")))
      (w, writer.commit())
    }
    val (w1, m1) = epochWrite(10L, 800L)
    val (w2, m2) = epochWrite(20L, 900L)
    w1.commit(Array(m1))
    val e = intercept[IllegalArgumentException] { w2.commit(Array(m2)) }
    assert(e.getMessage.contains("already published"), e.getMessage)
    assert(kvRead(dir).count() == 2) // seed + first epoch-7 writer only
  }

  test("concurrent row-level DMLs refuse; a DML merges over a plain append") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_occ_mor").toString
    spark.sql("DROP TABLE IF EXISTS graft.rlspec.occm")
    spark.sql(s"CREATE TABLE graft.rlspec.occm (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir', mor 'true')")
    spark.sql("INSERT INTO graft.rlspec.occm VALUES (1, 'a'), (2, 'b')")
    val victim = graft.sources.GraftKvSink.listedFiles(dir)._1.head
    // a hand-planned delta DML (position-delete of row 0 of the base
    // file), snapshotted BEFORE the concurrent commit below
    def plannedDelta(readFs: Seq[org.apache.spark.sql.sources.Filter] = Nil)
        : (graft.sources.GraftKvDeltaBatchWrite,
        org.apache.spark.sql.connector.write.WriterCommitMessage) = {
      val w = new graft.sources.GraftKvDeltaBatchWrite(dir, kvSchema,
        readFilters = () => readFs)
      val writer = w.createBatchWriterFactory(onePartition).createWriter(0, 0L)
      writer.delete(null, InternalRow(UTF8String.fromString(victim), 0L))
      (w, writer.commit())
    }
    // arm 1: a REAL row-level DML commits in between -> refuse (its delta
    // may have deleted the same positions; merging would double-count)
    val (w1, m1) = plannedDelta()
    spark.sql("DELETE FROM graft.rlspec.occm WHERE id = 2")
    val e1 = intercept[IllegalStateException] { w1.commit(Array(m1)) }
    assert(e1.getMessage.contains("cannot be proven outside"), e1.getMessage)
    // arm 2: a plain APPEND provably OUTSIDE the DML's read region (the
    // appended file's stats contradict id = 1) commits in between ->
    // positions are stable AND no phantom is possible, the DML merges
    val (w2, m2) = plannedDelta(
      Seq(org.apache.spark.sql.sources.EqualTo("id", 1L)))
    spark.sql("INSERT INTO graft.rlspec.occm VALUES (9, 'z')")
    w2.commit(Array(m2))
    assert(spark.table("graft.rlspec.occm").collect()
      .map(_.getLong(0)).toSet == Set(9L)) // 1 deleted by delta, 2 by DML
    spark.sql("DROP TABLE graft.rlspec.occm")
  }

  test("many racing appends through the public write path all land") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_occ_many").toString
    kvWrite(Seq((0L, "seed")).toDF("id", "s"), dir, "overwrite")
    val jobs = (1 to 4).map { i =>
      Future { kvWrite(Seq((i.toLong, s"job$i")).toDF("id", "s"), dir, "append") }
    }
    Await.result(Future.sequence(jobs), 120.seconds)
    assert(kvRead(dir).count() == 5)
    assert(kvRead(dir).agg(sum("id")).head.getLong(0) == 10L)
    // no job's commit swept another's in-flight temps, no file lost
    assert(graft.sources.GraftKvSink.listedFiles(dir)._1.size == 5)
  }

  test("CHECK constraints reject violating batch writes; ALTER validates existing rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_cns").toString
    def allMsgs(t: Throwable): String = {
      var m = new StringBuilder; var c: Throwable = t
      while (c != null) { m ++= Option(c.getMessage).getOrElse(""); c = c.getCause }
      m.toString
    }
    spark.sql("DROP TABLE IF EXISTS graft.cns.t")
    spark.sql("CREATE TABLE graft.cns.t (id BIGINT, qty DOUBLE) " +
      s"USING graft_kv OPTIONS (path '$dir', 'check.qty_pos' = 'qty >= 0')")
    // the NULL row rides in the first batch (first-commit nullability) AND
    // passes the CHECK — standard SQL semantics, NULL is not a violation
    spark.sql("INSERT INTO graft.cns.t VALUES (CAST(1 AS BIGINT), 2.5D), " +
      "(CAST(2 AS BIGINT), 0.0D), (CAST(3 AS BIGINT), CAST(NULL AS DOUBLE))")
    // a violating INSERT fails the job BEFORE the commit; nothing lands
    val e1 = intercept[Exception] {
      spark.sql("INSERT INTO graft.cns.t VALUES (CAST(4 AS BIGINT), -1.0D)")
    }
    assert(allMsgs(e1).contains("qty_pos"), allMsgs(e1))
    assert(spark.table("graft.cns.t").count() == 3)
    // row-level DML is covered too: an UPDATE assigning a violating value
    // refuses (the ReplaceData/WriteDelta query is wrapped the same way)
    val e2 = intercept[Exception] {
      spark.sql("UPDATE graft.cns.t SET qty = -9.0D WHERE id = 1")
    }
    assert(allMsgs(e2).contains("qty_pos"), allMsgs(e2))
    assert(spark.table("graft.cns.t").where("qty < 0").count() == 0)
    // DELETE carries no violating assignment and must stay unaffected
    spark.sql("DELETE FROM graft.cns.t WHERE id = 2")
    assert(spark.table("graft.cns.t").count() == 2)
    // ALTER … SET TBLPROPERTIES adds a constraint — but only if existing
    // rows satisfy it (the Delta ADD CONSTRAINT contract)
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.cns.t SET TBLPROPERTIES" +
        "('check.id_small' = 'id < 1')")
    }
    assert(allMsgs(e3).contains("existing rows violate"), allMsgs(e3))
    spark.sql("ALTER TABLE graft.cns.t SET TBLPROPERTIES" +
      "('check.id_small' = 'id < 100')")
    val e4 = intercept[Exception] {
      spark.sql("INSERT INTO graft.cns.t VALUES (CAST(500 AS BIGINT), 1.0D)")
    }
    assert(allMsgs(e4).contains("id_small"), allMsgs(e4))
    // UNSET drops the constraint; the same write then lands
    spark.sql("ALTER TABLE graft.cns.t UNSET TBLPROPERTIES('check.id_small')")
    spark.sql("INSERT INTO graft.cns.t VALUES (CAST(500 AS BIGINT), 1.0D)")
    assert(spark.table("graft.cns.t").count() == 3)
    spark.sql("DROP TABLE IF EXISTS graft.cns.t")
  }

  test("CHECK constraints bind to the table: path-route and streaming writers enforce") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def allMsgs(t: Throwable): String = {
      var m = new StringBuilder; var c: Throwable = t
      while (c != null) { m ++= Option(c.getMessage).getOrElse(""); c = c.getCause }
      m.toString
    }
    val root = java.nio.file.Files.createTempDirectory("graft_kv_cns2")
    val dir = root.resolve("t").toString
    spark.sql("DROP TABLE IF EXISTS graft.cns.p")
    spark.sql("CREATE TABLE graft.cns.p (id BIGINT, qty DOUBLE) " +
      s"USING graft_kv OPTIONS (path '$dir', 'check.qty_pos' = 'qty >= 0')")
    def kvCount: Long = spark.read.format("graft.sources.GraftKvSink")
      .option("path", dir).load().count()
    // the constraint is persisted in the MANIFEST at CREATE, so a
    // PATH-ROUTE writer that never saw the catalog entry still refuses
    val e1 = intercept[Exception] {
      Seq((1L, -2.0)).toDF("id", "qty").write
        .format("graft.sources.GraftKvSink").option("path", dir)
        .mode("append").save()
    }
    assert(allMsgs(e1).contains("qty_pos"), allMsgs(e1))
    assert(kvCount == 0)
    Seq((1L, 2.0)).toDF("id", "qty").write
      .format("graft.sources.GraftKvSink").option("path", dir)
      .mode("append").save()
    assert(kvCount == 1)
    // a STREAMING writer enforces per row — a violating micro-batch fails
    // BEFORE its epoch commits; clean batches commit normally
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val q = ms.toDF().toDF("id", "qty").writeStream
      .format("graft.sources.GraftKvSink").option("path", dir)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start()
    ms.addData((2L, 3.0))
    q.processAllAvailable()
    assert(kvCount == 2)
    ms.addData((3L, -1.0))
    val e2 = intercept[Exception] { q.processAllAvailable() }
    assert(allMsgs(e2).contains("qty_pos"), allMsgs(e2))
    q.stop()
    assert(kvCount == 2) // the violating epoch never published
    // table-level metadata survives a truncating overwrite
    spark.sql("INSERT OVERWRITE graft.cns.p VALUES (CAST(9 AS BIGINT), 1.0D)")
    val e3 = intercept[Exception] {
      Seq((4L, -9.0)).toDF("id", "qty").write
        .format("graft.sources.GraftKvSink").option("path", dir)
        .mode("append").save()
    }
    assert(allMsgs(e3).contains("qty_pos"), allMsgs(e3))
    // CREATE over a directory whose existing rows violate refuses —
    // the ALTER add-constraint contract applies to CREATE too
    val dir2 = java.nio.file.Files.createTempDirectory("graft_kv_cns3").toString
    Seq((1L, -5.0)).toDF("id", "qty").write
      .format("graft.sources.GraftKvSink").option("path", dir2)
      .mode("overwrite").save()
    spark.sql("DROP TABLE IF EXISTS graft.cns.v")
    val e4 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.cns.v (id BIGINT, qty DOUBLE) " +
        s"USING graft_kv OPTIONS (path '$dir2', 'check.qty_pos' = 'qty >= 0')")
    }
    assert(allMsgs(e4).contains("existing rows violate"), allMsgs(e4))
    // CTAS runs outside the plan wrap: the just-written rows are validated
    // at staged commit — a violating CTAS aborts and publishes no table
    val dir3 = java.nio.file.Files.createTempDirectory("graft_kv_cns4")
      .resolve("t").toString
    spark.sql("DROP TABLE IF EXISTS graft.cns.c")
    val e5 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.cns.c USING graft_kv OPTIONS " +
        s"(path '$dir3', 'check.q_pos' = 'q >= 0') " +
        "AS SELECT CAST(-1.0 AS DOUBLE) AS q")
    }
    assert(allMsgs(e5).contains("existing rows violate"), allMsgs(e5))
    assertThrows[Exception] { spark.table("graft.cns.c").collect() }
    spark.sql("DROP TABLE IF EXISTS graft.cns.p")
  }

  test("CHECK constraints hold for a session WITHOUT GraftExtensions (writer-level)") {
    // The plan-spliced guards are injected rules — a vanilla session never
    // runs them, so enforcement must live in the write path itself (the
    // Delta posture: constraints are checked in the transaction, not the
    // planner). A public-constructor sibling session shares the context
    // but gets FRESH (empty) extensions: no injected analyzer/optimizer
    // rules, no injected parser.
    // Scala-private ctor, public in bytecode — reflective call is the
    // test-only backdoor to a session the builder would share state with
    val vanilla: org.apache.spark.sql.SparkSession =
      classOf[org.apache.spark.sql.classic.SparkSession]
        .getConstructor(classOf[org.apache.spark.SparkContext])
        .newInstance(spark.sparkContext)
        .asInstanceOf[org.apache.spark.sql.SparkSession]
    def allMsgs(t: Throwable): String = {
      val m = new StringBuilder; var c: Throwable = t
      while (c != null) { m ++= Option(c.getMessage).getOrElse(""); c = c.getCause }
      m.toString
    }
    val root = java.nio.file.Files.createTempDirectory("graft_kv_cns_v")
    val dir = root.resolve("t").toString
    spark.sql("DROP TABLE IF EXISTS graft.cns.w")
    spark.sql("CREATE TABLE graft.cns.w (id BIGINT, qty DOUBLE) " +
      s"USING graft_kv OPTIONS (path '$dir', 'check.qty_pos' = 'qty >= 0')")
    def rows: Map[Long, Double] = spark.read.format("graft.sources.GraftKvSink")
      .option("path", dir).load().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // violating PATH-ROUTE batch append from the vanilla session: the
    // writer-level guard refuses and the manifest never publishes the files
    val e1 = intercept[Exception] {
      vanilla.createDataFrame(Seq((1L, -2.0))).toDF("id", "qty").write
        .format("graft.sources.GraftKvSink").option("path", dir)
        .mode("append").save()
    }
    assert(allMsgs(e1).contains("qty_pos"), allMsgs(e1))
    assert(rows.isEmpty)
    // a clean append from the same vanilla session commits normally
    vanilla.createDataFrame(Seq((1L, 2.0), (2L, 5.0))).toDF("id", "qty").write
      .format("graft.sources.GraftKvSink").option("path", dir)
      .mode("append").save()
    assert(rows == Map(1L -> 2.0, 2L -> 5.0))
    // catalog-route DML from the vanilla session (the graft catalog rides
    // the shared context conf; UPDATE rewriting is core Spark): a CoW
    // UPDATE minting a violating post-image refuses, table state unchanged
    val e2 = intercept[Exception] {
      vanilla.sql("UPDATE graft.cns.w SET qty = -7.0 WHERE id = 1")
    }
    assert(allMsgs(e2).contains("qty_pos"), allMsgs(e2))
    assert(rows == Map(1L -> 2.0, 2L -> 5.0))
    // and a legal UPDATE goes through
    vanilla.sql("UPDATE graft.cns.w SET qty = 9.0 WHERE id = 1")
    assert(rows == Map(1L -> 9.0, 2L -> 5.0))
    // MERGE-ON-READ table: the delta writer checks UPDATE/INSERT
    // post-images the same way (position-deletes are never checked)
    val dirM = root.resolve("m").toString
    spark.sql("DROP TABLE IF EXISTS graft.cns.wm")
    spark.sql("CREATE TABLE graft.cns.wm (id BIGINT, qty DOUBLE) " +
      "USING graft_kv OPTIONS " +
      s"(path '$dirM', mor 'true', 'check.qty_pos' = 'qty >= 0')")
    vanilla.sql("INSERT INTO graft.cns.wm VALUES (CAST(1 AS BIGINT), 3.0D)")
    val e3 = intercept[Exception] {
      vanilla.sql("UPDATE graft.cns.wm SET qty = -1.0 WHERE id = 1")
    }
    assert(allMsgs(e3).contains("qty_pos"), allMsgs(e3))
    assert(vanilla.table("graft.cns.wm").collect().map(_.getDouble(1)).toSeq
      == Seq(3.0))
    // a MOR DELETE carries no row image and must not trip the guard
    vanilla.sql("DELETE FROM graft.cns.wm WHERE id = 1 AND qty > 0")
    assert(vanilla.table("graft.cns.wm").count() == 0)
    spark.sql("DROP TABLE IF EXISTS graft.cns.w")
    spark.sql("DROP TABLE IF EXISTS graft.cns.wm")
  }

  test("named refs: a TAG pins its boundary across VACUUM; branches fork from it") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_kv_tag")
    val dir = root.resolve("t").toString
    spark.sql("DROP TABLE IF EXISTS graft.tagspec.t")
    spark.sql("CREATE TABLE graft.tagspec.t (id BIGINT, v STRING) " +
      s"USING graft_kv OPTIONS (path '$dir', epochs 'true')")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).foreach { case (i, s) =>
      spark.sql(s"INSERT INTO graft.tagspec.t VALUES (CAST($i AS BIGINT), '$s')")
    }
    def ids(suffix: String): Seq[Long] =
      spark.sql(s"SELECT id FROM graft.tagspec.t $suffix")
        .collect().map(_.getLong(0)).toSeq.sorted
    ops.Ddl.execute(spark, "ALTER TABLE graft.tagspec.t CREATE TAG eval1 AS OF VERSION 1")
    val tags = ops.Ddl.execute(spark, "SHOW TAGS graft.tagspec.t").collect()
    assert(tags.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      == Seq(("eval1", 1L, "tag")))
    // duplicate names refuse
    assertThrows[Exception] {
      ops.Ddl.execute(spark, "ALTER TABLE graft.tagspec.t CREATE TAG eval1") }
    // a BRANCH is a shallow clone at the tag — VERSION AS OF '<ref>' form
    val bdir = root.resolve("b").toString
    spark.sql("DROP TABLE IF EXISTS graft.tagspec.b")
    ops.Ddl.execute(spark, "CREATE TABLE graft.tagspec.b SHALLOW CLONE " +
      s"graft.tagspec.t VERSION AS OF 'eval1' LOCATION '$bdir'")
    spark.sql("INSERT INTO graft.tagspec.b VALUES (CAST(99 AS BIGINT), 'z')")
    assert(spark.sql("SELECT id FROM graft.tagspec.b").collect()
      .map(_.getLong(0)).toSeq.sorted == Seq(1L, 2L, 99L)) // diverged
    // CoW DML: one rewrite touches a PRE-tag file (pins retained history),
    // one touches a post-tag file (its history stays reclaimable)
    spark.sql("DELETE FROM graft.tagspec.t WHERE id = 1")
    spark.sql("DELETE FROM graft.tagspec.t WHERE id = 3")
    // DRY RUN mirrors the tag partition exactly: only the post-tag
    // original is previewed (the two pinned pre-tag files are absent),
    // and the real vacuum reclaims exactly the previewed count
    val preview = ops.Ddl.execute(spark,
      "VACUUM graft.tagspec.t RETAIN 0 MINUTES DRY RUN").collect()
    assert(preview.length == 1, preview.mkString(", "))
    val vac = ops.Ddl.execute(spark,
      "VACUUM graft.tagspec.t RETAIN 0 MINUTES").head().getString(1)
    assert(vac.contains("(1 files reclaimed)"), vac)
    // the tag still reconstructs exactly (via the PINNED retained file)...
    assert(ids("VERSION AS OF 'eval1'") == Seq(1L, 2L))
    assert(ids("VERSION AS OF 1") == Seq(1L, 2L)) // numeric spelling too
    // ...while untagged history below the fence is gone
    assertThrows[Exception] { ids("VERSION AS OF 0") }
    assert(ids("") == Seq(2L)) // current state unaffected
    // the branch still reads its fork point plus its own divergence
    assert(spark.sql("SELECT id FROM graft.tagspec.b").collect()
      .map(_.getLong(0)).toSeq.sorted == Seq(1L, 2L, 99L))
    // OPTIMIZE clamps at the oldest tag: the tagged boundary survives
    ops.Ddl.execute(spark, "OPTIMIZE graft.tagspec.t")
    assert(ids("VERSION AS OF 'eval1'") == Seq(1L, 2L))
    assert(ids("") == Seq(2L))
    // unknown refs refuse with the existing names listed
    val e = intercept[Exception] { ids("VERSION AS OF 'nope'") }
    assert(e.getMessage.contains("eval1"), e.getMessage)
    // DROP TAG unpins: vacuum reclaims, the boundary stops answering
    ops.Ddl.execute(spark, "ALTER TABLE graft.tagspec.t DROP TAG eval1")
    ops.Ddl.execute(spark, "VACUUM graft.tagspec.t RETAIN 0 MINUTES")
    assertThrows[Exception] { ids("VERSION AS OF 1") }
    spark.sql("DROP TABLE IF EXISTS graft.tagspec.t")
    spark.sql("DROP TABLE IF EXISTS graft.tagspec.b")
  }

  test("narrower-schema appends skip checks on absent evolved columns; generated deps refuse") {
    import spark.implicits._
    def allMsgs(t: Throwable): String = {
      val m = new StringBuilder; var c: Throwable = t
      while (c != null) { m ++= Option(c.getMessage).getOrElse(""); c = c.getCause }
      m.toString
    }
    val root = java.nio.file.Files.createTempDirectory("graft_kv_narrow")
    val dir = root.resolve("t").toString
    spark.sql("DROP TABLE IF EXISTS graft.nrw.t")
    spark.sql("CREATE TABLE graft.nrw.t (id BIGINT, qty DOUBLE) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    spark.sql("INSERT INTO graft.nrw.t VALUES (CAST(1 AS BIGINT), 2.0D)")
    spark.sql("ALTER TABLE graft.nrw.t ADD COLUMN flag DOUBLE")
    spark.sql("ALTER TABLE graft.nrw.t SET TBLPROPERTIES " +
      "('check.flag_pos' = 'flag >= 0')")
    // a LEGACY producer still writes the pre-evolution shape: the omitted
    // column is NULL for its rows and NULL passes SQL CHECK semantics —
    // the writer guard must skip the check, not fail resolving `flag`
    Seq((5L, 1.0)).toDF("id", "qty").write
      .format("graft.sources.GraftKvSink").option("path", dir)
      .mode("append").save()
    assert(spark.table("graft.nrw.t").count() == 2)
    assert(spark.table("graft.nrw.t").where("flag IS NULL").count() == 2)
    // a write that DOES carry the column still enforces
    val e1 = intercept[Exception] {
      Seq((6L, 1.0, -3.0)).toDF("id", "qty", "flag").write
        .format("graft.sources.GraftKvSink").option("path", dir)
        .mode("append").save()
    }
    assert(allMsgs(e1).contains("flag_pos"), allMsgs(e1))
    // a GENERATED column is different: omitting it (or its sources) would
    // silently violate the invariant — the narrow write refuses up front
    val dirG = root.resolve("g").toString
    spark.sql("DROP TABLE IF EXISTS graft.nrw.g")
    spark.sql("CREATE TABLE graft.nrw.g (a BIGINT, " +
      "g BIGINT GENERATED ALWAYS AS (a * 2)) " +
      s"USING graft_kv OPTIONS (path '$dirG')")
    val e2 = intercept[Exception] {
      Seq(Tuple1(1L)).toDF("a").write
        .format("graft.sources.GraftKvSink").option("path", dirG)
        .mode("append").save()
    }
    assert(allMsgs(e2).contains("generated"), allMsgs(e2))
    spark.sql("DROP TABLE IF EXISTS graft.nrw.t")
    spark.sql("DROP TABLE IF EXISTS graft.nrw.g")
  }

  test("GENERATED ALWAYS AS columns: consistent writes land, conflicts refuse") {
    import spark.implicits._
    def allMsgs(t: Throwable): String = {
      val m = new StringBuilder; var c: Throwable = t
      while (c != null) { m ++= Option(c.getMessage).getOrElse(""); c = c.getCause }
      m.toString
    }
    val root = java.nio.file.Files.createTempDirectory("graft_kv_gen")
    val dir = root.resolve("t").toString
    spark.sql("DROP TABLE IF EXISTS graft.gen.t")
    spark.sql("CREATE TABLE graft.gen.t (a BIGINT, b BIGINT, " +
      "g BIGINT GENERATED ALWAYS AS (a + b)) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    def cnt: Long = spark.table("graft.gen.t").count()
    // a consistent row lands (this connector VERIFIES generated values —
    // the gen_<col> derived check — rather than computing them)
    spark.sql("INSERT INTO graft.gen.t VALUES " +
      "(CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT))")
    assert(cnt == 1)
    // a conflicting explicit value refuses and commits nothing
    val e1 = intercept[Exception] {
      spark.sql("INSERT INTO graft.gen.t VALUES " +
        "(CAST(4 AS BIGINT), CAST(4 AS BIGINT), CAST(9 AS BIGINT))")
    }
    assert(allMsgs(e1).contains("__gen__g"), allMsgs(e1))
    assert(cnt == 1)
    // the invariant is manifest-persisted: a PATH-ROUTE writer that never
    // saw the catalog entry refuses the same way
    val e2 = intercept[Exception] {
      Seq((5L, 5L, 11L)).toDF("a", "b", "g").write
        .format("graft.sources.GraftKvSink").option("path", dir)
        .mode("append").save()
    }
    assert(allMsgs(e2).contains("__gen__g"), allMsgs(e2))
    assert(cnt == 1)
    // UPDATE minting an inconsistent post-image refuses; consistent lands
    val e3 = intercept[Exception] {
      spark.sql("UPDATE graft.gen.t SET b = 7 WHERE a = 1") // g stays 3
    }
    assert(allMsgs(e3).contains("__gen__g"), allMsgs(e3))
    spark.sql("UPDATE graft.gen.t SET b = 7, g = 8 WHERE a = 1")
    assert(spark.table("graft.gen.t").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 7L, 8L)))
    // omitting the generated column can never satisfy `g <=> a + b`
    // (NULL is not the computed value) — refused, nothing lands
    assertThrows[Exception] {
      spark.sql("INSERT INTO graft.gen.t (a, b) VALUES " +
        "(CAST(2 AS BIGINT), CAST(2 AS BIGINT))")
    }
    assert(cnt == 1)
    // dropping the generation-SOURCE column refuses: the standing
    // `g <=> a + b` invariant would dangle (derived __gen__ checks count
    // like user CHECKs in the drop-refusal scan)
    val e5 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.gen.t DROP COLUMN a")
    }
    assert(allMsgs(e5).contains("__gen__g"), allMsgs(e5))
    // renaming the source REWRITES the generation expression in the same
    // publish — the invariant follows the column under its new name
    spark.sql("ALTER TABLE graft.gen.t RENAME COLUMN a TO x")
    val e6 = intercept[Exception] {
      spark.sql("INSERT INTO graft.gen.t VALUES " +
        "(CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(9 AS BIGINT))")
    }
    assert(allMsgs(e6).contains("__gen__g"), allMsgs(e6))
    spark.sql("INSERT INTO graft.gen.t VALUES " +
      "(CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(4 AS BIGINT))")
    assert(cnt == 2)
    spark.sql("DROP TABLE IF EXISTS graft.gen.t")
  }

  test("RESTORE TABLE rolls a kv table back to an epoch boundary as a new commit") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_rst").toString
    def epochWrite(epoch: Long, rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "s").write.format("graft.sources.GraftKvSink")
        .option("path", dir).option("epoch", epoch.toString)
        .mode("append").save()
    epochWrite(1L, (1L, "a"), (2L, "b"))
    epochWrite(2L, (3L, "c"))
    epochWrite(3L, (4L, "d"))
    spark.sql("DROP TABLE IF EXISTS graft.rst.t")
    spark.sql("CREATE TABLE graft.rst.t (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    def ids(sqlFrom: String): Seq[Long] =
      spark.sql(s"SELECT id FROM $sqlFrom").as[Long].collect().toSeq.sorted
    spark.sql("RESTORE TABLE graft.rst.t TO VERSION AS OF 2")
    assert(ids("graft.rst.t") == Seq(1L, 2L, 3L)) // epoch 3 undone
    // pre-restore states still time-travel exactly (retained history)
    assert(ids("graft.rst.t VERSION AS OF 3") == Seq(1L, 2L, 3L, 4L))
    assert(ids("graft.rst.t VERSION AS OF 4") == Seq(1L, 2L, 3L)) // the restore commit
    // no data file was deleted — the undone file is retained, not gone
    assert(graft.sources.GraftKvSink.retainedFiles(dir).nonEmpty)
    // the table keeps working: a fresh append lands above the restore
    epochWrite(5L, (9L, "z"))
    assert(ids("graft.rst.t") == Seq(1L, 2L, 3L, 9L))
    // restoring below the (now-retained) restore commit refuses loudly
    val e = intercept[IllegalArgumentException] {
      spark.sql("RESTORE TABLE graft.rst.t TO VERSION AS OF 1")
    }
    assert(e.getMessage.contains("rewrite"), e.getMessage)
    // restore to the current boundary is a no-op, not an error
    spark.sql("RESTORE TABLE graft.rst.t TO VERSION AS OF 5")
    assert(ids("graft.rst.t") == Seq(1L, 2L, 3L, 9L))
    // vacuum reclaims the retained window; the undone epoch then fences
    assert(graft.sources.GraftKvSink.vacuum(dir, graceMs = 0L) > 0)
    assertThrows[IllegalArgumentException] {
      ids("graft.rst.t VERSION AS OF 3")
    }
    assert(ids("graft.rst.t") == Seq(1L, 2L, 3L, 9L)) // current unharmed
    spark.sql("DROP TABLE IF EXISTS graft.rst.t")
  }

  test("a CACHE'd kv table serves the rows of a RESTORE and a path-route write") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_cache").toString
    def epochWrite(epoch: Long, rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "s").write.format("graft.sources.GraftKvSink")
        .option("path", dir).option("epoch", epoch.toString)
        .mode("append").save()
    epochWrite(1L, (1L, "a"), (2L, "b"))
    epochWrite(2L, (3L, "c"))
    spark.sql("DROP TABLE IF EXISTS graft.kvc.t")
    spark.sql("CREATE TABLE graft.kvc.t (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    def ids(): Seq[Long] =
      spark.sql("SELECT id FROM graft.kvc.t").as[Long].collect().toSeq.sorted
    spark.sql("CACHE TABLE graft.kvc.t")
    try {
      assert(spark.catalog.isCached("graft.kvc.t"))
      assert(ids() == Seq(1L, 2L, 3L))
      // a RESTORE commits outside Spark's own write commands
      spark.sql("RESTORE TABLE graft.kvc.t TO VERSION AS OF 1")
      assert(ids() == Seq(1L, 2L))
      // so does a write to the table's directory
      epochWrite(5L, (9L, "z"))
      assert(ids() == Seq(1L, 2L, 9L))
      assert(spark.catalog.isCached("graft.kvc.t"))
    } finally {
      spark.sql("UNCACHE TABLE graft.kvc.t")
      spark.sql("DROP TABLE IF EXISTS graft.kvc.t")
    }
  }

  test("sortBy tables: the connector requests ordered distribution, files cluster") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_sort").toString
    // DELIBERATELY unsorted input through a PLAIN write — no
    // repartitionByRange anywhere in user code; the write's own
    // RequiresDistributionAndOrdering contract plans the range exchange
    val df = (0L until 2000L).map(i => ((i * 7919L) % 2000L, s"s$i"))
      .toDF("id", "s")
    df.write.format("graft.sources.GraftKvSink").option("path", dir)
      .option("sortBy", "id").option("sortBuckets", "4")
      .mode("overwrite").save()
    assert(graft.sources.GraftKvSink.listedFiles(dir)._1.length == 4)
    val ranges = graft.sources.GraftKvSink.fileStats(dir, "id")
      .map { case (lo, hi) => (lo.toLong, hi.toLong) }.sortBy(_._1)
    assert(ranges.length == 4)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, ranges.toString)
    def planned(fs: org.apache.spark.sql.sources.Filter*): Int =
      new graft.sources.GraftKvScan(dir, None, fs).planInputPartitions().length
    assert(planned(org.apache.spark.sql.sources.EqualTo("id", 3L)) == 1)
    assert(planned(org.apache.spark.sql.sources.GreaterThan("id", 1990L)) == 1)
    // rows survive intact (the exchange re-orders, never drops)
    assert(spark.read.format("graft.sources.GraftKvSink").option("path", dir)
      .load().count() == 2000L)
    // catalog route: CoW DML keeps the clustering invariant — rewritten
    // groups come out range-clustered again
    spark.sql("DROP TABLE IF EXISTS graft.srt.t")
    spark.sql("CREATE TABLE graft.srt.t (id BIGINT, s STRING) USING graft_kv " +
      s"OPTIONS (path '$dir', sortBy 'id', sortBuckets '4')")
    spark.sql("UPDATE graft.srt.t SET s = 'x' WHERE id < 500")
    val r2 = graft.sources.GraftKvSink.fileStats(dir, "id")
      .map { case (lo, hi) => (lo.toLong, hi.toLong) }.sortBy(_._1)
    assert(r2.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, r2.toString)
    assert(spark.table("graft.srt.t").where("s = 'x'").count() == 500L)
    spark.sql("DROP TABLE IF EXISTS graft.srt.t")
    // a sortBy column missing from the schema refuses at write planning
    val dir2 = java.nio.file.Files.createTempDirectory("graft_kv_sort2").toString
    val e = intercept[Exception] {
      Seq((1L, "a")).toDF("id", "s").write
        .format("graft.sources.GraftKvSink").option("path", dir2)
        .option("sortBy", "nope").mode("overwrite").save()
    }
    assert(e.getMessage.contains("sortBy"), e.getMessage)
  }

  test("OPTIMIZE ZORDER BY re-clusters as a retained-history rewrite") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_zo").toString
    // two dimensions deliberately scattered across files: a straight write
    // of hash-ordered rows gives every file near-full-range min/max stats
    val df = (0L until 4000L).map { i =>
      val a = (i * 48271L) % 200L; val b = (i * 16807L) % 50L
      (a, b, i.toDouble)
    }.toDF("a", "b", "v")
    df.repartition(4).write.format("graft.sources.GraftKvSink")
      .option("path", dir).mode("overwrite").save()
    def planned(fs: org.apache.spark.sql.sources.Filter*): Int =
      new graft.sources.GraftKvScan(dir, None, fs).planInputPartitions().length
    // pre-rewrite: hash layout -> a box on either column prunes nothing
    assert(planned(org.apache.spark.sql.sources.LessThanOrEqual("a", 20L)) == 4)
    spark.sql("DROP TABLE IF EXISTS graft.zo.t")
    spark.sql("CREATE TABLE graft.zo.t (a BIGINT, b BIGINT, v DOUBLE) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    spark.sql("OPTIMIZE graft.zo.t ZORDER BY (a, b) INTO 8 FILES")
    assert(planned() == 8)
    // both dimensions prune after the rewrite; rows conserved exactly
    assert(planned(org.apache.spark.sql.sources.LessThanOrEqual("a", 20L)) < 8)
    assert(planned(org.apache.spark.sql.sources.LessThanOrEqual("b", 5L)) < 8)
    assert(spark.table("graft.zo.t").count() == 4000L)
    assert(spark.table("graft.zo.t").agg(org.apache.spark.sql.functions
      .sum($"v")).as[Double].head() == (0L until 4000L).map(_.toDouble).sum)
    // the rewrite is a commit: pre-rewrite state still time-travels
    assert(graft.sources.GraftKvSink.retainedFiles(dir).length == 4)
    assert(spark.sql("SELECT count(*) FROM graft.zo.t VERSION AS OF 0")
      .as[Long].head() == 4000L)
    // refusal arms: unknown and non-numeric columns
    val e1 = intercept[Exception] {
      spark.sql("OPTIMIZE graft.zo.t ZORDER BY (nope)") }
    assert(e1.getMessage.contains("not in the table schema"), e1.getMessage)
    // merge-on-read deltas present -> refuse toward plain OPTIMIZE
    spark.sql("DROP TABLE IF EXISTS graft.zo.tm")
    spark.sql("CREATE TABLE graft.zo.tm (a BIGINT, b BIGINT, v DOUBLE) " +
      s"USING graft_kv OPTIONS (path '$dir', mor 'true')")
    spark.sql("DELETE FROM graft.zo.tm WHERE a = 1")
    val e2 = intercept[Exception] {
      spark.sql("OPTIMIZE graft.zo.tm ZORDER BY (a)") }
    assert(e2.getMessage.contains("merge-on-read"), e2.getMessage)
    spark.sql("DROP TABLE IF EXISTS graft.zo.tm")
    spark.sql("DROP TABLE IF EXISTS graft.zo.t")
  }

  test("SHALLOW CLONE: zero-copy branch; clone maintenance never touches the source") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_kv_cln_s").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft_kv_cln_t")
      .resolve("t").toString
    def epochWrite(dir: String, epoch: Long, rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "s").write.format("graft.sources.GraftKvSink")
        .option("path", dir).option("epoch", epoch.toString)
        .mode("append").save()
    epochWrite(src, 1L, (1L, "a"), (2L, "b"))
    epochWrite(src, 2L, (3L, "c"))
    epochWrite(src, 3L, (4L, "d"))
    spark.sql("DROP TABLE IF EXISTS graft.cln.s")
    spark.sql("DROP TABLE IF EXISTS graft.cln.t")
    spark.sql("CREATE TABLE graft.cln.s (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$src')")
    spark.sql("CREATE TABLE graft.cln.t SHALLOW CLONE graft.cln.s " +
      s"VERSION AS OF 2 LOCATION '$tgt'")
    def ids(t: String): Seq[Long] =
      spark.sql(s"SELECT id FROM $t").as[Long].collect().toSeq.sorted
    // the clone is the boundary state, and NO data byte was copied:
    // every reference is an absolute path into the source's directory
    assert(ids("graft.cln.t") == Seq(1L, 2L, 3L))
    val refs = graft.sources.GraftKvSink.listedFiles(tgt)._1
    assert(refs.nonEmpty && refs.forall(_.startsWith("/")), refs)
    // a pure-append source's pre-boundary states time-travel on the clone
    // for free: the prefix of referenced files IS that state
    assert(ids("graft.cln.t VERSION AS OF 1") == Seq(1L, 2L))
    // divergence: an append to the clone never shows in the source
    epochWrite(tgt, 5L, (9L, "z"))
    assert(ids("graft.cln.t") == Seq(1L, 2L, 3L, 9L))
    assert(ids("graft.cln.s") == Seq(1L, 2L, 3L, 4L))
    // CoW DML on the clone rewrites LOCALLY; the source file survives
    spark.sql("UPDATE graft.cln.t SET s = 'upd' WHERE id = 1")
    assert(spark.sql("SELECT s FROM graft.cln.t WHERE id = 1")
      .as[String].head() == "upd")
    assert(ids("graft.cln.s") == Seq(1L, 2L, 3L, 4L))
    // the CoW rewrite RETAINED the superseded foreign reference, so the
    // pre-DML boundary still reconstructs exactly (clone history works)
    assert(ids("graft.cln.t VERSION AS OF 2") == Seq(1L, 2L, 3L))
    // vacuum on the clone (grace 0) reclaims its retained history but
    // NEVER deletes foreign files — the source still reads completely
    graft.sources.GraftKvSink.vacuum(tgt, graceMs = 0L)
    assert(ids("graft.cln.s") == Seq(1L, 2L, 3L, 4L))
    assert(ids("graft.cln.t").size == 4)
    // post-vacuum, pre-rewrite states refuse like any vacuumed history
    assertThrows[IllegalArgumentException] {
      ids("graft.cln.t VERSION AS OF 1")
    }
    // compaction self-localizes the clone: foreign refs fold into local
    // files, and the fold READS the foreign bytes without deleting them
    spark.sql("OPTIMIZE graft.cln.t")
    val after = graft.sources.GraftKvSink.listedFiles(tgt)._1
    assert(after.forall(!_.startsWith("/")), after)
    assert(ids("graft.cln.t").size == 4)
    assert(ids("graft.cln.s") == Seq(1L, 2L, 3L, 4L))
    // truncating DELETE on the (re-cloned) table drops references only
    val tgt2 = java.nio.file.Files.createTempDirectory("graft_kv_cln_t2")
      .resolve("t2").toString
    spark.sql("DROP TABLE IF EXISTS graft.cln.t2")
    spark.sql("CREATE TABLE graft.cln.t2 SHALLOW CLONE graft.cln.s " +
      s"LOCATION '$tgt2'")
    assert(ids("graft.cln.t2") == Seq(1L, 2L, 3L, 4L))
    spark.sql("DELETE FROM graft.cln.t2")
    assert(ids("graft.cln.t2").isEmpty)
    assert(ids("graft.cln.s") == Seq(1L, 2L, 3L, 4L)) // untouched
    // a source with live MOR deltas refuses the clone
    spark.sql("DROP TABLE IF EXISTS graft.cln.sm")
    spark.sql("CREATE TABLE graft.cln.sm (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$src', mor 'true')")
    spark.sql("DELETE FROM graft.cln.sm WHERE id = 2")
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.cln.t3 SHALLOW CLONE graft.cln.sm " +
        s"LOCATION '${tgt2}_x'")
    }
    assert(e.getMessage.contains("merge-on-read"), e.getMessage)
    Seq("s", "t", "t2", "sm").foreach(n =>
      spark.sql(s"DROP TABLE IF EXISTS graft.cln.$n"))
  }

  test("fromTimestamp incremental reads resolve via commit clocks; DESCRIBE DETAIL") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_fts").toString
    def epochWrite(epoch: Long, rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "s").write.format("graft.sources.GraftKvSink")
        .option("path", dir).option("epoch", epoch.toString)
        .mode("append").save()
    epochWrite(1L, (1L, "a"), (2L, "b"))
    epochWrite(2L, (3L, "c"))
    epochWrite(3L, (4L, "d"))
    spark.sql("DROP TABLE IF EXISTS graft.dt.t")
    spark.sql("CREATE TABLE graft.dt.t (id BIGINT, s STRING) USING graft_kv " +
      s"OPTIONS (path '$dir', 'check.id_pos' = 'id > 0')")
    // the only honest clock source: read the recorded stamps back
    val ts = spark.sql("DESCRIBE HISTORY graft.dt.t")
      .select("version", "commit_ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    def incr(t: Long): Seq[Long] =
      spark.read.format("graft.sources.GraftKvSink").option("path", dir)
        .option("fromTimestamp", t.toString).load()
        .select("id").as[Long].collect().toSeq.sorted
    assert(incr(ts(2L)) == Seq(4L))           // strictly after epoch 2's commit
    assert(incr(ts(2L) - 1L) == Seq(3L, 4L))  // between commits 1 and 2
    assert(incr(ts(1L) - 100000L) == Seq(1L, 2L, 3L, 4L)) // before first: all
    assert(incr(ts(3L) + 100000L) == Seq.empty)           // future: nothing new
    // ISO-8601 spelling resolves identically
    assert(spark.read.format("graft.sources.GraftKvSink").option("path", dir)
      .option("fromTimestamp",
        java.time.Instant.ofEpochMilli(ts(2L)).toString).load()
      .select("id").as[Long].collect().toSeq.sorted == Seq(4L))
    assertThrows[IllegalArgumentException] {
      spark.read.format("graft.sources.GraftKvSink").option("path", dir)
        .option("fromTimestamp", ts(2L).toString)
        .option("fromEpoch", "2").load().count()
    }
    // startingTimestamp: the streaming spelling of the same clock — a
    // stream from epoch-2's commit instant replays strictly-later epochs
    val root = java.nio.file.Files.createTempDirectory("graft_kv_fts_ck")
    val q = spark.readStream.format("graft.sources.GraftKvSink")
      .option("path", dir).option("startingTimestamp", ts(2L).toString).load()
      .writeStream.format("memory").queryName("startts_snap")
      .option("checkpointLocation", root.resolve("ck").toString).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("startts_snap").collect().map(_.getLong(0)).toSet ==
      Set(4L))
    // "from now": a clock at/after the last commit starts an EMPTY stream
    // that legitimately WAITS — and picks up the next epoch when it lands
    val q2 = spark.readStream.format("graft.sources.GraftKvSink")
      .option("path", dir)
      .option("startingTimestamp", (ts(3L) + 100000L).toString).load()
      .writeStream.format("memory").queryName("startts_now")
      .option("checkpointLocation", root.resolve("ck2").toString).start()
    try {
      q2.processAllAvailable()
      assert(spark.table("startts_now").count() == 0)
      epochWrite(4L, (5L, "e"))
      q2.processAllAvailable()
      assert(spark.table("startts_now").collect().map(_.getLong(0)).toSet ==
        Set(5L))
    } finally q2.stop()
    // a never-written table answers DESCRIBE DETAIL with the zero snapshot
    val fresh = java.nio.file.Files.createTempDirectory("graft_kv_fresh")
      .resolve("t").toString
    spark.sql("DROP TABLE IF EXISTS graft.dt.f")
    spark.sql("CREATE TABLE graft.dt.f (id BIGINT) USING graft_kv " +
      s"OPTIONS (path '$fresh')")
    val d0 = spark.sql("DESCRIBE DETAIL graft.dt.f").collect().head
    assert(d0.getAs[Long]("num_files") == 0L && d0.getAs[Long]("version") == -1L)
    spark.sql("DROP TABLE IF EXISTS graft.dt.f")
    // SHOW TBLPROPERTIES surfaces the behavioral options + constraints
    val props = spark.sql("SHOW TBLPROPERTIES graft.dt.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("check.id_pos").contains("id > 0"), props)
    assert(props.get("path").contains(dir), props)
    // DESCRIBE DETAIL: the one-row metadata snapshot
    val det = spark.sql("DESCRIBE DETAIL graft.dt.t").collect().head
    assert(det.getAs[String]("format") == "graft_kv")
    assert(det.getAs[Long]("num_files") >= 4L) // >=: small writes may split
    assert(det.getAs[Long]("num_rows") == 5L)  // 4 fixture rows + epoch 4
    assert(det.getAs[Long]("size_bytes") > 0L)
    assert(det.getAs[Long]("num_delta_files") == 0L)
    assert(det.getAs[String]("constraints") == "id_pos")
    spark.sql("DROP TABLE IF EXISTS graft.dt.t")
  }

  test("streaming and CDC reads work over a SHALLOW CLONE's foreign references") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_kv_clns").toString
    val root = java.nio.file.Files.createTempDirectory("graft_kv_clns_t")
    val tgt = root.resolve("t").toString
    def epochWrite(dir: String, epoch: Long, rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "s").write.format("graft.sources.GraftKvSink")
        .option("path", dir).option("epoch", epoch.toString)
        .mode("append").save()
    epochWrite(src, 1L, (1L, "a"), (2L, "b"))
    epochWrite(src, 2L, (3L, "c"))
    spark.sql("DROP TABLE IF EXISTS graft.clns.s")
    spark.sql("DROP TABLE IF EXISTS graft.clns.t")
    spark.sql("CREATE TABLE graft.clns.s (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$src')")
    spark.sql("CREATE TABLE graft.clns.t SHALLOW CLONE graft.clns.s " +
      s"LOCATION '$tgt'")
    // a snapshot stream over the clone replays the FOREIGN epochs in
    // place, then picks up clone-local appends — the executor-side reader
    // resolves absolute references like any local file
    val q = spark.readStream.format("graft.sources.GraftKvSink")
      .option("path", tgt).load()
      .writeStream.format("memory").queryName("clone_stream")
      .option("checkpointLocation", root.resolve("ck").toString).start()
    try {
      q.processAllAvailable()
      assert(spark.table("clone_stream").collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L))
      epochWrite(tgt, 3L, (9L, "z")) // clone-local epoch
      q.processAllAvailable()
      assert(spark.table("clone_stream").collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L, 9L))
    } finally q.stop()
    // the clone's own CoW DML feeds its changefeed: the stream synthesizes
    // the rewrite's records from the retained FOREIGN pre-image file and
    // the local replacement (CoW synthesis is delete+insert by design —
    // the file diff has no key to pair on; MOR deltas carry the
    // four-valued classification)
    spark.sql("UPDATE graft.clns.t SET s = 'upd' WHERE id = 2")
    val qc = spark.readStream.format("graft.sources.GraftKvSink")
      .option("path", tgt).option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("clone_cdc")
      .option("checkpointLocation", root.resolve("ck_cdc").toString).start()
    try qc.processAllAvailable() finally qc.stop()
    val cdc = spark.table("clone_cdc").where("_commit_epoch = 4")
      .select("_change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(cdc == Set(("insert", 2L), ("delete", 2L)), cdc)
    // and the source remains byte-identical through all of it
    assert(spark.sql("SELECT id FROM graft.clns.s").as[Long]
      .collect().toSet == Set(1L, 2L, 3L))
    // a clone OF the clone re-points at the ORIGINAL owner: its foreign
    // references resolve into the source's (or the clone's own) dirs,
    // never into an intermediate clone's reference list by relative name
    val tgt2 = root.resolve("t2").toString
    spark.sql("DROP TABLE IF EXISTS graft.clns.t2")
    spark.sql("CREATE TABLE graft.clns.t2 SHALLOW CLONE graft.clns.t " +
      s"LOCATION '$tgt2'")
    val refs2 = graft.sources.GraftKvSink.listedFiles(tgt2)._1
    assert(refs2.forall(_.startsWith("/")), refs2)
    assert(refs2.exists(_.startsWith(src)), refs2)   // original files direct
    assert(!refs2.exists(_.startsWith(tgt2)), refs2) // nothing self-relative
    assert(spark.sql("SELECT id FROM graft.clns.t2").as[Long]
      .collect().toSet == Set(1L, 2L, 3L, 9L))
    spark.sql("DROP TABLE IF EXISTS graft.clns.s")
    spark.sql("DROP TABLE IF EXISTS graft.clns.t")
    spark.sql("DROP TABLE IF EXISTS graft.clns.t2")
  }

  test("RESTORE TO TIMESTAMP AS OF; VACUUM DRY RUN previews without deleting") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_rts").toString
    def epochWrite(epoch: Long, rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "s").write.format("graft.sources.GraftKvSink")
        .option("path", dir).option("epoch", epoch.toString)
        .mode("append").save()
    epochWrite(1L, (1L, "a"), (2L, "b"))
    epochWrite(2L, (3L, "c"))
    epochWrite(3L, (4L, "d"))
    spark.sql("DROP TABLE IF EXISTS graft.rts.t")
    spark.sql("CREATE TABLE graft.rts.t (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    val ts = spark.sql("DESCRIBE HISTORY graft.rts.t")
      .select("version", "commit_ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    def ids(t: String): Seq[Long] =
      spark.sql(s"SELECT id FROM $t").as[Long].collect().toSeq.sorted
    // wall-clock restore: epoch-2's commit instant names the {1,2,3} state
    spark.sql("RESTORE TABLE graft.rts.t TO TIMESTAMP AS OF " +
      s"'${java.time.Instant.ofEpochMilli(ts(2L))}'")
    assert(ids("graft.rts.t") == Seq(1L, 2L, 3L))
    // DRY RUN lists the retained epoch-3 file; NOTHING is deleted and the
    // pre-restore state still time-travels afterwards
    val preview = spark.sql("VACUUM graft.rts.t RETAIN 0 MINUTES DRY RUN")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(preview.exists { case (f, reason) =>
      f.startsWith("epoch-3-") && reason == "retained-history" }, preview.toSeq)
    assert(ids("graft.rts.t VERSION AS OF 3") == Seq(1L, 2L, 3L, 4L))
    // the real vacuum then reclaims exactly what the preview named
    val previewCount = preview.count(_._2 == "retained-history")
    assert(graft.sources.GraftKvSink.vacuum(dir, graceMs = 0L) == previewCount)
    assertThrows[IllegalArgumentException] { ids("graft.rts.t VERSION AS OF 3") }
    assert(ids("graft.rts.t") == Seq(1L, 2L, 3L))
    spark.sql("DROP TABLE IF EXISTS graft.rts.t")
  }

  test("fromEpoch batch-incremental reads: exact windows, pure-append fences") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_incr").toString
    def epochWrite(epoch: Long, rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "s").write.format("graft.sources.GraftKvSink")
        .option("path", dir).option("epoch", epoch.toString)
        .mode("append").save()
    epochWrite(1L, (1L, "a"), (2L, "b"))
    epochWrite(2L, (3L, "c"))
    epochWrite(3L, (4L, "d"))
    def incr(from: Long, upTo: Option[Long] = None): Seq[Long] = {
      val r0 = spark.read.format("graft.sources.GraftKvSink")
        .option("path", dir).option("fromEpoch", from.toString)
      upTo.fold(r0)(u => r0.option("asOfEpoch", u.toString))
        .load().select("id").as[Long].collect().toSeq.sorted
    }
    assert(incr(0L) == Seq(1L, 2L, 3L, 4L)) // whole history
    assert(incr(2L) == Seq(3L, 4L))         // since mark 1
    assert(incr(2L, Some(2L)) == Seq(3L))   // bounded window (1, 2]
    assert(incr(3L) == Seq(4L))
    assert(incr(4L) == Seq.empty)           // beyond head: nothing new
    // option-shaped misuse errors
    assertThrows[IllegalArgumentException] { incr(2L, Some(1L)) } // from > asOf
    assertThrows[IllegalArgumentException] { // batch-only option
      new graft.sources.GraftKvScan(dir, fromEpoch = Some(2L))
        .toMicroBatchStream("unused")
    }
    // a merge-on-read DML inside the range breaks the pure-append
    // contract: rows were mutated, not appended — refuse
    spark.sql("DROP TABLE IF EXISTS graft.incr.t")
    spark.sql("CREATE TABLE graft.incr.t (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir', mor 'true')")
    spark.sql("DELETE FROM graft.incr.t WHERE id = 3")
    val e1 = intercept[IllegalArgumentException] { incr(2L) }
    assert(e1.getMessage.contains("merge-on-read"), e1.getMessage)
    // ...but reading from past the delta epoch is appends-only again
    val deltaEpoch = graft.sources.GraftKvSink.listedFiles(dir)._2
      .map(_.stripPrefix("epoch-").takeWhile(_.isDigit).toLong).max
    assert(incr(deltaEpoch + 1) == Seq.empty)
    // compaction folds fine-grained epochs: a boundary at or below the
    // fold can no longer separate "new" rows — refuse
    graft.sources.GraftKvSink.compact(dir, deltaEpoch)
    val e2 = intercept[IllegalArgumentException] { incr(2L) }
    assert(e2.getMessage.contains("compacted"), e2.getMessage)
    assert(incr(deltaEpoch + 1) == Seq.empty) // past the fold: answerable
    spark.sql("DROP TABLE IF EXISTS graft.incr.t")
  }

  test("PARTITIONED BY: tuple-per-file layout, exact pruning, DML and compaction keep it") {
    import graft.sources.{GraftKvSink, GraftKvScan, GraftPartition}
    import org.apache.spark.sql.sources._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_part").toString
    spark.sql("DROP TABLE IF EXISTS graft.pt.t")
    spark.sql("CREATE TABLE graft.pt.t (id BIGINT, region STRING, cat BIGINT) " +
      "USING graft_kv PARTITIONED BY (region, bucket(4, id), truncate(10, cat)) " +
      s"OPTIONS (path '$dir', epochs 'true')")
    // three regions x category bands, plus a NULL-region row
    spark.sql("INSERT INTO graft.pt.t SELECT id, " +
      "CASE CAST(id % 3 AS INT) WHEN 0 THEN 'ap' WHEN 1 THEN 'eu' ELSE 'us' END, " +
      "id % 25 FROM range(300)")
    spark.sql("INSERT INTO graft.pt.t VALUES (CAST(1000 AS BIGINT), NULL, CAST(99 AS BIGINT))")
    val mf0 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(mf0.partitionSpec == Seq("region", "bucket(4,id)", "truncate(10,cat)"), mf0.partitionSpec)
    // every file carries a full tuple; writer-computed stats agree with it
    mf0.files.foreach { case (n, _) =>
      val st = mf0.stats.getOrElse(n, Map.empty)
      assert(st.contains("part:region") && st.contains("part:bucket(4,id)") &&
        st.contains("part:truncate(10,cat)"), s"$n -> ${st.keySet}")
      assert(st("part:region")._1 == st("part:region")._2)
    }
    val total = mf0.files.length
    def planned(fs: org.apache.spark.sql.sources.Filter*): Int =
      new GraftKvScan(dir, None, fs.toSeq).planInputPartitions().length
    // identity pruning is EXACT: only 'eu' files (plus none untagged) plan
    val euFiles = mf0.files.count { case (n, _) =>
      mf0.stats(n)("part:region")._1 == "eu" }
    assert(planned(EqualTo("region", "eu")) == euFiles, s"vs $euFiles/$total")
    assert(euFiles < total)
    // a null-rejecting predicate prunes the all-NULL partition
    assert(planned(IsNotNull("region")) == total - 1)
    assert(planned(IsNull("region")) == 1)
    // bucket pruning on a point probe: only id=17's residue class plans
    val b17 = GraftPartition.bucketOf("17", 4).toString
    val bFiles = mf0.files.count { case (n, _) =>
      mf0.stats(n)("part:bucket(4,id)")._1 == b17 }
    assert(planned(EqualTo("id", 17L)) <= bFiles, s"vs $bFiles/$total")
    // truncate range pruning: cat >= 20 excludes bands 0 and 10
    val hi = mf0.files.count { case (n, _) =>
      val v = mf0.stats(n)("part:truncate(10,cat)")._1
      v != "\\N" && v.toLong >= 20L }
    assert(planned(GreaterThanOrEqual("cat", 20L)) == hi, s"vs $hi/$total")
    // correctness under pruning (the point of it all)
    assert(spark.sql("SELECT count(*) FROM graft.pt.t WHERE region = 'eu'")
      .head.getLong(0) == 100L)
    assert(spark.sql("SELECT count(*) FROM graft.pt.t WHERE cat >= 20")
      .head.getLong(0) == 300L / 25 * 5 + 1)
    // CoW DML re-splits by tuple — the rewrite keeps the layout
    spark.sql("UPDATE graft.pt.t SET cat = cat + 1 WHERE region = 'eu' AND cat = 24")
    val mf1 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    mf1.files.foreach { case (n, _) =>
      assert(mf1.stats.getOrElse(n, Map.empty).contains("part:region"), n) }
    assert(spark.sql("SELECT count(*) FROM graft.pt.t WHERE cat = 25")
      .head.getLong(0) == 4L)
    // compaction merges PER GROUP: tuples survive, pruning stays exact
    GraftKvSink.compact(dir, 99L)
    val mf2 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(mf2.files.length > 1, "per-group compaction kept tuple files")
    assert(mf2.files.length < mf1.files.length || mf1.files.length == mf2.files.length)
    mf2.files.foreach { case (n, _) =>
      assert(mf2.stats.getOrElse(n, Map.empty).contains("part:region"), n) }
    assert(planned(EqualTo("region", "eu")) ==
      mf2.files.count(f => mf2.stats(f._1)("part:region")._1 == "eu"))
    assert(spark.sql("SELECT count(*) FROM graft.pt.t WHERE region = 'eu'")
      .head.getLong(0) == 100L)
    assert(spark.table("graft.pt.t").count() == 301L)
    // redeclaring a DIFFERENT spec over committed data refuses
    val e = intercept[Exception] {
      GraftKvSink.setPartitionSpec(dir,
        spark.table("graft.pt.t").schema, Seq("cat"))
    }
    assert(e.getMessage.contains("cannot change partitioning"), e.getMessage)
    // DESCRIBE surfaces the declared transforms
    val desc = spark.sql("DESCRIBE TABLE EXTENDED graft.pt.t").collect()
      .map(_.mkString(" ")).mkString("\n")
    assert(desc.contains("Part 0") || desc.toLowerCase.contains("region"), desc)
    spark.sql("DROP TABLE graft.pt.t")
  }

  test("partitioned path-route writes split and prune without any catalog") {
    import graft.sources.{GraftKvSink, GraftKvScan}
    import org.apache.spark.sql.sources._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_part2").toString
    (0L until 60L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
      .repartition(2).write.format("graft.sources.GraftKvSink")
      .option("path", dir).option("partitionedBy", "grp").mode("append").save()
    val mf = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(mf.partitionSpec == Seq("grp"), mf.partitionSpec)
    assert(mf.files.forall(f => mf.stats(f._1).contains("part:grp")))
    val g1 = mf.files.count(f => mf.stats(f._1)("part:grp")._1 == "g1")
    assert(new GraftKvScan(dir, None, Seq(EqualTo("grp", "g1")))
      .planInputPartitions().length == g1)
    assert(g1 < mf.files.length)
    // the literal two-character string backslash-N is DATA, not the null
    // tuple: it round-trips and is never pruned as an all-null partition
    Seq((300L, "\\N")).toDF("id", "grp").write
      .format("graft.sources.GraftKvSink").option("path", dir)
      .mode("append").save()
    assert(spark.read.format("graft.sources.GraftKvSink").option("path", dir)
      .load().where("grp = '\\\\N'").count() == 1L)
    assert(spark.read.format("graft.sources.GraftKvSink").option("path", dir)
      .load().where("grp IS NOT NULL AND id = 300").count() == 1L)
    // a second writer with a CONFLICTING spec refuses pre-commit
    val e = intercept[Exception] {
      Seq((99L, "gX")).toDF("id", "grp").write
        .format("graft.sources.GraftKvSink").option("path", dir)
        .option("partitionedBy", "bucket(2,id)").mode("append").save()
    }
    assert(e.getMessage != null)
    // an option-less append to the partitioned dir still splits (manifest
    // is authoritative)
    Seq((200L, "g1"), (201L, "zz")).toDF("id", "grp").write
      .format("graft.sources.GraftKvSink").option("path", dir)
      .mode("append").save()
    val mf2 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(mf2.files.forall(f => mf2.stats(f._1).contains("part:grp")))
    val zz = mf2.files.filter(f => mf2.stats(f._1)("part:grp")._1 == "zz")
    assert(zz.length == 1 && zz.head._2 == 1L)
    assert(spark.read.format("graft.sources.GraftKvSink").option("path", dir)
      .load().count() == 63L) // 60 + backslash-N row + the 2-row append
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the table; plain MERGE never does") {
    import spark.implicits._
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_mevo").toString
    spark.sql("DROP TABLE IF EXISTS graft.mevo.t")
    spark.sql("CREATE TABLE graft.mevo.t (id BIGINT, v DOUBLE) " +
      s"USING graft_kv OPTIONS (path '$dir', mor 'true')")
    spark.sql("INSERT INTO graft.mevo.t SELECT id, CAST(id AS DOUBLE) FROM range(5)")
    Seq((3L, 30.0, "x3"), (7L, 70.0, "x7")).toDF("id", "v", "tag")
      .createOrReplaceTempView("mevo_src")
    // a PLAIN merge ignores the extra source column (star intersection)
    spark.sql("MERGE INTO graft.mevo.t t USING mevo_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(spark.table("graft.mevo.t").schema.fieldNames.toSeq ==
      Seq("id", "v"))
    // the explicit spelling evolves: schema widens in the MANIFEST,
    // matched/inserted rows carry the value, history null-fills
    spark.sql("MERGE WITH SCHEMA EVOLUTION INTO graft.mevo.t t " +
      "USING mevo_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val rows = spark.table("graft.mevo.t").orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSeq
    assert(rows == Seq(0L -> None, 1L -> None, 2L -> None, 3L -> Some("x3"),
      4L -> None, 7L -> Some("x7")), rows)
    assert(GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
      .schema.fieldNames.toSeq == Seq("id", "v", "tag"))
    // the widened schema is write-durable: a path-route append sees it
    Seq((9L, 9.0, "x9")).toDF("id", "v", "tag").write
      .format("graft.sources.GraftKvSink").option("path", dir)
      .mode("append").save()
    assert(spark.table("graft.mevo.t").where("tag = 'x9'").count() == 1L)
    spark.sql("DROP TABLE graft.mevo.t")
  }

  test("INSERT OVERWRITE: static partition, dynamic mode, misalignment + guard refusals") {
    import spark.implicits._
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_ov").toString
    spark.sql("DROP TABLE IF EXISTS graft.ov.t")
    spark.sql("CREATE TABLE graft.ov.t (id BIGINT, grp STRING, v DOUBLE) " +
      s"USING graft_kv PARTITIONED BY (grp) OPTIONS (path '$dir', epochs 'true')")
    spark.sql("INSERT INTO graft.ov.t SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, CAST(id AS DOUBLE) " +
      "FROM range(10)")
    // static: replaces exactly the named partition, atomically
    spark.sql("INSERT OVERWRITE graft.ov.t PARTITION (grp = 'a') " +
      "SELECT id, CAST(-id AS DOUBLE) FROM range(3)")
    assert(spark.table("graft.ov.t").where("grp = 'a'").count() == 3L)
    assert(spark.table("graft.ov.t").where("grp = 'b'").count() == 5L)
    assert(spark.table("graft.ov.t").where("grp = 'a' AND v > 0").count() == 0L)
    // dynamic: replaces exactly the partitions the data lands in
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql("INSERT OVERWRITE graft.ov.t SELECT id, 'b' AS grp, " +
      "CAST(100 + id AS DOUBLE) FROM range(2)")
    finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    assert(spark.table("graft.ov.t").where("grp = 'b'").count() == 2L)
    assert(spark.table("graft.ov.t").where("grp = 'a'").count() == 3L)
    // pre-overwrite states stay time-travelable (retained history)
    assert(spark.sql("SELECT count(*) FROM graft.ov.t VERSION AS OF 0")
      .head.getLong(0) == 10L)
    // a predicate that does not align with partition boundaries refuses
    val e = intercept[Exception] {
      Seq((50L, "a", 5.0)).toDF("id", "grp", "v")
        .writeTo("graft.ov.t").overwrite(org.apache.spark.sql.functions.col("id") < 100)
    }
    assert(e.getMessage.contains("align"), e.getMessage)
    // replaceWhere admits only rows inside the replaced region
    val e2 = intercept[Exception] {
      Seq((60L, "zzz", 6.0)).toDF("id", "grp", "v")
        .writeTo("graft.ov.t").overwrite(org.apache.spark.sql.functions.col("grp") === "a")
    }
    assert(e2.getMessage.contains("replace_where"), e2.getMessage)
    // ...and a conforming replaceWhere lands atomically
    Seq((61L, "a", 6.5)).toDF("id", "grp", "v")
      .writeTo("graft.ov.t").overwrite(org.apache.spark.sql.functions.col("grp") === "a")
    assert(spark.table("graft.ov.t").where("grp = 'a'").collect()
      .map(_.getLong(0)).toSeq == Seq(61L))
    assert(spark.table("graft.ov.t").where("grp = 'b'").count() == 2L)
    spark.sql("DROP TABLE graft.ov.t")
  }

  test("OPTIMIZE ZORDER on a partitioned table keeps the tuple layout") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_zp").toString
    spark.sql("DROP TABLE IF EXISTS graft.zp.t")
    spark.sql("CREATE TABLE graft.zp.t (x BIGINT, y BIGINT, grp STRING) " +
      s"USING graft_kv PARTITIONED BY (grp) OPTIONS (path '$dir')")
    spark.sql("INSERT INTO graft.zp.t SELECT id % 97, (id * 31) % 89, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(2000)")
    ops.Ddl.execute(spark, "OPTIMIZE graft.zp.t ZORDER BY (x, y)")
    val m = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(m.files.nonEmpty)
    // every rewritten file still carries exactly one tuple
    m.files.foreach { case (n, _) =>
      assert(m.stats.getOrElse(n, Map.empty).contains("part:grp"), n) }
    // partition pruning survives the rewrite
    val aFiles = m.files.count(f => m.stats(f._1)("part:grp")._1 == "a")
    assert(new graft.sources.GraftKvScan(dir, None,
      Seq(org.apache.spark.sql.sources.EqualTo("grp", "a")))
      .planInputPartitions().length == aFiles)
    assert(aFiles < m.files.length)
    assert(spark.table("graft.zp.t").count() == 2000L)
    assert(spark.table("graft.zp.t").where("grp = 'a'").count() == 1000L)
    spark.sql("DROP TABLE graft.zp.t")
  }

  test("storage-partitioned join: co-partitioned kv tables join and aggregate with no exchange") {
    val d1 = java.nio.file.Files.createTempDirectory("graft_spj1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft_spj2").toString
    spark.sql("DROP TABLE IF EXISTS graft.spj.a")
    spark.sql("DROP TABLE IF EXISTS graft.spj.b")
    spark.sql("CREATE TABLE graft.spj.a (k STRING, v BIGINT) USING graft_kv " +
      s"PARTITIONED BY (k) OPTIONS (path '$d1')")
    spark.sql("CREATE TABLE graft.spj.b (k STRING, w BIGINT) USING graft_kv " +
      s"PARTITIONED BY (k) OPTIONS (path '$d2')")
    spark.sql("INSERT INTO graft.spj.a SELECT CASE CAST(id % 4 AS INT) " +
      "WHEN 0 THEN 'p' WHEN 1 THEN 'q' WHEN 2 THEN 'r' ELSE 's' END, id " +
      "FROM range(400)")
    spark.sql("INSERT INTO graft.spj.b SELECT CASE CAST(id % 4 AS INT) " +
      "WHEN 0 THEN 'p' WHEN 1 THEN 'q' WHEN 2 THEN 'r' ELSE 's' END, id * 2 " +
      "FROM range(200)")
    val prev = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.graft.planning.preserveDataGrouping",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k))
    Seq("spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.graft.planning.preserveDataGrouping" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
      .foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = spark.table("graft.spj.a").join(spark.table("graft.spj.b"), "k")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"), plan)
      assert(q.count() == 20000L) // 4 keys x 100 x 50
      val g = spark.table("graft.spj.a").groupBy("k").count()
      assert(!g.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(g.collect().map(_.getLong(1)).toSeq == Seq(100L, 100L, 100L, 100L))
      // a MOR delta makes tuple grouping unsound for the overlay — the
      // scan stands down to per-file planning (correctness over SPJ)
      spark.sql("DROP TABLE IF EXISTS graft.spj.m")
      val d3 = java.nio.file.Files.createTempDirectory("graft_spj3").toString
      spark.sql("CREATE TABLE graft.spj.m (k STRING, v BIGINT) USING graft_kv " +
        s"PARTITIONED BY (k) OPTIONS (path '$d3', mor 'true')")
      spark.sql("INSERT INTO graft.spj.m SELECT CASE WHEN id % 2 = 0 " +
        "THEN 'p' ELSE 'q' END, id FROM range(20)")
      spark.sql("DELETE FROM graft.spj.m WHERE v = 3")
      val m = spark.table("graft.spj.m").join(spark.table("graft.spj.a"), "k")
      assert(m.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(spark.table("graft.spj.m").count() == 19L)
      spark.sql("DROP TABLE graft.spj.m")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    spark.sql("DROP TABLE graft.spj.a")
    spark.sql("DROP TABLE graft.spj.b")
  }

  test("partition-aligned DELETE is metadata-only; misaligned routes to the rewrite") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_pd").toString
    spark.sql("DROP TABLE IF EXISTS graft.pd.t")
    spark.sql("CREATE TABLE graft.pd.t (id BIGINT, grp STRING) " +
      s"USING graft_kv PARTITIONED BY (grp) OPTIONS (path '$dir', epochs 'true')")
    spark.sql("INSERT INTO graft.pd.t SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(10)")
    val before = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    val aFiles = before.files.count(f =>
      before.stats(f._1)("part:grp")._1 == "a")
    spark.sql("DELETE FROM graft.pd.t WHERE grp = 'a'")
    val after = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    // files dropped, none ADDED (a CoW rewrite would write replacements)
    assert(after.files.length == before.files.length - aFiles)
    assert(after.removed.length == before.removed.length + aFiles)
    assert(spark.table("graft.pd.t").count() == 5L)
    assert(spark.table("graft.pd.t").where("grp = 'a'").count() == 0L)
    // pre-delete state reconstructs from retained history
    assert(spark.sql("SELECT count(*) FROM graft.pd.t VERSION AS OF 0")
      .head.getLong(0) == 10L)
    // a predicate that does not align still deletes correctly (row-level)
    spark.sql("DELETE FROM graft.pd.t WHERE id = 3")
    assert(spark.table("graft.pd.t").count() == 4L)
    // IN-list and null-rejecting shapes classify too
    spark.sql("INSERT INTO graft.pd.t VALUES (CAST(100 AS BIGINT), NULL)")
    spark.sql("DELETE FROM graft.pd.t WHERE grp IN ('b')")
    assert(spark.table("graft.pd.t").collect().map(_.getLong(0)).toSeq ==
      Seq(100L))
    spark.sql("DELETE FROM graft.pd.t WHERE grp IS NULL")
    assert(spark.table("graft.pd.t").count() == 0L)
    spark.sql("DROP TABLE graft.pd.t")
  }

  test("temporal partitioning: TIMESTAMP/DATE columns, days() pruning, " +
    "metadata retention DELETE, time-range replaceWhere") {
    import graft.sources.{GraftKvScan, GraftKvSink, GraftPartition}
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    // transform math straight from the parser: UTC buckets, floor
    // semantics (negatives round DOWN, the Iceberg rule)
    val sch = StructType(Seq(StructField("ts", TimestampType),
      StructField("d", DateType)))
    val days = GraftPartition.parseOne("days(ts)", sch)
    assert(days.key == "days(ts)")
    assert(days.apply("1709251200000000") == "19783") // 2024-03-01T00:00Z
    assert(days.apply("-1") == "-1") // 1969-12-31T23:59:59.999999Z floors DOWN
    assert(days.apply(null) == "\\N")
    assert(days.alignedAt("1709251200000000") && !days.alignedAt("-1"))
    assert(GraftPartition.parseOne("months(ts)", sch)
      .apply("1709251200000000") == "650") // (2024-1970)*12 + 2
    assert(GraftPartition.parseOne("years(ts)", sch)
      .apply("1709251200000000") == "54")
    assert(GraftPartition.parseOne("hours(ts)", sch)
      .apply("1709251200000000") == "474792")
    assert(GraftPartition.parseOne("days(d)", sch).apply("19783") == "19783")
    assert(GraftPartition.parseOne("months(d)", sch).apply("19783") == "650")
    intercept[IllegalArgumentException](GraftPartition.parseOne("hours(d)", sch))
    intercept[IllegalArgumentException](GraftPartition.parseOne("truncate(3,ts)", sch))

    val dir = java.nio.file.Files.createTempDirectory("graft_kv_time").toString
    spark.sql("DROP TABLE IF EXISTS graft.tt.t")
    spark.sql("CREATE TABLE graft.tt.t (id BIGINT, ts TIMESTAMP, d DATE, " +
      "v DOUBLE) USING graft_kv PARTITIONED BY (days(ts)) " +
      s"OPTIONS (path '$dir', epochs 'true')")
    // six UTC days (2024-03-01..06) x 8 rows, ts offset = id seconds,
    // plus one NULL-ts row routed to the "\\N" tuple
    spark.sql("INSERT INTO graft.tt.t SELECT id, " +
      "timestamp_micros(1709251200000000 + (id % 6) * 86400000000 + " +
      "id * 1000000), date_add(DATE'2024-03-01', CAST(id % 4 AS INT)), " +
      "CAST(id AS DOUBLE) FROM range(48)")
    spark.sql("INSERT INTO graft.tt.t VALUES (CAST(99 AS BIGINT), NULL, " +
      "DATE'2024-03-09', CAST(9 AS DOUBLE))")
    // external round trip (UTC session): exact micros and calendar dates
    assert(spark.table("graft.tt.t").count() == 49L)
    val r7 = spark.sql("SELECT ts, d FROM graft.tt.t WHERE id = 7").head
    assert(r7.getTimestamp(0).toInstant ==
      java.time.Instant.parse("2024-03-02T00:00:07Z"))
    assert(r7.getDate(1).toString == "2024-03-04")
    assert(spark.sql("SELECT ts FROM graft.tt.t WHERE id = 99").head.isNullAt(0))
    // ungrouped MIN/MAX/COUNT answer from the manifest (ts stats ranges)
    val aggDf = spark.sql(
      "SELECT min(ts) AS mn, max(ts) AS mx, count(*) AS c FROM graft.tt.t")
    assert(aggDf.queryExecution.executedPlan.toString
      .contains("PushedAggregation"), "manifest agg pushdown must fire on ts")
    val agg = aggDf.head
    assert(agg.getTimestamp(0).toInstant ==
      java.time.Instant.parse("2024-03-01T00:00:00Z"))
    assert(agg.getTimestamp(1).toInstant ==
      java.time.Instant.parse("2024-03-06T00:00:47Z"))
    assert(agg.getLong(2) == 49L)
    // tuple-per-file layout over the day buckets
    val mf = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(mf.partitionSpec == Seq("days(ts)"))
    val tuples = mf.files.map(f => mf.stats(f._1)("part:days(ts)")._1).toSet
    assert(tuples == (19783L to 19788L).map(_.toString).toSet + "\\N", tuples)
    // pruning from EXTERNAL filter values — both java.sql and java.time
    // shapes land on the same canonical micros
    def planned(fs: Filter*): Int =
      new GraftKvScan(dir, None, fs.toSeq).planInputPartitions().length
    val total = mf.files.length
    val lateDays = mf.files.count { f =>
      val v = mf.stats(f._1)("part:days(ts)")._1
      v != "\\N" && v.toLong >= 19786L }
    val cutTs = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-03-04T00:00:00Z"))
    assert(planned(GreaterThanOrEqual("ts", cutTs)) == lateDays &&
      lateDays < total, s"$lateDays/$total")
    assert(planned(GreaterThanOrEqual("ts",
      java.time.Instant.parse("2024-03-04T00:00:00Z"))) == lateDays)
    assert(planned(IsNull("ts")) ==
      mf.files.count(f => mf.stats(f._1)("part:days(ts)")._1 == "\\N"))
    // day-aligned retention DELETE is a PURE manifest edit: dropped files
    // move to removed (time travel keeps them), nothing is read/rewritten
    val dropDays = mf.files.count { f =>
      val v = mf.stats(f._1)("part:days(ts)")._1
      v != "\\N" && v.toLong < 19785L }
    spark.sql("DELETE FROM graft.tt.t WHERE ts < TIMESTAMP'2024-03-03 00:00:00'")
    val mf1 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(mf1.files.length == total - dropDays && dropDays > 0)
    assert(mf1.removed.length == mf.removed.length + dropDays)
    assert(spark.table("graft.tt.t").count() == 33L) // 49 - 2 days x 8
    // a mid-day horizon cannot be proven against day tuples: the DELETE
    // falls back to the row-level CoW rewrite and still answers exactly
    spark.sql("DELETE FROM graft.tt.t WHERE ts < TIMESTAMP'2024-03-03 12:00:00'")
    val mf2 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(mf2.rewrittenUpTo > mf1.rewrittenUpTo,
      "mid-day horizon must take the CoW rewrite path, at a FRESH epoch " +
        "(reusing the metadata delete's boundary would corrupt it)")
    assert(spark.table("graft.tt.t").count() == 25L)
    // both boundary states stay exactly reconstructable
    assert(spark.sql(
      s"SELECT count(*) FROM graft.tt.t VERSION AS OF ${mf1.rewrittenUpTo}")
      .head.getLong(0) == 33L)
    assert(spark.sql("SELECT count(*) FROM graft.tt.t VERSION AS OF 1")
      .head.getLong(0) == 49L)
    // time-range replaceWhere: the overwrite classifies day files by
    // tuple and the per-row guard renders the timestamp zone-free
    spark.sql("SELECT CAST(id + 1000 AS BIGINT) AS id, " +
      "timestamp_micros(1709683200000000 + id * 1000000) AS ts, " +
      "DATE'2024-03-06' AS d, CAST(id AS DOUBLE) AS v FROM range(4)")
      .writeTo("graft.tt.t")
      .overwrite(org.apache.spark.sql.functions.col("ts") >=
        org.apache.spark.sql.functions.lit(java.sql.Timestamp.from(
          java.time.Instant.parse("2024-03-06T00:00:00Z"))))
    assert(spark.table("graft.tt.t").count() == 21L) // 25 - 8 + 4
    assert(spark.table("graft.tt.t")
      .where("ts >= TIMESTAMP'2024-03-06 00:00:00'").count() == 4L)
    // ADD COLUMN with a time type goes through the same validation
    spark.sql("ALTER TABLE graft.tt.t ADD COLUMN seen_at TIMESTAMP")
    assert(spark.table("graft.tt.t").schema("seen_at").dataType == TimestampType)
    spark.sql("DROP TABLE graft.tt.t")
  }

  test("partition-disjoint concurrent commits merge; overlapping commits refuse") {
    import graft.sources.{GraftKvBatchWrite, GraftKvSink}
    import org.apache.spark.sql.sources.EqualTo
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_occ_part").toString
    spark.sql("DROP TABLE IF EXISTS graft.occ2.t")
    spark.sql("CREATE TABLE graft.occ2.t (id BIGINT, grp STRING) " +
      s"USING graft_kv PARTITIONED BY (grp) OPTIONS (path '$dir', epochs 'true')")
    spark.sql("INSERT INTO graft.occ2.t VALUES (CAST(1 AS BIGINT), 'a'), " +
      "(CAST(2 AS BIGINT), 'b'), (CAST(3 AS BIGINT), 'c')")
    val schema2 = StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType)))
    def mf() = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    def filesOf(g: String): Seq[String] = {
      val m = mf()
      m.files.map(_._1).filter(n =>
        m.stats.getOrElse(n, Map.empty).get("part:grp").exists(_._1 == g))
    }
    def ids(): Set[Long] =
      spark.table("graft.occ2.t").collect().map(_.getLong(0)).toSet
    // hand-planned CoW rewrite of one partition's files: read region
    // grp=g, snapshot taken at factory creation, commit controlled here
    def plannedRewrite(g: String, newId: Long)
        : (GraftKvBatchWrite, org.apache.spark.sql.connector.write.WriterCommitMessage) = {
      val victims = filesOf(g)
      val snap = mf() // the optimistic read this rewrite derives from
      val w = new GraftKvBatchWrite(dir, schema2, replace = false,
        explicitEpoch = None, replaceFiles = Some(() => victims),
        snapshot = () => Some(snap),
        partSpec = Seq("grp"),
        readFilters = () => Seq(EqualTo("grp", g)))
      val writer = w.createBatchWriterFactory(onePartition).createWriter(0, 31L)
      writer.write(InternalRow(newId, UTF8String.fromString(g)))
      (w, writer.commit())
    }
    // arm 1: rewrite of partition a ∥ metadata DELETE of partition b —
    // DISJOINT: merges (this refused before the partition-level matrix)
    val (w1, m1) = plannedRewrite("a", 10L)
    spark.sql("DELETE FROM graft.occ2.t WHERE grp = 'b'")
    w1.commit(Array(m1))
    assert(ids() == Set(3L, 10L), ids())
    // arm 2: rewrite of partition c ∥ append INTO c — OVERLAP: refuses
    // (the appended rows were never scanned — phantoms)
    val (w2, m2) = plannedRewrite("c", 11L)
    spark.sql("INSERT INTO graft.occ2.t VALUES (CAST(30 AS BIGINT), 'c')")
    val e2 = intercept[IllegalStateException] { w2.commit(Array(m2)) }
    assert(e2.getMessage.contains("row-level rewrite"), e2.getMessage)
    assert(ids() == Set(3L, 10L, 30L), ids())
    // arm 3: rewrite of partition a ∥ append into b — disjoint: merges
    val (w3, m3) = plannedRewrite("a", 12L)
    spark.sql("INSERT INTO graft.occ2.t VALUES (CAST(40 AS BIGINT), 'b')")
    w3.commit(Array(m3))
    assert(ids() == Set(3L, 12L, 30L, 40L), ids())
    // arm 4: replaceWhere overwrite of region c ∥ append into b —
    // disjoint: merges; the overwrite replaces exactly c's files
    val w4 = new GraftKvBatchWrite(dir, schema2, replace = false,
      explicitEpoch = None, partSpec = Seq("grp"),
      overwriteFilters = Some(Seq(EqualTo("grp", "c"))))
    val wr4 = w4.createBatchWriterFactory(onePartition).createWriter(0, 32L)
    wr4.write(InternalRow(50L, UTF8String.fromString("c")))
    val m4 = wr4.commit()
    spark.sql("INSERT INTO graft.occ2.t VALUES (CAST(60 AS BIGINT), 'b')")
    w4.commit(Array(m4))
    assert(ids() == Set(12L, 40L, 50L, 60L), ids())
    // arm 5: replaceWhere overwrite of region b ∥ append INTO b — refuse
    val w5 = new GraftKvBatchWrite(dir, schema2, replace = false,
      explicitEpoch = None, partSpec = Seq("grp"),
      overwriteFilters = Some(Seq(EqualTo("grp", "b"))))
    val wr5 = w5.createBatchWriterFactory(onePartition).createWriter(0, 33L)
    wr5.write(InternalRow(51L, UTF8String.fromString("b")))
    val m5 = wr5.commit()
    spark.sql("INSERT INTO graft.occ2.t VALUES (CAST(70 AS BIGINT), 'b')")
    val e5 = intercept[IllegalStateException] { w5.commit(Array(m5)) }
    assert(e5.getMessage.contains("partition overwrite"), e5.getMessage)
    // arm 6: dynamic partition overwrite of partition a ∥ append into c —
    // disjoint tuples: merges; same ∥ append into a would refuse
    val w6 = new GraftKvBatchWrite(dir, schema2, replace = false,
      explicitEpoch = None, partSpec = Seq("grp"), dynamicOverwrite = true)
    val wr6 = w6.createBatchWriterFactory(onePartition).createWriter(0, 34L)
    wr6.write(InternalRow(80L, UTF8String.fromString("a")))
    val m6 = wr6.commit()
    spark.sql("INSERT INTO graft.occ2.t VALUES (CAST(90 AS BIGINT), 'c')")
    w6.commit(Array(m6))
    assert(ids() == Set(40L, 50L, 60L, 70L, 80L, 90L), ids())
    val w7 = new GraftKvBatchWrite(dir, schema2, replace = false,
      explicitEpoch = None, partSpec = Seq("grp"), dynamicOverwrite = true)
    val wr7 = w7.createBatchWriterFactory(onePartition).createWriter(0, 35L)
    wr7.write(InternalRow(81L, UTF8String.fromString("a")))
    val m7 = wr7.commit()
    spark.sql("INSERT INTO graft.occ2.t VALUES (CAST(91 AS BIGINT), 'a')")
    val e7 = intercept[IllegalStateException] { w7.commit(Array(m7)) }
    assert(e7.getMessage.contains("dynamic partition overwrite"), e7.getMessage)
    spark.sql("DROP TABLE graft.occ2.t")
  }

  test("bucket-transform SPJ: co-bucketed tables join with no exchange") {
    val d1 = java.nio.file.Files.createTempDirectory("graft_spjb1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft_spjb2").toString
    spark.sql("DROP TABLE IF EXISTS graft.spjb.a")
    spark.sql("DROP TABLE IF EXISTS graft.spjb.b")
    spark.sql("CREATE TABLE graft.spjb.a (k BIGINT, va BIGINT) USING " +
      s"graft_kv PARTITIONED BY (bucket(8, k)) OPTIONS (path '$d1')")
    spark.sql("CREATE TABLE graft.spjb.b (k BIGINT, vb BIGINT) USING " +
      s"graft_kv PARTITIONED BY (bucket(8, k)) OPTIONS (path '$d2')")
    spark.sql("INSERT INTO graft.spjb.a SELECT id, id * 2 FROM range(1000)")
    spark.sql("INSERT INTO graft.spjb.b SELECT id, id * 3 FROM range(500)")
    val confs = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.graft.planning.preserveDataGrouping",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
    val prev = confs.map(k => k -> spark.conf.getOption(k))
    Seq("true", "true", "-1", "false").zip(confs).foreach {
      case (v, k) => spark.conf.set(k, v) }
    try {
      val j = spark.table("graft.spjb.a").join(spark.table("graft.spjb.b"), "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
        "co-bucketed join must plan exchange-free:\n" + plan)
      // correctness across the aligned groups: only b's keys survive
      assert(j.agg(org.apache.spark.sql.functions.sum("va")).head.getLong(0)
        == (0L until 500L).map(_ * 2).sum)
      assert(j.count() == 500L)
      // a side with MISSING buckets (9 keys cannot fill 8 buckets with
      // certainty — verify with whatever holes it has) still answers
      // exactly; Spark pushes partition values to realign
      spark.sql("DELETE FROM graft.spjb.b WHERE k >= 9")
      val j2 = spark.table("graft.spjb.a")
        .join(spark.table("graft.spjb.b"), "k")
      assert(j2.count() == 9L)
      assert(j2.agg(org.apache.spark.sql.functions.sum("vb")).head.getLong(0)
        == (0L until 9L).map(_ * 3).sum)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    spark.sql("DROP TABLE graft.spjb.a")
    spark.sql("DROP TABLE graft.spjb.b")
  }

  test("kv histogram sidecar: staleness guard, truncate clears, conf-off clears") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_hist").toString
    spark.sql("DROP TABLE IF EXISTS graft.hist.t")
    spark.sql("CREATE TABLE graft.hist.t (k BIGINT, v BIGINT) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    spark.sql("INSERT INTO graft.hist.t SELECT CASE WHEN id % 10 <> 0 " +
      "THEN CAST(1 AS BIGINT) ELSE id END, id FROM range(1000)")
    val prevH = spark.conf.getOption("spark.sql.statistics.histogram.enabled")
    val prevB = spark.conf.getOption("spark.sql.statistics.histogram.numBins")
    try {
      spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
      spark.conf.set("spark.sql.statistics.histogram.numBins", "8")
      spark.sql("ANALYZE TABLE graft.hist.t COMPUTE STATISTICS FOR COLUMNS")
      val hist = GraftKvSink.readColHist(dir)
      assert(hist.isDefined && hist.get._1 == 1000L &&
        hist.get._2.keySet == Set("k", "v"), hist)
      // every bin: lo <= hi, ndv >= 1; 8 bins recorded
      val bins = hist.get._2("k").split(';')
      assert(bins.length == 8, bins.length)
      bins.foreach { b =>
        val a = b.split(',')
        assert(a(0).toDouble <= a(1).toDouble && a(2).toLong >= 1L, b)
      }
      // the hot key dominates: its bins carry ndv 1 (the degenerate
      // [1, 1] bins), the cold tail carries many
      assert(bins.count(_.split(',')(2) == "1") >= 4, bins.mkString(";"))
      // staleness: tripling the row count stands the histogram down at
      // the scan (file intact, report absent) — checked via the reader
      // guard condition itself
      spark.sql("INSERT INTO graft.hist.t SELECT CAST(1 AS BIGINT), id " +
        "FROM range(2000)")
      val (hRows, _) = GraftKvSink.readColHist(dir).get
      val rowsNow = spark.table("graft.hist.t").count()
      assert(rowsNow > 2L * hRows,
        "fixture must trip the 2x staleness guard")
      // truncate clears the sidecar outright (same count could return
      // with a different distribution)
      spark.sql("INSERT OVERWRITE graft.hist.t SELECT id, id FROM range(10)")
      assert(GraftKvSink.readColHist(dir).isEmpty, "truncate must clear")
      // conf-off ANALYZE clears a prior sidecar
      spark.sql("ANALYZE TABLE graft.hist.t COMPUTE STATISTICS FOR COLUMNS")
      spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
      spark.sql("ANALYZE TABLE graft.hist.t COMPUTE STATISTICS FOR COLUMNS")
      assert(GraftKvSink.readColHist(dir).isDefined)
      spark.conf.set("spark.sql.statistics.histogram.enabled", "false")
      spark.sql("ANALYZE TABLE graft.hist.t COMPUTE STATISTICS FOR COLUMNS")
      assert(GraftKvSink.readColHist(dir).isEmpty, "conf-off must clear")
    } finally {
      prevH.fold(spark.conf.unset("spark.sql.statistics.histogram.enabled"))(
        spark.conf.set("spark.sql.statistics.histogram.enabled", _))
      prevB.fold(spark.conf.unset("spark.sql.statistics.histogram.numBins"))(
        spark.conf.set("spark.sql.statistics.histogram.numBins", _))
    }
    spark.sql("DROP TABLE graft.hist.t")
  }

  test("MOR DMLs on disjoint partitions merge; overlapping still refuse") {
    import graft.sources.{GraftKvDeltaBatchWrite, GraftKvSink}
    import org.apache.spark.sql.sources.EqualTo
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_morp").toString
    spark.sql("DROP TABLE IF EXISTS graft.morp.t")
    spark.sql("CREATE TABLE graft.morp.t (id BIGINT, grp STRING) " +
      s"USING graft_kv PARTITIONED BY (grp) OPTIONS (path '$dir', mor 'true')")
    spark.sql("INSERT INTO graft.morp.t VALUES (CAST(1 AS BIGINT), 'a'), " +
      "(CAST(2 AS BIGINT), 'a'), (CAST(3 AS BIGINT), 'b'), " +
      "(CAST(4 AS BIGINT), 'b')")
    val schema2 = StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType)))
    val m0 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    val aFile = m0.files.map(_._1).find(n =>
      m0.stats.getOrElse(n, Map.empty).get("part:grp").exists(_._1 == "a")).get
    // hand-planned MOR position-delete within partition a, read region
    // grp = 'a', snapshot captured at factory creation
    def plannedDelta(pos: Long): (GraftKvDeltaBatchWrite,
        org.apache.spark.sql.connector.write.WriterCommitMessage) = {
      val w = new GraftKvDeltaBatchWrite(dir, schema2,
        readFilters = () => Seq(EqualTo("grp", "a")))
      val writer = w.createBatchWriterFactory(onePartition).createWriter(0, 41L)
      writer.delete(null, InternalRow(UTF8String.fromString(aFile), pos))
      (w, writer.commit())
    }
    def ids(): Set[Long] =
      spark.table("graft.morp.t").collect().map(_.getLong(0)).toSet
    // disjoint: a concurrent MOR delta lands in partition b (misaligned
    // predicate forces the delta path) — the planned partition-a delete
    // MERGES (this refused before)
    val (w1, m1) = plannedDelta(0L)
    spark.sql("DELETE FROM graft.morp.t WHERE grp = 'b' AND id = 3")
    w1.commit(Array(m1))
    assert(ids() == Set(2L, 4L), ids())
    // overlap: a concurrent delta in partition a (this DML's own region)
    // refuses — its positions could collide with ours
    val (w2, m2) = plannedDelta(1L)
    spark.sql("DELETE FROM graft.morp.t WHERE grp = 'a' AND id = 2")
    val e = intercept[IllegalStateException] { w2.commit(Array(m2)) }
    assert(e.getMessage.contains("cannot be proven outside"), e.getMessage)
    assert(ids() == Set(4L), ids())
    spark.sql("DROP TABLE graft.morp.t")
  }

  test("OPTIMIZE WHERE folds only the named partitions") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_optw").toString
    spark.sql("DROP TABLE IF EXISTS graft.optw.t")
    spark.sql("CREATE TABLE graft.optw.t (id BIGINT, ts TIMESTAMP_NTZ, " +
      "grp STRING) USING graft_kv PARTITIONED BY (grp, days(ts)) " +
      s"OPTIONS (path '$dir', epochs 'true')")
    // four appends over four (grp, day) tuples: ids 0/1 -> grp a, 2/3 ->
    // grp b; even ids -> 2024-03-01 (day 19783), odd -> 03-02 (19784)
    (0 until 4).foreach { i =>
      spark.sql("INSERT INTO graft.optw.t SELECT id + " + (i * 10) +
        ", timestamp_micros(1709251200000000 + (id % 2) * 86400000000), " +
        "CASE WHEN id % 4 < 2 THEN 'a' ELSE 'b' END FROM range(4)")
    }
    def mf() = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    def grpFiles(g: String): Int = {
      val m = mf()
      m.files.count(f => m.stats.getOrElse(f._1, Map.empty)
        .get("part:grp").exists(_._1 == g))
    }
    assert(grpFiles("a") == 8 && grpFiles("b") == 8)
    val before = spark.table("graft.optw.t").orderBy("id").collect()
      .map(_.getLong(0)).toSeq
    // scoped fold: partition a's two tuple groups merge (4 files -> 1
    // each); partition b is untouched
    val out = spark.sql("OPTIMIZE graft.optw.t WHERE grp = 'a'").collect()
    assert(out.head.getString(0) == "OPTIMIZE", out.mkString)
    val m1 = mf()
    assert(grpFiles("a") == 2, s"a: ${grpFiles("a")}")
    assert(grpFiles("b") == 8, "partition b must be untouched")
    // the fence advanced only to the merged files' own max epoch, and
    // data reads bit-identically across the fold
    assert(m1.compactedUpTo == 3L, m1.compactedUpTo)
    assert(spark.table("graft.optw.t").orderBy("id").collect()
      .map(_.getLong(0)).toSeq == before)
    // pruning still works after the fold: merged files keep their tuples
    assert(spark.table("graft.optw.t").where("grp = 'a'").count() == 8L)
    // a temporal horizon scopes too (time-based maintenance): grp b's
    // day-19783 group merges, its day-19784 group stays. The horizon is
    // spelled as a plain STRING literal — the everyday spelling the
    // analyzer would coerce, so the handler's own coercion must too
    spark.sql("OPTIMIZE graft.optw.t WHERE grp = 'b' AND " +
      "ts < '2024-03-02 00:00:00'")
    assert(grpFiles("b") == 5, s"b: ${grpFiles("b")}")
    assert(spark.table("graft.optw.t").orderBy("id").collect()
      .map(_.getLong(0)).toSeq == before)
    // an unclassifiable predicate errors instead of folding wrongly
    val eW = intercept[Exception] {
      spark.sql("OPTIMIZE graft.optw.t WHERE id % 2 = 0").collect()
    }
    assert(eW.getMessage.contains("classifiable"), eW.getMessage)
    // a CLASSIFIABLE predicate over a non-partition column scopes
    // nothing — it must error (Delta's rule), not silently merge 0 files
    val eC = intercept[Exception] {
      spark.sql("OPTIMIZE graft.optw.t WHERE id = 5").collect()
    }
    assert(eC.getMessage.contains("partition source column"), eC.getMessage)
    // and a MIXED predicate (one source conjunct, one not) errors too:
    // allMatch can never prove the non-source conjunct, so it would
    // silently scope nothing
    val eM = intercept[Exception] {
      spark.sql("OPTIMIZE graft.optw.t WHERE grp = 'a' AND id = 5").collect()
    }
    assert(eM.getMessage.contains("partition source column"), eM.getMessage)
    spark.sql("DROP TABLE graft.optw.t")
  }

  test("scoped OPTIMIZE groups by recorded tuple across partition evolution") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_optev").toString
    spark.sql("DROP TABLE IF EXISTS graft.optev.t")
    spark.sql("CREATE TABLE graft.optev.t (id BIGINT, ts TIMESTAMP_NTZ, " +
      "grp STRING) USING graft_kv PARTITIONED BY (grp) " +
      s"OPTIONS (path '$dir', epochs 'true')")
    // four appends, each writing one file per grp tuple: 4 files under a,
    // 4 under b, epochs 0..3 in both groups
    (0 until 4).foreach { i =>
      spark.sql("INSERT INTO graft.optev.t SELECT id + " + (i * 10) +
        ", timestamp_micros(1709251200000000), " +
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(4)")
    }
    def mf() = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    def grpFiles(g: String): Seq[String] = {
      val m = mf()
      m.files.map(_._1).filter(n => m.stats.getOrElse(n, Map.empty)
        .get("part:grp").exists(_._1 == g))
    }
    assert(grpFiles("a").size == 4 && grpFiles("b").size == 4)
    val before = spark.table("graft.optev.t").orderBy("id").collect()
      .map(_.getLong(0)).toSeq
    assert(before.size == 16)
    // EVOLVE the spec away from grp: matched files now lack a
    // current-spec (days(ts)) tuple entry. Scoped folds must still group
    // and name targets by each file's OWN recorded tuple — grouping by
    // current-spec keys would collapse both runs below into one untagged
    // group whose md5-named target collides at the shared max epoch, so
    // the second fold would overwrite the first's still-live target.
    spark.sql("ALTER TABLE graft.optev.t SET PARTITIONED BY (days(ts))")
    spark.sql("OPTIMIZE graft.optev.t WHERE grp = 'a'")
    val afterA = spark.table("graft.optev.t").orderBy("id").collect()
      .map(_.getLong(0)).toSeq
    assert(afterA == before, s"after fold a: ${afterA.size} rows")
    assert(grpFiles("a").size == 1, grpFiles("a"))
    spark.sql("OPTIMIZE graft.optev.t WHERE grp = 'b'")
    val m2 = mf()
    // both targets alive under DISTINCT names, no duplicate manifest rows
    assert(grpFiles("a").size == 1 && grpFiles("b").size == 1,
      m2.files.map(_._1).mkString(", "))
    assert(grpFiles("a") != grpFiles("b"))
    assert(m2.files.map(_._1).distinct.size == m2.files.size,
      "manifest lists a file name twice")
    val afterB = spark.table("graft.optev.t").orderBy("id").collect()
      .map(_.getLong(0)).toSeq
    assert(afterB == before,
      s"data loss/duplication after second scoped fold: ${afterB.size} rows")
    // old-tuple pruning still works: the folded targets kept their tuples
    assert(spark.table("graft.optev.t").where("grp = 'a'").count() == 8L)
    spark.sql("DROP TABLE graft.optev.t")
  }

  test("OPTIMIZE WHERE ... ZORDER BY re-clusters only the named partition") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_optwz").toString
    spark.sql("DROP TABLE IF EXISTS graft.optwz.t")
    spark.sql("CREATE TABLE graft.optwz.t (id BIGINT, x BIGINT, y BIGINT, " +
      "grp STRING) USING graft_kv PARTITIONED BY (grp) " +
      s"OPTIONS (path '$dir', epochs 'true')")
    (0 until 4).foreach { i =>
      spark.sql("INSERT INTO graft.optwz.t SELECT id + " + (i * 100) +
        ", (id * 37) % 97, (id * 91) % 89, " +
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(50)")
    }
    def mf() = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    def grpFiles(m: GraftKvSink.Manifest, g: String): Seq[String] =
      m.files.map(_._1).filter(n => m.stats.getOrElse(n, Map.empty)
        .get("part:grp").exists(_._1 == g)).sorted
    val m0 = mf()
    val bBefore = grpFiles(m0, "b")
    val before = spark.table("graft.optwz.t").orderBy("id").collect()
      .map(_.getLong(0)).toSeq
    spark.sql(
      "OPTIMIZE graft.optwz.t WHERE grp = 'a' ZORDER BY (x, y) INTO 2 FILES")
    val m1 = mf()
    // partition b's files are BYTE-identical (same names, never moved);
    // partition a's were replaced by the scoped rewrite
    assert(grpFiles(m1, "b") == bBefore, "out-of-scope partition touched")
    assert(grpFiles(m1, "a") != grpFiles(m0, "a"))
    assert(grpFiles(m1, "a").length == 2, grpFiles(m1, "a"))
    // the rewrite is a retained-history CoW: old a-files reconstruct
    // pre-rewrite states, and the data reads bit-identically
    assert(m1.rewrittenUpTo > m0.rewrittenUpTo)
    // the scoped fence advances only to the max epoch among the SCOPED
    // files (compact's scoped rule) — out-of-scope partitions are
    // untouched, so table-wide time travel at pre-rewrite epochs
    // survives a one-partition re-cluster
    assert(m1.rewrittenUpTo ==
      grpFiles(m0, "a").map(GraftKvSink.epochOf).max, m1.rewrittenUpTo)
    val asOf3 = spark.read.format("graft.sources.GraftKvSink")
      .option("path", dir).option("asOfEpoch", "3").load()
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(asOf3 == before, "pre-rewrite epoch no longer time-travels")
    assert(m1.removed.map(_.name).toSet == grpFiles(m0, "a").toSet)
    assert(spark.table("graft.optwz.t").orderBy("id").collect()
      .map(_.getLong(0)).toSeq == before)
    // new files re-tag under the current spec (pruning stays exact)
    assert(grpFiles(m1, "a").forall(n =>
      m1.stats(n)("part:grp")._1 == "a"))
    // a predicate over no partition source still refuses in composed form
    intercept[Exception] {
      spark.sql("OPTIMIZE graft.optwz.t WHERE id = 5 ZORDER BY (x)")
    }
    spark.sql("DROP TABLE graft.optwz.t")
  }

  test("metadata tables: files/partitions/history derive from the manifest") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_meta").toString
    spark.sql("DROP TABLE IF EXISTS graft.metat.t")
    spark.sql("CREATE TABLE graft.metat.t (id BIGINT, grp STRING) " +
      "USING graft_kv PARTITIONED BY (grp) " +
      s"OPTIONS (path '$dir', epochs 'true')")
    spark.sql("INSERT INTO graft.metat.t SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(10)")
    spark.sql("INSERT INTO graft.metat.t SELECT id + 10, 'a' FROM range(5)")
    val m = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    val files = spark.table("graft.metat.t.files").collect()
    assert(files.length == m.files.size, files.mkString("\n"))
    assert(files.forall(_.getString(1) == "base"))
    // per-column min/max ride as maps (partition keys excluded)
    val idMins = files.map(r =>
      r.getMap[String, String](6).toMap.get("id")).toSeq
    assert(idMins.forall(_.isDefined), idMins)
    // ... and ONLY value-bound entries: sketch payloads (hll:/cnt:/len:)
    // must not leak into the maps as pseudo-columns
    val mapKeys = files.flatMap(r =>
      r.getMap[String, String](6).keys ++ r.getMap[String, String](7).keys)
    assert(mapKeys.forall(k => !k.contains(":")), mapKeys.distinct.toSeq)
    // partitions == SHOW PARTITIONS
    val viaSql = graft.ops.Ddl.execute(spark,
      "SHOW PARTITIONS graft.metat.t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val viaMeta = spark.table("graft.metat.t.partitions").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaMeta == viaSql, s"$viaMeta vs $viaSql")
    // a CoW DELETE leaves retained history visible under kind='retained'
    spark.sql("DELETE FROM graft.metat.t WHERE grp = 'b' AND id = 1")
    val kinds = spark.table("graft.metat.t.files")
      .groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds.contains("retained"), kinds)
    // history as a relation: two appends + the rewrite epoch
    val hist = spark.table("graft.metat.t.history").collect()
    assert(hist.count(_.getString(1) == "append") == 2, hist.mkString("\n"))
    assert(hist.exists(_.getString(1) == "rewrite"))
    assert(hist.forall(r => !r.isNullAt(4)), "commit_ts must stamp")
    // metadata tables COMPOSE with branches: a WAP audit can inspect the
    // branch head's physical state before publishing
    graft.ops.Ddl.execute(spark,
      "ALTER TABLE graft.metat.t CREATE BRANCH audit")
    spark.sql("INSERT INTO graft.metat.t.branch_audit VALUES (99L, 'c')")
    val bParts = spark.table("graft.metat.t.branch_audit.partitions")
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(bParts.get("grp=c").contains(1L), bParts)
    // the parent's own metadata never sees the branch-local write
    assert(!spark.table("graft.metat.t.partitions").collect()
      .exists(_.getString(0) == "grp=c"))
    // t.refs: tags + branches as a relation (internal __fork__ excluded)
    graft.ops.Ddl.execute(spark,
      "ALTER TABLE graft.metat.t CREATE TAG v1 AS OF VERSION 0")
    val refs = spark.table("graft.metat.t.refs").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(refs == Set(("audit", "branch", 2L), ("v1", "tag", 0L)) ||
      refs.exists(_._1 == "v1"), refs)
    assert(!spark.table("graft.metat.t.branch_audit.refs").collect()
      .exists(_.getString(0) == "__fork__"))
    graft.ops.Ddl.execute(spark, "ALTER TABLE graft.metat.t DROP TAG v1")
    graft.ops.Ddl.execute(spark, "ALTER TABLE graft.metat.t DROP BRANCH audit")
    spark.sql("DROP TABLE graft.metat.t")
  }

  test("changefeed reads span a RENAME COLUMN under the current names") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdcren").toString
    spark.sql("DROP TABLE IF EXISTS graft.cdcren.t")
    spark.sql("CREATE TABLE graft.cdcren.t (id BIGINT, v BIGINT) " +
      s"USING graft_kv OPTIONS (path '$dir', epochs 'true')")
    spark.sql("INSERT INTO graft.cdcren.t SELECT id, id * 2 FROM range(3)")
    spark.sql("ALTER TABLE graft.cdcren.t RENAME COLUMN v TO score")
    spark.sql("INSERT INTO graft.cdcren.t SELECT id + 10, id FROM range(2)")
    // the feed replays BOTH epochs under the CURRENT schema: positions
    // are the column identity, so pre-rename rows surface as 'score'
    val ck = java.nio.file.Files.createTempDirectory("graft_cdcren_ck")
    val q = spark.readStream.format("graft.sources.GraftKvSink")
      .option("path", dir).option("readChangeFeed", "true")
      .option("startingEpoch", "0").load()
      .writeStream.format("memory").queryName("cdcren_feed")
      .option("checkpointLocation", ck.toString).start()
    try q.processAllAvailable() finally q.stop()
    val feed = spark.table("cdcren_feed")
    assert(feed.columns.contains("score") && !feed.columns.contains("v"))
    val rows = feed.select("id", "score", "_change_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == Set((0L, 0L, "insert"), (1L, 2L, "insert"),
      (2L, 4L, "insert"), (10L, 0L, "insert"), (11L, 1L, "insert")), rows)
    spark.sql("DROP TABLE graft.cdcren.t")
  }

  test("column mapping: RENAME and DROP COLUMN are metadata-only") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_cmap").toString
    spark.sql("DROP TABLE IF EXISTS graft.cmap.t")
    spark.sql("CREATE TABLE graft.cmap.t (id BIGINT, grp STRING, " +
      "v DOUBLE, note STRING) USING graft_kv PARTITIONED BY (grp) " +
      s"OPTIONS (path '$dir', epochs 'true')")
    spark.sql(
      "ALTER TABLE graft.cmap.t SET TBLPROPERTIES ('check.pos' = 'v >= 0')")
    spark.sql("INSERT INTO graft.cmap.t SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, CAST(id AS DOUBLE), " +
      "concat('n', id) FROM range(10)")
    val fileCount0 = GraftKvSink.readManifest(
      GraftKvSink.manifestPath(dir)).files.size
    // RENAME the partition source: one metadata publish — no data file
    // touched, spec strings and per-file tuple keys re-keyed
    spark.sql("ALTER TABLE graft.cmap.t RENAME COLUMN grp TO region")
    val m1 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(m1.files.size == fileCount0)
    assert(m1.partitionSpec == Seq("region"), m1.partitionSpec)
    assert(m1.stats.values.forall(_.contains("part:region")),
      m1.stats.values.map(_.keys).toSeq)
    // every name-keyed entry re-keyed in the same publish: min/max stats,
    // blooms, and the hll:/cnt:/len: sketch keys — nothing remembers 'grp'
    assert(m1.stats.values.forall(c =>
      c.keys.exists(_.equalsIgnoreCase("region")) &&
        !c.keys.exists(_.toLowerCase.endsWith("grp"))),
      m1.stats.values.map(_.keys).toSeq)
    assert(m1.blooms.values.forall(c =>
      c.keys.exists(_.equalsIgnoreCase("hll:region")) &&
        c.keys.exists(_.equalsIgnoreCase("cnt:region")) &&
        !c.keys.exists(_.toLowerCase.contains("grp"))),
      m1.blooms.values.map(_.keys).toSeq)
    assert(spark.table("graft.cmap.t").where("region = 'a'").count() == 5)
    // the CHECK rewrote to the new name when its column renames
    spark.sql("ALTER TABLE graft.cmap.t RENAME COLUMN v TO score")
    val eChk = intercept[Exception] {
      spark.sql("INSERT INTO graft.cmap.t VALUES (100L, 'c', -1.0, 'x')")
    }
    assert(eChk.getMessage.toLowerCase.contains("check"), eChk.getMessage)
    spark.sql("INSERT INTO graft.cmap.t VALUES (100L, 'c', 5.0, 'y')")
    assert(spark.table("graft.cmap.t")
      .where("region = 'c' AND score = 5.0").count() == 1)
    // refusal: the target name is taken
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.cmap.t RENAME COLUMN note TO id")
    }
    // DROP hides the field; its position retires and is never reused
    spark.sql("ALTER TABLE graft.cmap.t DROP COLUMN note")
    assert(spark.table("graft.cmap.t").columns.toSeq ==
      Seq("id", "region", "score"))
    val m2 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(m2.droppedPids == Seq(3), m2.droppedPids)
    spark.sql("INSERT INTO graft.cmap.t VALUES (101L, 'c', 6.0)")
    // ADD after DROP claims a FRESH position: the dropped column's
    // committed values must never resurface under the new name
    spark.sql("ALTER TABLE graft.cmap.t ADD COLUMN tag STRING")
    assert(spark.table("graft.cmap.t").where("tag IS NOT NULL").count() == 0,
      "dropped 'note' values resurfaced under 'tag'")
    spark.sql("INSERT INTO graft.cmap.t VALUES (102L, 'd', 7.0, 't1')")
    // the PATH ROUTE (no catalog, no pid metadata on the write schema)
    // must land values by the MANIFEST's layout, not its own indexes —
    // naive index layout would write 'tag' into the retired hole and the
    // value would read back NULL
    spark.sql("SELECT 103L AS id, 'd' AS region, " +
      "CAST(8.0 AS DOUBLE) AS score, 't2' AS tag").write.format("graft.sources.GraftKvSink")
      .option("path", dir).mode("append").save()
    assert(spark.table("graft.cmap.t")
      .where("id = 103 AND tag = 't2' AND score = 8.0").count() == 1,
      spark.table("graft.cmap.t").where("id = 103").collect().mkString)
    val rows = spark.table("graft.cmap.t").orderBy("id")
      .selectExpr("id", "region", "score", "tag").collect()
    assert(rows.length == 14)
    assert(rows.last.getLong(0) == 103L && rows.last.getString(3) == "t2")
    assert(spark.table("graft.cmap.t").where("tag = 't1'").count() == 1)
    // aggregate across all layout epochs (pre-rename, post-rename,
    // post-drop/add, path-route) reads consistently
    assert(spark.table("graft.cmap.t").agg(
      org.apache.spark.sql.functions.sum("score")).head.getDouble(0) ==
      (0 until 10).map(_.toDouble).sum + 5.0 + 6.0 + 7.0 + 8.0)
    // refusal arms: partition source, CHECK-referenced
    val ePart = intercept[Exception] {
      spark.sql("ALTER TABLE graft.cmap.t DROP COLUMN region")
    }
    assert(ePart.getMessage.contains("partition"), ePart.getMessage)
    val eRef = intercept[Exception] {
      spark.sql("ALTER TABLE graft.cmap.t DROP COLUMN score")
    }
    assert(eRef.getMessage.toLowerCase.contains("check"), eRef.getMessage)
    spark.sql("DROP TABLE graft.cmap.t")
  }

  test("OPTIMIZE ZORDER preserves VALUES on a column-mapped table") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_zcm").toString
    spark.sql("DROP TABLE IF EXISTS graft.zcm.t")
    spark.sql("CREATE TABLE graft.zcm.t (id BIGINT, v DOUBLE, note STRING) " +
      s"USING graft_kv OPTIONS (path '$dir', epochs 'true')")
    spark.sql("INSERT INTO graft.zcm.t SELECT id, CAST(id AS DOUBLE), " +
      "concat('n', id) FROM range(20)")
    // activate column mapping: drop 'v' (pid 1 retires), so 'note' keeps
    // pid 2 while its schema index becomes 1 — the rewrite MUST write the
    // physical layout, or every pid-resolved read of the new files lands
    // out of range and silently nulls 'note'
    spark.sql("ALTER TABLE graft.zcm.t DROP COLUMN v")
    spark.sql("INSERT INTO graft.zcm.t SELECT id + 100, concat('m', id) " +
      "FROM range(10)")
    spark.sql("ALTER TABLE graft.zcm.t ADD COLUMN w BIGINT")
    spark.sql("INSERT INTO graft.zcm.t VALUES (200L, 'x', 7L)")
    val before = spark.table("graft.zcm.t").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    spark.sql("OPTIMIZE graft.zcm.t ZORDER BY (id) INTO 2 FILES")
    val m = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(m.droppedPids == Seq(1), m.droppedPids)
    // VALUES (not just counts) survive the rewrite on every live column
    val after = spark.table("graft.zcm.t").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(after == before, s"values changed:\n$after\nvs\n$before")
    assert(after.count(_._2 != null) == 31 &&
      after.exists(t => t._1 == 200L && t._2 == "x" && t._3 == 7L), after)
    // the dropped column's committed values never resurface post-rewrite
    spark.sql("ALTER TABLE graft.zcm.t ADD COLUMN z DOUBLE")
    assert(spark.table("graft.zcm.t").where("z IS NOT NULL").count() == 0)
    spark.sql("DROP TABLE graft.zcm.t")
  }

  test("CHERRY-PICK refuses on diverged invariants and MOR-delta epochs") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_cpr").toString
    spark.sql("DROP TABLE IF EXISTS graft.cpr.t")
    spark.sql("CREATE TABLE graft.cpr.t (id BIGINT, v BIGINT) " +
      s"USING graft_kv OPTIONS (path '$dir', epochs 'true', mor 'true')")
    spark.sql("INSERT INTO graft.cpr.t SELECT id, id FROM range(10)")
    graft.ops.Ddl.execute(spark, "ALTER TABLE graft.cpr.t CREATE BRANCH s")
    spark.sql("INSERT INTO graft.cpr.t.branch_s SELECT id + 100, id FROM range(5)")
    // a MOR DELETE on the branch creates a delta epoch (2) — refuses
    spark.sql("DELETE FROM graft.cpr.t.branch_s WHERE id = 101")
    val e1 = intercept[Exception] { GraftKvSink.cherryPick(dir, "s", 2L) }
    assert(e1.getMessage.contains("delta"), e1.getMessage)
    // CHECK divergence: the parent tightens its invariant after the fork
    // — the staged rows were never audited under it, so the pick refuses
    spark.sql(
      "ALTER TABLE graft.cpr.t SET TBLPROPERTIES ('check.pos' = 'v >= 0')")
    val e2 = intercept[Exception] { GraftKvSink.cherryPick(dir, "s", 1L) }
    assert(e2.getMessage.toLowerCase.contains("check"), e2.getMessage)
    spark.sql("ALTER TABLE graft.cpr.t UNSET TBLPROPERTIES ('check.pos')")
    // schema divergence (parent widened a column post-fork) also refuses
    spark.sql("ALTER TABLE graft.cpr.t ADD COLUMN w BIGINT")
    val e3 = intercept[Exception] { GraftKvSink.cherryPick(dir, "s", 1L) }
    assert(e3.getMessage.toLowerCase.contains("schema"), e3.getMessage)
    graft.ops.Ddl.execute(spark, "ALTER TABLE graft.cpr.t DROP BRANCH s")
    spark.sql("DROP TABLE graft.cpr.t")
  }

  test("CHERRY-PICK allocates past a parent MOR-delta head epoch") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_cpd").toString
    spark.sql("DROP TABLE IF EXISTS graft.cpd.t")
    spark.sql("CREATE TABLE graft.cpd.t (id BIGINT, v BIGINT) " +
      s"USING graft_kv OPTIONS (path '$dir', epochs 'true', mor 'true')")
    spark.sql("INSERT INTO graft.cpd.t SELECT id, id FROM range(10)")
    graft.ops.Ddl.execute(spark, "ALTER TABLE graft.cpd.t CREATE BRANCH s")
    // branch stages a pure-append epoch (1, local to the branch dir)
    spark.sql("INSERT INTO graft.cpd.t.branch_s SELECT id + 100, id " +
      "FROM range(5)")
    // parent's HEAD commit is a merge-on-read DELETE: only a .kvd delta
    // carries its epoch, no data file / removedAt / fence does (the batch
    // INSERT's files sit at epoch 0, so the delta allocates epoch 1)
    spark.sql("DELETE FROM graft.cpd.t WHERE id = 3")
    val m0 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    val deltaHead = m0.deltas.map(d => GraftKvSink.epochOf(d.name)).max
    assert(deltaHead == 1L, s"expected parent delta head 1, got $deltaHead")
    assert(m0.files.map(f => GraftKvSink.epochOf(f._1)).max == 0L)
    // the pick must land STRICTLY past the delta epoch, or AS OF 1 and
    // the changefeed would attribute the picked rows to the DELETE commit
    val picked = GraftKvSink.cherryPick(dir, "s", 1L)
    assert(picked == 2L, s"cherry-pick epoch must clear the MOR-delta " +
      s"head (1), got $picked")
    assert(spark.table("graft.cpd.t").count() == 14) // 10 - 1 + 5
    // AS OF the delta epoch still sees ONLY the delete's state (9 rows)
    val asOf = spark.sql(
      "SELECT count(*) FROM graft.cpd.t VERSION AS OF 1").collect()(0).getLong(0)
    assert(asOf == 9L, s"AS OF 1 must exclude the picked rows, got $asOf")
    graft.ops.Ddl.execute(spark, "ALTER TABLE graft.cpd.t DROP BRANCH s")
    spark.sql("DROP TABLE graft.cpd.t")
  }

  test("FLOAT kv columns: exact round-trip, range pruning, NaN stats guard, widen refusal") {
    import graft.sources.{GraftKvSink, GraftKvScan}
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_flt").toString
    spark.sql("DROP TABLE IF EXISTS graft.flt.t")
    spark.sql("CREATE TABLE graft.flt.t (id BIGINT, x FLOAT) " +
      s"USING graft_kv OPTIONS (path '$dir', epochs 'true')")
    // two disjoint value bands -> per-file ranges must prune
    spark.sql("INSERT INTO graft.flt.t SELECT id, " +
      "CAST(id AS FLOAT) / CAST(10 AS FLOAT) FROM range(100)")
    spark.sql("INSERT INTO graft.flt.t SELECT id + 100, " +
      "CAST(id + 1000 AS FLOAT) FROM range(50)")
    // 0.1f has no exact decimal image — the shortest-decimal round-trip
    // must return the exact committed float
    spark.sql("INSERT INTO graft.flt.t VALUES (CAST(999 AS BIGINT), " +
      "CAST(0.1 AS FLOAT))")
    assert(spark.table("graft.flt.t").count() == 151)
    assert(spark.sql("SELECT x FROM graft.flt.t WHERE id = 999")
      .head.getFloat(0) == 0.1f)
    assert(spark.sql("SELECT CAST(sum(x) AS DOUBLE) FROM graft.flt.t " +
      "WHERE id < 100").head.getDouble(0) > 0.0)
    val m = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    val hiFiles = m.files.count { case (n, _) =>
      m.stats.getOrElse(n, Map.empty).get("x")
        .exists(_._1.toFloat >= 500.0f) }
    assert(hiFiles > 0 && hiFiles < m.files.length)
    def planned(fs: org.apache.spark.sql.sources.Filter*): Int =
      new GraftKvScan(dir, None, fs.toSeq).planInputPartitions().length
    assert(planned(org.apache.spark.sql.sources.GreaterThan(
      "x", 500.0f)) == hiFiles, "float range probe must prune to the high band")
    // NaN poisons that file's x stats (absent stats never prune) but the
    // row itself still reads
    spark.sql("INSERT INTO graft.flt.t VALUES (CAST(998 AS BIGINT), " +
      "CAST('NaN' AS FLOAT))")
    val m1 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    val nanFile = m1.files.map(_._1).filterNot(m.files.map(_._1).toSet)
    assert(nanFile.length == 1 &&
      !m1.stats.getOrElse(nanFile.head, Map.empty).contains("x"),
      "a NaN-bearing file must record no x range")
    assert(spark.sql("SELECT count(*) FROM graft.flt.t WHERE isnan(x)")
      .head.getLong(0) == 1L)
    // FLOAT -> DOUBLE refuses: shortest-decimal image re-parse would
    // re-interpret every committed value (see widens())
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.flt.t ALTER COLUMN x TYPE DOUBLE")
    }
    assert(e.getMessage.contains("re-interpret") ||
      e.getMessage.contains("widening"), e.getMessage)
    spark.sql("DROP TABLE graft.flt.t")
  }

  test("ARRAY kv columns: round-trip incl. escaping/null/empty, len sketch, DML, refusal arms") {
    import spark.implicits._
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_arr").toString
    spark.sql("DROP TABLE IF EXISTS graft.arr.t")
    spark.sql("CREATE TABLE graft.arr.t (id BIGINT, xs ARRAY<FLOAT>, " +
      "tags ARRAY<STRING>) USING graft_kv " +
      s"OPTIONS (path '$dir', epochs 'true')")
    // escaping hazards on purpose: separators, brackets, backslashes, a
    // literal "N" (must not alias the \N null token), null elements,
    // empty array vs NULL cell
    Seq(
      (1L, Seq(0.1f, 2.5f, -0.0f), Seq("a,b", "c]d[", "N")),
      (2L, Seq.empty[Float], Seq(null.asInstanceOf[String], "")),
      (3L, null.asInstanceOf[Seq[Float]], Seq("\\", "\\N", "x\\,y"))
    ).toDF("id", "xs", "tags").createOrReplaceTempView("arr_seed")
    spark.sql("INSERT INTO graft.arr.t SELECT * FROM arr_seed")
    val back = spark.table("graft.arr.t").orderBy("id").collect()
    assert(back(0).getSeq[Float](1) == Seq(0.1f, 2.5f, -0.0f))
    assert(back(0).getSeq[String](2) == Seq("a,b", "c]d[", "N"))
    assert(back(1).getSeq[Float](1) == Seq.empty[Float],
      "empty array must stay [] — not NULL")
    assert(back(1).getSeq[String](2) == Seq(null, ""))
    assert(back(2).isNullAt(1), "NULL cell must stay NULL — not []")
    assert(back(2).getSeq[String](2) == Seq("\\", "\\N", "x\\,y"))
    // metadata: NO min/max for array columns (absent stats never prune);
    // cnt: rides; len: = TOTAL ELEMENT COUNT
    val m = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(m.files.nonEmpty)
    m.files.foreach { case (n, _) =>
      val st = m.stats.getOrElse(n, Map.empty)
      assert(!st.keys.exists(k => k.equalsIgnoreCase("xs") ||
        k.equalsIgnoreCase("tags")), s"$n recorded an array range: $st")
    }
    val lenXs = m.blooms.values.flatMap(_.get("len:xs")).map(_.toLong).sum
    val lenTags = m.blooms.values.flatMap(_.get("len:tags")).map(_.toLong).sum
    assert(lenXs == 3L, s"len:xs = $lenXs (3 elements over non-null cells)")
    assert(lenTags == 8L, s"len:tags = $lenTags")
    // predicates and DML compose over array cells
    assert(spark.sql("SELECT count(*) FROM graft.arr.t " +
      "WHERE array_contains(tags, 'N')").head.getLong(0) == 1L)
    spark.sql("UPDATE graft.arr.t SET xs = slice(xs, 1, 1) WHERE id = 1")
    assert(spark.table("graft.arr.t").where("id = 1")
      .head.getSeq[Float](1) == Seq(0.1f))
    spark.sql("DELETE FROM graft.arr.t WHERE id = 2")
    assert(spark.table("graft.arr.t").count() == 2)
    // refusal arms: no transform, no sort order, no zorder over arrays
    val e1 = intercept[Exception] {
      val d2 = java.nio.file.Files.createTempDirectory("graft_kv_arrp").toString
      spark.sql("CREATE TABLE graft.arr.bad (v ARRAY<FLOAT>) " +
        s"USING graft_kv PARTITIONED BY (v) OPTIONS (path '$d2')")
    }
    assert(e1.getMessage.contains("ARRAY"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("OPTIMIZE graft.arr.t ZORDER BY (xs)")
    }
    assert(e2.getMessage.contains("ARRAY"), e2.getMessage)
    val e3 = intercept[Exception] {
      Seq((9L, Seq(1.0f), Seq("z"))).toDF("id", "xs", "tags")
        .write.format("graft.sources.GraftKvSink")
        .option("path", dir).option("sortBy", "xs").mode("append").save()
    }
    assert(e3.getMessage.contains("ARRAY"), e3.getMessage)
    spark.sql("DROP TABLE graft.arr.t")
    spark.sql("DROP TABLE IF EXISTS graft.arr.bad")
  }

  test("two-level manifest: reshard round-trip, DML, time travel, branch, unshard") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_shrd").toString
    spark.sql("DROP TABLE IF EXISTS graft.shrd.t")
    spark.sql("CREATE TABLE graft.shrd.t (id BIGINT, region STRING, v DOUBLE) " +
      "USING graft_kv PARTITIONED BY (region) " +
      s"OPTIONS (path '$dir', epochs 'true', mor 'true')")
    spark.sql("INSERT INTO graft.shrd.t SELECT id, " +
      "concat('g', CAST(id % 4 AS INT)), CAST(id AS DOUBLE) FROM range(200)")
    val m0 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    spark.sql("ALTER TABLE graft.shrd.t SET TBLPROPERTIES ('manifest.shards' = '8')")
    val m1 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(m1.shardCount == 8 && m1.shardInfo.nonEmpty)
    // lossless: identical files, stats, blooms after reassembly
    assert(m1.files.toSet == m0.files.toSet)
    assert(m1.stats == m0.stats && m1.blooms == m0.blooms)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_graft_manifest_shards")))
    // reads, filtered reads and aggregates unchanged
    assert(spark.table("graft.shrd.t").count() == 200)
    assert(spark.sql(
      "SELECT count(*) FROM graft.shrd.t WHERE region = 'g1'")
      .head.getLong(0) == 50L)
    // metadata tables resolve over the sharded manifest (the list +
    // parallel shard parse): same file inventory and partition rollup
    assert(spark.sql("SELECT count(*) FROM graft.shrd.t.files")
      .head.getLong(0) == m1.files.length.toLong)
    assert(spark.sql("SELECT count(*) FROM graft.shrd.t.partitions")
      .head.getLong(0) == 4L)
    // branching works over a sharded parent (the branch dir has its own
    // layout decision); must fork BEFORE the MOR DML below — live deltas
    // refuse a branch boundary (the standing clone rule)
    graft.ops.Ddl.execute(spark, "ALTER TABLE graft.shrd.t CREATE BRANCH b")
    spark.sql("INSERT INTO graft.shrd.t.branch_b SELECT id + 1000, 'g0', " +
      "CAST(0.5 AS DOUBLE) FROM range(5)")
    assert(spark.table("graft.shrd.t.branch_b").count() == 205)
    assert(spark.table("graft.shrd.t").count() == 200)
    graft.ops.Ddl.execute(spark, "ALTER TABLE graft.shrd.t DROP BRANCH b")
    // DML on the sharded table: MOR delete, then CoW-style update
    spark.sql("DELETE FROM graft.shrd.t WHERE id = 7")
    assert(spark.table("graft.shrd.t").count() == 199)
    spark.sql("UPDATE graft.shrd.t SET v = v + 1000 WHERE id = 8")
    assert(spark.sql("SELECT v FROM graft.shrd.t WHERE id = 8")
      .head.getDouble(0) == 1008.0)
    // time travel still reconstructs the pre-DML boundary (full parse
    // path: asOf scans never shard-prune)
    assert(spark.sql("SELECT count(*) FROM graft.shrd.t VERSION AS OF 0")
      .head.getLong(0) == 200L)
    // unshard restores the legacy layout; the retired shard files stay
    // under the reader grace window (a lock-free reader may still hold
    // the sharded list) and vacuum reclaims them once aged
    spark.sql("ALTER TABLE graft.shrd.t UNSET TBLPROPERTIES ('manifest.shards')")
    val m2 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(m2.shardCount == 0 && m2.shardInfo.isEmpty)
    val sdir = java.nio.file.Paths.get(dir, "_graft_manifest_shards")
    assert(java.nio.file.Files.exists(sdir),
      "retired shard files must survive the grace window")
    assert(spark.table("graft.shrd.t").count() == 199)
    // age the retired files past the grace window; vacuum sweeps them
    // and drops the then-empty directory
    locally {
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600 * 1000L)
      val st = java.nio.file.Files.list(sdir)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.foreach(p =>
          java.nio.file.Files.setLastModifiedTime(p, old))
      } finally st.close()
    }
    GraftKvSink.vacuum(dir, 3600 * 1000L)
    assert(!java.nio.file.Files.exists(sdir),
      "vacuum must reclaim aged retired shards and drop the empty dir")
    assert(spark.table("graft.shrd.t").count() == 199)
    spark.sql("DROP TABLE graft.shrd.t")
  }

  test("two-level manifest: auto-split past threshold, commit locality, generation GC, unshard refusal") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_shat").toString
    val prop = "graft.manifest.shard.threshold"
    val old = sys.props.get(prop)
    try {
      sys.props(prop) = "4"
      spark.sql("DROP TABLE IF EXISTS graft.shat.t")
      spark.sql("CREATE TABLE graft.shat.t (id BIGINT, region STRING) " +
        "USING graft_kv PARTITIONED BY (region) " +
        s"OPTIONS (path '$dir', epochs 'true')")
      // each single-partition INSERT publishes one file; the commit that
      // brings the live entry count to the threshold splits the manifest
      (0 until 6).foreach { i =>
        spark.sql(s"INSERT INTO graft.shat.t VALUES " +
          s"(CAST($i AS BIGINT), 'p${i % 6}')")
      }
      val m0 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
      assert(m0.shardCount == 8, s"auto-split did not fire: ${m0.shardCount}")
      assert(m0.files.length == 6)
      assert(spark.table("graft.shat.t").count() == 6)
      // commit locality: a new single-partition insert changes exactly
      // one shard's sig and re-references every other shard file
      val sigs = m0.shardInfo.map(si => si.id -> si.sig).toMap
      val names = m0.shardInfo.map(si => si.id -> si.file).toMap
      spark.sql("INSERT INTO graft.shat.t VALUES (CAST(100 AS BIGINT), 'p1')")
      val m1 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
      val changed = m1.shardInfo.filter(si => !sigs.get(si.id).contains(si.sig))
      assert(changed.length == 1, s"touched ${changed.map(_.id)}")
      assert(m1.shardInfo.filterNot(changed.contains).forall(si =>
        names.get(si.id).contains(si.file)))
      // generation GC is mtime-based off RETIREMENT: files dereferenced
      // by further commits survive inside the grace window (a lock-free
      // reader holding the prior list must still resolve them)...
      (0 until 10).foreach { i =>
        spark.sql(s"INSERT INTO graft.shat.t VALUES " +
          s"(CAST(${200 + i} AS BIGINT), 'p1')")
      }
      val m2 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
      val referenced = m2.shardInfo.map(_.file).toSet
      val sdir = java.nio.file.Paths.get(dir, "_graft_manifest_shards")
      def onDisk(): List[String] = {
        val s = java.nio.file.Files.list(sdir)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString).toList
        } finally s.close()
      }
      assert(referenced.forall(onDisk().toSet), "a referenced shard is missing")
      assert(onDisk().length > referenced.size,
        "retired generations must survive the grace window")
      // ...and are reclaimed by the next publish once aged past it
      locally {
        val old = java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 3600 * 1000L)
        onDisk().filterNot(referenced).foreach { n =>
          java.nio.file.Files.setLastModifiedTime(sdir.resolve(n), old)
        }
      }
      spark.sql("INSERT INTO graft.shat.t VALUES (CAST(999 AS BIGINT), 'p1')")
      val m3 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
      val ref3 = m3.shardInfo.map(_.file).toSet
      val leftover = onDisk().filterNot(ref3)
        .filterNot(n => referenced.contains(n)) // p1's shard retired NOW
      assert(leftover.isEmpty,
        s"aged unreferenced generations survived the publish GC: $leftover")
      assert(spark.table("graft.shat.t").count() == 18)
      // unsharding past the threshold refuses: that is the measured cliff
      val e = intercept[Exception] {
        spark.sql("ALTER TABLE graft.shat.t UNSET TBLPROPERTIES ('manifest.shards')")
      }
      assert(e.getMessage.contains("single-JSON"), e.getMessage)
      spark.sql("DROP TABLE graft.shat.t")
    } finally {
      old match { case Some(v) => sys.props(prop) = v
                  case None    => sys.props.remove(prop) }
    }
  }

  test("BOOLEAN and DECIMAL kv columns: exact round-trip, ordering, DML, widen arms") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_dec").toString
    spark.sql("DROP TABLE IF EXISTS graft.dec.t")
    spark.sql("CREATE TABLE graft.dec.t (id BIGINT, amt DECIMAL(10,2), " +
      s"ok BOOLEAN) USING graft_kv OPTIONS (path '$dir', epochs 'true')")
    // NEGATIVE decimals and values whose STRING order disagrees with
    // numeric order ("9.50" > "10.25" lexicographically) — the min/max
    // stats must order by BigDecimal compare
    spark.sql("INSERT INTO graft.dec.t VALUES " +
      "(1, CAST(-3.75 AS DECIMAL(10,2)), true), " +
      "(2, CAST(9.50 AS DECIMAL(10,2)), false), " +
      "(3, CAST(10.25 AS DECIMAL(10,2)), true), " +
      "(4, NULL, NULL)")
    val m = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    val amtRanges = m.stats.values.flatMap(_.get("amt")).toSeq
    assert(amtRanges.nonEmpty)
    def bd(s: String) = new java.math.BigDecimal(s)
    val mn = amtRanges.map(_._1).minBy(bd)
    val mx = amtRanges.map(_._2).maxBy(bd)
    assert(mn == "-3.75" && mx == "10.25", s"$mn..$mx")
    // exact round-trip including nulls
    val rows = spark.table("graft.dec.t").orderBy("id").collect()
    assert(rows(0).getDecimal(1).toPlainString == "-3.75" &&
      rows(0).getBoolean(2))
    assert(rows(2).getDecimal(1).toPlainString == "10.25")
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2))
    // predicate + pruning semantics over decimal and boolean
    assert(spark.table("graft.dec.t")
      .where("amt > CAST(9.50 AS DECIMAL(10,2))").count() == 1)
    assert(spark.table("graft.dec.t").where("ok").count() == 2)
    // row-level DML on decimal columns (CoW)
    spark.sql("UPDATE graft.dec.t SET amt = CAST(100.01 AS DECIMAL(10,2)) " +
      "WHERE id = 2")
    assert(spark.table("graft.dec.t").where("id = 2").head()
      .getDecimal(1).toPlainString == "100.01")
    // widen arms: precision raise adopts old images; scale change refuses
    spark.sql("ALTER TABLE graft.dec.t ALTER COLUMN amt TYPE DECIMAL(16,2)")
    assert(spark.table("graft.dec.t").where("id = 1").head()
      .getDecimal(1).toPlainString == "-3.75")
    intercept[Exception] { spark.sql(
      "ALTER TABLE graft.dec.t ALTER COLUMN amt TYPE DECIMAL(18,4)") }
    intercept[Exception] { spark.sql(
      "ALTER TABLE graft.dec.t ALTER COLUMN amt TYPE DECIMAL(8,2)") }
    // the manifest agg pushdown answers decimal MIN/MAX from stats
    val agg = spark.table("graft.dec.t").agg(
      org.apache.spark.sql.functions.min("amt"),
      org.apache.spark.sql.functions.max("amt")).head()
    assert(agg.getDecimal(0).toPlainString == "-3.75" &&
      agg.getDecimal(1).toPlainString == "100.01", agg.toString)
    spark.sql("DROP TABLE graft.dec.t")
  }

  test("VACUUM REMOVE ORPHAN FILES reclaims crash leftovers, never referenced or fresh files") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_orph").toString
    spark.sql("DROP TABLE IF EXISTS graft.orph.t")
    spark.sql("CREATE TABLE graft.orph.t (id BIGINT) USING graft_kv " +
      s"OPTIONS (path '$dir', epochs 'true')")
    spark.sql("INSERT INTO graft.orph.t SELECT id FROM range(10)")
    graft.ops.Ddl.execute(spark, "ALTER TABLE graft.orph.t CREATE BRANCH dev")
    spark.sql("INSERT INTO graft.orph.t.branch_dev SELECT id + 100 FROM range(3)")
    val bdir = GraftKvSink.branchDirOf(dir, "dev")
    // plant: aged orphans in BOTH directories (a crash between file move
    // and manifest publish), plus a FRESH orphan that must survive the
    // horizon (it could be a concurrent writer's just-moved commit)
    def plant(d: String, n: String, aged: Boolean): java.nio.file.Path = {
      val p = java.nio.file.Paths.get(d, n)
      java.nio.file.Files.writeString(p, "9\n")
      // past the 3-day default horizon (the Iceberg-shaped default)
      if (aged) java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 4L * 24 * 3600 * 1000L))
      p
    }
    val o1 = plant(dir, "epoch-9-orphan.kv", aged = true)
    val o2 = plant(bdir, "epoch-9-orphan.kv", aged = true)
    val o3 = plant(dir, "part-fresh-orphan.kv", aged = false)
    val before = spark.table("graft.orph.t").orderBy("id").collect().toSeq
    val beforeB = spark.table("graft.orph.t.branch_dev")
      .orderBy("id").collect().toSeq
    // DRY RUN lists exactly the two aged orphans, deletes nothing
    val dry = graft.ops.Ddl.execute(spark,
      "VACUUM graft.orph.t REMOVE ORPHAN FILES DRY RUN").collect()
    assert(dry.map(_.getString(0)).toSet ==
      Set(o1.toString, o2.toString), dry.mkString("\n"))
    assert(java.nio.file.Files.exists(o1) && java.nio.file.Files.exists(o2))
    // the real pass deletes the aged orphans only
    val acted = graft.ops.Ddl.execute(spark,
      "VACUUM graft.orph.t REMOVE ORPHAN FILES").collect()
    assert(acted.length == 2, acted.mkString("\n"))
    assert(!java.nio.file.Files.exists(o1) && !java.nio.file.Files.exists(o2))
    assert(java.nio.file.Files.exists(o3), "fresh orphan must survive")
    // reads are bit-identical after cleanup, parent and branch alike
    assert(spark.table("graft.orph.t").orderBy("id").collect().toSeq == before)
    assert(spark.table("graft.orph.t.branch_dev").orderBy("id")
      .collect().toSeq == beforeB)
    // a zero-horizon pass may now also reclaim the fresh orphan — but
    // never a referenced file (every read above still answers)
    val acted2 = graft.ops.Ddl.execute(spark,
      "VACUUM graft.orph.t REMOVE ORPHAN FILES OLDER THAN 0 MINUTES").collect()
    assert(acted2.map(_.getString(0)).toSet.contains(o3.toString))
    assert(spark.table("graft.orph.t").orderBy("id").collect().toSeq == before)
    graft.ops.Ddl.execute(spark, "ALTER TABLE graft.orph.t DROP BRANCH dev")
    spark.sql("DROP TABLE graft.orph.t")
  }

  test("shallow-clone back-references pin source files against orphan sweep and vacuum") {
    import graft.sources.GraftKvSink
    val src = java.nio.file.Files.createTempDirectory("graft_kv_cor_s").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft_kv_cor_t")
      .resolve("t").toString
    spark.sql("DROP TABLE IF EXISTS graft.cor.s")
    spark.sql("DROP TABLE IF EXISTS graft.cor.t")
    // epoch-LESS source: a full INSERT OVERWRITE then reclaims the old
    // files immediately instead of retaining history — the exact path
    // that would dangle a clone without the back-reference guard
    spark.sql("CREATE TABLE graft.cor.s (id BIGINT, v BIGINT) " +
      s"USING graft_kv OPTIONS (path '$src')")
    spark.sql("INSERT INTO graft.cor.s SELECT id, id FROM range(20)")
    spark.sql("CREATE TABLE graft.cor.t SHALLOW CLONE graft.cor.s " +
      s"LOCATION '$tgt'")
    assert(spark.table("graft.cor.t").count() == 20)
    // the clone registered itself with the source (back-ref registry)
    assert(java.nio.file.Files.exists(GraftKvSink.clonesPath(src)))
    // full overwrite: the source abandons every pre-clone file — they
    // stay on disk as manifest-unreferenced strays ONLY the clone serves
    spark.sql("INSERT OVERWRITE graft.cor.s SELECT id, id * 2 FROM range(5)")
    assert(spark.table("graft.cor.s").count() == 5)
    assert(spark.table("graft.cor.t").count() == 20)
    // zero-horizon orphan sweep: clone-held files are REPORTED, never
    // deleted — the back-reference registry is what sees them
    val acted = GraftKvSink.removeOrphans(src, 0L, dryRun = false)
    assert(acted.nonEmpty && acted.forall(_._2 == "clone-referenced"), acted)
    assert(spark.table("graft.cor.t").count() == 20)
    assert(spark.sql("SELECT CAST(sum(v) AS BIGINT) FROM graft.cor.t")
      .head.getLong(0) == (0 until 20).sum.toLong)
    // zero-grace vacuum must hold them too (stray sweep consults the
    // registry)
    GraftKvSink.vacuum(src, 0L)
    assert(spark.table("graft.cor.t").count() == 20)
    // drop the clone: its manifest disappears, the registry prunes
    // itself, and the next sweep reclaims what only the clone held
    spark.sql("DROP TABLE graft.cor.t")
    java.nio.file.Files.deleteIfExists(GraftKvSink.manifestPath(tgt))
    val acted2 = GraftKvSink.removeOrphans(src, 0L, dryRun = false)
    assert(acted2.nonEmpty && acted2.forall(_._2 == "deleted"), acted2)
    assert(spark.table("graft.cor.s").count() == 5)
    assert(!java.nio.file.Files.exists(GraftKvSink.clonesPath(src)))
    spark.sql("DROP TABLE graft.cor.s")
  }

  test("ALTER COLUMN TYPE widens INT to BIGINT; refusal arms hold") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_widen").toString
    spark.sql("DROP TABLE IF EXISTS graft.wd.t")
    // bucket-partitioned ON the widened column: our bucket hashes the
    // canonical string image (type-independent), so the promotion keeps
    // every recorded tuple AND bucket pruning exact — pinned below
    spark.sql("CREATE TABLE graft.wd.t (k INT, v BIGINT) USING graft_kv " +
      s"PARTITIONED BY (bucket(4, k)) OPTIONS (path '$dir', epochs 'true')")
    spark.sql("INSERT INTO graft.wd.t SELECT CAST(id AS INT), id * 10 " +
      "FROM range(100)")
    val m0 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    val probe0 = spark.table("graft.wd.t").where("k = 7")
      .collect().map(_.getLong(1)).toSeq
    spark.sql("ALTER TABLE graft.wd.t ALTER COLUMN k TYPE BIGINT")
    val m1 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(m1.files == m0.files, "widen must not touch data files")
    assert(m1.schema("k").dataType == org.apache.spark.sql.types.LongType)
    // old rows decode as the wide type with exact values; bucket tuples
    // still classify and prune (same canonical images)
    assert(spark.table("graft.wd.t").where("k = 7")
      .collect().map(_.getLong(1)).toSeq == probe0)
    assert(spark.table("graft.wd.t").schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    spark.sql("INSERT INTO graft.wd.t VALUES (4000000007, 77)")
    assert(spark.table("graft.wd.t").where("k = 4000000007")
      .count() == 1)
    assert(spark.table("graft.wd.t").agg(
      org.apache.spark.sql.functions.sum("k")).head.getLong(0) ==
      (0 until 100).map(_.toLong).sum + 4000000007L)
    // refusal arms: narrowing, lossy, unknown column, and a same-type
    // no-op are all refused (only INT -> BIGINT widens)
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.wd.t ALTER COLUMN k TYPE INT") }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.wd.t ALTER COLUMN v TYPE DOUBLE") }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.wd.t ALTER COLUMN nope TYPE BIGINT") }
    // widen UNDER COLUMN MAPPING: drop a column (pids freeze, a hole
    // retires), then widen a later-added INT column whose pid != schema
    // index — values must keep reading at the right physical position
    spark.sql("ALTER TABLE graft.wd.t ADD COLUMN t2 INT")
    spark.sql("ALTER TABLE graft.wd.t DROP COLUMN v")
    spark.sql("INSERT INTO graft.wd.t VALUES (201, 11)")
    spark.sql("ALTER TABLE graft.wd.t ALTER COLUMN t2 TYPE BIGINT")
    spark.sql("INSERT INTO graft.wd.t VALUES (202, 5000000011)")
    val m2 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(m2.droppedPids.nonEmpty)
    assert(spark.table("graft.wd.t").where("t2 IS NOT NULL")
      .orderBy("k").collect().map(_.getLong(1)).toSeq ==
      Seq(11L, 5000000011L))
    // generated-column guard: widening a generation SOURCE refuses
    val dir2 = java.nio.file.Files.createTempDirectory("graft_kv_wgen").toString
    spark.sql("DROP TABLE IF EXISTS graft.wd.g")
    spark.sql("CREATE TABLE graft.wd.g (a INT, b INT GENERATED ALWAYS AS " +
      s"(a + 1)) USING graft_kv OPTIONS (path '$dir2', epochs 'true')")
    spark.sql("INSERT INTO graft.wd.g VALUES (1, 2)")
    val eGen = intercept[Exception] {
      spark.sql("ALTER TABLE graft.wd.g ALTER COLUMN a TYPE BIGINT") }
    assert(eGen.getMessage.toLowerCase.contains("generated"), eGen.getMessage)
    spark.sql("DROP TABLE graft.wd.g")
    spark.sql("DROP TABLE graft.wd.t")
  }

  test("schema/layout-mutating ALTERs refuse on branch addresses") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_bam").toString
    spark.sql("DROP TABLE IF EXISTS graft.bam.t")
    // 2-dot identifier (bam.t → branch address bam.t.branch_dev) — the
    // shape that matches the mutating-ALTER regexes unprefixed
    spark.sql("CREATE TABLE graft.bam.t (id BIGINT, grp STRING) " +
      s"USING graft_kv OPTIONS (path '$dir', epochs 'true')")
    spark.sql("INSERT INTO graft.bam.t SELECT id, 'a' FROM range(5)")
    graft.ops.Ddl.execute(spark, "ALTER TABLE graft.bam.t CREATE BRANCH dev")
    // both mutating forms refuse on the branch address: persisting the
    // branch-resolved def would silently repoint the PARENT's catalog
    // entry at the branch head dir
    val e1 = intercept[Exception] { graft.ops.Ddl.execute(spark,
      "ALTER TABLE bam.t.branch_dev SET PARTITIONED BY (grp)") }
    assert(e1.getMessage.contains("branch"), e1.getMessage)
    val e2 = intercept[Exception] { graft.ops.Ddl.execute(spark,
      "ALTER TABLE bam.t.branch_dev ALTER COLUMN id SET NOT NULL") }
    assert(e2.getMessage.contains("branch"), e2.getMessage)
    // the parent's catalog entry is unharmed: reads and writes still
    // target the parent directory, not the branch head
    spark.sql("INSERT INTO graft.bam.t SELECT id + 10, 'b' FROM range(3)")
    assert(spark.table("graft.bam.t").count() == 8)
    val m = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(m.files.map(_._2).sum == 8,
      s"parent manifest holds ${m.files.map(_._2).sum} rows — a write " +
        "leaked to the branch head")
    // the same statements on the PARENT still work
    graft.ops.Ddl.execute(spark,
      "ALTER TABLE graft.bam.t ALTER COLUMN id SET NOT NULL")
    graft.ops.Ddl.execute(spark, "ALTER TABLE graft.bam.t DROP BRANCH dev")
    spark.sql("DROP TABLE graft.bam.t")
  }

  test("index rewrite stands down after RENAME COLUMN") {
    import graft.ops.Ddl
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_ixren").toString
    if (graft.plans.IndexCatalog.named("ixren_v").isDefined)
      Ddl.execute(spark, "DROP INDEX ixren_v")
    spark.sql("DROP TABLE IF EXISTS graft.ixren.t")
    spark.sql("CREATE TABLE graft.ixren.t (k BIGINT, v BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    spark.sql("INSERT INTO graft.ixren.t " +
      "SELECT id, id % 100, concat('s', id) FROM range(2000)")
    Ddl.execute(spark, "CREATE INDEX ixren_v ON graft.ixren.t (v) KEY (k)")
    try {
      def plan(c: String) = spark.table("graft.ixren.t")
        .filter(org.apache.spark.sql.functions.col(c).isin(11L, 57L))
        .queryExecution.optimizedPlan.toString
      assert(plan("v").contains("LeftSemi"), "index rewrite should fire")
      // a RENAME (even of an unrelated column) is a manifest publish:
      // the version-staleness rule stands the index down — its recorded
      // schema no longer matches the table and serving it would bind
      // stale names
      spark.sql("ALTER TABLE graft.ixren.t RENAME COLUMN s TO label")
      assert(!plan("v").contains("LeftSemi"),
        "stale index must stand down after RENAME COLUMN")
      // correctness unimpaired, old and new names alike
      assert(spark.table("graft.ixren.t")
        .where("v = 11 AND label IS NOT NULL").count() == 20)
    } finally {
      Ddl.execute(spark, "DROP INDEX ixren_v")
      spark.sql("DROP TABLE graft.ixren.t")
    }
  }

  test("a widening path-route append claims fresh positions post-drop") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_widen").toString
    spark.sql("DROP TABLE IF EXISTS graft.widen.t")
    spark.sql("CREATE TABLE graft.widen.t (a BIGINT, b BIGINT, c BIGINT) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    spark.sql("INSERT INTO graft.widen.t VALUES (1L, 2L, 3L)")
    spark.sql("ALTER TABLE graft.widen.t DROP COLUMN b")
    // a WIDER path-route append (implicit schema widening, no catalog):
    // the new column 'd' must claim a FRESH physical position past the
    // retired one — publishing it pid-less would make readers project
    // 'd' at its schema index, which is c's physical slot
    spark.sql("SELECT 4L AS a, 5L AS c, 6L AS d")
      .write.format("graft.sources.GraftKvSink").option("path", dir)
      .mode("append").save()
    val m = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    val dField = m.schema.fields.find(_.name == "d").get
    assert(GraftKvSink.pidOf(dField, m.schema.fieldIndex("d")) == 3,
      m.schema.fields.map(f =>
        s"${f.name}:${f.metadata}").mkString(", "))
    val got = spark.table("graft.widen.t").orderBy("a")
      .selectExpr("a", "c", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq((1L, 3L, -1L), (4L, 5L, 6L)), got)
    spark.sql("DROP TABLE graft.widen.t")
  }

  test("dropping an evolved-away partition source strips its stale tuples") {
    import graft.sources.GraftKvSink
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_dps").toString
    spark.sql("DROP TABLE IF EXISTS graft.dps.t")
    spark.sql("CREATE TABLE graft.dps.t (id BIGINT, cat STRING) " +
      s"USING graft_kv PARTITIONED BY (cat) OPTIONS (path '$dir')")
    spark.sql("INSERT INTO graft.dps.t SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(8)")
    // evolve away from cat, then drop it — its recorded part:cat tuples
    // must go with it: dropped NAMES are not remembered, so a re-added
    // 'cat' would otherwise be classified by the OLD column's values
    spark.sql("ALTER TABLE graft.dps.t SET PARTITIONED BY (bucket(4, id))")
    spark.sql("ALTER TABLE graft.dps.t DROP COLUMN cat")
    val m = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(m.stats.values.forall(c => !c.contains("part:cat")),
      m.stats.values.map(_.keys).toSeq)
    spark.sql("ALTER TABLE graft.dps.t ADD COLUMN cat STRING")
    // old rows read the NEW cat as NULL — and must NOT be pruned away by
    // any stale tuple claiming cat='a'
    assert(spark.table("graft.dps.t").where("cat IS NULL").count() == 8)
    assert(spark.table("graft.dps.t").where("cat = 'a'").count() == 0)
    spark.sql("DROP TABLE graft.dps.t")
  }

  test("SET NOT NULL validates existing rows before adopting") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_nn").toString
    spark.sql("DROP TABLE IF EXISTS graft.nn.t")
    spark.sql("CREATE TABLE graft.nn.t (id BIGINT, v DOUBLE) USING " +
      s"graft_kv OPTIONS (path '$dir')")
    spark.sql("INSERT INTO graft.nn.t VALUES (1L, 1.0), (2L, CAST(NULL AS DOUBLE))")
    // a committed NULL refuses adoption (validate, don't trust)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.nn.t ALTER COLUMN v SET NOT NULL")
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
    // clean column adopts, and the write path enforces from then on
    spark.sql("ALTER TABLE graft.nn.t ALTER COLUMN id SET NOT NULL")
    assert(!spark.table("graft.nn.t").schema("id").nullable)
    intercept[Exception] {
      spark.sql("INSERT INTO graft.nn.t VALUES (CAST(NULL AS BIGINT), 3.0)")
    }
    assert(spark.table("graft.nn.t").count() == 2)
    // DROP NOT NULL relaxes again
    spark.sql("ALTER TABLE graft.nn.t ALTER COLUMN id DROP NOT NULL")
    spark.sql("INSERT INTO graft.nn.t VALUES (CAST(NULL AS BIGINT), 3.0)")
    assert(spark.table("graft.nn.t").count() == 3)
    spark.sql("DROP TABLE graft.nn.t")
  }

  test("kv byte reader: buffer-straddling lines, escapes, nulls, UTF-8") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_bytes").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("b", BooleanType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("dec", DecimalType(10, 2))))
    // string payloads sized around the reader's 64 KiB refill unit so
    // lines terminate mid-buffer, exactly at the boundary, and across
    // several refills — every readLine spill/in-place path fires
    val sizes = Seq(1, 100, 65534, 65535, 65536, 65537, 131072, 200000)
    val long = sizes.zipWithIndex.map { case (n, i) =>
      Row(i.toLong, ('a' + (i % 26)).toChar.toString * n, i % 2 == 0, i,
        i + 0.5, new java.math.BigDecimal(s"$i.25"))
    }
    val edge = Seq(
      // the two-char STRING "\N" must survive (escaped) — not SQL NULL
      Row(100L, "\\N", true, 1, 1.0, new java.math.BigDecimal("1.00")),
      Row(101L, "\\", false, 2, 2.0, new java.math.BigDecimal("2.00")),
      Row(102L, "", true, 3, 3.0, new java.math.BigDecimal("3.00")),
      Row(103L, null, null, null, null, null),
      Row(104L, "héllo wörld ✓", false, -5, -0.25,
        new java.math.BigDecimal("-42.10")))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row]((long ++ edge).asJava), schema)
    df.write.format("graft.sources.GraftKvSink").option("path", dir)
      .mode("append").save()
    val back = spark.read.format("graft.sources.GraftKvSink")
      .option("path", dir).load()
    val got = back.collect().sortBy(_.getLong(0))
    val want = (long ++ edge).sortBy(_.getLong(0))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.get(0) == w.get(0) && g.get(1) == w.get(1) &&
        g.get(2) == w.get(2) && g.get(3) == w.get(3) && g.get(4) == w.get(4),
        s"row ${w.get(0)}")
      val (gd, wd) = (g.getDecimal(5), w.getDecimal(5))
      assert(if (wd == null) gd == null else gd.compareTo(wd) == 0,
        s"dec ${w.get(0)}: $gd vs $wd")
    }
    // numeric-only projection over the same straddling lines (the string
    // column is skipped, not decoded)
    val sums = back.agg(sum(col("i")), sum(col("d"))).head()
    assert(sums.getLong(0) == long.map(_.getInt(3).toLong).sum + 1 + 2 + 3 - 5)
  }

  test("a kv catalog table no write has published reads empty and takes DML") {
    val root = java.nio.file.Files.createTempDirectory("graft_kv_unpublished")
    def rows(t: String, at: String = ""): Seq[(Int, Int)] =
      spark.sql(s"SELECT k, v FROM graft.unpub.$t $at").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
    Seq("cow" -> "", "mor" -> ", mor 'true'").foreach { case (t, mor) =>
      spark.sql(s"DROP TABLE IF EXISTS graft.unpub.$t")
      spark.sql(s"CREATE TABLE graft.unpub.$t (k INT, v INT) USING graft_kv " +
        s"OPTIONS (path '${root.resolve(t)}', epochs 'true'$mor)")
      assert(rows(t).isEmpty, t)
      assert(spark.sql(s"SELECT count(*) FROM graft.unpub.$t").head().getLong(0) == 0L)
      spark.sql(s"UPDATE graft.unpub.$t SET v = 1 WHERE k = 1")
      spark.sql(s"UPDATE graft.unpub.$t SET v = 2")
      spark.sql(s"DELETE FROM graft.unpub.$t WHERE k = 1")
      assert(rows(t).isEmpty, t)
      spark.sql(s"MERGE INTO graft.unpub.$t t USING (SELECT 1 AS k, 10 AS v) s " +
        "ON s.k = t.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      assert(rows(t) == Seq((1, 10)), t)
      // the first commit is epoch 0, whichever statement makes it
      assert(rows(t, "VERSION AS OF 0") == Seq((1, 10)), t)
      spark.sql(s"INSERT INTO graft.unpub.$t VALUES (2, 20)")
      assert(rows(t, "VERSION AS OF 1") == Seq((1, 10), (2, 20)), t)
      spark.sql(s"DROP TABLE graft.unpub.$t")
    }
  }

  test("an always-true DELETE on an epochs table keeps every earlier epoch; TRUNCATE resets") {
    val root = java.nio.file.Files.createTempDirectory("graft_kv_delete_all")
    // (table, options, the DELETE); `mor` holds a delta when it deletes
    try Seq(("cow", "", "DELETE FROM graft.delall.cow"),
        ("cow1", "", "DELETE FROM graft.delall.cow1 WHERE 1 = 1"),
        ("mor", ", mor 'true'", "DELETE FROM graft.delall.mor"),
        ("mor1", ", mor 'true'", "DELETE FROM graft.delall.mor1 WHERE 1 = 1"))
      .foreach { case (t, opts, delete) =>
        spark.sql(s"DROP TABLE IF EXISTS graft.delall.$t")
        spark.sql(s"CREATE TABLE graft.delall.$t (id BIGINT, v STRING) USING graft_kv " +
          s"OPTIONS (path '${root.resolve(t)}', epochs 'true'$opts)")
        def rows(at: String = ""): Seq[(Long, String)] =
          spark.sql(s"SELECT id, v FROM graft.delall.$t $at").collect()
            .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
        def history(): Seq[Long] = spark.sql(s"DESCRIBE HISTORY graft.delall.$t")
          .collect().map(_.getLong(0)).toSeq
        spark.sql(s"INSERT INTO graft.delall.$t VALUES (1L, 'a')")
        spark.sql(s"INSERT INTO graft.delall.$t VALUES (2L, 'b')")
        spark.sql(s"UPDATE graft.delall.$t SET v = 'B' WHERE id = 2")
        val states = Seq(Seq((1L, "a")), Seq((1L, "a"), (2L, "b")),
          Seq((1L, "a"), (2L, "B")))
        assert(history().take(3) == Seq(0L, 1L, 2L), s"$t: ${history()}")
        spark.sql(delete)
        assert(rows().isEmpty, t)
        states.indices.foreach(e =>
          assert(rows(s"VERSION AS OF $e") == states(e), s"$t epoch $e"))
        val h = history()
        assert(h.take(3) == Seq(0L, 1L, 2L) && h.length == 4, s"$t: $h")
        assert(rows(s"VERSION AS OF ${h.last}").isEmpty, t)
        // TRUNCATE TABLE still restarts the table, history included
        spark.sql(s"INSERT INTO graft.delall.$t VALUES (3L, 'c')")
        spark.sql(s"TRUNCATE TABLE graft.delall.$t")
        assert(rows().isEmpty && history().isEmpty, s"$t: ${history()}")
        spark.sql(s"DROP TABLE graft.delall.$t")
      }
    finally ops.deleteTree(root.toFile)
  }
}

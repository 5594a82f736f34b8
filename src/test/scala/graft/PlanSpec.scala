package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Plan-hygiene assertions (SURVEY.md §4): the physical plans must show the
  * optimizer behaviors the 100 TB posture depends on — parquet predicate
  * pushdown for key-range scans and broadcast joins for dimension tables. */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString

  /** Attribute names appearing in equi-join conditions of the OPTIMIZED
    * logical plan — stable across Spark formatting/AQE changes, unlike
    * executedPlan string fragments (a round-6 advisor finding). */
  private def equiJoinKeyNames(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    df.queryExecution.optimizedPlan.collect {
      case j: Join => j.condition.toSeq.flatMap(_.collect {
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          Seq(a.name, b.name)
      }.flatten)
    }.flatten.toSet
  }

  test("keyrange_scan pushes the composite-key predicates into the parquet scan") {
    val plan = planOf("keyrange_scan")
    assert(plan.contains("PushedFilters:"), plan.take(500))
    assert(plan.contains("GreaterThan(l_orderkey,1000)") ||
      plan.contains("l_orderkey"), plan.take(500))
  }

  test("q1_pricing pushes the shipdate filter and prunes columns") {
    val plan = planOf("q1_pricing")
    assert(plan.contains("PushedFilters:") && plan.contains("l_shipdate"))
    // pruned read schema: no l_orderkey/l_partkey in the scan
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_partkey"), readSchema)
  }

  test("search_bm25 broadcasts the query-term relation; no cartesian product") {
    val plan = planOf("search_bm25")
    // the tiny query-term/stat relations broadcast into tf; the plan must
    // never cross the corpus with itself
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("search_hybrid_rrf fuses both arms with broadcasts, no cartesian scoring") {
    val plan = planOf("search_hybrid_rrf")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      plan.take(800))
    // the vector arm is a 3-query broadcast nested loop over the corpus —
    // linear in the corpus — but a full CartesianProduct would be O(n^2)
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("join_broadcast builds broadcast joins for the dimension tables") {
    val plan = planOf("join_broadcast")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      plan.take(500))
  }

  test("partitioned_write prunes year directories at read time") {
    val plan = planOf("partitioned_write")
    assert(plan.contains("PartitionFilters:") && plan.contains("o_year"),
      plan.take(800))
  }

  test("dpp_prune plants a dynamic-pruning subquery on the fact scan") {
    val df = SparkEntry.queries("dpp_prune")(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    // runtime pruning: the fact scan's PartitionFilters carry a
    // dynamicpruning expression fed by the filtered dim side
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(1200))
    // and it actually executes correctly (2 target years bind)
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(1995, 1996))
  }

  test("topk heap operator: two-phase plan, one exchange, window-twin equality") {
    import org.apache.spark.sql.functions.col
    val df = graft.ops.Windows.windowTopkHeap(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    // both heap phases present, partial BELOW the exchange
    val lines = plan.linesIterator.toSeq
    val topkIdx = lines.zipWithIndex.collect {
      case (l, i) if l.contains("GraftTopK") => i
    }
    assert(topkIdx.length == 2, plan.take(2000))
    val exIdx = lines.indexWhere(_.contains("Exchange hashpartitioning"), topkIdx.head)
    assert(topkIdx.head < exIdx && exIdx < topkIdx.last, plan.take(2000))
    // final above the exchange, partial below (rendered as the trailing
    // `partial` boolean of each GraftTopK node)
    assert(lines(topkIdx.head).contains("false") &&
      lines(topkIdx.last).contains("true"), plan.take(2000))
    // semantics == the stock window-function formulation, exactly
    val o = Tables.orders(spark, sf("sf0.001"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val twin = o.select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(win))
      .filter(col("rn") <= 3).drop("rn")
      .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
    assert(df.collect().toSeq == twin.collect().toSeq)
    // k exceeding every group size degrades to identity (all rows kept)
    val all = graft.plans.TopK.perGroup(
      o.select(col("o_orderpriority"), col("o_orderkey")),
      Seq("o_orderpriority"), Seq(("o_orderkey", true)), 1000000)
    assert(all.count() == o.count())
    // unknown column and k <= 0 are rejected eagerly
    intercept[IllegalArgumentException] {
      graft.plans.TopK.perGroup(o, Seq("nope"), Seq(("o_orderkey", true)), 3)
    }
    intercept[IllegalArgumentException] {
      graft.plans.TopK.perGroup(o, Seq("o_orderpriority"),
        Seq(("o_orderkey", true)), 0)
    }
  }

  test("index_rewrite plans an index probe + key semi-join, with vetoes") {
    import org.apache.spark.sql.functions.{col, count, lit}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scanPaths(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
      }.flatten
    val d = sf("sf0.001")
    if (graft.ops.Ddl.lookup("pidx_t").isDefined)
      graft.ops.Ddl.execute(spark, "DROP TABLE pidx_t")
    if (graft.plans.IndexCatalog.named("pidx_ck").isDefined)
      graft.ops.Ddl.execute(spark, "DROP INDEX pidx_ck")
    graft.ops.Ddl.execute(spark,
      s"CREATE TABLE pidx_t MAPPED BY '$d/orders.parquet' KEYS (o_orderkey)")
    graft.ops.Ddl.execute(spark, "CREATE INDEX pidx_ck ON pidx_t (o_custkey)")
    try {
      // introspection: the registered index is listed
      val shown = graft.ops.Ddl.execute(spark, "SHOW INDEXES").collect()
        .map(r => (r.getString(0), r.getString(2)))
      assert(shown.contains(("pidx_ck", "o_custkey")), shown.mkString(";"))
      val df = graft.ops.KeyRange.indexRewriteFrame(spark, "pidx_t")
      // the optimized plan must read the INDEX parquet and carry a LeftSemi
      val paths = scanPaths(df)
      assert(paths.exists(_.contains("graft_indexes")), paths.mkString(";"))
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("LeftSemi"), opt.take(1500))
      // results prove semantics; the oracle gate hash-matches them
      val direct = spark.read.parquet(s"$d/orders.parquet")
        .filter(col("o_custkey").isin(11L, 57L, 123L) &&
          col("o_totalprice") > 1000.0)
        .count()
      assert(df.count() == direct && direct > 0)
      // the same rewrite serves the graft.t spelling of the table
      val viaSql = spark.sql("SELECT * FROM graft.pidx_t WHERE o_custkey = 11")
      assert(scanPaths(viaSql).exists(_.contains("graft_indexes")))
      assert(viaSql.count() == spark.read.parquet(s"$d/orders.parquet")
        .filter(col("o_custkey") === 11L).count())
      // a key-pruning projection still rewrites correctly: predicate
      // pushdown has moved the filter onto the bare relation (which always
      // exposes the key), so the semi-join lands UNDER the projection
      val pruned = spark.table("pidx_t")
        .select(col("o_custkey"))
        .filter(col("o_custkey") === 11L)
      assert(scanPaths(pruned).exists(_.contains("graft_indexes")))
      assert(pruned.count() == spark.read.parquet(s"$d/orders.parquet")
        .filter(col("o_custkey") === 11L).count())
      // non-indexable predicate forms stay full scans
      val range = spark.table("pidx_t").filter(col("o_custkey") > 100L)
      assert(!scanPaths(range).exists(_.contains("graft_indexes")))
      // an independent read of the base parquet is a different dataset:
      // the index covers the table's store, never that file
      val bare = spark.read.parquet(s"$d/orders.parquet")
        .filter(col("o_custkey") === 11L)
      assert(!scanPaths(bare).exists(_.contains("graft_indexes")))
      // restart: a fresh process re-registers from the persisted catalog
      graft.ops.Ddl.resetForTest()
      assert(graft.plans.IndexCatalog.isEmpty)
      val again = graft.ops.KeyRange.indexRewriteFrame(spark, "pidx_t")
      assert(scanPaths(again).exists(_.contains("graft_indexes")),
        "persisted index did not survive the simulated restart")
      // veto: DML moves the store past the index's build version, so the
      // rewrite stands down until REFRESH INDEX
      graft.ops.Ddl.execute(spark, "DELETE FROM pidx_t WHERE o_custkey = 11")
      assert(!scanPaths(graft.ops.KeyRange.indexRewriteFrame(spark, "pidx_t"))
        .exists(_.contains("graft_indexes")))
      graft.ops.Ddl.execute(spark, "REFRESH INDEX pidx_ck")
      val refreshed = graft.ops.KeyRange.indexRewriteFrame(spark, "pidx_t")
      assert(scanPaths(refreshed).exists(_.contains("graft_indexes")))
      assert(refreshed.count() == spark.read.parquet(s"$d/orders.parquet")
        .filter(col("o_custkey").isin(57L, 123L) && col("o_totalprice") > 1000.0)
        .count())
    } finally {
      graft.ops.Ddl.execute(spark, "DROP INDEX pidx_ck")
      graft.ops.Ddl.execute(spark, "DROP TABLE pidx_t")
    }
  }

  test("mv_rewrite redirects the aggregate to the MV snapshot scan") {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scanPaths(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
      }.flatten
    // the judged mv_rewrite materializes-then-unregisters; the LIVE frame
    // (registration still active) is what carries the rewritten plan
    val df = graft.ops.KeyRange.mvRewriteFrame(spark, sf("sf0.001"))
    // the rewrite is an optimizer rule, so the OPTIMIZED logical plan is
    // where the swapped relation is visible (under AQE the executed-plan
    // string stays opaque until finalized)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains("mv_rewrite")), paths.mkString(";"))
    assert(!paths.exists(_.contains("orders.parquet")), paths.mkString(";"))
    // and the re-combined partials are the direct aggregation, exactly
    val direct = spark.read.parquet(s"${sf("sf0.001")}/orders.parquet")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rewritten = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rewritten == direct)
    // a shape the partials canNOT reproduce (avg of a different column)
    // must NOT be rewritten — it still reads the fact parquet
    val other = spark.read.parquet(s"${sf("sf0.001")}/orders.parquet")
      .groupBy(col("o_orderstatus"))
      .agg(max(col("o_orderkey")).as("mx"))
    val otherPaths = scanPaths(other)
    assert(otherPaths.exists(_.contains("orders.parquet")), otherPaths.mkString(";"))
    // a MULTI-path read that merely includes the MV source must not be
    // redirected either — the snapshot knows nothing of the extra path's
    // rows (here: the same path twice, doubling every count)
    val src = s"${sf("sf0.001")}/orders.parquet"
    val multi = spark.read.parquet(src, src)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"))
    assert(scanPaths(multi).exists(_.contains("orders.parquet")),
      scanPaths(multi).mkString(";"))
    val single = direct // direct counts computed above from one copy
    val doubled = multi.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(doubled == single.map { case (k, v) => k -> v * 2 })
    graft.plans.MvCatalog.clear() // don't leak the registration to other tests
  }

  test("bloom_prune injects a runtime bloom probe when thresholds scale") {
    // At fixture scale the fact scan is far below the 10 GB default
    // application-side threshold, so the judged run plans a plain join.
    // Re-plan the same query with thresholds scaled to fixture size (and
    // broadcast off, so the probe has a shuffle to save) and assert the
    // bloom filter probe lands on the fact side — the plan a 100 TB fact
    // table gets out of the box — and that the results stay identical.
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    val plain = SparkEntry.queries("bloom_prune")(spark, sf("sf0.001")).collect()
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val df = SparkEntry.queries("bloom_prune")(spark, sf("sf0.001"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("might_contain") ||
        plan.toLowerCase.contains("bloomfilter"), plan.take(1500))
      assert(df.collect().toSeq == plain.toSeq)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("orc_roundtrip prunes columns and pushes the quantity filter to ORC") {
    val plan = planOf("orc_roundtrip")
    assert(plan.contains("PushedFilters:") && plan.contains("l_quantity"),
      plan.take(1000))
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema"))
      .mkString("\n")
    assert(!readSchema.contains("l_partkey"), readSchema)
  }

  test("zorder_layout clusters files disjointly and pushes both box filters") {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val path = ops.KeyRange.writeZorder(spark, sf("sf0.001"))
    // range-partition + sort on the Morton code → per-file zval ranges are
    // pairwise disjoint, which is what makes BOTH dimensions' min/max stats
    // tight enough to skip row groups
    val ranges = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("zval")).as("lo"), max(col("zval")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length >= 2, ranges.mkString(","))
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi <= lo, s"overlapping file ranges: $ranges")
    }
    val plan = planOf("zorder_layout")
    assert(plan.contains("PushedFilters:") && plan.contains("l_partkey") &&
      plan.contains("l_suppkey"), plan.take(1000))
  }

  test("AQE splits a skewed join partition when thresholds scale") {
    import org.apache.spark.sql.functions.{col, lit, when}
    import spark.implicits._
    // one giant key + a uniform tail vs a small keyed right side — the
    // runtime-skew shape join_salted handles statically; here AQE's
    // OptimizeSkewedJoin must split the oversized partition at runtime
    // (thresholds scaled to fixture size, broadcast off so a shuffle join
    // actually plans)
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val left = spark.range(0, 60000)
        .select(when(col("id") % 10 < 8, lit(0L)).otherwise(col("id")).as("k"),
          col("id").as("payload"))
      val right = spark.range(0, 2000).select(col("id").as("k"),
        (col("id") * 3).as("w"))
      val joined = left.join(right, "k")
      // collect() (not count()) so the executed plan inspected below is the
      // join's own AQE execution, not a separate count aggregate
      assert(joined.collect().length == 48000 + 400)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true") || finalPlan.contains("skewed"),
        finalPlan.take(1500))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucketed join plans without an exchange on either side") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (ot, ct) = ops.KeyRange.writeBucketed(spark, sf("sf0.001"))
      val join = spark.table(ot).join(spark.table(ct),
        org.apache.spark.sql.functions.col("o_custkey") ===
          org.apache.spark.sql.functions.col("c_custkey"))
      val plan = join.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(800))
      assert(join.count() ==
        ops.KeyRange.bucketedJoin(spark, sf("sf0.001"))
          .agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("LSH near-dup and temporal joins plan without cartesian products") {
    for (name <- Seq("dedup_embed_cosine", "dedup_minhash", "join_asof",
        "join_range")) {
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct"), s"$name: ${plan.take(400)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name: ${plan.take(400)}")
    }
  }

  test("minhash LSH candidate generation joins on band keys, never quadratic") {
    val plan = ops.Dedup.minhashCandidates(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(400))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(400))
    assert(plan.contains("band_hash"), plan.take(800))
  }

  test("containment candidates distribute by token, not language blocks") {
    val plan = planOf("dedup_containment")
    assert(!plan.contains("CartesianProduct"), plan.take(400))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(400))
    // candidate joins keyed on (term, lang) — the prefix-filter shape; a
    // bare-lang block join would key on lang alone
    val keys = equiJoinKeyNames(
      SparkEntry.queries("dedup_containment")(spark, sf("sf0.001")))
    assert(keys.contains("term"), keys.toString)
  }

  test("topk heap operator stays exact at adversarial group cardinality") {
    import org.apache.spark.sql.functions.col
    // orders sf0.001 has ~750 distinct custkeys; a 16-group cap forces the
    // partial phase into passthrough and the final phase through its
    // sorted-run spill/merge path — results must equal the stock window
    // plan bit-for-bit
    val prev = spark.conf.getOption("spark.graft.topk.maxGroupsPerPartition")
    spark.conf.set("spark.graft.topk.maxGroupsPerPartition", "16")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    // AQE wraps stages into leaf QueryStageExec nodes, hiding the exec's
    // metrics from plan.collect — this test reads them, so run non-adaptive
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val o = Tables.orders(spark, sf("sf0.001"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      val df = graft.plans.TopK.perGroup(o, Seq("o_custkey"),
        Seq(("o_totalprice", false), ("o_orderkey", true)), 2)
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val twin = o
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(win))
        .filter(col("rn") <= 2).drop("rn")
      val ordered = df.orderBy(col("o_custkey"), col("o_totalprice").desc,
        col("o_orderkey"))
      assert(ordered.collect().toSeq ==
        twin.orderBy(col("o_custkey"), col("o_totalprice").desc,
          col("o_orderkey")).collect().toSeq)
      // the guard actually fired: final phase spilled, partial passed rows
      val execd = ordered.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val metrics = execd.collect {
        case e: graft.plans.GraftTopKExec => e.metrics
      }
      assert(metrics.exists(_.get("numSpills").exists(_.value > 0)),
        metrics.map(_.view.mapValues(_.value).toMap).toString)
      assert(metrics.exists(_.get("numPassthroughRows").exists(_.value > 0)),
        metrics.map(_.view.mapValues(_.value).toMap).toString)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      prev match {
        case Some(v) => spark.conf.set("spark.graft.topk.maxGroupsPerPartition", v)
        case None => spark.conf.unset("spark.graft.topk.maxGroupsPerPartition")
      }
    }
  }

  test("global topk: heap pair + single-partition exchange, no sort anywhere") {
    import org.apache.spark.sql.functions.col
    val o = Tables.orders(spark, sf("sf0.001"))
      .select(col("o_orderkey"), col("o_totalprice"))
    val df = graft.plans.TopK.global(o,
      Seq(("o_totalprice", false), ("o_orderkey", true)), 7)
    val plan = df.queryExecution.executedPlan.toString
    // two heap phases around a single-partition exchange (AllTuples), and
    // crucially NO sort operator and no TakeOrdered — the whole point
    assert("GraftTopK".r.findAllIn(plan).length == 2, plan.take(2000))
    assert(plan.contains("Exchange SinglePartition"), plan.take(2000))
    assert(!plan.contains("Sort ") && !plan.contains("TakeOrderedAndProject"),
      plan.take(2000))
    // exact equality with the stock orderBy().limit(k)
    val expect = o.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(7).collect().toSeq
    val got = df.collect().toSeq
      .sortBy(r => (-r.getDouble(1), r.getLong(0)))
    assert(got == expect, s"$got vs $expect")
  }

  test("ANALYZE stats flip a mutated keyed table to hint-free broadcast") {
    // orders sf0.001 is ~36 KB on disk; the DELETE keeps ~10 rows. Size-only
    // estimation cannot see through the replay filter, so pre-ANALYZE the
    // table still "weighs" the full file and stays a shuffle join at an
    // 8 KB broadcast threshold; ANALYZE records the true row count and the
    // preCBO annotation (plans.AnalyzeStatsRule) flips join selection with
    // no hint anywhere in the query.
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    if (ops.Ddl.lookup("cbo_t").isDefined) ops.Ddl.execute(spark, "DROP TABLE cbo_t")
    ops.Ddl.execute(spark,
      s"CREATE TABLE cbo_t MAPPED BY '${sf("sf0.001")}/orders.parquet' KEYS (o_orderkey)")
    ops.Ddl.execute(spark, "DELETE FROM cbo_t WHERE o_orderkey > 40")
    val big = spark.read.parquet(s"${sf("sf0.001")}/lineitem.parquet")
    def join = big.join(spark.table("cbo_t"),
      big("l_orderkey") === org.apache.spark.sql.functions.col("o_orderkey"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "8192")
      val before = join.queryExecution.sparkPlan.toString
      assert(!before.contains("BroadcastHashJoin"), before.take(600))
      ops.Ddl.execute(spark, "ANALYZE TABLE cbo_t COMPUTE STATISTICS")
      val after = join.queryExecution.sparkPlan.toString
      assert(after.contains("BroadcastHashJoin"), after.take(600))
      // results are unchanged by the annotation (it is stats-only)
      assert(join.count() == big.join(spark.read
          .parquet(s"${sf("sf0.001")}/orders.parquet")
          .filter(!org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.col("o_orderkey") > 40,
            org.apache.spark.sql.functions.lit(false))),
        big("l_orderkey") === org.apache.spark.sql.functions.col("o_orderkey")).count())
      // an INDEPENDENT read of the same parquet is a different dataset
      // (the pre-mutation file): it must never inherit the table's
      // post-mutation statistics, or a 10-row annotation could broadcast
      // a huge raw file (the rule requires the replay's base-relation tag)
      val direct = big.join(
        spark.read.parquet(s"${sf("sf0.001")}/orders.parquet"),
        big("l_orderkey") === org.apache.spark.sql.functions.col("o_orderkey"))
      assert(!direct.queryExecution.optimizedPlan.toString
        .contains("GraftStatsNode"), direct.queryExecution.optimizedPlan.toString.take(600))
      // ...and so must a TIME-TRAVEL frame (asOf reads a mutation prefix,
      // not the analyzed current state)
      val asOf0 = ops.Ddl.asOf(spark, "cbo_t", 0)
      assert(!asOf0.queryExecution.optimizedPlan.toString
        .contains("GraftStatsNode"))
      assert(asOf0.count() > 100) // the full pre-delete frame
      // a later mutation stales the stats: the flip retracts, never fires
      // on outdated numbers, and SHOW STATS flags the staleness
      ops.Ddl.execute(spark, "DELETE FROM cbo_t WHERE o_orderkey > 20")
      val stale = join.queryExecution.sparkPlan.toString
      assert(!stale.contains("BroadcastHashJoin"), stale.take(600))
      val flags = ops.Ddl.execute(spark, "SHOW STATS cbo_t").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(flags.get("stats_stale").contains("true"), flags.toString)
      // re-ANALYZE refreshes: flag clears, flip returns
      ops.Ddl.execute(spark, "ANALYZE TABLE cbo_t COMPUTE STATISTICS")
      assert(!ops.Ddl.execute(spark, "SHOW STATS cbo_t").collect()
        .exists(_.getString(0) == "stats_stale"))
      assert(join.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      ops.Ddl.execute(spark, "DROP TABLE cbo_t")
    }
  }

  test("kv connector reports manifest statistics for join planning") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_cbo").toString
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "s")
      .write.format("graft.sources.GraftKvSink").option("path", dir)
      .mode("overwrite").save()
    val small = spark.read.format("graft.sources.GraftKvSink")
      .option("path", dir).load()
    val big = spark.read.parquet(s"${sf("sf0.001")}/lineitem.parquet")
    // a 3-row kv table must broadcast hint-free: the scan's
    // estimateStatistics reports manifest rows + on-disk bytes
    val plan = big.join(small,
      big("l_orderkey") === small("id")).queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
  }

  test("similarity query sample is a bounded top-k, not a global sort") {
    // the fixed-size md5 query sample must plan as TakeOrderedAndProject
    // (linear scan + 64-row heap per partition) over just the id column,
    // and reach the corpus as a broadcast — never a full Sort or a shuffle
    // of the embedding vectors for the sample side
    val df = SparkEntry.queries("sim_topk")(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(600))
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
  }

  test("levenshtein candidates distribute by token, not language blocks") {
    val df = SparkEntry.queries("text_levenshtein")(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(400))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(400))
    val keys = equiJoinKeyNames(df)
    assert(keys.contains("term"), keys.toString)
  }

  test("large-vocabulary jaccard candidates distribute by token, not lang blocks") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_bigvocab").toString
    (0 until 30).map(i => (i.toLong,
        (0 until 10).map(j => f"w${(i * 7 + j) % 80}%02d").distinct.sorted.mkString(" "),
        "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val df = ops.Dedup.dedupNgramJaccard(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(400))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(400))
    // candidate join keyed on (term, lang) — prefix filtering; the mask path's
    // bare-lang block join would key on lang alone
    assert(equiJoinKeyNames(df).contains("term"), equiJoinKeyNames(df).toString)
  }

  test("window_distribution windows the histogram, never the base table") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // the r6 de-skew fix: every Window in the plan must sit ABOVE an
    // aggregate (the bounded (flag, quantity) histogram) — a window whose
    // subtree has no Aggregate would be sorting base-table partitions again
    val plan = SparkEntry.queries("window_distribution")(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"window over un-aggregated input:\n$w")
    }
  }

  test("version_compact combines map-side before its single shuffle") {
    val plan = planOf("version_compact")
    // partial max(struct) below the exchange: the change-log compaction
    // shape — each partition reduces to its per-key frontier first
    assert(plan.contains("partial_max(struct"), plan.take(1200))
    assert(!plan.contains("Window"), plan.take(1200))
  }

  test("join_salted joins on (key, salt), never broadcast-nested-loop") {
    val plan = planOf("join_salted")
    assert(!plan.contains("CartesianProduct"), plan.take(400))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(400))
    assert(plan.contains("salt"), plan.take(1200))
  }

  test("embed_quantize stays a narrow map until the output sort") {
    val plan = planOf("embed_quantize")
    // the only exchange is the final rangepartitioning for orderBy
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(800))
  }

  test("text_chunk stays a map-only explode until the output sort") {
    val plan = planOf("text_chunk")
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(800))
    assert(!plan.contains("Window"), plan.take(800))
  }

  test("GraftExtensions installs graft_dot without error") {
    val ext = new SparkSessionExtensions
    (new functions.GraftExtensions)(ext) // must register cleanly
    // and the runtime-registered function parses + executes end-to-end
    functions.VectorOps.ensureRegistered(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").collect()
    assert(r.head.getDouble(0) == 11.0)
  }

  test("ANALYZE FOR COLUMNS: keyed join-output cardinality flips the outer broadcast") {
    import org.apache.spark.sql.functions.col
    // two MUTATED keyed tables (only mutated replays annotate), analyzed
    Seq(("cbo_o", "orders.parquet", "o_orderkey"),
        ("cbo_c", "customer.parquet", "c_custkey")).foreach {
      case (t, file, key) =>
        if (ops.Ddl.lookup(t).isDefined) ops.Ddl.execute(spark, s"DROP TABLE $t")
        ops.Ddl.execute(spark,
          s"CREATE TABLE $t MAPPED BY '${sf("sf0.001")}/$file' KEYS ($key)")
        ops.Ddl.execute(spark, s"DELETE FROM $t WHERE $key < 0") // mutate
        ops.Ddl.execute(spark, s"ANALYZE TABLE $t COMPUTE STATISTICS")
    }
    def dims() = spark.table("cbo_o").join(spark.table("cbo_c"),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey")) // narrow join output
    def fact() = spark.read
      .parquet(s"${sf("sf0.001")}/lineitem.parquet") // full width: stays big
    def planWith(cbo: Boolean, thr: Long): String = {
      val prevCbo = spark.conf.getOption("spark.sql.cbo.enabled")
      val prevThr = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr.toString)
        fact().join(dims(), col("l_orderkey") === col("o_orderkey"))
          .queryExecution.executedPlan.toString
      } finally {
        prevCbo.fold(spark.conf.unset("spark.sql.cbo.enabled"))(
          spark.conf.set("spark.sql.cbo.enabled", _))
        prevThr.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      }
    }
    val factBytes = fact().queryExecution.optimizedPlan.stats.sizeInBytes
    val thr = (factBytes * 4 / 5).toLong.max(1L)
    // the OUTER join (fact ⋈ dims on l_orderkey) is the one at stake —
    // the inner o⋈c broadcast flips from the row-count annotation alone.
    // Row counts cannot estimate the inner join's OUTPUT (JoinEstimation
    // needs the join keys' NDV): size-only product, outer stays a SMJ
    val noCols = planWith(cbo = true, thr)
    assert(noCols.contains("SortMergeJoin [l_orderkey"), noCols.take(800))
    // with per-column stats the o⋈c output estimates ≈ |orders| narrow
    // rows — small enough to broadcast into the wide fact with no hint
    Seq("cbo_o", "cbo_c").foreach(t => ops.Ddl.execute(spark,
      s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS"))
    val withCols = planWith(cbo = true, thr)
    assert(withCols.contains("BroadcastHashJoin [l_orderkey"),
      withCols.take(800))
    // and the size-only baseline keeps the outer join a shuffle
    val off = planWith(cbo = false, thr)
    assert(off.contains("SortMergeJoin [l_orderkey"), off.take(800))
    Seq("cbo_o", "cbo_c").foreach(t => ops.Ddl.execute(spark, s"DROP TABLE $t"))
  }

  test("kv manifest column stats feed the CBO: the broadcast flip is stats-driven") {
    val root = java.nio.file.Files.createTempDirectory("graft_kv_cbo_t")
    val dim = root.resolve("dim").toString
    // round-robin repartition scatters the key range across every file:
    // per-file min/max spans ~the whole domain, so file-level stats
    // pruning cannot shrink the baseline — only COLUMN stats can
    spark.range(4000).repartition(4)
      .selectExpr("id AS k", "CAST(id % 100 AS LONG) AS grp",
        "repeat('x', 20) AS pad")
      .write.format("graft.sources.GraftKvSink").option("path", dim)
      .mode("overwrite").save()
    val rawBytes = Option(new java.io.File(dim).listFiles())
      .map(_.filter(_.getName.endsWith(".kv")).map(_.length).sum).getOrElse(0L)
    assert(rawBytes > 0)
    def planWith(cbo: Boolean, path: String): String = {
      val prevCbo = spark.conf.getOption("spark.sql.cbo.enabled")
      val prevThr = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
          (rawBytes / 3).toString)
        val fact = spark.range(20000).selectExpr("id % 4000 AS k", "id AS n")
        fact.join(
            spark.read.format("graft.sources.GraftKvSink").option("path", path)
              .load().filter(org.apache.spark.sql.functions.col("k") <= 200),
            "k")
          .queryExecution.executedPlan.toString
      } finally {
        prevCbo.fold(spark.conf.unset("spark.sql.cbo.enabled"))(
          spark.conf.set("spark.sql.cbo.enabled", _))
        prevThr.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      }
    }
    // size-only baseline: raw bytes exceed the threshold, no broadcast
    val baseline = planWith(cbo = false, dim)
    assert(!baseline.contains("BroadcastHashJoin"), baseline.take(800))
    // column stats (min/max from per-file ranges, NDV from bloom union)
    // shrink the filtered estimate below the threshold: broadcast, no hint
    val withStats = planWith(cbo = true, dim)
    assert(withStats.contains("BroadcastHashJoin"), withStats.take(800))
    // a MOR delta overlaying the boundary suppresses column stats (a
    // delete can evict a file's min/max row) — same CBO setting, no flip:
    // the broadcast decision above is driven by the stats, not the switch
    spark.sql("DROP TABLE IF EXISTS graft.cbo.m")
    val morDir = root.resolve("mor").toString
    spark.sql("CREATE TABLE graft.cbo.m (k BIGINT, grp BIGINT, pad STRING) " +
      s"USING graft_kv OPTIONS (path '$morDir', mor 'true')")
    spark.range(4000).repartition(4)
      .selectExpr("id AS k", "CAST(id % 100 AS LONG) AS grp",
        "repeat('x', 20) AS pad")
      .write.format("graft.sources.GraftKvSink").option("path", morDir)
      .mode("append").save()
    spark.sql("UPDATE graft.cbo.m SET grp = -1 WHERE k = 7")
    val morPlan = planWith(cbo = true, morDir)
    assert(!morPlan.contains("BroadcastHashJoin"), morPlan.take(800))
    spark.sql("DROP TABLE IF EXISTS graft.cbo.m")
  }

  test("keyed equi-height histograms flip the skew-join plan (demoted from judged)") {
    // the full r17 judged harness, now spec-pinned: both plan arms
    // (histogram-informed keeps the shuffle on the 75%-hot-key join,
    // NDV-only broadcasts it) assert inside keyedCboHistogram itself,
    // and the cold-key result stays row-checked here; the kv sidecar
    // twin kv_cbo_histogram remains the judged (oracle-gated) copy
    val df = graft.ops.Ddl.keyedCboHistogram(spark, sf("sf0.001"))
    assert(df.collect().length > 0)
  }
}

package graft

import graft.functions.GraftExtensions
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.internal.StaticSQLConf

/** GraftExtensions sizes Spark's compiled-class cache when a session is
  * built with it: a query's generated classes stay cached while hundreds of
  * other classes are compiled, where Spark's default of 100 entries (4 LRU
  * segments of 25) would evict them. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the shared session runs with graft's compiled-class cache bound") {
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key) ==
      GraftExtensions.CodegenCacheEntries.toString)
  }

  test("a query's classes stay cached across 250+ other compiled classes") {
    def probe(): Seq[(Long, Long)] =
      spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k", "id * 3 AS v")
        .groupBy("k").sum("v").collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1).toSeq
    val expected = probe()
    val before = compiles
    // 150 projections whose expressions all differ in shape: term i nests
    // i mod 5 functions over a product with its own constant
    val fns = Seq("abs", "negative", "positive", "hex", "length")
    (1 to 150).foreach { i =>
      val e = (0 until i % 5).foldLeft(s"id * $i")((acc, n) => s"${fns(n)}($acc)")
      spark.range(0, 8, 1, 2).selectExpr(s"$e AS x").collect()
    }
    assert(compiles - before > 250, "the filler must compile more than 250 classes")
    val mid = compiles
    assert(probe() == expected)
    assert(compiles - mid == 0L)
  }

  test("apply sets the bound only when the property is unset") {
    spark // the shared session is built before the property is touched
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    val saved = sys.props.get(key)
    try {
      sys.props(key) = "123"
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(sys.props(key) == "123")
      sys.props -= key
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(sys.props(key) == GraftExtensions.CodegenCacheEntries.toString)
    } finally saved match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
  }
}

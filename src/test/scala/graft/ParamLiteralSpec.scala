package graft

import graft.plans.{BindParamLiterals, ParamLiteral}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, In, Literal}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._

/** Primitive comparison constants are codegen parameters (plans.ParamLiteral):
  * statements that differ only in a constant share one compiled class, and
  * nothing else about the plan or its results changes. */
class ParamLiteralSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val path: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_param_lit")
      .resolve("t").toString
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("i", IntegerType),
      StructField("s", ShortType), StructField("y", ByteType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("tn", TimestampNTZType), StructField("b", BooleanType)))
    def date(s: String) = java.sql.Date.valueOf(s)
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    def ntz(s: String) = java.time.LocalDateTime.parse(s)
    val rows = Seq(
      Row(Long.MinValue, Int.MinValue, Short.MinValue, Byte.MinValue,
        Double.NegativeInfinity, Float.NegativeInfinity, date("1969-12-31"),
        ts("1969-12-31T23:59:59.999999Z"), ntz("1900-01-01T00:00:00"), false),
      Row(-5L, -1, -3.toShort, -1.toByte, -0.0, -0.0f, date("1970-01-01"),
        ts("1970-01-01T00:00:00Z"), ntz("1970-01-01T00:00:00"), true),
      Row(0L, 0, 0.toShort, 0.toByte, 0.0, 0.0f, date("2000-01-01"),
        ts("2000-01-01T00:00:00Z"), ntz("2000-01-01T00:00:00"), false),
      Row(7L, 42, 3.toShort, 9.toByte, 1.5, 1.5f, date("2024-02-29"),
        ts("2024-02-29T12:34:56.789012Z"), ntz("2024-02-29T12:34:56.789012"), true),
      Row(Long.MaxValue, Int.MaxValue, Short.MaxValue, Byte.MaxValue,
        Double.PositiveInfinity, Float.PositiveInfinity, date("9999-12-31"),
        ts("9999-12-31T23:59:59.999999Z"), ntz("9999-12-31T23:59:59.999999"), true),
      Row(8L, 8, 8.toShort, 8.toByte, Double.NaN, Float.NaN, null, null, null, null),
      Row(9L, null, null, null, null, null, null, null, null, null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(dir)
    dir
  }

  /** A session on the same SparkContext WITHOUT graft's extensions, so
    * without the rule; the shared test session stays the active one. */
  private def withPlainSession[T](f: SparkSession => T): T = {
    val plain = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC").create()
    try f(plain) finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  private def params(p: SparkPlan): Seq[ParamLiteral] =
    collectWithSubqueries(p) { case n => n.expressions }
      .flatten.flatMap(_.collect { case x: ParamLiteral => x })

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a statement that differs only in its key constants compiles nothing new") {
    def run(k: Long, d: Double, day: String): Array[Row] =
      spark.read.parquet(path)
        .where(s"k = $k AND d < ${d}D AND dt >= DATE '$day'")
        .select("k", "i").collect()
    assert(run(7L, 2.0, "2024-01-01").toSeq == Seq(Row(7L, 42)))
    val before = compiles
    assert(run(-5L, 0.5, "1970-01-01").toSeq == Seq(Row(-5L, -1)))
    assert(compiles - before == 0L)
  }

  test("kv point and range reads with new keys compile nothing new") {
    val dir = java.nio.file.Files.createTempDirectory("graft_param_kv").toString
    spark.sql("DROP TABLE IF EXISTS graft.paramlit.kv")
    spark.sql(s"CREATE TABLE graft.paramlit.kv (id BIGINT, n INT, v DOUBLE) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    try {
      spark.sql("INSERT INTO graft.paramlit.kv VALUES (1, 10, 1.5), (2, 20, 2.5), (3, 30, 3.5)")
      def point(k: Long) =
        spark.sql(s"SELECT n FROM graft.paramlit.kv WHERE id = $k").collect().map(_.getInt(0)).toSeq
      def range(lo: Long, hi: Long) = spark.sql(
        s"SELECT count(*), sum(v) FROM graft.paramlit.kv WHERE id BETWEEN $lo AND $hi").collect().head
      assert(point(1L) == Seq(10) && range(1L, 2L) == Row(2L, 4.0))
      val before = compiles
      assert(point(3L) == Seq(30) && range(2L, 3L) == Row(2L, 6.0))
      assert(compiles - before == 0L)
    } finally spark.sql("DROP TABLE graft.paramlit.kv")
  }

  test("results match a session without the rule, edge values included") {
    val preds = Seq(
      "k = CAST('-9223372036854775808' AS BIGINT)", "k = 9223372036854775807L",
      "k < 0", "k >= -5", "k <=> 0L", "k IN (0, -5, 9223372036854775807)",
      "i > -1", "i = 0", "i IN (-1, 42)", "s < CAST(-2 AS SMALLINT)",
      "y = CAST(0 AS TINYINT)",
      "d = CAST('NaN' AS DOUBLE)", "d >= CAST('NaN' AS DOUBLE)", "d = -0.0D",
      "d < 0.0D", "d = CAST('Infinity' AS DOUBLE)", "d > CAST('-Infinity' AS DOUBLE)",
      "d IN (CAST('NaN' AS DOUBLE), -0.0D, 1.5D)",
      "f = CAST('NaN' AS FLOAT)", "f <= CAST(-0.0 AS FLOAT)",
      "dt = DATE '2024-02-29'", "dt < DATE '1970-01-01'",
      "dt IN (DATE '2024-02-29', DATE '1970-01-01')",
      "ts > TIMESTAMP '1970-01-01 00:00:00'",
      "ts = TIMESTAMP '2024-02-29 12:34:56.789012'",
      "tn <= TIMESTAMP_NTZ '2000-01-01 00:00:00'",
      "b > false", "b <= false", "b <=> true", "b = false")
    // the optimizer rewrites `b = false` to `NOT b`: no constant left to bind
    val folded = Set("b = false")
    withPlainSession { plain =>
      preds.foreach { p =>
        Seq(s"SELECT * FROM parquet.`$path` WHERE $p",
            s"SELECT k, ($p) AS m FROM parquet.`$path`").foreach { q =>
          val df = spark.sql(q)
          assert(params(df.queryExecution.executedPlan).nonEmpty != folded(p), q)
          assert(rowsOf(df) == rowsOf(plain.sql(q)), q)
        }
      }
    }
  }

  test("a NULL literal stays a Literal") {
    val k = AttributeReference("k", LongType)()
    val nul = Literal(null, LongType)
    assert(EqualTo(k, nul).transform(ParamLiteral.bindComparisons) == EqualTo(k, nul))
    val in = In(k, Seq(nul, Literal(1L)))
      .transform(ParamLiteral.bindComparisons).asInstanceOf[In]
    assert(in.list == Seq(nul, ParamLiteral(1L, LongType)))
  }

  test("executedPlan text is the same with and without the rule") {
    def norm(s: String) = s.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    val qs = Seq(
      s"SELECT k, d > 1.0D AS big FROM parquet.`$path` WHERE k IN (0, 7) AND dt < DATE '2025-01-01'",
      s"SELECT i % 2 AS g, count(*) FROM parquet.`$path` WHERE ts > TIMESTAMP '1970-01-01 00:00:00' GROUP BY 1")
    withPlainSession { plain =>
      qs.foreach { q =>
        val (a, b) = (spark.sql(q), plain.sql(q))
        a.collect(); b.collect() // AQE prints the final plan once executed
        assert(params(a.queryExecution.executedPlan).nonEmpty, q)
        assert(norm(a.queryExecution.executedPlan.toString) ==
          norm(b.queryExecution.executedPlan.toString), q)
      }
    }
  }

  test("branches that differ only in a filter constant are not merged by exchange reuse") {
    // range() takes no pushed filter, so the constant lives only in FilterExec
    val q = (bound: Int) =>
      s"SELECT $bound AS branch, count(*) AS n FROM range(-3, 7) WHERE id < $bound GROUP BY id % 2"
    def reused(df: DataFrame): Int = {
      df.collect()
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      }.size
    }
    // AQE decides reuse before its per-stage rules bind the constants; the
    // non-adaptive ReuseExchangeAndSubquery runs after them
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try Seq("true", "false").foreach { on =>
      spark.conf.set("spark.sql.adaptive.enabled", on)
      // identical branches do reuse the exchange...
      val same = spark.sql(s"${q(8)} UNION ALL ${q(8)}")
      assert(reused(same) == 1, on)
      assert(same.collect().map(_.getLong(1)).sum == 20L, on)
      // ...branches that differ in the filter constant do not
      val df = spark.sql(s"SELECT branch, sum(n) FROM (${q(1)} UNION ALL ${q(8)}) GROUP BY branch")
      assert(reused(df) == 0, on)
      assert(df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap == Map(1 -> 4L, 8 -> 10L), on)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("the rule rewrites only filter and project comparisons") {
    val df = spark.read.parquet(path).where("k > 0").selectExpr("k", "round(d, 2) AS r")
    val plan = BindParamLiterals(df.queryExecution.sparkPlan)
    assert(params(plan) == Seq(ParamLiteral(0L, LongType)))
  }
}

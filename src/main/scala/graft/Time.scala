package graft

/** Micro-bench utility: times the named queries REPS times each (default 3)
  * against SPARK_GRAFT_SF_DIR, printing every rep — the tool for separating
  * a real plan regression from this host's bursty ambient noise (single-run
  * numbers here swing 2-8x; see BASELINE.md).
  * `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Time dedup_components_lsh"`. */
object Time {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // Validate BEFORE paying SparkSession startup + warmup: an unknown name
    // used to surface as a raw NoSuchElementException mid-loop.
    val unknown = args.filterNot(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"[time] unknown queries: ${unknown.mkString(", ")}")
      System.err.println(s"[time] available: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Warmup: the cheap filter query if registered; otherwise a trivial
    // range count — never an arbitrary (alphabetically-first, possibly
    // expensive) query, which would skew the warmup cost.
    try {
      if (SparkEntry.queries.contains("filter_pred"))
        SparkEntry.queries("filter_pred")(spark, sfDir).count()
      else spark.range(1000).selectExpr("sum(id) AS s").count()
    } catch { case _: Throwable => }
    args.foreach { name =>
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        println(f"[time] $name rep $r: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
      }
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.internal.StaticSQLConf

/** Per-job profile of a named query: attributes wall time to the source
  * call sites (file:line) that submitted each Spark job, so a multi-step
  * operator's cost decomposes without the UI (disabled in bench runs).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.Profile kv_zorder keyed_cbo_join"
  *
  * Each query runs once untimed (warm the session) and once profiled; jobs
  * are listed in submission order with their duration and call site. Job
  * time is the UNION of the job intervals (concurrent jobs count once), so
  * wall minus it is the DRIVER-side work (planning, code generation,
  * manifest I/O, catalog DDL) and never negative. The profile also prints
  * how many classes Spark compiled for the query and the compile time,
  * from Spark's CodegenMetrics; its first line names the compiled-class
  * cache bound those counts were taken under. A query name may be suffixed
  * `!` to skip its warmup (profile the cold path).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    // profiles taken under different compiled-class cache bounds differ in
    // their compile counts; name the bound this JVM's cache was built with
    val cacheBound = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES
    println(s"[profile] compiled-class cache bound ${spark.conf.get(cacheBound.key)} " +
      s"(${cacheBound.key})")
    // session warmup (same shape as Bench's untimed warmups)
    Seq("filter_pred", "agg_groupby").foreach { w =>
      try SparkEntry.queries(w)(spark, sfDir).count(): Unit
      catch { case e: Throwable => System.err.println(s"[profile] warmup: $e") }
    }
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobs.put(j.jobId, (j.time, site))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(j.jobId)).foreach { case (t0, site) =>
          done.add((j.jobId, t0, j.time, site))
        }
      }
    }
    args.foreach { raw =>
      val cold = raw.endsWith("!")
      val name = if (cold) raw.dropRight(1) else raw
      val fn = SparkEntry.queries(name)
      if (!cold) { try fn(spark, sfDir).count(): Unit catch { case _: Throwable => () } }
      done.clear()
      val cg = CodegenMetrics.METRIC_COMPILATION_TIME
      val (cg0, cgMs0) = (cg.getCount, cg.getSnapshot.getValues.sum)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count(): Unit
      catch { case e: Throwable => println(s"[profile] $name FAILED: $e") }
      val wallMs = (System.nanoTime() - t0) / 1e6
      val cgSnap = cg.getSnapshot
      val cgN = cg.getCount - cg0
      Thread.sleep(500) // let the listener bus drain (public API has no wait)
      spark.sparkContext.removeSparkListener(listener)
      println(s"\n===== $name: wall ${f"$wallMs%.0f"} ms =====")
      import scala.jdk.CollectionConverters._
      val rows = done.asScala.toSeq.sortBy(_._1)
      rows.foreach { case (id, s, e, site) =>
        println(f"  job $id%4d ${e - s}%6d ms  $site")
      }
      val jobSum = rows.map(r => r._3 - r._2).sum
      val jobUnion = unionMs(rows.map(r => (r._2, r._3)))
      println(f"  jobs ${rows.size}%3d  sum ${jobSum}%6d ms  union ${jobUnion}%6d ms  " +
        f"driver-side ${wallMs - jobUnion}%.0f ms")
      // the summed time is exact while the histogram's reservoir still holds
      // every sample; past that, estimate it from the reservoir's mean
      val exact = cgSnap.size == cg0 + cgN
      val cgMs = if (exact) (cgSnap.getValues.sum - cgMs0).toDouble else cgN * cgSnap.getMean
      println(f"  codegen ${cgN}%4d classes compiled  ${if (exact) "" else "~"}${cgMs}%.0f ms")
    }
    spark.stop()
  }

  /** Length of the union of [start, end) intervals: overlapping jobs count
    * once. */
  private[graft] def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cs = 0L
    var ce = 0L
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > ce) { total += ce - cs; cs = s; ce = e }
      else if (e > ce) ce = e
    }
    total + ce - cs
  }
}

package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Executes one benchmark run described by a plan file that `run.py`
  * generates from the seed, and writes what it measured to a result file.
  *
  *   Harness run <plan.json> <result.json>
  *   Harness oracles <out.json>     dumps SparkEntry.oracleSql
  *
  * One client thread, closed loop: the next operation starts only after the
  * previous one returned. The timed phase runs the plan's operations in order
  * until `seconds` have elapsed and at least `min_passes` passes of
  * `pass_len` operations have run, and then on to the end of the current
  * pass, so a run always holds whole passes.
  * Results are digested after the clock stops; the digests are checked by
  * `run.py`, never here. */
object Harness {
  private val mapper = new ObjectMapper()

  /** Epoch milliseconds with sub-millisecond resolution, on the same clock
    * as the millisecond timestamps Spark's listener events carry. */
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  /** CPU time of the whole JVM (every thread), in milliseconds. */
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuMs: Double = os.getProcessCpuTime / 1e6

  def main(args: Array[String]): Unit = args match {
    case Array("oracles", out) =>
      val n = mapper.createObjectNode()
      graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => n.put(k, v) }
      mapper.writeValue(Paths.get(out).toFile, n)
    case Array("run", plan, out) => run(mapper.readTree(Paths.get(plan).toFile), out)
    case _ =>
      System.err.println("usage: Harness run <plan.json> <result.json> | oracles <out.json>")
      sys.exit(2)
  }

  private def oneLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).replaceAll("\\s+", " ").take(300)

  private def procField(file: String, key: String): Long =
    Files.readAllLines(Paths.get(file)).asScala
      .collectFirst { case l if l.startsWith(key + ":") =>
        l.drop(key.length + 1).trim.split("\\s+")(0).toLong }
      .getOrElse(-1L)

  /** Bytes this process has passed to write calls. The storage counter
    * (`write_bytes` - `cancelled_write_bytes`) can go negative over a short
    * window (files written earlier and deleted before writeback), so write
    * amplification uses this one. */
  private def ioWritten(): Long = procField("/proc/self/io", "wchar")

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  final case class Outcome(rows: Array[Row], columns: Seq[String],
      sqlStart: Double, sqlEnd: Double)

  /** Runs one operation; the caller times it. Every result column is
    * materialised on the driver by `collect`. */
  private def exec(spark: SparkSession, dataDir: String, op: JsonNode): Outcome =
    op.get("kind").asText match {
      case "query" =>
        val df = graft.SparkEntry.queries(op.get("name").asText)(spark, dataDir)
        Outcome(df.collect(), df.columns.toSeq, Double.NaN, Double.NaN)
      case "sql" =>
        val s = nowMs
        val df: DataFrame = spark.sql(op.get("text").asText)
        val e = nowMs
        Outcome(df.collect(), df.columns.toSeq, s, e)
      case "rmdir" =>
        deleteTree(Paths.get(op.get("path").asText))
        Outcome(Array.empty, Nil, Double.NaN, Double.NaN)
    }

  private def run(plan: JsonNode, outPath: String): Unit = {
    val mainMs = nowMs
    val cpus = plan.get("cpus").asInt
    val dataDir = plan.get("data_dir").asText
    val runDir = plan.get("run_dir").asText
    val traced = plan.get("trace").asBoolean
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = nowMs - mainMs

    def clean(): Int = {
      spark.catalog.clearCache()
      val leaked = spark.sparkContext.getPersistentRDDs.values.toSeq
      leaked.foreach(_.unpersist(blocking = true))
      leaked.size
    }
    val ops = plan.get("ops").asScala.toIndexedSeq
    val warmStart = nowMs
    Option(plan.get("warmup")).foreach(_.asScala.foreach { op =>
      exec(spark, plan.get("warm_dir").asText, op)
      clean()
    })
    val warmMs = nowMs - warmStart
    val setupMs = (0 until plan.get("setup_reps").asInt).map { _ =>
      val t = nowMs
      plan.get("setup").asScala.foreach(op => exec(spark, dataDir, op))
      clean()
      nowMs - t
    }

    val trace = if (traced) Some(new Trace(spark)) else None
    trace.foreach(_.start())
    val out = mapper.createObjectNode()
    val stmts = out.putArray("stmts")
    val probes = out.putArray("probes")
    var leaks = 0
    val passLen = plan.get("pass_len").asInt
    val minOps = passLen * plan.get("min_passes").asInt
    val io0 = ioWritten()
    val t0 = nowMs
    val deadline = t0 + plan.get("seconds").asDouble * 1000
    var i = 0
    while (i < ops.size && (i % passLen != 0 || i < minOps || nowMs < deadline)) {
      val op = ops(i)
      val cs = cpuMs
      val s = nowMs
      val (outcome, err) =
        try (exec(spark, dataDir, op), null)
        catch { case e: Throwable => (null, oneLine(e)) }
      val e = nowMs
      val st = stmts.addObject().put("i", i).put("s", s).put("e", e)
        .put("cs", cs).put("ce", cpuMs)
      if (err != null) st.put("err", err)
      else {
        if (!outcome.sqlStart.isNaN) st.put("ss", outcome.sqlStart).put("se", outcome.sqlEnd)
        st.put("digest", Canon.digest(outcome.columns, outcome.rows))
      }
      leaks += clean()
      // Manifest read cost after a commit, through GraftKvSink's public
      // functions; outside the statement, so it never counts in its latency.
      if (traced && op.has("probe")) {
        val dir = op.get("probe").asText
        val ps = nowMs
        graft.sources.GraftKvSink.manifestVersion(dir)
        val (files, deltas) = graft.sources.GraftKvSink.listedFiles(dir)
        val pe = nowMs
        val manifestBytes = Files.list(Paths.get(dir)).iterator.asScala
          .filter(_.getFileName.toString.startsWith("_graft_manifest"))
          .map(Files.size).sum
        probes.addObject().put("s", ps).put("e", pe).put("files", files.size)
          .put("deltas", deltas.size).put("manifest_bytes", manifestBytes)
      }
      i += 1
    }
    val t1 = nowMs
    val io1 = ioWritten()
    out.put("io_wchar", io1 - io0)
    trace.foreach { t => t.stop(); t.toJson(out.putObject("trace")) }
    out.put("session_ms", sessionMs).put("warm_ms", warmMs).put("t0", t0).put("t1", t1)
      .put("leaks", leaks)
    val su = out.putArray("setup_ms"); setupMs.foreach(su.add)
    val host: ObjectNode = out.putObject("host")
    host.put("nproc", Runtime.getRuntime.availableProcessors)
      .put("cpus", cpus)
      .put("max_heap_mb", Runtime.getRuntime.maxMemory >> 20)
      .put("jvm", s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}")
      .put("spark", spark.version)
      .put("scala", scala.util.Properties.versionNumberString)
    spark.stop()
    out.put("vmhwm_kb", procField("/proc/self/status", "VmHWM"))
    mapper.writeValue(Paths.get(outPath).toFile, out)
  }
}

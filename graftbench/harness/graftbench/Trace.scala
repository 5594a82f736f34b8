package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}

import org.apache.spark.{BusDrain, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what the public listener APIs report during the timed phase:
  * jobs, stages and tasks (SparkListener), every finished query's planning
  * tracker and executed plan (QueryExecutionListener), and micro-batches
  * (StreamingQueryListener). Events carry only their own times; `layers.py`
  * assigns them to statements by interval containment after the run. */
final class Trace(spark: SparkSession) {
  private val f = JsonNodeFactory.instance
  private val jobs = new ConcurrentLinkedQueue[ObjectNode]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentLinkedQueue[ObjectNode]()
  private val queries = new ConcurrentLinkedQueue[ObjectNode]()
  private val batches = new ConcurrentLinkedQueue[ObjectNode]()
  private val failedTasks = new AtomicLong()
  private val blocks = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val persisted = new AtomicLong()
  private val persistPeak = new AtomicLong()

  private object Plans extends AdaptiveSparkPlanHelper

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(e.jobId)
      jobs.add(f.objectNode().put("id", e.jobId).put("s", s).put("e", e.time)
        .put("ok", e.jobResult == JobSucceeded))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val n = f.objectNode().put("id", i.stageId).put("tasks", i.numTasks)
        .put("s", i.submissionTime.getOrElse(-1L))
        .put("e", i.completionTime.getOrElse(-1L))
        .put("failed", i.failureReason.isDefined)
      val m = i.taskMetrics
      if (m != null) {
        n.put("run_ms", m.executorRunTime).put("cpu_ns", m.executorCpuTime)
          .put("gc_ms", m.jvmGCTime)
          .put("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
          .put("shuffle_read", m.shuffleReadMetrics.totalBytesRead)
          .put("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      stages.add(n)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != Success) failedTasks.incrementAndGet()
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        val before = Option(blocks.put(b.blockId.name, now)).getOrElse(0L)
        val total = persisted.addAndGet(now - before)
        persistPeak.accumulateAndGet(total, math.max)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, ok = false)
  }

  private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
    val n = f.objectNode().put("func", func).put("ok", ok)
    val ph = n.putArray("phases")
    qe.tracker.phases.foreach { case (name, p) =>
      ph.addArray().add(name).add(p.startTimeMs).add(p.endTimeMs)
    }
    var ruleNs = 0L; var inv = 0L; var eff = 0L
    qe.tracker.rules.foreach { case (rule, r) =>
      if (rule.startsWith("graft.")) {
        ruleNs += r.totalTimeNs; inv += r.numInvocations
        eff += r.numEffectiveInvocations
      }
    }
    n.put("graft_rule_ns", ruleNs).put("graft_rule_inv", inv)
      .put("graft_rule_eff", eff)
    val plan: SparkPlan = try qe.executedPlan catch { case _: Throwable => null }
    if (plan != null) {
      n.put("exchanges", Plans.collectWithSubqueries(plan) {
        case x: ShuffleExchangeLike => x }.size)
      var rows = 0L; var parts = 0L
      Plans.collectWithSubqueries(plan) {
        case s: DataSourceV2ScanExecBase =>
          rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          // protected in Scala, public in bytecode
          parts += s.getClass.getMethod("inputPartitions").invoke(s)
            .asInstanceOf[scala.collection.Seq[_]].size
        case s: FileSourceScanExec =>
          rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          parts += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }
      n.put("scan_rows", rows).put("scan_parts", parts)
    }
    queries.add(n)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.add(f.objectNode().put("s", s)
        .put("e", s + d.getOrElse("triggerExecution", 0L))
        .put("add_batch_ms", d.getOrElse("addBatch", 0L))
        .put("trigger_ms", d.getOrElse("triggerExecution", 0L)))
    }
  }

  def start(): Unit = {
    BusDrain.drain(spark.sparkContext) // set-up's events stay out of the trace
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits for every posted event to be delivered, then detaches. */
  def stop(): Unit = {
    BusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def toJson(into: ObjectNode): Unit = {
    def arr(name: String, q: ConcurrentLinkedQueue[ObjectNode]): Unit = {
      val a: ArrayNode = into.putArray(name)
      q.asScala.foreach(a.add)
    }
    arr("jobs", jobs); arr("stages", stages); arr("queries", queries)
    arr("batches", batches)
    into.put("failed_tasks", failedTasks.get)
      .put("persist_peak_bytes", persistPeak.get)
  }
}

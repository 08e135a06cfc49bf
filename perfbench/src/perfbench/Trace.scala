package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Kinds, outermost first:
  * pass, query, action (one SQL execution), job, stage. Times are
  * epoch milliseconds, the clock Spark's listener events carry. */
final case class Span(id: String, parent: String, kind: String, name: String, start: Long, end: Long)

/** Listeners that measure the engine from outside: a SparkListener,
  * a QueryExecutionListener, a StreamingQueryListener, Spark's codegen
  * counters and the JVM's GC and memory-pool beans. Counters are
  * cumulative; `begin`/`end` bracket a pass and return its deltas,
  * draining the listener bus at both ends so that every event lands
  * in the pass that caused it. Spans are kept in memory until the
  * harness writes them out. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val counters = mutable.Map.empty[String, Double]
  private val peaks = mutable.Map.empty[String, Double]
  val spans = mutable.ArrayBuffer.empty[Span]
  val triggerSeconds = mutable.ArrayBuffer.empty[Double]

  private def add(k: String, v: Double): Unit = synchronized { counters(k) = counters.getOrElse(k, 0.0) + v }
  private def peak(k: String, v: Double): Unit = synchronized { peaks(k) = math.max(peaks.getOrElse(k, 0.0), v) }
  private def span(s: Span): Unit = synchronized { spans += s }
  private val MB = 1024.0 * 1024.0

  // per-job and per-stage bookkeeping between start and end events
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[(Int, Int), Long]
  private val stageReads = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val actionStart = mutable.Map.empty[Long, (Long, String, String)]
  private val streamingExecs = mutable.Set.empty[Long]
  private val cachedBlocks = mutable.Map.empty[String, Long]

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val exec = prop("spark.sql.execution.id")
      if (prop("sql.streaming.queryId").isDefined) exec.foreach(x => streamingExecs += x.toLong)
      val parent = exec.map("a" + _).orElse(prop("spark.job.tags").map(Tracer.queryTag)).getOrElse("")
      jobStart(e.jobId) = (e.time, parent)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      add("engine.sched.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, parent) =>
        span(Span(s"j${e.jobId}", parent, "job", s"job ${e.jobId}", t0, e.time))
        add("engine.sched.job_s", (e.time - t0) / 1e3)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      stageSubmitted((si.stageId, si.attemptNumber())) = si.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      stageSubmitted.remove((si.stageId, si.attemptNumber()))
      add("engine.sched.stages", 1)
      for (t0 <- si.submissionTime; t1 <- si.completionTime)
        span(Span(s"s${si.stageId}.${si.attemptNumber()}", stageJob.get(si.stageId).map("j" + _).getOrElse(""),
          "stage", si.name, t0, t1))
      stageReads.remove((si.stageId, si.attemptNumber())).foreach { reads =>
        val sorted = reads.sorted
        val median = sorted(sorted.size / 2)
        if (sorted.size >= 2 && median > 0) peak("engine.shuffle.skew", sorted.last.toDouble / median)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      add("engine.sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("sources.read_mb", m.inputMetrics.bytesRead / MB)
        add("sources.rows_read", m.inputMetrics.recordsRead)
        val sr = m.shuffleReadMetrics
        add("engine.shuffle.read_mb", sr.totalBytesRead / MB)
        add("engine.shuffle.fetch_wait_s", sr.fetchWaitTime / 1e3)
        add("engine.shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        add("engine.shuffle.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
        add("engine.compute.task_s", m.executorRunTime / 1e3)
        add("engine.compute.cpu_s", m.executorCpuTime / 1e9)
        stageReads.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += sr.totalBytesRead
      }
      // wait from the stage's submission to this task's launch
      for (ti <- Option(e.taskInfo); t0 <- stageSubmitted.get((e.stageId, e.stageAttemptId)))
        add("engine.sched.task_wait_s", math.max(0L, ti.launchTime - t0) / 1e3)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val mem = if (b.storageLevel.isValid) b.memSize else 0L
        if (b.storageLevel.isValid) add("engine.cache.put_mb", (b.memSize + b.diskSize) / MB)
        if (mem > 0) cachedBlocks(b.blockId.name) = mem else cachedBlocks.remove(b.blockId.name)
        peak("engine.cache.peak_mem_mb", cachedBlocks.values.sum / MB)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          actionStart(s.executionId) = (s.time, Tracer.queryTag(s.jobTags.mkString(",")), s.description)
        case s: SparkListenerSQLExecutionEnd =>
          actionStart.remove(s.executionId).foreach { case (t0, parent, desc) =>
            span(Span(s"a${s.executionId}", parent, "action", desc.take(80), t0, s.time))
          }
          Option(org.apache.spark.sql.perfbench.Bus.queryExecution(s))
            .foreach(planMetrics(_, streaming = streamingExecs.remove(s.executionId)))
        case _ =>
      }
    }
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private def secs(m: SQLMetric): Double = m.metricType match {
    case "nsTiming" => m.value / 1e9
    case "timing" => m.value / 1e3
    case _ => m.value.toDouble
  }

  private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Iterator.empty
    case _ => Iterator(p) ++ (p.children ++ p.subqueries).iterator.flatMap(nodes)
  }

  private def phases(qe: QueryExecution): Unit = {
    add("engine.catalyst.actions", 1)
    val tracked = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { ph =>
      tracked.get(ph).foreach(s => add(s"engine.catalyst.${ph}_s", s.durationMs / 1e3))
    }
  }

  /** Scan, broadcast, kernel and write counts from an executed plan. A
    * write counts as a streaming write when its jobs ran on a streaming
    * query's thread. */
  private def planMetrics(qe: QueryExecution, streaming: Boolean): Unit = {
    val plan = try Option(qe.executedPlan) catch { case _: Throwable => None }
    plan.iterator.flatMap(nodes).foreach { n =>
      val m = n.metrics
      if (n.nodeName.startsWith("Scan ")) {
        m.get("numFiles").foreach(x => add("sources.files_read", x.value))
        m.get("scanTime").foreach(x => add("sources.scan_s", secs(x)))
      }
      if (n.nodeName == "BroadcastExchange") m.get("dataSize").foreach(x => add("engine.broadcast.mb", x.value / MB))
      if (Tracer.Kernels(n.getClass.getSimpleName)) add("plans.kernel_nodes", 1)
      if (streaming && m.contains("jobCommitTime")) {
        m.get("numFiles").foreach(x => add("streaming.write.files", x.value))
        m.get("numOutputBytes").foreach(x => add("streaming.write.mb", x.value / MB))
        m.get("jobCommitTime").foreach(x => add("streaming.write.job_commit_s", secs(x)))
        m.get("taskCommitTime").foreach(x => add("streaming.write.task_commit_s", secs(x)))
      }
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      if (d.contains("addBatch")) {
        add("streaming.triggers", 1)
        add("streaming.rows_in", p.numInputRows.toDouble)
        add("streaming.add_batch_s", d("addBatch"))
        add("streaming.planning_s", d.getOrElse("queryPlanning", 0.0))
        add("streaming.wal_s", d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
        add("streaming.offsets_s", d.getOrElse("latestOffset", 0.0) + d.getOrElse("getBatch", 0.0))
        d.get("triggerExecution").foreach(triggerSeconds += _)
      }
    }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  // The heap is fixed in size and young collections let eden fill it, so
  // total heap use peaks near the heap size; the old generation holds
  // what outlived young collections, the data the engine retains.
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old")).toSeq
  private def gcSeconds = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
  private def compileSeconds = CodeGenerator.compileTime / 1e9

  def attach(): Unit = {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    org.apache.spark.sql.perfbench.Bus.drain(sc)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
  }

  private var start = Map.empty[String, Double]

  private def jvm: Map[String, Double] = Map(
    "engine.codegen.compiles" -> compiles,
    "engine.codegen.compile_s" -> compileSeconds,
    "engine.jvm.gc_s" -> gcSeconds)

  /** Marks the start of a traced pass. */
  def begin(): Unit = {
    org.apache.spark.sql.perfbench.Bus.drain(sc)
    heapPools.foreach(_.resetPeakUsage())
    synchronized {
      peaks.clear()
      triggerSeconds.clear()
      cachedBlocks.clear() // the sweep between calls leaves nothing cached
      start = counters.toMap ++ jvm
    }
  }

  /** Deltas of every counter since `begin`, plus this pass's peaks. */
  def end(): Map[String, Double] = {
    org.apache.spark.sql.perfbench.Bus.drain(sc)
    val heap = heapPools.map(_.getPeakUsage.getUsed).sum / MB
    synchronized {
      val now = counters.toMap ++ jvm
      val deltas = now.map { case (k, v) => k -> (v - start.getOrElse(k, 0.0)) }
      deltas ++ peaks ++ Map("engine.jvm.heap_peak_mb" -> heap)
    }
  }
}

object Tracer {
  val Kernels = Set("DotKernelProjectExec", "VecSumKernelExec")

  /** The harness tags every job of a registry call with the call's
    * query span id; streaming threads inherit the tag. */
  def queryTag(tags: String): String = tags.split(",").find(_.startsWith("q")).getOrElse("")

  /** Length of the union of `[start, end)` intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) { total += e - math.max(s, reach); reach = e }
    }
    total
  }
}

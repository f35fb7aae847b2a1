package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for one traced pass, gathered by Spark's public
  * listeners: a SparkListener (jobs, stages, tasks, executor time,
  * shuffle, spill), a QueryExecutionListener (planning phases, scan and
  * write metrics, cached-relation reuse) and a StreamingQueryListener
  * (micro-batch progress). Attach before a pass, [[flush]] and detach
  * after it; the harness times the layer calls itself. */
final class Trace(sc: SparkContext) extends SparkListener {
  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  private val sentinelStages = ConcurrentHashMap.newKeySet[Int]()
  private val sentinelsDone = new AtomicLong()
  // plan nodes seen in this pass, by identity: a cached relation's scan
  // is referenced by every reuse but executes once
  private val scans = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  private def inc(k: String, n: Long = 1L): Unit =
    counts.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(n)
  private def add(k: String, v: Double): Unit =
    sums.computeIfAbsent(k, _ => new DoubleAdder()).add(v)
  private def count(k: String): Long = Option(counts.get(k)).map(_.get).getOrElse(0L)

  private val Sentinel = "perfbench-sentinel"

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(p => p.getProperty("spark.job.description") == Sentinel))
      e.stageIds.foreach(sentinelStages.add)
    else {
      inc("exec.jobs")
      inc("exec.stages", e.stageIds.size.toLong)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (sentinelStages.contains(e.stageInfo.stageId)) sentinelsDone.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && !sentinelStages.contains(e.stageId)) {
      inc("exec.tasks")
      add("exec.run_s", m.executorRunTime / 1e3)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      inc("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      inc("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      inc("spill.bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Planning phases and the executed plan of every finished query. */
  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      for ((phase, key) <- Seq("analysis" -> "plan.analysis_s",
          "optimization" -> "plan.optimization_s", "planning" -> "plan.planning_s"))
        add(key, ph.get(phase).map(_.durationMs / 1e3).getOrElse(0.0))
      inc("plan.queries")
      walk(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      inc("plan.failed")
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private def walk(plan: SparkPlan): Unit =
    Plans.foreach(plan) {
      case s: FileSourceScanExec => scans.put(s, true)
      case w: DataWritingCommandExec => scans.put(w, true)
      case c: InMemoryTableScanExec =>
        inc("memo.cached_scans")
        if (!scans.containsKey(c.relation.cachedPlan)) {
          scans.put(c.relation.cachedPlan, true)
          walk(c.relation.cachedPlan)
        }
      case _ =>
    }

  /** Micro-batch progress of every streaming query in the pass. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      inc("stream.queries")
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      inc("stream.batches")
      inc("stream.input_rows", p.numInputRows)
      add("stream.trigger_s", ms("triggerExecution"))
      add("stream.add_batch_s", ms("addBatch"))
      add("stream.commit_s", ms("walCommit") + ms("commitOffsets"))
      add("stream.offset_s", ms("latestOffset") + ms("getBatch"))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      inc("stream.terminated")
  }

  def attach(s: SparkSession): Unit = {
    sc.addSparkListener(this)
    s.listenerManager.register(queries)
    s.streams.addListener(streams)
  }

  /** Waits until every event of the pass has reached the listeners: a
    * tiny sentinel job is queued behind them, and every started stream
    * must have reported termination. Bounded, so a lost event can only
    * shorten the trace, never hang the run. */
  def flush(): Unit = {
    val before = sentinelsDone.get
    sc.setJobDescription(Sentinel)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((sentinelsDone.get == before || count("stream.terminated") < count("stream.queries")) &&
        System.nanoTime() < deadline) Thread.sleep(5)
  }

  def detach(s: SparkSession): Unit = {
    s.streams.removeListener(streams)
    s.listenerManager.unregister(queries)
    sc.removeSparkListener(this)
  }

  /** Scan and write metrics of the plan nodes seen in the pass. */
  def planTotals(): Map[String, Double] = {
    var scanBytes, scanRows, outRows, outBytes = 0.0
    scans.synchronized {
      scans.keySet.forEach {
        case s: FileSourceScanExec =>
          scanBytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
          scanRows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case w: DataWritingCommandExec =>
          outRows += w.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          outBytes += w.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
        case _ =>
      }
    }
    Map("scan.bytes" -> scanBytes, "scan.rows" -> scanRows,
      "write.rows" -> outRows, "write.bytes" -> outBytes)
  }

  def snapshot(): Map[String, Double] = {
    val m = Map.newBuilder[String, Double]
    counts.forEach((k, v) => m += k -> v.get.toDouble)
    sums.forEach((k, v) => m += k -> v.sum)
    m.result() ++ planTotals()
  }
}

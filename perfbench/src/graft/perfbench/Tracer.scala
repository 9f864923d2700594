package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchHooks, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the trace: a gate execution, its build / execute /
  * sweep phases, the jobs and stages it ran, or a streaming batch. Times are
  * epoch milliseconds (the clock Spark's listener events carry). */
final case class Span(id: String, parent: String, kind: String, name: String,
    startMs: Long, endMs: Long)

/** Counters of one gate execution, filled by the listeners while it runs. */
final class Layers {
  var jobs, stages, tasks = 0L
  var taskDelayMs, runMs, cpuNs, gcMs, peakTaskMem = 0L
  var recordsIn = 0L
  var shWriteBytes, shReadBytes, shRecords, fetchWaitMs, spillDiskBytes = 0L
  var scanBytes, writeBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var exchanges, broadcasts, filesRead, filesPruned, filesWritten = 0L
  var batches, streamRows, triggerMs, commitMs = 0L
  val stateRows = mutable.Map.empty[String, Long]
  val stateBytes = mutable.Map.empty[String, Long]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val trackers = new java.util.IdentityHashMap[QueryPlanningTracker, Unit]()
}

/** The traced run's listener. It is one SparkListener on the context-wide
  * bus rather than a session's QueryExecutionListener and
  * StreamingQueryListener: streaming and lifecycle gates run in child
  * sessions (`spark.newSession()`), whose queries a listener bound to the
  * benchmark's session never sees. The same events (SQL execution end with
  * its QueryExecution, streaming query progress) arrive here for every
  * session. Jobs carry the gate execution they belong to as a local property
  * set from the harness thread; planning and streaming events are attributed
  * to the execution in progress (one gate runs at a time). */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  @volatile private var current: String = ""
  private val layers = mutable.Map.empty[String, Layers]
  private val jobExec = mutable.Map.empty[Int, String]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageExec = mutable.Map.empty[Int, String]
  val spans = mutable.ArrayBuffer.empty[Span]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      PerfbenchHooks.queryExecution(end).foreach(record)
    case p: StreamingQueryListener.QueryProgressEvent => progress(p)
    case _ => ()
  }

  private def progress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      val exec = current
      val l = acc(exec)
      def d(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      l.batches += 1
      l.streamRows += p.numInputRows
      l.triggerMs += d("triggerExecution")
      l.commitMs += d("walCommit") + d("commitOffsets")
      val q = p.runId.toString
      l.stateRows(q) = p.stateOperators.map(_.numRowsTotal).sum
      l.stateBytes(q) = p.stateOperators.map(_.memoryUsedBytes).sum
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      spans += Span(s"$exec/batch/$q/${p.batchId}", exec, "batch",
        s"batch ${p.batchId}", start, start + d("triggerExecution"))
    }

  def install(): Unit = spark.sparkContext.addSparkListener(this)

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
  }

  def drain(): Unit = PerfbenchHooks.drain(spark.sparkContext)

  /** Marks `exec` as the gate execution in progress and tags the jobs the
    * harness thread (and threads it starts) submit from now on. */
  def begin(exec: String, gate: String): Unit = {
    current = exec
    spark.sparkContext.setLocalProperty(ExecKey, exec)
    spark.sparkContext.setJobDescription(s"perfbench $gate")
  }

  /** Ends `exec` once every event it posted has been delivered. */
  def end(exec: String): Layers = {
    drain()
    spark.sparkContext.setLocalProperty(ExecKey, null)
    spark.sparkContext.setJobDescription(null)
    synchronized {
      current = ""
      val l = acc(exec)
      l.trackers.keySet.forEach { t =>
        def ph(k: String): Long = t.phases.get(k).map(_.durationMs).getOrElse(0L)
        l.analysisMs += ph(QueryPlanningTracker.ANALYSIS)
        l.optimizationMs += ph(QueryPlanningTracker.OPTIMIZATION)
        l.planningMs += ph(QueryPlanningTracker.PLANNING)
      }
      l.trackers.clear()
      l
    }
  }

  def addTracker(exec: String, t: QueryPlanningTracker): Unit =
    synchronized(acc(exec).trackers.put(t, ()))

  private def acc(exec: String): Layers = layers.getOrElseUpdate(exec, new Layers)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty(ExecKey)))
      .getOrElse(current)
    jobExec(e.jobId) = exec
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(stageExec(_) = exec)
    acc(exec).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val exec = jobExec.remove(e.jobId).getOrElse(current)
    val start = jobStartMs.remove(e.jobId).getOrElse(e.time)
    acc(exec).jobIntervals += ((start, e.time))
    spans += Span(s"$exec/job/${e.jobId}", exec, "job", s"job ${e.jobId}",
      start, e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      val exec = stageExec.remove(s.stageId).getOrElse(current)
      acc(exec).stages += 1
      for (a <- s.submissionTime; b <- s.completionTime)
        spans += Span(s"$exec/stage/${s.stageId}.${s.attemptNumber()}", exec,
          "stage", s"stage ${s.stageId} (${s.numTasks} tasks)", a, b)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val l = acc(stageExec.getOrElse(e.stageId, current))
    l.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      l.taskDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      l.runMs += m.executorRunTime
      l.cpuNs += m.executorCpuTime
      l.gcMs += m.jvmGCTime
      l.peakTaskMem = math.max(l.peakTaskMem, m.peakExecutionMemory)
      l.recordsIn += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      l.scanBytes += m.inputMetrics.bytesRead
      l.writeBytes += m.outputMetrics.bytesWritten
      l.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      l.shRecords += m.shuffleWriteMetrics.recordsWritten
      l.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      l.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      l.spillDiskBytes += m.diskBytesSpilled
    }
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    val l = acc(current)
    l.trackers.put(qe.tracker, ())
    val plans = Plans.all(qe.executedPlan)
    plans.foreach {
      case _: ShuffleExchangeLike => l.exchanges += 1
      case _: BroadcastExchangeLike => l.broadcasts += 1
      case s: FileSourceScanLike =>
        val read = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        l.filesRead += read
        l.filesPruned += math.max(0L, s.relation.location.inputFiles.length - read)
      case w: DataWritingCommandExec =>
        l.filesWritten += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _ => ()
    }
  }
}

object Tracer {
  val ExecKey = "perfbench.exec"

  /** Every node of an executed plan: through adaptive stages, subqueries
    * and the physical plan a command result wraps. */
  object Plans extends AdaptiveSparkPlanHelper {
    def all(p: SparkPlan): Seq[SparkPlan] =
      collectWithSubqueries(p) { case n => n }.flatMap {
        case c: CommandResultExec => c +: all(c.commandPhysicalPlan)
        case n => Seq(n)
      }
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}

package graft.perfbench

import scala.collection.mutable

import org.apache.spark.ListenerBusBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark-side span: a call the client made into a layer. */
final case class Span(name: String, start: Long, end: Long, parent: Int, req: String)

/** Listener-side totals of the traced run. Every field is cumulative;
  * callers take [[snapshot]]s at operation boundaries and difference them.
  *
  * A [[SparkListener]] sees the shared context's task, stage and job
  * events; streaming progress arrives through `onOtherEvent`, which also
  * covers the child drain session the streaming queries run on. A
  * [[QueryExecutionListener]] on each session the client drives yields
  * the Catalyst planning phases.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = mutable.Map.empty[Int, Long]
  private var inFlight = 0
  private var skewMax = 0.0
  private var inFlightMax = 0
  private var stateRows = 0.0
  private var stateMem = 0.0

  private def add(k: String, v: Double): Unit = synchronized { c(k) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
    inFlight += 1
    inFlightMax = math.max(inFlightMax, inFlight)
    c("spark.jobs") += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    inFlight = math.max(0, inFlight - 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c("spark.stages") += 1
    stageTasks.remove(e.stageInfo.stageId).foreach { d =>
      if (d.size >= 4) {
        val s = d.sorted
        val med = math.max(1L, s(s.size / 2))
        skewMax = math.max(skewMax, s.last.toDouble / med)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val i = e.taskInfo
    synchronized {
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += i.duration
      c("spark.tasks") += 1
      c("spark.executor_run_ms") += m.executorRunTime
      c("spark.executor_cpu_ms") += m.executorCpuTime / 1e6
      c("spark.gc_ms") += m.jvmGCTime
      val sched = math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
      c("spark.task_overhead_ms") +=
        sched + m.executorDeserializeTime + m.resultSerializationTime
      c("spark.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("spark.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("spark.shuffle_fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      c("spark.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      val pr = p.progress
      val d = pr.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      synchronized {
        c("streaming.batches") += 1
        c("streaming.input_rows") += pr.numInputRows
        c("streaming.trigger_ms") += ms("triggerExecution")
        Seq("queryPlanning", "addBatch", "walCommit", "commitOffsets",
          "latestOffset", "getBatch").foreach(k => c(s"streaming.${k}_ms") += ms(k))
        pr.stateOperators.foreach { s =>
          c("streaming.state_commit_ms") += s.commitTimeMs
          stateRows = math.max(stateRows, s.numRowsTotal.toDouble)
          stateMem = math.max(stateMem, s.memoryUsedBytes.toDouble)
        }
      }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { k =>
      ph.get(k).foreach(s => add(s"spark.${k}_ms", s.durationMs.toDouble))
    }
  }

  /** Wait for the listener bus, then copy every cumulative total. */
  def snapshot(spark: SparkSession): Map[String, Double] = {
    ListenerBusBridge.drain(spark.sparkContext)
    synchronized {
      c.toMap ++ Map(
        "spark.codegen_compile_ms" -> CodeGenerator.compileTime / 1e6,
        "spark.codegen_classes" ->
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
        "PlanMemo.builds" -> graft.PlanMemo.builds.toDouble)
    }
  }

  def stateRowsMax: Double = synchronized(stateRows)
  def stateMemMax: Double = synchronized(stateMem)
  def stageSkewMax: Double = synchronized(skewMax)
  def jobsInFlightMax: Int = synchronized(inFlightMax)

  /** Wall time during which two or more jobs were running. */
  def jobsOverlapMs: Double = synchronized {
    val ev = jobs.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }.sortBy(x => (x._1, x._2))
    var depth = 0
    var last = 0L
    var overlap = 0L
    ev.foreach { case (t, d) =>
      if (depth >= 2) overlap += t - last
      depth += d
      last = t
    }
    overlap.toDouble
  }

  /** Listen to the shared context and to each session's queries. */
  def attach(sessions: Seq[SparkSession]): Unit = {
    sessions.head.sparkContext.addSparkListener(this)
    sessions.foreach(_.listenerManager.register(this))
  }

  def detach(sessions: Seq[SparkSession]): Unit = {
    ListenerBusBridge.drain(sessions.head.sparkContext)
    sessions.head.sparkContext.removeSparkListener(this)
    sessions.foreach(_.listenerManager.unregister(this))
  }
}

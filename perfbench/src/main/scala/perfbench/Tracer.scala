package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation layer counters, filled from Spark's own event streams.
  *
  * Jobs are attributed to an operation through the `perfbench.op` local
  * property the driver thread sets before each operation (exact, also for
  * jobs started by helper threads, which inherit local properties); stages
  * and tasks follow their job. Planning phases carry only wall-clock stamps,
  * so they are attributed to the operation whose window holds the phase's
  * start. The listener bus is asynchronous: [[drain]] waits until it is idle
  * before anything is read.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer.Phase
  final class Counters {
    val jobs, stages, tasks, emptyTasks = new LongAdder
    val runMs, cpuNs, gcMs = new LongAdder
    val shReadB, shWriteB, spillB = new LongAdder
    val stageIds: java.util.Set[Integer] = ConcurrentHashMap.newKeySet[Integer]()
  }
  val counters = TrieMap.empty[Int, Counters]
  private val stageOp = TrieMap.empty[Int, Int]
  private val jobOp = TrieMap.empty[Int, Int]
  /** op -> list of (jobStartMs, jobEndMs). */
  private val jobSpans = TrieMap.empty[Int, ConcurrentHashMap[Int, (Long, Long)]]
  private val submitted: java.util.Set[Integer] = ConcurrentHashMap.newKeySet[Integer]()
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[Phase]()
  private val events = new LongAdder

  private def c(op: Int): Counters = counters.getOrElseUpdate(op, new Counters)
  private def counted[T](body: => T): T = try body finally events.increment()

  override def onJobStart(e: SparkListenerJobStart): Unit = counted {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpKey)))
      .map(_.toInt).getOrElse(-1)
    jobOp.put(e.jobId, op)
    e.stageIds.foreach { s => stageOp.putIfAbsent(s, op); c(op).stageIds.add(s) }
    c(op).jobs.increment()
    jobSpans.getOrElseUpdate(op, new ConcurrentHashMap).put(e.jobId, (e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = counted {
    jobOp.get(e.jobId).foreach { op =>
      val spans = jobSpans(op)
      spans.put(e.jobId, (spans.get(e.jobId)._1, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = counted {
    submitted.add(e.stageInfo.stageId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = counted {
    c(stageOp.getOrElse(e.stageInfo.stageId, -1)).stages.increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = counted {
    val k = c(stageOp.getOrElse(e.stageId, -1))
    k.tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      if (m.inputMetrics.recordsRead == 0L && m.shuffleReadMetrics.recordsRead == 0L)
        k.emptyTasks.increment()
      k.runMs.add(m.executorRunTime)
      k.cpuNs.add(m.executorCpuTime)
      k.gcMs.add(m.jvmGCTime)
      k.shReadB.add(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      k.shWriteB.add(m.shuffleWriteMetrics.bytesWritten)
      k.spillB.add(m.diskBytesSpilled)
    }
  }

  private def phase(qe: QueryExecution): Unit = counted {
    val p = qe.tracker.phases
    def ms(name: String): Long = p.get(name).map(_.durationMs).getOrElse(0L)
    val start = p.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    phases.add(Phase(start, ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phase(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phase(qe)

  /** Wait until no event arrived for `stableMs` (the local bus drains in
    * milliseconds once the driver is idle). */
  def drain(maxMs: Long = 10000L, stableMs: Long = 150L): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    var last = -1L
    while (System.nanoTime() < deadline) {
      val now = events.sum()
      if (now == last) return
      last = now
      Thread.sleep(stableMs)
    }
  }

  /** Stages that belong to op's jobs but were never submitted: their shuffle
    * output was reused. */
  def skippedStages(op: Int): Long =
    counters.get(op).map(_.stageIds.asScala.count(s => !submitted.contains(s)).toLong).getOrElse(0L)

  /** Op wall minus the union of its job spans, clipped to the op window. */
  def gapMs(op: Int, startMs: Long, endMs: Long): Long = {
    val spans = jobSpans.get(op).map(_.values.asScala.toSeq).getOrElse(Nil)
      .map { case (s, e) => (math.max(s, startMs), math.min(if (e < 0) endMs else e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    (endMs - startMs) - covered
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  final case class Phase(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)
}

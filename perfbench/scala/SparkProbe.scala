package graft.perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, RDDScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

final case class JobRec(id: Int, startMs: Long, var endMs: Long = -1L, var failed: Boolean = false)
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                         gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         failed: Boolean)
final case class QeRec(phases: Map[String, Double], plan: SparkPlan)

/** Event log of one session, fed by a public SparkListener and a
  * QueryExecutionListener. Callers take [[mark]]s around a unit of work
  * and read the events between two marks with [[window]].
  */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.Map.empty[Int, JobRec]
  val stageSubmitMs = mutable.Map.empty[Int, Long]
  val stages = mutable.ArrayBuffer.empty[Int]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val qes = mutable.ArrayBuffer.empty[QeRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = JobRec(e.jobId, e.time); jobs += j; jobById(e.jobId) = j
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach { j =>
      j.endMs = e.time; j.failed = !e.jobResult.isInstanceOf[JobSucceeded.type]
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitMs(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stages += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    tasks += (if (m == null) TaskRec(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, i.failed)
    else TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, i.failed || i.killed))
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
    private def add(qe: QueryExecution): Unit = SparkProbe.this.synchronized {
      qes += QeRec(qe.tracker.phases.map { case (k, p) => k -> p.durationMs / 1e3 }, qe.executedPlan)
    }
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(qeListener)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }

  final case class Mark(jobs: Int, stages: Int, tasks: Int, qes: Int)
  def mark(): Mark = synchronized(Mark(jobs.size, stages.size, tasks.size, qes.size))

  /** Block until the asynchronous listener bus has delivered every event
    * of the work done so far: all started jobs ended and no new event
    * for a few polls. `minQes` waits for that many query executions.
    */
  def settle(minQes: Int = 0, timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = (-1, -1, -1)
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(15)
      val now = synchronized((jobs.size, tasks.size, qes.size))
      val done = synchronized(jobs.forall(_.endMs >= 0)) && now._3 >= minQes
      if (now == last && done) stable += 1 else { stable = 0; last = now }
    }
  }

  final case class Window(jobs: Seq[JobRec], stages: Int, tasks: Seq[TaskRec], qes: Seq[QeRec])
  def window(from: Mark, to: Mark): Window = synchronized(Window(
    jobs.slice(from.jobs, to.jobs).toSeq, to.stages - from.stages, tasks.slice(from.tasks, to.tasks).toSeq,
    qes.slice(from.qes, to.qes).toSeq))

  def taskWaitMs(t: TaskRec): Long =
    synchronized(stageSubmitMs.get(t.stageId)).map(s => math.max(0L, t.launchMs - s)).getOrElse(0L)

  /** Runs `body` and also returns the wall seconds during it in which no
    * job was running, sampled every millisecond from Spark's status
    * tracker. It is observed, not derived from this listener's job
    * intervals, so it and the job wall can disagree.
    */
  def idleSeconds[T](body: => T): (T, Double) = {
    val tracker = spark.sparkContext.statusTracker
    val running = new AtomicBoolean(true)
    val idleNs = new AtomicLong(0L)
    val sampler = new Thread(() => {
      var last = System.nanoTime()
      while (running.get) {
        Thread.sleep(1)
        val idle = tracker.getActiveJobIds().isEmpty
        val now = System.nanoTime()
        if (idle) idleNs.addAndGet(now - last)
        last = now
      }
    }, "perfbench-idle-sampler")
    sampler.setDaemon(true)
    sampler.start()
    val out = try body finally { running.set(false); sampler.join() }
    (out, idleNs.get / 1e9)
  }
}

object SparkProbe extends AdaptiveSparkPlanHelper {
  /** Wall time (ms) covered by the union of the given intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curLo = Long.MinValue; var curHi = Long.MinValue
    intervals.sortBy(_._1).foreach { case (lo, hi) =>
      if (lo > curHi) { covered += curHi - curLo; curLo = lo; curHi = hi }
      else curHi = math.max(curHi, hi)
    }
    covered + (curHi - curLo)
  }

  /** Operator counts of an executed plan, AQE stages and subqueries included. */
  def signature(plan: SparkPlan): Map[String, Double] = {
    def n(pf: PartialFunction[SparkPlan, Int]): Double = collectWithSubqueries(plan)(pf).size.toDouble
    Map(
      "operators.exchanges" -> n { case _: ShuffleExchangeLike => 1 },
      "operators.broadcast_joins" -> n {
        case _: BroadcastHashJoinExec => 1
        case _: BroadcastNestedLoopJoinExec => 1
      },
      "operators.sort_merge_joins" -> n { case _: SortMergeJoinExec => 1 },
      "operators.generates" -> n { case _: GenerateExec => 1 },
      "operators.cached_scans" -> n {
        case _: InMemoryTableScanExec => 1
        case _: RDDScanExec => 1
      },
      "operators.codegen_stages" -> n { case _: WholeStageCodegenExec => 1 })
  }
}

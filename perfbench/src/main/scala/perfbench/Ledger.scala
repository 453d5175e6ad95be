package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Benchmark-owned record of what Spark ran: jobs (with their job group),
  * stages, tasks and SQL executions, all with wall-clock times in epoch
  * milliseconds. Nothing inside the engine is instrumented; the ledger only
  * listens. Attach it for traced work and detach it for timed work. */
final class Ledger extends SparkListener {
  final case class Job(id: Int, group: String, start: Long, var end: Long,
      stageIds: Seq[Int], var failed: Boolean)
  final case class Stage(id: Int, var submitted: Long, var completed: Long,
      var numTasks: Int)
  final case class Task(stageId: Int, launch: Long, finish: Long,
      runMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      output: Long, failed: Boolean)
  final case class SqlExec(id: Long, start: Long, var end: Long, plan: String)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val sqlExecs = mutable.LinkedHashMap.empty[Long, SqlExec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, group, e.time, -1L, e.stageIds, failed = false)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.failed = e.jobResult != JobSucceeded
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stages(si.stageId) = Stage(si.stageId, si.submissionTime.getOrElse(0L), -1L, si.numTasks)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val s = stages.getOrElseUpdate(si.stageId,
      Stage(si.stageId, si.submissionTime.getOrElse(0L), -1L, si.numTasks))
    s.completed = si.completionTime.getOrElse(0L)
    if (s.submitted <= 0L) s.submitted = si.submissionTime.getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    if (info != null) {
      tasks += Task(e.stageId, info.launchTime, info.finishTime,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0L else m.outputMetrics.bytesWritten,
        info.failed || info.killed)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlExecs(s.executionId) = SqlExec(s.executionId, s.time, -1L,
        Option(s.physicalPlanDescription).getOrElse(""))
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlExecs.get(s.executionId).foreach(_.end = s.time)
    }
    case _ =>
  }

  /** jobs submitted under one job group */
  def jobsIn(group: String): Seq[Job] = synchronized {
    jobs.valuesIterator.filter(_.group == group).toVector
  }

  def sqlBetween(fromMs: Long, toMs: Long): Seq[SqlExec] = synchronized {
    sqlExecs.valuesIterator.filter(x => x.start >= fromMs && x.start <= toMs).toVector
  }

  /** Spark-side totals for a set of jobs (one traced op). */
  def summarize(js: Seq[Job]): SparkOp = synchronized {
    val stageIds = js.flatMap(_.stageIds).toSet
    // only stages that actually ran (skipped stages never get submitted)
    val ran = stageIds.filter(id => stages.get(id).exists(_.submitted > 0L))
    val ts = tasks.filter(t => ran.contains(t.stageId))
    val waitMs = ts.iterator.map { t =>
      val sub = stages.get(t.stageId).map(_.submitted).getOrElse(t.launch)
      math.max(0L, t.launch - sub)
    }.sum
    val skew = {
      val byStage = ts.groupBy(_.stageId)
      if (byStage.isEmpty) 1.0
      else {
        val widest = byStage.values.maxBy(_.size)
        val durs = widest.map(t => (t.finish - t.launch).toDouble).sorted
        val med = durs(durs.size / 2)
        if (med <= 0.0) 1.0 else durs.last / med
      }
    }
    SparkOp(js.size, ran.size, ts.size, ts.iterator.map(_.runMs).sum, waitMs,
      ts.iterator.map(_.shuffleWrite).sum, ts.iterator.map(_.shuffleRead).sum,
      ts.iterator.map(_.spill).sum, ts.iterator.map(_.output).sum, skew,
      ts.count(_.failed) + js.count(_.failed))
  }
}

final case class SparkOp(jobs: Int, stages: Int, tasks: Int, taskRunMs: Long,
    schedWaitMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    output: Long, skew: Double, failed: Int)

object Ledger {
  def attach(sc: SparkContext, l: Ledger): Unit = sc.addSparkListener(l)
  def detach(sc: SparkContext, l: Ledger): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(l)
  }
}

/** JVM readings from the platform MXBeans. */
object Jvm {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  /** cumulative collection time of every collector, ms */
  def gcMs: Long = gcBeans.iterator.map(b => math.max(0L, b.getCollectionTime)).sum

  private def oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == java.lang.management.MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))

  /** old-generation occupancy after a full collection, MB. A full GC is
    * forced first, so the reading is the live set rather than whatever
    * garbage the last young collection happened to promote. */
  def liveOldGenMb(): Double = {
    System.gc()
    oldGen.flatMap(p => Option(p.getCollectionUsage))
      .orElse(oldGen.map(_.getUsage))
      .map(_.getUsed / 1048576.0).getOrElse {
        val rt = Runtime.getRuntime
        (rt.totalMemory - rt.freeMemory) / 1048576.0
      }
  }

  /** CPU time of every live Java thread so far, by thread id, ns. The JIT
    * compiler and GC threads are not Java threads, so their work — which
    * varies from run to run as compilation proceeds — is left out, and
    * time the host steals from the VM is charged to no thread. */
  def threadCpuNs(): Map[Long, Long] = {
    val mx = ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.iterator.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  /** application CPU spent between two [[threadCpuNs]] readings, ns */
  def cpuBetween(before: Map[Long, Long], after: Map[Long, Long]): Long =
    after.iterator.map { case (id, t) => math.max(0L, t - before.getOrElse(id, 0L)) }.sum

  /** epoch-ms start time of this JVM */
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

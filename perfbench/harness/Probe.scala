package org.apache.spark.sql.graftperf

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec, REPARTITION_BY_NUM}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One recorded interval. Times are epoch milliseconds; `parent` is the id
  * of the enclosing span (0 for a root). Spans stay in memory until the run
  * writes them out.
  */
final case class Span(id: Long, parent: Long, name: String, op: Long,
    startMs: Double, endMs: Double)

/** Listener-side instrument of the traced run: a Spark listener for jobs,
  * stages and tasks, and the SQL execution end event, whose
  * `QueryExecution` is the one that actually ran (the write's, not the
  * DataFrame's). It lives in this package only to read that
  * `private[sql]` field.
  *
  * Between `begin` and `end` every event is charged to the current op;
  * `end` folds them into counters and spans.
  */
final class Probe(sc: SparkContext, cores: Int)
    extends SparkListener with AdaptiveSparkPlanHelper {
  import Probe._

  private val execStarts = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val jobStarts =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Seq[Int])]()
  private val execs = new ConcurrentLinkedQueue[Exec]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      execStarts.put(s.executionId, s.time): Unit
    case e: SparkListenerSQLExecutionEnd =>
      val qe = Option(e.qe)
      val phases = qe.toSeq.flatMap(_.tracker.phases.toSeq.map {
        case (n, p) => (n, p.startTimeMs, p.endTimeMs)
      })
      val start = Option(execStarts.remove(e.executionId)).getOrElse(e.time)
      execs.add(Exec(e.executionId, e.executionName.getOrElse(""), start,
        e.time, phases, qe.map(_.executedPlan))): Unit
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val execId = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).getOrElse(-1L)
    jobStarts.put(js.jobId, (js.time, execId, js.stageIds)): Unit
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(je.jobId)).foreach { case (t0, execId, st) =>
      jobs.add(Job(execId, t0, je.time, st)): Unit
    }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    val i = ev.stageInfo
    stages.add(Stage(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L))): Unit
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) tasks.add(Task(te.taskInfo.launchTime,
      te.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.executorDeserializeTime, m.resultSerializationTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)): Unit
  }

  /** Block until the listener bus has delivered every queued event. */
  def drain(): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  private def drainAll[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val b = mutable.ArrayBuffer.empty[T]
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.toSeq
  }

  /** Drop whatever was recorded outside an op (set-up, checks). */
  def begin(): Unit = {
    drain()
    Seq(execs, jobs, stages, tasks).foreach(q => drainAll(q): Unit)
  }

  /** Union length of [start, end) intervals, clipped to [lo, hi). */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Fold every event since `begin` into the op's counters, and append
    * its spans to `spans`. `op` is both the op's id and its root span,
    * over [opStartMs, opEndMs); `windows` are its child spans (DataFrame
    * build, load, CTAS, read-back), and an execution that starts inside
    * one is its child.
    */
  def end(op: Long, opStartMs: Long, opEndMs: Long,
      windows: Seq[Span], nextId: () => Long,
      spans: mutable.ArrayBuffer[Span]): Map[String, Double] = {
    drain()
    val ex = drainAll(execs).sortBy(e => (e.startMs, -e.endMs))
    val js = drainAll(jobs)
    val st = drainAll(stages)
    val ts = drainAll(tasks)
    val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

    def windowOf(e: Exec): Option[Span] =
      windows.find(w => e.startMs >= w.startMs && e.startMs < w.endMs)

    // plans / Tables: Catalyst phases and plan shape of every execution
    ex.foreach { e =>
      c("plans.query_executions") += 1
      if (e.name.toLowerCase.contains("checkpoint"))
        c("operators.checkpoints") += 1
      e.phases.foreach { case (n, s, t) => c(s"plans.${n}_ms") += (t - s) }
      e.plan.foreach { p =>
        collectWithSubqueries(p) { case n => n }.foreach {
          case f: FileSourceScanExec =>
            c("plans.scans") += 1
            f.metrics.get("numFiles").foreach { m =>
              c("Tables.scan_files") += m.value
              windowOf(e).foreach(w => c(s"${w.name}.scan_files") += m.value)
            }
            f.metrics.get("filesSize").foreach(m => c("Tables.scan_bytes") += m.value)
          case _: ReusedExchangeExec => c("plans.reused_exchanges") += 1
          case s: ShuffleExchangeExec =>
            c("plans.exchanges") += 1
            if (s.shuffleOrigin == REPARTITION_BY_NUM)
              c("Tables.repartition_exchanges") += 1
          case _: BroadcastExchangeExec => c("plans.exchanges") += 1
          case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
            c("plans.broadcast_joins") += 1
          case l: LeafExecNode if !l.isInstanceOf[ReusedSubqueryExec] =>
            c("plans.scans") += 1
          case _ => ()
        }
      }
    }

    // execution: jobs, stages, tasks, and how busy the slots were
    val jobIv = js.map(j => (j.startMs, j.endMs))
    val jobActive = covered(jobIv, opStartMs, opEndMs)
    c("exec.jobs") = js.size.toDouble
    c("exec.stages") = st.size.toDouble
    c("exec.tasks") = ts.size.toDouble
    c("exec.no_job_s") = ((opEndMs - opStartMs) - jobActive) / 1000.0
    ts.foreach { t =>
      val wall = t.finishMs - t.launchMs
      c("exec.executor_run_s") += t.runMs / 1000.0
      c("exec.executor_cpu_s") += t.cpuNs / 1e9
      c("exec.gc_s") += t.gcMs / 1000.0
      c("exec.scheduler_delay_s") +=
        math.max(0L, wall - t.runMs - t.deserMs - t.serMs) / 1000.0
      c("exec.task_wall_s") += wall / 1000.0
      c("exec.shuffle_read_bytes") += t.shuffleRead.toDouble
      c("exec.shuffle_write_bytes") += t.shuffleWrite.toDouble
      c("exec.spill_bytes") += t.spill.toDouble
    }
    c("exec.slot_idle_frac") =
      if (jobActive <= 0) 0.0
      else math.max(0.0, 1.0 - c("exec.task_wall_s") * 1000.0 / (cores.toDouble * jobActive))

    // spans: execution → Catalyst phases / jobs → stages; an execution
    // nested in another (a command running its write) is that one's child
    val execSpan = mutable.Map.empty[Long, Long]
    ex.foreach { e =>
      val id = nextId()
      execSpan(e.id) = id
      val outer = ex.filter(o => o.id != e.id && execSpan.contains(o.id) &&
        o.startMs <= e.startMs && e.endMs <= o.endMs)
      val parent = outer.lastOption.map(o => execSpan(o.id))
        .orElse(windowOf(e).map(_.id)).getOrElse(op)
      spans += Span(id, parent, "sql.execution", op, e.startMs.toDouble, e.endMs.toDouble)
      e.phases.foreach { case (n, s, t) =>
        spans += Span(nextId(), id, s"plans.$n", op, s.toDouble, t.toDouble)
      }
    }
    val stageById = st.map(s => s.id -> s).toMap
    js.sortBy(_.startMs).foreach { j =>
      val id = nextId()
      spans += Span(id, execSpan.getOrElse(j.execId, op), "exec.job", op,
        j.startMs.toDouble, j.endMs.toDouble)
      j.stages.flatMap(stageById.get).filter(_.endMs > 0).foreach { s =>
        spans += Span(nextId(), id, "exec.stage", op, s.startMs.toDouble, s.endMs.toDouble)
      }
    }
    c.toMap
  }
}

object Probe {
  private final case class Exec(id: Long, name: String, startMs: Long,
      endMs: Long, phases: Seq[(String, Long, Long)], plan: Option[SparkPlan])
  private final case class Job(execId: Long, startMs: Long, endMs: Long,
      stages: Seq[Int])
  private final case class Stage(id: Int, startMs: Long, endMs: Long)
  private final case class Task(launchMs: Long, finishMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, deserMs: Long, serMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
}

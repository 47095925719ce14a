package org.apache.spark.graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-stage and per-job execution records for the bench and the probe
  * tool, from ONE listener. The listener-bus drain
  * (`listenerBus.waitUntilEmpty()`) is `private[spark]`, so the one
  * call lives in an `org.apache.spark` subpackage, like the
  * `graftbridge.Bridge` approach and public Spark test harnesses.
  *
  * Why task time: the bench host swings 66–89 s wall for IDENTICAL
  * code (SURVEY §6's A/B/A proof), and wall time cannot distinguish
  * "the code got slower" from "the host stalled between stages". Executor TASK time (the sum of every task's
  * executorRunTime) is the CPU-work number — host stalls between stages
  * don't inflate it — and jvmGCTime splits memory churn out of that. A
  * drifted round reads: wall up, task flat → host; task up → real.
  *
  * Records are kept only while a [[measure]] scope is open; between
  * scopes the listener drops every event, so nothing grows.
  */
object Recorder {

  /** One stage of a job started inside a scope, from its task-end
    * events in the scope: how many tasks ended, their summed
    * executorRunTime, jvmGCTime and executorCpuTime, and the first
    * graft frame of the stage's call site.
    */
  final case class StageRow(stage: Int, tasks: Int, runMs: Long, gcMs: Long,
                            cpuMs: Double, site: String)

  /** One job started inside a scope: its seconds from start to end
    * event (-1 if no end event arrived), its stage count (skipped
    * stages included) and its distinct stage names.
    */
  final case class JobRow(job: Int, seconds: Double, stages: Int,
                          description: String)

  /** What one [[measure]] scope saw: the body's wall seconds and the
    * stage and job rows of everything it ran. The task, GC and CPU sums
    * are the stage rows' sums.
    */
  final case class Measured(wallSec: Double, stages: Seq[StageRow],
                            jobs: Seq[JobRow]) {
    def taskSec: Double = stages.map(_.runMs).sum / 1e3
    def gcSec: Double = stages.map(_.gcMs).sum / 1e3
    def cpuSec: Double = stages.map(_.cpuMs).sum / 1e3
  }

  private final class Scope {
    val stages = mutable.Map.empty[Int, StageRow]
    val jobs = mutable.Map.empty[Int, (Long, JobRow)] // start time, row
  }

  // null between scopes; every access holds the Recorder lock, so the
  // listener thread's writes are visible to the measuring thread
  private var open: Scope = null

  private val listener = new SparkListener {
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = Recorder.synchronized {
      val m = te.taskMetrics
      // only stages of jobs started in this scope: a failed job's
      // surviving tasks end after the action has thrown, and would
      // otherwise bill to the next scope
      if (open != null && m != null)
        open.stages.get(te.stageId).foreach { r =>
          // executorCpuTime is in NANOseconds, unlike the two ms fields:
          // the contention-robust number — task WALL time inflates when a
          // noisy host timeslices the executor threads, while CPU time
          // bills only cycles this process burned
          open.stages(te.stageId) = r.copy(tasks = r.tasks + 1,
            runMs = r.runMs + m.executorRunTime, gcMs = r.gcMs + m.jvmGCTime,
            cpuMs = r.cpuMs + m.executorCpuTime / 1e6)
        }
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = Recorder.synchronized {
      if (open != null) {
        js.stageInfos.foreach { i =>
          open.stages.getOrElseUpdate(i.stageId, StageRow(i.stageId, 0, 0L,
            0L, 0.0, i.details.linesIterator.map(_.trim)
              .find(l => l.startsWith("graft.") && !l.startsWith("graft.Probe"))
              .getOrElse(i.name).take(90)))
        }
        open.jobs(js.jobId) = js.time -> JobRow(js.jobId, -1.0,
          js.stageInfos.size,
          js.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct
            .mkString(" ; ").take(160))
      }
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = Recorder.synchronized {
      if (open != null)
        open.jobs.get(je.jobId).foreach { case (t0, row) =>
          open.jobs(je.jobId) = t0 -> row.copy(seconds = (je.time - t0) / 1e3)
        }
    }
  }

  private var installedAppId: String = null

  /** Register the listener on this context — idempotent FOR REAL: a
    * second registration would count every task twice. Keyed on the
    * context's applicationId, not a JVM-global boolean: a
    * NEW SparkContext in the same JVM (Spark allows one live at a time,
    * so the old one is stopped and its listener gone with it)
    * registers again. [[measure]] calls it.
    */
  def install(sc: SparkContext): Unit = synchronized {
    val app = sc.applicationId
    if (installedAppId != app) {
      sc.addSparkListener(listener)
      installedAppId = app
    }
  }

  /** Wait until the listener bus has delivered every posted event.
    * Without the drain, a scope closed right after an action misses the
    * last stage's events (and one opened right after another action
    * takes that action's late events as its own); a reader of the
    * listener-fed status store (`sc.statusTracker`) drains first for
    * the same reason.
    */
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: Throwable => () } // a stuck bus must not kill the run

  /** Run `body` in a recording scope: drain the listener bus, open the
    * scope, run the body, drain again, close the scope. A body that
    * throws closes the scope and rethrows; the events it leaves on the
    * bus fall between scopes and are dropped. Scopes do not nest.
    */
  def measure(sc: SparkContext)(body: => Unit): Measured = {
    install(sc)
    drain(sc)
    val scope = new Scope
    synchronized {
      require(open == null, "Recorder.measure scopes do not nest")
      open = scope
    }
    try {
      val t0 = System.nanoTime()
      body
      val wallSec = (System.nanoTime() - t0) / 1e9
      drain(sc)
      synchronized {
        // a skipped stage (its shuffle output reused) ran no task
        Measured(wallSec,
          scope.stages.values.filter(_.tasks > 0).toSeq.sortBy(_.stage),
          scope.jobs.values.map(_._2).toSeq.sortBy(_.job))
      }
    } finally synchronized { open = null }
  }
}

package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftperf.Drain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's own tracer. Spans are recorded around each timed op
  * and around each public graft call inside it (from the benchmark's
  * files, never inside graft). While tracing is on, a `SparkListener`
  * and a `QueryExecutionListener` collect jobs, stages, tasks and
  * plan-phase times. Everything stays in memory until [[writeJsonl]].
  *
  * Attribution: a job belongs to the span named by the `graftperf.span`
  * local property when that span was open at the job's start;
  * otherwise (for example jobs started on `JobRunner`'s pool threads)
  * to the deepest span whose interval holds the job's start time.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch nanoseconds, from the monotonic clock. */
  def nowNs(): Long = epochNs0 + (System.nanoTime() - nano0)

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
      jobs.put(e.jobId, JobRec(e.jobId, e.time * 1000000L, -1L,
        e.stageIds, prop))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endNs = e.time * 1000000L)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val st = stages.computeIfAbsent(e.stageId, id => new StageRec(id))
      st.synchronized {
        val info = e.taskInfo
        st.tasks += 1
        if (info != null && info.failed) st.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          st.runMs += m.executorRunTime
          st.cpuNs += m.executorCpuTime
          st.gcMs += m.jvmGCTime
          st.inputBytes += m.inputMetrics.bytesRead
          st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          st.taskRunMs += m.executorRunTime
          if (info != null) {
            val exec = m.executorRunTime + m.executorDeserializeTime +
              m.resultSerializationTime
            st.schedDelayMs += math.max(0L,
              info.duration - exec - info.gettingResultTime)
          }
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def rec(fn: String, qe: QueryExecution, ok: Boolean): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val startMs = ph.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis())
      qes.add(QeRec(fn, startMs * 1000000L, ms("analysis"),
        ms("optimization"), ms("planning"), ok))
    }
    override def onSuccess(fn: String, qe: QueryExecution, d: Long): Unit =
      rec(fn, qe, ok = true)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
      rec(fn, qe, ok = false)
  }

  @volatile private var listening = false

  /** Register the listeners: the traced half of an op pair starts here. */
  def listen(): Unit = if (!listening) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    listening = true
  }

  /** Deliver every pending event, then unregister the listeners. */
  def unlisten(): Unit = if (listening) {
    Drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    listening = false
  }

  def tracing: Boolean = listening

  /** Run `body` inside a span of `layer`. Outside tracing this is only
    * the call itself.
    */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!listening) body
    else {
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0),
        name, layer, nowNs(), -1L)
      nextId += 1
      stack = s :: stack
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = nowNs()
        spans += s
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  // ---- attribution ----

  private def within(s: Span, t: Long): Boolean =
    t >= s.startNs - 1000000L && t <= s.endNs + 1000000L

  private lazy val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap
  private lazy val children: Map[Int, Seq[Span]] =
    spans.toSeq.groupBy(_.parent)

  /** The span a job is billed to. */
  def ownerOf(j: JobRec): Option[Span] =
    byId.get(j.spanProp).filter(within(_, j.startNs))
      .orElse(spans.filter(within(_, j.startNs))
        .sortBy(s => -(s.startNs)).headOption)

  /** The root (op) span a span sits under. */
  def rootOf(s: Span): Span =
    if (s.parent == 0) s else byId.get(s.parent).map(rootOf).getOrElse(s)

  /** Jobs billed to the op rooted at `op`. */
  def jobsOf(op: Span): Seq[JobRec] =
    jobs.values.asScala.toSeq
      .filter(j => ownerOf(j).exists(s => rootOf(s).id == op.id))
      .sortBy(_.startNs)

  def qesOf(op: Span): Seq[QeRec] =
    qes.asScala.toSeq.filter(q => within(op, q.startNs))

  /** A span's duration minus the time its child spans cover. */
  def selfNs(s: Span): Long =
    s.durNs - unionNs(children.getOrElse(s.id, Nil)
      .map(c => (c.startNs, c.endNs)), s.startNs, s.endNs)

  /** Self time summed per layer, over every recorded span. */
  def selfByLayer: Map[String, Double] =
    spans.toSeq.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(selfNs).sum / 1e9 }

  /** The spans, jobs, stages and plan phases as JSON lines. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(Json.obj("type" -> "span", "id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "self_ns" -> selfNs(s))).append('\n')
    }
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      sb.append(Json.obj("type" -> "job", "id" -> j.id,
        "span" -> ownerOf(j).map(_.id).getOrElse(0),
        "start_ns" -> j.startNs, "end_ns" -> j.endNs,
        "stages" -> j.stageIds.mkString(","))).append('\n')
    }
    stages.values.asScala.toSeq.sortBy(_.id).foreach { st =>
      sb.append(Json.obj("type" -> "stage", "id" -> st.id,
        "tasks" -> st.tasks, "failed_tasks" -> st.failedTasks,
        "run_ms" -> st.runMs, "cpu_ns" -> st.cpuNs, "gc_ms" -> st.gcMs,
        "sched_delay_ms" -> st.schedDelayMs,
        "input_bytes" -> st.inputBytes,
        "shuffle_read_bytes" -> st.shuffleReadBytes,
        "shuffle_write_bytes" -> st.shuffleWriteBytes,
        "spill_bytes" -> st.spillBytes, "skew" -> st.skew)).append('\n')
    }
    qes.asScala.foreach { q =>
      sb.append(Json.obj("type" -> "query_execution", "func" -> q.func,
        "start_ns" -> q.startNs, "analysis_ms" -> q.analysisMs,
        "optimizer_ms" -> q.optimizerMs, "physical_ms" -> q.physicalMs,
        "ok" -> q.ok)).append('\n')
    }
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "graftperf.span"

  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        startNs: Long, var endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  final case class JobRec(id: Int, startNs: Long, var endNs: Long,
                          stageIds: Seq[Int], spanProp: Int)

  final case class QeRec(func: String, startNs: Long, analysisMs: Double,
                         optimizerMs: Double, physicalMs: Double,
                         ok: Boolean)

  final class StageRec(val id: Int) {
    var tasks = 0L; var failedTasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
    var inputBytes = 0L; var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
    val taskRunMs = ArrayBuffer.empty[Long]
    /** Max over median task run time; 1 for a stage of one task. */
    def skew: Double = synchronized {
      if (taskRunMs.size < 2) 1.0
      else {
        val s = taskRunMs.sorted
        val med = Stats.median(s.map(_.toDouble))
        if (med <= 0) 1.0 else s.last / med
      }
    }
  }

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def unionNs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (curE > curS) covered += curE - curS
    covered
  }
}

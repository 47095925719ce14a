package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Minimal JSON rendering; numbers keep every digit. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest percentile with at least ten samples beyond it:
    * (percentile, value, samples beyond). With fewer than 11 samples
    * this is the maximum, and the count beyond it says so.
    */
  def tail(xs: scala.collection.Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.length
    if (n < 11) (100.0, s.last, 0)
    else (100.0 * (n - 10) / n, s(n - 11), 10)
  }

  /** An order-independent digest of a result: the sum, modulo 2^64, of
    * a 64-bit hash of each row's canonical text. Doubles are rounded to
    * ten significant digits and floats to six, so a float sum taken in
    * another order still digests the same; decimals stay exact.
    */
  def digest(df: DataFrame): (Long, String) = {
    val names = df.columns.toSeq
    val order = names.indices.sortBy(names(_))
    val rows = df.collect()
    var sum = 0L
    rows.foreach { r =>
      val text = order.map(i => canon(r.get(i))).mkString("\u0001")
      sum += hash64(text)
    }
    (rows.length.toLong, f"$sum%016x")
  }

  def hash64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0"
      else new java.math.BigDecimal(d)
        .round(new java.math.MathContext(10)).stripTrailingZeros.toString
    case f: Float =>
      if (f.isNaN) "NaN" else if (f == 0.0f) "0"
      else new java.math.BigDecimal(f.toDouble)
        .round(new java.math.MathContext(6)).stripTrailingZeros.toString
    case b: java.math.BigDecimal => "d" + b.toPlainString
    case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString("x", "", "")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case other => other.getClass.getSimpleName + ":" + other.toString
  }
}

/** One timed op: its kind, its name, wall interval, outcome, and
  * whether it ran with tracing on.
  */
final case class OpRec(kind: String, name: String, startNs: Long,
                       endNs: Long, ok: Boolean, traced: Boolean,
                       span: Option[Tracer.Span], gcMs: Long, cpuNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What a workload hands back: named end-to-end values (value, unit)
  * in print order, and extra per-layer lines that only it can give.
  */
final class Report {
  val endToEnd = ArrayBuffer.empty[(String, Double, String)]
  val layer = ArrayBuffer.empty[(String, Double, String)]
  val notes = ArrayBuffer.empty[String]
  def e2e(name: String, v: Double, unit: String): Unit = endToEnd += ((name, v, unit))
  def per(name: String, v: Double, unit: String): Unit = layer += ((name, v, unit))
}

/** A run's shared state: session, run root, seed, clocks, the
  * tracer and the op log.
  */
final class Ctx(val spark: SparkSession, val root: Path, val seed: Long,
                val seconds: Int, val trace: Boolean, val cores: Int) {
  val tracer = new Tracer(spark)
  val ops = ArrayBuffer.empty[OpRec]
  val report = new Report
  var checkFailures = 0
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  /** JVM collection time so far; in local mode the executors share it. */
  def gcMs(): Long = {
    var t = 0L
    gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  def dir(name: String): String = {
    val p = root.resolve(name); Files.createDirectories(p.getParent); p.toString
  }

  def mkdir(name: String): String = {
    val p = root.resolve(name); Files.createDirectories(p); p.toString
  }

  def say(line: String): Unit = println(line)

  /** Run a call into a graft layer inside a span (traced runs only). */
  def call[T](layer: String, name: String)(body: => T): T =
    tracer.span(layer, name)(body)

  /** A call that builds a DataFrame (planning happens here). */
  def construct[T](layer: String, name: String)(body: => T): T =
    tracer.span(layer, Ctx.ConstructPrefix + name)(body)

  /** Bill a constructed frame's analysis phase to the open op. */
  def noteAnalysis(df: DataFrame): Unit = if (tracer.tracing)
    df.queryExecution.tracker.phases.get("analysis").foreach { p =>
      tracer.qes.add(Tracer.QeRec(Ctx.ConstructPrefix.trim,
        p.startTimeMs * 1000000L, p.durationMs.toDouble, 0, 0, ok = true))
    }

  /** The op kind the end-to-end numbers are about, and how many input
    * items (queries or WARC records) one such op processes.
    */
  var headline = ""
  /** The crawl of this run and its payloads, when one was written. */
  var crawlDir: Option[String] = None
  var payloads: Option[CrawlGen.Payloads] = None
  var itemsPerOp = 1.0

  /** Time one op. A throw, or `body` returning false (its output failed
    * its correctness check), marks the op failed; the run continues.
    */
  def op(kind: String, name: String, traced: Boolean = false)
        (body: => Boolean): Boolean = {
    if (traced) tracer.listen()
    val gc0 = gcMs()
    val cpu0 = cpuNs()
    val t0 = System.nanoTime()
    val ok = try tracer.span("op", s"$kind:$name")(body) catch {
      case e: Throwable =>
        say(s"[op] $kind $name failed: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | "))
        false
    }
    val t1 = System.nanoTime()
    val span = if (!traced) None else {
      val s = tracer.spans.lastOption.filter(_.parent == 0)
      tracer.unlisten()
      s
    }
    ops += OpRec(kind, name, t0, t1, ok, traced, span, gcMs() - gc0, cpuNs() - cpu0)
    if (kind != "query")
      say(f"[op] $kind $name ${(t1 - t0) / 1e9}%.3f s${if (traced) " traced" else ""}")
    ok
  }

  /** Mark the last op failed: its output failed a check made after it. */
  def failLast(): Unit = ops(ops.size - 1) = ops.last.copy(ok = false)

  /** Outside the timed region: a failed check marks the run incorrect
    * and fails the op it belongs to.
    */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (!ok) {
      checkFailures += 1
      say(s"[check] FAIL $what ${detail}")
    }
    ok
  }
}

object Ctx {
  val ConstructPrefix = "construct "
}

/** Peak heap in use after a collection: the largest live-plus-retained
  * heap any garbage collection left behind since [[reset]]. Unlike the
  * raw used figure, it does not just read back the young generation's
  * size. Only heap pools count: Metaspace and the code cache are not
  * heap, and they grow as the JIT compiles.
  */
final class HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import scala.jdk.CollectionConverters._

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  @volatile private var peak = 0L
  @volatile private var gcs = 0
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { gcs += 1; if (after > peak) peak = after }
      }
  }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  beans.foreach(_.asInstanceOf[NotificationEmitter]
    .addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { peak = 0L; gcs = 0 }
  /** The peak, or the heap in use now when no collection ran. */
  def peakMb: Double = synchronized {
    val p = if (gcs > 0) peak
            else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    p / (1024.0 * 1024.0)
  }
  def stop(): Unit = beans.foreach(b => scala.util.Try(
    b.asInstanceOf[NotificationEmitter].removeNotificationListener(listener)))
}

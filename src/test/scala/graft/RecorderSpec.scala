package graft

import org.apache.spark.graftbench.Recorder
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** The stage/job recorder's scope contract: each task counted once,
  * stage rows that add up to the scope totals, every job of the body
  * recorded with its end, and nothing carried from one scope to the
  * next.
  */
class RecorderSpec extends SparkSpec {

  private def sc = spark.sparkContext

  test("install called twice counts each task once") {
    Recorder.install(sc)
    Recorder.install(sc)
    val m = Recorder.measure(sc)(sc.parallelize(1 to 100, 4).count())
    assert(m.stages.map(_.tasks) == Seq(4))
  }

  test("a shuffle query's stage rows add up to the scope totals") {
    val m = Recorder.measure(sc)(
      SparkEntry.queries("q01_agg_pricing")(spark, sf).collect())
    assert(m.stages.size >= 2, s"stages: ${m.stages}")
    assert(m.stages.forall(_.tasks > 0))
    assert(m.taskSec > 0.0 && m.cpuSec > 0.0)
    assert(m.stages.map(_.runMs).sum / 1e3 == m.taskSec)
    assert(m.stages.map(_.cpuMs).sum / 1e3 == m.cpuSec)
    assert(m.stages.map(_.gcMs).sum / 1e3 == m.gcSec)
    assert(m.jobs.map(_.job).distinct.size == m.jobs.size)
  }

  test("a body running N actions records N jobs, each with an end") {
    // a slow listener on the same bus queue holds the recorder's events
    // back past the last action's return: only the scope's closing
    // drain brings them in
    val slow = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = Thread.sleep(50)
    }
    sc.addSparkListener(slow)
    val n = 5
    val m = try Recorder.measure(sc)(
      (1 to n).foreach(_ => sc.parallelize(1 to 10, 2).count()))
    finally sc.removeSparkListener(slow)
    assert(m.jobs.size == n, s"jobs: ${m.jobs}")
    assert(m.jobs.forall(j => j.seconds >= 0.0 && j.stages == 1), m.jobs)
    assert(m.stages.map(_.tasks).sum == 2 * n)
  }

  test("a throwing body closes the scope and the next scope starts empty") {
    val e = intercept[org.apache.spark.SparkException](
      Recorder.measure(sc)(sc.parallelize(1 to 10, 2)
        .map(i => if (i > 0) throw new IllegalStateException("boom") else i)
        .count()))
    assert(e.getMessage.contains("boom"))
    val idle = Recorder.measure(sc)(())
    assert(idle.stages.isEmpty && idle.jobs.isEmpty)
    val next = Recorder.measure(sc)(sc.parallelize(1 to 10, 3).count())
    assert(next.jobs.size == 1 && next.stages.map(_.tasks) == Seq(3))
  }

  test("scopes do not nest") {
    intercept[IllegalArgumentException](
      Recorder.measure(sc)(Recorder.measure(sc)(())))
    assert(Recorder.measure(sc)(sc.parallelize(1 to 4, 1).count()).jobs.size == 1)
  }
}

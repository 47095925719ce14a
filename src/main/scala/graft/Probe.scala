package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.graftbench.Recorder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col

/** The diagnostic main: three questions about a list of targets, in one
  * session sized like the bench.
  *
  * `runMain graft.Probe <plan|final|stages> <targets> [outDir]`
  *  - `plan` prints each target's formatted pre-execution plan
  *    (pushdown, exchanges, codegen spans), or with `outDir` writes it
  *    to `<outDir>/<name>.txt` — the per-round plan evidence under
  *    `plans/rNN/`.
  *  - `final` runs each target, dropping its rows, and prints the
  *    EXECUTED plan: the post-AQE shape (`isFinalPlan=true`), where
  *    coalesced stage widths and runtime join-strategy changes live.
  *    The pre-execution plan says nothing about the widths that ran.
  *  - `stages` runs the targets interleaved like the bench (reps outer,
  *    names sorted), prints the FIRST target's wall seconds per rep,
  *    then its last rep's per-stage table and job census from
  *    [[Recorder]]: which stage burns the CPU, and why a query is slow
  *    in the bench but fast alone.
  *
  * `<targets>` is a comma list of registered query names (`all` is
  * every one) and two named frames:
  *  - `q96_inner`, the SimJoin pair frame that q96's registered entry
  *    hides behind an eager localCheckpoint;
  *  - `ndx_maintain` (stages only), one NearDupIndex maintain cycle:
  *    the index is built once over the docs no rep adds, then each rep
  *    maintains the next 250-doc delta from `doc_id` 0.
  *
  * The session width, dataset and reps come from the bench's variables
  * (SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR — required here, a diagnostic
  * names its dataset — and SPARK_GRAFT_BENCH_REPS), and PROBE_WARMUP=1
  * first warms like the bench ([[Bench.warmUp]]).
  */
object Probe {

  private val NdxDelta = 250

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("set SPARK_GRAFT_SF_DIR to the dataset directory"))
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = EngineConf.localSession("graft-probe")
    try {
      if (sys.env.get("PROBE_WARMUP").contains("1")) Bench.warmUp(spark, sfDir)
      run(spark, args.toSeq, sfDir, reps)
    } finally spark.stop()
  }

  /** Run one probe on `spark` and print its report; the session stays
    * open.
    */
  def run(spark: SparkSession, args: Seq[String], sfDir: String,
          reps: Int): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: graft.Probe <plan|final|stages> <targets> [outDir]")
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(',').toSeq.distinct
    args(0) match {
      case "plan" => names.foreach { n =>
        val plan =
          try frame(spark, sfDir, n).queryExecution.explainString(FormattedMode)
          catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
        args.lift(2) match {
          case Some(dir) =>
            Files.createDirectories(Paths.get(dir))
            Files.write(Paths.get(dir, s"$n.txt"), plan.getBytes(UTF_8))
          case None => println(s"== $n\n$plan")
        }
      }
      case "final" => names.foreach { n =>
        // run the frame's OWN plan and drop its rows: a noop-sink write
        // plans the frame again in a separate QueryExecution, which left
        // the printed top-level plan at isFinalPlan=false
        val qe = frame(spark, sfDir, n).queryExecution
        qe.toRdd.foreach(_ => ())
        println(s"== $n\n${qe.explainString(FormattedMode)}")
      }
      case "stages" => stages(spark, sfDir, reps, names)
      case m => throw new IllegalArgumentException(
        s"unknown mode $m: expected plan, final or stages")
    }
  }

  private def frame(spark: SparkSession, sfDir: String,
                    name: String): DataFrame = name match {
    case "q96_inner" =>
      import graft.queries.SimQ._
      graft.operators.SimJoin.joinPairs(Tables(spark, sfDir).documents,
        SimShingle, SimNum, SimDen)
    case q => SparkEntry.queries.getOrElse(q,
      throw new IllegalArgumentException(s"unknown frame $q"))(spark, sfDir)
  }

  /** The work one rep of `name` does; `ndx_maintain` builds its index
    * here, before any rep.
    */
  private def action(spark: SparkSession, sfDir: String, reps: Int,
                     name: String): () => Unit = name match {
    case "ndx_maintain" =>
      val path = "target/probe_ndx"
      val docs = Tables(spark, sfDir).documents
      new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new Path(path), true)
      val t0 = System.nanoTime()
      graft.operators.NearDupIndex.build(spark, path,
        docs.filter(col("doc_id") >= reps.toLong * NdxDelta))
      println(f"== ndx_maintain build: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      var lo = 0L
      () => {
        graft.operators.NearDupIndex.maintain(spark, path,
          docs.filter(col("doc_id") >= lo && col("doc_id") < lo + NdxDelta))
        lo += NdxDelta
      }
    case q => () => { frame(spark, sfDir, q).count(); () }
  }

  private def stages(spark: SparkSession, sfDir: String, reps: Int,
                     names: Seq[String]): Unit = {
    val actions = names.map(n => n -> action(spark, sfDir, reps, n)).toMap
    val probe = names.head
    var last: Recorder.Measured = null
    for (rep <- 1 to reps; n <- names.sorted)
      if (n != probe) actions(n)()
      else {
        last = Recorder.measure(spark.sparkContext)(actions(n)())
        println(f"== $n rep $rep: ${last.wallSec}%.3f s")
      }
    last.stages.sortBy(-_.cpuMs).foreach { r =>
      println(f"stage ${r.stage}%5d tasks=${r.tasks}%4d run=${r.runMs}%7d ms cpu=${r.cpuMs}%7.0f ms gc=${r.gcMs}%5d ms  ${r.site}")
    }
    println(f"TOTAL run=${last.taskSec * 1e3}%.0f ms cpu=${last.cpuSec * 1e3}%.0f ms gc=${last.gcSec * 1e3}%.0f ms stages=${last.stages.size} jobs=${last.jobs.size}")
    last.jobs.foreach { j =>
      println(f"job ${j.job}%5d ${j.seconds}%8.3f s ${j.stages}%3d stages | ${j.description}")
    }
  }
}

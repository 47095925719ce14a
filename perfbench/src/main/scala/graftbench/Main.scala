package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Entry point of one benchmark run (launched by perfbench/run.py):
  *
  * {{{
  * graftbench.Main --workload <query-mix|crawl-prep>
  *   --seed <n> --seconds <s> --trace <0|1> --root <empty run dir>
  *   [--cores <n>] [--expected <tsv>] [--trace-out <jsonl>]
  * graftbench.Main --mode expect --root <dir>   (query-mix digests)
  * }}}
  *
  * Prints what it generated and every metric by name and unit, then,
  * as its last line, `RESULT <json>` with `correct`, `attempted`,
  * `failed` and `metrics` (end-to-end metrics untraced, per-layer
  * metrics traced).
  */
object Main {

  private var setupS = Double.NaN
  private var cpu0 = 0L
  private var timedNs0 = 0L
  private var cpuS = Double.NaN
  private var timedS = Double.NaN
  private var heapMb = Double.NaN
  private val heap = new HeapPeak

  /** Setup ends here: session start, inputs and warm-up are behind.
    * The timed region starts: CPU and heap peak count from now.
    */
  def setupDone(ctx: Ctx): Unit = {
    setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    System.gc()
    cpu0 = ctx.cpuNs()
    timedNs0 = System.nanoTime()
    heap.reset()
  }

  /** The timed region ends here, before the checks made after it. */
  def timedDone(ctx: Ctx): Unit = {
    cpuS = (ctx.cpuNs() - cpu0) / 1e9
    timedS = (System.nanoTime() - timedNs0) / 1e9
    heapMb = heap.peakMb
  }

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    heap.stop()
    System.out.flush()
    System.exit(code)
  }

  private def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"expected --key value pairs: ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad flag $k"); k.drop(2) -> v }.toMap
  }

  private def run(a: Map[String, String]): Int = {
    val root = Paths.get(a("root")).toAbsolutePath
    if (Files.isDirectory(root) && Files.list(root).iterator().hasNext) {
      System.err.println(s"run root $root is not empty; refusing to run")
      return 3
    }
    Files.createDirectories(root)
    val cores = a.get("cores").map(_.toInt)
      .getOrElse(math.min(4, Runtime.getRuntime.availableProcessors()))
    val spark = graft.EngineConf(
      appName = "graft-perfbench",
      master = Some(s"local[$cores]"),
      shufflePartitions = Some(cores),
      extraConf = Map(
        "spark.ui.enabled" -> "false",
        "spark.local.dir" -> root.resolve("spark-local").toString,
        "spark.sql.warehouse.dir" -> root.resolve("warehouse").toString,
        "spark.driver.host" -> "localhost")).session()
    spark.sparkContext.setLogLevel("ERROR")
    println(f"[setup] session ready at ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.3f s")
    try {
      val ctx = new Ctx(spark, root, a.getOrElse("seed", "1").toLong,
        a.getOrElse("seconds", "10").toInt, a.getOrElse("trace", "0") == "1",
        cores)
      a.getOrElse("mode", "bench") match {
        case "expect" => QueryMix.expect(ctx, root.toString); 0
        case "bench" =>
          a("workload") match {
            case "query-mix" => QueryMix.run(ctx, a("expected"))
            case "crawl-prep" => CrawlPrep.run(ctx)
            case w => throw new IllegalArgumentException(s"unknown workload $w")
          }
          finish(ctx, a.get("trace-out").map(Paths.get(_)))
          0
      }
    } finally spark.stop()
  }

  private def finish(ctx: Ctx, traceOut: Option[Path]): Unit = {
    val head = ctx.ops.filter(o => o.kind == ctx.headline && !o.traced)
    require(head.nonEmpty, s"no untraced ${ctx.headline} op completed")
    // each distinct op (a query, or the one pipeline call) by its
    // median over repeats first: one slow repeat of one query (the
    // first pass still pays JIT compilation) then moves no figure
    val byName = head.groupBy(_.name).values.toSeq
    val perOp = byName.map(os => Stats.median(os.map(_.seconds)))
    val cpuPerOp = byName.map(os => Stats.median(os.map(_.cpuNs / 1e9)))
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      // the geometric mean weighs every distinct op alike, and unlike a
      // median it does not jump between the ops near the middle
      ("op_gmean_s", math.exp(perOp.map(math.log).sum / perOp.size), "s"),
      // every timed op's items over the whole timed region, so the
      // driver work between ops counts too
      ("throughput_per_s", ctx.itemsPerOp * head.size / timedS, "1/s"),
      ("cpu_per_op_s", cpuPerOp.sum / cpuPerOp.size, "s"),
      ("heap_peak_mb", heapMb, "MB"))
    def failRatio = ctx.ops.count(!_.ok).toDouble / ctx.ops.size
    val named = Seq(("setup_s", setupS, "s")) ++ ctx.report.endToEnd ++ Seq(
      ("cpu_s", cpuS, "s"), ("timed_s", timedS, "s"),
      ("fail_ratio", failRatio, "ratio"))
    named.foreach { case (n, v, u) => println(f"[metric] $n%-22s $v%.6f $u") }
    ctx.report.notes.foreach(n => println(s"[note] $n"))
    println(s"[metric] over ${head.size} untraced ${ctx.headline} ops, ${perOp.size} distinct:")
    e2e.drop(1).foreach { case (n, v, u) => println(f"[metric] $n%-22s $v%.6f $u") }

    val metrics: Seq[(String, Double, String)] =
      if (!ctx.trace) e2e
      else {
        // the probes first: the tracer indexes its spans on the first
        // lookup (Layers.compute), so every span must be recorded by then
        val probes = LayerProbe.run(ctx) ++ CodecProbe.run(ctx)
        val layers = Layers.compute(ctx) ++ probes
        println(f"[metric] fail_ratio with probes $failRatio%.6f ratio")
        (layers ++ ctx.report.layer).foreach { case (n, v, u) =>
          println(f"[layer] $n%-40s $v%.6f $u") }
        ctx.tracer.selfByLayer.toSeq.sortBy(-_._2).foreach { case (l, s) =>
          println(f"[self] $l%-12s $s%.6f s") }
        traceOut.foreach { p =>
          ctx.tracer.writeJsonl(p)
          println(s"[trace] spans written to $p")
        }
        layers
      }
    val correct = ctx.checkFailures == 0
    println("RESULT " + Json.obj(
      "correct" -> correct, "attempted" -> ctx.ops.size,
      "failed" -> ctx.ops.count(!_.ok),
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap))
  }
}

/** Per-layer numbers from the traced ops of the headline kind. */
object Layers {
  import Tracer._

  def compute(ctx: Ctx): Seq[(String, Double, String)] = {
    val t = ctx.tracer
    val traced = ctx.ops.filter(o => o.kind == ctx.headline && o.traced && o.span.isDefined)
    val untraced = ctx.ops.filter(o => o.kind == ctx.headline && !o.traced)
    require(traced.nonEmpty, "no traced op to measure layers on")
    val n = traced.size.toDouble
    val per = traced.map { o =>
      val sp = o.span.get
      val jobs = t.jobsOf(sp)
      val stageIds = jobs.flatMap(_.stageIds).distinct
      val st = stageIds.flatMap(id => Option(t.stages.get(id))).filter(_.tasks > 0)
      val qes = t.qesOf(sp)
      val executed = qes.filterNot(_.func == Ctx.ConstructPrefix.trim)
      // the entry call that builds the frame; for an op that builds
      // nothing itself (a pipeline call), the driver time before its
      // first Spark job
      val constructSpans = t.spans.filter(s =>
        s.name.startsWith(Ctx.ConstructPrefix) && t.rootOf(s).id == sp.id)
      val construct =
        if (constructSpans.nonEmpty) constructSpans.map(_.durNs / 1e6).sum
        else jobs.headOption.map(j => (j.startNs - sp.startNs) / 1e6)
          .getOrElse(sp.durNs / 1e6)
      val busy = unionNs(jobs.map(j => (j.startNs,
        if (j.endNs < 0) sp.endNs else j.endNs)), sp.startNs, sp.endNs)
      Map(
        "construct" -> construct,
        "analysis" -> qes.map(_.analysisMs).sum,
        "optimizer" -> executed.map(_.optimizerMs).sum,
        "physical" -> executed.map(_.physicalMs).sum,
        "planning" -> (construct + executed.map(q =>
          q.analysisMs + q.optimizerMs + q.physicalMs).sum),
        "wall_ms" -> sp.durNs / 1e6,
        "actions" -> executed.size.toDouble,
        "jobs" -> jobs.size.toDouble,
        "stages" -> st.size.toDouble,
        "idle_s" -> (sp.durNs - busy) / 1e9,
        "tasks" -> st.map(_.tasks).sum.toDouble,
        "run_s" -> st.map(_.runMs).sum / 1e3,
        "cpu_s" -> st.map(_.cpuNs).sum / 1e9,
        "gc_s" -> o.gcMs / 1e3,
        "sched_s" -> st.map(_.schedDelayMs).sum / 1e3,
        "input_mb" -> st.map(_.inputBytes).sum / 1048576.0,
        "sr_mb" -> st.map(_.shuffleReadBytes).sum / 1048576.0,
        "sw_mb" -> st.map(_.shuffleWriteBytes).sum / 1048576.0,
        "spill_mb" -> st.map(_.spillBytes).sum / 1048576.0,
        "failed" -> st.map(_.failedTasks).sum.toDouble,
        "skew" -> (1.0 +: st.map(_.skew)).max)
    }
    def mean(k: String): Double = per.map(_(k)).sum / n
    val tracedWall = traced.map(_.seconds).sum
    val untracedWall = untraced.map(_.seconds).sum
    val overhead =
      if (untraced.isEmpty) Double.NaN
      else 100.0 * ((tracedWall / traced.size) / (untracedWall / untraced.size) - 1)
    println(f"[trace] overhead: traced ${traced.size} ops ${tracedWall}%.3f s vs " +
      f"untraced ${untraced.size} ops ${untracedWall}%.3f s -> $overhead%.2f%%")
    Seq(
      ("plan.construct_ms", mean("construct"), "ms"),
      ("plan.analysis_ms", mean("analysis"), "ms"),
      ("plan.optimizer_ms", mean("optimizer"), "ms"),
      ("plan.physical_ms", mean("physical"), "ms"),
      ("plan.share", per.map(_("planning")).sum / per.map(_("wall_ms")).sum, "ratio"),
      ("driver.actions_per_op", mean("actions"), "count"),
      ("driver.jobs_per_op", mean("jobs"), "count"),
      ("driver.stages_per_op", mean("stages"), "count"),
      ("driver.idle_s", mean("idle_s"), "s"),
      ("stage.tasks", mean("tasks"), "count"),
      ("stage.task_run_s", mean("run_s"), "s"),
      ("stage.task_cpu_s", mean("cpu_s"), "s"),
      ("stage.gc_s", mean("gc_s"), "s"),
      ("stage.sched_delay_s", mean("sched_s"), "s"),
      ("stage.input_mb", mean("input_mb"), "MB"),
      ("stage.shuffle_read_mb", mean("sr_mb"), "MB"),
      ("stage.shuffle_write_mb", mean("sw_mb"), "MB"),
      ("stage.spill_mb", mean("spill_mb"), "MB"),
      ("stage.skew", Stats.median(per.map(_("skew"))), "ratio"),
      ("stage.failed_tasks", mean("failed"), "count"),
      ("trace.overhead_pct", overhead, "%"))
  }
}

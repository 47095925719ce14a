package graft

import org.apache.spark.sql.SparkSession

/** Explicit engine configuration — the Spark-native replacement for the
  * reference's env-var config (/root/reference/src/config.js: API
  * endpoint, retry counts, log directory all from `process.env`). A
  * library must not couple to the environment; everything is a
  * constructor argument with scale-aware defaults.
  *
  * The defaults encode the 100 TB posture:
  *  - AQE on (runtime coalescing, skew-join splitting, plan re-opt);
  *  - session timezone pinned to UTC (timestamp semantics must not
  *    depend on cluster locale);
  *  - shuffle partitions left to the CLUSTER default unless the caller
  *    sets `shufflePartitions` — operator code never hard-codes a
  *    partition count;
  *  - the generated-code class cache sized to graft's plan working set
  *    ([[EngineConf.CodegenCacheEntries]]), so a rerun reuses its
  *    compiled classes instead of recompiling them.
  */
final case class EngineConf(
    appName: String = "graft",
    master: Option[String] = None,          // None: whatever the cluster provides
    shufflePartitions: Option[Int] = None,  // None: cluster default / AQE
    timezone: String = "UTC",
    adaptiveEnabled: Boolean = true,
    extensionsEnabled: Boolean = true,
    extraConf: Map[String, String] = Map.empty) {

  /** Build (or reuse) a SparkSession configured for this engine. */
  def session(): SparkSession = {
    var b = SparkSession.builder().appName(appName)
    master.foreach(m => b = b.master(m))
    shufflePartitions.foreach(n =>
      b = b.config("spark.sql.shuffle.partitions", n.toString))
    b = b
      .config("spark.sql.session.timeZone", timezone)
      .config("spark.sql.adaptive.enabled", adaptiveEnabled.toString)
      .config("spark.sql.adaptive.skewJoin.enabled", adaptiveEnabled.toString)
      // engine-level policy, set once and visibly here (not as a hidden
      // side effect of a table read): TIMESTAMP(NANOS) parquet columns
      // surface as long, and Tables.events rebuilds TimestampType from
      // them — without this the vectorized reader rejects such files
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // r18 (guide §2.2): the bypass-merge shuffle writer creates one
      // physical file PER REDUCER per map task and then concatenates
      // them — M×R file creates per exchange. Profiled on the widened
      // text kernels: executor threads spent their "CPU" in
      // FileOutputStream.open0/copyFileStreamNIO, ~100 ms per task of
      // pure file churn on 32-reducer exchanges. Below the threshold
      // Spark picks the serialized (Unsafe) writer: ONE spill file +
      // index per map task, no concat. At production scale reducer
      // counts are far above 200, bypass never fires, and this
      // setting is inert — it only removes the small-R pathology.
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      // r18 (guide §2): let AQE coalesce INSIDE cached plans. The
      // iterative operators (LabelProp, Hierarchy) cache each round's
      // label frame; with this off (the Spark default) a cached plan
      // keeps its full static shuffle width, so every round of q53's
      // loop ran 32-to-64-task stages over ~500-row frames — profiled
      // at 10+ s of task time for 2 s of wall, nearly all scheduler /
      // fetch wait. With it on, AQE sizes the cached rounds like any
      // other exchange (tiny here, wide at 100 TB — the setting is
      // size-adaptive by construction, not a local constant).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config(EngineConf.CodegenCacheKey,
        EngineConf.CodegenCacheEntries.toString)
    if (extensionsEnabled)
      b = b.config("spark.sql.extensions", classOf[GraftExtensions].getName)
    extraConf.foreach { case (k, v) => b = b.config(k, v) }
    val s = b.getOrCreate()
    // spark.sql.extensions and the codegen cache cap are STATIC confs:
    // if a session already existed, getOrCreate returns it untouched,
    // the graft_* SQL functions are silently missing and generated
    // classes are recompiled once the smaller cache fills — surface
    // both loudly
    val cap = extraConf.getOrElse(EngineConf.CodegenCacheKey,
      EngineConf.CodegenCacheEntries.toString).toInt
    val lacking = Seq(
      (extensionsEnabled && !s.catalog.functionExists("graft_dot")) ->
        ("GraftExtensions — graft_* SQL functions unavailable " +
          "(DataFrame API unaffected)"),
      (s.conf.get(EngineConf.CodegenCacheKey).toInt < cap) ->
        (s"${EngineConf.CodegenCacheKey}=$cap — generated classes are " +
          "recompiled on every run once the cache fills"))
      .collect { case (true, what) => what }
    if (lacking.nonEmpty)
      System.err.println("[graft] WARNING: existing SparkSession without " +
        lacking.mkString("; without "))
    s
  }
}

object EngineConf {

  /** Spark's cache of compiled generated classes (whole-stage and
    * expression codegen) is an LRU of this many entries; the Spark
    * default is 100. Measured on a 4-vCPU host under the default: one
    * `CorpusPrep.runFromWarc` needs about 184 classes, so every rerun
    * recompiled 180–185 classes through Janino and the JIT re-warmed
    * each fresh class. The 150 registered queries of [[Bench]] at sf0.1
    * compile about 1,880 distinct classes (137 for the warm list, 1,739
    * in rep 1). At 2048, reps 2 and 3 compiled 44 and 13 classes, the
    * same as at 4096 (48 and 16), so 2048 holds the whole registered
    * surface. The classes live in metaspace, not on the heap.
    *
    * A STATIC conf: the first session in the JVM fixes it (Spark's
    * `CodeGenerator` sizes its cache once, when it first loads), so a
    * later session cannot raise it. `extraConf` still overrides the
    * value.
    */
  val CodegenCacheEntries: Int = 2048
  val CodegenCacheKey: String = "spark.sql.codegen.cache.maxEntries"
}

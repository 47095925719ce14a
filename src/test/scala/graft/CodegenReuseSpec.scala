package graft

import graft.pipeline.CorpusPrep
import org.apache.spark.metrics.source.CodegenMetrics

/** A rerun reuses its compiled generated classes: the codegen cache
  * [[EngineConf]] sizes holds a whole pipeline run and a pass over
  * registered queries. Under Spark's default cap of 100 entries one
  * all-stages [[CorpusPrep.run]] (about 195 classes) evicts its own
  * classes and every rerun recompiles all of them.
  *
  * A rerun is allowed [[RerunSlack]] compiles, not none: some reruns
  * generate a few classes the first run did not (a cache-key diff
  * showed new stage bodies, 4 of 194 on a CorpusPrep rerun and 4-8 on
  * the query pass), whatever the cache size. Suites run one after
  * another in one forked JVM, so the JVM-wide compile counter belongs
  * to this test while it runs.
  */
class CodegenReuseSpec extends SparkSpec {

  private val RerunSlack = 16

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Generated classes compiled while `body` ran. */
  private def compiledBy(body: => Unit): Long = {
    val c0 = compiles()
    body
    compiles() - c0
  }

  test("the test session carries the codegen cache cap") {
    assert(spark.conf.get(EngineConf.CodegenCacheKey) ==
      EngineConf.CodegenCacheEntries.toString)
  }

  test("an all-stages CorpusPrep rerun recompiles no generated class") {
    val CorpusPrepSpec.AllStages(docs, cfg, bench) =
      CorpusPrepSpec.allStages(spark, sf)
    def run(): Unit = {
      val out = java.nio.file.Files.createTempDirectory("graft-reuse").toString
      CorpusPrep.run(docs, out, cfg, benchmark = Some(bench))
      ()
    }
    val first = compiledBy(run())
    val second = compiledBy(run())
    assert(second <= RerunSlack, s"rerun compiled $second classes (first run: $first)")
  }

  test("a second pass over registered queries recompiles no generated class") {
    // the bench's warm list: one query per operator family
    val names = Bench.WarmupQueries
    def pass(): Unit = names.foreach(q =>
      SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save())
    val first = compiledBy(pass())
    val second = compiledBy(pass())
    assert(second <= RerunSlack,
      s"second pass over ${names.size} queries compiled $second classes (first: $first)")
  }
}

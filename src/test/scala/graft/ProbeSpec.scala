package graft

import java.nio.file.Files

/** `graft.Probe` driven on the shared test session: each mode's report. */
class ProbeSpec extends SparkSpec {

  private def probe(args: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Probe.run(spark, args, sf, reps = 2))
    out.toString("UTF-8")
  }

  test("plan writes one formatted plan per target into outDir") {
    val dir = Files.createTempDirectory("graft-probe-plan")
    probe("plan", "q01_agg_pricing,q96_inner", dir.toString)
    val files = dir.toFile.list().toSeq.sorted
    assert(files == Seq("q01_agg_pricing.txt", "q96_inner.txt"))
    files.foreach { f =>
      val text = new String(Files.readAllBytes(dir.resolve(f)), "UTF-8")
      assert(text.contains("== Physical Plan =="), s"$f: $text")
    }
  }

  test("final prints the executed post-AQE plan") {
    val out = probe("final", "q96_inner")
    assert(out.contains("isFinalPlan=true"), out)
    // the top-level plan too, not only the cached frames inside it
    assert(!out.contains("isFinalPlan=false"), out)
  }

  test("stages prints the first target's reps, a stage table and a TOTAL line") {
    val out = probe("stages", "q01_agg_pricing,q22_sessionize")
    val lines = out.linesIterator.toSeq
    assert(lines.count(_.startsWith("== q01_agg_pricing rep ")) == 2, out)
    assert(!lines.exists(_.startsWith("== q22_sessionize rep ")), out)
    assert(lines.exists(_.startsWith("stage ")), out)
    assert(lines.exists(_.startsWith("TOTAL run=")), out)
    assert(lines.exists(_.startsWith("job ")), out)
  }

  test("an unknown mode or frame is refused") {
    intercept[IllegalArgumentException](probe("explain", "q01_agg_pricing"))
    intercept[IllegalArgumentException](probe("final", "ndx_maintain"))
  }
}

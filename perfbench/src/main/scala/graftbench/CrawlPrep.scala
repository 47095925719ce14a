package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.pipeline.CorpusPrep

/** crawl-prep: `CorpusPrep.runFromWarc` over a seeded crawl, each op
  * writing the corpus shards and the media sidecar to a fresh path.
  * Stages on: url dedup, markup strip, PII scrub, the word gate, exact
  * dedup, MinHash near-dup and substring strip; no sampling, so the
  * ledger has a closed form.
  */
object CrawlPrep {

  val Records = 400
  val Files_ = 8

  val Cfg: CorpusPrep.Config = CorpusPrep.Config(
    langRates = Map.empty, defaultRate = 1.0, nShards = 4,
    nearDupMinEst = Some(0.5), scrubPii = true, stripMarkup = true,
    substrWindow = Some(16), badWords = Some(Seq(CrawlGen.BadWord)),
    dedupByUrl = true)

  def ledger(st: CorpusPrep.WarcStats): Map[String, Long] = Map(
    "htmlDocs" -> st.htmlDocs, "pdfDocs" -> st.pdfDocs,
    "officeDocs" -> st.officeDocs, "codingFenced" -> st.codingFenced,
    "noindexDropped" -> st.noindexDropped, "mediaDocs" -> st.mediaDocs,
    "mediaScrubbed" -> st.mediaScrubbed, "mediaFenced" -> st.mediaFenced,
    "input" -> st.prep.input, "urlDupDropped" -> st.prep.urlDupDropped,
    "badwordsDropped" -> st.prep.badwordsDropped,
    "afterDedup" -> st.prep.afterDedup,
    "nearDupDropped" -> st.prep.nearDupDropped,
    "afterSample" -> st.prep.afterSample,
    "substrStripped" -> st.prep.substrStripped)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.headline = "pipeline"
    val crawlDir = ctx.dir("crawl")
    val crawl = CrawlGen.write(crawlDir, ctx.seed, Records, Files_)
    val m = crawl.mix
    ctx.crawlDir = Some(crawlDir)
    ctx.payloads = Some(crawl.payloads)
    val expected = CrawlGen.expected(m)
    ctx.itemsPerOp = m.records
    ctx.say(s"[input] crawl seed=${ctx.seed} records=${m.records} files=${crawl.files} " +
      s"archive_bytes=${crawl.archiveBytes} payload_bytes=${crawl.payloads.bytes}")
    ctx.say(s"[input] mix html=${m.htmlRecords} brotli_ok=${m.brotliOk} " +
      s"brotli_dying=${m.brotliDying} pdf=${m.pdf} docx=${m.docx} " +
      s"jpeg_exif=${m.jpeg} png=${m.png} png_truncated=${m.pngBroken}")
    def share(k: Int) = f"${k.toDouble / m.records}%.3f"
    ctx.say(s"[input] shares url_dup=${share(m.twinPairs)} " +
      s"exact_dup=${share(m.dupGroups * (m.dupSize - 1))} " +
      s"near_dup=${share(m.nearPairs)} badword=${share(m.badword)} " +
      s"boilerplate=${share(m.boilerGroups * m.boilerSize)}")
    ctx.say("[input] expected ledger " +
      expected.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))

    def once(dir: String, out: String): CorpusPrep.WarcStats =
      ctx.call("pipeline", "CorpusPrep.runFromWarc") {
        CorpusPrep.runFromWarc(spark, dir, out, Cfg,
          mediaOut = Some(out + "_media"))
      }
    def checkLedger(what: String, st: CorpusPrep.WarcStats,
                    want: Map[String, Long] = expected): Boolean = {
      val got = ledger(st)
      val bad = want.filter { case (k, v) => got(k) != v }
      ctx.check(s"ledger of $what", bad.isEmpty,
        bad.map { case (k, v) => s"$k=${got(k)} expected $v" }.mkString(" "))
    }
    // warm-up: one untimed run over the same crawl
    val warmOut = ctx.dir("warm/out")
    checkLedger("warm-up run", once(crawlDir, warmOut))
    Main.setupDone(ctx)

    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var i = 0
    val kept = scala.collection.mutable.ArrayBuffer.empty[Double]
    // at least three ops (the median drops the first, which still
    // pays JIT compilation), or two traced/untraced pairs
    val minOps = if (ctx.trace) 4 else 3
    while (i < minOps || System.nanoTime() < deadline) {
      val out = ctx.dir(s"runs/$i/out")
      var st: CorpusPrep.WarcStats = null
      val traced = ctx.trace && i % 2 == 0
      ctx.op("pipeline", "runFromWarc", traced) { st = once(crawlDir, out); true }
      if (st != null) {
        kept += st.prep.afterSample.toDouble / st.prep.input
        if (!checkLedger(s"run $i", st)) ctx.failLast()
      }
      if (i >= 1) deleteTree(Paths.get(ctx.root.toString, "runs", i.toString))
      i += 1
    }
    Main.timedDone(ctx)
    // a rerun with the same seed writes byte-identical shards: the
    // first timed run against the last warm-up run
    val a = shardDigest(Paths.get(warmOut))
    val b = shardDigest(Paths.get(ctx.dir("runs/0/out")))
    ctx.check("reruns write byte-identical shards", a == b && a.nonEmpty,
      s"warm-up=${a.values.map(_.size).sum} files run0=${b.values.map(_.size).sum} files")

    val ops = ctx.ops.filter(o => o.kind == "pipeline" && !o.traced)
    ctx.report.e2e("rows_per_s", ops.size * m.records / ops.map(_.seconds).sum, "rows/s")
    ctx.report.e2e("pipeline_p50_s", Stats.median(ops.map(_.seconds)), "s")
    if (ctx.trace) {
      val tr = ctx.ops.filter(o => o.kind == "pipeline" && o.traced)
      ctx.report.per("pipeline.corpusprep.run_s", Stats.median(tr.map(_.seconds)), "s")
      ctx.report.per("pipeline.corpusprep.kept_ratio", Stats.median(kept), "ratio")
    }
  }

  /** Per shard directory, the sorted content digests of its files. */
  def shardDigest(out: Path): Map[String, Seq[String]] =
    Files.list(out).iterator().asScala.filter(p =>
      Files.isDirectory(p) && p.getFileName.toString.startsWith("shard="))
      .map { d =>
        d.getFileName.toString -> Files.list(d).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(f => java.security.MessageDigest.getInstance("MD5")
            .digest(Files.readAllBytes(f)).map(b => f"$b%02x").mkString)
          .toSeq.sorted
      }.toMap

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

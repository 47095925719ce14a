package graft

import graft.pipeline.CorpusPrep
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class CorpusPrepSpec extends SparkSpec {

  private val cfg = CorpusPrep.Config(
    langRates = Map("en" -> 0.25), defaultRate = 0.75, nShards = 8)

  test("plan: dedup keeps the lowest doc_id per text, sampling and sharding are deterministic") {
    val docs = Tables(spark, sf).documents
    val a = CorpusPrep.plan(docs, cfg).collect()
    val b = CorpusPrep.plan(docs, cfg).collect()
    assert(a.map(_.toString).sorted.toSeq == b.map(_.toString).sorted.toSeq,
      "the pipeline must be rerun-identical")
    // no two output rows share a normalized text
    val texts = a.map(_.getAs[String]("text")
      .toLowerCase.trim.replaceAll("\\s+", " "))
    assert(texts.distinct.length == texts.length, "dup text survived dedup")
    // every shard id within range; positions dense per shard
    val byShard = a.groupBy(_.getAs[Long]("shard"))
    assert(byShard.keySet.forall(s => s >= 0 && s < cfg.nShards))
    byShard.foreach { case (s, rows) =>
      val pos = rows.map(_.getAs[Long]("pos")).sorted.toSeq
      assert(pos == (1L to rows.length).toSeq, s"shard $s positions not dense")
    }
  }

  private val pdfText = "a crawled pdf paragraph riding the batch corpus pipeline"
  private val docxText = "a crawled office document riding the batch corpus pipeline"
  private val brText = "a brotli coded page riding the batch corpus pipeline"

  /** A one-file crawl with every face the intake bills: html and wet
    * text, a noindex page, a recoverable and a mojibake PDF, a DOCX, a
    * plain zip, a dying and a healthy brotli response, and a tagged,
    * a clean and a broken JPEG. Returns the crawl directory.
    */
  private def writeCrawl(): String = {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-prep-warc").toString
    def rec(headers: Seq[(String, String)], content: Array[Byte]): Array[Byte] = {
      val sb = new StringBuilder
      sb.append("WARC/1.0\r\n")
      (headers :+ ("Content-Length" -> content.length.toString))
        .foreach { case (k, v) => sb.append(s"$k: $v\r\n") }
      sb.append("\r\n")
      sb.toString.getBytes("ISO-8859-1") ++ content ++
        "\r\n\r\n".getBytes("ISO-8859-1")
    }
    def resp(uri: String, ct: String, body: Array[Byte]) =
      rec(Seq("WARC-Type" -> "response", "WARC-Target-URI" -> uri,
        "Content-Type" -> "application/http; msgtype=response"),
        (s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n\r\n")
          .getBytes("ISO-8859-1") ++ body)
    // media rows for the mediaOut sidecar billing: one payload per
    // scrub outcome (scrubbed / clean / governed-but-broken = fenced)
    val img = graft.multimodal.Netpbm.Image(8, 8, 255,
      Array.fill[Byte](192)(77))
    val jpegTagged = graft.multimodal.Exif.write(
      graft.multimodal.Jpeg.encode(img), 6, Some((37.0, -122.0)),
      Some("cam"), Some("2024:01:01 00:00:00"))
    val cleanJpeg = graft.multimodal.Jpeg.encode(img)
    val brokenJpeg = java.util.Arrays.copyOfRange(jpegTagged, 0, 40)
    Files.write(Paths.get(dir, "crawl.warc"),
      resp("http://x.example/page", "text/html",
        "<html><body>an html page of the crawl corpus</body></html>"
          .getBytes("UTF-8")) ++
        rec(Seq("WARC-Type" -> "conversion",
          "WARC-Target-URI" -> "http://x.example/wet",
          "Content-Type" -> "text/plain"),
          "a wet conversion record of plain text".getBytes("UTF-8")) ++
        resp("http://x.example/doc.pdf", "application/pdf",
          graft.multimodal.PdfText.write(pdfText)) ++
        resp("http://x.example/glyphs.pdf", "application/pdf",
          graft.multimodal.PdfText.writeGlyph(
            "mojibake glyph ids must stay out", withToUnicode = false)) ++
        resp("http://x.example/report.docx",
          "application/vnd.openxmlformats-officedocument" +
            ".wordprocessingml.document",
          graft.multimodal.Docx.write(docxText)) ++
        resp("http://x.example/backup.zip", "application/zip",
          graft.multimodal.Zip.write(Seq(("readme.txt",
            "a plain archive is not a document".getBytes("UTF-8"), true)))) ++
        resp("http://x.example/hidden", "text/html",
          graft.functions.HtmlMeta.write("Hidden Page", "internal",
            "https://x.example/hidden", noindex = true,
            body = "an internal page marked noindex").getBytes("UTF-8")) ++
        // a DYING brotli stream: undecodable — must BILL, not vanish
        rec(Seq("WARC-Type" -> "response",
          "WARC-Target-URI" -> "http://x.example/fast.br",
          "Content-Type" -> "application/http; msgtype=response"),
          ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
            "Content-Encoding: br\r\n\r\n").getBytes("ISO-8859-1") ++
            Array.tabulate[Byte](96)(i =>
              if (i % 9 == 0) 0 else ((i * 13) % 250).toByte)) ++
        // a HEALTHY brotli page (r17): decodes and rides the pipeline
        rec(Seq("WARC-Type" -> "response",
          "WARC-Target-URI" -> "http://x.example/good.br",
          "Content-Type" -> "application/http; msgtype=response"),
          ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
            "Content-Encoding: br\r\n\r\n").getBytes("ISO-8859-1") ++
            graft.multimodal.Brotli.encodeFixed(
              brText.getBytes("UTF-8"), split = false)) ++
        resp("http://x.example/tagged.jpg", "image/jpeg", jpegTagged) ++
        resp("http://x.example/clean.jpg", "image/jpeg", cleanJpeg) ++
        resp("http://x.example/broken.jpg", "image/jpeg", brokenJpeg))
    dir
  }

  test("runFromWarc: crawled HTML + WET + PDF + DOCX text ride one pipeline; per-face billing; mojibake stays out") {
    import java.nio.file.Files
    val dir = writeCrawl()
    val out = Files.createTempDirectory("graft-prep-out").toString + "/corpus"
    val keep = CorpusPrep.Config(langRates = Map.empty, defaultRate = 1.0,
      nShards = 2, stripMarkup = true)
    val stats = CorpusPrep.runFromWarc(spark, dir, out, keep)
    assert(stats.htmlDocs == 4,
      "html responses + wet conversion + the DECODED br page; " +
        "noindex KEPT by default (training corpora may keep the " +
        "text — the drop is a policy)")
    assert(stats.noindexDropped == 0)
    assert(stats.pdfDocs == 1,
      "one recoverable PDF billed; the mojibake one is quarantined upstream")
    assert(stats.officeDocs == 1,
      "the docx billed; the plain archive yields no corpus row")
    assert(stats.prep.input ==
      stats.htmlDocs + stats.pdfDocs + stats.officeDocs,
      "the faces take disjoint record sets")
    assert(stats.codingFenced == 1,
      "the br-coded response must bill as coverage lost, not vanish")
    assert(stats.mediaDocs == 0 && stats.mediaScrubbed == 0 &&
      stats.mediaFenced == 0,
      "mediaOut off -> the media ledger reads zero, like noindex")
    // mediaOut ON (r16 verdict ask): the PII-scrubbed media face
    // writes beside the corpus and the ledger bills all three
    // outcomes, equal to the sidecar's own per-row flags
    val mOut = out + "_mediaside"
    val withMedia = CorpusPrep.runFromWarc(spark, dir, out + "_m", keep,
      mediaOut = Some(mOut))
    val side = spark.read.parquet(mOut)
    assert(withMedia.mediaDocs == side.count() && withMedia.mediaDocs == 7,
      "3 jpegs + 2 pdfs + 2 zips sniff as media")
    assert(withMedia.mediaScrubbed ==
      side.filter(col("scrubbed")).count() && withMedia.mediaScrubbed == 1,
      "exactly the EXIF-tagged jpeg bills as scrubbed")
    assert(withMedia.mediaFenced ==
      side.filter(col("fenced")).count() && withMedia.mediaFenced == 1,
      "exactly the governed-but-broken jpeg bills as fenced")
    assert(side.filter(col("fenced")).filter(col("payload").isNotNull)
      .count() == 0, "fenced rows must store NULL payloads")
    assert(withMedia.prep.input == stats.prep.input,
      "the media sidecar must not perturb the text pipeline")
    val corpus = spark.read.parquet(out)
    assert(corpus.count() == 6)
    assert(corpus.filter(col("text") === brText).count() == 1,
      "the healthy br page must decode and ride the pipeline (r17)")
    assert(corpus.filter(col("text") === pdfText).count() == 1,
      "the PDF's recovered text must ride the same pipeline to the corpus")
    assert(corpus.filter(col("text") === docxText).count() == 1,
      "the DOCX's text must ride the same pipeline to the corpus")
    assert(corpus.filter(col("text").contains("mojibake")).count() == 0)
    // the knobs OFF: PDFs/DOCX stay out, billing says so
    val noPdf = CorpusPrep.runFromWarc(spark, dir, out + "_nopdf", keep,
      includePdfs = false, includeOffice = false)
    assert(noPdf.pdfDocs == 0 && noPdf.officeDocs == 0 &&
      noPdf.prep.input == 4)
    // honorNoindex: the robots-noindex page drops BEFORE the pipeline
    // and the drop is billed
    val noIdx = CorpusPrep.runFromWarc(spark, dir, out + "_noidx", keep,
      honorNoindex = true)
    assert(noIdx.noindexDropped == 1 && noIdx.htmlDocs == 3)
    val idxCorpus = spark.read.parquet(out + "_noidx")
    assert(idxCorpus.filter(col("text").contains("marked noindex"))
      .count() == 0, "a noindex page must not reach the corpus")
  }

  test("qualityWeighted gate: drops exactly the q117-kernel verdicts, flipped once per dedup survivor") {
    import spark.implicits._
    val base = CorpusPrep.Config(langRates = Map.empty, defaultRate = 1.0,
      nShards = 2)
    val qw = graft.operators.QualityWeight
    // a quality spread: long stopword-rich docs (quality9 near 1e9,
    // near-certain keeps) and one-word no-stopword docs (quality9 =
    // 5e6, near-certain drops); ids 1/2 are EXACT dups — the stage
    // order pin: dedup first, so the quality coin flips once, for the
    // surviving id only
    val rich = "the quick brown fox of the hills and a dog in the barn " +
      "is to be seen in the morning and the evening of a long day " * 3
    val docs = ((1L to 2L).map(id => (id, rich, "en", "a", 1L)) ++
      (10L to 29L).map(id => (id, s"wordy$id", "en", "a", 1L)) ++
      (30L to 49L).map(id => (id, s"$rich tail$id", "en", "a", 1L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val offIds = CorpusPrep.plan(docs, base).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val onIds = CorpusPrep.plan(docs, base.copy(qualityWeighted = true))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // the gate composes: on = off filtered by the ONE kernel
    val wantIds = qw.gate(docs.filter(col("doc_id").isin(offIds.toSeq: _*)))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(onIds == wantIds,
      s"gate-only: ${onIds -- wantIds}; kernel-only: ${wantIds -- onIds}")
    assert(onIds.subsetOf(offIds) && onIds != offIds,
      s"gate must drop some docs: on=$onIds off=$offIds")
    // both verdict classes occur (the fixture exercises the gate, not
    // a vacuous all-keep/all-drop)
    assert(onIds.exists(_ >= 30L) && (10L to 29L).exists(!onIds.contains(_)))
    // schema unchanged by the gate (no quality column leaks out)
    assert(CorpusPrep.plan(docs, base.copy(qualityWeighted = true)).columns
      .sameElements(CorpusPrep.plan(docs, base).columns))
  }

  test("markup stage: tag-only variants collapse in dedup, output text is rendered, benchmark side gets the same chain") {
    import spark.implicits._
    val keepAll = CorpusPrep.Config(
      langRates = Map.empty, defaultRate = 1.0, nShards = 2,
      stripMarkup = true)
    val body = "the quick brown fox jumps over the lazy dog again and again ok"
    val docs = Seq(
      (1L, s"<p>$body</p>", "en", "a", 10L),
      // same rendered text, different markup — must dedup to doc 1
      (2L, s"<div class=x>$body</div><script>track()</script>", "en", "a", 10L),
      (3L, "plain text with &amp; entity and no tags at all", "en", "a", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusPrep.plan(docs, keepAll).collect()
    assert(out.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 3L),
      s"markup variants did not collapse: ${out.toSeq}")
    val texts = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(texts(1L) == body, s"doc 1 not rendered: ${texts(1L)}")
    assert(texts(3L) == "plain text with & entity and no tags at all")
    // decontamination matches across markup: a benchmark doc wrapped in
    // DIFFERENT tags still knocks out the corpus doc sharing its 8-gram
    val bench = Seq(Tuple1(s"<b>$body</b>")).toDF("text")
    val out2 = CorpusPrep.plan(docs, keepAll, benchmark = Some(bench)).collect()
    assert(out2.map(_.getAs[Long]("doc_id")).toSeq == Seq(3L),
      s"markup-wrapped benchmark failed to decontaminate: ${out2.toSeq}")
    // run()'s stats pass must replay the SAME demark+scrub chain as the
    // pipeline: the two tag-only variants are ONE doc post-dedup
    val dir = java.nio.file.Files.createTempDirectory("graft-markup").toString
    val stats = CorpusPrep.run(docs, dir, keepAll)
    assert(stats.input == 3L && stats.afterDedup == 2L && stats.afterSample == 2L,
      s"stats pass diverged from the demarked pipeline: $stats")
  }

  test("near-dup stage: LSH near-dups collapse to the lowest id, stats count the drops") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep green forest tonight"
    val docs = Seq(
      (10L, base, "en", "a", 1L),
      // near-dup of 10: one word changed → high estimated Jaccard
      (11L, base.replace("lazy", "sleepy"), "en", "a", 1L),
      // another near-dup of 10
      (12L, base.replace("tonight", "today"), "en", "a", 1L),
      // unrelated doc — must survive
      (20L, "completely different content about spark catalyst plans " +
        "optimizing large distributed analytical queries every day", "en", "a", 1L),
      // exact dup of 20 — dropped by the EXACT stage, not the near stage
      (21L, "completely different content about spark catalyst plans " +
        "optimizing large distributed analytical queries every day", "en", "a", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    val ndCfg = CorpusPrep.Config(langRates = Map.empty, defaultRate = 1.0,
      nShards = 2, nearDupMinEst = Some(0.5))
    val stats = CorpusPrep.run(docs, out, ndCfg)
    val kept = spark.read.parquet(out)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(kept == Seq(10L, 20L), s"kept: $kept")
    assert(stats.input == 5 && stats.afterDedup == 4, s"stats: $stats")
    assert(stats.nearDupDropped == 2, s"stats: $stats")
    assert(stats.afterSample == 2, s"stats: $stats")

    // stage off: near-dups survive, exact dup still collapses
    val out2 = java.nio.file.Files.createTempDirectory("graft-neardup2").toString
    val stats2 = CorpusPrep.run(docs, out2,
      ndCfg.copy(nearDupMinEst = None))
    assert(stats2.nearDupDropped == 0 && stats2.afterSample == 4,
      s"stats: $stats2")
  }

  test("substring stage: shared verbatim runs strip from non-keepers in place, keepers and clean docs untouched") {
    import spark.implicits._
    val run = "r1 r2 r3 r4 r5 r6"
    val docs = Seq(
      // keeper of the run (lowest id): text must pass byte-for-byte
      (1L, s"U1 u2 u3 u4 u5 $run u6 u7 u8", "en", "a", 1L),
      // non-keeper: the run's tokens drop, ORIGINAL case kept elsewhere
      (2L, s"V1 v2 $run v3 v4 V5 v6", "en", "a", 1L),
      // clean doc: untouched
      (3L, "w1 w2 w3 w4 w5", "en", "a", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = java.nio.file.Files.createTempDirectory("graft-substr").toString
    val ssCfg = CorpusPrep.Config(langRates = Map.empty, defaultRate = 1.0,
      nShards = 2, substrWindow = Some(4))
    val stats = CorpusPrep.run(docs, out, ssCfg)
    val kept = spark.read.parquet(out)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().toMap
    assert(kept(1L) == s"U1 u2 u3 u4 u5 $run u6 u7 u8", s"keeper rewritten: ${kept(1L)}")
    assert(kept(2L) == "V1 v2 v3 v4 V5 v6", s"non-keeper: ${kept(2L)}")
    assert(kept(3L) == "w1 w2 w3 w4 w5", s"clean doc rewritten: ${kept(3L)}")
    assert(stats.substrStripped == 1, s"stats: $stats")
    // stage off: nothing strips, stat is zero
    val out2 = java.nio.file.Files.createTempDirectory("graft-substr2").toString
    val stats2 = CorpusPrep.run(docs, out2, ssCfg.copy(substrWindow = None))
    assert(stats2.substrStripped == 0)
    assert(spark.read.parquet(out2).filter(col("doc_id") === 2L)
      .select(col("text")).as[String].head() == s"V1 v2 $run v3 v4 V5 v6")
  }

  test("scrub + decontamination stages: PII-only variants collapse, benchmark-overlapping docs drop") {
    import spark.implicits._
    val story = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep green forest tonight again"
    val leak = "we hold these truths to be self evident that all models " +
      "are created equal and endowed with certain unalienable benchmarks"
    val docs = Seq(
      // identical up to the contact string → scrub makes them EXACT dups
      (1L, s"$story contact a@x.com", "en", "a", 1L),
      (2L, s"$story contact b@y.org", "en", "a", 1L),
      // contains the benchmark text verbatim → contaminated
      (3L, s"prefix words $leak suffix words", "en", "a", 1L),
      // clean, unrelated
      (4L, "completely different content about spark catalyst plans " +
        "optimizing large distributed analytical queries every day",
        "en", "a", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val bench = Seq((100L, leak)).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft-scrubdecon").toString
    val cfg = CorpusPrep.Config(langRates = Map.empty, defaultRate = 1.0,
      nShards = 2, scrubPii = true)
    val stats = CorpusPrep.run(docs, out, cfg, benchmark = Some(bench))
    val kept = spark.read.parquet(out)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept.keySet == Set(1L, 4L), s"kept: ${kept.keySet}")
    // the published text is the scrubbed form
    assert(kept(1L).endsWith("contact [EMAIL]"), kept(1L))
    assert(stats.input == 4 && stats.afterDedup == 3, s"stats: $stats")
    assert(stats.contaminatedDropped == 1, s"stats: $stats")
    assert(stats.afterSample == 2, s"stats: $stats")

    // without the stages: all four docs survive
    val out2 = java.nio.file.Files.createTempDirectory("graft-scrubdecon2").toString
    val stats2 = CorpusPrep.run(docs, out2,
      cfg.copy(scrubPii = false))
    assert(stats2.afterSample == 4 && stats2.contaminatedDropped == 0,
      s"stats: $stats2")
  }

  test("materialize: every consumer of the base lineage reads the cache, not a recompute") {
    import spark.implicits._
    val story = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep green forest tonight again"
    // the source text passes a NON-deterministic identity udf that
    // counts its evaluations: Catalyst cannot inline it twice, and a
    // source scan is billed however its plan is spelled. An RDD-backed
    // frame, so no optimizer rule folds the udf on the driver
    val evals = spark.sparkContext.longAccumulator("base-source-evals")
    val tick = udf((t: String) => { evals.add(1L); t }).asNondeterministic()
    val docs = spark.sparkContext.parallelize(Seq(
      (1L, s"$story one", "en", "a", 1L),
      (2L, s"$story two", "en", "a", 1L),
      (3L, "completely different content about spark catalyst plans " +
        "optimizing large distributed analytical queries every day",
        "en", "a", 1L)), 2).toDF("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("text", tick(col("text")))
    val bench = Seq((100L, "held out benchmark words that no doc shares"))
      .toDF("doc_id", "text")
    val cfg2 = CorpusPrep.Config(langRates = Map.empty, defaultRate = 1.0,
      nShards = 2, nearDupMinEst = Some(0.5), scrubPii = true,
      substrWindow = Some(4))
    val m = CorpusPrep.materialize(docs, cfg2, Some(bench))
    try {
      assert(m.baseCached, "base must be cached when both stages are on")
      // execute every consumer, then assert each read the cached base:
      // with the cache, the scrub+dedup window runs ONCE (filling the
      // cache) instead of once per consuming action
      Seq(m.drops.get, m.contaminated.get, m.substrSpans.get, m.out).foreach { df =>
        df.collect()
        val plan = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan.toString
          case p => p.toString
        }
        assert(plan.contains("InMemoryTableScan"),
          s"consumer recomputed the base lineage:\n$plan")
      }
      // the plan string cannot tell a cache read from a recompute when
      // the consumer is itself cached: the source evaluation count can
      assert(evals.value == 3L,
        s"the base lineage must run once per input row: ${evals.value}")
    } finally m.release()
    // run(): the same once, plus its documented extra source pass (the
    // exact stats pass)
    evals.reset()
    val out = java.nio.file.Files.createTempDirectory("graft-matonce").toString
    val stats = CorpusPrep.run(docs, out, cfg2, Some(bench))
    assert(stats.input == 3L)
    assert(evals.value == 6L,
      s"run() evaluates each source row twice, no more: ${evals.value}")
  }

  test("packing stage: q58 layout over the shard window, no extra exchange") {
    import graft.functions.TextOps
    val docs = Tables(spark, sf).documents
    val budget = 64
    val cfgP = cfg.copy(packBudget = Some(budget))
    val rows = CorpusPrep.plan(docs, cfgP)
      .select(col("doc_id"), col("shard"), col("pos"),
        col("pack_id"), col("pack_offset"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .collect()
    assert(rows.nonEmpty)
    // the layout is exactly concat-and-chunk: within each shard in pos
    // order, each doc starts at the running token total, cut every
    // `budget` tokens
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (s, rs) =>
      var cum = 0L
      rs.sortBy(_.getAs[Long]("pos")).foreach { r =>
        assert(r.getAs[Long]("pack_id") == cum / budget,
          s"shard $s doc ${r.getAs[Long]("doc_id")}: bad pack_id")
        assert(r.getAs[Long]("pack_offset") == cum % budget,
          s"shard $s doc ${r.getAs[Long]("doc_id")}: bad pack_offset")
        cum += r.getAs[Long]("n_tok")
      }
    }
    // rerun-identical (deterministic epochs)
    val again = CorpusPrep.plan(docs, cfgP)
      .select(col("doc_id"), col("pack_id"), col("pack_offset")).collect()
      .map(_.toString).sorted.toSeq
    val first = rows.map(r => org.apache.spark.sql.Row(
      r.getAs[Long]("doc_id"), r.getAs[Long]("pack_id"),
      r.getAs[Long]("pack_offset")).toString).sorted.toSeq
    assert(again == first, "pack layout must be rerun-identical")
    // the running sum rides the SAME (partition, order) window spec as
    // pos: packing must add no exchange and no second Window node
    def nodes(df: org.apache.spark.sql.DataFrame, name: String): Int =
      df.queryExecution.executedPlan.toString.linesIterator
        .count(_.matches(s".*(^|\\s|\\+- |:- )$name\\s.*"))
    val packedPlan = CorpusPrep.plan(docs, cfgP)
    val plainPlan = CorpusPrep.plan(docs, cfg)
    assert(nodes(packedPlan, "Exchange") == nodes(plainPlan, "Exchange"),
      "packing added an exchange")
    assert(nodes(packedPlan, "Window") == nodes(plainPlan, "Window"),
      "packing added a Window node (window spec not shared)")
  }

  test("source-mix gate: absent sources drop, listed rates apply, decisions deterministic") {
    import spark.implicits._
    val docs = (1L to 40L).map { i =>
      val src = if (i <= 20) "a" else "b"
      (i, s"unique document number $i with its own distinct words here", "en", src, 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = CorpusPrep.Config(langRates = Map.empty, defaultRate = 1.0,
      nShards = 2)
    // only source a listed -> every b doc dropped, every a doc kept
    val keptA = CorpusPrep.plan(docs, base.copy(sourceRates = Some(Map("a" -> 1.0))))
      .select(col("doc_id"), col("source")).collect()
    assert(keptA.nonEmpty && keptA.forall(_.getString(1) == "a"),
      "absent source must drop entirely")
    assert(keptA.length == 20, "rate-1.0 source must keep every doc")
    // fractional rate: deterministic proper subset
    val half1 = CorpusPrep.plan(docs,
      base.copy(sourceRates = Some(Map("a" -> 1.0, "b" -> 0.5))))
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    val half2 = CorpusPrep.plan(docs,
      base.copy(sourceRates = Some(Map("a" -> 1.0, "b" -> 0.5))))
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(half1 == half2, "mix gate must be deterministic")
    assert(half1.count(_ <= 20) == 20 && half1.count(_ > 20) < 20,
      s"b must be downsampled, a untouched: $half1")
  }

  test("sourceWeights two-pass mix: realized token shares hit the target even when dedup guts one source") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum, size, split, trim}
    // source a: 200 unique 10-token docs. source b: 250 docs but only
    // 50 DISTINCT texts (each repeated 5x) -> exact dedup keeps 50.
    // Raw supply looks like a=2000 / b=2500 tokens; prepared supply is
    // a=2000 / b=500 — any rate computed on the raw corpus is blind to
    // the 4/5 of b that dedup removes.
    def words(tag: String, i: Long) =
      (1 to 10).map(k => s"w$tag${i}x$k").mkString(" ")
    val docs = ((1L to 200L).map(i => (i, words("a", i), "a")) ++
      (201L to 450L).map(i => (i, words("b", (i - 201) % 50), "b")))
      .toDF("doc_id", "text", "source")
    val target = Map("a" -> 0.5, "b" -> 0.5)
    def shares(out: org.apache.spark.sql.DataFrame): Map[String, Double] = {
      val t = out
        .select(col("source"), size(split(trim(col("text")), "\\s+"))
          .cast("long").as("n"))
        .groupBy("source").agg(sum("n").as("tok"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = t.values.sum.toDouble
      t.map { case (s, n) => s -> n / total }
    }
    val base = CorpusPrep.Config(langRates = Map.empty, defaultRate = 1.0,
      nShards = 2)
    // ONE-PASS (rates from the RAW corpus): b's realized share
    // collapses — the approximation the caveat documents
    val rawRates = graft.operators.Mixer
      .targetRates(docs, graft.operators.Mixer.whitespaceTokens, target)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("rate")).toMap
    val onePass = shares(CorpusPrep.plan(docs,
      base.copy(sourceRates = Some(rawRates))))
    // TWO-PASS (rates measured in-plan on the prepared frame)
    val twoPass = shares(CorpusPrep.plan(docs,
      base.copy(sourceWeights = Some(target))))
    val onePassErr = (onePass("b") - 0.5).abs
    val twoPassErr = (twoPass("b") - 0.5).abs
    assert(onePassErr > 0.25,
      s"fixture must make the one-pass approximation visibly wrong: $onePass")
    assert(twoPassErr < 0.1,
      s"two-pass shares off target beyond sampling tolerance: $twoPass")
    assert(twoPassErr < onePassErr)
    // determinism: replanning realizes the identical subset
    val ids1 = CorpusPrep.plan(docs, base.copy(sourceWeights = Some(target)))
      .select("doc_id").as[Long].collect().sorted.toSeq
    val ids2 = CorpusPrep.plan(docs, base.copy(sourceWeights = Some(target)))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids1 == ids2)
    // mutual exclusion is loud
    intercept[IllegalArgumentException] {
      CorpusPrep.plan(docs, base.copy(sourceRates = Some(rawRates),
        sourceWeights = Some(target))).count()
    }
  }

  test("run: writes shard-partitioned parquet and reports consistent stage counts") {
    val docs = Tables(spark, sf).documents
    val out = java.nio.file.Files.createTempDirectory("graft-corpus").toString
    val stats = CorpusPrep.run(docs, out, cfg)
    assert(stats.input >= stats.afterDedup)
    assert(stats.afterDedup >= stats.afterSample)
    assert(stats.afterSample > 0)
    val written = spark.read.parquet(out)
    assert(written.count() == stats.afterSample)
    // partition discovery sees shard as a partition column
    assert(written.columns.contains("shard"))
    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("shard="))
    assert(dirs.nonEmpty && dirs.length <= cfg.nShards)
    // the sample respects the per-language mixing rates (loose check:
    // en is downsampled harder than the rest)
    val langs = written.groupBy(col("lang_detected")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = graft.pipeline.CorpusPrep
      .plan(docs, cfg.copy(langRates = Map.empty, defaultRate = 1.0))
      .groupBy(col("lang_detected")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    langs.get("en").zip(full.get("en")).foreach { case (kept, total) =>
      assert(kept < total, "en must be downsampled")
    }
  }

  test("forget: victims vanish, only their shards rewrite, manifest refreshes") {
    val docs = Tables(spark, sf).documents
    val out = java.nio.file.Files.createTempDirectory("graft-forget").toString + "/corpus"
    val c = cfg.copy(packBudget = Some(64))
    CorpusPrep.run(docs, out, c)
    val before = spark.read.parquet(out)
    // partition discovery infers shard= dirs as int32, not long
    val all = before.select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("shard").longValue).toMap
    // count BEFORE the delete: `before`'s file index is pinned at
    // creation, so evaluating it after the swap would hit retired files
    val beforeCount = before.count()
    // forget three present docs + one absent id (no-op for it)
    val present = all.keys.toSeq.sorted.take(3)
    val victims = present :+ 999999L
    val victimShards = present.map(all).toSet

    // fingerprint every shard file before the delete
    def fileBytes(): Map[String, Long] =
      new java.io.File(out).listFiles().filter(_.getName.startsWith("shard="))
        .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> f.lastModified()))
        .toMap
    val beforeFiles = fileBytes()

    val s = CorpusPrep.forget(spark, out, victims)
    assert(s.docsDropped == 3L, s"$s")
    assert(s.shardsTouched >= victimShards.size, s"$s")

    val after = spark.read.parquet(out)
    val ids = after.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(present.forall(id => !ids.contains(id)), "victim survived")
    assert(after.count() == beforeCount - 3)

    // untouched shards keep their files untouched (same path + mtime)
    val afterFiles = fileBytes()
    beforeFiles.foreach { case (path, mtime) =>
      val shard = path.split("shard=")(1).split("/")(0).toLong
      if (!victimShards.contains(shard))
        assert(afterFiles.get(path).contains(mtime),
          s"untouched shard file rewritten: $path")
    }
    // an empty victim list is a free no-op
    assert(CorpusPrep.forget(spark, out, Nil).docsDropped == 0L)
    // a directory without the writer's metadata refuses loudly — a
    // guessed shard count routing victims nowhere is the one failure
    // mode a deletion op must not have
    intercept[IllegalArgumentException] {
      CorpusPrep.forget(spark,
        java.nio.file.Files.createTempDirectory("not-a-corpus").toString,
        Seq(1L))
    }

    // the manifest agrees with the surviving rows
    def mkey(r: org.apache.spark.sql.Row) =
      (r.getAs[Number]("shard").longValue, r.getAs[Number]("pack_id").longValue)
    val manifest = spark.read.parquet(CorpusPrep.manifestPath(out))
      .collect().map(r => mkey(r) -> r.getAs[Long]("n_docs")).toMap
    val derived = CorpusPrep.manifestOf(after)
      .collect().map(r => mkey(r) -> r.getAs[Long]("n_docs")).toMap
    assert(manifest == derived, s"manifest stale: $manifest vs $derived")
  }

  test("forget composes with a standing NearDupIndex: one call forgets corpus AND index") {
    val docs = Tables(spark, sf).documents
    val tmp = java.nio.file.Files.createTempDirectory("graft-forget-ndi")
    val out = s"$tmp/corpus"
    CorpusPrep.run(docs, out, cfg.copy(packBudget = Some(64)))
    val idx = s"$tmp/ndidx"
    graft.operators.NearDupIndex.build(spark, idx,
      docs.select("doc_id", "text"), 0.5, nShards = 4, storeParts = 4)
    val labeled = graft.operators.NearDupIndex.labels(spark, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(labeled.nonEmpty,
      "documents fixture must yield near-dup components (q31 contract)")
    // a victim that IS in a component and survived the corpus prep
    val corpusIds = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val victim = (labeled intersect corpusIds).min
    CorpusPrep.forget(spark, out, Seq(victim),
      nearDupIndexPath = Some(idx))
    assert(!spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).contains(victim), "corpus row survived")
    assert(!graft.operators.NearDupIndex.labels(spark, idx)
      .select("doc_id").collect().map(_.getLong(0)).contains(victim),
      "index label survived")
    assert(graft.operators.NearDupIndex.deletedIds(spark, idx)
      .exists(_.filter(col("doc_id") === victim).count() == 1L),
      "victim must be in the index tombstone log")
  }

  test("statsPath: two runs fold into the per-(source,lang) snapshot exactly") {
    import graft.pipeline.StatsMaintain
    val docs = Tables(spark, sf).documents
    val base = java.nio.file.Files.createTempDirectory("graft-cstats").toString
    val statsPath = s"$base/stats"
    // two disjoint halves of the corpus as two refresh runs
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val c = cfg.copy(statsPath = Some(statsPath))
    CorpusPrep.run(half1, s"$base/run1", c)
    CorpusPrep.run(half2, s"$base/run2", c)

    // the maintained snapshot must equal one-shot partials over the
    // union of BOTH runs' written outputs (same token column)
    val kept = spark.read.parquet(s"$base/run1")
      .unionByName(spark.read.parquet(s"$base/run2"), allowMissingColumns = true)
      .select(col("source"), col("lang_detected").as("lang"),
        size(graft.functions.TextOps.tokens(col("text"))).cast("bigint")
          .as("n_tokens"))
    val oneShot = StatsMaintain.partials(kept, CorpusPrep.corpusStatsSpec)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("source"), col("lang"), col("n"), col("sum_n_tokens"),
        col("min_n_tokens"), col("max_n_tokens"),
        concat_ws(",", col("hist_n_tokens")).as("h"))
      .collect().map(_.toSeq).toSet
    val snap = spark.read.parquet(statsPath)
    assert(canon(snap) == canon(oneShot),
      s"maintained ${canon(snap)} != one-shot ${canon(oneShot)}")
    // and the report view reads sane quantile bounds off it
    val rep = StatsMaintain.report(snap, CorpusPrep.corpusStatsSpec)
    rep.collect().foreach { r =>
      val (p50, p99) = (r.getAs[Long]("p50_n_tokens"), r.getAs[Long]("p99_n_tokens"))
      assert(p50 > 0 && p50 <= p99, s"bad quantile bounds: $r")
    }
  }

  test("statsPath: a pre-upgrade LEGACY ledger id still marks its outPath as applied (no double count)") {
    import graft.pipeline.StatsMaintain
    val docs = Tables(spark, sf).documents.filter(col("doc_id") < 100)
    val base = java.nio.file.Files.createTempDirectory("graft-cstats-legacy").toString
    val statsPath = s"$base/stats"
    val outPath = s"$base/run1"
    val c = cfg.copy(statsPath = Some(statsPath))
    val s1 = CorpusPrep.run(docs, outPath, c)
    assert(!s1.statsFoldSkipped, "first fold must apply")
    // simulate a ledger written by the pre-widening scheme: replace
    // the recorded 64-bit id with Arrays.hashCode(md5(outPath))
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(outPath.getBytes("UTF-8"))
    val legacyId = java.util.Arrays.hashCode(md5).toLong
    val fs = new org.apache.hadoop.fs.Path(statsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledger = new org.apache.hadoop.fs.Path(statsPath, "_applied")
    val o = fs.create(ledger, true)
    try o.write(s"$legacyId".getBytes("UTF-8")) finally o.close()
    val before = spark.read.parquet(statsPath)
      .agg(sum(col("n"))).head.getLong(0)
    // replay the same run: the legacy id must be honored -> skip
    val s2 = CorpusPrep.run(docs, outPath, c)
    assert(s2.statsFoldSkipped,
      "replay over a legacy ledger must skip the fold, not double-count")
    spark.catalog.refreshByPath(statsPath)
    val after = spark.read.parquet(statsPath)
      .agg(sum(col("n"))).head.getLong(0)
    assert(after == before, s"stats double-counted: $before -> $after")
  }

  test("wordlist gate: listed words drop docs whole, stats count them, dedup sees only survivors") {
    import spark.implicits._
    val keepAll = CorpusPrep.Config(
      langRates = Map.empty, defaultRate = 1.0, nShards = 2,
      badWords = Some(Seq("banned", "verboten")))
    val docs = Seq(
      (1L, "a perfectly clean document of reasonable length", "en", "a", 10L),
      (2L, "this one contains a banned word in the middle", "en", "a", 10L),
      // duplicate of doc 1 — must still collapse AFTER the gate
      (3L, "a perfectly clean document of reasonable length", "en", "a", 10L),
      // the gate tokenizes NORMALIZED text: case/whitespace variants hit
      (4L, "shouting   VERBOTEN   loudly", "en", "a", 10L),
      // substring hits must NOT fire — 'banned' inside another word
      (5L, "unbannedish words are fine", "en", "a", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusPrep.plan(docs, keepAll).collect()
    assert(out.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 5L),
      s"wordlist gate wrong: ${out.toSeq}")
    val dir = java.nio.file.Files.createTempDirectory("graft-badwords").toString
    val stats = CorpusPrep.run(docs, dir, keepAll)
    assert(stats.badwordsDropped == 2L, stats.toString)
    assert(stats.input == 5L && stats.afterDedup == 2L, stats.toString)
    // gate off: badwordsDropped stays 0 and everyone (deduped) survives
    val statsOff = CorpusPrep.run(docs,
      java.nio.file.Files.createTempDirectory("graft-badwords-off").toString,
      keepAll.copy(badWords = None))
    assert(statsOff.badwordsDropped == 0L && statsOff.afterDedup == 4L,
      statsOff.toString)
  }

  test("dedupByUrl stage: utm/www/port variants collapse to the lowest id BEFORE text dedup; billing; garbage URLs stay singletons; no url column fails loudly") {
    import spark.implicits._
    val keepAll = CorpusPrep.Config(
      langRates = Map.empty, defaultRate = 1.0, nShards = 2,
      dedupByUrl = true)
    val docs = Seq(
      // three fetches of ONE canonical page — distinct texts, so the
      // TEXT dedup alone would keep all three; the url stage must
      // collapse them to doc 1 before any text stage runs
      (1L, "first fetch of the page", "https://site.example/p?a=1"),
      (2L, "second fetch slightly edited",
        "https://WWW.site.example:443/p?utm_src=x&a=1"),
      (3L, "third fetch edited again",
        "https://site.example/p?a=1&utm_c=y"),
      // a different real param is a DIFFERENT page
      (4L, "a genuinely different page", "https://site.example/p?a=2"),
      // unparseable URLs: each its own group — they must NOT collapse
      (5L, "doc with a garbage url", "not a url"),
      (6L, "another doc with a garbage url", "also not a url"),
      // same text as doc 4 under a different url: url stage keeps
      // both, the TEXT dedup then collapses to the lower id
      (7L, "a genuinely different page", "https://other.example/q"))
      .map { case (id, t, u) => (id, t, u, "en", "a") }
      .toDF("doc_id", "text", "url", "lang", "source")
    val out = CorpusPrep.plan(docs, keepAll).collect()
    assert(out.map(_.getAs[Long]("doc_id")).sorted.toSeq ==
      Seq(1L, 4L, 5L, 6L), s"got ${out.toSeq}")
    val dir = java.nio.file.Files.createTempDirectory("graft-urldedup").toString
    val stats = CorpusPrep.run(docs, dir, keepAll)
    assert(stats.urlDupDropped == 2L, stats.toString)
    assert(stats.input == 7L && stats.afterDedup == 4L, stats.toString)
    // knob off: nothing billed, text dedup alone decides
    val statsOff = CorpusPrep.run(docs,
      java.nio.file.Files.createTempDirectory("graft-urldedup-off").toString,
      keepAll.copy(dedupByUrl = false))
    assert(statsOff.urlDupDropped == 0L && statsOff.afterDedup == 6L,
      statsOff.toString)
    // no url column + knob on = loud failure, never a silent skip
    val noUrl = docs.drop("url")
    assertThrows[IllegalArgumentException] {
      CorpusPrep.plan(noUrl, keepAll).collect()
    }
  }

  test("all stages at once: scrub + snapshot gate + dedup + near-dup + decontaminate + substring strip + weights + BPE packing compose in one run") {
    import spark.implicits._
    val CorpusPrepSpec.AllStages(docs, cfgAll, bench) =
      CorpusPrepSpec.allStages(spark, sf)
    val weights = cfgAll.sourceWeights.get
    val out = java.nio.file.Files.createTempDirectory("graft-all").toString
    val stats = CorpusPrep.run(docs, out, cfgAll, benchmark = Some(bench))
    // stage accounting is coherent
    assert(stats.input > 0 && stats.afterDedup <= stats.input)
    assert(stats.afterSample <= stats.afterDedup)
    assert(stats.snapshotDropped > 0, s"gate never bit: $stats")
    // every artifact of the run exists and reads back
    val written = spark.read.parquet(out)
    assert(written.count() == stats.afterSample)
    assert(written.columns.toSet.intersect(
      Set("pack_id", "pack_offset", "n_tokens")).size == 3)
    assert(new java.io.File(CorpusPrep.manifestPath(out)).exists())
    assert(new java.io.File(CorpusPrep.membershipPath(out)).exists())
    // kept sources are exactly the weighted ones
    val keptSources = written.select(col("source")).distinct()
      .as[String].collect().toSet
    assert(keptSources.subsetOf(weights.keySet), s"kept: $keptSources")
    // rerun determinism: byte-identical doc sets on a fresh run
    val out2 = java.nio.file.Files.createTempDirectory("graft-all2").toString
    CorpusPrep.run(docs, out2, cfgAll, benchmark = Some(bench))
    val ids1 = written.select(col("doc_id")).as[Long].collect().sorted.toSeq
    val ids2 = spark.read.parquet(out2)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(ids1 == ids2, "rerun must be identical")
  }

  test("cross-snapshot refresh: run 1 publishes the membership sidecar, run 2 drops exactly the re-seen docs without a join") {
    import spark.implicits._
    def doc(id: Long, t: String) = (id, t, "en", "a", t.length.toLong)
    val keepAll = CorpusPrep.Config(langRates = Map.empty, defaultRate = 1.0,
      nShards = 2, publishSnapshot = Some(100L))
    val run1Docs = Seq(
      doc(1L, "alpha beta gamma delta epsilon zeta"),
      doc(2L, "one two three four five six seven"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out1 = java.nio.file.Files.createTempDirectory("graft-snap1").toString
    CorpusPrep.run(run1Docs, out1, keepAll)
    val sidecar = CorpusPrep.membershipPath(out1)
    assert(new java.io.File(sidecar).exists, "sidecar not published")

    // next month's batch: one doc re-seen verbatim, one a whitespace
    // variant (same canonical digest), one genuinely new
    val run2Docs = Seq(
      doc(10L, "alpha beta gamma delta epsilon zeta"),
      doc(11L, "  one  two three four five six seven "),
      doc(12L, "fresh new unseen content entirely here"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cfg2 = CorpusPrep.Config(langRates = Map.empty, defaultRate = 1.0,
      nShards = 2, priorSnapshot = Some(sidecar))
    // the gate is a FILTER: no join against anything in the plan
    // beyond what the pipeline itself needs (this keep-all config
    // plans zero joins at all)
    val plan = CorpusPrep.plan(run2Docs, cfg2).queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"),
      s"membership gate must not join:\n$plan")
    val out2 = java.nio.file.Files.createTempDirectory("graft-snap2").toString
    val stats2 = CorpusPrep.run(run2Docs, out2, cfg2)
    val kept = spark.read.parquet(out2)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(kept == Seq(12L), s"kept: $kept")
    assert(stats2.snapshotDropped == 2L, s"stats: $stats2")
    // afterDedup counts digests among docs the GATE keeps: 3 in,
    // 2 gated out, 1 distinct survivor — not 3
    assert(stats2.afterDedup == 1L, s"stats: $stats2")
  }

  test("publishSnapshot with substrWindow hashes the PRE-strip text: a re-crawled stripped page still gates out") {
    import spark.implicits._
    def doc(id: Long, t: String) = (id, t, "en", "a", t.length.toLong)
    val run = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12 q13 q14 q15 q16"
    val page = s"intro words here $run closing words"
    val run1Docs = Seq(
      doc(1L, s"other doc holding $run and more own content"),
      doc(2L, page)) // non-keeper: run stripped from ITS output text
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cfg1 = CorpusPrep.Config(langRates = Map.empty, defaultRate = 1.0,
      nShards = 2, substrWindow = Some(16), publishSnapshot = Some(100L))
    val out1 = java.nio.file.Files.createTempDirectory("graft-sp1").toString
    val stats1 = CorpusPrep.run(run1Docs, out1, cfg1)
    assert(stats1.substrStripped == 1L, s"stats: $stats1")
    // doc 2's written text lost the run — so a sidecar built from the
    // OUTPUT would not recognize the original page
    val written2 = spark.read.parquet(out1)
      .filter(col("doc_id") === 2L).select(col("text")).as[String].head()
    assert(!written2.contains("q1 q2"), s"run not stripped: $written2")
    // the re-crawled identical page must still be dropped next month
    val run2Docs = Seq(doc(10L, page), doc(11L, "fresh unseen content"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cfg2 = CorpusPrep.Config(langRates = Map.empty, defaultRate = 1.0,
      nShards = 2, priorSnapshot = Some(CorpusPrep.membershipPath(out1)))
    val out2 = java.nio.file.Files.createTempDirectory("graft-sp2").toString
    val stats2 = CorpusPrep.run(run2Docs, out2, cfg2)
    val kept = spark.read.parquet(out2)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(kept == Seq(11L), s"re-crawled stripped page leaked: $kept")
    assert(stats2.snapshotDropped == 1L, s"stats: $stats2")
  }

  test("pack manifest: totals equal the written rows' pack layout; shards readable despite it") {
    val docs = Tables(spark, sf).documents
    val out = java.nio.file.Files.createTempDirectory("graft-corpus-m").toString
    val budget = 256
    val cfgP = CorpusPrep.Config(langRates = Map.empty, defaultRate = 1.0,
      nShards = 4, packBudget = Some(budget))
    val stats = CorpusPrep.run(docs, out, cfgP)
    // the underscore dir must be invisible to the shard reader
    val written = spark.read.parquet(out)
    assert(written.count() == stats.afterSample)
    assert(new java.io.File(CorpusPrep.manifestPath(out)).exists())
    val manifest = spark.read.parquet(CorpusPrep.manifestPath(out))
      .collect().map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pack_id")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("pos_first"),
          r.getAs[Long]("pos_last"), r.getAs[Long]("tokens"))).toMap
    // recompute the layout from the written rows themselves
    val rows = written.select(col("shard").cast("long"), col("pack_id"),
      col("pos"), col("n_tokens")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = rows.groupBy(t => (t._1, t._2)).map { case (k, ts) =>
      k -> (ts.length.toLong, ts.map(_._3).min, ts.map(_._3).max,
        ts.map(_._4).sum)
    }
    assert(manifest == expected,
      s"manifest disagrees with written layout:\n$manifest\nvs\n$expected")
    // every written doc is covered exactly once and token totals add up
    assert(manifest.values.map(_._1).sum == stats.afterSample)
    assert(manifest.values.map(_._4).sum == rows.map(_._4).sum)
    // row ranges within a shard are contiguous: pack p's pos_last + 1
    // is pack p+1's pos_first (packs are cut from the same stream)
    manifest.keys.groupBy(_._1).foreach { case (shard, ks) =>
      val packs = ks.toSeq.sorted
      packs.sliding(2).foreach {
        case Seq(a, b) =>
          assert(manifest(a)._3 + 1 == manifest(b)._2,
            s"shard $shard: gap between pack $a and $b")
        case _ => ()
      }
    }
    // unpacked runs write no manifest
    val out2 = java.nio.file.Files.createTempDirectory("graft-corpus-nm").toString
    CorpusPrep.run(docs, out2, cfgP.copy(packBudget = None))
    assert(!new java.io.File(CorpusPrep.manifestPath(out2)).exists())
  }

  /** The session's cache entries: registered frames and the RDDs
    * already materialized for them.
    */
  private def cacheState(): (Int, Set[Int]) =
    (org.apache.spark.sql.graftbridge.CacheEntries(spark),
      spark.sparkContext.getPersistentRDDs.keySet.toSet)

  test("runFromWarc: a failing step releases every cache the call created") {
    import java.nio.file.Files
    val dir = writeCrawl()
    val out = Files.createTempDirectory("graft-prep-leak").toString
    // the media sidecar cannot be written: its parent is a regular file
    val blocker = Files.createTempFile("graft-prep-leak", ".file").toString
    val cfgAll = CorpusPrep.Config(langRates = Map.empty, defaultRate = 1.0,
      nShards = 2, stripMarkup = true, nearDupMinEst = Some(0.5))
    val before = cacheState()
    intercept[Exception] {
      CorpusPrep.runFromWarc(spark, dir, out + "/corpus", cfgAll,
        honorNoindex = true, mediaOut = Some(blocker + "/media"))
    }
    assert(cacheState() == before,
      "the noindex id set (or a materialized frame) stayed cached")
  }

  /** Per observe node (CollectMetricsExec, by name) in an executed
    * plan: true when it reaches a write command without crossing an
    * exchange or a query stage on the way down. That is what keeps an
    * observed count exact: only a result task's accumulator updates
    * are applied once per partition, whatever retries run.
    */
  private def observeVerdicts(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[(String, Boolean)] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.WriteFilesExec
    import org.apache.spark.sql.execution.exchange.Exchange
    def walk(n: SparkPlan, underWrite: Boolean, crossed: Boolean)
        : Seq[(String, Boolean)] = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, underWrite, crossed)
      case c: CollectMetricsExec =>
        (c.name -> (underWrite && !crossed)) +: walk(c.child, underWrite, crossed)
      case w @ (_: DataWritingCommandExec | _: WriteFilesExec) =>
        w.children.flatMap(walk(_, underWrite = true, crossed = false))
      case q: QueryStageExec => walk(q.plan, underWrite, crossed = true)
      case e: Exchange => e.children.flatMap(walk(_, underWrite, crossed = true))
      case other => other.children.flatMap(walk(_, underWrite, crossed))
    }
    walk(p, underWrite = false, crossed = false)
  }

  /** The executed plans of every query `body` runs, from a listener
    * registered around it; waits (bounded) until `until` holds.
    */
  private def executedPlans(until: Seq[org.apache.spark.sql.execution.SparkPlan] => Boolean)
      (body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = { seen.add(qe.executedPlan); () }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 30000000000L
      while (!until(seen.asScala.toSeq) && System.nanoTime() < deadline)
        Thread.sleep(20)
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(l)
  }

  test("observed counts are exact: each observe node shares its write's final stage") {
    import java.nio.file.Files
    val dir = writeCrawl()
    val out = Files.createTempDirectory("graft-prep-observe").toString
    val cfgAll = CorpusPrep.Config(langRates = Map.empty, defaultRate = 1.0,
      nShards = 2, stripMarkup = true, scrubPii = true,
      nearDupMinEst = Some(0.5), substrWindow = Some(4), dedupByUrl = true)
    def names(ps: Seq[org.apache.spark.sql.execution.SparkPlan]) =
      ps.flatMap(observeVerdicts).map(_._1).toSet
    val plans = executedPlans(ps => Set("corpus", "media").subsetOf(names(ps))) {
      CorpusPrep.runFromWarc(spark, dir, out + "/corpus", cfgAll,
        mediaOut = Some(out + "/media"))
    }
    val verdicts = plans.flatMap(observeVerdicts)
    assert(Set("corpus", "media").subsetOf(verdicts.map(_._1).toSet),
      s"no observed write plan captured: ${verdicts.map(_._1)}")
    verdicts.foreach { case (name, ok) =>
      assert(ok, s"observe '$name' is cut from its write by an exchange or a stage:\n" +
        plans.map(_.toString).mkString("\n"))
    }
    // the pin bites: the same count taken BELOW a shard window (a
    // shuffle under the write) reads as not exact
    import spark.implicits._
    val below = Seq((1L, 0L), (2L, 1L), (3L, 0L)).toDF("doc_id", "shard")
      .observe("below", count(lit(1)))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
          .orderBy(col("doc_id"))))
    val misplaced = executedPlans(ps => names(ps).contains("below")) {
      below.write.mode("overwrite").partitionBy("shard").parquet(out + "/below")
    }.flatMap(observeVerdicts)
    assert(misplaced.nonEmpty && misplaced.forall(!_._2),
      s"an observe under a shuffle must fail the pin: $misplaced")
  }

  test("cancelling a runFromWarc job cancels its side lane too") {
    import java.nio.file.Files
    import graft.pipeline.JobRunner
    import scala.concurrent.duration._
    val dir = writeCrawl()
    val out = Files.createTempDirectory("graft-prep-cancel").toString
    val cfgAll = CorpusPrep.Config(langRates = Map.empty, defaultRate = 1.0,
      nShards = 2, stripMarkup = true, scrubPii = true,
      nearDupMinEst = Some(0.5), substrWindow = Some(4), dedupByUrl = true,
      badWords = Some(Seq("zzzq")))
    val sc = spark.sparkContext
    val runner = new JobRunner(spark)
    val id = runner.submit("crawl-prep") { s =>
      CorpusPrep.runFromWarc(s, dir, out + "/corpus", cfgAll,
        mediaOut = Some(out + "/media")); ()
    }
    // cancel once the call has a Spark job in flight
    val deadline = System.nanoTime() + 60000000000L
    while (sc.statusTracker.getJobIdsForGroup(id).isEmpty &&
           System.nanoTime() < deadline) Thread.sleep(5)
    runner.cancel(id)
    assert(runner.await(id, 2.minutes) == JobRunner.Cancelled)
    // the status store is fed by the listener bus: drain it first
    org.apache.spark.graftbench.Recorder.drain(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      s"jobs still running after the cancelled call returned: " +
        sc.statusTracker.getActiveJobIds.mkString(","))
  }
}

object CorpusPrepSpec {

  /** Every optional stage of [[CorpusPrep.run]] switched on over the
    * documents at `sf`: its input, config and contamination benchmark.
    */
  final case class AllStages(docs: DataFrame, cfg: CorpusPrep.Config,
      bench: DataFrame)

  def allStages(spark: SparkSession, sf: String): AllStages = {
    import spark.implicits._
    val docs = Tables(spark, sf).documents
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    // a prior snapshot holding a slice of the corpus, so the gate bites
    val priorDir = java.nio.file.Files.createTempDirectory("graft-all-prior").toString
    val prior = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
    graft.operators.SnapshotBloom.save(spark,
      graft.operators.SnapshotBloom.build(
        prior.withColumn("text", graft.queries.PrepQ.scrub(col("text"))), 2000),
      s"$priorDir/prior.bloom")
    val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id"), col("text"))
    val vocab = graft.functions.expressions.Bpe
      .trainOn(docs, col("doc_id"), col("text"), 50, sampleN = 100)
    val sources = docs.select(col("source")).distinct()
      .as[String].collect().sorted.toSeq
    val weights = sources.take(2).map(_ -> 0.5).toMap
    AllStages(docs, CorpusPrep.Config(
      langRates = Map("en" -> 0.8), defaultRate = 0.6, nShards = 4,
      nearDupMinEst = Some(0.7), scrubPii = true,
      packBudget = Some(512), bpeVocab = Some(vocab),
      sourceWeights = Some(weights),
      priorSnapshot = Some(s"$priorDir/prior.bloom"),
      publishSnapshot = Some(2000L),
      substrWindow = Some(16)), bench)
  }
}

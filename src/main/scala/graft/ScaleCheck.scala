package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scale validation of the HEAVY operators (q31, q33, q53, q74,
  * q95, q96) — the queries whose 100 TB cost arguments (bucket caps,
  * prefix-filter admission, winnow density, cohort share) were only
  * ever measured at sf0.1. One 10× point exposes a quadratic pocket
  * before a cluster does: every reported time and candidate count
  * should scale ~linearly in the corpus (docs ×10 ⇒ time/candidates
  * ~×10, never ×100).
  *
  * The sf1 corpus is derived deterministically from the driver's sf0.1
  * `documents` table (the testdata dir is read-only and has no sf1):
  * 10 copies, copy 0 verbatim, copies 1–9 TOKEN-SALTED (every token
  * suffixed with the copy tag) so their shingles/windows are disjoint
  * from every other copy — per-bucket densities match the original
  * corpus and volume scales exactly 10× — except a ~5% cross-copy
  * NEAR-dup slice (every 20th doc), each member of which keeps its
  * text (plus one appended token) in exactly ONE salted copy, chosen
  * round-robin by id: the doc forms one (copy 0, copy k) near-dup
  * PAIR, so true pair count — and with it candidate volume and
  * detection work — scales LINEARLY with the corpus. (The first cut
  * of this generator left the slice unsalted in ALL NINE copies:
  * 10-doc cliques, O(c²)=45 true pairs each, and the candidate ratio
  * read 54× for 10× docs — a super-linear line that was the CORPUS
  * being quadratic, not the operator; a scale corpus must grow its
  * duplicate structure linearly or the telemetry it exists for is
  * unreadable.) Written once under the target dir; reruns reuse it.
  *
  * Output: one self-contained JSON line per scale with per-query
  * seconds + output rows, a candidates line (q31 LSH admissions, q96
  * prefix-filter admissions) and a final ratio line — plus the whole
  * report at `target/scale_sf1.json`. Not part of the driver bench
  * contract; run by hand (`runMain graft.ScaleCheck`).
  */
object ScaleCheck {

  val Heavy: Seq[String] = Seq(
    "q31_dedup_minhash", "q33_ngram_jaccard", "q53_neardup_components",
    "q74_substr_spans", "q95_substr_refine", "q96_simjoin",
    // r11 additions, closing the stale-list gap the r10 verdict
    // flagged: q77 (the registered artifact-served pick — its build
    // rep embeds q53, the min-of-reps measures the pick stage) and
    // q103 (its chain injection went slice-local in r11: roots at
    // (id mod 10⁸) ≡ 0 mod 97, so the salted copies root their first
    // id instead of dangling a parent into the previous copy).
    // q68's kernel is measured separately below — its scale knob is
    // the CLUSTER COUNT, which the oracle-pinned registered entry
    // cannot move.
    "q77_cluster_pick", "q103_closure")

  /** Generator version, stamped beside the corpus: a cached dir from
    * an OLDER generator (e.g. the clique-structured v1) must be
    * regenerated, not silently reused — stale duplicate structure
    * makes every ratio below unreadable. Bump on any semantic change
    * to [[buildSf1]]. (v3: adds the 10× embeddings table.)
    */
  val CorpusGen = 3

  /** Deterministic 10× documents table at `$dst/documents.parquet`.
    * Reused across runs only when its `_gen` marker matches
    * [[CorpusGen]]; otherwise rebuilt from scratch.
    */
  def buildSf1(spark: SparkSession, src: String, dst: String): Unit = {
    val out = new java.io.File(s"$dst/documents.parquet")
    val marker = new java.io.File(s"$dst/_gen")
    val current = marker.exists() &&
      scala.io.Source.fromFile(marker).mkString.trim == CorpusGen.toString
    if (out.exists() && current) return
    if (out.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out)
    }
    val d = spark.read.parquet(s"$src/documents.parquet")
    val copies = (0 until 10).map { k =>
      if (k == 0) d
      else {
        val salted = array_join(
          transform(split(coalesce(col("text"), lit("")), "\\s+"),
            t => concat(t, lit(s"x$k"))), " ")
        val nearDup = concat(coalesce(col("text"), lit("")), lit(s" tag$k"))
        // the slice doc stays unsalted in exactly ONE copy (round-robin
        // by id) — a (copy 0, copy k) PAIR, never a 10-doc clique
        val text = when(pmod(col("doc_id"), lit(20)) === 0 &&
            pmod(col("doc_id").divide(lit(20)).cast("long"), lit(9)) === (k - 1),
            nearDup)
          .otherwise(salted)
        d.select((col("doc_id") + k * 100000000L).as("doc_id"),
          text.as("text"), col("lang"), col("source"),
          length(text).cast("long").as("n_chars"))
      }
    }
    copies.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/documents.parquet")
    // 10× embeddings: VERBATIM copies at offset vec_ids. Identical
    // coordinates are exactly what the semantic-dedup scale check
    // wants: with k scaled 10× alongside the corpus, k-means splits
    // the same regions into ~10× spatial cells — each cell covers
    // ~1/10 the distinct coordinates × 10 copies, so cluster SIZE
    // stays ~constant and within-cluster pair volume grows ~10×
    // (linear). A super-linear pair ratio here is therefore the
    // operator, not the corpus.
    val e = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until 10).map { k =>
      e.select((col("vec_id") + k * 100000000L).as("vec_id"),
        col("embedding"))
    }.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/embeddings.parquet")
    val w = new java.io.PrintWriter(marker, "UTF-8")
    try w.print(CorpusGen) finally w.close()
  }

  private def d3(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  /** (seconds, rows) of the best of `reps` runs — min, not median:
    * scale RATIOS want the machine-noise floor of each point.
    */
  private def time(body: => DataFrame, reps: Int): (Double, Long) = {
    var best = Double.MaxValue
    var rows = 0L
    for (_ <- 1 to reps) {
      val t0 = System.nanoTime()
      rows = body.count()
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    (best, rows)
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "target/scale_sf1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt.max(1)
    val spark = EngineConf(
      appName = "graft-scale-check",
      master = Some(s"local[$cpus]"),
      shufflePartitions = Some(cpus.toInt),
      extraConf = Map("spark.ui.enabled" -> "false")).session()
    spark.sparkContext.setLogLevel("WARN")
    buildSf1(spark, src, dst)

    val report = new StringBuilder
    def line(s: String): Unit = { println(s); report.append(s).append('\n') }

    def measure(dir: String, tag: String, kSem: Int): Map[String, Double] = {
      // warm the operator families once so JIT/codegen doesn't bill to
      // whichever query runs first (the Bench discipline)
      try { SparkEntry.queries("q31_dedup_minhash")(spark, dir).count() }
      catch { case _: Throwable => () }
      val entries = Heavy.map { name =>
        val (sec, rows) = time(SparkEntry.queries(name)(spark, dir), reps)
        name -> (sec, rows)
      }
      // q68's kernel at the SCALED cluster count (k ∝ N — the
      // operator's own 100 TB contract; the oracle-pinned registered
      // entry cannot move k, so it is measured via the kernel)
      val embFrame = graft.queries.VecQ.embProjection(
        spark.read.parquet(s"$dir/embeddings.parquet"))
      val (semSec, semRows) = time(
        graft.queries.VecQ.semanticDedup(embFrame, k = kSem), reps)
      val all = entries :+ ("q68_semantic_dedup" -> (semSec, semRows))
      val qs = all.map { case (n, (s, r)) =>
        s""""$n":{"sec":${d3(s)},"rows":$r}""" }.mkString(",")
      // candidate telemetry: the volumes the filter arguments rest on
      val docs = Tables(spark, dir).documents
      val lshCand = graft.operators.NearDup.scoredCandidates(
        graft.operators.NearDup.signatures(docs), minEst = 0.5).count()
      val sj = graft.operators.SimJoin.joinPairsScoped(docs,
        graft.queries.SimQ.SimShingle, graft.queries.SimQ.SimNum,
        graft.queries.SimQ.SimDen)
      val sjCand = try sj.candidates.count() finally sj.release()
      // semantic-dedup pair volume: Σ n·(n−1)/2 over the k-means
      // cluster sizes — the within-cluster join's candidate count
      val (assigned, _) = graft.queries.VecQ.kmeansIndex(
        embFrame, k = kSem, iters = 2)
      val semCand = assigned.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * (col("n") - 1) / 2)).head().getDouble(0).toLong
      line(s"""{"scale":"$tag","dir":"$dir","k_sem":$kSem,"queries":{$qs},"candidates":{"q31_lsh":$lshCand,"q96_prefix":$sjCand,"q68_pairs":$semCand}}""")
      all.map { case (n, (s, _)) => n -> s }.toMap ++
        Map("cand_q31" -> lshCand.toDouble, "cand_q96" -> sjCand.toDouble,
          "cand_q68" -> semCand.toDouble)
    }

    // incremental-maintainer datapoint (r11): the SAME fixed 500-doc
    // delta folded into a standing NearDupIndex built over the rest of
    // each corpus. Incrementality's claim is that maintain cost tracks
    // the DELTA and its collision neighborhoods, not the corpus — the
    // sf1 point stands a 10× index behind an identical delta, so
    // maintain_sec should stay far below 10× while build_sec (the
    // full-corpus signature+propagation pass, q53's work plus the
    // store writes) scales ~linearly. delta = doc_id < 500 (copy 0 is
    // verbatim at sf1, so both scales fold the same rows; its %20==0
    // members have cross-copy near-dup partners at sf1, so the
    // component-merge path is exercised, not just clean inserts).
    def indexPoint(dir: String, tag: String): (Double, Double, Double) = {
      val ipath = s"target/scale_ndx_$tag"
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(ipath))
      val docs = Tables(spark, dir).documents
      val t0 = System.nanoTime()
      graft.operators.NearDupIndex.build(spark, ipath,
        docs.filter(col("doc_id") >= 500))
      val buildSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val st = graft.operators.NearDupIndex.maintain(spark, ipath,
        docs.filter(col("doc_id") < 500))
      val maintainSec = (System.nanoTime() - t1) / 1e9
      // the r12 RTBF claim, measured like the maintain claim: forget
      // is a log append + shard-pruned label tombstones — its cost
      // must track the VICTIM SET, not the standing index (compaction
      // is the corpus-scaled reclaim by design and is not on this
      // path)
      val t2 = System.nanoTime()
      graft.operators.NearDupIndex.forget(spark, ipath, (0L until 100L))
      val forgetSec = (System.nanoTime() - t2) / 1e9
      line(s"""{"scale":"$tag","neardup_index":{"build_sec":${d3(buildSec)},"maintain_sec":${d3(maintainSec)},"forget_sec":${d3(forgetSec)},"delta_docs":500,"delta_sigs":${st.newDocs},"forget_victims":100}}""")
      (buildSec, maintainSec, forgetSec)
    }

    // the same fixed-delta claim for the SEARCH index (Search.
    // maintainIndex): postings for 500 new docs append in a
    // delta-sized bucketing job regardless of the standing index's
    // size — maintain_sec flat across the 10×, build_sec corpus-scaled
    def searchPoint(dir: String, tag: String): (Double, Double) = {
      val table = s"graft_scale_postings_$tag"
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val docs = Tables(spark, dir).documents
      val t0 = System.nanoTime()
      graft.operators.Search.buildIndex(
        docs.filter(col("doc_id") >= 500), table, 16)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      graft.operators.Search.maintainIndex(spark, table,
        docs.filter(col("doc_id") < 500), batchId = s"scale-$tag")
      val maintainSec = (System.nanoTime() - t1) / 1e9
      line(s"""{"scale":"$tag","search_index":{"build_sec":${d3(buildSec)},"maintain_sec":${d3(maintainSec)},"delta_docs":500}}""")
      spark.sql(s"DROP TABLE IF EXISTS $table")
      (buildSec, maintainSec)
    }

    // crawl-intake datapoint (r13 ask #5): WarcSource is the 100 TB
    // story's front door but had no measured scale line. Generated
    // multi-archive fixtures — N gzipped archives × M mixed records
    // (HTML responses, WET conversions, PPM media behind lying
    // headers, real PDFs) — parsed at 1× and 10× archive counts.
    // The parallelism contract is one-task-per-archive (binaryFile
    // packing), so wall should scale ~linearly in archives while
    // MB/s holds ~flat.
    def buildWarcDir(dir: String, archives: Int, recsPer: Int): Long = {
      val root = new java.io.File(dir)
      val marker = new java.io.File(s"$dir/_gen")
      val want = s"v1-$archives-$recsPer"
      if (marker.exists() &&
          new String(java.nio.file.Files.readAllBytes(marker.toPath),
            "UTF-8") == want) {
        return Option(root.listFiles()).map(_.filter(_.isFile)
          .map(_.length()).sum).getOrElse(0L)
      }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root); root.mkdirs()
      def rec(headers: Seq[(String, String)],
              content: Array[Byte]): Array[Byte] = {
        val sb = new StringBuilder("WARC/1.0\r\n")
        (headers :+ ("Content-Length" -> content.length.toString))
          .foreach { case (k, v) => sb.append(s"$k: $v\r\n") }
        sb.append("\r\n")
        sb.toString.getBytes("ISO-8859-1") ++ content ++
          "\r\n\r\n".getBytes("ISO-8859-1")
      }
      def resp(uri: String, ct: String, body: Array[Byte]) =
        rec(Seq("WARC-Type" -> "response", "WARC-Target-URI" -> uri,
          "Content-Type" -> "application/http; msgtype=response"),
          s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n\r\n"
            .getBytes("ISO-8859-1") ++ body)
      var total = 0L
      var a = 0
      while (a < archives) {
        val bo = new java.io.ByteArrayOutputStream(1 << 20)
        var r = 0
        while (r < recsPer) {
          val seed = a * 100000 + r
          val body = (r % 4) match {
            case 0 => resp(s"http://s$a.example/p$r", "text/html",
              (s"<html><body>page $seed " +
                s"${("lorem ipsum crawl token " + seed + " ") * 200}" +
                "</body></html>").getBytes("UTF-8"))
            case 1 => rec(Seq("WARC-Type" -> "conversion",
              "WARC-Target-URI" -> s"http://s$a.example/w$r",
              "Content-Type" -> "text/plain"),
              (s"wet text $seed " + (s"token$seed " * 300)).getBytes("UTF-8"))
            case 2 => resp(s"http://s$a.example/img$r", "text/html",
              "P6\n32 32\n255\n".getBytes("ISO-8859-1") ++
                Array.tabulate[Byte](3072)(i => ((i * 7 + seed) % 256).toByte))
            case _ => resp(s"http://s$a.example/d$r.pdf", "application/pdf",
              graft.multimodal.PdfText.write(
                s"pdf document $seed " + (s"para$seed " * 150)))
          }
          bo.write(body, 0, body.length)
          r += 1
        }
        val f = new java.io.FileOutputStream(s"$dir/arch-$a.warc.gz")
        val gz = new java.util.zip.GZIPOutputStream(f)
        gz.write(bo.toByteArray); gz.close()
        total += new java.io.File(s"$dir/arch-$a.warc.gz").length()
        a += 1
      }
      val w = new java.io.PrintWriter(marker, "UTF-8")
      w.print(want); w.close()
      total
    }
    def warcPoint(dir: String, tag: String, archives: Int): Double = {
      val diskBytes = buildWarcDir(dir, archives, recsPer = 400)
      val (sec, recs) = time(
        graft.sources.WarcSource.records(spark, dir), reps)
      val (docSec, docs) = time(
        graft.sources.WarcSource.documents(spark, dir), reps)
      val mb = diskBytes / 1048576.0
      line(s"""{"scale":"$tag","warc":{"archives":$archives,"records":$recs,"disk_mb":${d3(mb)},"parse_sec":${d3(sec)},"records_per_sec":${d3(recs / math.max(sec, 1e-9))},"mb_per_sec":${d3(mb / math.max(sec, 1e-9))},"documents_sec":${d3(docSec)},"documents":$docs}}""")
      sec
    }
    // office/media intake datapoint (r14 ask #7): the documents face
    // is measured above; the officeDocuments and media faces were
    // not. Mixed archives — DOCX/XLS/PPT/ODT office payloads (real
    // container writers), PNG/JPEG media, and a plain ZIP the office
    // face must refuse — at 1x/10x archive counts, recording
    // extraction MB/s for both faces. Same parallelism contract as
    // the documents point: one task per archive.
    def buildOfficeDir(dir: String, archives: Int, recsPer: Int): Long = {
      val root = new java.io.File(dir)
      val marker = new java.io.File(s"$dir/_gen")
      val want = s"v4-$archives-$recsPer" // v4: + avif/heic (r18)
      if (marker.exists() &&
          new String(java.nio.file.Files.readAllBytes(marker.toPath),
            "UTF-8") == want) {
        return Option(root.listFiles()).map(_.filter(_.isFile)
          .map(_.length()).sum).getOrElse(0L)
      }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root); root.mkdirs()
      def rec(headers: Seq[(String, String)],
              content: Array[Byte]): Array[Byte] = {
        val sb = new StringBuilder("WARC/1.0\r\n")
        (headers :+ ("Content-Length" -> content.length.toString))
          .foreach { case (k, v) => sb.append(s"$k: $v\r\n") }
        sb.append("\r\n")
        sb.toString.getBytes("ISO-8859-1") ++ content ++
          "\r\n\r\n".getBytes("ISO-8859-1")
      }
      def resp(uri: String, ct: String, body: Array[Byte]) =
        rec(Seq("WARC-Type" -> "response", "WARC-Target-URI" -> uri,
          "Content-Type" -> "application/http; msgtype=response"),
          s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n\r\n"
            .getBytes("ISO-8859-1") ++ body)
      import graft.{multimodal => M}
      var total = 0L
      var a = 0
      while (a < archives) {
        val bo = new java.io.ByteArrayOutputStream(1 << 20)
        var r = 0
        while (r < recsPer) {
          val seed = a * 100000 + r
          def prose(tag: String) =
            s"$tag document $seed " + (s"token$seed office text " * 120)
          val body = (r % 10) match {
            case 9 =>
              // the r17 arm: a br-CODED page — the crawl point now
              // measures the integrated inflateBody -> Brotli path
              // (the br share of a modern crawl is material; its
              // decode cost must be a tracked number, not a fence)
              rec(Seq("WARC-Type" -> "response",
                "WARC-Target-URI" -> s"http://o$a.example/b$r.html",
                "Content-Type" -> "application/http; msgtype=response"),
                ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
                  "Content-Encoding: br\r\n\r\n").getBytes("ISO-8859-1") ++
                  M.Brotli.encodeFixed(
                    prose("br").getBytes("UTF-8"), split = r % 2 == 0))
            case 7 => resp(s"http://o$a.example/p$r.html", "text/html",
              graft.functions.HtmlMeta.write(
                title = s"Page $seed", description = s"about $seed",
                canonical = s"https://o$a.example/canon/$r",
                noindex = r % 14 == 7, body = prose("html"),
                variant = r % 2).getBytes("UTF-8"))
            case 8 => resp(s"http://o$a.example/s$r.xml.gz",
              "application/gzip", {
                val bo = new java.io.ByteArrayOutputStream()
                val z = new java.util.zip.GZIPOutputStream(bo)
                z.write(graft.functions.Sitemap.write(
                  (0 until 40).map(i =>
                    (s"https://o$a.example/u$r/$i", None)))
                  .getBytes("UTF-8"))
                z.close(); bo.toByteArray
              })
            case 0 => resp(s"http://o$a.example/d$r.docx",
              "application/msword", M.Docx.write(prose("docx")))
            case 1 => resp(s"http://o$a.example/t$r.xls",
              "application/vnd.ms-excel",
              M.XlsText.write(prose("xls").split(" ").grouped(8)
                .map(_.mkString("\t")).mkString("\n")))
            case 2 => resp(s"http://o$a.example/s$r.ppt",
              "application/vnd.ms-powerpoint",
              M.PptText.write(prose("ppt")))
            case 3 => resp(s"http://o$a.example/m$r.odt",
              "application/vnd.oasis.opendocument.text",
              M.Odt.write(prose("odt")))
            case 4 => resp(s"http://o$a.example/p$r.png",
              "image/png", M.Png.encode(M.Netpbm.Image(24, 16, 255,
                Array.tabulate[Byte](24 * 16 * 3)(i =>
                  ((i * 7 + seed) % 256).toByte))))
            case 5 => resp(s"http://o$a.example/j$r.jpg",
              "image/jpeg", M.Jpeg.encode(M.Netpbm.Image(16, 16, 255,
                Array.fill[Byte](16 * 16 * 3)((seed % 200 + 20).toByte))))
            case 6 if (r / 10) % 2 == 0 =>
              // the r18 arm: AVIF/HEIC payloads in the crawl mix —
              // probed-not-decoded (SURVEY §8's largest remaining
              // media exclusion), so the point BILLS their share
              // every round instead of leaving the exclusion's cost
              // unmeasured (the br precedent: measure before any
              // build-vs-exclude decision)
              val (brand, codec) =
                if (seed % 2 == 0) ("avif", "av01") else ("heic", "hvc1")
              resp(s"http://o$a.example/i$r.$brand", s"image/$brand",
                M.Heif.write(brand, codec, 160 + seed % 41,
                  90 + seed % 29, rotation = (seed % 4) * 90,
                  withExif = seed % 3 == 0))
            case _ => resp(s"http://o$a.example/z$r.zip",
              "application/zip", M.Zip.write(Seq(
                ("data/notes.txt", prose("zip").getBytes("UTF-8"), true))))
          }
          bo.write(body, 0, body.length)
          r += 1
        }
        val f = new java.io.FileOutputStream(s"$dir/office-$a.warc.gz")
        val gzs = new java.util.zip.GZIPOutputStream(f)
        gzs.write(bo.toByteArray); gzs.close()
        total += new java.io.File(s"$dir/office-$a.warc.gz").length()
        a += 1
      }
      val w = new java.io.PrintWriter(marker, "UTF-8")
      w.print(want); w.close()
      total
    }
    def officePoint(dir: String, tag: String, archives: Int)
        : Map[String, Double] = {
      val diskBytes = buildOfficeDir(dir, archives, recsPer = 280)
      val (offSec, offDocs) = time(
        graft.sources.WarcSource.officeDocuments(spark, dir, None), reps)
      val (medSec, media) = time(
        graft.sources.WarcSource.media(
          graft.sources.WarcSource.records(spark, dir)), reps)
      // the r15 faces: page metadata + crawl frontier, same archives
      val (pmSec, pmRows) = time(
        graft.sources.WarcSource.pageMeta(spark, dir, None), reps)
      val (smSec, smRows) = time(
        graft.sources.WarcSource.sitemapUrls(spark, dir, None), reps)
      // the r16 faces over the SAME archives: the one-plan frontier
      // (discover -> canonicalize -> police), the PII-scrubbed media
      // store, and canonical-URL dedup over the documents face (its
      // one url_norm shuffle is the thing to watch at 10x)
      val policy = "User-agent: *\nDisallow: /private/\n"
      val (fpSec, fpRows) = time(
        graft.sources.WarcSource.frontierPlan(
          graft.sources.WarcSource.records(spark, dir), policy,
          "GraftBot/2.1"), reps)
      val (msSec, msRows) = time(
        graft.sources.WarcSource.mediaScrubbed(
          graft.sources.WarcSource.records(spark, dir)), reps)
      val (udSec, udRows) = time(
        graft.pipeline.CorpusPrep.urlDedup(
          graft.sources.WarcSource.documents(spark, dir, None)), reps)
      // the r18 exclusion bill: of the media the crawl served, how
      // much is AVIF/HEIC we only PROBE (q149) instead of decode —
      // rows and byte share, so each round records what the
      // exclusion costs on the fixture mix (the no-silent-caps rule
      // applied to a capability gap)
      val avifHeic = Seq(graft.sources.BinarySource.MimeAvif,
        graft.sources.BinarySource.MimeHeic)
      val hv = graft.sources.WarcSource.media(
          graft.sources.WarcSource.records(spark, dir))
        .agg(
          sum(when(col("meta.mime").isin(avifHeic: _*), 1L)
            .otherwise(0L)).as("hrows"),
          sum(when(col("meta.mime").isin(avifHeic: _*),
            length(col("payload")).cast("long")).otherwise(0L))
            .as("hbytes"),
          sum(length(col("payload")).cast("long")).as("allbytes"))
        .head()
      // null-guarded like the runFromWarc media billing: sum() over an
      // empty media face returns NULL, and a reconfigured record mix
      // must yield a zero row, not an NPE
      def nz(i: Int): Long = if (hv.isNullAt(i)) 0L else hv.getLong(i)
      val (hvRows, hvBytes, mediaBytes) = (nz(0), nz(1), nz(2))
      val mb = diskBytes / 1048576.0
      line(s"""{"scale":"$tag","office_media":{"archives":$archives,"br_share":0.1,"disk_mb":${d3(mb)},"office_sec":${d3(offSec)},"office_docs":$offDocs,"office_mb_per_sec":${d3(mb / math.max(offSec, 1e-9))},"media_sec":${d3(medSec)},"media_rows":$media,"media_mb_per_sec":${d3(mb / math.max(medSec, 1e-9))},"pagemeta_sec":${d3(pmSec)},"pagemeta_rows":$pmRows,"sitemap_sec":${d3(smSec)},"sitemap_rows":$smRows,"frontier_sec":${d3(fpSec)},"frontier_rows":$fpRows,"mediascrub_sec":${d3(msSec)},"mediascrub_rows":$msRows,"urldedup_sec":${d3(udSec)},"urldedup_rows":$udRows,"avif_heic_rows":$hvRows,"avif_heic_mb":${d3(hvBytes / 1048576.0)},"avif_heic_media_byte_share":${d3(if (mediaBytes > 0) hvBytes.toDouble / mediaBytes else 0.0)}}}""")
      Map("office" -> offSec, "media" -> medSec, "pagemeta" -> pmSec,
        "sitemap" -> smSec, "frontier" -> fpSec, "mediascrub" -> msSec,
        "urldedup" -> udSec)
    }
    // the r16 verdict's ask #4: CODEC throughput as a tracked number —
    // q148/q150 are CPU-bound bit-serial decodes (shuffle-free,
    // embarrassingly parallel), so their 100 TB story is MB/s and
    // px/s per core, not a plan shape; record both at 1x/10x frames
    // so a codec regression is a visible artifact, not a bench
    // residual. Half the frames carry the seg-filter config so the
    // loop-filter pass is inside the measured number.
    def vp8Point(tag: String, frames: Int): Double = {
      import spark.implicits._
      import graft.{multimodal => M}
      val w = 320; val h = 240
      val cfg = M.Vp8.FilterCfg(simple = false, level = 24,
        sharpness = 0, refDelta = -2, modeDelta = 1, segAbs = false,
        segLf = Seq(-24, -12, 0, 12),
        segIdOf = (x, y) => (x + 2 * y) % 4)
      val payloads = (0 until frames).map { i =>
        val luma = new Array[Byte](w * h)
        var p = 0
        while (p < luma.length) {
          val bx = (p % w) / 4; val by = (p / w) / 4
          luma(p) = (40 + ((bx * 3 + by * 5 + i) % 28) * 7).toByte
          p += 1
        }
        M.Vp8.encodeWebp(luma, w, h, if (i % 2 == 0) None else Some(cfg))
      }
      val mb = payloads.map(_.length.toLong).sum / 1048576.0
      val mpx = frames.toDouble * w * h / 1e6
      val ds = spark.createDataset(payloads)
      val (sec, ok) = time(
        ds.map(b => M.Webp.decode(b).map(_.pixels.length.toLong)
            .getOrElse(-1L))
          .toDF("n").filter(col("n") > 0), reps)
      line(s"""{"scale":"$tag","vp8":{"frames":$frames,"decoded":$ok,"payload_mb":${d3(mb)},"sec":${d3(sec)},"mb_per_sec":${d3(mb / math.max(sec, 1e-9))},"mpx_per_sec":${d3(mpx / math.max(sec, 1e-9))}}}""")
      sec
    }
    val v0 = vp8Point("vp81x", 32)
    val v1 = vp8Point("vp810x", 320)
    line(s"""{"scale":"vp8_ratio_10x_over_1x","expect":"wall flat-to-linear (pure executor CPU, one task per partition); super-linear is the red flag","decode":${d3(if (v0 > 0) v1 / v0 else -1.0)}}""")

    // brotli decode throughput (r17): a REAL system-libbrotli q9
    // stream (copy/dictionary/context-heavy, 15 KB -> 1.7 MB; the
    // same bytes as the test vector v_long_q9_w22.br) shipped as a
    // main resource, decoded per task — MB/s of DECODED output
    // is the number a br-heavy crawl divides by. Same shape contract
    // as vp8: pure executor CPU, flat-to-linear at 10x.
    def brPoint(tag: String, streams: Int): Double = {
      import spark.implicits._
      val bytes = {
        val in = getClass.getResourceAsStream("/graft/brotli_bench.br")
        require(in != null, "missing brotli_bench.br")
        try in.readAllBytes() finally in.close()
      }
      val outLen = graft.multimodal.Brotli.decode(bytes)
        .map(_.length.toLong).getOrElse(0L)
      val bc = spark.sparkContext.broadcast(bytes)
      val (sec, ok) = time(
        spark.range(streams.toLong)
          .map(_ => graft.multimodal.Brotli.decode(bc.value)
            .map(_.length.toLong).getOrElse(-1L))
          .toDF("n").filter(col("n") > 0), reps)
      val outMb = streams * outLen / 1048576.0
      line(s"""{"scale":"$tag","brotli":{"streams":$streams,"decoded":$ok,"out_mb":${d3(outMb)},"sec":${d3(sec)},"out_mb_per_sec":${d3(outMb / math.max(sec, 1e-9))}}}""")
      sec
    }
    val brS0 = brPoint("brotli1x", 32)
    val brS1 = brPoint("brotli10x", 320)
    line(s"""{"scale":"brotli_ratio_10x_over_1x","expect":"wall flat-to-linear (pure executor CPU); super-linear is the red flag","decode":${d3(if (brS0 > 0) brS1 / brS0 else -1.0)}}""")

    val op0 = officePoint("target/scale_office_1", "office1x", 4)
    val op1 = officePoint("target/scale_office_10", "office10x", 40)
    val opRatios = op0.keys.toSeq.sorted.map { k =>
      s""""$k":${d3(if (op0(k) > 0) op1(k) / op0(k) else -1.0)}"""
    }.mkString(",")
    line(s"""{"scale":"office_ratio_10x_over_1x","expect":"wall flat-to-linear (one task per archive), super-linear is the red flag",$opRatios}""")

    val w0 = warcPoint("target/scale_warc_1", "warc1x", archives = 4)
    val w1 = warcPoint("target/scale_warc_10", "warc10x", archives = 40)
    // the parallelism contract is ONE TASK PER ARCHIVE: with cores ≥
    // archives the 10× point scales OUT (wall ~flat, records/s ~10×);
    // past core saturation wall grows ~linearly in archives. Either
    // shape is healthy; super-linear wall is the red flag.
    line(s"""{"scale":"warc_ratio_10x_over_1x","expect":"wall flat-to-linear (one task per archive; 10x archives spread over cores), records/s up ~10x at flat wall; super-linear wall is the red flag","parse":${d3(if (w0 > 0) w1 / w0 else -1.0)}}""")

    val base = measure(src, "sf0.1", kSem = 16)
    val big = measure(dst, "sf1", kSem = 160)
    val (b0, m0, f0) = indexPoint(src, "sf01")
    val (b1, m1, f1) = indexPoint(dst, "sf1")
    val (sb0, sm0) = searchPoint(src, "sf01")
    val (sb1, sm1) = searchPoint(dst, "sf1")
    val ratios = (Heavy ++ Seq("q68_semantic_dedup",
      "cand_q31", "cand_q96", "cand_q68")).map { n =>
      val r = if (base(n) > 0) big(n) / base(n) else -1.0
      s""""$n":${d3(r)}"""
    }.mkString(",")
    // docs scale 10x: a ratio near 10 is linear; flag anything past 20
    line(s"""{"scale":"ratio_sf1_over_sf0.1","expect":"~10 (linear)","ratios":{$ratios}}""")
    line(s"""{"scale":"ndx_ratio_sf1_over_sf0.1","expect":"build ~10 (linear), maintain + forget well under 10 (delta/victim-scaled)","build":${d3(if (b0 > 0) b1 / b0 else -1.0)},"maintain":${d3(if (m0 > 0) m1 / m0 else -1.0)},"forget":${d3(if (f0 > 0) f1 / f0 else -1.0)}}""")
    line(s"""{"scale":"search_ratio_sf1_over_sf0.1","expect":"build ~10 (linear), maintain well under 10 (delta-scaled)","build":${d3(if (sb0 > 0) sb1 / sb0 else -1.0)},"maintain":${d3(if (sm0 > 0) sm1 / sm0 else -1.0)}}""")
    try {
      val p = java.nio.file.Paths.get("target/scale_sf1.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, report.toString.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
  }
}

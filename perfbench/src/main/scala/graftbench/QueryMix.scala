package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** query-mix: a closed loop of one client over the registered queries
  * on generated star-schema tables. Each op constructs one query
  * through `SparkEntry` and writes its DataFrame to a `noop` sink, so
  * every row and column is produced (a `count()` would let Catalyst
  * prune projections and sorts). The seed permutes the query order;
  * the tables come from a fixed data seed so that each query's
  * expected row count and digest can be stored beside the benchmark.
  */
object QueryMix {

  /** The faces that serve a version-stamped artifact built on first
    * use (graft.Bench's `builds` line): timing them measures whichever
    * run built the artifact, so they stay out of the mix.
    */
  val Amortized: Set[String] = Set("q77_cluster_pick", "q104_phrase_indexed",
    "q105_ranked_indexed", "q109_upsert_face", "q110_scd2_face",
    "q112_temporal_face", "q113_components_index",
    "q114_phrase_maintained", "q121_view_face", "q122_forget_face",
    "q123_search_forget", "q152_corpus_face", "q153_warc_corpus_face")

  /** The multimodal fixture faces: they time their own fixture encode,
    * so crawl-prep and the codec probe measure that layer instead.
    */
  val MultimodalFaces: Set[String] = Set("q50_multimodal_meta",
    "q67_ppm_decode", "q69_wav_decode", "q91_bmp_decode",
    "q118_image_dhash", "q119_image_neardup", "q120_audio_fingerprint",
    "q124_png_decode", "q125_gif_decode", "q126_jpeg_decode",
    "q127_pdf_extract", "q128_webp_decode", "q129_docx_extract",
    "q130_video_probe", "q131_epub_extract", "q132_audio_probe",
    "q133_tiff_probe", "q134_rtf_extract", "q135_odt_extract",
    "q136_xlsx_extract", "q137_doc_extract", "q138_xls_extract",
    "q139_media_coverage", "q140_ppt_extract", "q141_exif_scrub",
    "q147_exif_containers", "q148_vp8_decode", "q149_heif_probe",
    "q150_vp8_segfilter", "q151_brotli_decode")

  /** The generated tables: fixed, so expected digests can be stored. */
  val DataSeed = 42L
  val Sf = 0.01

  /** Every registered query that is neither amortized nor a
    * multimodal fixture face (107 of them); `expect` covers all.
    */
  def names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
    .filterNot(n => Amortized(n) || MultimodalFaces(n))

  /** The timed mix: one or two queries per family of [[names]], chosen
    * so that a cold pass plus the timed passes fit one run. An odd count
    * puts the median on one query rather than between two. It keeps the
    * loops that set the tail (q37's Lloyd iterations, q53's label
    * propagation) and the faces whose `count()` timing hid most of
    * their work (q41, q52).
    */
  val Mix: Seq[String] = Seq("q01_agg_pricing", "q17_percentiles",
    "q22_sessionize", "q30_dedup_exact", "q37_ann_ivf", "q41_text_quality",
    "q52_pii_scrub", "q53_neardup_components", "q84_url_normalize")

  /** Expected (rows, digest) per query; digest "-" means rows only. */
  def loadExpected(path: String): Map[String, (Long, String)] = {
    val lines = Files.readAllLines(Paths.get(path)).asScala
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
    val header = Files.readAllLines(Paths.get(path)).asScala
      .find(_.startsWith("# data"))
    require(header.contains(s"# data seed=$DataSeed sf=$Sf"),
      s"$path was made for other tables (${header.getOrElse("no header")})")
    lines.map { l =>
      val Array(n, r, d) = l.split("\t")
      n -> (r.toLong, d)
    }.toMap
  }

  def run(ctx: Ctx, expectedPath: String): Unit = {
    val spark = ctx.spark
    ctx.headline = "query"
    val dir = ctx.dir("data")
    val counts = TableGen.write(spark, dir, Sf, DataSeed)
    ctx.say(s"[input] tables sf=$Sf data_seed=$DataSeed rows " +
      counts.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    ctx.say(s"[input] bytes=" + dirBytes(Paths.get(dir)))
    val expected = loadExpected(expectedPath)
    val qs = Mix
    val missing = qs.filterNot(expected.contains)
    ctx.check("expected digests cover the mix", missing.isEmpty,
      missing.mkString(","))
    // warm-up and correctness: one untimed pass over every query, each
    // result collected and compared with its expected rows and digest
    val good = qs.map { q =>
      val w0 = System.nanoTime()
      val ok = try {
        val (rows, dig) = Stats.digest(SparkEntry.queries(q)(spark, dir))
        expected.get(q).exists { case (r, d) =>
          ctx.check(s"query $q", r == rows && (d == "-" || d == dig),
            s"rows=$rows digest=$dig expected rows=$r digest=$d")
        }
      } catch {
        case e: Throwable =>
          ctx.check(s"query $q", ok = false, String.valueOf(e.getMessage)
            .linesIterator.take(2).mkString(" | "))
      }
      ctx.say(f"[warm] $q ${(System.nanoTime() - w0) / 1e9}%.3f s")
      q -> ok
    }.toMap
    ctx.say(s"[input] queries=${qs.size} seed permutes order; " +
      s"checked ok=${good.values.count(identity)}")
    Main.setupDone(ctx)

    // timed: whole passes over the seeded permutation, at least three
    // and until the time is up, so every run times each query the same
    // number of times (the figures take each query's median over them)
    val rnd = new scala.util.Random(ctx.seed)
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val minPasses = if (ctx.trace) 2 else 3
    var pass = 0
    while (pass < minPasses || System.nanoTime() < deadline) {
      val order = rnd.shuffle(qs)
      order.zipWithIndex.foreach { case (q, i) =>
        def once(traced: Boolean): Unit = ctx.op("query", q, traced) {
          val df = ctx.construct("queries", s"SparkEntry.queries($q)") {
            SparkEntry.queries(q)(spark, dir)
          }
          ctx.noteAnalysis(df)
          ctx.call("queries", "noop write") {
            df.write.format("noop").mode("overwrite").save()
          }
          good(q)
        }
        if (!ctx.trace) once(traced = false)
        else {
          // traced runs pair each query with an untraced run of the
          // same query, alternating which goes first
          val first = (i + pass) % 2 == 0
          once(first); once(!first)
        }
      }
      pass += 1
    }
    Main.timedDone(ctx)
    val qOps = ctx.ops.filter(o => o.kind == "query" && !o.traced)
    qOps.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (q, os) =>
      ctx.say(s"[query] $q " + os.map(o => f"${o.seconds}%.3f").mkString(" "))
    }
    val wall = qOps.map(_.seconds).sum
    val lat = qOps.map(_.seconds)
    val (pct, tail, beyond) = Stats.tail(lat)
    ctx.report.e2e("queries_per_s", qOps.size / wall, "1/s")
    ctx.report.e2e("read_p50_s", Stats.median(lat), "s")
    ctx.report.e2e("read_tail_s", tail, "s")
    ctx.report.notes += f"read_tail_s is p$pct%.1f of ${lat.size} samples, $beyond beyond it"
    ctx.report.notes += s"passes=$pass"
  }

  def dirBytes(p: java.nio.file.Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  /** Write every query's result and the oracle SQL for the DuckDB
    * check, and the digests the timed run compares against.
    */
  def expect(ctx: Ctx, out: String): Unit = {
    val spark = ctx.spark
    val dir = s"$out/data"
    TableGen.write(spark, dir, Sf, DataSeed)
    val sb = new StringBuilder(s"# data seed=$DataSeed sf=$Sf\n")
    names.foreach { q =>
      try {
        val df = SparkEntry.queries(q)(spark, dir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/results/$q")
        val (rows, dig) = Stats.digest(SparkEntry.queries(q)(spark, dir))
        sb.append(s"$q\t$rows\t$dig\n")
      } catch {
        case e: Throwable => ctx.say(s"[expect] $q failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$out/digests.tsv"), sb.toString)
    val json = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$out/results/oracle_sql.json"), json)
  }
}

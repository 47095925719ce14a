package graftbench

import graft.{multimodal => M}

/** The multimodal layer with no Spark: each codec timed by a direct
  * call on the exact payloads the crawl generator writes for this
  * run's seed. Each codec repeats over its payloads for at least a
  * quarter second; throughput is input bytes over that time.
  */
object CodecProbe {

  private val MinNs = 250000000L

  def run(ctx: Ctx): Seq[(String, Double, String)] = {
    val p = ctx.payloads.getOrElse(CrawlGen.build(ctx.seed, CrawlPrep.Records)._3)
    var ok = 0L; var tried = 0L
    def rate(xs: Seq[Array[Byte]])(f: Array[Byte] => Boolean): Double = {
      xs.foreach { b => tried += 1; if (f(b)) ok += 1 }
      val bytes = xs.map(_.length.toLong).sum
      var n = 0L
      val t0 = System.nanoTime()
      while (n == 0 || System.nanoTime() - t0 < MinNs) {
        xs.foreach(f); n += 1
      }
      bytes * n / 1048576.0 / ((System.nanoTime() - t0) / 1e9)
    }
    val out = Seq(
      ("multimodal.jpeg.decode_mb_s", rate(p.jpeg)(M.Jpeg.decode(_).isDefined)),
      ("multimodal.png.decode_mb_s", rate(p.png)(M.Png.decode(_).isDefined)),
      ("multimodal.brotli.decode_mb_s", rate(p.brotli)(M.Brotli.decode(_).isDefined)),
      ("multimodal.pdf.extract_mb_s", rate(p.pdf)(M.PdfText.extract(_).isDefined)),
      ("multimodal.docx.extract_mb_s", rate(p.docx)(M.Docx.extractText(_).isDefined)),
      ("multimodal.exif.parse_mb_s", rate(p.jpeg)(M.Exif.parse(_).isDefined)))
      .map { case (n, v) => (n, v, "MB/s") }
    out :+ (("multimodal.decode_ok_ratio", ok.toDouble / tried, "ratio"))
  }
}

package graftbench

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.util.zip.GZIPOutputStream

import scala.collection.mutable.ArrayBuffer

import graft.{multimodal => M}

/** Seeded crawl generator: gzip WARC archives whose records are HTML
  * pages, brotli-coded pages (healthy and dying streams), PDFs, DOCX
  * files and images (JPEG with EXIF, PNG, truncated PNG), all built
  * with graft's public encoders.
  *
  * Every HTML-class page plays exactly one role, so the pipeline's
  * ledger has a closed form: plain; a URL twin (the same page again
  * under `?utm_source=`); a member of an exact-duplicate group (one
  * body under several URLs); one half of a near-duplicate pair (one
  * token changed); a carrier of a blocked word; or a member of a
  * boilerplate group (one shared 20-token block). Page bodies carry
  * random contact strings, which the PII scrub turns into placeholders.
  */
object CrawlGen {

  final case class Mix(plain: Int, twinPairs: Int, dupGroups: Int,
                       dupSize: Int, nearPairs: Int, badword: Int,
                       boilerGroups: Int, boilerSize: Int,
                       brotliOk: Int, brotliDying: Int, pdf: Int,
                       docx: Int, jpeg: Int, png: Int, pngBroken: Int) {
    def htmlRecords: Int = plain + 2 * twinPairs + dupGroups * dupSize +
      2 * nearPairs + badword + boilerGroups * boilerSize
    def records: Int = htmlRecords + brotliOk + brotliDying + pdf + docx +
      jpeg + png + pngBroken
  }

  /** The shares of a crawl of about `n` records. */
  def mix(n: Int): Mix = {
    def share(f: Double) = math.max(1, math.round(n * f).toInt)
    Mix(plain = share(0.50), twinPairs = share(0.03), dupGroups = share(0.02),
      dupSize = 3, nearPairs = share(0.04), badword = share(0.03),
      boilerGroups = share(0.02), boilerSize = 3, brotliOk = share(0.05),
      brotliDying = share(0.02), pdf = share(0.06), docx = share(0.05),
      jpeg = share(0.04), png = share(0.02), pngBroken = share(0.01))
  }

  /** The `CorpusPrep.WarcStats` a crawl of `m` must produce. */
  def expected(m: Mix): Map[String, Long] = {
    val html = m.htmlRecords.toLong + m.brotliOk
    val input = html + m.pdf + m.docx
    val afterDedup = input - m.twinPairs - m.badword -
      m.dupGroups * (m.dupSize - 1)
    Map("htmlDocs" -> html, "pdfDocs" -> m.pdf.toLong,
      "officeDocs" -> m.docx.toLong, "codingFenced" -> m.brotliDying.toLong,
      "noindexDropped" -> 0L,
      // the media face routes by magic bytes: PDF and DOCX bodies are
      // media records too (and carry no EXIF to scrub)
      "mediaDocs" -> (m.jpeg + m.png + m.pngBroken + m.pdf + m.docx).toLong,
      "mediaScrubbed" -> m.jpeg.toLong, "mediaFenced" -> m.pngBroken.toLong,
      "input" -> input, "urlDupDropped" -> m.twinPairs.toLong,
      "badwordsDropped" -> m.badword.toLong, "afterDedup" -> afterDedup,
      "nearDupDropped" -> m.nearPairs.toLong,
      "afterSample" -> (afterDedup - m.nearPairs),
      "substrStripped" -> (m.boilerGroups * (m.boilerSize - 1)).toLong)
  }

  val BadWord = "blockedterm"

  /** The payloads of one crawl, by kind, exactly as archived. */
  final case class Payloads(jpeg: Seq[Array[Byte]], png: Seq[Array[Byte]],
                            brotli: Seq[Array[Byte]], pdf: Seq[Array[Byte]],
                            docx: Seq[Array[Byte]]) {
    def bytes: Long = (jpeg ++ png ++ brotli ++ pdf ++ docx).map(_.length.toLong).sum
  }

  final case class Crawl(mix: Mix, files: Int, archiveBytes: Long,
                         payloads: Payloads)

  /** 400 pseudo-words from syllables: a vocabulary wide enough that two
    * random pages share no long run and almost no 3-word shingle.
    */
  private val Vocab: IndexedSeq[String] = {
    val on = Seq("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val nu = Seq("a", "e", "i", "o", "u")
    val co = Seq("", "n", "r", "s", "l", "x")
    (for (a <- on; b <- nu; c <- co; d <- nu) yield a + b + c + d).take(400).toIndexedSeq
  }

  /** Build the records of one crawl; `write` receives (uri, content
    * type, body, content coding) per record, in archive order.
    */
  def build(seed: Long, n: Int): (Mix, Seq[(String, String, Array[Byte], Option[String])], Payloads) = {
    val m = mix(n)
    val rnd = new java.util.Random(seed)
    def words(k: Int): Seq[String] = Seq.fill(k)(Vocab(rnd.nextInt(Vocab.size)))
    def body(): Seq[String] = words(40 + rnd.nextInt(60))
    def pii(): String = s"contact u${rnd.nextInt(100000)}@example.org or " +
      s"555-${1000 + rnd.nextInt(9000)} from 10.${rnd.nextInt(250)}.${rnd.nextInt(250)}.7"
    def page(title: String, toks: Seq[String]): Array[Byte] =
      (s"<html><head><title>$title</title><style>p{margin:0}</style></head>" +
        s"<body><p>${toks.mkString(" ")}</p><footer>${pii()}</footer></body></html>")
        .getBytes("UTF-8")
    val recs = ArrayBuffer.empty[(String, String, Array[Byte], Option[String])]
    var uid = 0
    def url(kind: String): String = { uid += 1; s"https://site${uid % 37}.example/$kind/$uid" }
    def html(u: String, toks: Seq[String]): Unit =
      recs += ((u, "text/html", page("page", toks), None))
    (1 to m.plain).foreach(_ => html(url("p"), body()))
    (1 to m.twinPairs).foreach { _ =>
      val u = url("t"); val p = page("twin", body())
      recs += ((u, "text/html", p, None))
      recs += ((u + "?utm_source=feed", "text/html", p, None))
    }
    (1 to m.dupGroups).foreach { _ =>
      val t = body()
      (1 to m.dupSize).foreach(_ => html(url("d"), t))
    }
    (1 to m.nearPairs).foreach { _ =>
      val t = body()
      val i = t.size / 2
      html(url("n"), t)
      html(url("n"), t.updated(i, t(i) + "q"))
    }
    (1 to m.badword).foreach { _ =>
      val t = body(); html(url("b"), t.patch(t.size / 3, Seq(BadWord), 0))
    }
    (1 to m.boilerGroups).foreach { _ =>
      val block = words(20)
      (1 to m.boilerSize).foreach(_ => html(url("s"), body() ++ block))
    }
    val brotli = ArrayBuffer.empty[Array[Byte]]
    (1 to m.brotliOk).foreach { _ =>
      val b = M.Brotli.encodeFixed(page("br", body()), split = rnd.nextBoolean())
      brotli += b; recs += ((url("r"), "text/html", b, Some("br")))
    }
    (1 to m.brotliDying).foreach { _ =>
      val b = Array[Byte](0x11, 0, 0, 0)
      brotli += b; recs += ((url("x"), "text/html", b, Some("br")))
    }
    val pdf = (1 to m.pdf).map { _ =>
      val b = M.PdfText.write(body().mkString(" "))
      recs += ((url("f") + ".pdf", "application/pdf", b, None)); b
    }
    val docx = (1 to m.docx).map { _ =>
      val b = M.Docx.write(body().mkString(" "))
      recs += ((url("o") + ".docx", "application/vnd.openxmlformats-" +
        "officedocument.wordprocessingml.document", b, None)); b
    }
    def image(): M.Netpbm.Image = {
      val w = 24 + rnd.nextInt(25); val h = 24 + rnd.nextInt(25)
      val base = rnd.nextInt(200)
      val px = Array.tabulate[Byte](w * h * 3) { i =>
        (base + (i / 3) % w + rnd.nextInt(24)).toByte }
      M.Netpbm.Image(w, h, 255, px)
    }
    val jpeg = (1 to m.jpeg).map { _ =>
      val b = M.Exif.write(M.Jpeg.encode(image(), gray = false),
        orientation = 1 + rnd.nextInt(8),
        gps = Some((rnd.nextDouble() * 80, rnd.nextDouble() * 170)),
        make = Some("cam"), dateTime = Some("2024:01:02 03:04:05"),
        comment = Some("c"))
      recs += ((url("i") + ".jpg", "image/jpeg", b, None)); b
    }
    val png = (1 to m.png).map { _ =>
      val b = M.Png.encode(image())
      recs += ((url("g") + ".png", "image/png", b, None)); b
    }
    val broken = (1 to m.pngBroken).map { _ =>
      val b = java.util.Arrays.copyOfRange(M.Png.encode(image()), 0, 20)
      recs += ((url("g") + ".png", "image/png", b, None)); b
    }
    val order = scala.util.Random.javaRandomToRandom(rnd).shuffle(recs.toSeq)
    (m, order, Payloads(jpeg, png ++ broken, brotli.toSeq, pdf, docx))
  }

  /** Write a crawl of about `n` records as `files` gzip archives. */
  def write(dir: String, seed: Long, n: Int, files: Int): Crawl = {
    val (m, recs, payloads) = build(seed, n)
    new java.io.File(dir).mkdirs()
    var total = 0L
    recs.grouped(math.max(1, (recs.size + files - 1) / files)).zipWithIndex
      .foreach { case (part, fi) =>
        val bo = new ByteArrayOutputStream(1 << 20)
        part.foreach { case (uri, ct, body, coding) =>
          val http = (s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n" +
            coding.map(c => s"Content-Encoding: $c\r\n").getOrElse("") +
            "\r\n").getBytes("ISO-8859-1") ++ body
          val head = "WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: $uri\r\n" +
            "Content-Type: application/http; msgtype=response\r\n" +
            s"Content-Length: ${http.length}\r\n\r\n"
          bo.write(head.getBytes("ISO-8859-1"))
          bo.write(http)
          bo.write("\r\n\r\n".getBytes("ISO-8859-1"))
        }
        val path = f"$dir/crawl-$fi%03d.warc.gz"
        val gz = new GZIPOutputStream(new FileOutputStream(path))
        try gz.write(bo.toByteArray) finally gz.close()
        total += new java.io.File(path).length()
      }
    Crawl(m, files, total, payloads)
  }
}

package graft

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

class MultimodalSpec extends SparkSpec {

  test("blobTable: binary payload + typed metadata struct, checksum stable") {
    val blobs = Multimodal.blobTable(spark, sf)
    assert(blobs.schema("payload").dataType == BinaryType)
    val metaT = blobs.schema("meta").dataType.typeName
    assert(metaT == "struct")
    // n_bytes in metadata must equal actual payload length
    assert(blobs.filter(length(col("payload")).cast("bigint")
      =!= col("meta.n_bytes")).count() == 0)
    // metadata-only projection must not read the binary column
    val metaOnly = blobs.select("doc_id", "meta.mime", "meta.n_bytes")
    val scan = metaOnly.queryExecution.executedPlan.toString
    assert(!scan.contains("payload") || metaOnly.count() > 0)
  }

  test("BinarySource: real files ingest as MediaRows — magic-byte mimes, real codecs decode them end-to-end") {
    import graft.multimodal.{Bmp, Multimodal, Netpbm, Wav}
    val dir = java.nio.file.Files.createTempDirectory("graft-binsrc")
    def put(name: String, bytes: Array[Byte]): Unit = {
      java.nio.file.Files.write(dir.resolve(name), bytes); ()
    }
    val img = Netpbm.Image(2, 2, 255, Array(
      255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255).map(_.toByte))
    put("a.ppm", Netpbm.encodeP6(img))
    put("b.bmp", Bmp.encode(img))
    put("c.wav", Wav.encodePcm16(Wav.Audio(8000, Array[Short](300, -400))))
    // extension LIES: bytes are garbage — sniffing must not trust names
    put("d.ppm", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12))
    val rows = graft.sources.BinarySource.read(spark, dir.toString)
    val mimes = rows.collect().map(r =>
      r.getString(0).split('/').last -> r.getStruct(3).getString(0)).toMap
    assert(mimes == Map(
      "a.ppm" -> Multimodal.MimePpm, "b.bmp" -> Multimodal.MimeBmp,
      "c.wav" -> Multimodal.MimeWav, "d.ppm" -> "application/octet-stream"),
      s"$mimes")
    // doc_ids deterministic and distinct; checksum is the module-wide
    // xxhash64-of-payload definition
    val ids = rows.select("doc_id").collect().map(_.getLong(0))
    assert(ids.distinct.length == 4)
    // the ingested frame feeds the REAL decode path end-to-end
    import spark.implicits._
    val feats = Multimodal.extractFeatures(
      rows.select("doc_id", "payload", "meta").as[Multimodal.MediaRow])
      .collect().map(f => f.mime -> f.ok).toMap
    assert(feats == Map(
      Multimodal.MimePpm -> true, Multimodal.MimeBmp -> true,
      Multimodal.MimeWav -> true, "application/octet-stream" -> true),
      s"$feats")
    // a glob confines the scan
    assert(graft.sources.BinarySource.read(spark, dir.toString,
      glob = Some("*.wav")).count() == 1L)
  }

  test("q50: every doc gets a feature row; stub features are deterministic") {
    val out = Multimodal.q50(spark, sf).cache()
    val docs = Tables(spark, sf).documents
    assert(out.count() == docs.count())
    assert(out.filter(!col("ok")).count() == 0)
    assert(out.filter(col("feature_dim") =!= Multimodal.FeatureDim).count() == 0)
    val again = Multimodal.q50(spark, sf)
    assert(out.exceptAll(again).count() == 0)
    out.unpersist()
  }

  test("extractFeatures fences oversized/null payloads as ok=false, not task death") {
    import TestSpark.spark.implicits._
    val rows = Seq(
      MediaRow(1, "hello world".getBytes, MediaMeta("text/plain", 11, 42L)),
      MediaRow(2, null, MediaMeta("text/plain", 0, 0L)),
      MediaRow(3, Array.fill[Byte](128)(7), MediaMeta("video/mp4", 128, 1L)))
    val ds = spark.createDataset(rows)
    val out = Multimodal.extractFeatures(ds, batchBytes = 16, maxBytes = 100)
      .collect().sortBy(_.doc_id)
    assert(out.map(_.ok).toSeq == Seq(true, false, false))
    assert(out(0).features.length == Multimodal.FeatureDim)
    assert(out(1).features.isEmpty && out(2).features.isEmpty)
  }

  test("sampleFrames: every stride-th fixed-size frame as its own row; oversize fenced") {
    import spark.implicits._
    val payload = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
    val media = Seq(
      Multimodal.MediaRow(1L, payload,
        Multimodal.MediaMeta("video/raw", 1000L, 7L)),
      Multimodal.MediaRow(2L, Array.tabulate[Byte](10)(_.toByte),
        Multimodal.MediaMeta("video/raw", 10L, 8L)),
      Multimodal.MediaRow(3L, payload,
        Multimodal.MediaMeta("video/raw", 5000L, 9L))).toDS()
    val frames = Multimodal
      .sampleFrames(media, frameBytes = 256, stride = 2, maxBytes = 2000L)
      .collect().groupBy(_.doc_id)
    // doc 1: 4 frames (256,256,256,232 bytes), stride 2 → idx 0 and 2
    assert(frames(1L).map(_.frame_idx).sorted.toSeq == Seq(0, 2))
    assert(frames(1L).forall(f => f.ok && f.frame.length == 256))
    // doc 2: one short frame (the whole 10-byte payload)
    assert(frames(2L).map(f => (f.frame_idx, f.frame.length)).toSeq ==
      Seq((0, 10)))
    // doc 3: over maxBytes → one fenced row, no frames
    assert(frames(3L).map(f => (f.frame_idx, f.ok)).toSeq == Seq((-1, false)))
    // deterministic: replay emits identical frames
    val again = Multimodal
      .sampleFrames(media, frameBytes = 256, stride = 2, maxBytes = 2000L)
      .collect().map(f => (f.doc_id, f.frame_idx, f.frame.toSeq)).sortBy(x => (x._1, x._2))
    assert(again.toSeq == frames.values.flatten.toSeq
      .map(f => (f.doc_id, f.frame_idx, f.frame.toSeq)).sortBy(x => (x._1, x._2)))
  }

  test("resize: payload shrinks by the factor and meta describes the NEW payload") {
    import spark.implicits._
    val payload = Array.tabulate[Byte](100)(i => i.toByte)
    val media = Seq(Multimodal.MediaRow(1L, payload,
      Multimodal.MediaMeta("image/raw", 100L, 42L))).toDS()
    val out = Multimodal.resize(media, factor = 4).collect()(0)
    assert(out.payload.length == 25)
    assert(out.payload.toSeq == (0 until 100 by 4).map(_.toByte))
    assert(out.meta.n_bytes == 25L)
    // the module-wide definition: xxhash64-of-bytes, same as blobTable
    assert(out.meta.checksum == Multimodal.payloadChecksum(out.payload),
      "checksum must match the resized bytes")
    // resized output feeds the decode stage unchanged (same row type)
    val feats = Multimodal.extractFeatures(Multimodal.resize(media, 4)).collect()
    assert(feats.length == 1 && feats(0).ok)
  }

  // ---- real Netpbm codec path ----

  import graft.multimodal.Netpbm

  /** 2x2 fixture: red, green / blue, white — known pixels, known
    * BT.601 integer lumas (76, 149, 29, 255).
    */
  private def rgbw: Netpbm.Image = Netpbm.Image(2, 2, 255, Array(
    255, 0, 0, 0, 255, 0,
    0, 0, 255, 255, 255, 255).map(_.toByte))

  test("Netpbm: encode/decode round trip, header comments, malformed fencing") {
    val enc = Netpbm.encodeP6(rgbw)
    val dec = Netpbm.decode(enc).get
    assert(dec == rgbw.copy(pixels = dec.pixels) &&
      dec.pixels.toSeq == rgbw.pixels.toSeq, "round trip must be exact")
    // header grammar: comments and arbitrary whitespace between tokens
    val commented = ("P6 # ppm fixture\n# another comment\n 2\t2 " +
      "# trailing\n255\n").getBytes("US-ASCII") ++ rgbw.pixels
    val dc = Netpbm.decode(commented).get
    assert(dc.width == 2 && dc.height == 2 &&
      dc.pixels.toSeq == rgbw.pixels.toSeq)
    // malformed inputs fence as None, never throw: bad magic, 2-byte
    // samples (maxval > 255), truncated raster, dimension overflow
    assert(Netpbm.decode("P5\n2 2\n255\n".getBytes ++ rgbw.pixels).isEmpty)
    assert(Netpbm.decode("P6\n2 2\n65535\n".getBytes ++ rgbw.pixels).isEmpty)
    assert(Netpbm.decode(enc.dropRight(1)).isEmpty)
    assert(Netpbm.decode("P6\n999999999 999999999\n255\n".getBytes).isEmpty)
    // known lumas -> known 16-bin histogram (bins 1, 4, 9, 15; 0.25 each)
    val hist = Netpbm.lumaHistogram(rgbw, 16)
    assert(Seq(1, 4, 9, 15).forall(b => hist(b) == 0.25f), hist.toSeq.toString)
    assert(hist.sum == 1.0f)
  }

  test("extractFeatures on PPM mime runs the REAL decoder; malformed image fences") {
    import spark.implicits._
    val good = Netpbm.encodeP6(rgbw)
    val bad = "P6\nnot numbers\n".getBytes("US-ASCII")
    val media = Seq(
      MediaRow(1L, good, MediaMeta(Multimodal.MimePpm, good.length.toLong,
        Multimodal.payloadChecksum(good))),
      MediaRow(2L, bad, MediaMeta(Multimodal.MimePpm, bad.length.toLong,
        Multimodal.payloadChecksum(bad)))).toDS()
    val out = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(out(0).ok && out(0).features.length == Multimodal.FeatureDim)
    // the histogram of the fixture, not byte-fold output
    assert(Seq(1, 4, 9, 15).forall(b => out(0).features(b) == 0.25f),
      out(0).features.toSeq.toString)
    assert(!out(1).ok && out(1).features.isEmpty,
      "malformed image must fence, not throw")
  }

  test("resize on PPM decodes and RESAMPLES pixels (nearest neighbor), not bytes") {
    import spark.implicits._
    val enc = Netpbm.encodeP6(rgbw)
    val media = Seq(MediaRow(1L, enc,
      MediaMeta(Multimodal.MimePpm, enc.length.toLong,
        Multimodal.payloadChecksum(enc)))).toDS()
    val out = Multimodal.resize(media, factor = 2).collect()(0)
    val img = Netpbm.decode(out.payload).get
    // 2x2 / 2 -> 1x1 keeping pixel (0,0) = pure red
    assert(img.width == 1 && img.height == 1)
    assert(img.pixels.toSeq == Seq(255.toByte, 0.toByte, 0.toByte))
    assert(out.meta.n_bytes == out.payload.length.toLong)
    assert(out.meta.checksum == Multimodal.payloadChecksum(out.payload))
    // odd dims: 3x1 by factor 2 -> ceil -> 2x1, pixels (0,0) and (2,0)
    val wide = Netpbm.Image(3, 1, 255,
      Array[Byte](1, 1, 1, 2, 2, 2, 3, 3, 3))
    val r = Netpbm.resizeNearest(wide, 2)
    assert(r.width == 2 && r.height == 1 &&
      r.pixels.toSeq == Seq[Byte](1, 1, 1, 3, 3, 3))
  }

  test("sampleFrames on a concatenated P6 stream: real frames; trailing garbage fenced visibly") {
    import spark.implicits._
    def solid(r: Int, g: Int, b: Int) = Netpbm.Image(1, 1, 255,
      Array(r.toByte, g.toByte, b.toByte))
    val stream = Netpbm.encodeP6(solid(255, 0, 0)) ++
      Netpbm.encodeP6(solid(0, 255, 0)) ++ Netpbm.encodeP6(solid(0, 0, 255))
    val dirty = stream ++ "XX".getBytes("US-ASCII")
    val media = Seq(
      MediaRow(1L, stream, MediaMeta(Multimodal.MimePpm,
        stream.length.toLong, Multimodal.payloadChecksum(stream))),
      MediaRow(2L, dirty, MediaMeta(Multimodal.MimePpm,
        dirty.length.toLong, Multimodal.payloadChecksum(dirty)))).toDS()
    val out = Multimodal.sampleFrames(media, stride = 2)
      .collect().groupBy(_.doc_id)
    // stride 2 over 3 real frames -> 0 and 2, each a standalone P6
    assert(out(1L).map(_.frame_idx).sorted.toSeq == Seq(0, 2))
    val f2 = out(1L).find(_.frame_idx == 2).get
    assert(Netpbm.decode(f2.frame).get.pixels.toSeq ==
      Seq(0.toByte, 0.toByte, 255.toByte), "frame 2 must be the blue image")
    // trailing garbage: whole frames salvaged + ONE visible fence row
    assert(out(2L).filter(_.ok).map(_.frame_idx).sorted.toSeq == Seq(0, 2))
    assert(out(2L).filter(!_.ok).map(_.frame_idx).toSeq == Seq(3),
      "the bad tail must surface as an ok=false row at its frame index")
    // an EMPTY stream still yields one row — every doc appears in the
    // output (the module contract, matching the byte-window arm)
    val empty = Seq(MediaRow(9L, Array.empty[Byte],
      MediaMeta(Multimodal.MimePpm, 0L,
        Multimodal.payloadChecksum(Array.empty[Byte])))).toDS()
    val er = Multimodal.sampleFrames(empty, stride = 2).collect()
    assert(er.map(f => (f.doc_id, f.frame_idx, f.ok, f.frame.length)).toSeq ==
      Seq((9L, 0, true, 0)),
      s"empty PPM payload must not vanish: ${er.toSeq}")
  }

  // ---- real WAV codec path ----

  import graft.multimodal.Wav

  test("dHash64: gradient/uniform fixtures, brightness invariance, near-dup locality vs unrelated distance") {
    import graft.multimodal.Netpbm
    def gray(w: Int, h: Int, v: (Int, Int) => Int): Netpbm.Image = {
      val px = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val b = (v(x, y) & 0xff).toByte
        px((y * w + x) * 3) = b; px((y * w + x) * 3 + 1) = b
        px((y * w + x) * 3 + 2) = b
      }
      Netpbm.Image(w, h, 255, px)
    }
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // uniform: every adjacent comparison false -> 0
    assert(Netpbm.dHash64(gray(9, 8, (_, _) => 100)) == 0L)
    // luma increasing in x (grid samples land exactly on columns for
    // width 9): g(x) < g(x+1) everywhere -> 0; decreasing -> all 64 set
    assert(Netpbm.dHash64(gray(9, 8, (x, _) => x * 20)) == 0L)
    assert(Netpbm.dHash64(gray(9, 8, (x, _) => (8 - x) * 20)) == -1L)
    // a deterministic textured image
    val rnd = new scala.util.Random(1180)
    val vals = Array.fill(16, 16)(rnd.nextInt(256))
    val base = gray(16, 16, (x, y) => vals(y)(x))
    val hBase = Netpbm.dHash64(base)
    // GLOBAL brightness shift cancels exactly: dHash compares adjacent
    // samples, and a clamp-free +shift preserves every comparison
    // (values halved first for headroom so +60 cannot saturate)
    val vals2 = vals.map(_.map(v => v / 2))
    val b2 = gray(16, 16, (x, y) => vals2(y)(x))
    val b2shift = gray(16, 16, (x, y) => vals2(y)(x) + 60)
    assert(Netpbm.dHash64(b2) == Netpbm.dHash64(b2shift),
      "a global brightness shift must not move the hash")
    // one-pixel edit: at most one grid sample moves -> <= 2 bits
    val oneEdit = gray(16, 16, (x, y) =>
      if (x == 7 && y == 6) 255 - vals(y)(x) else vals(y)(x))
    assert(ham(hBase, Netpbm.dHash64(oneEdit)) <= 2,
      s"one-pixel edit moved ${ham(hBase, Netpbm.dHash64(oneEdit))} bits")
    // an unrelated texture is far (the bucketing premise)
    val rnd2 = new scala.util.Random(99118)
    val other = gray(16, 16, (_, _) => rnd2.nextInt(256))
    assert(ham(hBase, Netpbm.dHash64(other)) > 10,
      s"unrelated images too close: ${ham(hBase, Netpbm.dHash64(other))}")
  }

  test("q119 injection soundness: the derived near-copy sits at hamming <= 1 for ANY text; zero-pixel images fence") {
    import graft.multimodal.{Multimodal, Netpbm}
    val rnd = new scala.util.Random(11900)
    val texts = Seq("", "a", "short text", "x" * 23, "y" * 24, "z" * 200) ++
      (1 to 40).map(_ => (0 until rnd.nextInt(120))
        .map(_ => (32 + rnd.nextInt(95)).toChar).mkString)
    texts.foreach { t =>
      // the q119 construction verbatim: height-8 floor, first raster
      // byte incremented mod 256 — the scaladoc's certain-detection
      // argument (one reachable comparison) must hold for EVERY length
      // (the height-1 layout repeated the flipped comparison across
      // all 8 grid rows, hamming up to 8 — past the <=3 threshold)
      val img = Multimodal.rasterOf(t.getBytes("UTF-8"), minH = 8)
      val px2 = img.pixels.clone()
      px2(0) = ((px2(0) + 1) & 0xff).toByte
      val d = java.lang.Long.bitCount(Netpbm.dHash64(img) ^
        Netpbm.dHash64(Netpbm.Image(img.width, img.height, 255, px2)))
      assert(d <= 1, s"len=${t.length}: injected copy at hamming $d")
    }
    // a zero-pixel image (valid header 'P6 5 0 255') hashes as 0, not
    // an executor-killing AIOOBE — BinarySource feeds arbitrary files
    assert(Netpbm.dHash64(Netpbm.Image(5, 0, 255, Array.empty)) == 0L)
  }

  test("energyHash64: silence/ramp fixtures, gain invariance, localized-edit locality, empty fence") {
    import graft.multimodal.Wav
    def audio(ss: Seq[Int]) = Wav.Audio(8000, ss.map(_.toShort).toArray)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // silence and any CONSTANT |sample| level: all windows equal -> 0
    assert(Wav.energyHash64(audio(Seq.fill(130)(0))) == 0L)
    assert(Wav.energyHash64(audio(Seq.fill(130)(500))) == 0L)
    // |energy| strictly increasing per window (2 samples each) -> no
    // e(k) > e(k+1) -> 0; strictly decreasing -> all 64 set
    val up = (0 until 130).map(i => (i / 2 + 1) * 10)
    assert(Wav.energyHash64(audio(up)) == 0L)
    assert(Wav.energyHash64(audio(up.reverse)) == -1L)
    // GLOBAL gain cancels exactly (x3, clip-free)
    val rnd = new scala.util.Random(12000)
    val tex = (0 until 260).map(_ => rnd.nextInt(2000) - 1000)
    assert(Wav.energyHash64(audio(tex)) ==
      Wav.energyHash64(audio(tex.map(_ * 3))))
    // a localized edit lands in ONE window -> <= 2 hash bits
    val edited = tex.updated(100, tex(100) + 900)
    assert(ham(Wav.energyHash64(audio(tex)),
      Wav.energyHash64(audio(edited))) <= 2)
    // degenerate audio fences as the empty hash
    assert(Wav.energyHash64(audio(Seq.empty)) == 0L)
  }

  test("Wav: encode/decode round trip, chunk skipping, malformed/unsupported fencing") {
    val a = Wav.Audio(8000, Array[Short](0, 1000, -1000, 32767, -32768))
    val enc = Wav.encodePcm16(a)
    val dec = Wav.decode(enc).get
    assert(dec.sampleRate == 8000 && dec.samples.toSeq == a.samples.toSeq)
    // real-world chunk walking: a LIST chunk (odd size -> pad byte)
    // between fmt and data must be skipped, not break the parse
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](5, 0, 0, 0) ++ "INFOx".getBytes("US-ASCII") ++
      Array[Byte](0) // pad to even
    val withList = enc.take(36) ++ listChunk ++ enc.drop(36)
    // fix the RIFF size field (bytes 4..7, little-endian)
    val fixed = withList.clone()
    val riffSize = fixed.length - 8
    fixed(4) = (riffSize & 0xff).toByte
    fixed(5) = ((riffSize >> 8) & 0xff).toByte
    fixed(6) = ((riffSize >> 16) & 0xff).toByte
    fixed(7) = ((riffSize >> 24) & 0xff).toByte
    val dl = Wav.decode(fixed).get
    assert(dl.samples.toSeq == a.samples.toSeq,
      "LIST chunk between fmt and data must be skipped")
    // unsupported/malformed inputs fence as None, never throw
    assert(Wav.decode("RIFFxxxxWAVE".getBytes).isEmpty, "no chunks")
    assert(Wav.decode(enc.dropRight(3)).isEmpty, "truncated data")
    val stereo = enc.clone(); stereo(22) = 2 // channels field
    assert(Wav.decode(stereo).isEmpty, "stereo unsupported -> None")
    val floatFmt = enc.clone(); floatFmt(20) = 3 // IEEE float format
    assert(Wav.decode(floatFmt).isEmpty, "float WAV unsupported -> None")
    // data before fmt: sample layout undefined -> reject
    val dataFirst = enc.take(12) ++ enc.drop(36) ++ enc.slice(12, 36)
    assert(Wav.decode(dataFirst).isEmpty)
  }

  test("extractFeatures on WAV mime runs the real RIFF parser; malformed audio fences") {
    import spark.implicits._
    val a = Wav.Audio(8000, Array[Short](300, -400))
    val good = Wav.encodePcm16(a)
    val bad = "RIFF????WAVEnot-a-chunk".getBytes("US-ASCII")
    val media = Seq(
      MediaRow(1L, good, MediaMeta(Multimodal.MimeWav, good.length.toLong,
        Multimodal.payloadChecksum(good))),
      MediaRow(2L, bad, MediaMeta(Multimodal.MimeWav, bad.length.toLong,
        Multimodal.payloadChecksum(bad)))).toDS()
    val out = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(out(0).ok && out(0).features.length == Multimodal.FeatureDim)
    assert(out(0).features(0) == 8000f && out(0).features(1) == 2f &&
      out(0).features(2) == 400f, out(0).features.toSeq.toString)
    // rms of {300, -400} = sqrt((90000 + 160000) / 2) = sqrt(125000)
    assert(math.abs(out(0).features(3) - math.sqrt(125000.0)) < 0.01)
    assert(!out(1).ok && out(1).features.isEmpty)
  }

  test("q69: real audio decode end-to-end — counts, duration, peak vs the encode layout") {
    val out = Multimodal.q69(spark, sf).cache()
    val docs = Tables(spark, sf).documents
    assert(out.count() == docs.count())
    assert(out.filter(!col("ok")).count() == 0)
    assert(out.filter(col("sample_rate") =!= 8000L).count() == 0)
    // one sample per UTF-8 byte; duration = n/8 ms at 8 kHz
    val bad = out.join(
      docs.select(col("doc_id"),
        length(encode(coalesce(col("text"), lit("")), "UTF-8"))
          .cast("bigint").as("nb")),
      Seq("doc_id"))
      .filter(col("n_samples") =!= col("nb") ||
        // DIV: Spark's `/` on longs is DOUBLE division
        col("duration_ms") =!= expr("nb * 1000 DIV 8000"))
    assert(bad.count() == 0, "sample count/duration must match the layout")
    // peak is bounded by the sample construction: |(b-128)*256| <= 32768
    assert(out.filter(col("peak") > 32768L).count() == 0)
    out.unpersist()
  }

  test("q67: real decode end-to-end — dims, luma stats vs a hand-built doc") {
    val out = Multimodal.q67(spark, sf).cache()
    val docs = Tables(spark, sf).documents
    assert(out.count() == docs.count())
    assert(out.filter(!col("ok")).count() == 0,
      "every encoded image must decode")
    assert(out.filter(col("img_w") =!= 8).count() == 0)
    // height is ceil(utf8_bytes/24) min 1, n_px = 8*h — cross-check on
    // the real corpus without re-running the codec
    val bad = out.join(
      docs.select(col("doc_id"),
        greatest(ceil(length(encode(coalesce(col("text"), lit("")), "UTF-8"))
          .cast("double") / 24).cast("bigint"),
          lit(1L)).as("eh")), // length(binary) = UTF-8 byte count
      Seq("doc_id"))
      .filter(col("img_h") =!= col("eh") || col("n_px") =!= col("eh") * 8)
    assert(bad.count() == 0, "dims must match the encode layout")
    out.unpersist()
  }

  test("Bmp: encode/decode round trip exercises row padding; malformed/unsupported fencing") {
    import graft.multimodal.{Bmp, Netpbm}
    // width 10 -> 30-byte rows -> stride 32: 2 REAL pad bytes per row
    val px = Array.tabulate(10 * 3 * 3)(i => ((i * 37 + 11) % 256).toByte)
    val img = Netpbm.Image(10, 3, 255, px)
    val enc = Bmp.encode(img)
    assert(enc.length == 54 + 32 * 3, "stride must be 4-aligned (30 -> 32)")
    val dec = Bmp.decode(enc).get
    assert(dec.width == 10 && dec.height == 3 && dec.maxVal == 255)
    assert(dec.pixels.toSeq == px.toSeq,
      "BGR/bottom-up/padding must all cancel in the round trip")
    // a 4-aligned width (12-byte rows, zero pad) round-trips too
    val px4 = Array.tabulate(4 * 3 * 2)(i => (i * 13).toByte)
    assert(Bmp.decode(Bmp.encode(Netpbm.Image(4, 2, 255, px4)))
      .get.pixels.toSeq == px4.toSeq)
    // fences: anything outside the uncompressed 24-bpp bottom-up
    // profile is None, never a throw or a misread
    assert(Bmp.decode("not a bmp at all".getBytes).isEmpty)
    assert(Bmp.decode(enc.dropRight(3)).isEmpty, "truncated raster")
    val comp = enc.clone(); comp(30) = 1 // BI_RLE8
    assert(Bmp.decode(comp).isEmpty, "compressed -> None")
    val pal = enc.clone(); pal(28) = 8 // 8-bpp palette
    assert(Bmp.decode(pal).isEmpty, "palette bpp -> None")
    val topDown = enc.clone()
    val hb = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(-3).array()
    System.arraycopy(hb, 0, topDown, 22, 4)
    assert(Bmp.decode(topDown).isEmpty, "top-down (negative height) -> None")
    val v4 = enc.clone(); v4(14) = 108 // BITMAPV4HEADER size
    assert(Bmp.decode(v4).isEmpty, "non-BITMAPINFOHEADER -> None")
  }

  test("extractFeatures on BMP mime runs the real decoder; same pixels as PPM give same features") {
    import spark.implicits._
    import graft.multimodal.{Bmp, Netpbm}
    val px = Array.tabulate(10 * 3 * 2)(i => ((i * 29) % 256).toByte)
    val img = Netpbm.Image(10, 2, 255, px)
    val bmp = Bmp.encode(img)
    val ppm = Netpbm.encodeP6(img)
    val bad = Array[Byte]('B', 'M', 1, 2, 3)
    val media = Seq(
      MediaRow(1L, bmp, MediaMeta(Multimodal.MimeBmp, bmp.length.toLong,
        Multimodal.payloadChecksum(bmp))),
      MediaRow(2L, ppm, MediaMeta(Multimodal.MimePpm, ppm.length.toLong,
        Multimodal.payloadChecksum(ppm))),
      MediaRow(3L, bad, MediaMeta(Multimodal.MimeBmp, bad.length.toLong,
        Multimodal.payloadChecksum(bad)))).toDS()
    val out = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(out(0).ok && out(1).ok && !out(2).ok)
    assert(out(2).features.isEmpty)
    // identical pixels through two different containers -> identical
    // histogram (the decoders converge on the same Image)
    assert(out(0).features.toSeq == out(1).features.toSeq)
  }

  test("q91: real BMP decode end-to-end — dims match the 10-wide padded layout") {
    val out = Multimodal.q91(spark, sf).cache()
    assert(out.count() == Tables(spark, sf).documents.count())
    assert(out.filter(!col("ok")).count() == 0,
      "every encoded BMP must decode")
    assert(out.filter(col("img_w") =!= 10).count() == 0)
    assert(out.filter(col("n_px") =!= col("img_h") * 10).count() == 0)
    out.unpersist()
  }

  /** Patch one IHDR byte and RE-FIX the chunk CRC, so the profile
    * fence under test fires instead of the CRC fence. IHDR layout in
    * [[graft.multimodal.Png.encode]]'s output: signature 8, length
    * 8-11, type 12-15, data 16-28, crc 29-32.
    */
  private def patchIhdr(png: Array[Byte], off: Int, v: Byte): Array[Byte] = {
    val out = png.clone()
    out(off) = v
    val crc = new java.util.zip.CRC32
    crc.update(out, 12, 4 + 13)
    val cb = java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array()
    System.arraycopy(cb, 0, out, 29, 4)
    out
  }

  /** Hand-assemble a minimal PNG (filter-0 rows) at any color type —
    * the fixture maker for the greyscale/alpha arms the repo encoder
    * (always truecolor) cannot produce.
    */
  private def mkPng(w: Int, h: Int, colorType: Int, channels: Int,
                    samples: Array[Byte]): Array[Byte] = {
    val stride = w * channels
    val raw = new Array[Byte](h * (1 + stride))
    for (y <- 0 until h)
      System.arraycopy(samples, y * stride, raw, y * (1 + stride) + 1, stride)
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val idat = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!defl.finished()) idat.write(buf, 0, defl.deflate(buf))
    defl.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1A, '\n')
      .map(_.toByte))
    def chunk(tpe: String, data: Array[Byte]): Unit = {
      val t = tpe.getBytes("US-ASCII")
      out.write(java.nio.ByteBuffer.allocate(4).putInt(data.length).array())
      out.write(t); out.write(data)
      val crc = new java.util.zip.CRC32
      crc.update(t); crc.update(data)
      out.write(java.nio.ByteBuffer.allocate(4)
        .putInt(crc.getValue.toInt).array())
    }
    chunk("IHDR", java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array())
    chunk("IDAT", idat.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  test("Png: round trip exercises all five filters; CRC validation + profile fence matrix") {
    import graft.multimodal.{Netpbm, Png}
    // 7 rows: the y%5 filter cycle covers None/Sub/Up/Average/Paeth
    // and re-enters — every unfilter path runs on real data
    val px = Array.tabulate(10 * 3 * 7)(i => ((i * 37 + 11) % 256).toByte)
    val img = Netpbm.Image(10, 7, 255, px)
    val enc = Png.encode(img)
    val dec = Png.decode(enc).get
    assert(dec.width == 10 && dec.height == 7 && dec.maxVal == 255)
    assert(dec.pixels.toSeq == px.toSeq,
      "filter/deflate/CRC must all cancel in the round trip")

    // greyscale replicates to RGB; RGBA drops alpha; grey+alpha both
    val g = mkPng(3, 2, 0, 1, Array.tabulate[Byte](6)(i => (i * 40).toByte))
    val gDec = Png.decode(g).get
    assert(gDec.pixels.toSeq == (0 until 6).flatMap(i =>
      Seq.fill(3)((i * 40).toByte)))
    val rgbaSamples = Array.tabulate[Byte](2 * 1 * 4)(i => (i * 10).toByte)
    val rgba = Png.decode(mkPng(2, 1, 6, 4, rgbaSamples)).get
    assert(rgba.pixels.toSeq ==
      Seq[Byte](0, 10, 20, 40, 50, 60), "alpha bytes 30/70 dropped")
    val ga = Png.decode(mkPng(2, 1, 4, 2,
      Array[Byte](100, 5, 50, 9))).get
    assert(ga.pixels.toSeq == Seq[Byte](100, 100, 100, 50, 50, 50))

    // fence matrix: profile violations → None (CRC re-fixed so the
    // profile gate itself is what fires), corruption → None
    assert(Png.decode("not a png at all".getBytes).isEmpty)
    assert(Png.decode(patchIhdr(enc, 24, 16)).isEmpty, "16-bit -> None")
    assert(Png.decode(patchIhdr(enc, 25, 3)).isEmpty, "palette -> None")
    // ADAM7: interlaced round trips exactly at sizes that exercise
    // empty passes (1×1: pass 1 only), partial lattices and all seven
    for ((iw, ih) <- Seq((1, 1), (3, 2), (8, 8), (10, 7), (13, 21))) {
      val ipx = Array.tabulate(iw * ih * 3)(i => ((i * 31 + 5) % 256).toByte)
      val iimg = Netpbm.Image(iw, ih, 255, ipx)
      val ienc = Png.encode(iimg, interlaced = true)
      val idec = Png.decode(ienc)
      assert(idec.isDefined, s"Adam7 ${iw}x$ih must decode")
      assert(idec.get.pixels.toSeq == ipx.toSeq,
        s"Adam7 round trip must be exact at ${iw}x$ih")
    }
    // the interlace byte is HONORED: flagging a sequential stream as
    // interlaced changes the expected pass-summed stream length and
    // must fence, not misread
    assert(Png.decode(patchIhdr(enc, 28, 1)).isEmpty,
      "a lying interlace flag -> stream-length fence")
    assert(Png.decode(patchIhdr(enc, 28, 2)).isEmpty,
      "interlace methods past Adam7 -> None")
    val flipped = enc.clone(); flipped(44) = (flipped(44) ^ 0x20).toByte
    assert(Png.decode(flipped).isEmpty, "a flipped payload bit must fail CRC")
    assert(Png.decode(enc.dropRight(6)).isEmpty, "truncated stream -> None")
    assert(Png.decode(enc.take(enc.length - 12)).isEmpty, "missing IEND -> None")
    // lying dims: IHDR claims an extra row the inflate cannot supply
    assert(Png.decode(patchIhdr(enc, 23, 8)).isEmpty, "short raster -> None")
    // adversarial-byte fences (review findings): a chunk length near
    // Int.MaxValue must not wrap the bounds check into an allocation
    // crash, and an FDICT-flagged zlib header (PNG forbids preset
    // dictionaries) must fence instead of spinning the inflate loop
    val hugeLen = enc.clone()
    hugeLen(8) = 0x7F.toByte; hugeLen(9) = 0xFF.toByte
    hugeLen(10) = 0xFF.toByte; hugeLen(11) = 0xF8.toByte
    assert(Png.decode(hugeLen).isEmpty, "wrapping chunk length -> None")
    // rebuild enc with its IDAT data swapped for an FDICT zlib header
    // (0x78 0x20: FDICT bit set, FCHECK valid) + padding, CRC re-fixed
    val fdict = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(enc, 0, 8 + 25) // signature + IHDR chunk
      val data = Array[Byte](0x78.toByte, 0x20.toByte, 1, 2, 3, 4, 5, 6)
      val t = "IDAT".getBytes("US-ASCII")
      out.write(java.nio.ByteBuffer.allocate(4).putInt(data.length).array())
      out.write(t); out.write(data)
      val crc = new java.util.zip.CRC32
      crc.update(t); crc.update(data)
      out.write(java.nio.ByteBuffer.allocate(4)
        .putInt(crc.getValue.toInt).array())
      out.write(enc, enc.length - 12, 12) // IEND chunk
      out.toByteArray
    }
    assert(Png.decode(fdict).isEmpty,
      "FDICT zlib stream must fence, not hang the task")
  }

  test("extractFeatures on PNG mime runs the real decoder; same pixels as PPM give same features") {
    import spark.implicits._
    import graft.multimodal.{Netpbm, Png}
    val px = Array.tabulate(10 * 3 * 2)(i => ((i * 29) % 256).toByte)
    val img = Netpbm.Image(10, 2, 255, px)
    val png = Png.encode(img)
    val ppm = Netpbm.encodeP6(img)
    val bad = Array[Byte](0x89.toByte, 'P', 'N', 'G', 1, 2, 3)
    val media = Seq(
      MediaRow(1L, png, MediaMeta(Multimodal.MimePng, png.length.toLong,
        Multimodal.payloadChecksum(png))),
      MediaRow(2L, ppm, MediaMeta(Multimodal.MimePpm, ppm.length.toLong,
        Multimodal.payloadChecksum(ppm))),
      MediaRow(3L, bad, MediaMeta(Multimodal.MimePng, bad.length.toLong,
        Multimodal.payloadChecksum(bad)))).toDS()
    val out = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(out(0).ok && out(1).ok && !out(2).ok)
    assert(out(0).features.toSeq == out(1).features.toSeq,
      "identical pixels through two containers -> identical histogram")
    // resize round-trips through the real PNG writer
    val resized = Multimodal.resize(media.filter(_.doc_id == 1L), 2)
      .collect()(0)
    val rImg = Png.decode(resized.payload).get
    assert(rImg.width == 5 && rImg.height == 1)
    assert(resized.meta.checksum ==
      Multimodal.payloadChecksum(resized.payload))
  }

  test("Gif: LZW round trips — dictionary growth past width boundaries, 4096 reset, KwKwK, multi-sub-block; fences") {
    import graft.multimodal.{Gif, Netpbm}
    def gray(idx: Array[Byte], w: Int): Netpbm.Image = {
      val h = idx.length / w
      val px = new Array[Byte](idx.length * 3)
      idx.indices.foreach { i =>
        px(3 * i) = idx(i); px(3 * i + 1) = idx(i); px(3 * i + 2) = idx(i)
      }
      Netpbm.Image(w, h, 255, px)
    }
    def rt(img: Netpbm.Image): Unit = {
      val dec = Gif.decode(Gif.encode(img)).get
      assert(dec.width == img.width && dec.height == img.height)
      assert(dec.pixels.toSeq == img.pixels.toSeq,
        s"${img.width}x${img.height} round trip broke")
    }
    // KwKwK canonical run: a constant image is all 'aaaa…'
    rt(gray(Array.fill[Byte](40)(7), 10))
    // alternating pattern: repeated dictionary hits
    rt(gray(Array.tabulate[Byte](100)(i => (i % 2).toByte), 10))
    // seeded fuzz across the width-escalation boundaries (256→512→…):
    // 256 distinct values force minCode 8, and random bytes grow the
    // dictionary ~1/code — 24000 pixels crosses 4096 and RESETS, and
    // the LZW stream spans many 255-byte sub-blocks
    val rnd = new scala.util.Random(20260815L)
    Seq(1, 9, 257, 1000, 24000).foreach { n =>
      rt(gray(Array.fill[Byte](n * 10)(rnd.nextInt(256).toByte), 10))
    }
    // a COLOR image within the palette ceiling round trips too
    val colored = Netpbm.Image(4, 2, 255,
      Array.tabulate[Byte](24)(i => ((i / 3) * 40 + i % 3).toByte))
    rt(colored)
    // fences
    assert(Gif.decode("not a gif at all!".getBytes).isEmpty)
    val enc = Gif.encode(gray(Array.tabulate[Byte](40)(_.toByte), 10))
    assert(Gif.decode(enc.dropRight(8)).isEmpty, "cut sub-block chain -> None")
    val noImg = enc.take(13) :+ 0x3B.toByte // screen desc then trailer
    assert(Gif.decode(noImg).isEmpty, "no image before trailer -> None")
    // INTERLACE: the 4-pass row order round-trips exactly at every
    // height class (h=1 touches only pass 1; h<8 skips pass 2; tall
    // images exercise all four strides)
    for (ih <- Seq(1, 3, 7, 8, 9, 40)) {
      val img = gray(Array.tabulate[Byte](10 * ih)(i =>
        ((i * 13 + 7) % 256).toByte), 10)
      val back = Gif.decode(Gif.encode(img, interlaced = true))
      assert(back.isDefined, s"interlaced h=$ih must decode")
      assert(back.get.pixels.toSeq == img.pixels.toSeq,
        s"interlaced round trip must be exact at h=$ih")
    }
    // …and the flag is HONORED, not ignored: patching interlace onto
    // a sequentially-written stream decodes row-PERMUTED, not equal
    // (64 distinct values -> bits 6, table 64 entries, image
    // descriptor at 13 + 192, its flags byte 9 later)
    val enc64 = Gif.encode(gray(Array.tabulate[Byte](40)(_.toByte), 10))
    val dIx = 13 + 3 * 64
    assert(enc64(dIx) == 0x2C.toByte, "descriptor offset arithmetic")
    val inter = enc64.clone(); inter(dIx + 9) = 0x40.toByte
    val permuted = Gif.decode(inter)
    assert(permuted.isDefined, "interlaced streams are in profile now")
    assert(permuted.get.pixels.toSeq !=
      Gif.decode(enc64).get.pixels.toSeq,
      "the interlace flag must reorder rows, not be ignored")
    // palette ceiling refusal on encode: 300 DISTINCT colors (the
    // (i%256) form tops out at exactly 256 — channels repeat together)
    val tooMany = Netpbm.Image(300, 1, 255,
      Array.tabulate[Byte](900) { i =>
        val p = i / 3
        (i % 3: @unchecked) match {
          case 0 => (p >> 8).toByte
          case 1 => (p & 0xff).toByte
          case 2 => 0
        }
      })
    intercept[IllegalArgumentException](Gif.encode(tooMany))
  }

  test("extractFeatures on GIF mime runs the real decoder; resize stays within the palette") {
    import spark.implicits._
    import graft.multimodal.{Gif, Netpbm}
    // grayscale by construction: each pixel's 3 channels share i/3
    val px = Array.tabulate[Byte](10 * 2 * 3)(i => ((i / 3 * 13) % 256).toByte)
    val img = Netpbm.Image(10, 2, 255, px)
    val gif = Gif.encode(img)
    val ppm = Netpbm.encodeP6(img)
    val bad = "GIF89a but then garbage".getBytes
    val media = Seq(
      MediaRow(1L, gif, MediaMeta(Multimodal.MimeGif, gif.length.toLong,
        Multimodal.payloadChecksum(gif))),
      MediaRow(2L, ppm, MediaMeta(Multimodal.MimePpm, ppm.length.toLong,
        Multimodal.payloadChecksum(ppm))),
      MediaRow(3L, bad, MediaMeta(Multimodal.MimeGif, bad.length.toLong,
        Multimodal.payloadChecksum(bad)))).toDS()
    val out = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(out(0).ok && out(1).ok && !out(2).ok)
    assert(out(0).features.toSeq == out(1).features.toSeq,
      "identical pixels through two containers -> identical histogram")
    val resized = Multimodal.resize(media.filter(_.doc_id == 1L), 2)
      .collect()(0)
    val rImg = Gif.decode(resized.payload).get
    assert(rImg.width == 5 && rImg.height == 1)
  }

  test("q128: real WebP VP8L decode end-to-end — full option gauntlet, stats are byte stats") {
    val out = Multimodal.q128(spark, sf).cache()
    assert(out.count() == Tables(spark, sf).documents.count())
    assert(out.filter(!col("ok")).count() == 0,
      "every encoded WebP must decode")
    assert(out.filter(col("img_w") =!= 10).count() == 0)
    assert(out.filter(col("n_px") =!= col("img_h") * 10).count() == 0)
    out.unpersist()
  }

  test("q125: real GIF decode end-to-end — grayscale layout, stats are byte stats") {
    val out = Multimodal.q125(spark, sf).cache()
    assert(out.count() == Tables(spark, sf).documents.count())
    assert(out.filter(!col("ok")).count() == 0,
      "every encoded GIF must decode")
    assert(out.filter(col("img_w") =!= 10).count() == 0)
    assert(out.filter(col("n_px") =!= col("img_h") * 10).count() == 0)
    out.unpersist()
  }

  test("Jpeg: constant tiles round-trip EXACTLY; lossy paths bounded; restarts, 4:2:0, fences") {
    import graft.multimodal.{Jpeg, Netpbm}
    def gray(vals: Array[Int], w: Int): Netpbm.Image = {
      val px = new Array[Byte](vals.length * 3)
      vals.indices.foreach { i =>
        px(3 * i) = vals(i).toByte; px(3 * i + 1) = vals(i).toByte
        px(3 * i + 2) = vals(i).toByte
      }
      Netpbm.Image(w, vals.length / w, 255, px)
    }
    def maxErr(a: Netpbm.Image, b: Netpbm.Image): Int =
      a.pixels.zip(b.pixels).map { case (x, y) =>
        math.abs((x & 0xff) - (y & 0xff)) }.max
    // constant 8×8 tiles survive DCT→quant-1→IDCT bit-exactly (the
    // q126 oracle device): a constant block's transform is a single
    // integral DC coefficient, every AC exactly zero
    val tiles = gray(Array.tabulate(80 * 16) { i =>
      val bx = (i % 80) / 8; val by = (i / 80) / 8
      (by * 10 + bx) * 16 % 256
    }, 80)
    assert(maxErr(tiles, Jpeg.decode(Jpeg.encode(tiles)).get) == 0,
      "constant tiles must round-trip exactly")
    // RESTART MARKERS: same exactness through the RST/DC-reset path
    val viaRst = Jpeg.decode(Jpeg.encode(tiles, restartEvery = 3)).get
    assert(maxErr(tiles, viaRst) == 0, "restart path must be lossless too")
    // lossy-path fidelity bounds at quant 1 (measured 1/0/3/1 — pinned
    // with headroom so an IDCT regression screams, cosmetic float
    // drift does not)
    val rnd = new scala.util.Random(7L)
    val noisy = gray(Array.fill(64 * 48)(rnd.nextInt(256)), 64)
    assert(maxErr(noisy, Jpeg.decode(Jpeg.encode(noisy)).get) <= 2)
    val cpx = Array.tabulate[Byte](32 * 24 * 3)(i => ((i * 7) % 256).toByte)
    val cImg = Netpbm.Image(32, 24, 255, cpx)
    assert(maxErr(cImg, Jpeg.decode(Jpeg.encode(cImg, gray = false)).get) <= 5,
      "4:4:4 color round trip must stay within YCbCr rounding")
    val constC = Netpbm.Image(20, 12, 255,
      Array.tabulate[Byte](20 * 12 * 3)(i => Seq(200, 50, 120)(i % 3).toByte))
    assert(maxErr(constC, Jpeg.decode(Jpeg.encode(constC, gray = false,
      subsample420 = true)).get) <= 2,
      "constant color through 4:2:0 must survive subsampling")
    // non-multiple-of-8 dims: edge-replicated blocks crop back
    val odd = gray(Array.tabulate(13 * 11)(i => (i * 19) % 256), 13)
    val oDec = Jpeg.decode(Jpeg.encode(odd)).get
    assert(oDec.width == 13 && oDec.height == 11 && maxErr(odd, oDec) <= 2)

    // fence matrix
    val enc = Jpeg.encode(tiles)
    assert(Jpeg.decode("not a jpeg at all!!".getBytes).isEmpty)
    assert(Jpeg.decode(enc.dropRight(10)).isEmpty, "cut entropy data -> None")
    def patchMarker(from: Int, to: Int): Array[Byte] = {
      val c = enc.clone()
      var i = 0
      var done = false
      while (!done && i < c.length - 1) {
        if ((c(i) & 0xff) == 0xFF && (c(i + 1) & 0xff) == from) {
          c(i + 1) = to.toByte; done = true
        }
        i += 1
      }
      assert(done, s"marker $from not found"); c
    }
    assert(Jpeg.decode(patchMarker(0xC0, 0xC2)).isEmpty,
      "SOF2 with a baseline scan script (Ss=0,Se=63 interleaved) is " +
        "a malformed progressive file -> None")
    assert(Jpeg.decode(patchMarker(0xC0, 0xC9)).isEmpty,
      "arithmetic coding -> None")
    // 12-bit precision: SOF0 payload's first byte (find FFC0, +4)
    val sofAt = enc.indices.find(i => (enc(i) & 0xff) == 0xFF &&
      i + 1 < enc.length && (enc(i + 1) & 0xff) == 0xC0).get
    val deep = enc.clone(); deep(sofAt + 4) = 12.toByte
    assert(Jpeg.decode(deep).isEmpty, "12-bit precision -> None")
    // garbage entropy bytes: huffman desync must fence, not loop/crash
    val garbled = enc.clone()
    (enc.length - 30 until enc.length - 20).foreach(i =>
      garbled(i) = 0x55.toByte)
    assert(Jpeg.decode(garbled).isEmpty || true) // must RETURN (no hang)
    // review-fix pins: a corrupt SOS table id (Td=4) fences, never an
    // ArrayIndexOutOfBounds task death
    val sosIx = enc.indices.find(i => (enc(i) & 0xff) == 0xFF &&
      i + 1 < enc.length && (enc(i + 1) & 0xff) == 0xDA).get
    val badTd = enc.clone(); badTd(sosIx + 6) = 0x40.toByte // comp 1 TdTa
    assert(Jpeg.decode(badTd).isEmpty, "table id > 3 -> None, not AIOOBE")
    // a short SOF segment at EOF fences before any header-byte read
    assert(Jpeg.decode(Array[Byte](0xFF.toByte, 0xD8.toByte,
      0xFF.toByte, 0xC0.toByte, 0, 2)).isEmpty)
    // a 1-component scan is NON-INTERLEAVED whatever the declared
    // sampling factors (T.81 A.2.3): forcing 2x2 on a grayscale file
    // must decode pixel-identically, not block-permuted
    val sof = enc.indices.find(i => (enc(i) & 0xff) == 0xFF &&
      i + 1 < enc.length && (enc(i + 1) & 0xff) == 0xC0).get
    val s22 = enc.clone(); s22(sof + 11) = 0x22.toByte // comp 1 HV
    assert(Jpeg.decode(s22).get.pixels.toSeq ==
      Jpeg.decode(enc).get.pixels.toSeq,
      "grayscale sampling factors must not reshape the block walk")
  }

  test("Jpeg progressive (SOF2): SA + spectral-selection decode == baseline pixels; exact tiles; restarts") {
    import graft.multimodal.{Jpeg, Netpbm}
    def gray(vals: Array[Int], w: Int): Netpbm.Image = {
      val px = new Array[Byte](vals.length * 3)
      vals.indices.foreach { i =>
        px(3 * i) = vals(i).toByte; px(3 * i + 1) = vals(i).toByte
        px(3 * i + 2) = vals(i).toByte
      }
      Netpbm.Image(w, vals.length / w, 255, px)
    }
    def maxErr(a: Netpbm.Image, b: Netpbm.Image): Int =
      a.pixels.zip(b.pixels).map { case (x, y) =>
        math.abs((x & 0xff) - (y & 0xff)) }.max
    // the progressive correctness oracle: encodeProgressive carries
    // the SAME quantized coefficients as encode through a real SOF2
    // scan script (DC first+refine, two spectral bands × AC
    // first+refine, EOBRUN) — so decode must be PIXEL-IDENTICAL to
    // the baseline path, whatever the content
    def sameAsBaseline(img: Netpbm.Image, isGray: Boolean,
                       sub420: Boolean, q: Int = 1,
                       rst: Int = 0): Unit = {
      val prog = Jpeg.decode(Jpeg.encodeProgressive(img, gray = isGray,
        quant = q, subsample420 = sub420, restartEvery = rst))
      val base = Jpeg.decode(Jpeg.encode(img, gray = isGray,
        quant = q, subsample420 = sub420))
      assert(prog.isDefined, "progressive fixture must decode")
      assert(prog.get.pixels.toSeq == base.get.pixels.toSeq,
        s"progressive != baseline (gray=$isGray sub=$sub420 q=$q rst=$rst)")
    }
    val tiles = gray(Array.tabulate(80 * 16) { i =>
      val bx = (i % 80) / 8; val by = (i / 80) / 8
      (by * 10 + bx) * 16 % 256
    }, 80)
    // constant tiles: AC bands are all-zero -> the whole scan is one
    // EOBRUN; and the q126 exactness device must hold through SOF2
    sameAsBaseline(tiles, isGray = true, sub420 = false)
    assert(maxErr(tiles,
      Jpeg.decode(Jpeg.encodeProgressive(tiles)).get) == 0,
      "constant tiles must round-trip exactly through the progressive path")
    val rnd = new scala.util.Random(7L)
    val noisy = gray(Array.fill(64 * 48)(rnd.nextInt(256)), 64)
    sameAsBaseline(noisy, isGray = true, sub420 = false)
    // smooth gradient at a coarser quant: sparse ACs, real EOBRUNs,
    // mixed history/new coefficients across the refinement scans
    val grad = gray(Array.tabulate(48 * 40)(i =>
      ((i % 48) * 2 + (i / 48) * 3) % 256), 48)
    sameAsBaseline(grad, isGray = true, sub420 = false, q = 4)
    val cpx = Array.tabulate[Byte](32 * 24 * 3)(i => ((i * 7) % 256).toByte)
    val cImg = Netpbm.Image(32, 24, 255, cpx)
    sameAsBaseline(cImg, isGray = false, sub420 = false)
    sameAsBaseline(cImg, isGray = false, sub420 = true)
    // odd dims: the padded MCU grid carries DC-only blocks the AC
    // scans never visit — crop must still match baseline
    val odd = gray(Array.tabulate(13 * 11)(i => (i * 19) % 256), 13)
    sameAsBaseline(odd, isGray = true, sub420 = false)
    // restart markers inside every progressive scan (DC chain + EOBRUN
    // reset at each RST)
    sameAsBaseline(tiles, isGray = true, sub420 = false, rst = 3)
    sameAsBaseline(cImg, isGray = false, sub420 = true, rst = 2)
    sameAsBaseline(noisy, isGray = true, sub420 = false, rst = 5)
    // fences: truncated progressive entropy data; cut before EOI
    val p = Jpeg.encodeProgressive(tiles)
    assert(Jpeg.decode(p.dropRight(8)).isEmpty,
      "truncated progressive stream -> None")
    // SOF2 must still be sniffed when headers precede it (APPn)
    assert((p(2) & 0xff) == 0xFF) // marker framing sanity
  }

  test("Webp VP8L: lossless round trips across every transform/cache/run path; fences; DistMap pin") {
    import graft.multimodal.{Netpbm, Webp}
    val rnd = new scala.util.Random(11L)
    def randImg(w: Int, h: Int, colors: Int): Netpbm.Image = {
      val pal = Array.fill(colors)(
        Array[Byte](rnd.nextInt(256).toByte, rnd.nextInt(256).toByte,
          rnd.nextInt(256).toByte))
      val px = new Array[Byte](w * h * 3)
      (0 until w * h).foreach { i =>
        val c = pal(rnd.nextInt(colors))
        px(3 * i) = c(0); px(3 * i + 1) = c(1); px(3 * i + 2) = c(2)
      }
      Netpbm.Image(w, h, 255, px)
    }
    def rt(img: Netpbm.Image, tag: String,
           enc: Netpbm.Image => Array[Byte]): Unit = {
      val back = Webp.decode(enc(img))
      assert(back.isDefined, s"$tag must decode")
      assert(back.get.width == img.width && back.get.height == img.height)
      assert(back.get.pixels.toSeq == img.pixels.toSeq,
        s"VP8L is lossless: $tag must round-trip exactly")
    }
    // odd dims so 16×16 transform blocks and edge pixels all exercise
    val img = randImg(37, 23, colors = 1000)
    rt(img, "plain", i => Webp.encode(i))
    rt(img, "subtract-green", i => Webp.encode(i, subtractGreen = true))
    // every predictor mode, incl. the border rules at row 0 / col 0
    for (mode <- 0 to 13)
      rt(img, s"predictor-$mode",
        i => Webp.encode(i, predictor = Some(mode)))
    rt(img, "cross-color",
      i => Webp.encode(i, crossColor = Some((23, -40, 115))))
    rt(img, "sg+predictor-11", i =>
      Webp.encode(i, subtractGreen = true, predictor = Some(11)))
    rt(img, "sg+cc+predictor-12", i => Webp.encode(i,
      subtractGreen = true, crossColor = Some((-7, 9, -128)),
      predictor = Some(12)))
    // color cache + LZ77 dist-1 runs want repetitive content
    val repetitive = {
      val base = randImg(64, 9, colors = 5)
      val px = base.pixels.clone()
      // paint long horizontal runs
      (2 until 5).foreach { row =>
        (8 until 60).foreach { x =>
          val o = (row * 64 + x) * 3
          px(o) = 7; px(o + 1) = 77; px(o + 2) = 127
        }
      }
      Netpbm.Image(64, 9, 255, px)
    }
    rt(repetitive, "cache-4", i => Webp.encode(i, cacheBits = 4))
    rt(repetitive, "runs", i => Webp.encode(i, runs = true))
    rt(repetitive, "cache-6+runs",
      i => Webp.encode(i, cacheBits = 6, runs = true))
    rt(repetitive, "cache-11", i => Webp.encode(i, cacheBits = 11))
    // color indexing at every bundling width: 2/4/16/200 colors
    for (colors <- Seq(2, 4, 13, 200))
      rt(randImg(41, 17, colors), s"palette-$colors",
        i => Webp.encode(i, palette = true))
    // 1×1 and 1×N degenerate shapes
    rt(randImg(1, 1, 1), "1x1", i => Webp.encode(i))
    rt(randImg(1, 9, 3), "1x9-pred7", i => Webp.encode(i, predictor = Some(7)))

    // fences: lossy VP8, animation, truncation, garbage, bad version
    def chunkFile(tag: String): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      def le32(v: Int) = (0 until 4).foreach(i => o.write((v >> (8 * i)) & 0xff))
      "RIFF".foreach(c => o.write(c)); le32(12 + 8)
      "WEBP".foreach(c => o.write(c))
      tag.foreach(c => o.write(c)); le32(4); le32(0)
      o.toByteArray
    }
    assert(Webp.decode(chunkFile("VP8 ")).isEmpty, "lossy VP8 -> None")
    assert(Webp.decode(chunkFile("ANIM")).isEmpty, "animation -> None")
    assert(Webp.decode("RIFFxxxxWAVE".getBytes).isEmpty)
    assert(Webp.decode("not even riff".getBytes).isEmpty)
    val good = Webp.encode(img)
    assert(Webp.decode(java.util.Arrays.copyOfRange(good, 0,
      good.length - 12)).isEmpty, "truncated stream -> None")
    val badVer = good.clone()
    // VP8L payload starts at 20: signature byte then dims; version
    // bits live at bit offset 29 of the stream (byte 20+1+3, bit 5)
    badVer(24) = (badVer(24) | 0xE0).toByte
    assert(Webp.decode(badVer).isEmpty, "nonzero version -> None")

    // meta prefix groups: 4×4 blocks alternating between two code
    // groups — the entropy-image dispatch path
    rt(img, "meta-groups", i => Webp.encode(i, metaGroups = true))
    rt(randImg(9, 31, 40), "meta-groups-tall",
      i => Webp.encode(i, metaGroups = true, subtractGreen = true))

    // a VP8X still wrapping the same VP8L chunk must decode (the
    // extended container real encoders emit for metadata-bearing
    // stills); the walk skips to the VP8L chunk
    val plainFile = Webp.encode(img)
    val vp8x = {
      val o = new java.io.ByteArrayOutputStream()
      def le32(v: Int) = (0 until 4).foreach(i => o.write((v >> (8 * i)) & 0xff))
      def le24(v: Int) = (0 until 3).foreach(i => o.write((v >> (8 * i)) & 0xff))
      val inner = java.util.Arrays.copyOfRange(plainFile, 12, plainFile.length)
      "RIFF".foreach(c => o.write(c)); le32(4 + 18 + inner.length)
      "WEBP".foreach(c => o.write(c))
      "VP8X".foreach(c => o.write(c)); le32(10)
      o.write(0); le24(0) // flags + reserved
      le24(img.width - 1); le24(img.height - 1)
      o.write(inner, 0, inner.length)
      o.toByteArray
    }
    val xDec = Webp.decode(vp8x)
    assert(xDec.isDefined && xDec.get.pixels.toSeq == img.pixels.toSeq,
      "a VP8X still carrying VP8L must decode identically")

    // the resize stage round-trips WebP losslessly (subset pixels)
    {
      import spark.implicits._
      val mime = graft.sources.BinarySource.MimeWebp
      val media = Seq(MediaRow(1L, plainFile,
        MediaMeta(mime, plainFile.length.toLong,
          Multimodal.payloadChecksum(plainFile)))).toDS()
      val resized = Multimodal.resize(media, 2).collect()(0)
      val rImg = Webp.decode(resized.payload).get
      assert(rImg.width == (img.width + 1) / 2 ||
        rImg.width == img.width / 2)
      assert(resized.meta.mime == mime)
    }

    // the 2D distance map's generating rule, pinned against the
    // RFC 9649 table's literal prefix
    val rfc = Seq((0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0),
      (1, 2), (-1, 2), (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0),
      (1, 3), (-1, 3), (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2),
      (0, 4), (4, 0))
    assert(Webp.DistMap.take(24).toSeq == rfc,
      "distance map must match the spec table")
    assert(Webp.DistMap.length == 120)
  }

  test("animated WebP/GIF: frame 1 is the poster image, is_animated flags read true, fences hold") {
    import graft.multimodal.{Gif, Netpbm, Webp}
    val rnd = new scala.util.Random(1802L)
    def randImg(w: Int, h: Int): Netpbm.Image =
      Netpbm.Image(w, h, 255,
        Array.fill[Byte](w * h * 3)(rnd.nextInt(256).toByte))
    // WebP: the ANMF poster frame decodes exactly; the second,
    // deliberately-different frame must NOT be the one returned
    val f1 = randImg(21, 13)
    val f2 = Netpbm.Image(21, 13, 255, f1.pixels.map(b => (~b).toByte))
    val anim = Webp.encodeAnimated(Seq(f1, f2), durationMs = 80)
    val dec = Webp.decode(anim)
    assert(dec.isDefined, "animated WebP must decode its poster frame")
    assert(dec.get.pixels.toSeq == f1.pixels.toSeq,
      "frame 1, not frame 2, is the poster")
    assert(Webp.isAnimated(anim), "the animation flag must read true")
    assert(!Webp.isAnimated(Webp.encode(f1)),
      "a still must not read animated")
    // single-frame animation is still an animation (container says so)
    val one = Webp.encodeAnimated(Seq(f1))
    assert(Webp.decode(one).exists(_.pixels.toSeq == f1.pixels.toSeq))
    assert(Webp.isAnimated(one))
    // fences: an ANMF with no bitstream subchunk; a truncated
    // container keeping only the RIFF magic; a lying inner size
    def emptyAnmf: Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      def le32(v: Int) = (0 until 4).foreach(i => o.write((v >> (8 * i)) & 0xff))
      "RIFF".foreach(c => o.write(c)); le32(4 + 8 + 16)
      "WEBP".foreach(c => o.write(c))
      "ANMF".foreach(c => o.write(c)); le32(16)
      (0 until 16).foreach(_ => o.write(0))
      o.toByteArray
    }
    assert(Webp.decode(emptyAnmf).isEmpty, "ANMF with no bitstream fences")
    assert(Webp.decode(java.util.Arrays.copyOfRange(anim, 0, 14)).isEmpty,
      "truncated animated container fences")
    val lying = anim.clone()
    // the first ANMF sits right after VP8X(10)+ANIM(6) chunks: its
    // size field at 12+18+14+4; blow it past the file
    val anmfAt = 12 + 8 + 10 + 8 + 6
    assert(new String(lying, anmfAt, 4, "US-ASCII") == "ANMF")
    lying(anmfAt + 4) = 0xff.toByte; lying(anmfAt + 5) = 0xff.toByte
    lying(anmfAt + 6) = 0xff.toByte
    assert(Webp.decode(lying).isEmpty, "an ANMF escaping the file fences")
    // random mutations never throw
    (0 until 300).foreach { _ =>
      val b = anim.clone()
      (0 until 1 + rnd.nextInt(4)).foreach(_ =>
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte)
      Webp.decode(b); Webp.isAnimated(b)
    }

    // GIF: frame 1 already decodes by design; pin the flag via a
    // spliced two-frame stream (second frame's descriptor+data blocks
    // inserted before the trailer — its palette indices are never
    // read, framing is what the probe walks)
    def gray(w: Int, h: Int, seed: Int): Netpbm.Image = {
      val px = new Array[Byte](w * h * 3)
      (0 until w * h).foreach { i =>
        val v = ((i * 37 + seed) % 256).toByte
        px(3 * i) = v; px(3 * i + 1) = v; px(3 * i + 2) = v
      }
      Netpbm.Image(w, h, 255, px)
    }
    val g1 = gray(11, 7, 5)
    val s1 = Gif.encode(g1)
    val s2 = Gif.encode(gray(11, 7, 90))
    def imageBlocksOf(s: Array[Byte]): Array[Byte] = {
      val gctSize = 3 * (1 << ((s(10) & 7) + 1))
      val at = 13 + ((if ((s(10) & 0x80) != 0) gctSize else 0))
      assert((s(at) & 0xff) == 0x2C, "descriptor where expected")
      java.util.Arrays.copyOfRange(s, at, s.length - 1) // sans trailer
    }
    val spliced = java.util.Arrays.copyOfRange(s1, 0, s1.length - 1) ++
      imageBlocksOf(s2) :+ 0x3B.toByte
    assert(Gif.decode(spliced).exists(_.pixels.toSeq == g1.pixels.toSeq),
      "spliced animated GIF still decodes frame 1")
    assert(Gif.isAnimated(spliced), "two descriptors read animated")
    assert(!Gif.isAnimated(s1), "a still GIF must not read animated")
    assert(!Gif.isAnimated(java.util.Arrays.copyOfRange(spliced, 0, 20)),
      "a truncated walk reads false, never throws")
  }

  test("extractFeatures on WebP mime runs the VP8L decoder") {
    import spark.implicits._
    import graft.multimodal.{Netpbm, Webp}
    // constant image → features equal the PPM arm's exactly
    val px = Array.tabulate[Byte](12 * 8 * 3)(i =>
      Seq(40, 90, 200)(i % 3).toByte)
    val img = Netpbm.Image(12, 8, 255, px)
    val webp = Webp.encode(img, subtractGreen = true)
    val ppm = Netpbm.encodeP6(img)
    val mime = graft.sources.BinarySource.MimeWebp
    val media = Seq(
      MediaRow(1L, webp, MediaMeta(mime, webp.length.toLong,
        Multimodal.payloadChecksum(webp))),
      MediaRow(2L, ppm, MediaMeta(Multimodal.MimePpm, ppm.length.toLong,
        Multimodal.payloadChecksum(ppm))),
      MediaRow(3L, "RIFF????WEBPVP8 ".getBytes,
        MediaMeta(mime, 16L, 0L))).toDS()
    val out = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(out(0).ok && out(1).ok)
    assert(out(0).features.toSeq == out(1).features.toSeq,
      "WebP and PPM features must match for identical pixels")
    assert(!out(2).ok, "lossy VP8 must fence in the feature path")
  }

  test("Mp3: frame-header walk — ID3v2 skip, resync, VBR, truncation, version/layer matrix") {
    import graft.multimodal.Mp3
    // plain CBR MPEG-1 Layer III at 44100 / 128 kbps mono
    val cbr = Mp3.write(100)
    val i1 = Mp3.parse(cbr).get
    assert(i1.version == 10 && i1.layer == 3 && i1.sampleRate == 44100)
    assert(i1.bitrateKbps == 128 && i1.channels == 1 && !i1.vbr)
    assert(i1.frames == 100)
    assert(i1.durationMs == 100L * 1152 * 1000 / 44100)
    // ID3v2 prefix whose junk bytes CONTAIN fake sync patterns: the
    // double-sync resync guard must still find the real first frame
    val tagged = Mp3.write(40, id3Junk = 300)
    val i2 = Mp3.parse(tagged).get
    assert(i2.frames == 40 && i2.sampleRate == 44100)
    // VBR: alternating bitrate indexes walk frames of different sizes
    val vbr = Mp3.write(30, bitrateIdxs = Seq(9, 5))
    val i3 = Mp3.parse(vbr).get
    assert(i3.vbr && i3.frames == 30)
    assert(i3.bitrateKbps == 128, "reported bitrate is the first frame's")
    // truncated final frame drops; the counted frames keep
    val cut = java.util.Arrays.copyOfRange(cbr, 0, cbr.length - 50)
    assert(Mp3.parse(cut).get.frames == 99)
    // version/layer matrix: MPEG-2.5 Layer III (576 samples/frame) and
    // MPEG-1 Layer I (384 samples/frame, ×4 length arithmetic)
    val lo = Mp3.parse(Mp3.write(20, versionBits = 0, srIx = 2)).get
    assert(lo.version == 25 && lo.sampleRate == 8000 && lo.frames == 20)
    assert(lo.durationMs == 20L * 576 * 1000 / 8000)
    val l1 = Mp3.parse(Mp3.write(15, layer = 1)).get
    assert(l1.layer == 1 && l1.frames == 15)
    assert(l1.durationMs == 15L * 384 * 1000 / 44100)
    // a SINGLE complete frame followed by the classic ID3v1 'TAG'
    // trailer: the double-sync guard must not reject the real frame
    // (the trailer window applies at the stream's natural start)
    val oneTagged = Mp3.write(1) ++
      ("TAG" + "x" * 125).getBytes("ISO-8859-1")
    assert(Mp3.parse(oneTagged).exists(_.frames == 1),
      "single frame + ID3v1 trailer must parse")
    // …but a fake sync inside junk near EOF gets NO such window
    val junkFake = Array.fill[Byte](60)(0x33) ++
      Mp3.write(1).take(4) ++ Array.fill[Byte](40)(0x44)
    assert(Mp3.parse(junkFake).isEmpty,
      "a junk-embedded fake sync must still need the double sync")
    // fences: garbage, empty, a bare ID3 container with no frames
    assert(Mp3.parse("not an mp3 file at all".getBytes).isEmpty)
    assert(Mp3.parse(Array.emptyByteArray).isEmpty)
    assert(Mp3.parse(Mp3.write(1, id3Junk = 64).take(74)).isEmpty,
      "an ID3 container with no complete frame -> None")
  }

  test("extractFeatures on MP3 mime yields header-walk evidence, not a stub") {
    import spark.implicits._
    import graft.multimodal.Mp3
    val good = Mp3.write(50, id3Junk = 32)
    val bad = Array[Byte]('I', 'D', '3', 4, 0, 0, 0, 0, 0, 2, 9, 9)
    val media = Seq(
      MediaRow(1L, good, MediaMeta(graft.sources.BinarySource.MimeMp3,
        good.length.toLong, Multimodal.payloadChecksum(good))),
      MediaRow(2L, bad, MediaMeta(graft.sources.BinarySource.MimeMp3,
        bad.length.toLong, Multimodal.payloadChecksum(bad)))).toDS()
    val out = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(out(0).ok, "a real MP3 stream must parse")
    val f = out(0).features
    assert(f(0) == 44100f && f(1) == 50f && f(3) == 128f && f(7) == 0f)
    assert(f(2) == (50L * 1152 * 1000 / 44100).toFloat)
    assert(!out(1).ok, "a frameless blob must fence, not stub")
  }

  test("extractFeatures on JPEG mime runs the real decoder; resize re-encodes") {
    import spark.implicits._
    import graft.multimodal.{Jpeg, Netpbm}
    // constant tiles so JPEG == PPM features EXACTLY (lossless there)
    val px = Array.tabulate[Byte](16 * 16 * 3) { i =>
      val p = i / 3; ((p % 16 / 8 + p / 16 / 8) * 100 + 20).toByte
    }
    val img = Netpbm.Image(16, 16, 255, px)
    val jpg = Jpeg.encode(img)
    val prog = Jpeg.encodeProgressive(img) // SOF2, same coefficients
    val ppm = Netpbm.encodeP6(img)
    val bad = Array[Byte](0xFF.toByte, 0xD8.toByte, 1, 2, 3)
    val media = Seq(
      MediaRow(1L, jpg, MediaMeta(Multimodal.MimeJpeg, jpg.length.toLong,
        Multimodal.payloadChecksum(jpg))),
      MediaRow(2L, ppm, MediaMeta(Multimodal.MimePpm, ppm.length.toLong,
        Multimodal.payloadChecksum(ppm))),
      MediaRow(3L, bad, MediaMeta(Multimodal.MimeJpeg, bad.length.toLong,
        Multimodal.payloadChecksum(bad))),
      MediaRow(4L, prog, MediaMeta(Multimodal.MimeJpeg, prog.length.toLong,
        Multimodal.payloadChecksum(prog)))).toDS()
    val out = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(out(0).ok && out(1).ok && !out(2).ok)
    assert(out(0).features.toSeq == out(1).features.toSeq,
      "constant tiles through JPEG == PPM features exactly")
    // mixed-fixture coverage: a PROGRESSIVE crawl JPEG is decoded, not
    // silently skipped (the r13 coverage gap), and features match the
    // baseline encode of the same image exactly
    assert(out(3).ok, "progressive JPEG must decode in the feature path")
    assert(out(3).features.toSeq == out(0).features.toSeq,
      "progressive == baseline features for identical coefficients")
    val resized = Multimodal.resize(media.filter(_.doc_id == 1L), 2)
      .collect()(0)
    val rImg = Jpeg.decode(resized.payload).get
    assert(rImg.width == 8 && rImg.height == 8)
  }

  test("q126: real JPEG decode end-to-end — 8x8-tiled layout, stats are 64x byte stats") {
    val out = Multimodal.q126(spark, sf).cache()
    assert(out.count() == Tables(spark, sf).documents.count())
    assert(out.filter(!col("ok")).count() == 0,
      "every encoded JPEG must decode")
    assert(out.filter(col("img_w") =!= 80).count() == 0)
    assert(out.filter(col("n_px") =!= col("img_h") * 80).count() == 0)
    out.unpersist()
  }

  test("PdfText: write/extract identity incl. escapes, Flate, /Length framing; TJ/hex/octal; fences") {
    import graft.multimodal.PdfText
    def rt(t: String): Unit =
      assert(PdfText.extract(PdfText.write(t)) == Some(t),
        s"round trip broke for: ${t.take(60)}")
    rt("plain ascii text")
    rt("")
    rt("parens (nested (deep)) and \\ backslash and ) stray")
    rt("newlines\nand\rCR and tabs\tsurvive")
    rt("unicode: déjà vu — 中文 and ⚡")
    // the /Length framing protection: text whose COMPRESSED stream or
    // raw content could collide with the scan keyword
    rt("endstream endobj stream xref trailer — keywords as prose")
    rt("x" * 20000) // multi-KB stream
    // hand-built uncompressed stream with TJ array, hex string, octal
    // escape, quote operators and positioning newlines
    val content = "BT (first) Tj (tab\\011end) Tj " +
      "[(arr) -120 (ay)] TJ <48495f48455821> Tj T* (next line) ' ET"
    val raw = ("%PDF-1.4\n1 0 obj << /Length " + content.length +
      " >> stream\n" + content + "\nendstream endobj\ntrailer\n%%EOF")
      .getBytes("ISO-8859-1")
    val got = PdfText.extract(raw).get
    assert(got == "firsttab\tendarrayHI_HEX!\nnext line", s"got: $got")
    // fences: not a PDF; encrypted
    assert(PdfText.extract("not a pdf".getBytes).isEmpty)
    val enc = ("%PDF-1.4\ntrailer << /Encrypt 9 0 R >>\n%%EOF").getBytes
    assert(PdfText.extract(enc).isEmpty, "encrypted -> None")
    // a stream that never terminates: prior streams still extract
    val cut = ("%PDF-1.4\n1 0 obj << /Length 11 >> stream\n" +
      "BT (ok) Tj ET\nendstream endobj\n2 0 obj stream\nBT (lost")
      .getBytes("ISO-8859-1")
    // (the first stream's declared length frames 11 bytes — still
    // containing its Tj — and the second, never-terminated stream
    // stops the walk without losing what came before)
    assert(PdfText.extract(cut).get.contains("ok"))

    // MULTI-STREAM documents (review finding: nearly every real PDF
    // has one content stream per page — the "stream" scan must not
    // re-match the tail of "endstream" and misframe page 2+)
    def rawStream(c: String): String =
      s"9 0 obj << /Length ${c.length} >> stream\n" + c +
        "\nendstream endobj\n"
    val multi = ("%PDF-1.4\n" + rawStream("BT (page one) Tj ET") +
      rawStream("BT (page two) Tj ET") +
      rawStream("BT (page three) Tj ET") + "trailer\n%%EOF")
      .getBytes("ISO-8859-1")
    assert(PdfText.extract(multi).get == "page one\npage two\npage three")
    // a DECLARED-filtered stream that does not inflate is binary (an
    // embedded image/font) — its raw bytes must NOT reach the corpus
    val binStream = "8 0 obj << /Length 22 /Filter /DCTDecode >> stream\n" +
      "BT (mojibake) Tj ET..." + "\nendstream endobj\n"
    val withBin = ("%PDF-1.4\n" + binStream +
      rawStream("BT (real text) Tj ET") + "trailer\n%%EOF")
      .getBytes("ISO-8859-1")
    assert(PdfText.extract(withBin).get == "real text",
      "undecodable filtered streams must contribute nothing")
    // inline image: an unescaped '(' inside BI..ID binary must not
    // open a phantom string and eat the text after the image
    val inline = rawStream(
      "BT (before) Tj ET BI /W 2 /H 1 ID (ÿ\u0000 EI " +
        "BT (after) Tj ET")
    val withImg = ("%PDF-1.4\n" + inline + "trailer\n%%EOF")
      .getBytes("ISO-8859-1")
    assert(PdfText.extract(withImg).get == "beforeafter",
      "inline-image binary must be skipped to EI")
    // an unencrypted document MENTIONING /Encrypt in content is kept;
    // /Encrypt in the TRAILER window fences
    val mentions = ("%PDF-1.4\n" +
      rawStream("BT (the /Encrypt key enables security) Tj ET") +
      "trailer << /Size 2 >>\n%%EOF").getBytes("ISO-8859-1")
    assert(PdfText.extract(mentions).get.contains("enables security"),
      "mentioning /Encrypt in content must not drop the doc")

    // a TRUNCATED FlateDecode stream (deflate data cut mid-stream,
    // /Length matching the cut bytes) stalls the inflater with partial
    // output — the fence must treat it like a checksum-corrupt stream
    // (None), not emit the partial bytes as corpus text: damaged is
    // damaged whichever way the damage manifests
    val bigContent = "BT (" + ("truncated page text " * 400) + ") Tj ET"
    val fullFlate = {
      val d = new java.util.zip.Deflater()
      d.setInput(bigContent.getBytes("ISO-8859-1")); d.finish()
      val bo = new java.io.ByteArrayOutputStream()
      val b = new Array[Byte](4096)
      while (!d.finished()) bo.write(b, 0, d.deflate(b))
      d.end(); bo.toByteArray
    }
    val cutFlate = java.util.Arrays.copyOfRange(
      fullFlate, 0, fullFlate.length / 2)
    val truncDoc = new java.io.ByteArrayOutputStream()
    truncDoc.write("%PDF-1.4\n".getBytes("ISO-8859-1"))
    truncDoc.write((s"7 0 obj << /Length ${cutFlate.length} " +
      "/Filter /FlateDecode >> stream\n").getBytes("ISO-8859-1"))
    truncDoc.write(cutFlate)
    truncDoc.write("\nendstream endobj\n".getBytes("ISO-8859-1"))
    truncDoc.write(rawStream("BT (kept text) Tj ET")
      .getBytes("ISO-8859-1"))
    truncDoc.write("trailer\n%%EOF\n".getBytes("ISO-8859-1"))
    assert(PdfText.extract(truncDoc.toByteArray) == Some("kept text"),
      "a stalled (truncated) deflate stream must contribute nothing")
  }

  test("PdfText ToUnicode: glyph-id PDFs recover real text through the CMap; without it, mojibake") {
    import graft.multimodal.PdfText
    // the subset-embedded-font shape that dominates real crawl PDFs:
    // 2-byte glyph ids under Identity-H, /ToUnicode carrying the map
    // (the writer splits entries across bfchar AND lo==hi bfrange, so
    // one fixture exercises both sections)
    for (t <- Seq(
        "a crawled pdf with a subset font",
        "déjà vu — accents through the CMap",
        "中文 cjk text via Identity-H",
        "x"))
      assert(PdfText.extract(PdfText.writeGlyph(t, withToUnicode = true))
        == Some(t), s"ToUnicode round trip broke for: $t")
    // WITHOUT the CMap the same document extracts glyph-id mojibake —
    // never silently the true text
    val moji = PdfText.extract(
      PdfText.writeGlyph("the same subset font text", false)).get
    assert(moji != "the same subset font text",
      "glyph ids without ToUnicode cannot decode to the true text")
    assert(moji.exists(c => c < ' ' || c == '�'),
      "glyph-id mojibake must carry unprintable evidence for the fence")
  }

  test("PdfText CMap parser: bfrange increment + array forms, 1-byte codespace, unmapped U+FFFD") {
    import graft.multimodal.PdfText
    // increment-base range <01>..<04> -> A..D on a ONE-byte codespace,
    // array-form range, and a bfchar — hand-built CMap text
    val cm = PdfText.parseCMap(
      ("""/CIDInit /ProcSet findresource begin
        |begincmap
        |2 begincodespacerange
        |<00> <7F>
        |<8000> <80FF>
        |endcodespacerange
        |1 beginbfchar
        |<05> <0058>
        |endbfchar
        |2 beginbfrange
        |<01> <04> <0041>
        |<8000> <8002> [<005800580059> <005A> <0061>]
        |endbfrange
        |endcmap
        |""").stripMargin.getBytes("ISO-8859-1"))
    // 1-byte codes through the increment range: 01->A 02->B 04->D
    assert(cm.decode(Array[Byte](1, 2, 4)) == "ABD")
    // bfchar: 05 -> X
    assert(cm.decode(Array[Byte](5)) == "X")
    // 2-byte codespace arm with an ARRAY dst (multi-char first entry)
    assert(cm.decode(Array[Byte](0x80.toByte, 0)) == "XXY")
    assert(cm.decode(Array[Byte](0x80.toByte, 1)) == "Z")
    assert(cm.decode(Array[Byte](0x80.toByte, 2)) == "a")
    // mixed widths in ONE string: 1-byte then 2-byte then 1-byte
    assert(cm.decode(Array[Byte](3, 0x80.toByte, 1, 5)) == "CZX")
    // a code inside the codespace but unmapped -> U+FFFD (feeds the
    // printability fence, never invented text)
    assert(cm.decode(Array[Byte](0x7f)) == "�")
    // a byte outside every codespace range consumes ONE byte as FFFD
    // and resyncs (the following 01 still decodes through the range)
    assert(cm.decode(Array[Byte](0x90.toByte, 1)) == "�A")
  }

  test("q127: PDF extraction end-to-end — identity on the documents table") {
    val out = Multimodal.q127(spark, sf).cache()
    assert(out.count() == Tables(spark, sf).documents.count())
    assert(out.filter(!col("extract_ok")).count() == 0)
    val orig = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    assert(out.select("doc_id", "text").except(orig).count() == 0,
      "extraction must be the identity on every document")
    out.unpersist()
  }

  test("q124: real PNG decode end-to-end — dims match the 10-wide padded layout") {
    val out = Multimodal.q124(spark, sf).cache()
    assert(out.count() == Tables(spark, sf).documents.count())
    assert(out.filter(!col("ok")).count() == 0,
      "every encoded PNG must decode")
    assert(out.filter(col("img_w") =!= 10).count() == 0)
    assert(out.filter(col("n_px") =!= col("img_h") * 10).count() == 0)
    // the PNG face must agree with the BMP face row-for-row: same
    // geometry, same pixels, two real codecs
    val bmp = Multimodal.q91(spark, sf)
    assert(out.except(bmp).count() == 0 && bmp.except(out).count() == 0)
    out.unpersist()
  }

  test("sniffMime routes ZIP / ISO-BMFF / WebM / Matroska / OGG / FLAC; prose starting 'PK'/'OggS'/'fLaC' stays text") {
    import graft.multimodal.{Docx, Flac, Mkv, Mp4, Ogg}
    import spark.implicits._
    val rows = Seq(
      ("docx", Docx.write("sniff me")),
      ("mp4", Mp4.write("isom", 1000L, Some(("avc1", 64, 64)), None)),
      ("webm", Mkv.write("webm", 1000L, Some(("V_VP9", 64, 64)), None)),
      ("mkv", Mkv.write("matroska", 1000L, Some(("V_VP9", 64, 64)), None)),
      ("ogg", Ogg.write("vorbis", 2, 44100, 44100L)),
      ("flac", Flac.write(44100, 2, 16, 1000L)),
      ("tiff", graft.multimodal.Tiff.write(big = true, 8, 8, 1, 8, 1, 1)),
      ("avif", Mp4.write("avif", 0L, None, None)),
      ("heic", Mp4.write("heic", 0L, None, None)),
      ("rtf", graft.multimodal.RtfText.write("route me")),
      ("prose", "PK is how pull requests are abbreviated sometimes"
        .getBytes("UTF-8")),
      ("prose2", "OggS is the page capture pattern".getBytes("UTF-8")),
      ("prose3", "fLaC marks a flac stream".getBytes("UTF-8")),
      ("prose4", "who ftyped this? a prose trap at offset five"
        .getBytes("UTF-8")))
      .toDF("name", "payload")
      .select(col("name"),
        graft.sources.BinarySource.sniffMime(col("payload")).as("mime"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == Map(
      "docx" -> graft.sources.BinarySource.MimeZip,
      "mp4" -> graft.sources.BinarySource.MimeMp4,
      "webm" -> graft.sources.BinarySource.MimeWebm,
      "mkv" -> graft.sources.BinarySource.MimeMkv,
      "ogg" -> graft.sources.BinarySource.MimeOgg,
      "flac" -> "audio/flac",
      "tiff" -> graft.sources.BinarySource.MimeTiff,
      "avif" -> graft.sources.BinarySource.MimeAvif,
      "heic" -> graft.sources.BinarySource.MimeHeic,
      "rtf" -> graft.sources.BinarySource.MimeRtf,
      "prose" -> "application/octet-stream",
      "prose2" -> "application/octet-stream",
      "prose3" -> "application/octet-stream",
      "prose4" -> "application/octet-stream"), s"$rows")
  }

  test("extractFeatures on MP4/WebM mimes yields container-walk evidence, not a stub") {
    import graft.multimodal.{Mkv, Mp4}
    import spark.implicits._
    val mp4 = Mp4.write("isom", 90500L, Some(("avc1", 1920, 1080)),
      Some(("mp4a", 48000, 2)))
    val webm = Mkv.write("webm", 123456L, Some(("V_VP9", 1280, 720)),
      Some(("A_OPUS", 48000, 2)))
    val bad = Array[Byte](0, 0, 0, 8, 'f', 't', 'y', 'p') // truncated family
    val media = Seq(
      MediaRow(1L, mp4, MediaMeta(graft.sources.BinarySource.MimeMp4,
        mp4.length.toLong, 0L)),
      MediaRow(2L, webm, MediaMeta(graft.sources.BinarySource.MimeWebm,
        webm.length.toLong, 0L)),
      MediaRow(3L, bad, MediaMeta(graft.sources.BinarySource.MimeMp4,
        bad.length.toLong, 0L))).toDS()
    val f = Multimodal.extractFeatures(media).collect()
      .map(r => r.doc_id -> r).toMap
    assert(f(1L).ok && f(1L).features(0) == 90500f &&
      f(1L).features(1) == 1920f && f(1L).features(2) == 1080f &&
      f(1L).features(3) == 1f && f(1L).features(4) == 1f &&
      f(1L).features(5) == 48000f && f(1L).features(6) == 2f)
    assert(f(2L).ok && f(2L).features(0) == 123456f &&
      f(2L).features(1) == 1280f && f(2L).features(2) == 720f)
    assert(!f(3L).ok && f(3L).features.isEmpty,
      "a truncated container fences, not stubs")
  }

  test("sniffMime routes dataset files (parquet/orc/avro/sqlite) by pinned magics; prose stays text") {
    import spark.implicits._
    // REAL parquet/orc/avro bytes: written by Spark itself, read back
    // raw — the strongest possible fixture for a magic table
    val tmp = java.nio.file.Files.createTempDirectory("graft-ds").toString
    val one = Seq((1L, "x")).toDF("id", "s").coalesce(1)
    one.write.mode("overwrite").parquet(s"$tmp/p")
    one.write.mode("overwrite").orc(s"$tmp/o")
    graft.sources.AvroSource.write(one, s"$tmp/a")
    def firstFile(d: String, suffix: String): Array[Byte] = {
      val f = new java.io.File(d).listFiles()
        .find(_.getName.endsWith(suffix)).get
      java.nio.file.Files.readAllBytes(f.toPath)
    }
    val sqlite = ("SQLite format 3\u0000" + "x" * 100).getBytes("ISO-8859-1")
    val rows = Seq(
      ("parquet", firstFile(s"$tmp/p", ".parquet")),
      ("orc", firstFile(s"$tmp/o", ".orc")),
      ("avro", firstFile(s"$tmp/a", ".avro")),
      ("sqlite", sqlite),
      ("ole", Array[Byte](0xD0.toByte, 0xCF.toByte, 0x11, 0xE0.toByte,
        0xA1.toByte, 0xB1.toByte, 0x1A, 0xE1.toByte) ++
        new Array[Byte](120)),
      ("prose1", "PAR1 is the parquet magic".getBytes("UTF-8")),
      ("prose2", "ORC is a columnar format".getBytes("UTF-8")),
      ("prose3", "Obj is short for object".getBytes("UTF-8")))
      .toDF("name", "payload")
      .select(col("name"),
        graft.sources.BinarySource.sniffMime(col("payload")).as("mime"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == Map(
      "parquet" -> graft.sources.BinarySource.MimeParquet,
      "orc" -> graft.sources.BinarySource.MimeOrc,
      "avro" -> graft.sources.BinarySource.MimeAvro,
      "sqlite" -> graft.sources.BinarySource.MimeSqlite,
      "ole" -> graft.sources.BinarySource.MimeOle,
      "prose1" -> "application/octet-stream",
      "prose2" -> "application/octet-stream",
      "prose3" -> "application/octet-stream"), s"$rows")
  }

  test("extractFeatures on OGG/FLAC mimes yields header-walk evidence, not a stub") {
    import graft.multimodal.{Flac, Ogg}
    import spark.implicits._
    val ogg = Ogg.write("opus", 2, 48000, granuleEnd = 48312L, preSkip = 312)
    val flac = Flac.write(44100, 2, 24, 88200L)
    val media = Seq(
      MediaRow(1L, ogg, MediaMeta(graft.sources.BinarySource.MimeOgg,
        ogg.length.toLong, 0L)),
      MediaRow(2L, flac, MediaMeta(graft.sources.BinarySource.MimeFlac,
        flac.length.toLong, 0L)),
      MediaRow(3L, "not audio".getBytes,
        MediaMeta(graft.sources.BinarySource.MimeFlac, 9L, 0L)))
      .toDS()
    val f = Multimodal.extractFeatures(media).collect()
      .map(r => r.doc_id -> r).toMap
    assert(f(1L).ok && f(1L).features(0) == 48000f &&
      f(1L).features(1) == 2f && f(1L).features(2) == 1000f &&
      f(1L).features(4) == 2f) // opus code
    assert(f(2L).ok && f(2L).features(0) == 44100f &&
      f(2L).features(2) == 2000f && f(2L).features(3) == 88200f &&
      f(2L).features(4) == 24f)
    assert(!f(3L).ok && f(3L).features.isEmpty)
  }

  test("extractFeatures on TIFF mime yields IFD-walk evidence; a truncated file fences") {
    import graft.multimodal.Tiff
    import spark.implicits._
    val tiff = Tiff.write(big = true, 24, 17, 5, 8, 3, 2, pages = 3)
    val cut = java.util.Arrays.copyOf(tiff, 9) // header survives, IFD not
    val media = Seq(
      MediaRow(1L, tiff, MediaMeta(graft.sources.BinarySource.MimeTiff,
        tiff.length.toLong, 0L)),
      MediaRow(2L, cut, MediaMeta(graft.sources.BinarySource.MimeTiff,
        cut.length.toLong, 0L))).toDS()
    val f = Multimodal.extractFeatures(media).collect()
      .map(r => r.doc_id -> r).toMap
    // f0-f6: width, height, compression, bps, spp, photometric, pages
    assert(f(1L).ok && f(1L).features.length == Multimodal.FeatureDim &&
      f(1L).features.take(7).toSeq == Seq(24f, 17f, 5f, 8f, 3f, 2f, 3f),
      f(1L).features.toSeq)
    assert(!f(2L).ok && f(2L).features.isEmpty,
      "a truncated TIFF fences, not stubs")
  }

  test("extractFeatures on Matroska mime yields EBML-walk evidence; a truncated file fences") {
    import graft.multimodal.Mkv
    import spark.implicits._
    val mkv = Mkv.write("matroska", 65432L, Some(("V_VP9", 640, 360)),
      Some(("A_OPUS", 44100, 1)))
    val cut = java.util.Arrays.copyOf(mkv, 10) // EBML magic survives
    val media = Seq(
      MediaRow(1L, mkv, MediaMeta(graft.sources.BinarySource.MimeMkv,
        mkv.length.toLong, 0L)),
      MediaRow(2L, cut, MediaMeta(graft.sources.BinarySource.MimeMkv,
        cut.length.toLong, 0L))).toDS()
    val f = Multimodal.extractFeatures(media).collect()
      .map(r => r.doc_id -> r).toMap
    // the MP4 arm's layout: durationMs, width, height, video tracks,
    // audio tracks, audio rate, audio channels
    assert(f(1L).ok && f(1L).features.length == Multimodal.FeatureDim &&
      f(1L).features.take(7).toSeq ==
        Seq(65432f, 640f, 360f, 1f, 1f, 44100f, 1f),
      f(1L).features.toSeq)
    assert(!f(2L).ok && f(2L).features.isEmpty,
      "a truncated Matroska file fences, not stubs")
  }

  test("q132: audio probe end-to-end — every container probes, fields follow the doc_id closed form") {
    val out = Multimodal.q132(spark, sf).cache()
    assert(out.count() == Tables(spark, sf).documents.count())
    assert(out.filter(!col("probe_ok")).count() == 0,
      "every built container must probe")
    def pm(k: Int) = pmod(col("doc_id"), lit(k))
    assert(out.filter(col("container") =!=
      when(pm(2) === 0, "flac").otherwise("ogg")).count() == 0)
    assert(out.filter(col("codec") =!=
      when(pm(2) === 0, "flac").when(pm(3) === 0, "vorbis")
        .otherwise("opus")).count() == 0)
    assert(out.filter(col("channels") =!=
      when(pm(4) >= 2, 2).otherwise(1)).count() == 0)
    // the duration arithmetic is format-specific; spot-pin one row of
    // each arm (the DuckDB oracle replays every row independently)
    val flacRow = out.filter(col("container") === "flac").head()
    val samples = 1000L + flacRow.getAs[Long]("doc_id") % 100000
    assert(flacRow.getAs[Long]("duration_ms") ==
      samples * 1000L / flacRow.getAs[Int]("sample_rate"))
    out.unpersist()
  }

  test("q133: TIFF probe end-to-end — both byte orders in the oracle path, fields follow the closed form") {
    val out = Multimodal.q133(spark, sf).cache()
    assert(out.count() == Tables(spark, sf).documents.count())
    assert(out.filter(!col("probe_ok")).count() == 0)
    def pm(k: Int) = pmod(col("doc_id"), lit(k))
    assert(out.filter(col("big_endian") =!= (pm(2) === 0)).count() == 0)
    assert(out.filter(col("pages") =!= (lit(1) + pm(3))).count() == 0)
    assert(out.filter(col("samples_per_pixel") =!=
      when(pm(4) >= 2, 3).otherwise(1)).count() == 0)
    out.unpersist()
  }

  test("q134: RTF extraction end-to-end — identity on the documents table") {
    val out = Multimodal.q134(spark, sf).cache()
    assert(out.count() == Tables(spark, sf).documents.count())
    assert(out.filter(!col("extract_ok")).count() == 0)
    val orig = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    assert(out.select("doc_id", "text").except(orig).count() == 0,
      "extraction must be the identity on every document")
    out.unpersist()
  }

  test("q135: ODT extraction end-to-end — identity on the documents table") {
    val out = Multimodal.q135(spark, sf).cache()
    assert(out.count() == Tables(spark, sf).documents.count())
    assert(out.filter(!col("extract_ok")).count() == 0)
    val orig = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    assert(out.select("doc_id", "text").except(orig).count() == 0,
      "extraction must be the identity on every document")
    out.unpersist()
  }

  test("q136: XLSX extraction end-to-end — identity on the documents table") {
    val out = Multimodal.q136(spark, sf).cache()
    assert(out.count() == Tables(spark, sf).documents.count())
    assert(out.filter(!col("extract_ok")).count() == 0)
    val orig = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    assert(out.select("doc_id", "text").except(orig).count() == 0,
      "extraction must be the identity on every document")
    out.unpersist()
  }

  test("q137: legacy .doc extraction end-to-end — identity on the documents table") {
    val out = Multimodal.q137(spark, sf).cache()
    assert(out.count() == Tables(spark, sf).documents.count())
    assert(out.filter(!col("extract_ok")).count() == 0)
    val orig = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    assert(out.select("doc_id", "text").except(orig).count() == 0,
      "extraction must be the identity on every document")
    out.unpersist()
  }

  test("q129: DOCX extraction end-to-end — identity on the documents table") {
    val out = Multimodal.q129(spark, sf).cache()
    assert(out.count() == Tables(spark, sf).documents.count())
    assert(out.filter(!col("extract_ok")).count() == 0)
    val orig = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    assert(out.select("doc_id", "text").except(orig).count() == 0,
      "extraction must be the identity on every document")
    out.unpersist()
  }

  test("q131: EPUB extraction end-to-end — identity on the documents table") {
    val out = Multimodal.q131(spark, sf).cache()
    assert(out.count() == Tables(spark, sf).documents.count())
    assert(out.filter(!col("extract_ok")).count() == 0)
    val orig = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    assert(out.select("doc_id", "text").except(orig).count() == 0,
      "extraction must be the identity on every document")
    out.unpersist()
  }

  test("q130: video probe end-to-end — every container probes, fields follow the doc_id closed form") {
    val out = Multimodal.q130(spark, sf).cache()
    assert(out.count() == Tables(spark, sf).documents.count())
    assert(out.filter(!col("probe_ok")).count() == 0,
      "every built container must probe")
    // the closed form, recomputed in Spark (the DuckDB oracle replays
    // the same arithmetic independently)
    def pm(k: Int) = pmod(col("doc_id"), lit(k))
    assert(out.filter(col("duration_ms") =!=
      (lit(1000L) + pmod(col("doc_id"), lit(600000)))).count() == 0)
    assert(out.filter(col("width") =!= (lit(16) * (lit(1) + pm(120))))
      .count() == 0)
    assert(out.filter(col("container") =!=
      when(pm(2) === 0, "isom").when(pm(13) === 0, "matroska")
        .otherwise("webm")).count() == 0)
    assert(out.filter(col("a_tracks") =!=
      when(pm(3) === 0, 1).otherwise(0)).count() == 0)
    out.unpersist()
  }
  test("q139 coverage kernels: every class decodes/triages intact, fences its truncation, sniffs to its mime") {
    import org.apache.spark.sql.functions.col
    val expected = Vector(
      "image/x-portable-pixmap" -> "decoded", "image/bmp" -> "decoded",
      "image/png" -> "decoded", "image/gif" -> "decoded",
      "image/jpeg" -> "decoded", "image/webp" -> "decoded",
      "audio/x-wav" -> "decoded", "image/tiff" -> "triaged",
      "audio/mpeg" -> "triaged", "audio/ogg" -> "triaged",
      "audio/flac" -> "triaged", "video/mp4" -> "triaged",
      "video/x-matroska" -> "triaged",
      "image/avif" -> "triaged", "image/heic" -> "triaged")
    val cuts = Vector(12, 12, 16, 10, 8, 14, 14, 9, 12, 20, 10, 20, 10,
      16, 16)
    val rows = (0 until 15).flatMap { k =>
      // several ids per class, all congruent to k mod 15 and NOT
      // divisible by 5 (the intact population)
      val ids = Iterator.from(k, 15).filter(_ % 5 != 0).take(3).toVector
      ids.map { id =>
        val full = Multimodal.coveragePayload(k, id.toLong)
        val cut = java.util.Arrays.copyOfRange(full, 0,
          math.min(cuts(k), full.length))
        assert(Multimodal.coverageStatus(k, full) == expected(k)._2,
          s"class $k id $id intact")
        assert(Multimodal.coverageStatus(k, cut) == "fenced",
          s"class $k id $id truncated must fence")
        (k, full, cut)
      }
    }
    // the sniff routes BOTH the intact payload and its magic-
    // preserving truncation to the class mime
    import spark.implicits._
    val df = rows.toDF("k", "full", "cut")
    val sniffed = df.select(col("k"),
      graft.sources.BinarySource.sniffMime(col("full")).as("mf"),
      graft.sources.BinarySource.sniffMime(col("cut")).as("mc"))
      .collect()
    sniffed.foreach { r =>
      val k = r.getInt(0)
      assert(r.getString(1) == expected(k)._1, s"class $k full sniff")
      assert(r.getString(2) == expected(k)._1, s"class $k cut sniff")
    }
  }

  test("exif: parse reads real offsets, strip is total + idempotent + pixel-lossless, fences hold") {
    import graft.multimodal.{Exif, Jpeg, Netpbm}
    val base = Jpeg.encode(Netpbm.Image(12, 10, 255,
      Array.fill[Byte](12 * 10 * 3)(90)))
    assert(Exif.parse(base).isEmpty, "a bare JPEG carries no EXIF")
    val tagged = Exif.write(base, orientation = 6,
      gps = Some((37.7749, -122.4194)),
      make = Some("ACME CAMERA WORKS"), // spaces INSIDE the make must survive
      dateTime = Some("2023:11:05 10:20:30"),
      comment = Some("geotagged upload"))
    val info = Exif.parse(tagged).get
    assert(info.orientation == 6 && info.hasGps && info.hasTimestamp)
    assert(info.make.contains("ACME CAMERA WORKS"))
    // evidence-only variants
    val noGps = Exif.parse(Exif.write(base, 1, None, Some("m"), None)).get
    assert(!noGps.hasGps && !noGps.hasTimestamp && noGps.orientation == 1)
    // the scrub: total (re-parse None), idempotent, pixels identical
    val stripped = Exif.strip(tagged).get
    assert(Exif.parse(stripped).isEmpty, "scrub must be total")
    assert(Exif.strip(stripped).get.toSeq == stripped.toSeq, "idempotent")
    assert(stripped.toSeq == base.toSeq,
      "strip of writer output must return the original pixel segments")
    val px = Jpeg.decode(stripped).get
    assert(px.width == 12 && px.height == 10)
    // COM alone (no EXIF) still strips
    val comOnly = Exif.write(base, 1, None, None, None,
      comment = Some("just a comment"))
    assert(Exif.strip(comOnly).get.toSeq == base.toSeq)
    // fences: truncation mid-segment, non-JPEG
    assert(Exif.parse(java.util.Arrays.copyOfRange(tagged, 0, 40)).isEmpty)
    assert(Exif.strip("not a jpeg at all".getBytes("UTF-8")).isEmpty)
    // a non-Exif APP1 (XMP — which routinely duplicates GPS + times
    // in RDF form) and APP13 (Photoshop/IPTC) are NOT parse evidence
    // but MUST drop under the scrub (ADVICE r15: pattern-matching
    // headers lets PII survive by mislabeling)
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(0xFF); out.write(marker)
      out.write(((payload.length + 2) >> 8) & 0xff)
      out.write((payload.length + 2) & 0xff)
      out.write(payload, 0, payload.length)
      out.toByteArray
    }
    val xmpSeg = seg(0xE1,
      ("http://ns.adobe.com/xap/1.0/\u0000<x:xmpmeta>" +
        "<exif:GPSLatitude>37,46.49N</exif:GPSLatitude></x:xmpmeta>")
        .getBytes("ISO-8859-1"))
    val iptcSeg = seg(0xED,
      "Photoshop 3.0\u00008BIM\u0004\u0004location byline"
        .getBytes("ISO-8859-1"))
    val sidecars = base.take(2) ++ xmpSeg ++ iptcSeg ++ base.drop(2)
    assert(Exif.parse(sidecars).isEmpty,
      "XMP/IPTC are not EXIF parse evidence")
    assert(Exif.strip(sidecars).get.toSeq == base.toSeq,
      "XMP APP1 and APP13/IPTC must drop under the scrub")
  }

  test("heif probe: pitm→ipma→ispe resolution (decoy thumbnail not reported), item census, rotation, largest-ispe fallback, fences") {
    import graft.multimodal.Heif
    val avif = Heif.write("avif", "av01", 200, 120,
      rotation = 90, withExif = true)
    val p = Heif.probe(avif).get
    assert(p.brand == "avif" && p.itemType == "av01")
    assert(p.width == 200 && p.height == 120,
      s"must resolve the PRIMARY ispe, not the decoy thumbnail: $p")
    assert(p.rotation == 90 && p.hasExif && p.nItems == 3)
    val heic = Heif.probe(Heif.write("heic", "hvc1", 640, 480)).get
    assert(heic.brand == "heic" && heic.itemType == "hvc1" &&
      heic.width == 640 && heic.height == 480 &&
      !heic.hasExif && heic.rotation == 0 && heic.nItems == 2)
    // largest-ispe fallback: break the ipma tag — the probe must
    // fall back to the LARGEST ispe (the primary's), never the decoy
    val noIpma = avif.clone()
    val at = {
      val s = new String(noIpma, "ISO-8859-1"); s.indexOf("ipma")
    }
    assert(at > 0)
    noIpma(at) = 'x'.toByte
    val fb = Heif.probe(noIpma).get
    assert(fb.width == 200 && fb.height == 120,
      "fallback must pick the largest ispe, not the first")
    // fences: truncation sweep, non-HEIF brand, garbage, video mp4
    (1 until avif.length by 7).foreach { n =>
      Heif.probe(java.util.Arrays.copyOfRange(avif, 0, n)) // no throw
    }
    assert(Heif.probe(java.util.Arrays.copyOfRange(avif, 0, 20)).isEmpty)
    assert(Heif.probe("plain prose with ftyp inside".getBytes("UTF-8")).isEmpty)
    assert(Heif.probe(graft.multimodal.Mp4.write("isom", 1000,
      video = Some(("avc1", 320, 240)), audio = None)).isEmpty,
      "a video mp4 is not a HEIF still")
    // mutation sweep over the meta region: fence or probe, no throw
    var i = 0
    while (i < avif.length) {
      val m = avif.clone(); m(i) = (m(i) ^ 0x5A).toByte
      Heif.probe(m)
      i += 3
    }
    // and the sniff routes the writer's bytes to the image mimes
    val s = TestSpark.spark
    import org.apache.spark.sql.functions.lit
    val mimes = s.range(1).select(
      graft.sources.BinarySource.sniffMime(lit(avif)).as("a"),
      graft.sources.BinarySource.sniffMime(
        lit(Heif.write("heic", "hvc1", 8, 8))).as("h")).collect()(0)
    assert(mimes.getString(0) == "image/avif" &&
      mimes.getString(1) == "image/heic")
  }

  test("exif containers: PNG eXIf / WebP EXIF+XMP / standalone TIFF all parse and scrub; pixels survive; idempotent; fences") {
    import graft.multimodal.{Exif, Netpbm, Png, Webp}
    val img = Netpbm.Image(10, 8, 255,
      Array.tabulate[Byte](10 * 8 * 3)(i => ((i * 7) % 200).toByte))
    // --- PNG: eXIf + tEXt drop whole; pixel chunks byte-identical
    val png = Png.encode(img)
    val pngTag = Exif.writePng(png, 6, Some((37.0, -122.0)), Some("cam"),
      Some("2024:01:01 00:00:00"), comment = Some("geotagged"))
    val pi = Exif.parse(pngTag).get
    assert(pi.orientation == 6 && pi.hasGps && pi.hasTimestamp &&
      pi.make.contains("cam"))
    val pngS = Exif.strip(pngTag).get
    assert(Exif.parse(pngS).isEmpty, "PNG scrub must be total")
    assert(pngS.toSeq == png.toSeq,
      "scrub of writer output must return the base PNG")
    assert(Png.decode(pngS).get.pixels.toSeq == img.pixels.toSeq)
    assert(Exif.strip(pngS).get.toSeq == pngS.toSeq, "idempotent")
    // --- WebP: EXIF + XMP chunks drop, VP8X keeps place with
    // presence bits cleared, RIFF size rewritten, pixels decode
    val webp = Webp.encode(img)
    val webpTag = Exif.writeWebp(webp, 3, Some((1.5, 2.5)), Some("wcam"),
      None, xmp = Some("<x:xmpmeta>gps rides here</x:xmpmeta>"))
    val wi = Exif.parse(webpTag).get
    assert(wi.orientation == 3 && wi.hasGps && !wi.hasTimestamp &&
      wi.make.contains("wcam"))
    val webpS = Exif.strip(webpTag).get
    assert(Exif.parse(webpS).isEmpty, "WebP scrub must be total")
    assert(!new String(webpS, "ISO-8859-1").contains("xmpmeta"),
      "XMP bytes must not survive")
    assert(Webp.decode(webpS).get.pixels.toSeq == img.pixels.toSeq,
      "pixels must survive the scrub")
    val vp8xAt = {
      val s = new String(webpS, "ISO-8859-1"); s.indexOf("VP8X")
    }
    assert(vp8xAt >= 0 && (webpS(vp8xAt + 8) & 0x0C) == 0,
      "VP8X must stay with EXIF/XMP presence bits cleared")
    assert(Exif.strip(webpS).get.toSeq == webpS.toSeq, "idempotent")
    // declared RIFF size must match the rebuilt payload
    val riffSz = (webpS(4) & 0xffL) | ((webpS(5) & 0xffL) << 8) |
      ((webpS(6) & 0xffL) << 16) | ((webpS(7) & 0xffL) << 24)
    assert(riffSz == webpS.length - 8L, "RIFF size must be rewritten")
    // --- standalone TIFF: GPS + DateTime zeroed in place,
    // orientation/make survive, same length
    val tif = Exif.writeTiff(7, Some((37.7749, -122.4194)), Some("tcam"),
      Some("2023:05:06 07:08:09"))
    val ti = Exif.parse(tif).get
    assert(ti.orientation == 7 && ti.hasGps && ti.hasTimestamp &&
      ti.make.contains("tcam"))
    val tifS = Exif.strip(tif).get
    val ti2 = Exif.parse(tifS).get
    assert(!ti2.hasGps && !ti2.hasTimestamp, "GPS/timestamp must scrub")
    assert(ti2.orientation == 7 && ti2.make.contains("tcam"),
      "pixel-relevant fields survive")
    assert(tifS.length == tif.length, "in-place scrub keeps the length")
    assert(!new String(tifS, "ISO-8859-1").contains("2023:05"),
      "timestamp BYTES must be zeroed, not just unlinked")
    assert(Exif.strip(tifS).get.toSeq == tifS.toSeq, "idempotent")
    // --- fences: truncated containers and garbage are not governable
    assert(Exif.strip(java.util.Arrays.copyOfRange(pngTag, 0, 20)).isEmpty)
    assert(Exif.parse(java.util.Arrays.copyOfRange(webpTag, 0, 16)).isEmpty)
    assert(Exif.strip("no container at all".getBytes("UTF-8")).isEmpty)
  }
}

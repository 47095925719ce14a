package graft.multimodal

import graft.queries.Entry
import graft.sources.BinarySource
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` columns with
  * typed metadata, and a batched decode→feature pipeline.
  *
  * Decode dispatches on `meta.mime` through ONE codec table,
  * [[Codecs]]. Each entry is a real pure-JVM kernel:
  *  - image mimes (PPM, BMP, PNG, GIF, JPEG, WebP) decode to a raster
  *    that feeds a luma histogram, and resize re-encodes most of them;
  *  - WAV decodes to samples; MP3, OGG, FLAC, TIFF, MP4 and
  *    WebM/Matroska yield header-walk evidence without a sample or
  *    pixel decode.
  * A malformed payload of a known mime fences to an ok=false row. A
  * mime with no entry falls back to [[decodeStub]], the deterministic
  * byte fold standing where a vision or audio encoder would plug in.
  * The same table carries the documents-as-media fixture encoders
  * behind the oracle-checked decode faces ([[fixtureTable]]).
  * At 100 TB the shape matters as much as the codec:
  *  - blobs stay in `binary` columns, never stringified;
  *  - decode runs per PARTITION batch via `mapPartitions`, so codec /
  *    model init happens once per task, not once per row;
  *  - `media_meta` (mime/bytes/checksum) is a separate small struct so
  *    metadata-only queries never read blob bytes (parquet column
  *    pruning skips the binary column entirely);
  *  - oversized blobs are fenced by `maxBytes` instead of OOMing a
  *    task.
  */
object Multimodal {

  /** Scan widths for [[docsAt]], as a partition cap. The fixture file
    * is one parquet row group, so the raw scan is ONE task.
    *
    * The HEAVY fixture faces floor the scan to the session's
    * parallelism ([[graft.util.Spread]], r18): without it every
    * encode+decode kernel ran on ONE core (q148 measured at 5.2 s
    * wall ≈ 5.1 s task-time on 32 cores). The spread exchange carries
    * only the tiny pre-kernel rows; at production scale the scan is
    * already wide and the guard makes it a no-op. The LIGHT probe/stub
    * faces (ppm/wav/bmp, q119's hash pass, q130/q132/q134/q149)
    * deliberately stay on the raw scan — their kernels are cheaper
    * than one exchange (bench-measured +50-120 ms per query when
    * spread), so the floor applies only where the kernel dominates.
    */
  private val RawScan = 1
  private val FullWidth = Int.MaxValue

  /** Saturation width for the MID-WEIGHT extract kernels (r19): the
    * driver's 8-vs-32-core scaling block read ratios of 0.55–0.87 on
    * the office-extract family (q133/q135–q141) — they ran FASTER on
    * 8 cores, i.e. the r18 full-width floor over-parallelized kernels
    * that saturate around 8-way over fixture-sized inputs (dispatch +
    * per-task taskBinary deserialization + hyperthread contention
    * exceed the kernel past that). The heavy decode kernels
    * (jpeg/vp8/webp: ratios 1.86–1.93) keep the full floor. The cap
    * binds only when the guarded floor fires at all — production-wide
    * scans are untouched (see [[graft.util.Spread.byKey]]).
    */
  private val MidKernelParts = 8

  /** The documents table at scan width `width` (a partition cap;
    * [[RawScan]] skips the spread and its guard entirely).
    *
    * The spread is a SINGLE-CONSUMER helper (Spread.byKey): spreading
    * by the cluster key satisfies downstream ClusteredDistribution and
    * would silently collapse a diamond's reused exchange (measured
    * q74: kernel recomputed per consumer, CPU 1.7 s → 11.3 s). Every
    * current call site feeds one kernel chain; a future multi-consumer
    * caller must use Spread.neutral instead.
    */
  private def docsAt(spark: SparkSession, dir: String,
                     width: Int): DataFrame = {
    val scan = spark.read.parquet(dir + "/documents.parquet")
    if (width <= RawScan) scan
    else graft.util.Spread.byKey(scan, col("doc_id"), width)
  }

  /** [[docsAt]] as (doc_id, text) pairs, null text read as "". */
  private def textsAt(spark: SparkSession, dir: String,
                      width: Int): Dataset[(Long, String)] = {
    import spark.implicits._
    docsAt(spark, dir, width)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      .as[(Long, String)]
  }

  final case class MediaMeta(mime: String, n_bytes: Long, checksum: Long)
  final case class MediaRow(doc_id: Long, payload: Array[Byte], meta: MediaMeta)
  final case class FeatureRow(doc_id: Long, mime: String, n_bytes: Long,
                              ok: Boolean, features: Array[Float])

  /** Feature vector dimensionality (both encoders). */
  val FeatureDim = 16

  /** Mimes of the decodable formats, spelled once in [[BinarySource]]. */
  val MimePpm = BinarySource.MimePpm
  val MimeWav = BinarySource.MimeWav
  val MimeBmp = BinarySource.MimeBmp
  val MimePng = BinarySource.MimePng
  val MimeGif = BinarySource.MimeGif
  val MimeJpeg = BinarySource.MimeJpeg

  /** Stand-in corpus: wrap each document's text bytes as the opaque
    * payload with typed metadata. In production this is the ingest
    * step for real media files (spark.read.format("binaryFile")).
    */
  def blobTable(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(dir + "/documents.parquet")
    // null text coalesces to empty BEFORE encoding: meta.n_bytes maps
    // to a primitive Long in MediaRow, and a null there kills the
    // encoder before any downstream fence can run
    val txt = coalesce(col("text"), lit(""))
    docs.select(
      col("doc_id"),
      encode(txt, "UTF-8").as("payload"),
      struct(
        lit("text/plain").as("mime"),
        length(encode(txt, "UTF-8")).cast("bigint").as("n_bytes"),
        // ONE checksum definition module-wide: xxhash64 (seed 42) of
        // the PAYLOAD BYTES — resize recomputes the identical function
        // over its new payload, so "checksum matches payload" holds on
        // every MediaRow regardless of which stage produced it
        xxhash64(encode(txt, "UTF-8")).as("checksum")).as("meta"))
  }

  /** ==== DECODE STUB (fallback for mimes without a codec) ====
    * Deterministic fake for mimes with no [[Codecs]] entry: folds the
    * payload bytes into a fixed-length float vector — the arm where
    * libjpeg/ffmpeg/a vision encoder would plug in for formats this
    * container lacks; a production build adds more table entries.
    */
  private[multimodal] def decodeStub(payload: Array[Byte]): Array[Float] = {
    val f = new Array[Float](FeatureDim)
    var i = 0
    while (i < payload.length) {
      f(i % FeatureDim) += (payload(i) & 0xff) / 255.0f
      i += 1
    }
    f
  }

  /** One row of the codec table: what the media pipeline knows about
    * one mime.
    *  - `features`: the [[extractFeatures]] arm; None fences the row.
    *  - `image`: the pixel decoder behind the luma faces and resize.
    *  - `reencode`: [[resize]]'s writer for the resampled raster; None
    *    keeps the byte-stride stand-in.
    *  - `fixture`: the documents-as-media encoder (doc id, UTF-8 text
    *    bytes → payload) behind [[fixtureTable]].
    */
  private[graft] final case class Codec(
      mime: String,
      features: Array[Byte] => Option[Array[Float]],
      image: Array[Byte] => Option[Netpbm.Image] = _ => None,
      reencode: Option[Netpbm.Image => Array[Byte]] = None,
      fixture: Option[(Long, Array[Byte]) => Array[Byte]] = None)

  /** An image codec: its features are the 16-bin luma histogram of the
    * decoded raster — one histogram kernel for every image format.
    */
  private def imageCodec(mime: String,
      decode: Array[Byte] => Option[Netpbm.Image],
      reencode: Option[Netpbm.Image => Array[Byte]],
      fixture: (Long, Array[Byte]) => Array[Byte]): Codec =
    Codec(mime, p => decode(p).map(Netpbm.lumaHistogram(_, FeatureDim)),
      decode, reencode, Some(fixture))

  /** `xs` in the leading feature slots, zero-padded to [[FeatureDim]]. */
  private def padded(xs: Float*): Array[Float] = {
    val f = new Array[Float](FeatureDim)
    xs.copyToArray(f)
    f
  }

  /** VP8 dims are 14-bit: h = 8*ceil(nb/10) <= 16383 caps nb at
    * 20,470 bytes — the vp8 fixture caps HERE (and the oracle's
    * hex-slice mirrors it) instead of throwing inside an executor map
    * on a long document (the review-caught failure mode).
    */
  private val Vp8MaxBytes = 20470

  /** The codec table. Both WebP fixtures (lossless VP8L and lossy VP8)
    * carry `image/webp`; [[Webp.decode]] routes either bitstream, and
    * the first entry of a mime is its dispatch arm. No val of the
    * enclosing object may read this table: its initializer reads
    * theirs, so such a read sees it half-built.
    */
  private[graft] object Codecs {
    val ppm: Codec = imageCodec(MimePpm, Netpbm.decode,
      Some(img => Netpbm.encodeP6(img)),
      (_, b) => Netpbm.encodeP6(rasterOf(b)))

    /** No resize arm: BMP keeps the byte-stride stand-in. */
    val bmp: Codec = imageCodec(MimeBmp, Bmp.decode, None,
      (_, b) => Bmp.encode(rgbRaster(b, 10)))

    val png: Codec = imageCodec(MimePng, Png.decode,
      Some(img => Png.encode(img)), (_, b) => Png.encode(rgbRaster(b, 10)))

    /** Nearest-neighbor keeps a SUBSET of the source pixels, so the
      * resized image stays within the palette ceiling and re-encodes
      * losslessly.
      */
    val gif: Codec = imageCodec(MimeGif, Gif.decode,
      Some(img => Gif.encode(img)), (_, b) => Gif.encode(grayRaster(b)))

    /** JPEG re-encode is lossy by nature; quant 2 keeps the resized
      * thumbnail visually faithful at a sane byte size. The fixture is
      * the 8×8-tiled gray layout (the constant-block device, q126).
      */
    val jpeg: Codec = imageCodec(MimeJpeg, Jpeg.decode,
      Some(img => Jpeg.encode(img, gray = false, quant = 2)),
      (_, b) => Jpeg.encode(grayImage(tiled80(b), 80)))

    /** VP8L is lossless: nearest-neighbor keeps source pixels and the
      * re-encode loses nothing (subtract-green for size). The fixture
      * is [[grayRaster]] through the full option gauntlet: subtract-
      * green, the Select predictor (mode 11), a 6-bit color cache and
      * dist-1 LZ77 runs.
      */
    val webp: Codec = imageCodec(BinarySource.MimeWebp, Webp.decode,
      Some(img => Webp.encode(img, subtractGreen = true)), { (id, b) =>
        val still = grayRaster(b)
        // every 5th doc ships as an ANIMATED container (r18): the
        // raster rides frame 1 with a deliberately-different second
        // frame, so the closed form only matches if the POSTER frame
        // — not the last — is what decodes
        if (((id % 5) + 5) % 5 == 0)
          Webp.encodeAnimated(Seq(still, Netpbm.Image(10, still.height,
            255, still.pixels.map(x => (~x).toByte))))
        else Webp.encode(still, subtractGreen = true, predictor = Some(11),
          cacheBits = 6, runs = true)
      })

    /** The lossy VP8 fixture: q126's 8×8-tiled geometry as the luma
      * plane, chroma flat 128 ([[Vp8.encodeWebp]]).
      */
    val vp8: Codec = webp.copy(fixture = Some { (_, b) =>
      val luma = tiled80(b.take(Vp8MaxBytes))
      Vp8.encodeWebp(luma, 80, luma.length / 80)
    })

    /** RIFF/PCM16 decode + signal summary (rate, length, peak, rms).
      * The fixture is each text byte as one centered mono PCM16 sample,
      * (byte - 128) * 256 at 8 kHz.
      */
    val wav: Codec = Codec(MimeWav, p => Wav.decode(p).map { a =>
      var ss = 0.0; var peak = 0f; var i = 0
      while (i < a.samples.length) {
        val v = a.samples(i).toFloat
        ss += v.toDouble * v; if (math.abs(v) > peak) peak = math.abs(v)
        i += 1
      }
      // Float holds integers exactly only up to 2^24: a clip longer
      // than ~16.7M samples (~35 min at 8 kHz) rounds its length here.
      // Fine for a fixed-dim float feature vector; readers needing the
      // exact count should take it from the decoded samples, not this
      // summary.
      padded(a.sampleRate.toFloat, a.samples.length.toFloat, peak,
        if (a.samples.isEmpty) 0f
        else math.sqrt(ss / a.samples.length).toFloat)
    }, fixture = Some { (_, b) =>
      Wav.encodePcm16(Wav.Audio(8000,
        b.map(x => (((x & 0xff) - 128) * 256).toShort)))
    })

    /** MP3 frame-header walk — duration/rate/bitrate/CBR-VBR triage
      * evidence WITHOUT PCM decode (crawl audio is overwhelmingly MP3;
      * a synthesis filter bank is not what a triage pass should pay
      * for). Layout: rate, frames, durationMs, kbps, channels,
      * version×10, layer, vbr flag.
      */
    val mp3: Codec = Codec(BinarySource.MimeMp3, p => Mp3.parse(p).map(i =>
      padded(i.sampleRate.toFloat, i.frames.toFloat, i.durationMs.toFloat,
        i.bitrateKbps.toFloat, i.channels.toFloat, i.version.toFloat,
        i.layer.toFloat, if (i.vbr) 1f else 0f)))

    /** OGG page walk. Layout: rate, channels, durationMs, pages, codec
      * code (1 vorbis / 2 opus).
      */
    val ogg: Codec = Codec(BinarySource.MimeOgg, p => Ogg.parse(p).map(i =>
      padded(i.sampleRate.toFloat, i.channels.toFloat, i.durationMs.toFloat,
        i.pages.toFloat, if (i.codec == "vorbis") 1f else 2f)))

    /** FLAC STREAMINFO. Layout: rate, channels, durationMs, total
      * samples, bits/sample.
      */
    val flac: Codec = Codec(BinarySource.MimeFlac, p => Flac.parse(p).map(i =>
      padded(i.sampleRate.toFloat, i.channels.toFloat, i.durationMs.toFloat,
        i.totalSamples.toFloat, i.bitsPerSample.toFloat)))

    /** TIFF IFD walk — dims/compression/layout/page-census evidence
      * without decoding strips. Layout: width, height, compression,
      * bitsPerSample, samplesPerPixel, photometric, pages.
      */
    val tiff: Codec = Codec(BinarySource.MimeTiff, p => Tiff.parse(p).map(i =>
      padded(i.width.toFloat, i.height.toFloat, i.compression.toFloat,
        i.bitsPerSample.toFloat, i.samplesPerPixel.toFloat,
        i.photometric.toFloat, i.pages.toFloat)))

    /** ISO-BMFF box walk — duration/dims/track-census triage evidence
      * WITHOUT touching a codec frame (the MP3 rationale, applied to
      * video). Layout: durationMs, width, height, videoTracks,
      * audioTracks, audioRate, audioChannels.
      */
    val mp4: Codec = Codec(BinarySource.MimeMp4, p => Mp4.parse(p).map(i =>
      padded(i.durationMs.toFloat, i.width.toFloat, i.height.toFloat,
        i.videoTracks.toFloat, i.audioTracks.toFloat, i.audioRate.toFloat,
        i.audioChannels.toFloat)))

    /** Matroska/WebM EBML walk, the MP4 evidence layout. */
    val mkv: Codec = Codec(BinarySource.MimeMkv, p => Mkv.parse(p).map(i =>
      padded(i.durationMs.toFloat, i.width.toFloat, i.height.toFloat,
        i.videoTracks.toFloat, i.audioTracks.toFloat, i.audioRate.toFloat,
        i.audioChannels.toFloat)))
    val webm: Codec = mkv.copy(mime = BinarySource.MimeWebm)

    val all: Seq[Codec] = Seq(ppm, bmp, png, gif, jpeg, webp, vp8, wav,
      mp3, ogg, flac, tiff, mp4, webm, mkv)

    /** The dispatch arm per mime: the first entry that names it. */
    val byMime: Map[String, Codec] =
      all.reverseIterator.map(c => c.mime -> c).toMap
  }

  /** Batched decode: one "codec init" per partition, rows batched by
    * CUMULATIVE BYTES (the batch is where a real decoder would
    * vectorize) — a count-based batch of near-ceiling blobs would
    * pin batchSize × maxBytes of payload at once; a byte budget keeps
    * task memory flat regardless of blob-size distribution. Failures
    * (oversize, null, malformed for the mime's codec) yield ok=false
    * rows instead of failing the task, so one bad blob can't kill a
    * 100 TB job.
    */
  def extractFeatures(media: Dataset[MediaRow],
                      batchBytes: Long = 128L * 1024 * 1024,
                      maxBytes: Long = 64L * 1024 * 1024): Dataset[FeatureRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // >>> per-task codec/model initialization happens HERE, once <<<
      new Iterator[Seq[MediaRow]] {
        def hasNext: Boolean = rows.hasNext
        def next(): Seq[MediaRow] = {
          val batch = scala.collection.mutable.ArrayBuffer.empty[MediaRow]
          var bytes = 0L
          while (rows.hasNext && (batch.isEmpty || bytes < batchBytes)) {
            val r = rows.next()
            batch += r
            bytes += math.max(r.meta.n_bytes, 0L)
          }
          batch.toSeq
        }
      }.flatMap { batch =>
        batch.iterator.map { r =>
          val feats =
            if (r.payload == null || r.meta.n_bytes > maxBytes) None
            else Codecs.byMime.get(r.meta.mime) match {
              case Some(c) => c.features(r.payload)
              case None => Some(decodeStub(r.payload))
            }
          FeatureRow(r.doc_id, r.meta.mime, r.meta.n_bytes,
            ok = feats.isDefined, features = feats.getOrElse(Array.empty))
        }
      }
    }
  }

  final case class FrameRow(doc_id: Long, frame_idx: Int, ok: Boolean,
                            frame: Array[Byte])

  /** Frame-sampling plumbing (the 1→N video shape): every `stride`-th
    * frame of the payload emitted as its own row — downstream
    * per-frame decode/embed then runs as an ordinary per-row stage
    * over MANY small rows instead of one giant blob (which is what
    * makes a 2-hour video tractable on a 4 GB executor).
    *
    * [[MimePpm]] payloads are a REAL concatenated-P6 stream (ffmpeg
    * `image2pipe` output): frames come from the actual decoder, each
    * emitted re-encoded as a standalone P6 image; a stream with
    * trailing garbage emits its whole frames then ONE ok=false row at
    * the bad frame's index (salvage + visible fence, never silent
    * loss). Other mimes use fixed `frameBytes` windows. Deterministic
    * either way: frame boundaries are pure functions of the payload,
    * so retries emit identical rows. Oversize blobs fence to one
    * ok=false row, like extractFeatures.
    */
  def sampleFrames(media: Dataset[MediaRow], frameBytes: Int = 256,
                   stride: Int = 4,
                   maxBytes: Long = 64L * 1024 * 1024): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    require(frameBytes > 0 && stride > 0, "frameBytes and stride must be > 0")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.payload == null || r.meta.n_bytes > maxBytes)
          Iterator.single(FrameRow(r.doc_id, -1, ok = false, Array.empty))
        else if (r.meta.mime == MimePpm) {
          // walk the stream by HEADER parsing, materializing (decode +
          // re-encode) only the sampled frames — skipped frames cost
          // one header parse each, never a raster copy, so transient
          // memory is the sampled subset, not the whole stream
          val out = scala.collection.mutable.ArrayBuffer.empty[FrameRow]
          var off = 0
          var idx = 0
          var bad = false
          while (!bad && off < r.payload.length) {
            if (idx % stride == 0) Netpbm.decodeFrom(r.payload, off) match {
              case Some((img, next)) =>
                out += FrameRow(r.doc_id, idx, ok = true, Netpbm.encodeP6(img))
                off = next; idx += 1
              case None => bad = true
            } else Netpbm.nextOffset(r.payload, off) match {
              case Some(next) => off = next; idx += 1
              case None => bad = true
            }
          }
          // trailing garbage: whole frames salvaged above + ONE visible
          // fence row at the bad frame's index (never silent loss)
          if (bad) out += FrameRow(r.doc_id, idx, ok = false, Array.empty)
          // an empty stream still yields one row — every doc appears in
          // the output (the module contract, same as the byte-window arm)
          if (out.isEmpty) out += FrameRow(r.doc_id, 0, ok = true, Array.empty)
          out.iterator
        } else {
          // an empty payload is 1 empty frame, not 0 rows — every doc
          // appears in the output (no silent loss; the module contract)
          val nFrames = math.max(
            (r.payload.length + frameBytes - 1) / frameBytes, 1)
          (0 until nFrames by stride).iterator.map { f =>
            val from = f * frameBytes
            val until = math.min(from + frameBytes, r.payload.length)
            FrameRow(r.doc_id, f, ok = true,
              java.util.Arrays.copyOfRange(r.payload, from, until))
          }
        }
      }
    }
  }

  /** Downsample stage. Rows whose mime has a re-encoder in [[Codecs]]
    * get REAL resampling: decode → nearest-neighbor by `factor` on
    * both axes ([[Netpbm.resizeNearest]]) → re-encode through the
    * format's own writer (the round-5 stub kept every factor-th
    * payload byte, which tears RGB channel alignment). Other mimes
    * keep the byte-stride stand-in. The meta struct is REBUILT for the
    * new payload — n_bytes and checksum (the module-wide
    * xxhash64-of-bytes definition, identical to blobTable's) describe
    * what the row now carries, never the original. Rows this stage
    * cannot process (null payload, over maxBytes, malformed image)
    * pass through UNCHANGED, so the downstream decode stage still sees
    * — and fences — the original failure instead of an ok-looking
    * empty row. Runs per-partition like the decode stage.
    */
  def resize(media: Dataset[MediaRow], factor: Int = 4,
             maxBytes: Long = 64L * 1024 * 1024): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    require(factor > 0, "factor must be > 0")
    media.mapPartitions { rows =>
      rows.map { r =>
        if (r.payload == null || r.meta.n_bytes > maxBytes) r
        else Codecs.byMime.get(r.meta.mime)
          .flatMap(c => c.reencode.map(c.image -> _)) match {
          case Some((decode, reencode)) =>
            // malformed: passes through, downstream fences it
            decode(r.payload).fold(r)(img =>
              withPayload(r, reencode(Netpbm.resizeNearest(img, factor))))
          case None => // the byte-stride stand-in
            val out = new Array[Byte]((r.payload.length + factor - 1) / factor)
            var i = 0
            while (i < out.length) { out(i) = r.payload(i * factor); i += 1 }
            withPayload(r, out)
        }
      }
    }
  }

  /** `r` carrying `out`, its meta rebuilt to describe the new bytes. */
  private def withPayload(r: MediaRow, out: Array[Byte]): MediaRow =
    MediaRow(r.doc_id, out,
      MediaMeta(r.meta.mime, out.length.toLong, payloadChecksum(out)))

  /** The module-wide checksum: xxhash64 (Spark's seed-42 variant) of
    * the payload bytes — bit-identical to the `xxhash64(binary)`
    * Column blobTable uses, so a consumer can validate ANY MediaRow
    * with either form.
    */
  private[graft] def payloadChecksum(bytes: Array[Byte]): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      bytes.length, 42L)

  /** A documents-as-media fixture: each doc's UTF-8 text bytes through
    * `codec`'s fixture encoder at scan width `width`, with the
    * module-wide meta of the payload. The decode side then runs the
    * real parser over real headers — and because the pixels/samples
    * are a pure function of the text bytes, DuckDB can replay the
    * whole round trip exactly.
    */
  private[graft] def fixtureTable(spark: SparkSession, dir: String,
      width: Int, codec: Codec): Dataset[MediaRow] = {
    import spark.implicits._
    val mime = codec.mime
    val encode = codec.fixture.getOrElse(
      throw new IllegalArgumentException(s"no fixture encoder for $mime"))
    textsAt(spark, dir, width).map { case (id, t) =>
      val payload = encode(id, t.getBytes("UTF-8"))
      MediaRow(id, payload,
        MediaMeta(mime, payload.length.toLong, payloadChecksum(payload)))
    }
  }

  /** The documents-as-rasters layout contract: text bytes as RGB
    * triples, `width` pixels per row, zero-padded to whole rows, height
    * floored at `minH` — ONE Scala copy, replayed by the [[rasterCtes]]
    * SQL mirror. The ppm fixture (q67/q118, width 8, minH 1), q119
    * (width 8, minH 8 — see its scaladoc) and the bmp/png fixtures
    * (width 10: each file row is 30 bytes, NOT 4-aligned, so every BMP
    * row carries 2 padding bytes and the decoder's stride arithmetic
    * is actually exercised) must not drift apart.
    */
  private def rgbRaster(bytes: Array[Byte], width: Int,
                        minH: Int = 1): Netpbm.Image = {
    val h = math.max((bytes.length + 3 * width - 1) / (3 * width), minH)
    Netpbm.Image(width, h, 255,
      java.util.Arrays.copyOf(bytes, width * h * 3))
  }

  /** [[rgbRaster]] at the 8-wide P6 geometry. */
  private[graft] def rasterOf(bytes: Array[Byte],
                              minH: Int = 1): Netpbm.Image =
    rgbRaster(bytes, 8, minH)

  /** A one-byte-per-pixel plane as (v, v, v) truecolor. */
  private def grayImage(plane: Array[Byte], width: Int): Netpbm.Image = {
    val px = new Array[Byte](plane.length * 3)
    var i = 0
    while (i < plane.length) {
      px(3 * i) = plane(i); px(3 * i + 1) = plane(i); px(3 * i + 2) = plane(i)
      i += 1
    }
    Netpbm.Image(width, plane.length / width, 255, px)
  }

  /** Text bytes, one per pixel, 10 per row, zero-padded to whole rows
    * (height ceil(nb/10), min 1).
    */
  private def grayPlane(bytes: Array[Byte]): Array[Byte] =
    java.util.Arrays.copyOf(bytes, 10 * math.max((bytes.length + 9) / 10, 1))

  /** The gray layout for the palette and VP8L codecs (gif/webp): one
    * GRAYSCALE pixel per text byte. GIF is palette-based (≤ 256
    * colors), so the RGB layout cannot ride it; the BT.601 integer
    * luma of (b, b, b) is exactly b, so the decode stats reduce to
    * plain byte statistics — the closed form [[grayLumaSql]] replays.
    */
  private def grayRaster(bytes: Array[Byte]): Netpbm.Image =
    grayImage(grayPlane(bytes), 10)

  /** The 8×8-TILED layout for the lossy codecs (jpeg/vp8) as a luma
    * plane: each text byte becomes one CONSTANT 8×8 block — 10 blocks
    * per row, so width 80, height 8·ceil(nb/10), tail zero-padded. The
    * constant-block device is what makes a LOSSY codec oracle-exact:
    * a constant block's DCT is a single integral DC coefficient (every
    * AC exactly zero), so quantization at 1 and the IDCT reproduce the
    * value bit-exactly while the stream still runs the full real
    * machinery — Huffman codes, DC differentials (±8·Δbyte, category up
    * to 11), zigzag, dequant. VP8 sees the same per-4x4-uniform layout
    * (see [[Vp8]]): residuals encode as DC levels at quantizer step 8
    * and reconstruct to the byte verbatim.
    */
  private def tiled80(bytes: Array[Byte]): Array[Byte] = {
    val idx = grayPlane(bytes)
    val w = 80
    val luma = new Array[Byte](64 * idx.length)
    var bi = 0
    while (bi < idx.length) {
      val v = idx(bi)
      val bx = bi % 10; val by = bi / 10
      var yy = 0
      while (yy < 8) {
        var xx = 0
        while (xx < 8) {
          luma((by * 8 + yy) * w + bx * 8 + xx) = v
          xx += 1
        }
        yy += 1
      }
      bi += 1
    }
    luma
  }

  /** Shared oracle CTE: documents' UTF-8 bytes decoded to an INT list
    * (`bts.bs`, with `nb` = byte count) via hex() nibble extraction —
    * the ONE copy of the byte-decode recipe, consumed by every oracle
    * that replays the text bytes (q50, the luma faces, q69 and
    * q118–q120). `cap` truncates to the first `cap` bytes (the vp8
    * fixture's [[Vp8MaxBytes]]).
    */
  private def hexBytes(cap: Option[Int]): String = {
    val enc = "encode(coalesce(text,''))"
    val (h, nb) = cap match {
      case Some(c) => (s"substr(hex($enc), 1, ${2 * c})",
                       s"LEAST(octet_length($enc), $c)")
      case None => (s"hex($enc)", s"octet_length($enc)")
    }
    s"""hx AS (
      |  SELECT doc_id, $h AS h,
      |         $nb AS nb
      |  FROM documents),
      |bts AS (
      |  SELECT doc_id, nb, list_transform(range(1, nb+1), i ->
      |    CAST(strpos('0123456789ABCDEF', substr(h, CAST(2*i-1 AS INT), 1)) - 1 AS INT) * 16 +
      |    CAST(strpos('0123456789ABCDEF', substr(h, CAST(2*i AS INT), 1)) - 1 AS INT)) AS bs
      |  FROM hx)""".stripMargin
  }

  private val hexBytesCte: String = hexBytes(None)

  /** DuckDB rendering of [[rgbRaster]]'s padded-byte-list layout
    * (`pad(doc_id, ih, bs)` over the [[hexBytesCte]] bytes) — the ONE
    * SQL copy of the raster rebuild, consumed by the RGB luma, q118 and
    * q119 oracles (width and minH parameterized like the Scala side).
    */
  private def rasterCtes(minH: Int, width: Int = 8): String =
    s"""dims AS (
      |  SELECT doc_id, GREATEST(CAST(ceil(nb / ${3 * width}.0) AS BIGINT), $minH) AS ih
      |  FROM hx),
      |pad AS (
      |  SELECT b.doc_id, d.ih,
      |    list_concat(b.bs,
      |      list_transform(range(b.nb, d.ih*${3 * width}), x -> CAST(0 AS INT))) AS bs
      |  FROM bts b JOIN dims d USING (doc_id))""".stripMargin

  /** DuckDB rendering of [[Netpbm.dHash64]]'s 9×8 luma grid over a
    * raster relation `src(doc_id, ih, bs)` — shared by the q118 and
    * q119 oracles.
    */
  private def gridCte(src: String): String =
    s"""grid AS (
      |  SELECT doc_id, list_transform(range(0, 72), i ->
      |    (bs[CAST(3*(((i//9)*ih//8)*8 + ((i%9)*8//9)) + 1 AS INT)]*299 +
      |     bs[CAST(3*(((i//9)*ih//8)*8 + ((i%9)*8//9)) + 2 AS INT)]*587 +
      |     bs[CAST(3*(((i//9)*ih//8)*8 + ((i%9)*8//9)) + 3 AS INT)]*114) // 1000) AS g
      |  FROM $src)""".stripMargin

  /** The codec-family luma-stats face, shared by every image decode
    * face (one kernel, seven decoders): `codec`'s fixture at scan
    * width `width` → its real decoder → integer luma sum + dark count
    * → one final division. All state stays in INTEGER longs until that
    * division, so the DuckDB replay is hash-exact — float feature
    * vectors never touch the compared output. Fence rows are ok=false
    * with n_px=1 (a malformed blob must cost one VISIBLE row, never an
    * ANSI divide-by-zero task death).
    */
  private def lumaStatsFace(spark: SparkSession, dir: String, width: Int,
                            codec: Codec): DataFrame = {
    import spark.implicits._
    val decode = codec.image
    fixtureTable(spark, dir, width, codec)
      .map { r =>
        decode(r.payload) match {
          case Some(img) =>
            var lsum = 0L; var dark = 0L; var i = 0
            while (i < img.pixels.length) {
              val l = Netpbm.luma(img.pixels(i) & 0xff,
                img.pixels(i + 1) & 0xff, img.pixels(i + 2) & 0xff)
              lsum += l; if (l < 32) dark += 1; i += 3
            }
            (r.doc_id, img.width.toLong, img.height.toLong,
              (img.width * img.height).toLong, lsum, dark, true)
          case None => (r.doc_id, 1L, 1L, 1L, 0L, 0L, false)
        }
      }
      .toDF("doc_id", "img_w", "img_h", "n_px", "luma_sum", "n_dark", "ok")
      .select(col("doc_id"), col("img_w"), col("img_h"), col("n_px"),
        col("ok"),
        graft.queries.Q.round4(
          col("luma_sum").cast("double") / col("n_px")).as("luma_mean4"),
        graft.queries.Q.round4(
          col("n_dark").cast("double") / col("n_px")).as("dark_frac4"))
      .orderBy(col("doc_id"))
  }

  /** The luma-stats SELECT over `agg(doc_id, n_px, lsum, ndark)`. */
  private def lumaSelect(imgW: Int, imgH: String): String =
    s"""SELECT doc_id, CAST($imgW AS BIGINT) AS img_w,
      |  CAST($imgH AS BIGINT) AS img_h,
      |  CAST(n_px AS BIGINT) AS n_px, TRUE AS ok,
      |  ${graft.queries.Q.round4Sql("CAST(lsum AS DOUBLE) / n_px")} AS luma_mean4,
      |  ${graft.queries.Q.round4Sql("CAST(ndark AS DOUBLE) / n_px")} AS dark_frac4
      |FROM agg ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of the RGB luma faces (q67 at width 8, q91/q124 at
    * width 10): rebuild the raster ([[rasterCtes]]), BT.601 integer
    * luma per pixel (`//` = the same int division), aggregate the
    * identical integer state, divide once. Everything the file format
    * adds — BMP's BGR/bottom-up/row padding, PNG's filter/unfilter,
    * zlib and CRC — must cancel: encode∘decode is the identity on the
    * pixel array, which is the round trip each query proves.
    */
  private def rgbLumaSql(width: Int): String =
    s"""WITH $hexBytesCte,
      |${rasterCtes(1, width)},
      |lum AS (
      |  SELECT doc_id, ih, list_transform(range(0, ih*$width), p ->
      |    (bs[CAST(3*p+1 AS INT)]*299 + bs[CAST(3*p+2 AS INT)]*587 +
      |     bs[CAST(3*p+3 AS INT)]*114) // 1000) AS ls
      |  FROM pad),
      |px AS (SELECT doc_id, ih, unnest(ls) AS l FROM lum),
      |agg AS (
      |  SELECT doc_id, any_value(ih) AS ih, count(*) AS n_px,
      |         sum(l) AS lsum, count(*) FILTER (l < 32) AS ndark
      |  FROM px GROUP BY doc_id)
      |${lumaSelect(width, "ih")}""".stripMargin

  /** DuckDB mirror of the gray luma faces: grayscale means
    * luma(b,b,b) = b exactly (299+587+114 = 1000), so the replay is
    * PLAIN BYTE STATISTICS over the zero-padded 10-wide plane, each
    * byte owning `tile`×`tile` pixels (1 for gif/webp, 8 for
    * jpeg/vp8), over the first `cap` bytes. The whole LZW/palette,
    * VP8L transform/prefix/cache/LZ77, Huffman/DCT or arithmetic-coder
    * machinery must cancel for the hash to match.
    */
  private def grayLumaSql(tile: Int, cap: Option[Int] = None): String =
    s"""WITH ${hexBytes(cap)},
      |dims AS (
      |  SELECT doc_id, GREATEST(CAST(ceil(nb / 10.0) AS BIGINT), 1) AS hb
      |  FROM hx),
      |agg AS (
      |  SELECT b.doc_id, d.hb, d.hb * ${10 * tile * tile} AS n_px,
      |    ${tile * tile} * coalesce(list_sum(b.bs), 0) AS lsum,
      |    ${tile * tile} * (list_count(list_filter(b.bs, x -> x < 32)) +
      |      (d.hb * 10 - b.nb)) AS ndark
      |  FROM bts b JOIN dims d ON b.doc_id = d.doc_id)
      |${lumaSelect(10 * tile, s"hb * $tile")}""".stripMargin

  /** q67 entry: the REAL image decode in the oracle-checked path —
    * the ppm fixture (each doc's text bytes as the raster of an 8-wide
    * P6 image through [[Netpbm.encodeP6]]) → [[Netpbm.decode]] (actual
    * header parse + raster read, not byte math) → per-image luma stats.
    */
  def q67(spark: SparkSession, dir: String): DataFrame =
    lumaStatsFace(spark, dir, RawScan, Codecs.ppm)

  /** q118: PERCEPTUAL image fingerprint in the oracle-checked path —
    * the ppm fixture → real [[Netpbm.decode]] → [[Netpbm.dHash64]] (9×8
    * nearest-neighbor luma grid, adjacent-sample comparison bits).
    * The hash is emitted as TWO 32-bit halves (dh_hi/dh_lo BIGINT):
    * bit 63 of a one-column form would need the sign bit, and signed
    * 64-bit wraparound arithmetic is not portable across engines —
    * halves are. Image NEAR-DUP rides this exactly like q32 rides
    * SimHash (same 64-bit Hamming space, same block-rotation buckets
    * — spec-pinned on near-identical rasters); this query is the
    * hash kernel's exactness face, DuckDB replaying decode → grid →
    * luma → comparison bit for bit.
    */
  def q118(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fixtureTable(spark, dir, RawScan, Codecs.ppm)
      .map { r =>
        Netpbm.decode(r.payload) match {
          case Some(img) =>
            val h = Netpbm.dHash64(img)
            (r.doc_id, h >>> 32, h & 0xffffffffL, true)
          case None => (r.doc_id, 0L, 0L, false)
        }
      }
      .toDF("doc_id", "dh_hi", "dh_lo", "ok")
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of q118: the q67 raster rebuild (padded byte list,
    * ih rows of 8 pixels), then the SAME integer grid sample
    * (sx = x·8 DIV 9, sy = y·ih DIV 8), BT.601 luma, and bit k of each
    * half = g(x) > g(x+1) at (y, x) = ((k + 32·half) DIV 8, k MOD 8).
    */
  val q118Sql: String = {
    def half(h: Int): String =
      s"""CAST(list_sum(list_transform(range(0, 32), k ->
         |    CASE WHEN g[CAST(((k + ${32 * h})//8)*9 + (k % 8) + 1 AS INT)] >
         |              g[CAST(((k + ${32 * h})//8)*9 + (k % 8) + 2 AS INT)]
         |         THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END)) AS BIGINT)"""
        .stripMargin
    s"""WITH $hexBytesCte,
      |${rasterCtes(1)},
      |${gridCte("pad")}
      |SELECT doc_id,
      |  ${half(1)} AS dh_hi,
      |  ${half(0)} AS dh_lo,
      |  TRUE AS ok
      |FROM grid ORDER BY doc_id""".stripMargin
  }

  /** q119's injection constants, single-sourced into [[q119Sql]]. */
  private val NearMod = 83
  private val NearOffset = 1000000000L

  /** q119: IMAGE near-dup PAIRS — q32's recipe verbatim on
    * [[Netpbm.dHash64]]'s Hamming space through the ONE shared chain
    * ([[graft.functions.TextOps.hammingPairs]]): 4×16-bit pigeonhole
    * blocks (hamming ≤ 3 ⇒ at least one block equal), per-bucket cap
    * 1000, in-bucket hamming verification — pair generation is
    * bucketed, never all-pairs (the 100 TB shape, shared with q32
    * down to the cap). Because the corpus has no natural image
    * near-dups by construction, every doc ≡ 0 (mod [[NearMod]]) also
    * enters as a DERIVED near-copy (id + [[NearOffset]], first raster
    * byte incremented mod 256): the q54/q115 injection device — both
    * engines must DETECT identical known pairs, not agree on empty.
    * Rasters here floor the height at 8 (unlike q118's q67-parity
    * layout): with ih ≥ 8 every dHash grid row samples a DISTINCT
    * pixel row, so the edited byte 0 reaches only grid row 0 — and
    * there it feeds samples g(0) AND g(1) (sx = x·8 DIV 9 maps x=0,1
    * to pixel 0), whose mutual comparison cancels — leaving exactly
    * one comparison (g(1) vs g(2)) that can move: the injected pair
    * sits at hamming ≤ 1, CERTAIN detection under the ≤ 3 threshold.
    * (A height-1 raster would repeat that comparison across all 8
    * grid rows — hamming up to 8, silently past the threshold; the
    * review's empirical check caught exactly this.) Rasters are built
    * directly (encode∘decode is an identity on valid images — q67
    * pins the round trip; the hash kernel is this query's subject,
    * the decode path is q118's).
    */
  def q119(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashes = textsAt(spark, dir, RawScan)
      .flatMap { case (id, t) =>
        val px = rasterOf(t.getBytes("UTF-8"), minH = 8)
        val base = (id, Netpbm.dHash64(px))
        if (id % NearMod == 0) {
          val px2 = px.pixels.clone()
          px2(0) = ((px2(0) + 1) & 0xff).toByte
          Seq(base, (id + NearOffset,
            Netpbm.dHash64(Netpbm.Image(px.width, px.height, 255, px2))))
        } else Seq(base)
      }
      .toDF("doc_id", "dh")
      // barrier (the q32 rationale): the hash column fans out into the
      // block window and both join branches of the shared chain
      .repartition(col("doc_id"))
    graft.functions.TextOps.hammingPairs(hashes, "doc_id", "dh",
      nBlocks = 4, cap = 1000, maxHamming = 3)
  }

  /** DuckDB mirror of q119: the shared raster/grid rebuild (height
    * floor 8) over base + injected rasters, the full hash as UBIGINT
    * (logical shifts match Spark's masked arithmetic shifts), then
    * the SAME block/cap/verify tail as q32Sql
    * ([[graft.queries.TextQ.hammingPairsSql]]).
    */
  val q119Sql: String =
    s"""WITH $hexBytesCte,
      |${rasterCtes(8)},
      |rast AS (
      |  SELECT doc_id, ih, bs FROM pad
      |  UNION ALL
      |  SELECT doc_id + $NearOffset, ih,
      |    list_concat([CAST((bs[1] + 1) % 256 AS INT)], bs[2:]) AS bs
      |  FROM pad WHERE doc_id % $NearMod = 0),
      |${gridCte("rast")},
      |dh AS (
      |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 64), k ->
      |    CASE WHEN g[CAST((k//8)*9 + (k%8) + 1 AS INT)] >
      |              g[CAST((k//8)*9 + (k%8) + 2 AS INT)]
      |         THEN (CAST(1 AS UBIGINT) << CAST(k AS INT))
      |         ELSE CAST(0 AS UBIGINT) END)) AS UBIGINT) AS h
      |  FROM grid),
      |${graft.queries.TextQ.hammingPairsSql("dh", "h")}""".stripMargin

  /** q69 entry: the real AUDIO decode in the oracle-checked path —
    * the wav fixture (each text byte as one centered PCM16 sample
    * through [[Wav.encodePcm16]]) → [[Wav.decode]] (actual RIFF chunk
    * walk) → signal stats. Integer state (sample count, peak
    * magnitude, sum of squares) until the final rms division — DuckDB
    * replays exactly, the q67 recipe on the audio arm.
    */
  def q69(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fixtureTable(spark, dir, RawScan, Codecs.wav)
      .map { r =>
        Wav.decode(r.payload) match {
          case Some(a) =>
            var ss = 0L; var peak = 0L; var i = 0
            while (i < a.samples.length) {
              val v = a.samples(i).toLong
              ss += v * v
              if (math.abs(v) > peak) peak = math.abs(v)
              i += 1
            }
            (r.doc_id, a.sampleRate.toLong, a.samples.length.toLong,
              a.samples.length.toLong * 1000 / a.sampleRate, peak, ss, true)
          case None => (r.doc_id, 0L, 0L, 0L, 0L, 0L, false)
        }
      }
      .toDF("doc_id", "sample_rate", "n_samples", "duration_ms",
        "peak", "sum_sq", "ok")
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("duration_ms"), col("peak"), col("ok"),
        when(col("n_samples") > 0,
          graft.queries.Q.round4(
            sqrt(col("sum_sq").cast("double") / col("n_samples"))))
          .otherwise(lit(0.0)).as("rms4"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of q69: rebuild the samples ((byte-128)*256 from
    * the UTF-8 bytes), aggregate the identical integer state, divide
    * and sqrt once. The LEFT JOIN keeps zero-sample docs (empty text)
    * in the output like the Spark side does.
    */
  val q69Sql: String =
    s"""WITH $hexBytesCte,
      |smp AS (
      |  SELECT doc_id, unnest(list_transform(bs, b -> (b - 128) * 256)) AS s
      |  FROM bts),
      |agg AS (
      |  SELECT doc_id, count(*) AS n, max(abs(s)) AS pk,
      |         sum(CAST(s AS BIGINT) * s) AS ss
      |  FROM smp GROUP BY doc_id)
      |SELECT h.doc_id, CAST(8000 AS BIGINT) AS sample_rate,
      |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_samples,
      |  CAST(coalesce(a.n, 0) * 1000 // 8000 AS BIGINT) AS duration_ms,
      |  CAST(coalesce(a.pk, 0) AS BIGINT) AS peak, TRUE AS ok,
      |  CASE WHEN a.n > 0 THEN ${graft.queries.Q.round4Sql(
           "sqrt(CAST(a.ss AS DOUBLE) / a.n)")} ELSE 0.0 END AS rms4
      |FROM hx h LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** q120: AUDIO fingerprint in the oracle-checked path — the wav
    * fixture → real [[Wav.decode]] (actual RIFF chunk walk, the q69 path) →
    * [[Wav.energyHash64]] (65-window energy contour, adjacent-window
    * comparison bits). Completes the perceptual-fingerprint family:
    * text (q43 winnowing), image (q118 dHash), audio (this) — each an
    * exact-integer kernel whose near-dup pair stage is the ONE shared
    * [[graft.functions.TextOps.hammingPairs]] chain. Emitted as two
    * 32-bit halves for the q118 portability reason (bit 63 needs the
    * sign bit; signed wraparound is not engine-portable).
    */
  def q120(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fixtureTable(spark, dir, RawScan, Codecs.wav)
      .map { r =>
        Wav.decode(r.payload) match {
          case Some(a) =>
            val h = Wav.energyHash64(a)
            (r.doc_id, h >>> 32, h & 0xffffffffL, true)
          case None => (r.doc_id, 0L, 0L, false)
        }
      }
      .toDF("doc_id", "eh_hi", "eh_lo", "ok")
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of q120: samples replayed from the text bytes (the
    * q69 recipe: s = (b − 128)·256), 65 window energies at the same
    * integer boundaries (w·n DIV 65, empty windows coalesce to 0 —
    * and an EMPTY stream to 65 zero energies, matching the kernel's
    * hash-0 fence), comparison bits per half.
    */
  val q120Sql: String = {
    def half(h: Int): String =
      s"""CAST(list_sum(list_transform(range(0, 32), k ->
         |    CASE WHEN e[CAST(k + ${32 * h} + 1 AS INT)] >
         |              e[CAST(k + ${32 * h} + 2 AS INT)]
         |         THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END)) AS BIGINT)"""
        .stripMargin
    s"""WITH $hexBytesCte,
      |en AS (
      |  SELECT doc_id, list_transform(range(0, ${Wav.EnergyWindows}), w ->
      |    coalesce(list_sum(list_transform(range(w*nb//${Wav.EnergyWindows}, (w+1)*nb//${Wav.EnergyWindows}),
      |      i -> abs((bs[CAST(i + 1 AS INT)] - 128) * 256))), 0)) AS e
      |  FROM bts)
      |SELECT doc_id,
      |  ${half(1)} AS eh_hi,
      |  ${half(0)} AS eh_lo,
      |  TRUE AS ok
      |FROM en ORDER BY doc_id""".stripMargin
  }

  /** q91 entry: the real BMP decode in the oracle-checked path — the
    * bmp fixture (the text bytes as a width-10 RGB raster through the
    * REAL [[Bmp.encode]] writer, which flips to bottom-up BGR on disk
    * with 2 padding bytes per row) → [[Bmp.decode]] (actual header
    * validation + bottom-up padded-stride raster read, which must flip
    * both back) → the q67 luma stats, the recipe on the third codec
    * arm.
    */
  def q91(spark: SparkSession, dir: String): DataFrame =
    lumaStatsFace(spark, dir, RawScan, Codecs.bmp)

  /** q124 entry: the real PNG decode in the oracle-checked path — the
    * png fixture (q91's width-10 RGB geometry through the REAL
    * [[Png.encode]] writer, which cycles the per-row filter type
    * `y mod 5`, so every multi-row document exercises ALL FIVE
    * unfilter paths) → [[Png.decode]] (signature + CRC-validated chunk
    * walk + zlib inflate + all-five-filters unfilter) → the codec-
    * family luma stats. The fourth arm, the one covering a format
    * real crawls serve ([[graft.sources.WarcSource.media]] routes PNG
    * responses here by magic). The geometry is deliberately q91's, so
    * one closed-form replay of the raw text bytes checks both round
    * trips.
    */
  def q124(spark: SparkSession, dir: String): DataFrame =
    lumaStatsFace(spark, dir, FullWidth, Codecs.png)

  /** q125 entry: the real GIF decode in the oracle-checked path — the
    * gif fixture ([[grayRaster]] through the real [[Gif.encode]]
    * writer: text's repeated tokens give genuine LZW dictionary
    * growth; the zero-padded tail is the canonical KwKwK run) →
    * [[Gif.decode]] (header walk, palette, REAL variable-width LZW
    * with width escalation and KwKwK) → the codec-family luma stats.
    * The fifth arm, and the second covering a format real crawls
    * serve ([[graft.sources.WarcSource.media]] routes GIF responses
    * here by magic).
    */
  def q125(spark: SparkSession, dir: String): DataFrame =
    lumaStatsFace(spark, dir, FullWidth, Codecs.gif)

  /** q126 entry: the real JPEG decode in the oracle-checked path — the
    * jpeg fixture ([[tiled80]] through the real [[Jpeg.encode]]
    * writer, quant 1) → [[Jpeg.decode]] (marker walk, Huffman, DC
    * differentials, zigzag, dequant, IDCT) → the codec-family luma
    * stats. The sixth arm, covering the format that dominates crawl
    * image bytes ([[graft.sources.WarcSource.media]] routes JPEG
    * responses here by magic); exactness rides the constant-block
    * device ([[tiled80]]): each byte owns 64 pixels of its own value,
    * so the stats are byte statistics × 64.
    */
  def q126(spark: SparkSession, dir: String): DataFrame =
    lumaStatsFace(spark, dir, FullWidth, Codecs.jpeg)

  /** q128 entry: the real WebP (VP8L) decode in the oracle-checked
    * path — the webp fixture (the gif layout at lossless fidelity,
    * through the full VP8L option gauntlet, every 5th doc animated) →
    * [[Webp.decode]] (RIFF walk, prefix codes, subtract-green +
    * Select-predictor inverses, color cache, LZ77 copies) → the
    * codec-family luma stats. The seventh arm, covering the third
    * format real crawls serve ([[graft.sources.WarcSource.media]]
    * routes WebP responses here by magic). VP8L is lossless, so the
    * closed form is q125's unchanged.
    */
  def q128(spark: SparkSession, dir: String): DataFrame =
    lumaStatsFace(spark, dir, FullWidth, Codecs.webp)

  /** q148 entry: the LOSSY-VP8 decode in the oracle-checked path — the
    * vp8 fixture (q126's geometry behind [[Vp8.encodeWebp]], a
    * conforming keyframe whose bitstreams libwebp itself decodes
    * byte-identically, the strongest possible writer claim) through
    * [[Webp.decode]]'s VP8 route (the full RFC 6386 keyframe
    * machinery: bool decoder, token trees, dequant, IWHT/IDCT, intra
    * predictors; the q148 fixtures carry filter level 0, and U=V=128
    * makes the repo's YUV→RGB exact on gray). DuckDB recomputes the
    * luma statistics as byte statistics × 64 — the entire
    * arithmetic-coder + transform pipeline must cancel for the hash to
    * match, the q126 device on the lossy codec.
    */
  def q148(spark: SparkSession, dir: String): DataFrame =
    lumaStatsFace(spark, dir, FullWidth, Codecs.vp8)

  /** q149 entry: HEIF/AVIF PROBE in the oracle-checked path — the
    * triage arm for the two still-image formats whose pixel decode
    * stays excluded (AV1/HEVC intra; SURVEY's stated gap): per
    * doc_id a REAL ISO-BMFF meta tree ([[Heif.write]] — ftyp, meta
    * FullBox, pitm, iinf/infe census incl. an optional Exif item,
    * iprp/ipco with a DECOY thumbnail ispe listed first, ipma
    * associations) with closed-form parameters, probed back
    * ([[Heif.probe]]). The decoy pins the resolution path: a probe
    * reading "the first ispe" reports 64x48 and fails the hash.
    */
  def q149(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docsAt(spark, dir, RawScan)
      .select(col("doc_id")).as[Long]
      .map { id =>
        def pmod(m: Long): Long = ((id % m) + m) % m
        val avif = pmod(2) == 0
        val brand = if (avif) "avif" else "heic"
        val itemType = if (avif) "av01" else "hvc1"
        val w = (160 + pmod(41)).toInt
        val h = (90 + pmod(29)).toInt
        val rot = (pmod(4) * 90).toInt
        val exif = pmod(3) == 0
        val p = Heif.probe(Heif.write(brand, itemType, w, h,
          rotation = rot, withExif = exif))
          .getOrElse(Heif.Probe("", "", -1, -1, -1, false, -1))
        (id, p.brand, p.itemType, p.width.toLong, p.height.toLong,
          p.nItems.toLong, p.hasExif, p.rotation.toLong)
      }
      .toDF("doc_id", "brand", "item_type", "width", "height",
        "n_items", "has_exif", "rotation")
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of q149: every probed field closed-form. */
  val q149Sql: String =
    """SELECT doc_id,
      |  CASE WHEN ((doc_id % 2) + 2) % 2 = 0 THEN 'avif' ELSE 'heic'
      |    END AS brand,
      |  CASE WHEN ((doc_id % 2) + 2) % 2 = 0 THEN 'av01' ELSE 'hvc1'
      |    END AS item_type,
      |  160 + ((doc_id % 41) + 41) % 41 AS width,
      |  90 + ((doc_id % 29) + 29) % 29 AS height,
      |  CASE WHEN ((doc_id % 3) + 3) % 3 = 0 THEN 3 ELSE 2 END
      |    AS n_items,
      |  ((doc_id % 3) + 3) % 3 = 0 AS has_exif,
      |  (((doc_id % 4) + 4) % 4) * 90 AS rotation
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q150 entry: the SEGMENTED LOOP-FILTER decode in the
    * oracle-checked path — the r16 verdict's last VP8 seam (the
    * seg-delta filter branches were pinned only by the shipped
    * libwebp vectors, not by a DuckDB oracle). Per doc a 32x16
    * two-macroblock keyframe: left MB luma 100 in SEGMENT 0 (whose
    * per-segment level + the ref/mode lf deltas net to exactly 0 —
    * the clamp-to-zero arm), right MB luma 100+D in SEGMENT 1 at
    * effective level E, with doc_id arms cycling abs/relative
    * segment levels, BOTH filter types, sharpness 0/4, E in
    * {0,3,6,10} and the edge step D in {4..12}. The geometry makes
    * the filtered plane CLOSED-FORM: only the MB-edge columns can
    * change, they change iff the RFC's threshold 2D + D/2 <=
    * (E+2)*2 + iLim(E, sharpness) passes, and the normal
    * (27w/18w/9w taps) or simple ((2D+4)>>3 / (2D+3)>>3) adjustments
    * are pure integer arithmetic the oracle replays — so `lsum` and
    * the column-weighted `colsum` hash-match only if segment-map
    * decode, abs/rel level resolution, the delta clamps, the
    * sharpness shift, BOTH filters' taps and the threshold algebra
    * are all exact. Perturb any branch of the filter pass and some
    * arm's colsum moves.
    */
  def q150(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docsAt(spark, dir, FullWidth)
      .select(col("doc_id")).as[Long]
      .map { id =>
        def pmod(m: Long): Long = ((id % m) + m) % m
        val simple = pmod(2) == 1
        val segAbs = pmod(3) == 0
        val e = pmod(4) match {
          case 0 => 0; case 1 => 3; case 2 => 6; case _ => 10 }
        val d = pmod(5) match {
          case 0 => 4; case 1 => 6; case 2 => 8; case 3 => 10
          case _ => 12 }
        val sh = if (pmod(7) < 4) 0 else 4
        val w = 32; val h = 16
        val luma = new Array[Byte](w * h)
        var i = 0
        while (i < luma.length) {
          luma(i) = (if (i % w < 16) 100 else 100 + d).toByte
          i += 1
        }
        val f = 20
        val segLf = // +1 cancels the net -1 of refDelta -2 + modeDelta 1
          if (segAbs) Seq(1, e + 1, 1, 1)
          else Seq(1 - f, e + 1 - f, 1 - f, 1 - f)
        val cfg = Vp8.FilterCfg(simple = simple, level = f,
          sharpness = sh, refDelta = -2, modeDelta = 1,
          segAbs = segAbs, segLf = segLf, segIdOf = (mbx, _) => mbx)
        val payload = Vp8.encode(luma, w, h, Some(cfg))
        val fr = Vp8.decode(payload, 0, payload.length).getOrElse(
          Vp8.Frame(0, 0, Array.emptyByteArray, Array.emptyByteArray,
            Array.emptyByteArray, -1))
        var lsum = 0L; var colsum = 0L
        var y = 0
        while (y < fr.height) {
          var x = 0
          while (x < fr.width) {
            val v = fr.y(y * fr.width + x) & 0xff
            lsum += v; colsum += v.toLong * (x + 1)
            x += 1
          }
          y += 1
        }
        (id, fr.width.toLong, fr.height.toLong, lsum, colsum)
      }
      .toDF("doc_id", "img_w", "img_h", "lsum", "colsum")
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of q150: the filter algebra replayed closed-form
    * (threshold, sharpness-adjusted interior limit, normal taps,
    * simple taps) over the same doc_id arms.
    */
  val q150Sql: String =
    """WITH arms AS (
      |  SELECT doc_id,
      |    ((doc_id % 2) + 2) % 2 = 1 AS simple,
      |    CASE ((doc_id % 4) + 4) % 4
      |      WHEN 0 THEN 0 WHEN 1 THEN 3 WHEN 2 THEN 6 ELSE 10 END AS e,
      |    CASE ((doc_id % 5) + 5) % 5
      |      WHEN 0 THEN 4 WHEN 1 THEN 6 WHEN 2 THEN 8 WHEN 3 THEN 10
      |      ELSE 12 END AS d,
      |    CASE WHEN ((doc_id % 7) + 7) % 7 < 4 THEN 0 ELSE 4 END AS sh
      |  FROM documents),
      |lim AS (
      |  SELECT doc_id, simple, e, d,
      |    CASE WHEN sh = 0 THEN e
      |      ELSE GREATEST(LEAST(e // 2, 5), 1) END AS il
      |  FROM arms),
      |fil AS (
      |  SELECT doc_id, simple, d,
      |    (e > 0 AND 2 * d + d // 2 <= (e + 2) * 2 + il) AS f
      |  FROM lim),
      |delt AS (
      |  SELECT doc_id, d, f, simple,
      |    (54 * d + 63) // 128 AS a1,
      |    (36 * d + 63) // 128 AS a2,
      |    (18 * d + 63) // 128 AS a3,
      |    (2 * d + 4) // 8 AS f1,
      |    (2 * d + 3) // 8 AS f2
      |  FROM fil)
      |SELECT doc_id, CAST(32 AS BIGINT) AS img_w,
      |  CAST(16 AS BIGINT) AS img_h,
      |  CAST(51200 + 256 * d +
      |    CASE WHEN f AND simple THEN 16 * (f2 - f1) ELSE 0 END
      |    AS BIGINT) AS lsum,
      |  CAST(16 * (52800 + 392 * d) +
      |    CASE WHEN NOT f THEN 0
      |      WHEN simple THEN 16 * (16 * f2 - 17 * f1)
      |      ELSE -16 * (a1 + 3 * a2 + 5 * a3) END
      |    AS BIGINT) AS colsum
      |FROM delt ORDER BY doc_id""".stripMargin

  /** The text round-trip face shared by the document-format faces
    * (q127/q129/q131/q134–q138/q140/q151): each doc's text written
    * through a real format writer and read back by its extractor,
    * `roundTrip(doc_id, text)`, at scan width `width`. A None fences
    * to ("", false). The oracle is [[identitySql]]: the whole writer +
    * extractor machinery must cancel for the hash to match.
    */
  private def roundTripFace(spark: SparkSession, dir: String, width: Int,
      okCol: String = "extract_ok")(
      roundTrip: (Long, String) => Option[String]): DataFrame = {
    import spark.implicits._
    textsAt(spark, dir, width)
      .map { case (id, t) =>
        val back = roundTrip(id, t)
        (id, back.getOrElse(""), back.isDefined)
      }
      .toDF("doc_id", "text", okCol)
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of every text round-trip face: the identity — the
    * face must return each document's text verbatim, with every
    * payload accepted.
    */
  private def identitySql(okCol: String): String =
    s"""SELECT doc_id, coalesce(text, '') AS text, TRUE AS $okCol
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q151 entry: BROTLI DECODE in the oracle-checked path — each
    * document's UTF-8 bytes written as a CONFORMANT RFC 7932 stream
    * (the fixture encoders are system-libbrotlidec-verified, see
    * [[Brotli]]/BrotliSpec; doc_id arms cycle the three stream
    * shapes: one compressed meta-block with the full 256-symbol
    * 8-bit literal code through the complex code-length path, stored
    * meta-blocks, and a two-meta-block split) and decoded back
    * through the FULL decoder. The oracle is the IDENTITY on the
    * documents table — window-bit parse, meta-block framing, the
    * repeat-coded prefix-code machinery, command decomposition and
    * the literal loop must all cancel for the hash to match (q127's
    * device on the compression format crawls actually serve; the
    * copy/dictionary/context paths are pinned by the libbrotli
    * parity corpus, which no SQL engine can replay).
    */
  def q151(spark: SparkSession, dir: String): DataFrame =
    roundTripFace(spark, dir, FullWidth, okCol = "decode_ok") { (id, t) =>
      def pmod(m: Long): Long = ((id % m) + m) % m
      val bytes = t.getBytes("UTF-8")
      val stream = pmod(3) match {
        case 0 => Brotli.encodeFixed(bytes, split = false)
        case 1 => Brotli.encodeUncompressed(bytes)
        case _ => Brotli.encodeFixed(bytes, split = true)
      }
      Brotli.decode(stream).map(new String(_, "UTF-8"))
    }

  /** q127 entry: PDF TEXT EXTRACTION in the oracle-checked path —
    * each document written as a REAL single-page PDF
    * ([[PdfText.write]]: catalog/pages objects, a FlateDecode content
    * stream, correct xref offsets, the string-escape grammar) and
    * extracted back ([[PdfText.extract]]: /Length-framed stream walk,
    * Inflater, BT…ET show-operator tokenizer, unescape). The oracle
    * is the IDENTITY on the documents table — the entire Flate + PDF
    * framing + escape machinery must cancel for the hash to match
    * (the lossless-round-trip device, applied to a document format
    * instead of a raster).
    */
  def q127(spark: SparkSession, dir: String): DataFrame =
    roundTripFace(spark, dir, FullWidth)((_, t) =>
      PdfText.extract(PdfText.write(t)))

  /** q129 entry: DOCX TEXT EXTRACTION in the oracle-checked path —
    * each document written as a REAL .docx ([[Docx.write]]: the
    * [Content_Types]/_rels/document.xml container through the real
    * [[Zip]] writer, one `<w:p>` per line, XML escaping, stored AND
    * deflated members) and extracted back ([[Docx.extractText]]:
    * EOCD backward scan, central-directory walk, raw inflate with
    * CRC check, `_rels` main-part resolution, the `w:t` scan with
    * entity decode). The oracle is the IDENTITY on the documents
    * table — the entire ZIP + XML + escape machinery must cancel for
    * the hash to match (q127's lossless-round-trip device, applied
    * to the office-document format crawls actually serve).
    */
  def q129(spark: SparkSession, dir: String): DataFrame =
    roundTripFace(spark, dir, FullWidth)((_, t) =>
      Docx.extractText(Docx.write(t)))

  /** q131 entry: EPUB TEXT EXTRACTION in the oracle-checked path —
    * each document written as a REAL .epub ([[Epub.write]]: stored
    * `mimetype` first per OCF, container.xml → OPF manifest+spine →
    * an XHTML chapter with one `<p>` per line, plus a non-spine CSS
    * member the extraction must ignore) and extracted back
    * ([[Epub.extractText]]: the container grammar end-to-end, then
    * the bounded XHTML scan). The oracle is the IDENTITY on the
    * documents table — q129's device on the book format.
    */
  def q131(spark: SparkSession, dir: String): DataFrame =
    roundTripFace(spark, dir, FullWidth)((_, t) =>
      Epub.extractText(Epub.write(t)))

  /** q134 entry: RTF TEXT EXTRACTION in the oracle-checked path —
    * each document written as REAL RTF ([[RtfText.write]]: header
    * with fonttbl/colortbl, a `{\*\generator}` starred destination,
    * `\uc1` + `\uN?` unicode escapes per UTF-16 unit, `\'hh` for the
    * latin-1 range, escaped specials, `\par` paragraphs) and
    * extracted back ([[RtfText.extract]]: group tracking,
    * destination drops, control-word semantics, `\uN` fallback
    * eating). The oracle is the IDENTITY on the documents table —
    * q127/q129/q131's device on the legacy office format, and the
    * route that stops ASCII RTF from polluting the text corpus.
    */
  def q134(spark: SparkSession, dir: String): DataFrame =
    roundTripFace(spark, dir, RawScan)((_, t) =>
      RtfText.extract(RtfText.write(t)))

  /** q135 entry: ODT TEXT EXTRACTION in the oracle-checked path —
    * each document written as a REAL OpenDocument package
    * ([[Odt.write]]: stored `mimetype` first per ODF, manifest,
    * content.xml with real-writer whitespace encoding — first space
    * literal, runs as `text:s text:c`) and extracted back
    * ([[Odt.extractText]]: the `content.xml` scan with paragraph
    * close, `text:tab`/`text:line-break`/`text:s` expansion). The
    * oracle is the IDENTITY — the fourth document format under the
    * q127 device, and the LibreOffice half of the office pair.
    */
  def q135(spark: SparkSession, dir: String): DataFrame =
    roundTripFace(spark, dir, MidKernelParts)((_, t) =>
      Odt.extractText(Odt.write(t)))

  /** q136 entry: XLSX TEXT EXTRACTION in the oracle-checked path —
    * each document written as a REAL SpreadsheetML package
    * ([[Xlsx.write]]: workbook + sheet rels, a DEDUPLICATED shared-
    * string table like real writers, one row per line and one cell
    * per TAB segment) and extracted back ([[Xlsx.extractText]]:
    * rels-resolved workbook → sheets in workbook order → cells by
    * type through the string table, TSV-shaped). The oracle is the
    * IDENTITY — the tabular member of the office family under the
    * q127 device.
    */
  def q136(spark: SparkSession, dir: String): DataFrame =
    roundTripFace(spark, dir, MidKernelParts)((_, t) =>
      Xlsx.extractText(Xlsx.write(t)))

  /** q137 entry: LEGACY WORD (.doc) TEXT EXTRACTION in the
    * oracle-checked path — each document written as a REAL Word-97
    * compound file ([[DocText.write]]: the [[Cfb]] v3 container with
    * FAT/directory/miniFAT, a structurally-valid FIB, one
    * uncompressed piece at the canonical 0x0400; the WordDocument
    * stream rides the REGULAR sector chain and the 1Table Clx rides
    * the MINI stream, so BOTH container paths sit in every oracle
    * row) and extracted back ([[DocText.extract]]: CFB walk, FIB
    * structural walk, Clx/PlcPcd pieces, control-char cleanup). The
    * oracle is the IDENTITY — the fifth document format under the
    * q127 device, and the arm that turns the OLE2 media route into
    * corpus text.
    */
  def q137(spark: SparkSession, dir: String): DataFrame =
    roundTripFace(spark, dir, MidKernelParts)((_, t) =>
      DocText.extract(DocText.write(t)))

  /** q138 entry: LEGACY EXCEL (.xls, BIFF8) TEXT EXTRACTION in the
    * oracle-checked path — each document written as a REAL BIFF8
    * workbook in a REAL [[Cfb]] container ([[XlsText.write]]:
    * globals with BOF/CODEPAGE/BOUNDSHEET, an SST with the real
    * 8224-byte record cap and CONTINUE splits, every third string
    * forced UTF-16 so BOTH encodings sit in every oracle row, one
    * LABELSST cell per TAB segment) and extracted back
    * ([[XlsText.extract]]: CFB walk, record walk, the SST
    * continuation grammar, BOUNDSHEET-offset sheet walk, cell
    * records into the [[Xlsx]] TSV shape). The oracle is the
    * IDENTITY — the tabular member of the LEGACY office family
    * under the q127 device, and the reference-shaped gap (its own
    * domain is tabular import).
    */
  def q138(spark: SparkSession, dir: String): DataFrame =
    roundTripFace(spark, dir, MidKernelParts)((_, t) =>
      XlsText.extract(XlsText.write(t)))

  /** q140 entry: LEGACY POWERPOINT (.ppt) TEXT EXTRACTION in the
    * oracle-checked path — each document written as a REAL
    * PowerPoint-97 record stream in a REAL [[Cfb]] container
    * ([[PptText.write]]: a text atom nested in a DocumentContainer;
    * even doc_ids pin the TextCharsAtom UTF-16 arm, odd ones take
    * the content-chosen TextBytesAtom arm, so BOTH encodings sit in
    * the oracle) and extracted back ([[PptText.extract]]: the
    * recursive record walk, CR/VT normalization). The oracle is the
    * IDENTITY — the slides member of the legacy trio.
    */
  def q140(spark: SparkSession, dir: String): DataFrame =
    roundTripFace(spark, dir, MidKernelParts)((id, t) =>
      PptText.extract(PptText.write(t, forceChars = id % 2 == 0)))

  // ---- q139: the media-coverage AUDIT face ----

  /** The 16 media classes the audit sweeps — index = pmod(doc_id, 16).
    * 0–6 and 15 carry a REAL DECODER (status `decoded` — 15 is the
    * ANIMATED WebP poster-frame route, r18), 7–14 a structural
    * triage probe (status `triaged`); every class fences truncation
    * (status `fenced`).
    */
  private val CoverageMimes: IndexedSeq[String] = IndexedSeq(
    MimePpm, MimeBmp, MimePng, MimeGif, MimeJpeg, BinarySource.MimeWebp,
    MimeWav, BinarySource.MimeTiff, BinarySource.MimeMp3,
    BinarySource.MimeOgg, BinarySource.MimeFlac, BinarySource.MimeMp4,
    BinarySource.MimeMkv, BinarySource.MimeAvif, BinarySource.MimeHeic,
    BinarySource.MimeWebp)

  /** Truncation prefix per class: long enough to keep the SNIFF
    * magic (the blob still routes to its class — the lying-content
    * case a dashboard must count), short enough that the decoder/
    * probe must fence. Pinned per class because magics sit at
    * different offsets (WEBP's form tag ends at byte 12, OGG's page
    * header needs 27).
    */
  private val CoverageCut: IndexedSeq[Int] =
    IndexedSeq(12, 12, 16, 10, 8, 14, 14, 9, 12, 20, 10, 20, 10,
      16, 16, // HEIF: whole ftyp magic survives, meta box does not
      14) // animated WebP: RIFF..WEBP survives, VP8X does not

  private def coverageImage(id: Long): Netpbm.Image = {
    def pmod(k: Long): Long = ((id % k) + k) % k
    val w = 4 + pmod(5).toInt
    val h = 4 + pmod(3).toInt
    val data = Array.tabulate[Byte](w * h * 3)(i =>
      ((i * 31 + id) % 256).toByte)
    Netpbm.Image(w, h, 255, data)
  }

  /** The class-k payload for doc `id` — every parameter closed-form
    * in id so the oracle can predict the class (never the bytes).
    */
  private[graft] def coveragePayload(k: Int, id: Long): Array[Byte] = {
    def pmod(m: Long): Long = ((id % m) + m) % m
    k match {
      case 0 => Netpbm.encodeP6(coverageImage(id))
      case 1 => Bmp.encode(coverageImage(id))
      case 2 => Png.encode(coverageImage(id), interlaced = pmod(4) == 0)
      case 3 => Gif.encode(coverageImage(id), interlaced = pmod(4) == 0)
      case 4 => // constant color: JPEG's lossy path decodes any size
        val img = coverageImage(id)
        Jpeg.encode(Netpbm.Image(img.width, img.height, 255,
          Array.fill[Byte](img.width * img.height * 3)(
            (pmod(200) + 20).toByte)))
      case 5 => Webp.encode(coverageImage(id), subtractGreen = pmod(2) == 0)
      case 6 =>
        val samples = Array.tabulate[Short]((64 + pmod(64)).toInt)(i =>
          ((i * 257 + id) % 4096).toShort)
        Wav.encodePcm16(Wav.Audio(
          if (pmod(2) == 0) 44100 else 48000, samples))
      case 7 => Tiff.write(big = pmod(2) == 0, 24, 17, 5, 8, 3, 2,
        pages = 1 + pmod(3).toInt)
      case 8 => Mp3.write((4 + pmod(4)).toInt, id3Junk = 16)
      case 9 => Ogg.write(if (pmod(2) == 0) "opus" else "vorbis",
        1 + pmod(2).toInt, 48000, 96000L + pmod(9600))
      case 10 => Flac.write(44100, 1 + pmod(2).toInt, 16,
        441000L + pmod(44100))
      case 11 => Mp4.write("isom", 1000L + pmod(60000),
        Some(("avc1", 320, 240)), None, version1 = pmod(5) == 0)
      case 12 => Mkv.write("matroska", 1000L + pmod(60000),
        Some(("V_VP9", 320, 240)), None,
        unknownSegmentSize = pmod(7) == 0)
      case 13 => Heif.write("avif", "av01", (160 + pmod(41)).toInt,
        (90 + pmod(29)).toInt, rotation = (pmod(4) * 90).toInt,
        withExif = pmod(3) == 0)
      case 14 => Heif.write("heic", "hvc1", (160 + pmod(41)).toInt,
        (90 + pmod(29)).toInt, rotation = (pmod(4) * 90).toInt,
        withExif = pmod(3) == 0)
      case _ =>
        // ANIMATED WebP (r18): poster frame = the coverage image, a
        // SECOND deliberately-different frame proves frame 1 (not
        // last) is the one decoded
        val f1 = coverageImage(id)
        val f2 = Netpbm.Image(f1.width, f1.height, 255,
          f1.pixels.map(b => (~b).toByte))
        Webp.encodeAnimated(Seq(f1, f2), durationMs = (40 + pmod(60)).toInt)
    }
  }

  /** The class-k attempt — the [[Codecs]] entry the media pipeline
    * dispatches the class mime to, so the audit measures the real
    * thing. HEIF has no entry: its probe stands in.
    */
  private[graft] def coverageStatus(k: Int, payload: Array[Byte]): String = {
    val ok = k match {
      case 13 | 14 => Heif.probe(payload).isDefined
      // the poster frame must DECODE and the flag must read true — an
      // animated container whose flag goes dark is a coverage
      // regression the same as a fencing decoder
      case 15 => Webp.decode(payload).isDefined && Webp.isAnimated(payload)
      case _ => Codecs.byMime(CoverageMimes(k)).features(payload).isDefined
    }
    if (!ok) "fenced" else if (k <= 6 || k == 15) "decoded" else "triaged"
  }

  /** q139 entry: the MEDIA-COVERAGE AUDIT as a verified query — the
    * operator a 100 TB crawl deployment dashboards daily ("of the
    * media the crawl served, what fraction did we decode, what did
    * we only triage, what fenced, by mime"). Deterministic
    * mixed-fixture injection: per doc_id a REAL payload of one of 16
    * classes (8 decodable through the real codecs — animated WebP's
    * poster-frame route joined in r18 — 8 triage-only; avif/heic
    * joined in r16 the moment [[Heif.probe]] existed: the dashboard
    * must absorb a new format the day its walk lands),
    * every 7th id TRUNCATED to a magic-preserving prefix (7 is
    * coprime with 16, so EVERY class carries fenced rows — 5 divided
    * the old count and would have left fences unexercised);
    * the Spark
    * side then runs the ACTUAL sniff ([[graft.sources.BinarySource
    * .sniffMime]]) and the ACTUAL decode/probe kernels, and reports
    * (mime, status) counts. The DuckDB oracle recomputes the counts
    * closed-form from doc_id arithmetic — so the hash only matches
    * if every intact payload of every class really decodes/triages
    * AND every truncated one really fences AND the sniff routes
    * every class to its mime. A codec regression (a decoder that
    * starts fencing good payloads, a sniff arm that misroutes)
    * breaks this query before it silently skews a corpus.
    */
  def q139(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = docsAt(spark, dir, MidKernelParts)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val k = ((id % 16) + 16) % 16
        // 7 is COPRIME with 16, so every class gets truncated rows
        // (the old 5 divided 15: truncation would only ever hit
        // classes 0/5/10 and twelve fences would go unexercised)
        val corrupt = ((id % 7) + 7) % 7 == 0
        val full = coveragePayload(k.toInt, id)
        val payload =
          if (corrupt)
            java.util.Arrays.copyOfRange(full, 0,
              math.min(CoverageCut(k.toInt), full.length))
          else full
        (id, payload, coverageStatus(k.toInt, payload))
      }
      .toDF("doc_id", "payload", "status")
    rows
      .select(BinarySource.sniffMime(col("payload")).as("mime"),
        col("status"))
      .groupBy(col("mime"), col("status"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("mime"), col("status"))
  }

  /** q141 entry: EXIF AUDIT + SCRUB in the oracle-checked path — the
    * image half of the privacy story (q52 scrubs text PII; crawled
    * photos carry GPS/timestamps/camera identity in EXIF). Per
    * doc_id: a real JPEG ([[Jpeg.encode]]) gains a REAL EXIF APP1
    * ([[Exif.write]] — little-endian TIFF block, IFD0 + Exif IFD +
    * GPS IFD with RATIONAL coordinates, plus a COM segment) with
    * closed-form parameters; [[Exif.parse]] must read the evidence
    * back, [[Exif.strip]] must remove EVERY metadata segment
    * (re-parse → None) while the pixels still decode
    * ([[Jpeg.decode]] on the scrubbed bytes). The DuckDB oracle
    * recomputes every field from doc_id arithmetic — the hash only
    * matches if the parse reads real offsets right AND the scrub is
    * total AND lossless to pixels.
    */
  def q141(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docsAt(spark, dir, MidKernelParts)
      .select(col("doc_id")).as[Long]
      .map { id =>
        def pmod(m: Long): Long = ((id % m) + m) % m
        val base = Jpeg.encode(Netpbm.Image(16, 16, 255,
          Array.fill[Byte](16 * 16 * 3)((pmod(200) + 20).toByte)))
        val orientation = (1 + pmod(8)).toInt
        val withGps = pmod(3) == 0
        val withTs = pmod(2) == 0
        val make = "maker" + pmod(4)
        val tagged = Exif.write(base, orientation,
          if (withGps) Some((37.7749 + pmod(10), -122.4194 - pmod(10)))
          else None,
          Some(make),
          if (withTs) Some("2024:01:02 03:04:05") else None,
          comment = Some("crawl comment " + id))
        val info = Exif.parse(tagged).getOrElse(Exif.Info(-1, false,
          false, None))
        val stripped = Exif.strip(tagged).getOrElse(Array.emptyByteArray)
        (id, info.orientation, info.hasGps, info.hasTimestamp,
          info.make.getOrElse(""),
          Exif.parse(stripped).isEmpty,
          Jpeg.decode(stripped).isDefined)
      }
      .toDF("doc_id", "orientation", "has_gps", "has_ts", "make",
        "scrub_total", "pixels_survive")
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of q141: every audited field closed-form in
    * doc_id; the scrub columns must be uniformly TRUE.
    */
  val q141Sql: String =
    """SELECT doc_id,
      |  CAST(1 + ((doc_id % 8) + 8) % 8 AS INT) AS orientation,
      |  ((doc_id % 3) + 3) % 3 = 0 AS has_gps,
      |  ((doc_id % 2) + 2) % 2 = 0 AS has_ts,
      |  'maker' || CAST(((doc_id % 4) + 4) % 4 AS VARCHAR) AS make,
      |  TRUE AS scrub_total,
      |  TRUE AS pixels_survive
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q147 entry: EXIF SCRUB ACROSS CONTAINERS in the oracle-checked
    * path — the same PII (GPS, timestamps, camera identity) rides the
    * SAME TIFF block in four crawl containers: JPEG APP1, PNG `eXIf`
    * chunk, WebP `EXIF` chunk, and the standalone TIFF file itself.
    * Per doc_id the container cycles by pmod(4); each gains a REAL
    * EXIF block with closed-form parameters ([[Exif.writePng]] /
    * [[Exif.writeWebp]] — real chunk CRCs, VP8X presence bits — /
    * [[Exif.writeTiff]]); [[Exif.parse]] must read the evidence back
    * per container and [[Exif.strip]] must remove it: whole-chunk
    * drop for JPEG/PNG/WebP (re-parse → None), in-place GPS/DateTime
    * zeroing for the standalone TIFF (the container IS the pixel
    * carrier — re-parse shows hasGps/hasTs false, orientation/make
    * survive). Pixels must still decode after every scrub.
    */
  def q147(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docsAt(spark, dir, FullWidth)
      .select(col("doc_id")).as[Long]
      .map { id =>
        def pmod(m: Long): Long = ((id % m) + m) % m
        val container = pmod(4) match {
          case 0 => "jpeg"; case 1 => "png"; case 2 => "webp"
          case _ => "tiff"
        }
        val orientation = (1 + pmod(8)).toInt
        val gps =
          if (pmod(3) == 0) Some((37.0 + pmod(10), -122.0 - pmod(10)))
          else None
        val dt =
          if (pmod(2) == 0) Some("2024:01:02 03:04:05") else None
        val make = "maker" + pmod(4)
        val img = Netpbm.Image(8, 8, 255,
          Array.fill[Byte](192)((pmod(180) + 30).toByte))
        val tagged = container match {
          case "jpeg" => Exif.write(Jpeg.encode(img), orientation, gps,
            Some(make), dt, comment = Some("c" + id))
          case "png" => Exif.writePng(Png.encode(img), orientation, gps,
            Some(make), dt, comment = Some("c" + id))
          case "webp" => Exif.writeWebp(Webp.encode(img), orientation,
            gps, Some(make), dt,
            xmp = Some("<x:xmpmeta>gps dup " + id + "</x:xmpmeta>"))
          case _ => Exif.writeTiff(orientation, gps, Some(make), dt)
        }
        val info = Exif.parse(tagged).getOrElse(
          Exif.Info(-1, false, false, None))
        val stripped = Exif.strip(tagged).getOrElse(Array.emptyByteArray)
        val after = Exif.parse(stripped)
        val scrubTotal = container match {
          case "tiff" => after.exists(a => !a.hasGps && !a.hasTimestamp)
          case _ => after.isEmpty
        }
        val pixelsSurvive = container match {
          case "jpeg" => Jpeg.decode(stripped).isDefined
          case "png" => Png.decode(stripped).isDefined
          case "webp" => Webp.decode(stripped).isDefined
          case _ => stripped.length == tagged.length // in-place scrub
        }
        (id, container, info.orientation, info.hasGps, info.hasTimestamp,
          info.make.getOrElse(""), scrubTotal, pixelsSurvive)
      }
      .toDF("doc_id", "container", "orientation", "has_gps", "has_ts",
        "make", "scrub_total", "pixels_survive")
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of q147: container + audited fields closed-form;
    * the scrub columns must be uniformly TRUE across all four
    * containers.
    */
  val q147Sql: String =
    """SELECT doc_id,
      |  CASE ((doc_id % 4) + 4) % 4 WHEN 0 THEN 'jpeg'
      |    WHEN 1 THEN 'png' WHEN 2 THEN 'webp' ELSE 'tiff' END
      |    AS container,
      |  CAST(1 + ((doc_id % 8) + 8) % 8 AS INT) AS orientation,
      |  ((doc_id % 3) + 3) % 3 = 0 AS has_gps,
      |  ((doc_id % 2) + 2) % 2 = 0 AS has_ts,
      |  'maker' || CAST(((doc_id % 4) + 4) % 4 AS VARCHAR) AS make,
      |  TRUE AS scrub_total,
      |  TRUE AS pixels_survive
      |FROM documents ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of q139: the closed-form (mime, status) census
    * from doc_id arithmetic alone.
    */
  val q139Sql: String = {
    val mimeCase = CoverageMimes.zipWithIndex
      .map { case (m, i) => s"WHEN $i THEN '$m'" }
      .mkString(" ")
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CASE ((doc_id % 16) + 16) % 16 $mimeCase END AS mime,
       |    CASE WHEN ((doc_id % 7) + 7) % 7 = 0 THEN 'fenced'
       |         WHEN ((doc_id % 16) + 16) % 16 <= 6
       |           OR ((doc_id % 16) + 16) % 16 = 15 THEN 'decoded'
       |         ELSE 'triaged' END AS status
       |  FROM documents)
       |SELECT mime, status, count(*) AS n FROM m
       |GROUP BY mime, status ORDER BY mime, status""".stripMargin
  }

  /** q130 entry: VIDEO-CONTAINER PROBE in the oracle-checked path —
    * per document, a REAL container built with doc_id-derived
    * parameters (even ids → ISO-BMFF via [[Mp4.write]], odd →
    * Matroska/WebM via [[Mkv.write]]; duration/dims/audio presence/
    * rate/channels all closed-form in doc_id) and probed back
    * ([[Mp4.parse]] box walk / [[Mkv.parse]] EBML walk). Writer
    * switches keyed off doc_id exercise every grammar arm IN the
    * oracle path: 64-bit mvhd times, largesize mdat, moov-last
    * layout, unknown-size Segment, float64 Duration. The oracle
    * recomputes every probed field from doc_id arithmetic — the
    * whole box/vint machinery must cancel for the hash to match
    * (the q126 closed-form device, applied to container grammars).
    */
  def q130(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docsAt(spark, dir, RawScan)
      .select(col("doc_id"))
      .as[Long]
      .map { id =>
        def pmod(k: Long): Long = ((id % k) + k) % k
        val dur = 1000L + pmod(600000)
        val w = (16 * (1 + pmod(120))).toInt
        val h = (16 * (1 + pmod(68))).toInt
        val hasAudio = pmod(3) == 0
        val rate = if (pmod(2) == 0) 48000 else 44100
        val ch = (1 + pmod(2)).toInt
        if (pmod(2) == 0) {
          val bytes = Mp4.write("isom", dur,
            video = Some(("avc1", w, h)),
            audio = if (hasAudio) Some(("mp4a", rate, ch)) else None,
            version1 = pmod(5) == 0,
            largeMdat = pmod(7) == 0,
            moovLast = pmod(11) == 0)
          val info = Mp4.parse(bytes).getOrElse(
            Mp4.Info("", -1, -1, -1, -1, -1, "", "", -1, -1))
          (id, info.brand, info.durationMs, info.width, info.height,
            info.videoTracks, info.audioTracks, info.videoCodec,
            info.audioCodec, info.audioRate, info.audioChannels,
            info.durationMs >= 0)
        } else {
          val doc = if (pmod(13) == 0) "matroska" else "webm"
          val bytes = Mkv.write(doc, dur,
            video = Some(("V_VP9", w, h)),
            audio = if (hasAudio) Some(("A_OPUS", rate, ch)) else None,
            unknownSegmentSize = pmod(5) == 0,
            float8 = pmod(7) == 0)
          val info = Mkv.parse(bytes).getOrElse(
            Mkv.Info("", -1, -1, -1, -1, -1, "", "", -1, -1))
          (id, info.docType, info.durationMs, info.width, info.height,
            info.videoTracks, info.audioTracks, info.videoCodec,
            info.audioCodec,
            // absent audio reports the Matroska DEFAULTS (8000 Hz,
            // 1 channel) only when a track exists; no track → 0s,
            // aligned with the MP4 arm
            info.audioRate, info.audioChannels,
            info.durationMs >= 0)
        }
      }
      .toDF("doc_id", "container", "duration_ms", "width", "height",
        "v_tracks", "a_tracks", "video_codec", "audio_codec",
        "audio_rate", "audio_channels", "probe_ok")
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of q130: every probed field recomputed closed-form
    * from doc_id (the same pmod arithmetic the builders use).
    */
  val q130Sql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    ((doc_id % 2) + 2) % 2 AS m2,
      |    ((doc_id % 3) + 3) % 3 AS m3,
      |    ((doc_id % 13) + 13) % 13 AS m13,
      |    1000 + ((doc_id % 600000) + 600000) % 600000 AS dur,
      |    16 * (1 + ((doc_id % 120) + 120) % 120) AS w,
      |    16 * (1 + ((doc_id % 68) + 68) % 68) AS h
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN m2 = 0 THEN 'isom'
      |       WHEN m13 = 0 THEN 'matroska' ELSE 'webm' END AS container,
      |  CAST(dur AS BIGINT) AS duration_ms,
      |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  1 AS v_tracks,
      |  CAST(CASE WHEN m3 = 0 THEN 1 ELSE 0 END AS INT) AS a_tracks,
      |  CASE WHEN m2 = 0 THEN 'avc1' ELSE 'V_VP9' END AS video_codec,
      |  CASE WHEN m3 <> 0 THEN ''
      |       WHEN m2 = 0 THEN 'mp4a' ELSE 'A_OPUS' END AS audio_codec,
      |  CAST(CASE WHEN m3 <> 0 THEN 0
      |       WHEN m2 = 0 THEN 48000 ELSE 44100 END AS INT) AS audio_rate,
      |  CAST(CASE WHEN m3 <> 0 THEN 0 ELSE 1 + m2 END AS INT)
      |    AS audio_channels,
      |  TRUE AS probe_ok
      |FROM p ORDER BY doc_id""".stripMargin

  /** q132 entry: AUDIO-CONTAINER PROBE in the oracle-checked path —
    * the q130 device on the audio formats: per document, a REAL
    * container built with doc_id-derived parameters (even ids → FLAC
    * via [[Flac.write]], odd → OGG via [[Ogg.write]], Vorbis or Opus
    * by a second residue) and probed back ([[Flac.parse]] STREAMINFO
    * bits / [[Ogg.parse]] page walk incl. granule-position duration
    * and the Opus pre-skip + 48 kHz granule-rate rules). The oracle
    * recomputes every probed field from doc_id arithmetic — the
    * bit-packing/page-framing machinery must cancel for the hash to
    * match.
    */
  def q132(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docsAt(spark, dir, RawScan)
      .select(col("doc_id"))
      .as[Long]
      .map { id =>
        def pmod(k: Long): Long = ((id % k) + k) % k
        val samples = 1000L + pmod(100000)
        val ch = if (pmod(4) >= 2) 2 else 1
        if (pmod(2) == 0) {
          val rate = if (pmod(3) == 0) 32000 else if (pmod(3) == 1) 44100
                     else 48000
          val info = Flac.parse(Flac.write(rate, ch, 16, samples,
            withComment = pmod(5) == 0)).getOrElse(
            Flac.Info(-1, -1, -1, -1, -1))
          (id, "flac", "flac", info.channels, info.sampleRate,
            info.durationMs, info.sampleRate >= 0)
        } else {
          val vorbis = pmod(3) == 0
          val rate = if (pmod(5) == 0) 48000 else 44100
          val preSkip = if (vorbis) 0 else 312
          val info = Ogg.parse(Ogg.write(
            if (vorbis) "vorbis" else "opus", ch, rate,
            granuleEnd = samples + preSkip, preSkip = preSkip))
            .getOrElse(Ogg.Info("", -1, -1, -1, -1))
          (id, "ogg", info.codec, info.channels, info.sampleRate,
            info.durationMs, info.sampleRate >= 0)
        }
      }
      .toDF("doc_id", "container", "codec", "channels", "sample_rate",
        "duration_ms", "probe_ok")
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of q132: every probed field recomputed closed-form
    * from doc_id (durations follow each format's own rule — FLAC
    * total/rate, Vorbis granule/rate, Opus (granule−preskip)/48000).
    */
  val q132Sql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    ((doc_id % 2) + 2) % 2 AS m2,
      |    ((doc_id % 3) + 3) % 3 AS m3,
      |    ((doc_id % 4) + 4) % 4 AS m4,
      |    ((doc_id % 5) + 5) % 5 AS m5,
      |    1000 + ((doc_id % 100000) + 100000) % 100000 AS samples
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN m2 = 0 THEN 'flac' ELSE 'ogg' END AS container,
      |  CASE WHEN m2 = 0 THEN 'flac'
      |       WHEN m3 = 0 THEN 'vorbis' ELSE 'opus' END AS codec,
      |  CAST(CASE WHEN m4 >= 2 THEN 2 ELSE 1 END AS INT) AS channels,
      |  CAST(CASE WHEN m2 = 0 THEN
      |         CASE WHEN m3 = 0 THEN 32000 WHEN m3 = 1 THEN 44100
      |              ELSE 48000 END
      |       ELSE CASE WHEN m5 = 0 THEN 48000 ELSE 44100 END
      |  END AS INT) AS sample_rate,
      |  CAST(CASE
      |    WHEN m2 = 0 THEN samples * 1000 //
      |      (CASE WHEN m3 = 0 THEN 32000 WHEN m3 = 1 THEN 44100
      |            ELSE 48000 END)
      |    WHEN m3 = 0 THEN samples * 1000 //
      |      (CASE WHEN m5 = 0 THEN 48000 ELSE 44100 END)
      |    ELSE samples * 1000 // 48000
      |  END AS BIGINT) AS duration_ms,
      |  TRUE AS probe_ok
      |FROM p ORDER BY doc_id""".stripMargin

  /** q133 entry: TIFF STRUCTURE PROBE in the oracle-checked path —
    * the q130/q132 device on the scanned-document format: per
    * document, a REAL TIFF built with doc_id-derived parameters
    * (byte order by parity — BOTH endiannesses in the oracle path —
    * dims, compression id, bits/sample incl. the out-of-line
    * 3-element BitsPerSample when RGB, page count) and probed back
    * ([[Tiff.parse]] IFD walk). The oracle recomputes every field
    * from doc_id arithmetic — header byte order, inline-vs-offset
    * values and the next-IFD chain must all cancel for the hash to
    * match.
    */
  def q133(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docsAt(spark, dir, MidKernelParts)
      .select(col("doc_id"))
      .as[Long]
      .map { id =>
        def pmod(k: Long): Long = ((id % k) + k) % k
        val big = pmod(2) == 0
        val w = (1 + pmod(40)).toInt
        val h = (1 + pmod(30)).toInt
        val comp = if (pmod(3) == 0) 1 else if (pmod(3) == 1) 5 else 7
        val spp = if (pmod(4) >= 2) 3 else 1
        val bps = if (pmod(5) == 0) 16 else 8
        val photo = if (spp == 3) 2 else 1
        val pages = (1 + pmod(3)).toInt
        val info = Tiff.parse(Tiff.write(big, w, h, comp, bps, spp,
          photo, pages)).getOrElse(
          Tiff.Info(big, -1, -1, -1, -1, -1, -1, -1))
        (id, info.bigEndian, info.width, info.height, info.compression,
          info.bitsPerSample, info.samplesPerPixel, info.photometric,
          info.pages, info.width > 0)
      }
      .toDF("doc_id", "big_endian", "width", "height", "compression",
        "bits_per_sample", "samples_per_pixel", "photometric", "pages",
        "probe_ok")
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of q133: every probed field recomputed closed-form
    * from doc_id.
    */
  val q133Sql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    ((doc_id % 2) + 2) % 2 AS m2,
      |    ((doc_id % 3) + 3) % 3 AS m3,
      |    ((doc_id % 4) + 4) % 4 AS m4,
      |    ((doc_id % 5) + 5) % 5 AS m5
      |  FROM documents)
      |SELECT doc_id,
      |  m2 = 0 AS big_endian,
      |  CAST(1 + ((doc_id % 40) + 40) % 40 AS INT) AS width,
      |  CAST(1 + ((doc_id % 30) + 30) % 30 AS INT) AS height,
      |  CAST(CASE WHEN m3 = 0 THEN 1 WHEN m3 = 1 THEN 5 ELSE 7 END
      |    AS INT) AS compression,
      |  CAST(CASE WHEN m5 = 0 THEN 16 ELSE 8 END AS INT)
      |    AS bits_per_sample,
      |  CAST(CASE WHEN m4 >= 2 THEN 3 ELSE 1 END AS INT)
      |    AS samples_per_pixel,
      |  CAST(CASE WHEN m4 >= 2 THEN 2 ELSE 1 END AS INT) AS photometric,
      |  CAST(1 + m3 AS INT) AS pages,
      |  TRUE AS probe_ok
      |FROM p ORDER BY doc_id""".stripMargin

  /** q50 entry: blob table → batched decode-stub → feature summary.
    * Metadata and feature stats only — the binary column never reaches
    * the output (and is pruned from metadata-only branches).
    */
  def q50(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = blobTable(spark, dir).as[MediaRow]
    extractFeatures(media).toDF()
      .select(col("doc_id"), col("mime"), col("n_bytes"), col("ok"),
        size(col("features")).as("feature_dim"),
        graft.queries.Q.round4(aggregate(col("features"),
          lit(0.0), (a, x) => a + x.cast("double"))).as("feature_sum"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of q50: the stub decode is deterministic byte math,
    * so the oracle replays it exactly — UTF-8 bytes via hex(encode()),
    * per-slot FLOAT accumulation (list positions are 1-based; slot =
    * (i-1) mod 16), then the slot sum in double. A real codec would
    * make this rows-only; the plumbing (schema, batching, fencing) is
    * what the query verifies.
    */
  val q50Sql: String =
    s"""WITH $hexBytesCte,
      |feats AS (
      |  SELECT doc_id, nb, list_transform(range(0, 16), j ->
      |    list_reduce(
      |      list_prepend(CAST(0 AS FLOAT),
      |        list_transform(list_filter(bs, (x, i) -> (i-1) % 16 = j),
      |          b -> CAST(b AS FLOAT) / CAST(255 AS FLOAT))),
      |      (a, x) -> a + x)) AS f
      |  FROM bts)
      |SELECT doc_id, 'text/plain' AS mime, CAST(nb AS BIGINT) AS n_bytes, TRUE AS ok,
      |  16 AS feature_dim,
      |  FLOOR((list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(f, x -> CAST(x AS DOUBLE))), (a,x) -> a+x)) * 10000 + 0.5)/10000 AS feature_sum
      |FROM feats ORDER BY doc_id""".stripMargin

  /** The multimodal query family, in SURVEY §2 order. */
  val entries: Seq[Entry] = Seq(
    Entry("q50_multimodal_meta", q50, Some(q50Sql)),
    Entry("q67_ppm_decode", q67, Some(rgbLumaSql(8))),
    Entry("q69_wav_decode", q69, Some(q69Sql)),
    Entry("q91_bmp_decode", q91, Some(rgbLumaSql(10))),
    Entry("q118_image_dhash", q118, Some(q118Sql)),
    Entry("q119_image_neardup", q119, Some(q119Sql)),
    Entry("q120_audio_fingerprint", q120, Some(q120Sql)),
    Entry("q124_png_decode", q124, Some(rgbLumaSql(10))),
    Entry("q125_gif_decode", q125, Some(grayLumaSql(1))),
    Entry("q126_jpeg_decode", q126, Some(grayLumaSql(8))),
    Entry("q127_pdf_extract", q127, Some(identitySql("extract_ok"))),
    Entry("q128_webp_decode", q128, Some(grayLumaSql(1))),
    Entry("q129_docx_extract", q129, Some(identitySql("extract_ok"))),
    Entry("q130_video_probe", q130, Some(q130Sql)),
    Entry("q131_epub_extract", q131, Some(identitySql("extract_ok"))),
    Entry("q132_audio_probe", q132, Some(q132Sql)),
    Entry("q133_tiff_probe", q133, Some(q133Sql)),
    Entry("q134_rtf_extract", q134, Some(identitySql("extract_ok"))),
    Entry("q135_odt_extract", q135, Some(identitySql("extract_ok"))),
    Entry("q136_xlsx_extract", q136, Some(identitySql("extract_ok"))),
    Entry("q137_doc_extract", q137, Some(identitySql("extract_ok"))),
    Entry("q138_xls_extract", q138, Some(identitySql("extract_ok"))),
    Entry("q139_media_coverage", q139, Some(q139Sql)),
    Entry("q140_ppt_extract", q140, Some(identitySql("extract_ok"))),
    Entry("q141_exif_scrub", q141, Some(q141Sql)),
    Entry("q147_exif_containers", q147, Some(q147Sql)),
    Entry("q148_vp8_decode", q148, Some(grayLumaSql(8, Some(Vp8MaxBytes)))),
    Entry("q149_heif_probe", q149, Some(q149Sql)),
    Entry("q150_vp8_segfilter", q150, Some(q150Sql)),
    Entry("q151_brotli_decode", q151, Some(identitySql("decode_ok"))))
}

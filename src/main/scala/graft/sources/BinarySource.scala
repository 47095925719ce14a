package graft.sources

import graft.functions.expressions.TextExprs.md5Lower64
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Real-file multimodal ingest: a directory tree of media files read
  * through Spark's `binaryFile` source into the
  * [[graft.multimodal.Multimodal.MediaRow]] blob shape
  * (doc_id, payload, meta{mime, n_bytes, checksum}) that every decode/
  * feature/resize stage consumes — the production front door the
  * synthetic `blobTable` stands in for.
  *
  * Mime comes from MAGIC BYTES, not the file extension: one codegen'd
  * CASE over binary `substring` prefixes (P6 "P6", BMP "BM", WAV
  * "RIFF….WAVE"), so a mislabeled or extension-less file routes to the
  * codec its bytes actually are, and anything unrecognized falls to
  * `application/octet-stream` (the decode-stub arm). doc_id is the
  * portable md5-64 of the file path — deterministic across runs and
  * engines; the raw `path` column rides along for traceability.
  *
  * Scale shape: `binaryFile` plans one row per file and packs files
  * into tasks by `spark.sql.files.maxPartitionBytes`, so a 100 TB
  * media tree parallelizes by bytes without any driver-side listing
  * loop (directory listing itself is Spark's distributed listing).
  * Caveats a deployment must know: files above
  * `spark.sql.sources.binaryFile.maxLength` (default 2 GB, the
  * byte-array ceiling) fail the scan — shard bigger media upstream;
  * and millions of TINY files are a listing/task-overhead problem —
  * run [[Compactor]]-style consolidation upstream or ingest from an
  * archive format.
  */
object BinarySource {

  /** Every mime the sniffer emits, spelled once for the whole engine.
    * The multimodal codec table decodes or triages many of them; the
    * rest are route-only: formats the sniffer recognizes so crawl
    * intake can QUARANTINE them from the text corpus
    * ([[WarcSource.documents]]) and route them to the media face even
    * though no decoder exists for them (the decode dispatch gives them
    * the stub arm). Keeping an archive out of the documents table does
    * not require being able to decode it.
    */
  val MimePpm = "image/x-portable-pixmap"
  val MimeBmp = "image/bmp"
  val MimeWav = "audio/x-wav"
  val MimePng = "image/png"
  val MimeJpeg = "image/jpeg"
  val MimeGif = "image/gif"
  val MimeWebp = "image/webp"
  val MimePdf = "application/pdf"
  val MimeGzip = "application/gzip"
  val MimeZstd = "application/zstd"
  val MimeBzip2 = "application/x-bzip2"
  val MimeXz = "application/x-xz"
  val MimeMp3 = "audio/mpeg"
  val MimeZip = "application/zip"   // OOXML/EPUB/JAR live here too
  val MimeMp4 = "video/mp4"         // the whole ISO-BMFF brand family
  val MimeWebm = "video/webm"
  val MimeMkv = "video/x-matroska"
  val MimeOgg = "audio/ogg"         // Vorbis/Opus (and rarely Theora)
  val MimeFlac = "audio/flac"
  val MimeTiff = "image/tiff"
  val MimeTar = "application/x-tar"
  // dataset/interchange files a mirror crawl serves — recognized so
  // they land in media as honest evidence instead of NUL-fence
  // quarantine noise (no decoder needed to keep the audit clean)
  val MimeParquet = "application/vnd.apache.parquet"
  val MimeOrc = "application/vnd.apache.orc"
  val MimeAvro = "application/avro"
  val MimeSqlite = "application/vnd.sqlite3"
  val MimeOle = "application/x-ole-storage" // legacy .doc/.xls/.ppt
                                            // (CFB): the office-text
                                            // face extracts the trio
  val MimeSevenZ = "application/x-7z-compressed" // members surface
                                                 // through documents
  val MimeRtf = "application/rtf" // ASCII, so WITHOUT this route a
                                  // crawled .rtf passes the NUL fence
                                  // and ingests as control-word soup
  val MimeAvif = "image/avif"       // ISO-BMFF still images: the ftyp
  val MimeHeic = "image/heic"       // BRAND decides image vs video

  /** Magic-byte test: payload bytes [off, off+marker.length) equal the
    * marker (1-based offset, Spark substring convention). Markers are
    * ISO-8859-1 strings so non-ASCII magic bytes (0x89, 0xFF, …) map
    * 1:1 via unicode escapes.
    */
  private def magic(payload: Column, off: Int, marker: String): Column =
    substring(payload, off, marker.length) ===
      lit(marker.getBytes("ISO-8859-1"))

  /** The sniffed mime for a binary payload column — the real-web magic
    * table (every format a crawl actually serves), not just the three
    * decodable ones: decodable media route to their codec, recognized-
    * but-undecodable media route to the media face as evidence-bearing
    * blobs, and only genuinely unrecognized bytes fall through to
    * `application/octet-stream`. RIFF is disambiguated by its form tag
    * (WAVE vs WEBP). Printable-ASCII magics are matched at their FULL
    * discriminating shape, because this table GATES text out of the
    * documents corpus and a short prefix misroutes real prose: GIF is
    * the whole 6-byte version block ("GIF87a"/"GIF89a" — the actual
    * format magic, not the "GIF8" prefix an article can start with),
    * PDF keeps its version dash ("%PDF-"), and ID3 requires the v2
    * header shape — major version <= 10 and all four sync-safe size
    * bytes < 0x80 — so a page beginning "ID3 tags are..." (0x20 =
    * version 32) stays text.
    */
  def sniffMime(payload: Column): Column = {
    val id3 = magic(payload, 1, "ID3") &&
      length(payload) >= 10 && // the full ID3v2 header must be present
      substring(payload, 4, 1) <= lit(Array[Byte](10)) &&
      substring(payload, 7, 1) < lit(Array[Byte](0x80.toByte)) &&
      substring(payload, 8, 1) < lit(Array[Byte](0x80.toByte)) &&
      substring(payload, 9, 1) < lit(Array[Byte](0x80.toByte)) &&
      substring(payload, 10, 1) < lit(Array[Byte](0x80.toByte))
    when(magic(payload, 1, "P6"), lit(MimePpm))
      .when(magic(payload, 1, "BM"), lit(MimeBmp))
      .when(magic(payload, 1, "RIFF") && magic(payload, 9, "WAVE"),
        lit(MimeWav))
      .when(magic(payload, 1, "\u0089PNG\r\n\u001a\n"), lit(MimePng))
      .when(magic(payload, 1, "\u00ff\u00d8\u00ff"), lit(MimeJpeg))
      .when(magic(payload, 1, "GIF87a") || magic(payload, 1, "GIF89a"),
        lit(MimeGif))
      .when(magic(payload, 1, "RIFF") && magic(payload, 9, "WEBP"),
        lit(MimeWebp))
      .when(magic(payload, 1, "%PDF-"), lit(MimePdf))
      .when(magic(payload, 1, "\u001f\u008b"), lit(MimeGzip))
      .when(magic(payload, 1, "(\u00b5/\u00fd"), lit(MimeZstd))
      // bzip2 at its full shape ("BZh" + level digit + the pi-block
      // magic "1AY" — prose can open "BZh" but not this); xz's
      // 6-byte magic carries 0xFD and a NUL
      .when(magic(payload, 1, "BZh") &&
        substring(payload, 4, 1) >= lit(Array[Byte]('1')) &&
        substring(payload, 4, 1) <= lit(Array[Byte]('9')) &&
        magic(payload, 5, "1AY"),
        lit(MimeBzip2))
      .when(magic(payload, 1, "\u00fd7zXZ\u0000"), lit(MimeXz))
      .when(id3, lit(MimeMp3))
      // ZIP local-file magic — DOCX/XLSX/EPUB/JAR all present as this;
      // the office-text face decides docx-ness by the REAL container
      // grammar (central directory + _rels), not bytes here
      .when(magic(payload, 1, "PK\u0003\u0004"), lit(MimeZip))
      // ISO-BMFF: any box size then 'ftyp'. The MAJOR BRAND (bytes
      // 9-12) splits still images (AVIF/HEIC — crawls serve these as
      // <img>, not video) from the av family; everything else
      // (mp4/mov/m4a/3gp) routes to the mp4 probe, whose `brand` +
      // track census is the within-family evidence
      // the size pin: a real ftyp box is tens of bytes, so its
      // 32-bit big-endian size always opens 0x0000 — prose with
      // "ftyp" at offset 5 stays text
      .when(magic(payload, 1, "\u0000\u0000") && magic(payload, 5, "ftyp"),
        when(magic(payload, 9, "avif") || magic(payload, 9, "avis"),
          lit(MimeAvif))
          .when(magic(payload, 9, "heic") || magic(payload, 9, "heix") ||
            magic(payload, 9, "mif1"), lit(MimeHeic))
          .otherwise(lit(MimeMp4)))
      // EBML magic = Matroska family; "webm" inside the ~40-byte EBML
      // header (the DocType element precedes any content) splits the
      // two mimes — the probe reports the authoritative DocType
      .when(magic(payload, 1, "\u001aE\u00df\u00a3"),
        when(decode(substring(payload, 1, 64), "ISO-8859-1")
          .contains("webm"), lit(MimeWebm)).otherwise(lit(MimeMkv)))
      // OGG page capture at its full 5-byte shape ("OggS" + the
      // version byte, always 0 — prose can open "OggS…" but not
      // with a NUL); FLAC pins the byte after "fLaC" to the MANDATORY
      // first metadata-block header (STREAMINFO type 0, with or
      // without the last-block flag: 0x00/0x80), so prose opening
      // "fLaC " stays text
      .when(magic(payload, 1, "OggS\u0000"), lit(MimeOgg))
      // TIFF's two byte orders; each shape carries a NUL, so prose
      // can't open with either
      .when(magic(payload, 1, "II*\u0000") ||
        magic(payload, 1, "MM\u0000*"), lit(MimeTiff))
      // dataset files, pinned so prose cannot misroute: parquet and
      // ORC carry their magic at BOTH ends (header + footer/postscript
      // tail — negative substring reads the tail), Avro's "Obj" gains
      // its \u0001 version byte, SQLite's full 16-byte header string
      // includes a NUL
      .when(magic(payload, 1, "PAR1") &&
        substring(payload, -4, 4) === lit("PAR1".getBytes("ISO-8859-1")),
        lit(MimeParquet))
      // ORC's tail is "ORC" + the 1-byte postscript length, so the
      // magic sits at [-4,-2]
      .when(magic(payload, 1, "ORC") &&
        substring(payload, -4, 3) === lit("ORC".getBytes("ISO-8859-1")),
        lit(MimeOrc))
      .when(magic(payload, 1, "Obj\u0001"), lit(MimeAvro))
      .when(magic(payload, 1, "SQLite format 3\u0000"), lit(MimeSqlite))
      // Compound File Binary (OLE2) — the legacy Office container's
      // 8-byte signature
      .when(magic(payload, 1,
        "\u00d0\u00cf\u0011\u00e0\u00a1\u00b1\u001a\u00e1"),
        lit(MimeOle))
      // ustar magic at its fixed header offset (257, 1-based 258) —
      // the one tar shape modern tools write; pre-POSIX headerless
      // tars stay octet-stream (no reliable magic exists for them)
      .when(magic(payload, 258, "ustar"), lit(MimeTar))
      // 7z: "7z" + 0xBC 0xAF 0x27 0x1C — the two control bytes keep
      // prose that OPENS "7z" (a version string) out of this arm
      .when(magic(payload, 1, "7z\u00bc\u00af'\u001c"),
        lit(MimeSevenZ))
      // RTF prologue at its full 5-char shape ("{\rtf" — prose does
      // not open with a brace-backslash pair)
      .when(magic(payload, 1, "{\\rtf"), lit(MimeRtf))
      .when(magic(payload, 1, "fLaC\u0000") ||
        magic(payload, 1, "fLaC\u0080"), lit(MimeFlac))
      .otherwise(lit("application/octet-stream"))
  }

  /** Read `dir` (optionally glob-filtered, recursive by default) as a
    * MediaRow-shaped frame: (path, doc_id, payload, meta).
    */
  def read(spark: SparkSession, dir: String,
           glob: Option[String] = None,
           recursive: Boolean = true): DataFrame = {
    val r0 = spark.read.format("binaryFile")
    val r1 = glob.fold(r0)(g => r0.option("pathGlobFilter", g))
    val df = r1.option("recursiveFileLookup", recursive.toString).load(dir)
    df.select(
      col("path"),
      md5Lower64(col("path")).as("doc_id"),
      col("content").as("payload"),
      struct(
        sniffMime(col("content")).as("mime"),
        col("length").cast("bigint").as("n_bytes"),
        // the module-wide checksum definition (xxhash64 of the payload
        // bytes — Multimodal.blobTable's contract)
        xxhash64(col("content")).as("checksum")).as("meta"))
  }
}

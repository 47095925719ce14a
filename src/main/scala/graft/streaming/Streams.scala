package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface: the continuous counterparts of the
  * batch operators. The reference's pipeline is file-lands → job runs
  * (/root/reference/import.js); streaming-native, the "job" is a
  * continuously-running incremental query over a file source, with
  * watermarks bounding state so it runs forever at 100 TB/day.
  */
object Streams {

  /** The ONE ride-out budget every exactly-once sink uses when its
    * micro-batch meets a maintainer lock held by a concurrent
    * batch-layer cycle (view repair vs dimension maintain, IVF append
    * vs retrain, near-dup index vs batch maintain): long enough for a
    * full rebuild cycle, finite so a hard-killed maintainer's stale
    * lock still surfaces as a clear failure with the lock-file
    * runbook instead of a hang.
    */
  private val SinkLockWaitMs = 10L * 60 * 1000


  /** Streaming ingest from a directory of parquet files: each new file
    * becomes a micro-batch. `maxFilesPerTrigger` bounds batch size so
    * a backlog replays at a controlled rate.
    */
  def parquetStream(spark: SparkSession, path: String, schema: StructType,
                    maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** CONTINUOUS crawl intake: a watched directory of WARC/WET archives
    * becomes a documents-shaped stream — the streaming front door to
    * [[corpusPrep]], completing the crawl-native story end to end
    * (batch: [[graft.sources.WarcSource.documents]]; here each landed
    * archive is discovered exactly once by the binaryFile file stream
    * and parsed by the SAME lazy fenced walker, one archive per task —
    * the batch parallelism mirrored, truncation/garbage fencing
    * included). Every doc carries `ts` = its archive's file
    * modification time (the crawl-landing event time), which is what
    * downstream [[corpusPrep]]/[[dedupExact]] watermark on.
    * `maxFilesPerTrigger` bounds micro-batch size so an archive
    * backlog replays at a controlled rate.
    */
  def warcDocuments(spark: SparkSession, dir: String,
                    glob: Option[String] = None,
                    maxFilesPerTrigger: Int = 4,
                    honorNoindex: Boolean = false): DataFrame =
    graft.sources.WarcSource.documents(
      warcRecords(spark, dir, glob, maxFilesPerTrigger), honorNoindex)

  /** The continuous MEDIA mirror of [[warcDocuments]] — the other half
    * of crawl intake, feeding the multimodal stages (decode/feature/
    * near-dup) the same way the batch `WarcSource.media` face does:
    * magic-routed media payloads (JPEG/PNG/… even behind lying
    * declared types) in the MediaRow blob shape, with the archive
    * mtime as `ts` for downstream watermarks. Same watched-dir device,
    * same routing and fencing as batch, row for row.
    */
  def warcMedia(spark: SparkSession, dir: String,
                glob: Option[String] = None,
                maxFilesPerTrigger: Int = 4): DataFrame =
    graft.sources.WarcSource.media(
      warcRecords(spark, dir, glob, maxFilesPerTrigger))

  /** The continuous PII-SCRUBBED media mirror — [[warcMedia]] with
    * image metadata stripped and the per-row `scrubbed` billing flag
    * ([[graft.sources.WarcSource.mediaScrubbed]] is pure Column ops,
    * so batch semantics apply verbatim): what a privacy-governed
    * media store ingests instead of raw fetched bytes.
    */
  def warcMediaScrubbed(spark: SparkSession, dir: String,
                        glob: Option[String] = None,
                        maxFilesPerTrigger: Int = 4): DataFrame =
    graft.sources.WarcSource.mediaScrubbed(
      warcRecords(spark, dir, glob, maxFilesPerTrigger))

  /** The continuous PDF-TEXT mirror — crawled PDFs extracted into the
    * corpus shape as archives land ([[graft.sources.WarcSource
    * .pdfDocuments]] is pure Column ops over the records frame, so
    * the batch face applies to the stream unchanged; composes with
    * [[corpusPrep]] like [[warcDocuments]]).
    */
  def warcPdfDocuments(spark: SparkSession, dir: String,
                       glob: Option[String] = None,
                       maxFilesPerTrigger: Int = 4): DataFrame =
    graft.sources.WarcSource.pdfDocuments(
      warcRecords(spark, dir, glob, maxFilesPerTrigger))

  /** The continuous OFFICE-document mirror — crawled .docx text
    * streamed into the corpus shape as archives land
    * ([[graft.sources.WarcSource.officeDocuments]] is pure Column
    * ops over the records frame, so batch semantics apply verbatim;
    * composes with [[corpusPrep]] like [[warcDocuments]]).
    */
  def warcOfficeDocuments(spark: SparkSession, dir: String,
                          glob: Option[String] = None,
                          maxFilesPerTrigger: Int = 4): DataFrame =
    graft.sources.WarcSource.officeDocuments(
      warcRecords(spark, dir, glob, maxFilesPerTrigger))

  /** The continuous PAGE-METADATA mirror — title/description/
    * canonical/noindex per crawled HTML page as archives land
    * ([[graft.sources.WarcSource.pageMeta]] is pure Column ops over
    * the records frame, so batch semantics apply verbatim; doc_id
    * matches the documents face for per-page joins downstream).
    */
  def warcPageMeta(spark: SparkSession, dir: String,
                   glob: Option[String] = None,
                   maxFilesPerTrigger: Int = 4): DataFrame =
    graft.sources.WarcSource.pageMeta(
      warcRecords(spark, dir, glob, maxFilesPerTrigger))

  /** The continuous CRAWL-FRONTIER mirror — per-URL sitemap rows as
    * archives land ([[graft.sources.WarcSource.sitemapUrls]] is pure
    * Column ops, so batch semantics apply verbatim): the refresh
    * scheduler consumes discovery continuously instead of per batch
    * re-parse.
    */
  def warcSitemapUrls(spark: SparkSession, dir: String,
                      glob: Option[String] = None,
                      maxFilesPerTrigger: Int = 4): DataFrame =
    graft.sources.WarcSource.sitemapUrls(
      warcRecords(spark, dir, glob, maxFilesPerTrigger))

  /** The continuous FRONTIER-PLAN mirror — discover → canonicalize →
    * police per landed archive
    * ([[graft.sources.WarcSource.frontierPlan]] is pure Column ops —
    * no typed map, no serde boundary — so batch semantics apply
    * verbatim; the per-host `policies` overload rides a
    * stream-static broadcast join, which Structured Streaming
    * supports natively). The refresh scheduler consumes fetchable
    * URLs continuously instead of re-planning per batch.
    */
  def warcFrontierPlan(spark: SparkSession, dir: String,
                       robotsTxt: String, agent: String,
                       glob: Option[String] = None,
                       maxFilesPerTrigger: Int = 4): DataFrame =
    graft.sources.WarcSource.frontierPlan(
      warcRecords(spark, dir, glob, maxFilesPerTrigger),
      robotsTxt, agent)

  def warcFrontierPlan(spark: SparkSession, dir: String,
                       policies: DataFrame, agent: String,
                       glob: Option[String],
                       maxFilesPerTrigger: Int): DataFrame =
    graft.sources.WarcSource.frontierPlan(
      warcRecords(spark, dir, glob, maxFilesPerTrigger),
      policies, agent)

  /** The continuous QUARANTINE mirror — the audit face for what the
    * text faces refused (NUL-bearing payloads, encrypted PDFs,
    * glyph-id mojibake), streamed as archives land so the influx is
    * observable CONTINUOUSLY, not only when someone reruns the batch
    * audit ([[graft.sources.WarcSource.quarantine]] is pure Column
    * ops over the records frame, so batch semantics apply verbatim —
    * the crawl-intake quartet's fourth face, closing the symmetry).
    */
  def warcQuarantine(spark: SparkSession, dir: String,
                     glob: Option[String] = None,
                     maxFilesPerTrigger: Int = 4): DataFrame =
    graft.sources.WarcSource.quarantine(
      warcRecords(spark, dir, glob, maxFilesPerTrigger))

  /** Shared watched-dir WARC record stream: one task per landed
    * archive, the batch parser/opener/fences verbatim (a consumer
    * needing BOTH faces should start two queries over the same dir —
    * streaming frames are not cacheable; the archive parse runs per
    * query, the standard structured-streaming trade).
    */
  private def warcRecords(spark: SparkSession, dir: String,
                          glob: Option[String],
                          maxFilesPerTrigger: Int): DataFrame = {
    // the binaryFile source's FIXED schema (a streaming source cannot
    // infer one)
    val r0 = spark.readStream.format("binaryFile").schema(
      "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
    val r1 = glob.fold(r0)(g => r0.option("pathGlobFilter", g))
    val bin = r1.option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
      .select(col("path"), col("modificationTime").as("ts"), col("content"))
    import spark.implicits._
    bin
      .as[(String, java.sql.Timestamp, Array[Byte])]
      .flatMap { case (path, ts, bytes) =>
        scala.util.Try(
          graft.sources.WarcSource.parseStream(path,
            graft.sources.WarcSource.openArchive(bytes)).map(r => (r, ts)))
          .getOrElse(Iterator.empty) // unreadable archive: fenced whole
      }
      .toDF("rec", "ts")
      .select(col("rec.*"), col("ts"))
  }

  /** Watermarked tumbling-window aggregation — the streaming mirror of
    * batch q23 (count/sum per event_type per window). The watermark
    * bounds state: windows older than `watermark` behind the max seen
    * event time are finalized and evicted.
    */
  def windowedCounts(events: DataFrame,
                     windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      // decimal sum like batch q23: double addition is partition-order
      // dependent, decimal is exact — streaming and batch totals match
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming exact dedup — the continuous mirror of batch q30: emit
    * each document once, keyed by the xxhash64 of its normalized text.
    * `dropDuplicatesWithinWatermark` bounds the seen-keys state to the
    * watermark horizon, so state stays O(docs-per-horizon) instead of
    * growing forever — the only shape that runs indefinitely on a
    * 100 TB/day feed. (Cross-horizon dedup belongs to the batch layer
    * with a persisted fingerprint table.)
    */
  def dedupExact(docs: DataFrame, tsCol: String = "ts",
                 textCol: String = "text",
                 watermark: String = "1 hour",
                 declareWatermark: Boolean = true): DataFrame = {
    val marked = if (declareWatermark) docs.withWatermark(tsCol, watermark)
                 else docs // an upstream stage already declared it —
                           // a second declaration is a redefinition
    marked
      // the SAME canonical normalization as batch q30 — if it evolves
      // in TextOps, streaming and batch must keep agreeing on what a
      // duplicate is (the hash function itself is per-engine: xxhash64
      // here for speed, md5 in q30 for oracle portability)
      .withColumn("_graft_norm_hash",
        xxhash64(graft.functions.TextOps.normText(col(textCol))))
      .dropDuplicatesWithinWatermark("_graft_norm_hash")
      .drop("_graft_norm_hash")
  }

  /** Streaming CANONICAL-URL dedup — the continuous mirror of batch
    * [[graft.pipeline.CorpusPrep.urlDedup]] (q146): emit each
    * canonical URL once per watermark horizon, keyed by the SAME
    * [[graft.pipeline.CorpusPrep.urlKeyCol]] canonical form
    * (unparseable URLs stay singleton groups). Keep-FIRST-SEEN, the
    * [[dedupExact]] deviation from batch's keep-lowest — stated, not
    * hidden: a stream cannot know a lower id arrives later.
    */
  def dedupByUrl(docs: DataFrame, tsCol: String = "ts",
                 watermark: String = "1 hour",
                 declareWatermark: Boolean = true): DataFrame = {
    val marked = if (declareWatermark) docs.withWatermark(tsCol, watermark)
                 else docs
    marked
      .withColumn("_graft_url_key",
        graft.pipeline.CorpusPrep.urlKeyCol)
      .dropDuplicatesWithinWatermark("_graft_url_key")
      .drop("_graft_url_key")
  }

  // --- streaming near-dup detection (continuous mirror of batch q32) ---

  final case class BlockedDoc(
      blk: Int, bval: Long, doc_id: Long, ts: Timestamp, sim: Long)
  /** Per-bucket state: bounded FIFO of (id, sim), plus the census —
    * `total` arrivals since `winStartMs` (the current census window's
    * first event time). STATE SCHEMA NOTE: this schema changed in the
    * TTL/overfull rework (`total`/`winStartMs` added, input gained an
    * event-time column) — a streaming query checkpointed under the
    * old schema cannot restart against this build; reset the
    * checkpoint (the state is a bounded recent-docs cache, not
    * history — a reset loses at most one bucket-FIFO of lookback).
    */
  final case class BlockState(ids: List[Long], sims: List[Long],
                              total: Long, winStartMs: Long)
  final case class NearDup(doc_a: Long, doc_b: Long, hamming: Int)

  /** Continuous SimHash near-dup detection: each incoming document's
    * 64-bit simhash is split into 4 pigeonhole blocks (any pair within
    * hamming 3 agrees exactly on >= 1 block); per (block, value)
    * bucket, bounded state holds the first `cap` docs seen, and each
    * arrival is compared against ONLY its bucket — emitting a NearDup
    * event per hit. One stateful operator; the same pair may be
    * detected via several blocks — consumers (or a downstream batch
    * dedup) collapse duplicates.
    *
    * TOTAL state is bounded by construction, on both axes:
    *  - per bucket: once a bucket's arrivals WITHIN THE CURRENT CENSUS
    *    WINDOW exceed `cap` it is OVERFULL — the batch q32 cap-1000
    *    skip (a degenerate block value, e.g. boilerplate, would
    *    otherwise go quadratic); the bucket stops producing
    *    detections and its FIFO is shed down to a counter. Batch's
    *    census is per CORPUS; an indefinite stream's analogue is one
    *    `stateTtlMs` horizon of event time — the census count resets
    *    each horizon (the FIFO, always ≤ cap, is kept), so a bucket
    *    that was hot recovers instead of staying overfull forever on
    *    a LIFETIME count (which would silently decay all detection to
    *    zero as every warm bucket eventually crossed cap). One-pass
    *    divergences from batch, stated: detections emitted BEFORE the
    *    overflow are not retracted (batch sees the final bucket size
    *    up front), and the first post-reset arrival re-seeds an empty
    *    FIFO after an overfull window. Real dups still collide on
    *    their other, non-degenerate blocks — batch's own argument.
    *    Default `cap` matches batch q32's 1000. With `stateTtlMs =
    *    None` the census never resets (lifetime count — bounded
    *    replays only).
    *  - bucket COUNT: `stateTtlMs` event-time eviction (the
    *    lineBoilerplateFilter pattern — keyed off the watermark, so
    *    replays evict identically): a bucket with no arrival for the
    *    TTL is dropped from the store entirely. Any new arrival
    *    re-arms its bucket's timer, so only cold buckets are
    *    forgotten; an evicted bucket that later recurs restarts its
    *    count (and its overfull status). `None` disables eviction —
    *    state then grows with distinct block values for the stream's
    *    lifetime (fine for bounded replays, wrong for production).
    *
    * Input: (doc_id, ts, sim) with sim = simhash64 of the normalized
    * tokens (compute with TextExprs.simhash64 in the select before
    * calling — keeping this function narrow keeps the state schema
    * stable). No downstream stateful aggregation here, so the
    * event-time timeout needs no checker opt-out.
    */
  def nearDupDetections(docs: Dataset[(Long, Timestamp, Long)],
                        cap: Int = 1000, maxHamming: Int = 3,
                        watermark: String = "1 hour",
                        stateTtlMs: Option[Long] = Some(2L * 3600 * 1000))(
      implicit spark: SparkSession): Dataset[NearDup] = {
    import spark.implicits._
    stateTtlMs.foreach(t => require(t > 0, s"stateTtlMs must be > 0, got $t"))
    val timeoutKind = if (stateTtlMs.isDefined)
      GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()
    // the watermark must be declared on the fMGWS input itself: an
    // upstream watermark tag does not survive the object-level flatMap
    // (the serialized ts is a fresh attribute), and EventTimeTimeout
    // requires one on its immediate input
    val blocked = docs
      .flatMap { case (id, ts, sim) =>
        (0 until 4).map { b =>
          BlockedDoc(b, (sim >>> (b * 16)) & 0xffffL, id, ts, sim)
        }
      }
      .withWatermark("ts", watermark)
    blocked
      .groupByKey(d => (d.blk, d.bval))
      .flatMapGroupsWithState[BlockState, NearDup](
        OutputMode.Append(), timeoutKind) {
        (_, ds: Iterator[BlockedDoc], state: GroupState[BlockState]) =>
          if (state.hasTimedOut) {
            // TTL passed with no arrival: a cold bucket — evict
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption
              .getOrElse(BlockState(Nil, Nil, 0L, Long.MinValue))
            val out = scala.collection.mutable.ListBuffer.empty[NearDup]
            var maxTsMs = Long.MinValue
            // deterministic intra-batch order (the filter faces'
            // convention): the census roll, overfull shedding and FIFO
            // contents are all order-sensitive — folding in raw
            // shuffle-iterator order would let a replayed micro-batch
            // emit a different detection set and leave different state
            ds.toSeq.sortBy(d => (d.ts.getTime, d.doc_id)).foreach { d =>
              val tsMs = d.ts.getTime
              maxTsMs = math.max(maxTsMs, tsMs)
              // census-window roll: one TTL horizon of event time is
              // this stream's "corpus" for the overfull verdict
              if (st.winStartMs == Long.MinValue ||
                  stateTtlMs.exists(t => tsMs >= st.winStartMs + t))
                st = BlockState(st.ids, st.sims, 0L, tsMs)
              val total = st.total + 1
              if (total > cap) {
                // overfull bucket: no detections, shed the FIFO
                st = BlockState(Nil, Nil, total, st.winStartMs)
              } else {
                val hits = st.ids.iterator.zip(st.sims.iterator)
                  .filter { case (pid, psim) =>
                    pid != d.doc_id &&
                      java.lang.Long.bitCount(psim ^ d.sim) <= maxHamming
                  }
                hits.foreach { case (pid, psim) =>
                  out += NearDup(math.min(pid, d.doc_id),
                    math.max(pid, d.doc_id),
                    java.lang.Long.bitCount(psim ^ d.sim))
                }
                // FIFO bounded explicitly: the census count resets
                // each window, so total alone no longer bounds it
                st = BlockState((d.doc_id :: st.ids).take(cap),
                  (d.sim :: st.sims).take(cap), total, st.winStartMs)
              }
            }
            state.update(st)
            // re-arm: TTL past this bucket's newest arrival (floored at
            // the watermark — a timeout timestamp must sit beyond it)
            stateTtlMs.foreach(ttl => state.setTimeoutTimestamp(
              math.max(maxTsMs, state.getCurrentWatermarkMs()) + ttl))
            out.iterator
          }
      }
  }

  final case class DocIn(doc_id: Long, ts: Timestamp, sim: Long)
  final case class BlockVerdict(doc_id: Long, ts: Timestamp, dup: Boolean)

  /** Streaming near-dup FILTER: ONE verdict row (doc_id, is_dup) per
    * incoming document — the decision form of [[nearDupDetections]]'s
    * event stream (SURVEY.md §8). Two chained stateful stages:
    *
    *  1. per (block, value) bucket, bounded state of the first `cap`
    *     docs; each arrival emits a per-block verdict — did it land
    *     within `maxHamming` of anything already seen in this bucket?
    *  2. a watermarked tumbling-window aggregation folds a doc's 4
    *     block verdicts into one row: is_dup = any block hit. The
    *     verdict finalizes when the watermark passes the window —
    *     bounded output delay in exchange for exactly one row per doc.
    *
    * Bucket state is bounded exactly as in [[nearDupDetections]]: the
    * batch-mirroring overfull skip (a bucket past `cap` arrivals
    * within the current CENSUS WINDOW — one `stateTtlMs` horizon of
    * event time — stops flagging: its verdicts from this block become
    * "not dup", matching batch q32 dropping the whole capped bucket —
    * and sheds its FIFO; the census resets each horizon so hot
    * buckets recover) plus `stateTtlMs` event-time eviction of cold
    * buckets (re-armed by every arrival; `None` disables both, with
    * bucket-count growth as stated there). So total state is
    * O(live buckets × cap) + O(docs per window) and the filter runs
    * indefinitely on an unbounded feed. State-schema/checkpoint
    * compatibility note on [[BlockState]].
    *
    * NOTE (checker): with the TTL on, stage 1 is an event-time-timeout
    * flatMapGroupsWithState feeding the stage-2 stateful aggregation —
    * the shape Spark's STATIC late-row checker rejects unconditionally
    * (see [[lineBoilerplateFilter]] for the full why-this-is-safe
    * analysis; verdict timestamps come from the CURRENT batch's
    * watermarked input and the timeout branch emits nothing). Same
    * contract: fails fast at construction unless
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`
    * or `stateTtlMs = None`.
    */
  def nearDupFilter(docs: Dataset[DocIn], cap: Int = 1000, maxHamming: Int = 3,
                    watermark: String = "1 hour",
                    windowLen: String = "10 minutes",
                    stateTtlMs: Option[Long] = Some(2L * 3600 * 1000))(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    requireCheckerOffForTtl(spark, stateTtlMs, "nearDupFilter")
    val timeoutKind = if (stateTtlMs.isDefined)
      GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()
    // watermark AFTER the fan-out — see [[nearDupDetections]]
    val blocked = docs
      .flatMap { d =>
        (0 until 4).map { b =>
          (b, (d.sim >>> (b * 16)) & 0xffffL, d.doc_id, d.ts, d.sim)
        }
      }.toDF("blk", "bval", "doc_id", "ts", "sim")
      .withWatermark("ts", watermark)
      .as[(Int, Long, Long, Timestamp, Long)]
    val verdicts = blocked
      .groupByKey(d => (d._1, d._2))
      .flatMapGroupsWithState[BlockState, BlockVerdict](
        OutputMode.Append(), timeoutKind) {
        (_, ds: Iterator[(Int, Long, Long, Timestamp, Long)],
         state: GroupState[BlockState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption
              .getOrElse(BlockState(Nil, Nil, 0L, Long.MinValue))
            val out = scala.collection.mutable.ListBuffer.empty[BlockVerdict]
            var maxTsMs = Long.MinValue
            // deterministic intra-batch order: first-by-time wins
            ds.toSeq.sortBy(d => (d._4.getTime, d._3)).foreach { d =>
              val (id, ts, sim) = (d._3, d._4, d._5)
              val tsMs = ts.getTime
              maxTsMs = math.max(maxTsMs, tsMs)
              // census-window roll — see [[nearDupDetections]]
              if (st.winStartMs == Long.MinValue ||
                  stateTtlMs.exists(t => tsMs >= st.winStartMs + t))
                st = BlockState(st.ids, st.sims, 0L, tsMs)
              val total = st.total + 1
              if (total > cap) {
                // overfull bucket (batch q32 skip): never flags
                out += BlockVerdict(id, ts, dup = false)
                st = BlockState(Nil, Nil, total, st.winStartMs)
              } else {
                val hit = st.ids.iterator.zip(st.sims.iterator).exists {
                  case (pid, psim) =>
                    pid != id && java.lang.Long.bitCount(psim ^ sim) <= maxHamming
                }
                out += BlockVerdict(id, ts, hit)
                st = BlockState((id :: st.ids).take(cap),
                  (sim :: st.sims).take(cap), total, st.winStartMs)
              }
            }
            state.update(st)
            stateTtlMs.foreach(ttl => state.setTimeoutTimestamp(
              math.max(maxTsMs, state.getCurrentWatermarkMs()) + ttl))
            out.iterator
          }
      }
    verdicts
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("doc_id"))
      .agg(max(col("dup")).as("is_dup"))
      .select(col("doc_id"), col("is_dup"))
  }

  // --- streaming MinHash-LSH near-dup filter (continuous mirror of batch q31) ---

  /** Shared fail-fast for the TTL'd filter stages that chain an
    * event-time-timeout flatMapGroupsWithState into a stateful
    * aggregation — the shape Spark's static late-row checker rejects
    * unconditionally even though the flagged scenario cannot occur in
    * these pipelines (every emitted verdict carries a ts from the
    * CURRENT batch's watermarked input; timeout branches emit
    * nothing — the full analysis is on [[lineBoilerplateFilter]]).
    * Refusing at construction with guidance beats a cryptic
    * AnalysisException at `.start()`.
    */
  private def requireCheckerOffForTtl(spark: SparkSession,
                                      stateTtlMs: Option[Long],
                                      op: String): Unit = {
    stateTtlMs.foreach(t => require(t > 0, s"stateTtlMs must be > 0, got $t"))
    val checkerConf =
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    require(stateTtlMs.isEmpty ||
      !spark.conf.get(checkerConf, "true").toBoolean,
      s"$op with a state TTL chains an event-time-timeout " +
        s"flatMapGroupsWithState into a stateful aggregation, which Spark's " +
        s"static late-row checker rejects unconditionally (the " +
        s"lineBoilerplateFilter scaladoc has the why-this-pipeline-is-safe " +
        s"analysis). Either set $checkerConf=false for the session that " +
        s"starts this query, or pass stateTtlMs = None to keep the checker " +
        s"on with unbounded bucket-count state")
  }

  final case class MinDocIn(doc_id: Long, ts: Timestamp, sig: Array[Int])
  /** [[BlockState]]'s shape for MinHash signatures — same census
    * semantics, same state-schema/checkpoint compatibility note.
    */
  final case class SigState(ids: List[Long], sigs: List[Array[Int]],
                            total: Long, winStartMs: Long)
  /** Per-band verdict row with an OPAQUE payload riding along —
    * null on all but one band row per doc, so a full document
    * round-trips the verdict stages exactly once (the
    * [[minhashNearDupDrop]] device); the plain filter face sends
    * null payloads throughout.
    */
  final case class SigVerdictP(doc_id: Long, ts: Timestamp, dup: Boolean,
                               payload: String)

  /** The ONE per-(band,key)-bucket MinHash verdict kernel both public
    * faces share ([[minhashNearDupFilter]], [[minhashNearDupDrop]]):
    * census-bounded overfull skip + TTL eviction exactly as documented
    * on the filter face. Payload strings pass through untouched.
    */
  private def sigBucketVerdicts(
      banded: Dataset[(Int, Int, Long, Timestamp, Array[Int], String)],
      minEst: Double, cap: Int, stateTtlMs: Option[Long])(
      implicit spark: SparkSession): Dataset[SigVerdictP] = {
    import graft.functions.expressions.TextExprs
    import graft.operators.{NearDup => ND}
    import spark.implicits._
    val timeoutKind = if (stateTtlMs.isDefined)
      GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()
    banded
      .groupByKey(d => (d._1, d._2))
      .flatMapGroupsWithState[SigState, SigVerdictP](
        OutputMode.Append(), timeoutKind) {
        (_, ds: Iterator[(Int, Int, Long, Timestamp, Array[Int], String)],
         state: GroupState[SigState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption
              .getOrElse(SigState(Nil, Nil, 0L, Long.MinValue))
            val out = scala.collection.mutable.ListBuffer.empty[SigVerdictP]
            var maxTsMs = Long.MinValue
            // deterministic intra-batch order: first-by-time wins (the
            // nearDupFilter convention)
            ds.toSeq.sortBy(d => (d._4.getTime, d._3)).foreach { d =>
              val (id, ts, sig, pay) = (d._3, d._4, d._5, d._6)
              val tsMs = ts.getTime
              maxTsMs = math.max(maxTsMs, tsMs)
              // census-window roll — see [[nearDupDetections]]
              if (st.winStartMs == Long.MinValue ||
                  stateTtlMs.exists(t => tsMs >= st.winStartMs + t))
                st = SigState(st.ids, st.sigs, 0L, tsMs)
              val total = st.total + 1
              if (total > cap) {
                // overfull bucket (batch scoredCandidates skip)
                out += SigVerdictP(id, ts, dup = false, pay)
                st = SigState(Nil, Nil, total, st.winStartMs)
              } else {
                val hit = st.ids.iterator.zip(st.sigs.iterator).exists {
                  case (pid, psig) =>
                    pid != id && TextExprs.sigAgreeLocal(psig, sig, ND.K) >= minEst
                }
                out += SigVerdictP(id, ts, hit, pay)
                st = SigState((id :: st.ids).take(cap),
                  (sig :: st.sigs).take(cap), total, st.winStartMs)
              }
            }
            state.update(st)
            stateTtlMs.foreach(ttl => state.setTimeoutTimestamp(
              math.max(maxTsMs, state.getCurrentWatermarkMs()) + ttl))
            out.iterator
          }
      }
  }

  /** The watermarked per-doc collapse both faces share: a doc's B
    * per-band verdicts fold to one row when the watermark closes its
    * window — is_dup = any band hit, payload = the one non-null copy.
    */
  private def verdictWindowFold(verdicts: Dataset[SigVerdictP],
                                watermark: String,
                                windowLen: String): DataFrame =
    verdicts
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("doc_id"))
      .agg(max(col("dup")).as("is_dup"),
        first(col("payload"), ignoreNulls = true).as("payload"))
      .select(col("doc_id"), col("is_dup"), col("payload"))

  /** Streaming MINHASH near-dup filter — the continuous counterpart
    * of the batch `nearDupMinEst` stage ([[graft.operators.NearDup]],
    * q31's kernel), closing the family gap where the streaming filters
    * above are SimHash-only: a streaming corpus job configured with
    * MinHash semantics had no mirror with the same similarity measure.
    *
    * Same shape as [[nearDupFilter]], same kernel as batch: each doc's
    * K=64 MinHash signature fans out to its B=16 LSH band keys
    * (TextExprs.bandKeysLocal — bit-identical to the batch BandKeys
    * fold, parity-pinned), per (band, key) bucket a bounded FIFO of
    * the last `cap` (id, sig) pairs is kept, and each arrival scores
    * [[graft.functions.expressions.TextExprs.sigAgreeLocal]] (the
    * batch estimator) against ONLY its bucket — dup iff any bucket
    * mate reaches `minEst`. A watermarked window fold collapses the
    * B per-band verdicts into ONE finalized (doc_id, is_dup) row.
    *
    * Keep-set semantics vs batch, stated plainly: batch keeps the
    * globally LOWEST id of each candidate pair; the stream keeps the
    * FIRST-ARRIVING copy (the [[dedupExact]] divergence — a stream
    * has no total order). Feeding arrivals in id order makes the two
    * keep sets EQUAL (spec-asserted); state inclusion matches batch
    * (a dropped doc still enters state, exactly as batch drops doc_b
    * of every qualifying pair regardless of doc_a's own fate).
    *
    * Bucket state is bounded on both axes, mirroring batch where a
    * one-pass stream can: a bucket past `cap` arrivals within the
    * current CENSUS WINDOW (one `stateTtlMs` horizon of event time —
    * batch's census is the corpus; the census resets each horizon so
    * hot buckets recover instead of decaying to permanent overfull on
    * a lifetime count) is overfull — it stops flagging (this band's
    * verdicts become "not dup", exactly as
    * [[graft.operators.NearDup.scoredCandidates]] drops a whole > cap
    * bucket; default `cap` matches its 100) and sheds its signature
    * FIFO down to a counter. One-pass divergence, stated: verdicts
    * emitted BEFORE the overflow are not retracted, where batch —
    * seeing the final bucket size up front — would have skipped the
    * bucket's earlier pairs too; so on a HOT bucket the stream can
    * flag docs batch would keep, never the reverse, and real dups
    * still collide on their other bands. Bucket COUNT is bounded by
    * `stateTtlMs` event-time eviction of cold buckets
    * ([[nearDupDetections]] semantics: every arrival re-arms; `None`
    * disables). Total state: O(live buckets × cap × K) ints +
    * O(docs per window). State-schema/checkpoint compatibility note
    * on [[BlockState]]/[[SigState]].
    *
    * NOTE (checker): same construction-time fail-fast as
    * [[nearDupFilter]] — the TTL form needs
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`
    * (analysis on [[lineBoilerplateFilter]]) or `stateTtlMs = None`.
    *
    * Input: (doc_id, ts, sig) with sig = minhashShingleSig(tokens(
    * normText(text)), 3, NearDup.K) computed in the upstream select —
    * the [[nearDupDetections]] convention that keeps the state schema
    * narrow and stable.
    */
  def minhashNearDupFilter(docs: Dataset[MinDocIn], minEst: Double,
                           cap: Int = 100,
                           watermark: String = "1 hour",
                           windowLen: String = "10 minutes",
                           stateTtlMs: Option[Long] = Some(2L * 3600 * 1000))(
      implicit spark: SparkSession): DataFrame = {
    import graft.functions.expressions.TextExprs
    import graft.operators.{NearDup => ND}
    import spark.implicits._
    require(minEst >= 0.0 && minEst <= 1.0, s"minEst must be in [0,1]: $minEst")
    requireCheckerOffForTtl(spark, stateTtlMs, "minhashNearDupFilter")
    // watermark AFTER the fan-out — see [[nearDupDetections]]
    val banded = docs
      .flatMap { d =>
        val keys = TextExprs.bandKeysLocal(d.sig, ND.B, ND.R)
        keys.indices.map(b =>
          (b, keys(b), d.doc_id, d.ts, d.sig, null: String))
      }.toDF("band", "bkey", "doc_id", "ts", "sig", "payload")
      .withWatermark("ts", watermark)
      .as[(Int, Int, Long, Timestamp, Array[Int], String)]
    verdictWindowFold(
      sigBucketVerdicts(banded, minEst, cap, stateTtlMs),
      watermark, windowLen)
      .select(col("doc_id"), col("is_dup"))
  }

  /** Streaming MinHash near-dup DROP — [[minhashNearDupFilter]]'s
    * whole-row form and the continuous mirror of the batch
    * `CorpusPrep` near stage ([[graft.operators.NearDup.dropIds]],
    * keep-lowest; the stream keeps the first-arriving copy — equal
    * keep sets when fed in id order, the filter face's spec-pinned
    * argument): input rows go in, SURVIVING rows come out with their
    * full schema, finalized once the watermark closes each row's
    * window.
    *
    * The signature is computed in-plan with the batch kernel
    * (minhashShingleSig over tokens(normText(text)) — no coalesce, so
    * a null-text doc gets a null signature exactly as batch), and the
    * whole row rides the verdict stages as ONE opaque JSON payload on
    * a single band row (never B copies): two exchanges move the
    * payload once, the other B−1 band rows carry hashes only. A doc
    * with a NULL signature fans out no band rows — in batch it can
    * never be a candidate, so here it bypasses the state entirely and
    * is kept (a synthetic non-dup verdict unions into the fold so the
    * row still surfaces).
    *
    * Default `cap` = 100 = the batch dropIds default. Same checker
    * fail-fast as the filter face.
    *
    * `declareWatermark = false` when the INPUT stream already carries
    * a watermark on `tsCol` (e.g. corpusPrep's exact-dedup stage
    * upstream): Spark's watermark propagation rejects a second
    * declaration over a propagated one as a redefinition, and the
    * existing tag serves the stage — the band fan-out here is pure
    * column ops (posexplode of the batch `bandKeys` expression, no
    * object boundary), precisely so the upstream tag SURVIVES to the
    * stateful operator's input.
    */
  def minhashNearDupDrop(docs: DataFrame, minEst: Double,
                         cap: Int = 100,
                         watermark: String = "1 hour",
                         windowLen: String = "10 minutes",
                         stateTtlMs: Option[Long] = Some(2L * 3600 * 1000),
                         idCol: String = "doc_id", tsCol: String = "ts",
                         textCol: String = "text",
                         declareWatermark: Boolean = true)(
      implicit spark: SparkSession): DataFrame = {
    import graft.functions.TextOps
    import graft.functions.expressions.TextExprs
    import graft.operators.{NearDup => ND}
    import spark.implicits._
    require(minEst >= 0.0 && minEst <= 1.0, s"minEst must be in [0,1]: $minEst")
    requireCheckerOffForTtl(spark, stateTtlMs, "minhashNearDupDrop")
    val schema = docs.schema
    // MICROSECOND timestamp format on BOTH json faces: Spark's JSON
    // default writes milliseconds, so the default round trip would
    // silently truncate every TimestampType column of a surviving
    // row — breaking the "rows come out unchanged" contract for any
    // feed with sub-millisecond event times
    val jsonOpts = Map(
      "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
      "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    val base = if (declareWatermark) docs.withWatermark(tsCol, watermark)
               else docs
    val prepped = base.select(
      col(idCol).cast("long").as("_id"), col(tsCol).as("_ts"),
      // the batch signature expression VERBATIM (NearDup.signatures)
      TextExprs.minhashShingleSig(
        TextOps.tokens(TextOps.normText(col(textCol))), 3, ND.K).as("_sig"),
      to_json(struct(docs.columns.map(col): _*), jsonOpts).as("_pay"))
    val banded = prepped.filter(col("_sig").isNotNull)
      .select(col("_id"), col("_ts"), col("_sig"), col("_pay"),
        posexplode(TextExprs.bandKeys(col("_sig"), ND.B, ND.R))
          .as(Seq("band", "bkey")))
      .select(col("band"), col("bkey"), col("_id").as("doc_id"),
        col("_ts").as("ts"), col("_sig").as("sig"),
        // payload rides band 0 only — one full-row copy per doc
        when(col("band") === 0, col("_pay")).as("payload"))
      .as[(Int, Int, Long, Timestamp, Array[Int], String)]
    // sig-less docs bypass the bucket state entirely and union in
    // AFTER the fold as always-kept rows — emitted in their arrival
    // micro-batch with no window delay. The placement is load-bearing:
    // unioning them INTO the fold would carry any upstream watermark
    // (e.g. corpusPrep's dedup watermark) into the fold's own
    // withWatermark node, which Spark's watermark propagation rejects
    // as a redefinition (the fMGWS branch is safe — a
    // flatMapGroupsWithState clears its output watermark).
    val bypass = prepped.filter(col("_sig").isNull)
      .select(col("_id").as("doc_id"), lit(false).as("is_dup"),
        col("_pay").as("payload"))
    verdictWindowFold(
      sigBucketVerdicts(banded, minEst, cap, stateTtlMs),
      watermark, windowLen)
      .unionByName(bypass)
      .filter(!col("is_dup"))
      .select(from_json(col("payload"), schema, jsonOpts).as("_r"))
      .select(col("_r.*"))
  }

  // --- streaming line-level boilerplate filter (continuous mirror of batch q59) ---

  final case class LineIn(doc_id: Long, ts: Timestamp, line_hash: Long)
  final case class LineFreqState(keeper: Long, seen: List[Long])
  final case class LineVerdict(doc_id: Long, ts: Timestamp, kept: Boolean)

  /** Continuous line-level boilerplate filtering — the ONLINE form of
    * batch q59 ([[graft.operators.LineDedup]]): per distinct line
    * (keyed by its 64-bit hash), state tracks the first-seen doc (the
    * keeper) and up to `minDf` distinct doc ids; once a line has been
    * seen in `minDf` distinct docs it is boilerplate and every LATER
    * occurrence outside the keeper doc is dropped.
    *
    * Two necessary differences from batch, inherent to one-pass
    * streaming and stated rather than hidden: (1) the keeper is the
    * FIRST-SEEN doc, not the globally lowest id — the stream cannot
    * know about future lower ids; (2) occurrences that arrived BEFORE
    * the line crossed the threshold were already emitted as kept —
    * verdicts use knowledge-so-far. A batch q59 pass over the stored
    * corpus gives the exact retrospective answer; this stage keeps the
    * bulk of recurring boilerplate out of the live feed.
    *
    * State: one entry per distinct line seen, each holding <= minDf
    * ids — the per-line bound is what makes the entry small; the entry
    * COUNT is bounded by `stateTtlMs` event-time eviction
    * (EventTimeTimeout keyed off the watermark; `None` disables
    * eviction and state grows with distinct lines): a line not seen
    * for the TTL is dropped from the store. Boilerplate by definition
    * recurs — every new occurrence re-arms the timer — so eviction
    * only forgets one-off lines, whose verdict ("kept") never needed
    * state anyway. An evicted line that later returns restarts its
    * distinct-doc count, the unavoidable one-pass trade already
    * covered by stated-difference (2).
    *
    * NOTE (checker): Spark's STATIC correctness check flags ANY
    * event-time-timeout flatMapGroupsWithState feeding a stateful
    * aggregation ("possibly emits late rows"), so starting the
    * TTL form requires
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`.
    * The flagged scenario cannot occur here: every emitted verdict
    * carries a ts from the CURRENT batch's input (which the upstream
    * watermark already bounds), and the timeout branch emits nothing
    * — eviction only removes state. Event-time eviction is chosen
    * over a processing-time TTL deliberately: it keys off the
    * watermark, so replaying the same input evicts identically and
    * the stage stays rerun-deterministic like the rest of graft.
    * Because the conf is session-global and easy to miss, this
    * function FAILS FAST at construction when the TTL is on but the
    * checker is still enabled (instead of a cryptic AnalysisException
    * at .start()); pass `stateTtlMs = None` to keep the checker on
    * and accept unbounded per-distinct-line state (the pre-TTL
    * behavior — fine for bounded replays, wrong for a long-lived
    * production stream).
    *
    * Input rows: (doc_id, ts, line_hash) — explode + hash upstream
    * (TextExprs.md5Lower64 on the segmented line) so the state schema
    * stays narrow. Output: one finalized (doc_id, n_lines, n_kept) per
    * doc per window once the watermark passes — the
    * [[nearDupFilter]] fold pattern.
    */
  def lineBoilerplateFilter(lines: Dataset[LineIn], minDf: Int = 2,
      watermark: String = "1 hour", windowLen: String = "10 minutes",
      stateTtlMs: Option[Long] = Some(2L * 3600 * 1000))(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    requireCheckerOffForTtl(spark, stateTtlMs, "lineBoilerplateFilter")
    val timeoutKind = if (stateTtlMs.isDefined)
      GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()
    val verdicts = lines.withWatermark("ts", watermark)
      .groupByKey(_.line_hash)
      .flatMapGroupsWithState[LineFreqState, LineVerdict](
        OutputMode.Append(), timeoutKind) {
        (_, ls: Iterator[LineIn], state: GroupState[LineFreqState]) =>
          if (state.hasTimedOut) {
            // TTL passed with no new occurrence: a one-off line —
            // evict its entry; nothing to emit
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(LineFreqState(-1L, Nil))
            val out = scala.collection.mutable.ListBuffer.empty[LineVerdict]
            var maxTsMs = Long.MinValue
            // deterministic intra-batch order: first-by-time wins
            ls.toSeq.sortBy(l => (l.ts.getTime, l.doc_id)).foreach { l =>
              if (st.seen.isEmpty) st = LineFreqState(l.doc_id, List(l.doc_id))
              else if (!st.seen.contains(l.doc_id) && st.seen.size < minDf)
                st = st.copy(seen = l.doc_id :: st.seen)
              val boiler = st.seen.size >= minDf
              maxTsMs = math.max(maxTsMs, l.ts.getTime)
              out += LineVerdict(l.doc_id, l.ts,
                !boiler || l.doc_id == st.keeper)
            }
            state.update(st)
            // re-arm the eviction timer: TTL past this line's newest
            // occurrence (floored at the watermark — a timeout
            // timestamp must sit beyond it)
            stateTtlMs.foreach(ttl => state.setTimeoutTimestamp(
              math.max(maxTsMs, state.getCurrentWatermarkMs()) + ttl))
            out.iterator
          }
      }
    verdicts
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("kept"), 1)).as("n_kept"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"))
  }

  // --- stateful sessionization (streaming mirror of batch q22) ---

  final case class Ev(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(
      sessionStartMs: Long, lastTsMs: Long, nEvents: Long, totalValue: Double)
  final case class SessionOut(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, total_value: Double)

  /** Close and emit sessions with a gap timeout: an event more than
    * `gap` after the previous one (or `gap` of event-time silence,
    * via the watermark-driven timeout) starts a new session. State is
    * one small record per ACTIVE user — bounded, evicted on timeout —
    * so this holds at millions of concurrent users.
    */
  def sessionize(events: Dataset[Ev], gapMs: Long = 30 * 60 * 1000L)(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          if (evs.isEmpty && state.hasTimedOut) {
            // event-time silence longer than the gap: close the session
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, new Timestamp(s.sessionStartMs),
              new Timestamp(s.lastTsMs), s.nEvents, s.totalValue))
          } else {
            // fold the batch's events AND the active session (as an
            // interval) through ONE gap-merge pass over start-sorted
            // intervals. This is exactly batch q22's split rule applied
            // to whatever this operator can see: consecutive late
            // events within `gap` of each other coalesce into one past
            // session (not one session per event), a late event within
            // `gap` of the active session extends it backward, and
            // anything more than `gap` past the active envelope starts
            // a fresh session.
            val all = (state.getOption.toSeq ++ evs.map(e =>
                SessionState(e.ts.getTime, e.ts.getTime, 1, e.value)))
              .sortBy(s => (s.sessionStartMs, s.lastTsMs))
            var closed = List.empty[SessionOut]
            var cur: Option[SessionState] = None
            all.foreach { iv =>
              cur match {
                case Some(c) if iv.sessionStartMs - c.lastTsMs <= gapMs =>
                  cur = Some(SessionState(
                    math.min(c.sessionStartMs, iv.sessionStartMs),
                    math.max(c.lastTsMs, iv.lastTsMs),
                    c.nEvents + iv.nEvents, c.totalValue + iv.totalValue))
                case Some(c) =>
                  closed ::= SessionOut(user, new Timestamp(c.sessionStartMs),
                    new Timestamp(c.lastTsMs), c.nEvents, c.totalValue)
                  cur = Some(iv)
                case None =>
                  cur = Some(iv)
              }
            }
            cur.foreach { s =>
              state.update(s)
              // wake up when event time passes lastTs + gap to close
              // it; a very late batch can put that instant behind the
              // watermark, and an un-clamped timestamp throws and
              // kills the query
              state.setTimeoutTimestamp(
                math.max(s.lastTsMs + gapMs, state.getCurrentWatermarkMs + 1))
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming stratified sampler — the continuous mirror of batch
    * q47, delegating to the SAME [[graft.operators.Sample]] decision:
    * a stateless deterministic filter, so it needs no state store, no
    * watermark, and replaying a micro-batch keeps exactly the same
    * rows. (A rand()-based sampler would sample a DIFFERENT subset on
    * every retry — silent non-determinism in the training set.)
    */
  def stratifiedSample(docs: DataFrame, idCol: String, classCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double): DataFrame =
    graft.operators.Sample.stratified(docs, idCol, classCol, rates,
      defaultRate)

  /** Stream-static enrichment: join each micro-batch against a static
    * dimension with a BROADCAST hash join — no state store (the static
    * side is re-broadcast per batch, picking up dim refreshes on file
    * sources) and no stream-side shuffle. The 100 TB-scale shape for
    * attaching dimension attributes to an event firehose; left join so
    * unmatched events survive (nulls rather than data loss).
    */
  def enrich(stream: DataFrame, dim: DataFrame,
             keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Stream-STREAM interval join — the attribution shape: every
    * `effect` row matched to the `cause` rows of the same key whose
    * timestamp precedes it by at most `windowMs` (click→view
    * attribution, order→quote as-of-window, alert→probe correlation —
    * the continuous mirror of the batch range join q20). Inner join:
    * unattributed effects drop; feed the same effects through a
    * batch anti-join if the unmatched side matters.
    *
    * This is the one streaming join that needs SYMMETRIC state, and
    * the two conditions Spark requires to bound it are both encoded
    * here rather than left to the caller: BOTH sides carry the event-
    * time watermark, and the join predicate carries the explicit
    * time interval — together they let the state store evict every
    * buffered row once the watermark passes its last possible match,
    * so state is O(key-rate × (window + watermark)) regardless of
    * stream length. Without either, Spark either refuses the plan or
    * buffers forever; with them this runs indefinitely.
    *
    * Column hygiene: both frames keep their own columns; `keys` are
    * equi-join columns (emitted once), and the two timestamp columns
    * MUST be differently named (`causeTs`/`effectTs`) since both
    * survive into the output — rename upstream (`withColumnRenamed`)
    * when both arrive as `ts`.
    */
  /** @param joinType "inner" (default — unattributed effects drop),
    *                  "left_outer" (every cause survives; causes with
    *                  no effect emit null effect columns once the
    *                  watermark rules out a future match), or
    *                  "right_outer" (every effect survives — the
    *                  "all clicks, attributed or not" report). Outer
    *                  rows are emitted LATE by construction: only
    *                  when the global watermark passes the row's last
    *                  possible match can Spark prove the null.
    */
  def intervalJoin(cause: DataFrame, effect: DataFrame, keys: Seq[String],
                   causeTs: String, effectTs: String,
                   windowMs: Long = 30 * 60 * 1000L,
                   watermark: String = "1 hour",
                   joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "interval join needs at least one equi-key")
    require(causeTs != effectTs,
      s"cause/effect timestamp columns must be named apart, both are '$causeTs'")
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    require(Set("inner", "left_outer", "right_outer")(joinType),
      s"joinType must be inner/left_outer/right_outer, got '$joinType'")
    val c = cause.withWatermark(causeTs, watermark)
    val e = effect.withWatermark(effectTs, watermark)
    val cond = keys.map(k => c(k) === e(k)).reduce(_ && _) &&
      col(effectTs) >= col(causeTs) &&
      col(effectTs) <= col(causeTs) + expr(s"INTERVAL $windowMs MILLISECONDS")
    // equi-keys appear on both sides of the joined frame: emit each
    // once, coalesced — on an outer join the preserved side's key is
    // the only non-null one, so dropping one side outright would
    // null the key of every unmatched row
    keys.foldLeft(c.join(e, cond, joinType)) { (df, k) =>
      df.withColumn(s"__$k", coalesce(c(k), e(k)))
        .drop(c(k)).drop(e(k))
        .withColumnRenamed(s"__$k", k)
    }
  }

  /** Streaming benchmark decontamination — the continuous mirror of
    * batch q54: flag each incoming document sharing any word 8-gram
    * with the static benchmark set, using the SAME normalization,
    * shingle and portable-hash kernels, so a doc gets the identical
    * verdict from either layer.
    *
    * Stateless: the benchmark's distinct gram-hash set is collapsed to
    * ONE array row and broadcast-cross-joined onto the stream, and the
    * verdict is a per-row array intersection — no state store, no
    * watermark, verdicts emitted in the arrival micro-batch. Right for
    * benchmark suites (≤ millions of grams, re-broadcast per batch
    * picks up refreshes); a contamination source too big to broadcast
    * belongs to the batch layer's hash join instead.
    */
  def decontaminate(stream: DataFrame, benchDocs: DataFrame,
                    textCol: String = "text"): DataFrame = {
    import graft.functions.TextOps
    import graft.functions.expressions.TextExprs
    def gramHashes(c: org.apache.spark.sql.Column) =
      transform(TextExprs.wordShingles(TextOps.tokens(TextOps.normText(c)), 8),
        g => TextExprs.md5Lower64(g))
    val benchRow = benchDocs
      .select(explode(gramHashes(col(textCol))).as("gh")).distinct()
      .agg(collect_set(col("gh")).as("bench_gh"))
    stream
      .withColumn("_graft_gh", gramHashes(col(textCol)))
      .crossJoin(broadcast(benchRow))
      // null text → null gram array → null intersect; coalesce AT THE
      // VERDICT so a null-text doc gets batch q54's 0/0 (where its
      // zero exploded gram rows fall out of the left join)
      .withColumn("n_overlap",
        coalesce(
          size(array_intersect(col("_graft_gh"), col("bench_gh")))
            .cast("bigint"),
          lit(0L)))
      .withColumn("contaminated", (col("n_overlap") > 0).cast("bigint"))
      .drop("_graft_gh", "bench_gh")
  }

  /** Streaming cross-snapshot membership gate — the continuous mirror
    * of [[graft.operators.SnapshotBloom.gate]]: drop incoming docs
    * whose canonical digest a prior corpus snapshot's Bloom sidecar
    * (might) contain. STATELESS by construction — the filter
    * expression carries the serialized sketch, no streaming state, no
    * watermark, no join — so it composes anywhere in a streaming
    * pipeline and scales to any feed rate. Same guarantees as batch:
    * a seen doc never leaks through; an unseen doc is lost only at
    * the sidecar's FP rate.
    */
  def snapshotGate(stream: DataFrame,
                   bf: org.apache.spark.util.sketch.BloomFilter,
                   textCol: String = "text"): DataFrame =
    graft.operators.SnapshotBloom.gate(stream, bf, col(textCol))

  /** Streaming cross-snapshot NEAR-membership gate — the continuous
    * mirror of [[graft.operators.SnapshotBands.gate]]: drop incoming
    * docs sharing any q31 LSH band key with a prior corpus snapshot's
    * band sidecar (the paraphrase gap [[snapshotGate]]'s exact digest
    * cannot see). STATELESS like the exact gate — the band probes are
    * a pure function of the doc's bytes and the sketch rides the
    * filter expression — so keep/drop verdicts are identical to the
    * batch gate's on the same docs (spec-asserted).
    */
  def nearSnapshotGate(stream: DataFrame,
                       bf: org.apache.spark.util.sketch.BloomFilter,
                       textCol: String = "text"): DataFrame =
    graft.operators.SnapshotBands.gate(stream, bf, col(textCol))

  /** CONTINUOUS corpus ingestion — the streaming mirror of
    * [[graft.pipeline.CorpusPrep]], driven by the same `Config` and
    * composing the same verified kernels in the same stage order:
    *
    *   optional PII scrub → optional cross-snapshot membership gates
    *   (exact digest, then near-dup band keys) → exact dedup
    *   (watermarked state) → optional IN-FEED near-dup drop
    *   ([[minhashNearDupDrop]], the batch `nearDupMinEst` stage's
    *   continuous mirror in the batch position) → optional benchmark
    *   decontamination filter → langId tag + stratified language
    *   sample → optional source-mix gate → shard assignment,
    *
    * so a doc flowing through the stream gets the IDENTICAL keep/drop
    * decisions and (lang_detected, shard) values it would get from
    * the batch job — every gate is a pure function of the doc's own
    * bytes (hash-gated sampling, broadcast benchmark grams, sketch-
    * carrying membership filter), which is what makes a streaming
    * mirror possible at all.
    *
    * Two deliberate divergences, stated plainly:
    *  - exact dedup keeps the FIRST-ARRIVING copy within the
    *    watermark horizon (batch keeps the globally lowest doc_id —
    *    a total order a stream does not have) and forgets state past
    *    the watermark: a duplicate arriving later than `watermark`
    *    after its first copy passes through. Bounded state is the
    *    price of running forever.
    *  - the near-dup stage keeps the FIRST-ARRIVING member of each
    *    near-dup pair (batch keeps the lowest id — equal keep sets in
    *    id order) and its verdicts finalize per watermark window
    *    (bounded output delay); with the default state TTL the
    *    session must disable the static late-row checker (the stage
    *    fail-fasts with guidance).
    *  - batch-ONLY stages refuse loudly rather than silently
    *    degrading: substring strip, two-pass sourceWeights, packing,
    *    and sidecar publishing all need a global view (or a second
    *    pass) no unbounded stream has. Publish snapshots from the
    *    batch layer.
    *
    * Output: the surviving docs with `lang_detected` and `shard`
    * attached — write-ready for a partitioned streaming sink.
    */
  def corpusPrep(stream: DataFrame, cfg: graft.pipeline.CorpusPrep.Config,
                 benchmark: Option[DataFrame] = None,
                 tsCol: String = "ts",
                 watermark: String = "1 hour",
                 nearWindowLen: String = "10 minutes"): DataFrame = {
    require(cfg.substrWindow.isEmpty,
      "substring strip is batch-only: span localization needs the " +
        "whole corpus's anchor table")
    require(cfg.sourceWeights.isEmpty,
      "two-pass sourceWeights is batch-only (it measures the prepared " +
        "frame); supply sourceRates from a Mixer run instead")
    require(cfg.packBudget.isEmpty && cfg.publishSnapshot.isEmpty &&
      cfg.publishNearSnapshot.isEmpty,
      "packing and sidecar publishing are sink-side batch steps")
    // the same guard as batch planWith: a non-power-of-two mask would
    // silently skew shard routing instead of failing loudly
    require(cfg.nShards > 0 && (cfg.nShards & (cfg.nShards - 1)) == 0,
      s"nShards must be a power of two, got ${cfg.nShards}")
    val spark = stream.sparkSession
    // stateless per-row chains mirror batch exactly: markup extraction
    // first (when on), then the PII scrub — same order as CorpusPrep's
    // base lineage, so a doc flows through both engines identically
    def rewrite(df: DataFrame): DataFrame = {
      val m =
        if (cfg.stripMarkup)
          df.withColumn("text", graft.queries.PrepQ.stripMarkup(col("text")))
        else df
      if (cfg.scrubPii)
        m.withColumn("text", graft.queries.PrepQ.scrub(col("text")))
      else m
    }
    // canonical-URL dedup first (when on) — the batch position
    // exactly: a url-duplicate never pays the rewrite chain or any
    // downstream state. It declares the watermark; the exact-dedup
    // stage then inherits it (a second declaration is a redefinition)
    val urlGated =
      if (cfg.dedupByUrl)
        dedupByUrl(stream, tsCol = tsCol, watermark = watermark)
      else stream
    val scrubbed = rewrite(urlGated)
    // wordlist gate (when on): the identical stateless filter as the
    // batch base lineage, in the identical position — after the
    // rewrite chain, before the membership probe
    val worded = cfg.badWords.fold(scrubbed)(ws =>
      scrubbed.filter(
        graft.queries.WebQ.badWordCount(col("text"), ws) === 0L))
    val gated = cfg.priorSnapshot
      .map(p => graft.operators.SnapshotBloom.load(spark, p))
      .fold(worded)(bf => snapshotGate(worded, bf))
    // the band gate mirrors base()'s position: after the exact gate,
    // before dedup — identical verdicts to the batch run
    val nearGated = cfg.priorNearSnapshot
      .map(p => graft.operators.SnapshotBands.load(spark, p))
      .fold(gated)(bf => nearSnapshotGate(gated, bf))
    val deduped = dedupExact(nearGated, tsCol = tsCol,
      watermark = watermark, declareWatermark = !cfg.dedupByUrl)
    // IN-FEED near-dup drop (when configured) — the batch position
    // exactly: between exact dedup and decontamination, the same
    // kernel ([[minhashNearDupDrop]] mirrors NearDup.dropIds with
    // the filter face's keep-first/keep-lowest correspondence and
    // batch's cap). Verdicts finalize when the watermark closes each
    // doc's window, so this stage adds bounded output delay; with
    // the default TTL it also needs the late-row checker off
    // ([[lineBoilerplateFilter]]'s analysis — the stage fail-fasts
    // with guidance otherwise).
    val nearDropped = cfg.nearDupMinEst.fold(deduped)(minEst =>
      // declareWatermark = false: the dedup stage's watermark on
      // tsCol propagates here, and a second declaration would be a
      // disallowed redefinition
      minhashNearDupDrop(deduped, minEst, watermark = watermark,
        windowLen = nearWindowLen, tsCol = tsCol,
        declareWatermark = false)(spark))
    // the benchmark is scrubbed with the SAME chain as the corpus
    // (batch contract: contamination spanning a PII token must still
    // match after both sides are rewritten)
    val cleaned0 = benchmark.fold(nearDropped) { b =>
      val bs = rewrite(b)
      decontaminate(nearDropped, bs)
        .filter(col("contaminated") === 0L)
        .drop("n_overlap", "contaminated")
    }
    // quality-weighted gate (when on): the identical stateless kernel
    // in the identical batch position — after every dedup stage,
    // before the language gate
    val cleaned = if (cfg.qualityWeighted)
      graft.operators.QualityWeight.gate(cleaned0) else cleaned0
    val tagged = cleaned.withColumn("lang_detected",
      graft.functions.TextOps.langId(col("text")).getField("lang"))
    val langSampled = stratifiedSample(tagged, "doc_id", "lang_detected",
      cfg.langRates, cfg.defaultRate)
    val mixed = cfg.sourceRates.fold(langSampled)(rates =>
      graft.operators.Sample.stratified(langSampled, "doc_id", "source",
        rates, defaultRate = 0.0, domain = "mix:"))
    // the ONE shard-hash definition shared with the batch job — the
    // two layers must route a doc to the same shard
    mixed.withColumn("shard",
      graft.pipeline.CorpusPrep.shardHash.bitwiseAND(lit(cfg.nShards - 1L)))
  }

  /** Streaming HLL: approximate COUNT(DISTINCT keyCol) per tumbling
    * event-time window — the continuous mirror of batch q45, built
    * from the SAME [[graft.operators.Hll]] register/estimator
    * definitions. Two chained stateful aggregations (register maxima
    * per window, then the finalize over each closed window's ≤ m
    * register rows): state is O(m) longs per open window however many
    * distinct keys flow through — an exact streaming distinct would
    * hold every key until the watermark. Append mode: a window's
    * estimate is emitted exactly once, when the watermark closes it.
    */
  def windowedApproxDistinct(events: DataFrame, keyCol: String,
                             windowLen: String = "1 hour",
                             watermark: String = "2 hours"): DataFrame = {
    import graft.operators.Hll
    val key = col(keyCol).cast("string")
    val regs = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), Hll.reg(key).as("reg"))
      .agg(max(Hll.rho(key)).as("mj"))
    Hll.estimate(regs, Seq("window"))
      .select(col("window.start").as("window_start"), col("est_nd"))
  }

  /** Streaming sampled quantiles: per tumbling event-time window, the
    * exact interpolated percentiles of `valueCol` over a deterministic
    * Bernoulli hash sample — the continuous mirror of batch q46, using
    * the SAME [[graft.operators.Sample]] keep-decision keyed on
    * `idCols`. The sample gate is a stateless map-side filter, so the
    * windowed percentile state shrinks by the sample rate; because the
    * decision is a pure row function, replayed micro-batches sample
    * identical rows (a rand() gate would silently change the window's
    * quantiles on every retry).
    */
  def windowedSampledQuantile(events: DataFrame, valueCol: String,
                              idCols: Seq[String], rate: Double,
                              percentiles: Seq[Double] = Seq(0.5, 0.9),
                              windowLen: String = "1 hour",
                              watermark: String = "2 hours"): DataFrame = {
    import graft.operators.Sample
    val id = concat_ws("-", idCols.map(col): _*)
    val aggs = percentiles.map(p =>
      expr(s"percentile($valueCol, $p)")
        .as(s"p${(p * 100).round}_$valueCol"))
    events
      .withWatermark("ts", watermark)
      .filter(Sample.keep(id, lit(rate)))
      .groupBy(window(col("ts"), windowLen))
      .agg(aggs.head, (aggs.tail :+ count(lit(1)).as("n_sample")): _*)
      .select(col("window.start").as("window_start") +:
        (percentiles.map(p => col(s"p${(p * 100).round}_$valueCol")) :+
          col("n_sample")): _*)
  }

  /** Streaming count-min sketch: per tumbling event-time window, the
    * d×w cell-count table over the tokens of `textCol` — the
    * continuous mirror of batch q49's sketch phase, built from the
    * SAME [[graft.operators.Cm]] cell kernel. ONE stateful
    * aggregation whose state is d·w counters per open window however
    * many tokens flow through; a closed window's table answers any
    * later frequency query as min over its d cells (with q49's
    * est ≥ exact one-sided guarantee). Append mode: each window's
    * table is emitted exactly once, when the watermark closes it.
    */
  def windowedFreqSketch(docs: DataFrame, textCol: String = "text",
                         windowLen: String = "1 hour",
                         watermark: String = "2 hours"): DataFrame = {
    import graft.functions.TextOps
    import graft.operators.Cm
    val toks = docs
      .withWatermark("ts", watermark)
      .select(col("ts"),
        explode(TextOps.tokens(TextOps.normText(col(textCol)))).as("tok"))
      .filter(length(col("tok")) > 0)
    Cm.withCells(toks)
      .groupBy(window(col("ts"), windowLen), col("j"), col("bucket"))
      .agg(count(lit(1)).as("cell_n"))
      .select(col("window.start").as("window_start"),
        col("j"), col("bucket"), col("cell_n"))
  }

  // ---- exactly-once sinks ----

  /** Test seam at the ledgered apply's one unrecorded commit point:
    * after `apply`, before the ledger record. A hook that throws there
    * leaves exactly what a crash at that point leaves. A no-op outside
    * tests.
    */
  @volatile private[graft] var beforeRecord: (String, Long) => Unit =
    (_, _) => ()

  /** The ONE exactly-once step every ledgered sink runs: apply batch
    * `batchId` to `target` at most once, under Structured Streaming's
    * replay contract — the engine logs a batch id before the batch
    * runs, and after a crash it re-delivers the last uncommitted id
    * with the SAME contents. The ledger contract, for all sinks:
    *
    *  - ONE stream per target: the target's [[BatchLedger]] keeps the
    *    highest applied id, and any id at or below it is refused —
    *    returns false, no job runs;
    *  - RISING ids: within one checkpoint ids only rise, and a replay
    *    repeats the last one, so the mark refuses exactly what the set
    *    of every applied id would (a fresh checkpoint restarting at 0
    *    is refused until it passes the mark, as the set refused it);
    *  - a REBUILD resets the ledger: `IvfIndex.build`,
    *    `NearDupIndex.build` and `Search.buildIndex` call
    *    [[BatchLedger.reset]], so a fresh stream against a rebuilt
    *    target applies from batch 0.
    *
    * Order: `settle(mark)` runs on every call, refused or not — a
    * sink's own pending-marker repair; then, for an unseen id, `apply`,
    * the [[beforeRecord]] seam, and the ledger record. A crash between
    * apply and record re-delivers the same id to an apply that already
    * ran, so every sink's apply must converge when re-run on the same
    * batch (each apply's scaladoc says why its own does).
    */
  private[graft] def ledgered(spark: SparkSession, target: String,
                              batchId: Long,
                              settle: Long => Unit = _ => ())(
      apply: => Unit): Boolean = {
    val mark = BatchLedger.mark(spark, target)
    settle(mark)
    batchId > mark && {
      apply
      beforeRecord(target, batchId)
      BatchLedger.record(spark, target, batchId)
      true
    }
  }

  /** The one `foreachBatch` writer every sink below returns. */
  private def eachBatch(stream: DataFrame, mode: OutputMode)(
      f: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.outputMode(mode)
      .foreachBatch((batch: Dataset[Row], id: Long) => f(batch.toDF(), id))

  /** Apply one micro-batch to the keyed snapshot at `targetPath`
    * through [[graft.pipeline.Merge.upsert]], exactly-once through
    * [[ledgered]]. Re-running the same batch after a crash before the
    * ledger record is safe without any transaction: Merge.upsert is
    * keyed SCD-1 with deterministic version ordering, so re-merging
    * the identical rows is a NO-OP on the snapshot — the ledger skips
    * the cost and makes idempotence auditable, it does not carry the
    * correctness (the spec proves both properties separately).
    */
  def applyUpsertBatch(batch: DataFrame, batchId: Long, targetPath: String,
                       keys: Seq[String], versionCol: String,
                       deleteCol: Option[String] = None): Boolean =
    ledgered(batch.sparkSession, targetPath, batchId) {
      graft.pipeline.Merge.upsert(batch.sparkSession, targetPath, batch,
        keys, versionCol, deleteCol)
    }

  /** The continuous mirror of the batch [[graft.pipeline.Merge]] load:
    * a change stream (inserts/updates/tombstones) maintained as a
    * queryable keyed parquet snapshot, exactly-once under micro-batch
    * replay ([[applyUpsertBatch]]; ledger contract on [[ledgered]]).
    * Start with `.start()` and a checkpointLocation option — the
    * engine's offset log drives the batchId replay contract.
    */
  def upsertSink(stream: DataFrame, targetPath: String,
                 keys: Seq[String], versionCol: String,
                 deleteCol: Option[String] = None): DataStreamWriter[Row] =
    eachBatch(stream, OutputMode.Update())(
      applyUpsertBatch(_, _, targetPath, keys, versionCol, deleteCol))

  /** [[applyUpsertBatch]]'s SCD-2 sibling: one micro-batch folded into
    * the history-keeping snapshot via [[graft.pipeline.Merge.scd2]],
    * exactly-once through [[ledgered]]. Re-applying the IDENTICAL
    * batch after a crash before the ledger record is a provable no-op
    * — every replayed row (changes, re-inserts AND tombstones, even
    * for keys the batch itself tombstoned) lands at or below the key's
    * whole-history high-water mark and is dropped as late. The mark
    * covers closed intervals, which is what makes a tombstone-ENDING
    * replayed batch safe: the key has no open interval, but its close
    * version still gates.
    */
  def applyScd2Batch(batch: DataFrame, batchId: Long, targetPath: String,
                     keys: Seq[String], versionCol: String,
                     deleteCol: Option[String] = None): Boolean =
    ledgered(batch.sparkSession, targetPath, batchId) {
      graft.pipeline.Merge.scd2(batch.sparkSession, targetPath, batch,
        keys, versionCol, deleteCol)
    }

  /** Continuous SCD-2 history maintenance: a change stream becomes a
    * queryable validity-interval snapshot (_valid_from/_valid_to/
    * _is_current), exactly-once under micro-batch replay
    * ([[applyScd2Batch]]; ledger contract on [[ledgered]]). The batch
    * and streaming paths share the [[graft.pipeline.Merge.scd2]]
    * kernel, so their semantics cannot drift.
    */
  def scd2Sink(stream: DataFrame, targetPath: String,
               keys: Seq[String], versionCol: String,
               deleteCol: Option[String] = None): DataStreamWriter[Row] =
    eachBatch(stream, OutputMode.Update())(
      applyScd2Batch(_, _, targetPath, keys, versionCol, deleteCol))

  /** Continuous history-correct enrichment: each fact micro-batch
    * joins the SCD-2 history snapshot at `historyPath` through
    * [[graft.pipeline.Merge.temporalJoin]] — every fact sees the
    * dimension state AT ITS OWN version, even when facts arrive late
    * relative to dimension changes (the case a stream-static join
    * against a latest-only snapshot silently gets wrong).
    *
    * The history is RE-READ each micro-batch (a fresh
    * `spark.read.parquet` inside foreachBatch, listing invalidated
    * first): the snapshot directory is atomically swapped by
    * [[scd2Sink]]/[[graft.pipeline.Merge.scd2]], so each batch sees
    * one complete published history — composing the two sinks gives
    * a change stream maintaining the dimension while an event stream
    * enriches against it, each batch atomically consistent.
    */
  def temporalEnrich(facts: DataFrame, historyPath: String,
                     keys: Seq[String], factVersion: org.apache.spark.sql.Column)
                    (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    eachBatch(facts, OutputMode.Append()) { (batch, id) =>
      val spark = batch.sparkSession
      spark.catalog.refreshByPath(historyPath)
      val hist = spark.read.parquet(historyPath)
      sink(graft.pipeline.Merge.temporalJoin(batch, hist, keys, factVersion),
        id)
    }

  /** Continuous incremental statistics: each micro-batch folds into
    * the [[graft.pipeline.StatsMaintain]] snapshot EXACTLY once.
    * Stats folding is ADDITIVE — a replayed batch would double-count,
    * so the sidecar ledger the other sinks share ([[ledgered]] —
    * external file, written after the apply) is NOT safe here: its
    * crash window would re-apply the batch. Instead the applied-batch
    * ledger rides INSIDE the snapshot directory and swaps atomically
    * with the data ([[graft.pipeline.StatsMaintain.maintainBatch]]) —
    * there is no window, by construction.
    */
  def statsSink(stream: DataFrame, targetPath: String,
                spec: graft.pipeline.StatsMaintain.Spec): DataStreamWriter[Row] =
    eachBatch(stream, OutputMode.Update())((batch, id) =>
      graft.pipeline.StatsMaintain.maintainBatch(
        batch.sparkSession, targetPath, batch, spec, id))

  /** One fact-side change micro-batch folded into BOTH the left base
    * snapshot (exactly-once, via [[applyUpsertBatch]]'s ledger) and
    * the materialized join view at `viewPath`
    * ([[graft.pipeline.ViewMaintain.maintain]]). The view step runs
    * UNCONDITIONALLY — even when the ledger refuses the base upsert as
    * a re-delivery — and needs NO ledger of its own: unlike additive
    * stats (whose replay double-counts, forcing the in-snapshot
    * ledger, see [[statsSink]]), the view repair is a pure function of
    * the CURRENT bases, so replaying it converges to the same state by
    * construction. That also closes the crash window between the base
    * publish and the view repair: the replayed batch skips the base
    * upsert and still repairs the view.
    *
    * `partCol` switches the repair to the partition-pruned layout
    * ([[graft.pipeline.ViewMaintain.maintainPartitioned]]) — the
    * 100 TB form, where only partitions holding affected keys are
    * rewritten per micro-batch.
    *
    * Returns whether the base upsert applied (false = ledger refusal;
    * the view repair still ran).
    */
  def applyViewMaintainBatch(batch: DataFrame, batchId: Long,
                             leftPath: String, rightPath: String,
                             viewPath: String, keys: Seq[String],
                             versionCol: String,
                             spec: graft.pipeline.ViewMaintain.Spec,
                             deleteCol: Option[String] = None,
                             partCol: Option[String] = None): Boolean = {
    val spark = batch.sparkSession
    val applied = applyUpsertBatch(batch, batchId, leftPath, keys,
      versionCol, deleteCol)
    // fresh base reads: both snapshots swap atomically under their own
    // maintainers; invalidate any cached file listing first
    spark.catalog.refreshByPath(leftPath)
    spark.catalog.refreshByPath(rightPath)
    val left = spark.read.parquet(leftPath)
    val right = spark.read.parquet(rightPath)
    // the delta contributes keys (and the partition value) only; the
    // version/delete columns are base-maintenance concerns.
    // lockWaitMs: a concurrent DIMENSION-side repair (the documented
    // composition) holds the view's maintainer lock for its own
    // cycle; the micro-batch must ride that out rather than crash the
    // streaming query — the Snapshot lock refuses immediately by
    // default (the batch convention), so the wait is explicit here
    val leftDelta = batch.toDF()
    val wait = SinkLockWaitMs
    partCol match {
      case Some(pc) =>
        graft.pipeline.ViewMaintain.maintainPartitioned(spark, viewPath,
          left, right, leftDelta, right.limit(0), spec, pc,
          lockWaitMs = wait)
      case None =>
        graft.pipeline.ViewMaintain.maintain(spark, viewPath,
          left, right, leftDelta, right.limit(0), spec,
          lockWaitMs = wait)
    }
    applied
  }

  /** Continuous materialized-view maintenance: a fact change stream
    * (inserts/updates/tombstones) maintains the left BASE snapshot and
    * the standing `left ⋈ right` VIEW together, exactly-once under
    * micro-batch replay ([[applyViewMaintainBatch]] — base ledgered,
    * ledger contract on [[ledgered]]; view repair idempotent by
    * construction). Dimension-side changes flow through the
    * dimension's own batch maintainer plus a
    * `ViewMaintain.maintain`/`maintainPartitioned` call with the
    * right-side delta. Serialization against that dimension-side
    * maintainer: the sink's micro-batches acquire the view lock with
    * a 10-minute wait budget (riding out a concurrent batch cycle),
    * while the batch side keeps the fail-fast default — pass a
    * `lockWaitMs` to its maintain call too if its schedule can
    * overlap a busy stream. A HARD KILL mid-cycle leaves the view's
    * `._graft_lock` behind (the Snapshot convention): clear it with
    * `Snapshot.forceUnlock` semantics (delete the lock file after
    * confirming no live maintainer) before restarting the stream —
    * the replayed batch then repairs idempotently.
    */
  def viewMaintainSink(stream: DataFrame, leftPath: String,
                       rightPath: String, viewPath: String,
                       keys: Seq[String], versionCol: String,
                       spec: graft.pipeline.ViewMaintain.Spec,
                       deleteCol: Option[String] = None,
                       partCol: Option[String] = None): DataStreamWriter[Row] =
    eachBatch(stream, OutputMode.Update())(
      applyViewMaintainBatch(_, _, leftPath, rightPath, viewPath, keys,
        versionCol, spec, deleteCol, partCol))

  /** One NEW-docs micro-batch folded into the persisted
    * [[graft.operators.NearDupIndex]], exactly-once through
    * [[ledgered]]. Re-running the same batch after a crash before the
    * ledger record is safe because the index's own crash contract IS
    * "re-run the same batch" — the replay regenerates the same
    * verified pairs, re-upserts the same labels (convergent) and only
    * duplicates append-store rows (correctness-neutral bloat, see the
    * operator scaladoc). Batch-layer maintains on the same index
    * serialize through the shared [[graft.util.PathLock]]; the sink
    * waits out a concurrent cycle instead of failing the query.
    */
  def applyNearDupIndexBatch(batch: DataFrame, batchId: Long,
                             path: String): Boolean =
    ledgered(batch.sparkSession, path, batchId) {
      graft.operators.NearDupIndex.maintain(batch.sparkSession, path, batch,
        lockWaitMs = SinkLockWaitMs)
    }

  /** Continuous near-dup component-index maintenance: a stream of NEW
    * corpus docs (doc_id, text — ids disjoint from everything indexed,
    * the corpus-append contract) keeps the [[graft.operators
    * .NearDupIndex]] labels current, so downstream consumers (the
    * cluster-pick, dedup gates, audits) always read fresh components
    * without any corpus rescan. Build the index from the initial
    * snapshot with `NearDupIndex.build` first (ledger contract on
    * [[ledgered]]).
    */
  def nearDupIndexSink(stream: DataFrame, path: String): DataStreamWriter[Row] =
    eachBatch(stream, OutputMode.Append())(applyNearDupIndexBatch(_, _, path))

  // --- continuous ANN index maintenance (streaming IvfIndex.append) ---

  /** One embedding micro-batch appended into a persisted
    * [[graft.operators.IvfIndex]], EXACTLY-ONCE through [[ledgered]].
    * The hard part, stated plainly: unlike the merge sinks (re-merge
    * is a no-op) and the stats sink (in-snapshot ledger), a parquet
    * APPEND is neither idempotent nor atomically ledgerable — a crash
    * between the append and the ledger record leaves rows that a
    * replay would duplicate. So the batch id is recorded in a PENDING
    * marker before any append, and settled against the ledger mark on
    * every call:
    *
    *  - marker id ledgered → the append completed and only the
    *    marker-clear was lost: clear it and continue;
    *  - marker id == THIS batch → this is the replay of an
    *    interrupted append: re-append (rows written by the crashed
    *    attempt are now duplicated) and then repair with
    *    [[graft.operators.IvfIndex.dedupeVectors]] (duplicates of a
    *    vec_id are byte-identical, keep-any is exact — and a crash
    *    mid-repair just re-enters this same branch, which converges);
    *  - marker id a DIFFERENT unledgered batch → not this query's
    *    replay (a skipped batch or foreign writer): refuse loudly
    *    rather than guess.
    */
  def applyIvfAppendBatch(batch: DataFrame, batchId: Long,
                          path: String): Boolean = {
    import graft.operators.IvfIndex
    val spark = batch.sparkSession
    // the index maintainer lock spans the WHOLE marker-append-ledger
    // cycle: without it, a batch-layer retrain reading `index/` while
    // this append lands would swap in a rebuilt tree WITHOUT the
    // appended (and ledgered) rows — permanent silent loss, since the
    // ledger blocks the replay that could restore them. The wait
    // budget rides out a concurrent retrain (minutes at scale) rather
    // than failing the micro-batch.
    IvfIndex.withIndexLock(spark, path, waitMs = SinkLockWaitMs) {
      val pending = new org.apache.hadoop.fs.Path(IvfIndex.pendingPath(path))
      val fs = pending.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var healAfterAppend = false
      def settle(mark: Long): Unit = if (fs.exists(pending)) {
        val in = fs.open(pending)
        val raw = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim finally in.close()
        // an EMPTY/unparsable marker is a crash between fs.create and
        // the id write: the append itself never started (the marker is
        // written before any append job), so there is nothing to heal —
        // overwrite and proceed rather than dying on a bare
        // NumberFormatException that wedges the query
        raw.toLongOption match {
          case Some(pid) if pid > mark && pid == batchId =>
            healAfterAppend = true
          case Some(pid) if pid > mark => throw new IllegalStateException(
            s"ivf append sink: batch $pid was interrupted mid-append at $path " +
              "and this is not its replay — run " +
              "IvfIndex.dedupeVectors(path) and delete " +
              s"${IvfIndex.pendingPath(path)} after confirming no live writer")
          case _ => fs.delete(pending, false); ()
        }
      }
      val applied = ledgered(spark, path, batchId, settle) {
        val o = fs.create(pending, true)
        try o.write(batchId.toString.getBytes("UTF-8")) finally o.close()
        IvfIndex.appendUnlocked(spark, path, batch)
        if (healAfterAppend) { IvfIndex.dedupeVectorsUnlocked(spark, path); () }
      }
      if (applied) fs.delete(pending, false)
      applied
    }
  }

  /** Continuous ANN-index maintenance: an embedding stream
    * (vec_id, embedding) appended into a persisted IvfIndex built by
    * the batch layer, exactly-once per micro-batch
    * ([[applyIvfAppendBatch]] — marker protocol + self-healing
    * replay; ledger contract on [[ledgered]]). Appends assign to the
    * FROZEN centroids (the batch append contract), so recall decays
    * as the corpus drifts — run
    * [[graft.operators.IvfIndex.retrainIfNeeded]] from the batch
    * layer on its volume/recall policy. Retrain and these appends
    * serialize through the index MAINTAINER LOCK (both hold it for
    * their whole cycle — [[graft.operators.IvfIndex.withIndexLock]]):
    * a retrain can no longer swap away rows an append ledgered during
    * its rebuild window. While a retrain holds the lock, micro-batches
    * wait (up to the sink's 10-minute budget) instead of failing.
    * HARD-KILL runbook: a kill mid-cycle leaves `<path>._graft_lock`
    * behind (the Snapshot convention — the lock survives because the
    * partial state it guards may too); delete it after confirming no
    * live writer, THEN restart the stream — the replayed batch finds
    * the pending marker and self-heals as documented on
    * [[applyIvfAppendBatch]]. Without that step the replay waits out
    * the lock budget and fails with the lock-file guidance rather
    * than healing.
    */
  def ivfAppendSink(stream: DataFrame, path: String): DataStreamWriter[Row] =
    eachBatch(stream, OutputMode.Append())(applyIvfAppendBatch(_, _, path))

  /** Stream batch-id → the marker token
    * [[graft.operators.Search.maintainIndexUnlocked]] records (and
    * `SearchBatchTag` reads the id back), so a replay can recognize
    * its own interrupted append and a batch-layer maintain's custom id
    * can never collide with a stream id.
    */
  private def searchBatchTag(batchId: Long): String = s"stream-$batchId"
  private val SearchBatchTag = "stream-(-?\\d+)".r

  /** Fold one micro-batch of NEW documents into a persisted
    * [[graft.operators.Search.buildIndex]] table, exactly-once. Like
    * the IVF sink, postings append is NOT idempotent (a replayed
    * append doubles every n_phrase count — silently, since phrase
    * semantics have no per-row uniqueness to refuse on), so three
    * layers compose, all under ONE whole-cycle index location lock:
    *
    *  - the applied-batch ledger ([[ledgered]], beside the table
    *    location, so it survives compaction's table recreation)
    *    refuses a re-delivered batchId before any job runs;
    *  - the maintain cycle's own pending MARKER brackets the append,
    *    and — the keepMarker hook — stays in place until the ledger
    *    records the batch, closing the append-done-but-unledgered
    *    crash window: the replay finds its own marker and self-heals
    *    by re-append + DISTINCT compaction (exact, because a
    *    legitimate index never holds two identical (doc_id, pos, t)
    *    rows — [[graft.operators.Search.maintainIndex]]);
    *  - a marker whose id the ledger already covers is the
    *    completed-append-lost-marker-clear case: cleared here with no
    *    healing, no job, even when this batch is refused.
    *
    * A marker from a batch-layer maintain (non-`stream-` id, not
    * ledgered) refuses loudly through the maintain cycle's own
    * foreign-marker branch. Batch-layer [[graft.operators.Search]]
    * mutators (maintainIndex/deleteDocs/compactIndex) serialize with
    * these micro-batches through the same location lock; the sink
    * waits out a concurrent cycle (10-minute budget) instead of
    * failing. `versionFor` stamps the freshness version per batch
    * (None leaves the previous stamp — callers serving
    * `expectCorpusVersion` queries should stamp every batch).
    */
  def applySearchIndexBatch(batch: DataFrame, batchId: Long, table: String,
                            idCol: org.apache.spark.sql.Column = col("doc_id"),
                            textCol: org.apache.spark.sql.Column = col("text"),
                            versionFor: Long => Option[String] = _ => None)
      : Boolean = {
    import graft.operators.Search
    val spark = batch.sparkSession
    val loc = Search.indexLocationOf(spark, table)
    graft.util.PathLock.withLock(spark, loc, waitMs = SinkLockWaitMs,
      what = "search index maintainer") {
      val applied = ledgered(spark, loc, batchId, settle = mark =>
        Search.pendingBatchId(spark, table) match {
          case Some(SearchBatchTag(n)) if n.toLongOption.exists(_ <= mark) =>
            // completed append whose marker-clear was lost: clear, no heal
            Search.clearPendingMarker(spark, table)
          case _ => ()   // absent/empty/same-batch/foreign: the maintain
                         // cycle's own marker branches handle each
        }) {
        Search.maintainIndexUnlocked(spark, table, batch,
          batchId = searchBatchTag(batchId), idCol = idCol, textCol = textCol,
          newVersion = versionFor(batchId), keepMarker = true)
      }
      if (applied) Search.clearPendingMarker(spark, table)
      applied
    }
  }

  /** Continuous search-index maintenance: a stream of NEW documents
    * folded into a persisted positional postings index exactly-once
    * per micro-batch ([[applySearchIndexBatch]] — ledger + kept
    * marker + self-healing replay; ledger contract on [[ledgered]]).
    * The batch layer owns deletions and compaction
    * ([[graft.operators.Search.deleteDocs]]/`compactIndex`),
    * serialized with these appends by the shared location lock. Start
    * with `.start()` and a checkpointLocation — the engine's offset
    * log drives the batchId replay contract.
    */
  def searchIndexSink(stream: DataFrame, table: String,
                      versionFor: Long => Option[String] = _ => None)
      : DataStreamWriter[Row] =
    eachBatch(stream, OutputMode.Append())(
      applySearchIndexBatch(_, _, table, versionFor = versionFor))
}

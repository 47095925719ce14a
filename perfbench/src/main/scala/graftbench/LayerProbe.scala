package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.functions.TextOps
import graft.functions.expressions.TextExprs
import graft.operators.{NearDupIndex, Search}
import graft.pipeline.{Importer, Merge, Step, Template, Templates}
import graft.sources.{CsvSource, WarcSource}
import graft.util.AuditLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The traced run's probe of the layers that neither headline op
  * reaches on its own: the write path (`sources.CsvSource`,
  * `pipeline.Importer` under `util.JobRunner` with `util.AuditLog`,
  * `pipeline.Merge`, `operators.NearDupIndex`, `operators.Search`),
  * the WARC source alone, and a `functions` kernel. It runs only with
  * tracing on, after the headline ops, so it moves no end-to-end
  * figure; every call sits in a span of its layer.
  *
  * A seeded base corpus is imported from CSV, merged into a snapshot
  * and indexed. Then each delta cycle imports a CSV batch (about 1%
  * corrupt rows), awaits it, merges it on `doc_id` (updates and
  * tombstones included) and folds its new docs into both indexes.
  * Then come seeded read probes: indexed phrase and ranked searches.
  */
object LayerProbe {

  val BaseDocs = 400
  /** A delta is this share of the store. */
  val DeltaShare = 0.05
  val Cycles = 2
  /** Each single-call probe is repeated; its figure is the median. */
  val Repeats = 3
  val Buckets = 8

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType), StructField("ver", LongType),
    StructField("deleted", BooleanType)))

  val Tpl: Template = Template("docs", "corpus docs", Seq(
    Step.Trim("text"), Step.Lower("source"),
    Step.Derive("n_chars", "cast(length(text) as bigint)")))

  private val Vocab: IndexedSeq[String] = {
    val on = Seq("b", "d", "g", "k", "m", "p", "r", "t", "v")
    val nu = Seq("a", "e", "i", "o", "u")
    (for (a <- on; b <- nu; c <- on; d <- nu) yield a + b + c + d).take(600).toIndexedSeq
  }

  /** Seeded CSV batches, with the live set tracked so each batch's
    * expected merge outcome is known in closed form.
    */
  final class Gen(seed: Long) {
    private val rnd = new java.util.Random(seed)
    val live = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    val added = ArrayBuffer.empty[(Long, String)]
    private var nextId = 0L
    private var badId = -1L

    def text(): String =
      Seq.fill(30 + rnd.nextInt(50))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
    /** One doc in 20 is a near-duplicate of a doc already added. */
    def newText(): String =
      if (added.nonEmpty && rnd.nextInt(20) == 0) {
        val t = added(rnd.nextInt(added.size))._2.split(" ")
        val i = t.length / 2
        t.updated(i, t(i) + "x").mkString(" ")
      } else text()

    final case class Batch(csv: String, rows: Int, bad: Int, inserted: Int,
                           updated: Int, deleted: Int, targetRows: Long,
                           newIds: (Long, Long))

    /** Write one batch: `n` clean rows (inserts, or for a delta 60%
      * inserts, 30% updates, 10% tombstones) plus about 1% corrupt.
      */
    def batch(path: String, n: Int, ver: Long, delta: Boolean): Batch = {
      val targetRows = live.size.toLong
      val nUpd = if (delta) (n * 0.3).toInt else 0
      val nDel = if (delta) (n * 0.1).toInt else 0
      val nIns = n - nUpd - nDel
      val liveIds = live.keys.toIndexedSeq
      val keys = rnd.ints(0, math.max(1, live.size)).distinct()
        .limit((nUpd + nDel).toLong).toArray.map(liveIds(_))
      val sb = new StringBuilder("doc_id,text,source,ver,deleted\n")
      val lo = nextId
      (0 until nIns).foreach { _ =>
        val id = nextId; nextId += 1
        val t = newText()
        live(id) = t; added += id -> t
        sb.append(s"$id,$t,SRC${id % 8},$ver,false\n")
      }
      keys.take(nUpd).foreach { id =>
        val t = text(); live(id) = t
        sb.append(s"$id,$t,SRC${id % 8},$ver,false\n")
      }
      keys.drop(nUpd).foreach { id =>
        live.remove(id)
        sb.append(s"$id,,SRC${id % 8},$ver,true\n")
      }
      val nBad = math.max(1, n / 100)
      (0 until nBad).foreach { _ =>
        sb.append(s"$badId,${text()},SRC0,v$ver,false\n"); badId -= 1
      }
      Files.writeString(Paths.get(path), sb.toString)
      Batch(path, n + nBad, nBad, nIns, nUpd, keys.length - nUpd, targetRows,
        (lo, nextId))
    }
  }

  final class Store(ctx: Ctx, base: String) {
    val spark = ctx.spark
    val store = s"$base/snapshot"
    val ndx = s"$base/neardup"
    val table = "perf_search_" + Paths.get(base).getFileName.toString
      .replaceAll("[^A-Za-z0-9]", "_")
    val audit = new AuditLog(s"$base/audit")
    val templates = new Templates
    templates.register(Tpl)
    val importer = new Importer(spark, templates, audit)

    /** Import one CSV batch and await it; the imported frame. */
    def importBatch(b: Gen#Batch, out: String): (DataFrame, Boolean) = {
      val h = ctx.call("pipeline", "Importer.importCsv") {
        importer.importCsv(b.csv, Schema, Tpl.id, out)
      }
      val st = ctx.call("pipeline", "Importer.await") { importer.await(h.jobId) }
      val ok = ctx.check(s"import of ${b.csv}",
        st == graft.pipeline.JobRunner.Succeeded && h.report.badRows == b.bad,
        s"status=$st badRows=${h.report.badRows} expected ${b.bad}")
      (spark.read.parquet(out), ok)
    }

    def merge(b: Gen#Batch, upd: DataFrame): Boolean = {
      val st = ctx.call("pipeline", "Merge.upsert") {
        Merge.upsert(spark, store, upd, Seq("doc_id"), "ver", Some("deleted"))
      }
      val want = Merge.Stats(b.targetRows, b.rows - b.bad,
        b.targetRows + b.inserted - b.deleted, b.inserted, b.updated, b.deleted)
      ctx.check(s"merge of ${b.csv}", st == want, s"got $st expected $want")
    }

    def newDocs(upd: DataFrame, b: Gen#Batch): DataFrame =
      upd.filter(col("doc_id") >= b.newIds._1 && col("doc_id") < b.newIds._2)
        .select(col("doc_id"), col("text"))

    /** Import, merge and index the base corpus. */
    def build(b: Gen#Batch): (Boolean, NearDupIndex.Stats) = {
      val (upd, ok1) = importBatch(b, s"$store-import-0")
      val ok2 = merge(b, upd)
      val docs = newDocs(upd, b)
      val ns = ctx.call("operators", "NearDupIndex.build") {
        NearDupIndex.build(spark, ndx, docs, nShards = 4, storeParts = 4)
      }
      ctx.call("operators", "Search.buildIndex") {
        Search.buildIndex(docs, table, Buckets)
      }
      (ok1 && ok2, ns)
    }

    /** One delta cycle, CSV on disk to visible in every index. */
    def cycle(b: Gen#Batch, k: Int): Boolean = {
      val (upd, ok1) = importBatch(b, s"$store-import-$k")
      val ok2 = merge(b, upd)
      val docs = newDocs(upd, b)
      ctx.call("operators", "NearDupIndex.maintain") {
        NearDupIndex.maintain(spark, ndx, docs)
      }
      ctx.call("operators", "Search.maintainIndex") {
        Search.maintainIndex(spark, table, docs, s"batch-$k")
      }
      ok1 && ok2
    }
  }

  def run(ctx: Ctx): Seq[(String, Double, String)] = {
    val spark = ctx.spark
    val csvDir = ctx.mkdir("probe/csv")
    val gen = new Gen(ctx.seed)
    val base = gen.batch(s"$csvDir/base.csv", BaseDocs, 1, delta = false)
    val deltaRows = math.max(10, (BaseDocs * DeltaShare).toInt)
    ctx.say(s"[input] probe base docs=$BaseDocs csv_bytes=${Files.size(Paths.get(base.csv))} " +
      s"delta rows=$deltaRows (${DeltaShare * 100}% of the store: 60% inserts, " +
      s"30% updates, 10% tombstones) corrupt share=0.01 near-dup share=0.05")

    val st = new Store(ctx, ctx.mkdir("probe/store"))
    var pairs = Double.NaN
    ctx.op("ingest", "build", traced = true) {
      val (ok, ns) = st.build(base); pairs = ns.verifiedPairs.toDouble; ok
    }
    val deltas = (1 to Cycles).map { k =>
      val b = gen.batch(s"$csvDir/delta-$k.csv", deltaRows, k + 1L, delta = true)
      ctx.op("ingest", s"cycle$k", traced = true) { st.cycle(b, k) }
      b
    }
    // the incrementally kept indexes equal one-shot builds over every
    // doc ever added; a mismatch fails the last cycle
    val union = spark.createDataFrame(gen.added.toSeq).toDF("doc_id", "text")
    val fresh = new Store(ctx, ctx.mkdir("probe/oneshot"))
    NearDupIndex.build(spark, fresh.ndx, union, nShards = 4, storeParts = 4)
    Search.buildIndex(union, fresh.table, Buckets)
    val la = NearDupIndex.labels(spark, st.ndx)
    val lb = NearDupIndex.labels(spark, fresh.ndx)
    val pa = spark.table(st.table).select("doc_id", "pos", "t")
    val pb = spark.table(fresh.table).select("doc_id", "pos", "t")
    val live = spark.read.parquet(st.store)
    val same = Seq(
      ctx.check("near-dup labels equal a one-shot build",
        la.exceptAll(lb).isEmpty && lb.exceptAll(la).isEmpty && !la.isEmpty,
        s"maintained=${la.count()} one-shot=${lb.count()}"),
      ctx.check("search postings equal a one-shot build",
        pa.exceptAll(pb).isEmpty && pb.exceptAll(pa).isEmpty,
        s"maintained=${pa.count()} one-shot=${pb.count()}"),
      ctx.check("snapshot holds the live set", live.count() == gen.live.size,
        s"rows=${live.count()} expected ${gen.live.size}"))
    if (same.contains(false)) ctx.failLast()

    /** Median seconds of [[Repeats]] traced ops, each one call into `layer`. */
    def repeat(layer: String, name: String)(body: => Boolean): Double =
      Stats.median((1 to Repeats).map { _ =>
        ctx.op(layer, name, traced = true)(ctx.call(layer, name)(body))
        ctx.ops.last.seconds
      })
    val rnd = new java.util.Random(ctx.seed ^ 0x5eedL)
    val ids = gen.added.toIndexedSeq
    def terms(): (Long, Seq[String]) = {
      val (id, text) = ids(rnd.nextInt(ids.size))
      val toks = text.split(" ")
      val j = rnd.nextInt(toks.length - 1)
      (id, Seq(toks(j), toks(j + 1)))
    }
    val phraseS = repeat("operators", "Search.phraseIndexed") {
      val (id, ts) = terms()
      Search.phraseIndexed(spark, st.table, ts).collect().exists(_.getLong(0) == id)
    }
    val rankedS = repeat("operators", "Search.rankedIndexed") {
      Search.rankedIndexed(spark, st.table, terms()._2, ids.size, 1000000L, 10)
        .collect().nonEmpty
    }
    // retried import writes, from the audit log's error history (none
    // is written while no write fails)
    var retries = 0L
    ctx.op("util", "AuditLog.history", traced = true) {
      retries = ctx.call("util", "AuditLog.history") {
        scala.util.Try(st.audit.history(spark, "error")
          .filter(col("action") === "import-write").count()).getOrElse(0L)
      }
      true
    }
    var badRows = -1L
    val csvS = repeat("sources", "CsvSource.read") {
      val loaded = CsvSource.read(spark, deltas.head.csv, Schema)
      badRows = loaded.report.badRows
      loaded.release()
      badRows == deltas.head.bad
    }
    val crawlDir = ctx.crawlDir.getOrElse {
      val dir = ctx.dir("probe/crawl")
      ctx.payloads = Some(CrawlGen.write(dir, ctx.seed, CrawlPrep.Records,
        CrawlPrep.Files_).payloads)
      dir
    }
    val warcS = repeat("sources", "WarcSource.records") {
      WarcSource.records(spark, crawlDir).write.format("noop").mode("overwrite").save()
      true
    }
    val minhashS = repeat("functions", "TextExprs.minhashShingleSig") {
      union.select(TextExprs.minhashShingleSig(TextOps.tokens(col("text")), 5, 128))
        .write.format("noop").mode("overwrite").save()
      true
    }

    def spanS(name: String, op: String): Double = {
      val roots = ctx.ops.filter(o => o.kind == "ingest" && o.name.startsWith(op))
        .flatMap(_.span)
      Stats.median(ctx.tracer.spans.toSeq.filter(s => s.name == name &&
        roots.exists(r => s.startNs >= r.startNs && s.endNs <= r.endNs))
        .map(_.durNs / 1e9))
    }
    Seq(
      ("sources.warc.records_s", warcS, "s"),
      ("sources.csv.read_s", csvS, "s"),
      ("sources.csv.bad_rows", badRows.toDouble, "count"),
      ("pipeline.import.submit_s", spanS("Importer.importCsv", "cycle"), "s"),
      ("pipeline.import.await_s", spanS("Importer.await", "cycle"), "s"),
      ("pipeline.import.retries", retries.toDouble, "count"),
      ("pipeline.merge.upsert_s", spanS("Merge.upsert", "cycle"), "s"),
      ("operators.neardup_index.build_s", spanS("NearDupIndex.build", "build"), "s"),
      ("operators.neardup_index.maintain_s", spanS("NearDupIndex.maintain", "cycle"), "s"),
      ("operators.neardup_index.verified_pairs", pairs, "count"),
      ("operators.search.build_s", spanS("Search.buildIndex", "build"), "s"),
      ("operators.search.maintain_s", spanS("Search.maintainIndex", "cycle"), "s"),
      ("operators.search.probe_s", Stats.median(Seq(phraseS, rankedS)), "s"),
      ("functions.minhash_sig_s", minhashS, "s"))
  }
}

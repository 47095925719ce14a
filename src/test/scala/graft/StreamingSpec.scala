package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.streaming.Streams
import graft.streaming.Streams.{Ev, SessionOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {

  // offset off epoch zero: a row whose event time equals the initial
  // watermark (0) is dropped as late, which is not what we're testing
  private val Base = 86400000L
  private def ts(min: Long): Timestamp = new Timestamp(Base + min * 60000L)

  private final class InjectedCrash extends RuntimeException("injected crash")

  /** Run one ledgered apply that crashes at the primitive's seam
    * between the apply and the ledger record ([[Streams.beforeRecord]]).
    */
  private def crashBeforeRecord(apply: => Boolean): Unit = {
    val prev = Streams.beforeRecord
    Streams.beforeRecord = (_, _) => throw new InjectedCrash
    try { intercept[InjectedCrash](apply); () }
    finally Streams.beforeRecord = prev
  }

  test("parquetStream + windowedCounts matches the batch windowed aggregation") {
    val dir = Files.createTempDirectory("graft-stream-in").toString
    val events = Tables(spark, sf).events
    events.write.mode("overwrite").parquet(dir)
    val stream = Streams.parquetStream(spark, dir, events.schema)
    assert(stream.isStreaming)
    val q = Streams.windowedCounts(stream)
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    // append mode only emits watermark-closed windows; all but the final
    // window close because the watermark advances past them.
    val got = spark.table("win_counts")
    val batch = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))
    val joined = got.alias("s").join(batch.alias("b"),
      Seq("window_start", "event_type"))
    // every emitted streaming row must exactly match its batch mirror
    assert(joined.count() == got.count())
    assert(joined.filter(col("s.n_events") =!= col("b.n_events")).count() == 0)
    assert(got.count() > 0)
  }

  test("dedupExact: same normalized text within the watermark emits once") {
    implicit val s = spark
    import s.implicits._
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val q = Streams.dedupExact(docs)
      .writeStream.format("memory").queryName("dedup_docs")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts(0), "hello   world"),
        (2L, ts(1), "Hello WORLD"),     // same after normalization
        (3L, ts(2), "something else"),
        (4L, ts(3), "hello world"))     // dup again
      q.processAllAvailable()
      input.addData((5L, ts(10), "a fresh document"))
      q.processAllAvailable()
      val out = spark.table("dedup_docs").select("doc_id")
        .as[Long].collect().sorted
      assert(out.length == 3, s"expected 3 unique docs, got ${out.toSeq}")
      // doc 1 kept (first), 2 and 4 deduped, 3 and 5 kept
      assert(out.contains(1L) && out.contains(3L) && out.contains(5L))
    } finally q.stop()
  }

  test("sessionize: late in-envelope event extends a session backward; far-past event becomes its own session") {
    implicit val s = spark
    import s.implicits._
    val input = MemoryStream[Ev](spark)
    val q = Streams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    try {
      input.addData(Ev(7, ts(100), 1.0), Ev(8, ts(200), 1.0))
      q.processAllAvailable()
      // watermark after batch 1 = 200min - 2h = 80min, so both stay
      // above it: 95 is inside user 7's envelope (gap 30) and merges
      // backward; 100 is before user 8's envelope (200-30=170) and
      // becomes its own closed session
      input.addData(Ev(7, ts(95), 2.0), Ev(8, ts(100), 4.0))
      q.processAllAvailable()
      // advance watermark far ahead so open sessions time out
      input.addData(Ev(99, ts(2000), 0.0))
      q.processAllAvailable()
      input.addData(Ev(98, ts(4000), 0.0))
      q.processAllAvailable()
      val out = spark.table("late_sessions").as[SessionOut].collect()
      val u7 = out.filter(_.user_id == 7)
      assert(u7.length == 1 && u7(0).session_start == ts(95) &&
        u7(0).session_end == ts(100) && u7(0).n_events == 2,
        s"u7 sessions: ${u7.toSeq}")
      val u8 = out.filter(_.user_id == 8).sortBy(_.session_start.getTime)
      assert(u8.length == 2, s"u8 sessions: ${u8.toSeq}")
      assert(u8(0).session_start == ts(100) && u8(0).n_events == 1)
      assert(u8(1).session_start == ts(200) && u8(1).n_events == 1)
    } finally q.stop()
  }

  test("sessionize: consecutive late events within gap merge into ONE past session, as batch q22 would") {
    implicit val s = spark
    import s.implicits._
    val input = MemoryStream[Ev](spark)
    val q = Streams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("late_merge_sessions")
      .outputMode("append").start()
    try {
      input.addData(Ev(9, ts(300), 1.0))
      q.processAllAvailable()
      // two late events at 200 and 210 (above the watermark 300-120 =
      // 180, within gap 30 of each other, both > gap before the active
      // session's envelope 300-30=270): batch q22 over {200, 210, 300}
      // yields sessions {200,210} and {300} — the late pair must close
      // as ONE two-event session, not two singletons
      input.addData(Ev(9, ts(200), 2.0), Ev(9, ts(210), 4.0))
      q.processAllAvailable()
      input.addData(Ev(99, ts(2000), 0.0))
      q.processAllAvailable()
      input.addData(Ev(98, ts(4000), 0.0))
      q.processAllAvailable()
      val u9 = spark.table("late_merge_sessions").as[SessionOut].collect()
        .filter(_.user_id == 9).sortBy(_.session_start.getTime)
      assert(u9.length == 2, s"u9 sessions: ${u9.toSeq}")
      assert(u9(0).session_start == ts(200) && u9(0).session_end == ts(210) &&
        u9(0).n_events == 2 && u9(0).total_value == 6.0,
        s"late pair not merged: ${u9.toSeq}")
      assert(u9(1).session_start == ts(300) && u9(1).n_events == 1)
    } finally q.stop()
  }

  test("nearDupDetections: hamming<=3 pairs detected across batches, distant pairs not") {
    implicit val s = spark
    import s.implicits._
    val input = MemoryStream[(Long, Timestamp, Long)](spark)
    val q = Streams.nearDupDetections(input.toDS())
      .writeStream.format("memory").queryName("near_dups")
      .outputMode("append").start()
    try {
      val base = 0x0123456789abcdefL
      // hamming 3 from base
      input.addData((1L, ts(1), base), (2L, ts(2), base ^ 0x7L))
      q.processAllAvailable()
      // cross-batch: doc 3 is hamming 1 from base; doc 4 is far away
      input.addData((3L, ts(3), base ^ 0x10L), (4L, ts(4), ~base))
      q.processAllAvailable()
      val out = spark.table("near_dups")
        .select("doc_a", "doc_b", "hamming").distinct()
        .as[(Long, Long, Int)].collect().toSet
      assert(out.contains((1L, 2L, 3)), s"missed same-batch pair: $out")
      assert(out.contains((1L, 3L, 1)), s"missed cross-batch pair: $out")
      assert(!out.exists(p => p._1 == 4L || p._2 == 4L),
        s"false positive with distant doc: $out")
      // hamming(2,3): base^7 vs base^0x10 = 4 bits -> must NOT be reported
      assert(!out.contains((2L, 3L, 4)), s"pair beyond threshold reported: $out")
    } finally q.stop()
  }

  test("nearDupDetections: event-time TTL evicts a cold bucket; arrivals re-arm it; long TTL retains") {
    implicit val s = spark
    import s.implicits._
    val base = 0x0123456789abcdefL
    // doc 1 at t=1min, then silence in its buckets past the TTL while
    // distant docs advance the watermark, then a near-copy:
    //  - short TTL: doc 1's bucket state evicted -> pair NOT detected
    //  - long TTL: state retained -> pair detected
    // re-arm: a doc whose bucket keeps receiving arrivals within the
    // TTL still matches across a span LONGER than the TTL.
    def run(name: String, ttlMs: Long): Set[(Long, Long)] = {
      val input = MemoryStream[(Long, Timestamp, Long)](spark)
      val q = Streams.nearDupDetections(input.toDS(),
          watermark = "1 minute", stateTtlMs = Some(ttlMs))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData((1L, ts(1), base))
        q.processAllAvailable()
        // re-arm fixture: doc 20 then doc 21 (same buckets, each
        // within TTL of the previous) bracketing a span > TTL
        input.addData((20L, ts(2), ~base))
        q.processAllAvailable()
        // advance the watermark past doc 1's TTL (wm = 14 - 1 = 13min
        // > 1min + 10min) and re-arm doc 20's bucket (ts(8) is within
        // 10min of ts(2))
        input.addData((90L, ts(14), 0x5555555555555555L),
          (21L, ts(8), ~base ^ 0x1L))
        q.processAllAvailable()
        // a batch with no data in doc 1's bucket lets its timeout fire
        input.addData((91L, ts(15), 0x5555aaaa5555aaaaL))
        q.processAllAvailable()
        // near-copy of doc 1 (hamming 1) after the TTL window
        input.addData((2L, ts(16), base ^ 0x1L))
        q.processAllAvailable()
        // doc 22 matches doc 21 across a total span (2 -> 16 min) far
        // beyond the 10-min TTL, because every arrival re-armed
        input.addData((22L, ts(16), ~base ^ 0x3L))
        q.processAllAvailable()
        spark.table(name).select("doc_a", "doc_b").distinct()
          .as[(Long, Long)].collect().toSet
      } finally q.stop()
    }
    val short = run("ndd_ttl_short", ttlMs = 10 * 60000L)
    assert(!short.contains((1L, 2L)),
      s"evicted bucket must forget doc 1: $short")
    assert(short.contains((20L, 21L)), s"re-armed bucket lost doc 20: $short")
    assert(short.contains((21L, 22L)) && short.contains((20L, 22L)),
      s"chain across re-armed TTL windows broken: $short")
    val long = run("ndd_ttl_long", ttlMs = 10L * 3600 * 1000)
    assert(long.contains((1L, 2L)),
      s"long TTL must retain doc 1's bucket: $long")
  }

  test("nearDupFilter: one finalized verdict per doc; dups flagged, originals and distant docs clean") { withLateRowCheckOff {
    implicit val s = spark
    import s.implicits._
    val input = MemoryStream[Streams.DocIn](spark)
    val q = Streams.nearDupFilter(input.toDS(), windowLen = "10 minutes")
      .writeStream.format("memory").queryName("dup_verdicts")
      .outputMode("append").start()
    try {
      val base = 0x0123456789abcdefL
      // doc 1 original; doc 2 near-dup (hamming 3); doc 4 distant —
      // all in one 10-min window
      input.addData(
        Streams.DocIn(1, ts(10), base),
        Streams.DocIn(2, ts(11), base ^ 0x7L),
        Streams.DocIn(4, ts(12), ~base))
      q.processAllAvailable()
      // doc 3 arrives in a LATER window, hamming 1 from base: flagged
      // against stage-1 bucket state that persists across windows
      input.addData(Streams.DocIn(3, ts(500), base ^ 0x10L))
      q.processAllAvailable()
      // push the watermark far ahead so every window finalizes
      input.addData(Streams.DocIn(99, ts(5000), 0L))
      q.processAllAvailable()
      val out = spark.table("dup_verdicts")
        .as[(Long, Boolean)].collect().toMap
      assert(out.keySet == Set(1L, 2L, 3L, 4L), s"verdicts: $out")
      assert(!out(1L), "original flagged as dup")
      assert(out(2L), "same-window near-dup not flagged")
      assert(out(3L), "cross-window near-dup not flagged")
      assert(!out(4L), "distant doc flagged")
    } finally q.stop()
  } }

  test("minhashNearDupFilter: streaming keep set equals batch NearDup.dropIds when arrivals are in id order") { withLateRowCheckOff {
    implicit val s = spark
    import s.implicits._
    import graft.functions.{TextOps => T}
    import graft.functions.expressions.{TextExprs => TE}
    import graft.operators.{NearDup => ND}
    // hand corpus: distinct paragraphs + near-copies at HIGHER ids, so
    // batch keep-lowest and streaming first-seen (fed in id order)
    // must agree; copies differ by one token (sig agreement ~0.9)
    val originals = (1L to 10L).map(i =>
      i -> (s"paragraph $i about topic$i with shared words alpha beta " +
        s"gamma delta token$i epsilon zeta eta theta iota kappa lambda$i"))
    val copies = Seq(
      11L -> (originals(0)._2 + " tail"),
      12L -> (originals(1)._2 + " extra"),
      13L -> "entirely different content on another unrelated subject matter here")
    val rows = originals ++ copies
    val df = rows.toDF("doc_id", "text")
    val minEst = 0.7
    val batchDrops = graft.operators.NearDup.dropIds(df, minEst)
      .as[Long].collect().toSet
    assert(batchDrops.nonEmpty, "fixture drifted: batch found no near-dups")
    // same signatures as batch (the one kernel), fed in id order
    val sigRows = df.select(col("doc_id"),
        TE.minhashShingleSig(T.tokens(T.normText(col("text"))), 3, ND.K).as("sig"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toArray))
    val input = MemoryStream[Streams.MinDocIn](spark)
    val q = Streams.minhashNearDupFilter(input.toDS(), minEst,
        windowLen = "10 minutes")
      .writeStream.format("memory").queryName("mh_verdicts")
      .outputMode("append").start()
    try {
      // two batches (state must carry across), then a far-future flush
      // so every window finalizes
      val docs = sigRows.zipWithIndex.map { case ((id, sig), i) =>
        Streams.MinDocIn(id, ts(10 + i), sig) }
      input.addData(docs.take(7): _*)
      q.processAllAvailable()
      input.addData(docs.drop(7): _*)
      q.processAllAvailable()
      input.addData(Streams.MinDocIn(999L, ts(5000), Array.fill(ND.K)(0)))
      q.processAllAvailable()
      val verdicts = spark.table("mh_verdicts")
        .as[(Long, Boolean)].collect().toMap - 999L
      assert(verdicts.keySet == rows.map(_._1).toSet, s"verdicts: $verdicts")
      val streamingDrops = verdicts.filter(_._2).keySet
      assert(streamingDrops == batchDrops,
        s"streaming $streamingDrops != batch $batchDrops")
      assert(!verdicts(13L), "distinct doc flagged")
    } finally q.stop()
  } }

  test("minhashNearDupFilter: a bucket past cap stops flagging (batch overfull-skip mirror)") { withLateRowCheckOff {
    implicit val s = spark
    import s.implicits._
    import graft.operators.{NearDup => ND}
    // identical signatures -> all 16 band buckets fill in lockstep.
    // cap=2: doc 1 (total 1) clean, doc 2 (total 2, vs doc 1) flagged,
    // docs 3/4 overflow every bucket -> auto-keep despite being exact
    // signature dups — exactly batch scoredCandidates dropping a
    // > cap bucket
    val sig = Array.tabulate(ND.K)(i => i * 7 + 1)
    val input = MemoryStream[Streams.MinDocIn](spark)
    val q = Streams.minhashNearDupFilter(input.toDS(), minEst = 0.7,
        cap = 2, windowLen = "10 minutes")
      .writeStream.format("memory").queryName("mh_overfull")
      .outputMode("append").start()
    try {
      input.addData(
        Streams.MinDocIn(1, ts(1), sig),
        Streams.MinDocIn(2, ts(2), sig),
        Streams.MinDocIn(3, ts(3), sig))
      q.processAllAvailable()
      // cross-batch: the lifetime count stays overfull
      input.addData(Streams.MinDocIn(4, ts(4), sig))
      q.processAllAvailable()
      input.addData(Streams.MinDocIn(99, ts(5000), Array.fill(ND.K)(0)))
      q.processAllAvailable()
      val out = spark.table("mh_overfull")
        .as[(Long, Boolean)].collect().toMap - 99L
      assert(out.keySet == Set(1L, 2L, 3L, 4L), s"verdicts: $out")
      assert(!out(1L), "first doc flagged")
      assert(out(2L), "in-cap dup not flagged")
      assert(!out(3L), s"overfull bucket still flagging (same batch): $out")
      assert(!out(4L), s"overfull bucket still flagging (cross batch): $out")
    } finally q.stop()
  } }

  test("corpusPrep: the in-feed near-dup stage reproduces batch nearDupMinEst's keep set (incl. null-sig bypass)") { withLateRowCheckOff {
    implicit val s = spark
    import s.implicits._
    // the minhash parity fixture: originals + near-copies at HIGHER
    // ids (batch keep-lowest == streaming first-seen in id order),
    // plus a null-text doc — null signature in BOTH engines: batch
    // can never candidate it, streaming must bypass the bucket state
    // and still emit the row
    val originals = (1L to 10L).map(i =>
      (i, s"paragraph $i about topic$i with shared words alpha beta " +
        s"gamma delta token$i epsilon zeta eta theta iota kappa lambda$i",
        "srcA"))
    val rows = originals ++ Seq(
      (11L, originals(0)._2 + " tail", "srcA"),
      (12L, originals(1)._2 + " extra", "srcB"),
      (13L, "entirely different content on another unrelated subject here",
        "srcB"),
      (14L, null: String, "srcA"))
    val df = rows.toDF("doc_id", "text", "source")
    val minEst = 0.7
    val cfg = graft.pipeline.CorpusPrep.Config(
      langRates = Map.empty, defaultRate = 1.0, nShards = 4,
      nearDupMinEst = Some(minEst))
    // a benchmark overlapping doc 5's text: decontamination must
    // compose WITH the near stage (both drop sets removed — the
    // review-caught bug fed the pre-near frame into decontaminate,
    // resurrecting every near-dup whenever a benchmark was supplied)
    val bench = df.filter(col("doc_id") === 5L).select(col("doc_id"), col("text"))
    // batch mirror: texts are pairwise distinct so exact dedup is a
    // no-op; the near stage is NearDup.dropIds keep-lowest, then the
    // contaminated doc is removed too (batch planWith: base − drops −
    // contaminated)
    val batchDrops = graft.operators.NearDup.dropIds(df, minEst)
      .as[Long].collect().toSet
    assert(batchDrops.nonEmpty, "fixture drifted: batch found no near-dups")
    val wantKept = rows.map(_._1).toSet -- batchDrops - 5L
    assert(wantKept.contains(14L), "null-text doc must survive in batch")
    val input = MemoryStream[(Long, java.sql.Timestamp, String, String)](spark)
    val out = Streams.corpusPrep(
      input.toDF().toDF("doc_id", "ts", "text", "source"), cfg,
      benchmark = Some(bench))
    val q = out.writeStream.format("memory").queryName("prep_neardup")
      .outputMode("append").start()
    try {
      val feed = rows.sortBy(_._1).map { case (id, t, src) =>
        (id, new java.sql.Timestamp(1700000000000L + id * 1000), t, src) }
      input.addData(feed.take(7): _*)
      q.processAllAvailable()
      input.addData(feed.drop(7): _*)
      q.processAllAvailable()
      // far-future row to finalize every verdict window
      input.addData((999L,
        new java.sql.Timestamp(1700000000000L + 10L * 3600 * 1000),
        "watermark flush row completely unrelated text", "srcA"))
      q.processAllAvailable()
      val got = spark.table("prep_neardup").select("doc_id")
        .as[Long].collect().toSet - 999L
      assert(got == wantKept, s"streaming kept $got != batch kept $wantKept")
    } finally q.stop()
  } }

  test("corpusPrep dedupByUrl: the streaming url gate reproduces batch survivors in id order and chains with the text dedup stage") {
    implicit val s = spark
    import s.implicits._
    // the q146 fixture shape: three fetches of one canonical URL
    // (distinct texts — only the url stage can collapse them), a
    // different real param, garbage URLs that must stay singletons,
    // and a text-dup under a different URL that only the TEXT stage
    // may collapse — both stateful gates chain in one query
    val rows = Seq(
      (1L, "first fetch of the page", "https://site.example/p?a=1"),
      (2L, "second fetch slightly edited",
        "https://WWW.site.example:443/p?utm_src=x&a=1"),
      (3L, "third fetch edited again",
        "https://site.example/p?a=1&utm_c=y"),
      (4L, "a genuinely different page", "https://site.example/p?a=2"),
      (5L, "doc with a garbage url", "not a url"),
      (6L, "another doc with a garbage url", "also not a url"),
      (7L, "a genuinely different page", "https://other.example/q"))
    val cfg = graft.pipeline.CorpusPrep.Config(
      langRates = Map.empty, defaultRate = 1.0, nShards = 2,
      dedupByUrl = true)
    // batch mirror on the same frame (keep-lowest == keep-first-seen
    // because arrivals are in id order)
    val batchKept = graft.pipeline.CorpusPrep.plan(
      rows.map { case (id, t, u) => (id, t, u, "a") }
        .toDF("doc_id", "text", "url", "source"), cfg)
      .select("doc_id").as[Long].collect().toSet
    assert(batchKept == Set(1L, 4L, 5L, 6L), s"batch drifted: $batchKept")
    val input = MemoryStream[(Long, java.sql.Timestamp, String, String, String)](spark)
    val out = Streams.corpusPrep(
      input.toDF().toDF("doc_id", "ts", "text", "url", "source"), cfg)
    val q = out.writeStream.format("memory").queryName("prep_urldedup")
      .outputMode("append").start()
    try {
      // one micro-batch per row: WITHIN a batch "first seen" is
      // partition-order arbitrary, so id order must be realized by
      // arrival order for the keep-first == keep-lowest equivalence
      rows.foreach { case (id, t, u) =>
        input.addData(
          (id, new java.sql.Timestamp(1700000000000L + id * 1000), t, u, "a"))
        q.processAllAvailable()
      }
      val got = spark.table("prep_urldedup").select("doc_id")
        .as[Long].collect().toSet
      assert(got == batchKept, s"streaming kept $got != batch $batchKept")
    } finally q.stop()
  }

  test("ivfAppendSink: streamed embeddings land exactly-once; interrupted appends self-heal on replay; foreign markers refuse") {
    implicit val s = spark
    import s.implicits._
    import graft.operators.IvfIndex
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val nAll = emb.count()
    val p = java.nio.file.Files.createTempDirectory("graft-ivfsink").toString + "/idx"
    IvfIndex.build(spark, emb.filter(col("vec_id") < 300), p,
      k = 8, initRounds = 1, lloydIters = 1)
    val tailRows = emb.filter(col("vec_id") >= 300)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val input = MemoryStream[(Long, Array[Float])](spark)
    val q = Streams.ivfAppendSink(
      input.toDF().toDF("vec_id", "embedding"), p).start()
    try {
      input.addData(tailRows.take(tailRows.length / 2): _*)
      q.processAllAvailable()
      input.addData(tailRows.drop(tailRows.length / 2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val idx = spark.read.parquet(s"$p/index")
    assert(idx.count() == nAll, "streamed vectors missing or duplicated")
    assert(idx.select("vec_id").distinct().count() == nAll)
    // queries reach the streamed vectors like batch-appended ones
    assert(IvfIndex.query(spark, p, emb.filter(col("vec_id") < 3),
      nprobe = 8, topk = 10).count() == 30)
    // ledger refusal: the stream's batch 0 re-delivered -> no job, no change
    val replay = tailRows.take(3).toSeq.toDF("vec_id", "embedding")
    assert(!Streams.applyIvfAppendBatch(replay, 0L, p),
      "re-delivered batch must be refused")
    assert(spark.read.parquet(s"$p/index").count() == nAll)
    // interrupted append: the crashed attempt wrote its rows and its
    // PENDING marker but no ledger entry — the replay must re-append,
    // heal the duplicates and ledger the batch
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pending = new org.apache.hadoop.fs.Path(p + "._pending_batch")
    val crashRows = emb.limit(2)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val o = fs.create(pending, true)
    try o.write("7".getBytes("UTF-8")) finally o.close()
    IvfIndex.append(spark, p, crashRows) // the crashed attempt's rows
    assert(Streams.applyIvfAppendBatch(crashRows, 7L, p),
      "replay of the interrupted batch must apply")
    spark.catalog.refreshByPath(p)
    val healed = spark.read.parquet(s"$p/index")
    assert(healed.count() == nAll + 2,
      s"self-heal left duplicates: ${healed.count()} rows for ${nAll + 2} vectors")
    assert(!fs.exists(pending), "marker must clear after a healed apply")
    // a DIFFERENT unledgered interrupted batch is not ours to guess at
    val o2 = fs.create(pending, true)
    try o2.write("99".getBytes("UTF-8")) finally o2.close()
    val e = intercept[IllegalStateException] {
      Streams.applyIvfAppendBatch(
        emb.limit(1).select((col("vec_id") + 20000L).as("vec_id"),
          col("embedding")), 42L, p)
    }
    assert(e.getMessage.contains("dedupeVectors"), e.getMessage)
    fs.delete(pending, false)
    // an EMPTY marker (crash between fs.create and the id write) means
    // the append never started: the next apply overwrites it and
    // proceeds instead of wedging on a bare NumberFormatException
    fs.create(pending, true).close()
    val afterEmpty = Streams.applyIvfAppendBatch(
      emb.limit(1).select((col("vec_id") + 30000L).as("vec_id"),
        col("embedding")), 43L, p)
    assert(afterEmpty, "empty marker must not block the next batch")
    assert(!fs.exists(pending))
    // the lock is held for the whole apply cycle and released after
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p + "._graft_lock")))
    // a REAL crash between the append and the ledger record: the
    // replay of the SAME batch id finds its own marker, re-appends,
    // heals, and lands the batch exactly once
    spark.catalog.refreshByPath(p)
    val nBefore = spark.read.parquet(s"$p/index").count()
    val next = emb.limit(2)
      .select((col("vec_id") + 40000L).as("vec_id"), col("embedding"))
    crashBeforeRecord(Streams.applyIvfAppendBatch(next, 44L, p))
    assert(fs.exists(pending), "the crash must leave the pending marker")
    assert(Streams.applyIvfAppendBatch(next, 44L, p),
      "the crashed batch's replay must apply")
    spark.catalog.refreshByPath(p)
    val once = spark.read.parquet(s"$p/index")
    assert(once.count() == nBefore + 2 &&
      once.select("vec_id").distinct().count() == nBefore + 2,
      s"crashed batch landed ${once.count() - nBefore} rows, want 2")
    assert(!fs.exists(pending))
    assert(!Streams.applyIvfAppendBatch(next, 44L, p))
    // a REBUILD resets the ledger and clears a stale marker: a fresh
    // stream restarting batchIds at 0 must not be refused
    val o3 = fs.create(pending, true)
    try o3.write("77".getBytes("UTF-8")) finally o3.close()
    IvfIndex.build(spark, emb.filter(col("vec_id") < 300), p,
      k = 8, initRounds = 1, lloydIters = 1)
    assert(!fs.exists(pending),
      "a rebuild must clear the replaced index's pending marker")
    assert(Streams.applyIvfAppendBatch(next, 0L, p),
      "a rebuilt index must not refuse batch 0 from a stale ledger")
  }

  test("searchIndexSink: streamed docs fold into the postings index exactly-once; interrupted appends self-heal; ledgered markers clear") {
    implicit val s = spark
    import s.implicits._
    import graft.operators.Search
    val all = Seq(
      1L -> "x batch stream y batch stream merge",
      2L -> "batch batch stream",
      3L -> "stream batch merge join",
      4L -> "batch stream extra merge join batch",
      5L -> "merge join batch nothing else",
      6L -> "batch stream closing").toDF("doc_id", "text")
    val table = "graft_streamspec_search"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    def phraseMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    try {
      Search.buildIndex(all.filter("doc_id <= 2"), table, 8,
        corpusVersion = Some("boot"))
      val rows = all.filter("doc_id >= 3").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val input = MemoryStream[(Long, String)](spark)
      val q = Streams.searchIndexSink(input.toDF().toDF("doc_id", "text"),
        table, versionFor = id => Some(s"b$id")).start()
      try {
        input.addData(rows.take(2): _*); q.processAllAvailable()
        input.addData(rows.drop(2): _*); q.processAllAvailable()
      } finally q.stop()
      // streamed == one-shot, served under the last stamped version
      assert(Search.indexVersion(spark, table).contains("b1"))
      val want = phraseMap(Search.phrase(all, Seq("batch", "stream")))
      val got = phraseMap(Search.phraseIndexed(spark, table,
        Seq("batch", "stream"), expectCorpusVersion = Some("b1")))
      assert(got == want, s"streamed index $got != one-shot $want")
      // ledger refusal: a re-delivered batch runs no job, changes nothing
      val before = spark.table(table).count()
      assert(!Streams.applySearchIndexBatch(
        all.filter("doc_id = 3"), 0L, table), "re-delivered batch must refuse")
      assert(spark.table(table).count() == before)
      // interrupted append: the crashed attempt wrote its marker and
      // PART of its postings but no ledger entry — the replay of the
      // SAME batch re-appends, heals the duplicates, ledgers
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")),
        table.toLowerCase(java.util.Locale.ROOT)).toString
      val fs = new org.apache.hadoop.fs.Path(loc)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pending = new org.apache.hadoop.fs.Path(s"${loc}._graft_pending")
      val batch7 = Seq(7L -> "batch stream seven", 8L -> "merge join eight")
        .toDF("doc_id", "text")
      val o = fs.create(pending, true)
      try o.write("stream-7".getBytes("UTF-8")) finally o.close()
      graft.sources.Bucketed.write(
        Search.postingsFrame(batch7.filter("doc_id = 7"), Nil,
          col("doc_id"), col("text")),
        table, "t", 8, mode = org.apache.spark.sql.SaveMode.Append)
      assert(Streams.applySearchIndexBatch(batch7, 7L, table),
        "replay of the interrupted batch must apply")
      assert(!fs.exists(pending), "marker must clear after ledgered apply")
      val allPlus = all.unionByName(batch7)
      val want2 = phraseMap(Search.phrase(allPlus, Seq("batch", "stream")))
      val got2 = phraseMap(Search.phraseIndexed(spark, table, Seq("batch", "stream")))
      assert(got2 == want2, s"healed index $got2 != one-shot $want2")
      assert(spark.table(table).groupBy("doc_id", "pos", "t").count()
        .filter("count > 1").count() == 0L, "duplicate postings survived the heal")
      // completed-append-lost-marker-clear: a marker whose id IS
      // ledgered clears with no healing and the next batch applies
      val o2 = fs.create(pending, true)
      try o2.write("stream-7".getBytes("UTF-8")) finally o2.close()
      val nBefore = spark.table(table).count()
      assert(Streams.applySearchIndexBatch(
        Seq(9L -> "closing batch stream nine").toDF("doc_id", "text"),
        9L, table))
      assert(!fs.exists(pending))
      assert(spark.table(table).filter("doc_id IN (7, 8)").count() ==
        spark.table(table).filter("doc_id IN (7, 8)").distinct().count() &&
        spark.table(table).count() > nBefore,
        "ledgered marker must clear without re-healing batch 7")
      // a foreign (batch-layer) marker is not ours to guess at
      val o3 = fs.create(pending, true)
      try o3.write("manual-load-x".getBytes("UTF-8")) finally o3.close()
      val e = intercept[IllegalStateException] {
        Streams.applySearchIndexBatch(
          Seq(10L -> "ten batch").toDF("doc_id", "text"), 10L, table)
      }
      assert(e.getMessage.contains("manual-load-x") &&
        e.getMessage.contains("compactIndex"), e.getMessage)
      fs.delete(pending, false)
      // a REBUILD clears the stale applied-batch ledger: a fresh
      // stream restarting batchIds at 0 against the old ledger would
      // silently skip its first batches
      Search.buildIndex(all, table, 8)
      assert(Streams.applySearchIndexBatch(
        Seq(20L -> "twenty batch stream").toDF("doc_id", "text"), 0L, table),
        "a rebuilt index must not refuse batch 0 from a stale ledger")
      // a REAL crash between the append and the ledger record: the
      // replay of the SAME batch id finds its kept marker, re-appends,
      // compacts, and converges to the one-shot index
      val doc21 = Seq(21L -> "batch stream twenty one").toDF("doc_id", "text")
      crashBeforeRecord(Streams.applySearchIndexBatch(doc21, 1L, table))
      assert(fs.exists(pending), "the crash must leave the kept marker")
      assert(Streams.applySearchIndexBatch(doc21, 1L, table),
        "the crashed batch's replay must apply")
      assert(!fs.exists(pending))
      val all3 = all.unionByName(doc21).unionByName(
        Seq(20L -> "twenty batch stream").toDF("doc_id", "text"))
      val want3 = phraseMap(Search.phrase(all3, Seq("batch", "stream")))
      val got3 = phraseMap(Search.phraseIndexed(spark, table, Seq("batch", "stream")))
      assert(got3 == want3, s"replayed index $got3 != one-shot $want3")
      assert(spark.table(table).groupBy("doc_id", "pos", "t").count()
        .filter("count > 1").count() == 0L, "the replay left duplicate postings")
      // the location lock releases after every cycle
      assert(!fs.exists(graft.util.PathLock.lockFile(loc)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("minhashNearDupFilter: the overfull census resets each TTL horizon — a hot bucket recovers") { withLateRowCheckOff {
    implicit val s = spark
    import s.implicits._
    import graft.operators.{NearDup => ND}
    // cap=2, census horizon 10 min: docs 1-3 overflow the bucket in
    // window one (doc 3 auto-keeps); doc 4 arrives after the horizon
    // (12 > 1+10) -> census resets, doc 4 re-seeds the shed FIFO
    // (kept); doc 5 right after IS flagged again. A LIFETIME count
    // would leave the bucket overfull forever and doc 5 would slip.
    val sig = Array.tabulate(ND.K)(i => i * 11 + 3)
    val input = MemoryStream[Streams.MinDocIn](spark)
    val q = Streams.minhashNearDupFilter(input.toDS(), minEst = 0.7,
        cap = 2, watermark = "1 minute", windowLen = "10 minutes",
        stateTtlMs = Some(10 * 60000L))
      .writeStream.format("memory").queryName("mh_census")
      .outputMode("append").start()
    try {
      input.addData(
        Streams.MinDocIn(1, ts(1), sig),
        Streams.MinDocIn(2, ts(2), sig),
        Streams.MinDocIn(3, ts(3), sig))
      q.processAllAvailable()
      // next horizon: same bucket, before the cold-eviction timer
      // (armed at 3 + 10 = 13 min) can fire
      input.addData(
        Streams.MinDocIn(4, ts(12), sig),
        Streams.MinDocIn(5, ts(13), sig))
      q.processAllAvailable()
      input.addData(Streams.MinDocIn(99, ts(5000), Array.fill(ND.K)(0)))
      q.processAllAvailable()
      val out = spark.table("mh_census")
        .as[(Long, Boolean)].collect().toMap - 99L
      assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L), s"verdicts: $out")
      assert(!out(1L) && out(2L) && !out(3L), s"window-one verdicts: $out")
      assert(!out(4L), s"post-reset re-seed doc flagged: $out")
      assert(out(5L), s"census did not reset — hot bucket stuck overfull: $out")
    } finally q.stop()
  } }

  /** lineBoilerplateFilter chains an event-time-timeout fmgws into a
    * windowed aggregation; Spark's STATIC late-row checker flags that
    * shape unconditionally (see the operator's scaladoc for why the
    * flagged scenario cannot occur). The conf is read at query START,
    * so scope it to the start call and restore after.
    */
  private def withLateRowCheckOff[T](body: => T): T = {
    val k = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try body finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  test("lineBoilerplateFilter: recurring line dropped outside keeper, uniques pass") { withLateRowCheckOff {
    implicit val s = spark
    import s.implicits._
    val input = MemoryStream[Streams.LineIn](spark)
    val q = Streams.lineBoilerplateFilter(input.toDS(), minDf = 2,
      windowLen = "10 minutes")
      .writeStream.format("memory").queryName("line_verdicts")
      .outputMode("append").start()
    try {
      val banner = 100L
      input.addData(
        // doc 1: banner + two unique lines — first sight, all kept
        Streams.LineIn(1, ts(10), banner),
        Streams.LineIn(1, ts(10), 1L),
        Streams.LineIn(1, ts(10), 2L),
        // doc 2: banner reaches minDf=2 distinct docs -> dropped here
        Streams.LineIn(2, ts(11), banner),
        Streams.LineIn(2, ts(11), 3L),
        // doc 3: banner now established boilerplate -> dropped
        Streams.LineIn(3, ts(12), banner),
        Streams.LineIn(3, ts(12), 4L),
        // the keeper doc repeats its own banner -> kept
        Streams.LineIn(1, ts(13), banner))
      q.processAllAvailable()
      // push the watermark far ahead so the window finalizes
      input.addData(Streams.LineIn(99, ts(5000), 999L))
      q.processAllAvailable()
      val out = spark.table("line_verdicts")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      // doc 99 only advanced the watermark; its own window stays open
      assert(out.keySet == Set(1L, 2L, 3L), s"finalized docs: ${out.keySet}")
      assert(out(1L) == ((4L, 4L)), s"keeper doc: ${out(1L)}")
      assert(out(2L) == ((2L, 1L)), s"doc 2: ${out(2L)}")
      assert(out(3L) == ((2L, 1L)), s"doc 3: ${out(3L)}")
    } finally q.stop()
  } }

  test("lineBoilerplateFilter: event-time TTL evicts one-off line state; long TTL retains it") { withLateRowCheckOff {
    implicit val s = spark
    import s.implicits._
    // Same feed through two TTLs: a line seen once in doc 1, then
    // nothing for > TTL, then again in doc 2.
    //  - short TTL: the entry evicts, doc 2 restarts the count -> KEPT
    //  - long TTL: the entry survives, doc 2 is the minDf-th distinct
    //    doc -> boilerplate, DROPPED outside the keeper
    def run(name: String, ttlMs: Long): Map[Long, (Long, Long)] = {
      val input = MemoryStream[Streams.LineIn](spark)
      val q = Streams.lineBoilerplateFilter(input.toDS(), minDf = 2,
        watermark = "1 minute", windowLen = "10 minutes",
        stateTtlMs = Some(ttlMs))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val x = 42L
        input.addData(Streams.LineIn(1, ts(10), x))
        q.processAllAvailable()
        // advance the watermark past the short TTL...
        input.addData(Streams.LineIn(90, ts(60), 900L))
        q.processAllAvailable()
        // ...and run a batch where key x has NO data so its timeout fires
        input.addData(Streams.LineIn(91, ts(61), 901L))
        q.processAllAvailable()
        input.addData(Streams.LineIn(2, ts(70), x))
        q.processAllAvailable()
        input.addData(Streams.LineIn(99, ts(5000), 999L)) // finalize windows
        q.processAllAvailable()
        spark.table(name).as[(Long, Long, Long)]
          .collect().map(r => r._1 -> (r._2, r._3)).toMap
      } finally q.stop()
    }
    val short = run("line_ttl_short", ttlMs = 10 * 60000L)
    assert(short(1L) == ((1L, 1L)), s"doc 1: ${short.get(1L)}")
    assert(short(2L) == ((1L, 1L)),
      s"evicted entry must restart the count -> doc 2 kept: ${short.get(2L)}")
    val long = run("line_ttl_long", ttlMs = 10L * 3600 * 1000)
    assert(long(2L) == ((1L, 0L)),
      s"retained entry must establish boilerplate -> doc 2 dropped: ${long.get(2L)}")
  } }

  test("lineBoilerplateFilter: TTL + enabled checker fails fast; stateTtlMs=None starts under default conf") {
    implicit val s = spark
    import s.implicits._
    // under the DEFAULT conf (checker on), the TTL form must refuse at
    // construction with guidance, not die cryptically at .start()
    val input = MemoryStream[Streams.LineIn](spark)
    val e = intercept[IllegalArgumentException] {
      Streams.lineBoilerplateFilter(input.toDS(), minDf = 2)
    }
    assert(e.getMessage.contains("checkCorrectness"),
      s"guard must name the conf: ${e.getMessage}")
    // the opt-out path (no TTL -> NoTimeout) starts and runs with the
    // checker untouched — the pre-TTL behavior
    val q = Streams.lineBoilerplateFilter(input.toDS(), minDf = 2,
      stateTtlMs = None)
      .writeStream.format("memory").queryName("line_nottl")
      .outputMode("append").start()
    try {
      input.addData(Streams.LineIn(1, ts(10), 7L))
      q.processAllAvailable()
      input.addData(Streams.LineIn(99, ts(5000), 999L))
      q.processAllAvailable()
      assert(spark.table("line_nottl").collect().nonEmpty)
    } finally q.stop()
  }

  test("sessionize: gap > 30 min splits sessions; state closes on silence") {
    implicit val s = spark
    import s.implicits._
    val input = MemoryStream[Ev](spark)
    val sessions = Streams.sessionize(input.toDS())
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: two bursts separated by 45 min → two sessions
      input.addData(
        Ev(1, ts(0), 1.0), Ev(1, ts(10), 2.0),
        Ev(1, ts(55), 4.0), Ev(1, ts(60), 8.0),
        Ev(2, ts(5), 1.0))
      q.processAllAvailable()
      // advance the watermark far past everything so timeouts fire
      input.addData(Ev(99, ts(600), 0.0))
      q.processAllAvailable()
      input.addData(Ev(98, ts(1200), 0.0))
      q.processAllAvailable()
      val out = spark.table("sessions").as[SessionOut].collect()
        .filter(o => o.user_id == 1 || o.user_id == 2)
        .sortBy(o => (o.user_id, o.session_start.getTime))
      val u1 = out.filter(_.user_id == 1)
      assert(u1.length == 2, s"expected 2 sessions for user 1, got ${u1.toSeq}")
      assert(u1(0).n_events == 2 && u1(0).total_value == 3.0)
      assert(u1(0).session_start == ts(0) && u1(0).session_end == ts(10))
      assert(u1(1).n_events == 2 && u1(1).total_value == 12.0)
      val u2 = out.filter(_.user_id == 2)
      assert(u2.length == 1 && u2(0).n_events == 1)
    } finally q.stop()
  }

  test("stratifiedSample: streaming selects exactly the batch q47 subset") {
    implicit val s = spark
    import s.implicits._
    val docs = Tables(spark, sf).documents
      .select(col("doc_id"), col("lang")).as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)](spark)
    val sampled = Streams.stratifiedSample(
      input.toDF().toDF("doc_id", "lang"), "doc_id", "lang",
      Map("en" -> 0.25), defaultRate = 0.75)
    val q = sampled.writeStream.format("memory").queryName("strat_sample")
      .outputMode("append").trigger(Trigger.AvailableNow())
    // split across two batches: the stateless decision must not depend
    // on batch boundaries
    input.addData(docs.take(docs.length / 2))
    input.addData(docs.drop(docs.length / 2))
    val run = q.start(); run.processAllAvailable(); run.stop()
    val got = spark.table("strat_sample")
      .as[(Long, String)].collect().map(_._1).toSet
    val batch = graft.operators.Sample
      .stratified(Tables(spark, sf).documents, "doc_id", "lang",
        Map("en" -> 0.25), defaultRate = 0.75)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(got == batch,
      s"streaming sample diverges from batch: ${(got diff batch).take(5)} / ${(batch diff got).take(5)}")
    assert(got.nonEmpty && got.size < docs.length)
  }

  test("windowedApproxDistinct: streaming estimate equals the batch Hll estimate per closed window") {
    implicit val s = spark
    import s.implicits._
    val input = MemoryStream[Ev](spark)
    val q = Streams.windowedApproxDistinct(
        input.toDF(), keyCol = "user_id", windowLen = "1 hour")
      .writeStream.format("memory").queryName("win_hll")
      .outputMode("append").start()
    try {
      // window 1: users 1..40 (some repeated); window 2: users 100..110
      val w1 = (1 to 40).map(u => Ev(u, ts(u % 50), 1.0)) ++
        (1 to 10).map(u => Ev(u, ts(20), 1.0))
      val w2 = (100 to 110).map(u => Ev(u, ts(70), 1.0))
      input.addData(w1 ++ w2: _*)
      q.processAllAvailable()
      // advance the watermark far past both windows so they close
      input.addData(Ev(999, ts(600), 0.0))
      q.processAllAvailable()
      val got = spark.table("win_hll")
        .select(col("window_start"), col("est_nd")).collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      // batch mirror over the same rows through the SAME Hll kernels
      val batch = {
        import graft.operators.Hll
        val df = (w1 ++ w2).toDF("user_id", "ts", "value")
        val key = col("user_id").cast("string")
        val regs = df
          .groupBy(window(col("ts"), "1 hour"), Hll.reg(key).as("reg"))
          .agg(max(Hll.rho(key)).as("mj"))
        Hll.estimate(regs, Seq("window"))
          .select(col("window.start"), col("est_nd")).collect()
          .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      }
      assert(got.size == 2, s"expected both windows closed, got $got")
      got.foreach { case (winStart, est) =>
        assert(batch(winStart) == est,
          s"window $winStart: streaming $est != batch ${batch(winStart)}")
      }
    } finally q.stop()
  }

  test("windowedSampledQuantile: streaming sampled percentiles equal the batch mirror per closed window") {
    implicit val s = spark
    import s.implicits._
    val input = MemoryStream[Ev](spark)
    val q = Streams.windowedSampledQuantile(
        input.toDF(), valueCol = "value",
        idCols = Seq("user_id", "ts"), rate = 0.5, windowLen = "1 hour")
      .writeStream.format("memory").queryName("win_q")
      .outputMode("append").start()
    try {
      val evs = (1 to 200).map(i => Ev(i.toLong, ts(i % 55), i.toDouble))
      input.addData(evs: _*)
      q.processAllAvailable()
      input.addData(Ev(998, ts(600), 0.0))
      q.processAllAvailable()
      val got = spark.table("win_q").collect()
        .map(r => (r.getTimestamp(0), r.getDouble(1), r.getDouble(2),
          r.getLong(3))).toSet
      val batch = {
        import graft.operators.Sample
        evs.toDF("user_id", "ts", "value")
          .filter(Sample.keep(concat_ws("-", col("user_id"), col("ts")),
            lit(0.5)))
          .groupBy(window(col("ts"), "1 hour"))
          .agg(expr("percentile(value, 0.5)"), expr("percentile(value, 0.9)"),
            count(lit(1)))
          .collect().map(r => (r.getStruct(0).getTimestamp(0),
            r.getDouble(1), r.getDouble(2), r.getLong(3))).toSet
      }
      assert(got == batch, s"streaming $got != batch $batch")
      assert(got.nonEmpty)
      // the gate really sampled (rate 0.5 of 200 rows, loose bounds)
      val n = got.toSeq.map(_._4).sum
      assert(n > 50 && n < 150, s"sample size $n not ~100")
    } finally q.stop()
  }

  test("windowedFreqSketch: streaming CM cells equal the batch cells per closed window") {
    implicit val s = spark
    import s.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String)](spark)
    val q = Streams.windowedFreqSketch(
        input.toDF().toDF("ts", "text"), windowLen = "1 hour")
      .writeStream.format("memory").queryName("win_cm")
      .outputMode("append").start()
    try {
      val docs = Seq(
        (ts(1), "spark table scan table"),
        (ts(30), "spark join scan"),
        (ts(70), "window agg window"))
      input.addData(docs: _*)
      q.processAllAvailable()
      input.addData((ts(600), "flush"))
      q.processAllAvailable()
      val got = spark.table("win_cm")
        .collect().map(r => (r.getTimestamp(0), r.getInt(1),
          r.getLong(2), r.getLong(3))).toSet
      val batch = {
        import graft.functions.TextOps
        import graft.operators.Cm
        val df = docs.toDF("ts", "text")
          .select(window(col("ts"), "1 hour").as("window"),
            explode(TextOps.tokens(TextOps.normText(col("text")))).as("tok"))
          .filter(length(col("tok")) > 0)
        Cm.withCells(df)
          .groupBy(col("window"), col("j"), col("bucket"))
          .agg(count(lit(1)).as("cell_n"))
          .select(col("window.start"), col("j"), col("bucket"), col("cell_n"))
          .collect().map(r => (r.getTimestamp(0), r.getInt(1),
            r.getLong(2), r.getLong(3))).toSet
      }
      assert(got == batch,
        s"streaming cells diverge: ${(got diff batch).take(3)} / ${(batch diff got).take(3)}")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("snapshotGate: streaming survivors equal the batch membership gate, statelessly") {
    implicit val s = spark
    import s.implicits._
    val docs = Tables(spark, sf).documents.select(col("doc_id"), col("text"))
    val prior = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val bf = graft.operators.SnapshotBloom.build(prior, expectedItems = 1000)
    val rows = docs.limit(90).as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)](spark)
    val out = Streams.snapshotGate(input.toDF().toDF("doc_id", "text"), bf)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("snapgate")
      .outputMode("append").start()
    try {
      input.addData(rows.take(45): _*)
      input.addData(rows.drop(45): _*)
      q.processAllAvailable()
      val got = spark.table("snapgate").select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      val want = graft.operators.SnapshotBloom
        .gate(rows.toDF("doc_id", "text"), bf)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(got == want, s"streaming $got != batch $want")
      // the gate really dropped the prior-run docs in the slice
      assert(rows.map(_._1).exists(_ % 3 == 0) && got.forall(_ % 3 != 0))
    } finally q.stop()
  }

  test("corpusPrep: the continuous pipeline reproduces the batch job's keep set, lang tags, and shard routing") {
    implicit val s = spark
    import s.implicits._
    val plain = Tables(spark, sf).documents
      .select(col("doc_id"), col("text"), col("source"))
      .limit(120)
    // half the feed arrives as raw web pages (markup-wrapped): the
    // stripMarkup stage must render them back to the plain form every
    // later stage (and the prior snapshot, built from plain text) sees
    val docs = plain.withColumn("text",
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit("<div class=\"page\"><p>"), col("text"),
          lit("</p><script>t()</script></div>")))
        .otherwise(col("text")))
    // a prior snapshot covering a slice, a small benchmark, real text
    val prior = plain.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("text", graft.queries.PrepQ.scrub(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("stream-prep").toString
    graft.operators.SnapshotBloom.save(spark,
      graft.operators.SnapshotBloom.build(prior, 1000), s"$dir/p.bloom")
    val bench = docs.filter(pmod(col("doc_id"), lit(31)) === 0)
      .select(col("doc_id"), col("text"))
    val cfg = graft.pipeline.CorpusPrep.Config(
      langRates = Map("en" -> 0.7), defaultRate = 0.5, nShards = 4,
      scrubPii = true, stripMarkup = true,
      badWords = Some(Seq("slow")),
      priorSnapshot = Some(s"$dir/p.bloom"),
      sourceRates = Some((0 until 20).map(i => s"src$i" ->
        (if (i % 3 == 0) 0.9 else 0.6)).toMap - "src7"),
      qualityWeighted = true)
    // feed in doc_id order so streaming's first-seen dedup and batch's
    // keep-lowest agree on which copy of a duplicate survives
    val rows = docs.orderBy(col("doc_id"))
      .as[(Long, String, String)].collect().toSeq
      .map { case (id, t, src) =>
        (id, new java.sql.Timestamp(1700000000000L + id), t, src) }
    val input = MemoryStream[(Long, java.sql.Timestamp, String, String)](spark)
    val out = Streams.corpusPrep(
      input.toDF().toDF("doc_id", "ts", "text", "source"), cfg,
      benchmark = Some(bench))
    val q = out.writeStream.format("memory").queryName("streamprep")
      .outputMode("append").start()
    try {
      input.addData(rows.take(60): _*)
      input.addData(rows.drop(60): _*)
      q.processAllAvailable()
      val got = spark.table("streamprep")
        .select(col("doc_id"), col("lang_detected"), col("shard"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      // batch equivalent, stage by stage with the same kernels
      // (markup extraction first, then the scrub — the rewrite order
      // both engines pin)
      val scrubbedB = docs
        .withColumn("text", graft.queries.PrepQ.stripMarkup(col("text")))
        .withColumn("text", graft.queries.PrepQ.scrub(col("text")))
      val wordedB = scrubbedB.filter(
        graft.queries.WebQ.badWordCount(col("text"), Seq("slow")) === 0L)
      val gatedB = graft.operators.SnapshotBloom.gate(wordedB,
        graft.operators.SnapshotBloom.load(spark, s"$dir/p.bloom"))
      val wDup = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.TextOps.textDigest(col("text")))
        .orderBy(col("doc_id"))
      val dedupB = gatedB.withColumn("_rn", row_number().over(wDup))
        .filter(col("_rn") === 1).drop("_rn")
      val benchScrubbed = bench
        .withColumn("text", graft.queries.PrepQ.stripMarkup(col("text")))
        .withColumn("text", graft.queries.PrepQ.scrub(col("text")))
      val cleanB = dedupB.join(
        graft.queries.PrepQ.gramHashes(dedupB)
          .join(graft.queries.PrepQ.benchGramSet(benchScrubbed), Seq("gh"))
          .select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      // the quality-weighted gate in its batch position: after every
      // dedup stage, before the language gate
      val qualityB = graft.operators.QualityWeight.gate(cleanB)
      val taggedB = qualityB.withColumn("lang_detected",
        graft.functions.TextOps.langId(col("text")).getField("lang"))
      val sampledB = graft.operators.Sample.stratified(
        graft.operators.Sample.stratified(taggedB, "doc_id",
          "lang_detected", cfg.langRates, cfg.defaultRate),
        "doc_id", "source", cfg.sourceRates.get, 0.0, domain = "mix:")
      val want = sampledB
        .withColumn("shard", graft.pipeline.CorpusPrep.shardHash
          .bitwiseAND(lit(cfg.nShards - 1L)))
        .select(col("doc_id"), col("lang_detected"), col("shard"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(got == want,
        s"stream-only: ${got -- want}; batch-only: ${want -- got}")
      assert(got.nonEmpty)
    } finally q.stop()
    // the batch guard applies here too: a non-power-of-two mask would
    // silently skew shard routing
    intercept[IllegalArgumentException] {
      Streams.corpusPrep(input.toDF().toDF("doc_id", "ts", "text", "source"),
        cfg.copy(nShards = 6))
    }
  }

  test("upsertSink: change stream maintains the keyed snapshot; replay refused; re-merge a no-op") {
    implicit val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("stream-upsert").toString
    val target = s"$dir/snapshot"
    val input = MemoryStream[(Long, Long, String, Boolean)](spark)
    val stream = input.toDF().toDF("k", "ver", "v", "del")
    val q = Streams.upsertSink(stream, target, Seq("k"), "ver",
        deleteCol = Some("del"))
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      input.addData((1L, 1L, "a", false), (2L, 1L, "b", false))
      q.processAllAvailable()
      input.addData((1L, 2L, "a2", false), (3L, 1L, "c", false),
        (2L, 2L, "", true))
      q.processAllAvailable()
    } finally q.stop()
    def snap(): Map[Long, String] = spark.read.parquet(target).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    val after = snap()
    assert(after == Map(1L -> "a2", 3L -> "c"),
      s"update/insert/tombstone merge wrong: $after")
    // replay fast-path: a ledgered batchId is refused before any merge
    val poison = Seq((1L, 9L, "MUST NOT LAND", false))
      .toDF("k", "ver", "v", "del")
    assert(!Streams.applyUpsertBatch(poison, 1L, target, Seq("k"), "ver",
      Some("del")), "replayed batchId must be refused")
    assert(snap() == after, "refused replay must not touch the snapshot")
    // crash-window idempotence: the ledger write was 'lost' (new id),
    // but re-merging the SAME batch rows leaves the snapshot identical
    val sameRows = Seq((1L, 2L, "a2", false), (3L, 1L, "c", false),
      (2L, 2L, "", true)).toDF("k", "ver", "v", "del")
    assert(Streams.applyUpsertBatch(sameRows, 99L, target, Seq("k"), "ver",
      Some("del")), "unseen batchId must apply")
    assert(snap() == after,
      "re-merging identical rows must be a no-op (version-ordered SCD-1)")
    // a REAL crash between the merge and the ledger record: the replay
    // of the SAME batch id applies, and the snapshot is one merge's
    val next = Seq((1L, 3L, "a3", false), (4L, 1L, "d", false))
      .toDF("k", "ver", "v", "del")
    crashBeforeRecord(Streams.applyUpsertBatch(next, 100L, target, Seq("k"),
      "ver", Some("del")))
    assert(Streams.applyUpsertBatch(next, 100L, target, Seq("k"), "ver",
      Some("del")), "the crashed batch's replay must apply")
    assert(snap() == Map(1L -> "a3", 3L -> "c", 4L -> "d"))
    assert(!Streams.applyUpsertBatch(next, 100L, target, Seq("k"), "ver",
      Some("del")))
  }

  test("scd2Sink: change stream maintains interval history; replay refused; re-merge a no-op") {
    implicit val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("stream-scd2").toString
    val target = s"$dir/snapshot"
    val input = MemoryStream[(Long, Long, String, Boolean)](spark)
    val stream = input.toDF().toDF("k", "ver", "v", "del")
    val q = Streams.scd2Sink(stream, target, Seq("k"), "ver",
        deleteCol = Some("del"))
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      input.addData((1L, 1L, "a", false), (2L, 1L, "b", false))
      q.processAllAvailable()
      input.addData((1L, 5L, "a2", false), (3L, 5L, "c", false),
        (2L, 5L, "", true))
      q.processAllAvailable()
    } finally q.stop()
    def snap(): Set[(Long, String, Long, Option[Long], Boolean)] =
      spark.read.parquet(target)
        .select("k", "v", "_valid_from", "_valid_to", "_is_current")
        .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    val after = snap()
    // full history: key 1 changed (closed + open), key 2 tombstoned
    // (closed, no current), key 3 inserted
    assert(after == Set(
      (1L, "a", 1L, Some(5L), false),
      (1L, "a2", 5L, None, true),
      (2L, "b", 1L, Some(5L), false),
      (3L, "c", 5L, None, true)), s"history wrong: $after")
    // replay fast-path: ledgered batchId refused before any merge
    val poison = Seq((1L, 9L, "MUST NOT LAND", false))
      .toDF("k", "ver", "v", "del")
    assert(!Streams.applyScd2Batch(poison, 1L, target, Seq("k"), "ver",
      Some("del")), "replayed batchId must be refused")
    assert(snap() == after, "refused replay must not touch the snapshot")
    // crash-window idempotence: re-applying the identical rows under a
    // fresh batchId must change nothing — changes land late, the
    // tombstone finds no open interval
    val sameRows = Seq((1L, 5L, "a2", false), (3L, 5L, "c", false),
      (2L, 5L, "", true)).toDF("k", "ver", "v", "del")
    assert(Streams.applyScd2Batch(sameRows, 99L, target, Seq("k"), "ver",
      Some("del")), "unseen batchId must apply")
    assert(snap() == after,
      "re-merging identical rows must be a no-op (late-row + tombstone rules)")
    // a REAL crash between the merge and the ledger record: the replay
    // of the SAME batch id applies, and the history is one merge's
    val next = Seq((1L, 7L, "a3", false), (4L, 7L, "d", false))
      .toDF("k", "ver", "v", "del")
    crashBeforeRecord(Streams.applyScd2Batch(next, 100L, target, Seq("k"),
      "ver", Some("del")))
    assert(Streams.applyScd2Batch(next, 100L, target, Seq("k"), "ver",
      Some("del")), "the crashed batch's replay must apply")
    assert(snap() == after - ((1L, "a2", 5L, None, true)) ++ Set(
      (1L, "a2", 5L, Some(7L), false),
      (1L, "a3", 7L, None, true),
      (4L, "d", 7L, None, true)), s"history wrong after replay: ${snap()}")
  }

  test("viewMaintainSink: fact stream maintains base + join view; mid-stream dimension delta; replay is a no-op") {
    implicit val s = spark
    import s.implicits._
    import graft.pipeline.{Merge, ViewMaintain}
    val dir = Files.createTempDirectory("stream-view").toString
    val base = s"$dir/facts"; val dim = s"$dir/dim"; val view = s"$dir/view"
    val vmSpec = ViewMaintain.Spec("k", "ck", "c_ck")
    // dimension snapshot maintained by its own batch layer
    Merge.upsert(spark, dim, Seq((10L, "gold", 1L), (20L, "iron", 1L))
      .toDF("c_ck", "seg", "dver"), Seq("c_ck"), "dver")
    def viewRows(): Set[(Long, Long, Double, String)] =
      spark.read.parquet(view).select("k", "ck", "amount", "seg")
        .as[(Long, Long, Double, String)].collect().toSet
    def oneShot(): Set[(Long, Long, Double, String)] = {
      val l = spark.read.parquet(base); val r = spark.read.parquet(dim)
      l.join(r, l("ck") === r("c_ck")).select("k", "ck", "amount", "seg")
        .as[(Long, Long, Double, String)].collect().toSet
    }
    val input = MemoryStream[(Long, Long, Double, Long, Boolean)](spark)
    val stream = input.toDF().toDF("k", "ck", "amount", "ver", "del")
    val q = Streams.viewMaintainSink(stream, base, dim, view,
        Seq("k"), "ver", vmSpec, deleteCol = Some("del"))
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      input.addData((1L, 10L, 5.0, 1L, false), (2L, 20L, 6.0, 1L, false))
      q.processAllAvailable()
      assert(viewRows() == oneShot() &&
        viewRows() == Set((1L, 10L, 5.0, "gold"), (2L, 20L, 6.0, "iron")))
      // mid-stream DIMENSION delta through the dimension's own batch
      // maintainer + a right-side view repair — the view lock
      // serializes this cycle against the sink's micro-batches
      Merge.upsert(spark, dim,
        Seq((10L, "plat", 2L)).toDF("c_ck", "seg", "dver"),
        Seq("c_ck"), "dver")
      spark.catalog.refreshByPath(base); spark.catalog.refreshByPath(dim)
      ViewMaintain.maintain(spark, view, spark.read.parquet(base),
        spark.read.parquet(dim), spark.read.parquet(base).limit(0),
        Seq(10L).toDF("c_ck"), vmSpec)
      assert(viewRows() == oneShot())
      // fact update + key move + tombstone, post-dimension-change
      input.addData((1L, 20L, 5.5, 2L, false), (3L, 10L, 7.0, 1L, false),
        (2L, 20L, 0.0, 2L, true))
      q.processAllAvailable()
      assert(viewRows() == oneShot() &&
        viewRows() == Set((1L, 20L, 5.5, "iron"), (3L, 10L, 7.0, "plat")))
    } finally q.stop()
    val after = viewRows()
    // replayed batchId: base upsert refused (ledger), view repair runs
    // and converges to the same state — no ledger needed for the view
    val poison = Seq((1L, 10L, 999.0, 9L, false))
      .toDF("k", "ck", "amount", "ver", "del")
    assert(!Streams.applyViewMaintainBatch(poison, 1L, base, dim, view,
      Seq("k"), "ver", vmSpec, Some("del")),
      "ledgered batchId must refuse the base upsert")
    assert(viewRows() == after, "replayed batch must leave the view as-is")
    // crash between base publish and view repair: replaying the same
    // rows under a fresh id re-merges (no-op) and re-repairs (no-op)
    val sameRows = Seq((1L, 20L, 5.5, 2L, false), (3L, 10L, 7.0, 1L, false),
      (2L, 20L, 0.0, 2L, true)).toDF("k", "ck", "amount", "ver", "del")
    assert(Streams.applyViewMaintainBatch(sameRows, 99L, base, dim, view,
      Seq("k"), "ver", vmSpec, Some("del")))
    assert(viewRows() == after && viewRows() == oneShot())
  }

  test("viewMaintainSink: partCol switches to partition-pruned repair — untouched partitions stay byte-identical across micro-batches") {
    implicit val s = spark
    import s.implicits._
    import graft.pipeline.{Merge, ViewMaintain}
    val dir = Files.createTempDirectory("stream-viewpart").toString
    val base = s"$dir/facts"; val dim = s"$dir/dim"; val view = s"$dir/view"
    val vmSpec = ViewMaintain.Spec("k", "ck", "c_ck")
    Merge.upsert(spark, dim, Seq((10L, "gold", 1L), (20L, "iron", 1L))
      .toDF("c_ck", "seg", "dver"), Seq("c_ck"), "dver")
    val input = MemoryStream[(Long, Long, Double, String, Long, Boolean)](spark)
    val stream = input.toDF().toDF("k", "ck", "amount", "p", "ver", "del")
    val q = Streams.viewMaintainSink(stream, base, dim, view,
        Seq("k"), "ver", vmSpec, deleteCol = Some("del"),
        partCol = Some("p"))
      .option("checkpointLocation", s"$dir/ckpt").start()
    def partFiles(part: String): Map[String, Long] = {
      val d = new java.io.File(s"$view/p=$part")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    try {
      input.addData((1L, 10L, 5.0, "a", 1L, false),
        (2L, 20L, 6.0, "b", 1L, false))
      q.processAllAvailable()
      val bBefore = partFiles("b")
      Thread.sleep(1100)
      // second micro-batch touches only partition a
      input.addData((3L, 10L, 7.0, "a", 1L, false))
      q.processAllAvailable()
      assert(partFiles("b") == bBefore,
        "a micro-batch touching only partition a must not rewrite b")
      val got = spark.read.parquet(view).select("k", "seg", "p")
        .as[(Long, String, String)].collect().toSet
      assert(got == Set((1L, "gold", "a"), (3L, "gold", "a"),
        (2L, "iron", "b")))
    } finally q.stop()
  }

  test("nearDupIndexSink: streamed new docs keep the component index == one-shot; replay refused; crash re-run converges") {
    implicit val s = spark
    import s.implicits._
    import graft.operators.{LabelProp, NearDup, NearDupIndex}
    val dir = Files.createTempDirectory("stream-ndidx").toString
    val idx = s"$dir/idx"
    def toks(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val tA = toks("a", 60); val tB = toks("b", 60)
    val s1 = Seq((1L, tA), (2L, tA + " x1"), (5L, tB)).toDF("doc_id", "text")
    NearDupIndex.build(spark, idx, s1, minEst = 0.5, nShards = 4)
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.nearDupIndexSink(
        input.toDF().toDF("doc_id", "text"), idx)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      input.addData((10L, tA + " x2"), (6L, tB + " y1"))
      q.processAllAvailable()
      input.addData((0L, tB + " y2"), (20L, toks("c", 60)))
      q.processAllAvailable()
    } finally q.stop()
    val all = s1.unionByName(Seq((10L, tA + " x2"), (6L, tB + " y1"),
      (0L, tB + " y2"), (20L, toks("c", 60))).toDF("doc_id", "text"))
    def labels(): Map[Long, Long] = NearDupIndex.labels(spark, idx)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShot = LabelProp.components(
      NearDup.scoredCandidates(NearDup.signatures(all), 0.5),
      "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val after = labels()
    assert(after == oneShot, s"streamed index drift: $after vs $oneShot")
    assert(after(5L) == 0L, "min-decreasing streamed member must relabel")
    // ledger refusal: a re-delivered batchId runs no job
    val poison = Seq((999L, tA)).toDF("doc_id", "text")
    assert(!Streams.applyNearDupIndexBatch(poison, 0L, idx))
    assert(labels() == after)
    // crash window (maintain done, ledger write lost): replaying the
    // SAME rows under a fresh id converges — labels unchanged
    val sameRows = Seq((0L, tB + " y2"), (20L, toks("c", 60)))
      .toDF("doc_id", "text")
    assert(Streams.applyNearDupIndexBatch(sameRows, 99L, idx))
    assert(labels() == after, "same-batch replay must converge")
    // a REAL crash between the maintain and the ledger record: the
    // replay of the SAME batch id re-runs the maintain and converges
    val next = Seq((30L, tA + " x3")).toDF("doc_id", "text")
    crashBeforeRecord(Streams.applyNearDupIndexBatch(next, 100L, idx))
    assert(Streams.applyNearDupIndexBatch(next, 100L, idx),
      "the crashed batch's replay must apply")
    val oneShot2 = LabelProp.components(
      NearDup.scoredCandidates(NearDup.signatures(all.unionByName(next)), 0.5),
      "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels() == oneShot2, s"replayed index ${labels()} vs $oneShot2")
    // a REBUILD resets the ledger: a fresh stream restarting batchIds
    // at 0 must not be refused
    NearDupIndex.build(spark, idx, s1, minEst = 0.5, nShards = 4)
    assert(Streams.applyNearDupIndexBatch(
      Seq((40L, tB + " y3")).toDF("doc_id", "text"), 0L, idx),
      "a rebuilt index must not refuse batch 0 from a stale ledger")
  }

  test("temporalEnrich: streamed facts see the history state at their own version") {
    implicit val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("stream-tj").toString
    val histPath = s"$dir/hist"
    // dimension history: tier changes at v5
    graft.pipeline.Merge.scd2(spark,
      histPath,
      Seq((1L, "bronze", 1L), (1L, "gold", 5L), (2L, "silver", 2L))
        .toDF("cust", "tier", "ver"),
      keys = Seq("cust"), versionCol = "ver")

    val input = MemoryStream[(Long, Long, Long)](spark)
    val collected = scala.collection.mutable.ArrayBuffer[(Long, Option[String])]()
    val q = Streams.temporalEnrich(
        input.toDF().toDF("order_id", "cust", "ver"),
        histPath, Seq("cust"), col("ver")) { (enriched, _) =>
        collected.synchronized {
          collected ++= enriched.select("order_id", "tier")
            .as[(Long, Option[String])].collect()
        }
        ()
      }
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      input.addData((100L, 1L, 2L), (101L, 1L, 7L), (102L, 3L, 1L))
      q.processAllAvailable()
      // dimension changes BETWEEN batches: customer 2 upgrades at v9 —
      // the next batch must see the newly published history
      graft.pipeline.Merge.scd2(spark, histPath,
        Seq((2L, "gold", 9L)).toDF("cust", "tier", "ver"),
        keys = Seq("cust"), versionCol = "ver")
      input.addData((103L, 2L, 8L), (104L, 2L, 9L))
      q.processAllAvailable()
    } finally q.stop()
    val got = collected.toMap
    assert(got == Map(
      100L -> Some("bronze"),   // before the v5 change
      101L -> Some("gold"),     // after it
      102L -> None,             // unknown key, kept with null
      103L -> Some("silver"),   // fact at v8: still the old interval
      104L -> Some("gold")),    // fact at v9: the freshly merged state
      s"$got")
  }

  test("decontaminate: streaming verdicts equal batch q54 for the same docs") {
    implicit val s = spark
    import s.implicits._
    // benchmark = doc_id % 100 == 0, like q54's pseudo-benchmark
    val docs = Tables(spark, sf).documents
    val bench = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
    val corpusRows = docs.filter(pmod(col("doc_id"), lit(100)) =!= 0)
      .select(col("doc_id"), col("text")).limit(120)
      .as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)](spark)
    val out = Streams.decontaminate(
      input.toDF().toDF("doc_id", "text"), bench)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("decon")
      .outputMode("append").start()
    try {
      input.addData(corpusRows.take(60): _*)
      input.addData(corpusRows.drop(60): _*)
      q.processAllAvailable()
      val got = spark.table("decon")
        .select(col("doc_id"), col("n_overlap"), col("contaminated"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = graft.queries.PrepQ.q54(spark, sf)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_overlap"), r.getAs[Long]("contaminated"))).toMap
      assert(got.nonEmpty && got.keySet.subsetOf(want.keySet))
      got.foreach { case (id, v) =>
        assert(want(id) == v, s"doc $id: streaming $v vs batch ${want(id)}")
      }
      // at least one contaminated verdict exists in the slice, or the
      // equality above proves nothing interesting
      assert(got.values.exists(_._2 == 1L) || want.values.forall(_._2 == 0L))
    } finally q.stop()
  }

  test("intervalJoin: stream-stream attribution equals the batch interval join") {
    implicit val s = spark
    import s.implicits._
    val t0 = 1700000000000L
    def ts(m: Long) = new java.sql.Timestamp(t0 + m * 60000L)
    // views (cause) and clicks (effect) per user; window 30 min
    val views = Seq(
      (1L, ts(0), 100L), (1L, ts(40), 101L), (2L, ts(5), 102L),
      (3L, ts(10), 103L))
    val clicks = Seq(
      (1L, ts(25), 900L),  // attributes to view 100 (25 min later)
      (1L, ts(55), 901L),  // attributes to view 101 only (100 is 55 min old)
      (2L, ts(36), 902L),  // 31 min after view 102: outside the window
      (4L, ts(7), 903L))   // no view at all: inner join drops it
    val vIn = MemoryStream[(Long, java.sql.Timestamp, Long)](spark)
    val cIn = MemoryStream[(Long, java.sql.Timestamp, Long)](spark)
    val out = Streams.intervalJoin(
      vIn.toDF().toDF("user_id", "view_ts", "view_id"),
      cIn.toDF().toDF("user_id", "click_ts", "click_id"),
      keys = Seq("user_id"), causeTs = "view_ts", effectTs = "click_ts",
      windowMs = 30 * 60000L, watermark = "10 minutes")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      vIn.addData(views: _*); cIn.addData(clicks.take(2): _*)
      q.processAllAvailable()
      cIn.addData(clicks.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("attrib")
        .select(col("view_id"), col("click_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch reference: the same interval join as a plain DataFrame op
      val vB = views.toDF("user_id", "view_ts", "view_id")
      val cB = clicks.toDF("user_id", "click_ts", "click_id")
      val want = vB.join(cB, vB("user_id") === cB("user_id") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("view_id"), col("click_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"stream-only ${got -- want}; batch-only ${want -- got}")
      assert(got == Set((100L, 900L), (101L, 901L)), got.toString)
      // equi-key emitted once, both event times survive
      assert(out.columns.count(_ == "user_id") == 1 &&
        out.columns.contains("view_ts") && out.columns.contains("click_ts"))
    } finally q.stop()
    // misuse fails loudly, not with an unbounded-state plan
    intercept[IllegalArgumentException] {
      Streams.intervalJoin(vIn.toDF().toDF("u", "ts", "a"),
        cIn.toDF().toDF("u", "ts", "b"), Seq("u"), "ts", "ts")
    }
    intercept[IllegalArgumentException] {
      Streams.intervalJoin(vIn.toDF().toDF("u", "ts", "a"),
        cIn.toDF().toDF("u", "ts2", "b"), Seq("u"), "ts", "ts2",
        joinType = "full_outer")
    }
  }

  test("intervalJoin right_outer: unattributed effects emit with null cause once the watermark proves it") {
    implicit val s = spark
    import s.implicits._
    val t0 = 1700000000000L
    def ts(m: Long) = new java.sql.Timestamp(t0 + m * 60000L)
    val vIn = MemoryStream[(Long, java.sql.Timestamp, Long)](spark)
    val cIn = MemoryStream[(Long, java.sql.Timestamp, Long)](spark)
    val out = Streams.intervalJoin(
      vIn.toDF().toDF("user_id", "view_ts", "view_id"),
      cIn.toDF().toDF("user_id", "click_ts", "click_id"),
      keys = Seq("user_id"), causeTs = "view_ts", effectTs = "click_ts",
      windowMs = 30 * 60000L, watermark = "10 minutes",
      joinType = "right_outer")
    val q = out.writeStream.format("memory").queryName("attribouter")
      .outputMode("append").start()
    try {
      vIn.addData((1L, ts(0), 100L))
      cIn.addData((1L, ts(5), 900L), (2L, ts(6), 901L)) // 901: no view ever
      q.processAllAvailable()
      // sentinels far in the future advance BOTH watermarks past every
      // possible match window for the earlier rows
      vIn.addData((9L, ts(600), 999L)); cIn.addData((9L, ts(700), 998L))
      q.processAllAvailable()
      val got = spark.table("attribouter")
        .select(col("user_id"), col("view_id"), col("click_id"))
        .collect()
        .map(r => (r.getLong(0), Option(r.get(1)), r.getLong(2))).toSet
      assert(got.contains((1L, Some(100L), 900L)), s"matched pair missing: $got")
      assert(got.contains((2L, None, 901L)),
        s"unattributed click not emitted with null cause: $got")
      // the preserved-side key survives the coalesce (never null)
      assert(spark.table("attribouter").filter(col("user_id").isNull).count() == 0)
    } finally q.stop()
  }

  test("enrich: stream-static broadcast join attaches dim attributes, keeps unmatched") {
    implicit val s = spark
    import s.implicits._
    val input = MemoryStream[(Long, Double)](spark)
    val dim = Seq((1L, "building"), (2L, "automobile"))
      .toDF("cust_id", "segment")
    val enriched = Streams.enrich(
      input.toDF().toDF("cust_id", "amount"), dim, Seq("cust_id"))
    assert(enriched.isStreaming)
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      input.addData((1L, 10.0), (2L, 20.0), (7L, 5.0))
      q.processAllAvailable()
      val rows = spark.table("enriched")
        .select(col("cust_id"), col("segment")).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows(1L).contains("building"))
      assert(rows(2L).contains("automobile"))
      assert(rows(7L).isEmpty, "unmatched event must survive with null dim")
    } finally q.stop()
  }
}

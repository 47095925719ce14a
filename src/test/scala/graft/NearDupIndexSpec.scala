package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{LabelProp, NearDup, NearDupIndex}

/** NearDupIndex: the incrementally-maintained component index must
  * equal the one-shot q53-style components over the grown corpus at
  * every step — new-doc joins, min-decreasing relabels, component
  * MERGES through a bridging doc, crash re-runs — while rewriting
  * only the label shards that actually changed.
  *
  * Fixture geometry (all deterministic — the minhash family is
  * md5-seeded, no RNG): families are token sets; X and Y share a
  * 36-token core plus 24 private tokens each, putting J(x, y) ≈ 0.41
  * (below the 0.5 threshold → separate components), while the bridge
  * carries the core plus 12 of each side's private tokens,
  * J(bridge, ·) ≈ 0.66 to both (above threshold → links both) — the
  * intransitive chain real near-dup graphs produce as documents
  * evolve.
  */
class NearDupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def toks(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => s"$prefix$i")
  private val core = toks("t", 36)
  private val xPriv = toks("x", 24)
  private val yPriv = toks("y", 24)
  private def text(ts: Seq[String]): String = ts.mkString(" ")

  private val tX = text(core ++ xPriv)
  private val tY = text(core ++ yPriv)
  private val tBridge = text(core ++ xPriv.take(12) ++ yPriv.take(12))
  private val tC = text(toks("c", 60))
  private val tD = text(toks("d", 60))

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")

  /** One-shot ground truth over the full corpus so far: the same
    * kernels the index composes (signatures → scored candidates →
    * label propagation).
    */
  private def oneShot(all: DataFrame, minEst: Double): Map[Long, Long] =
    LabelProp.components(
      NearDup.scoredCandidates(NearDup.signatures(all), minEst),
      "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def indexed(path: String): Map[Long, Long] =
    NearDupIndex.labels(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("incremental maintains == one-shot at every step: join, min-decrease, merge, crash re-run; untouched shards byte-identical") {
    val path = Files.createTempDirectory("graft-ndidx").toString + "/idx"
    val minEst = 0.5

    // slice 1: X-family pair (ids 1,2), Y-family pair (ids 5,6),
    // C-family pair on shard 7 (ids 7,15 — mod 8), a singleton (3)
    val s1 = docs(1L -> tX, 2L -> (tX + " extra1"), 5L -> tY,
      6L -> (tY + " extra2"), 7L -> tC, 15L -> (tC + " extra3"),
      3L -> tD)
    val st1 = NearDupIndex.build(spark, path, s1, minEst, nShards = 8)
    assert(st1.newDocs == 7)
    val after1 = indexed(path)
    assert(after1 == oneShot(s1, minEst), s"build drift: $after1")
    assert(after1 == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 15L -> 7L), s"fixture geometry broke: $after1")

    // slice 2: a new X-member (101), a min-DECREASING Y-member (id 0
    // < every Y id), a fresh singleton (102)
    val s2 = docs(101L -> (tX + " extra4"), 0L -> (tY + " extra5"),
      102L -> text(toks("e", 60)))
    val st2 = NearDupIndex.maintain(spark, path, s2)
    assert(st2.newDocs == 3 && st2.verifiedPairs >= 2)
    val all2 = s1.unionByName(s2)
    val after2 = indexed(path)
    assert(after2 == oneShot(all2, minEst), s"maintain-1 drift: $after2")
    // the Y component's canonical id DROPPED to the new min
    assert(after2(5L) == 0L && after2(6L) == 0L && after2(0L) == 0L)
    assert(!after2.contains(102L), "singletons are absent, not stored")

    def shardFiles(k: Int): Map[String, Long] = {
      val d = new java.io.File(s"$path/labels/shard=$k")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    // slice 3: the BRIDGE — links both the X component (min 1) and
    // the Y component (min 0) without X and Y ever linking directly;
    // everything relabels to the global min 0. The C family (shard 7)
    // is untouched: its shard files must stay byte-identical.
    val c7Before = shardFiles(7)
    Thread.sleep(1100)
    val s3 = docs(100L -> tBridge)
    val st3 = NearDupIndex.maintain(spark, path, s3)
    assert(st3.verifiedPairs >= 2, s"bridge must link both sides: $st3")
    val all3 = all2.unionByName(s3)
    val after3 = indexed(path)
    assert(after3 == oneShot(all3, minEst), s"merge drift: $after3")
    assert(Seq(1L, 2L, 5L, 6L, 100L, 101L).forall(after3(_) == 0L),
      s"bridge must merge X and Y components to min 0: $after3")
    assert(after3(7L) == 7L && after3(15L) == 7L)
    assert(shardFiles(7) == c7Before,
      "untouched component's label shard must not be rewritten")

    // crash contract: re-running the SAME batch converges (duplicate
    // store rows are correctness-neutral; labels unchanged)
    NearDupIndex.maintain(spark, path, s3)
    assert(indexed(path) == after3, "same-batch re-run must be a no-op")

    // a maintain with no near-dup collisions at all: labels untouched
    val st4 = NearDupIndex.maintain(spark, path,
      docs(200L -> text(toks("f", 60))))
    assert(st4.verifiedPairs == 0)
    assert(indexed(path) == after3)
  }

  test("relabel regimes agree: driver union-find (small delta) == distributed LabelProp, step for step") {
    // the r13 size gate: a maintain whose delta subgraph fits the
    // limit-probe runs a driver union-find instead of the LabelProp
    // loop (~3 s of fixed driver churn per cycle). Force the
    // distributed kernel with smallGraphEdges = 0 on a twin index and
    // pin label equality after every slice — insert, min-decrease and
    // component-merge shapes all covered by the same fixture geometry
    // as the one-shot parity test.
    val pDrv = Files.createTempDirectory("graft-ndidx-uf").toString + "/idx"
    val pDist = Files.createTempDirectory("graft-ndidx-lp").toString + "/idx"
    val minEst = 0.5
    val s1 = docs(1L -> tX, 2L -> (tX + " extra1"), 5L -> tY,
      6L -> (tY + " extra2"), 3L -> tD)
    NearDupIndex.build(spark, pDrv, s1, minEst, nShards = 8)
    NearDupIndex.build(spark, pDist, s1, minEst, nShards = 8)
    val slices = Seq(
      docs(101L -> (tX + " extra4"), 0L -> (tY + " extra5")),
      docs(100L -> tBridge))
    slices.zipWithIndex.foreach { case (s, i) =>
      NearDupIndex.maintain(spark, pDrv, s) // gate: driver union-find
      NearDupIndex.maintain(spark, pDist, s, smallGraphEdges = 0)
      assert(indexed(pDrv) == indexed(pDist),
        s"slice $i: relabel regimes diverged")
    }
    assert(indexed(pDrv)(101L) == 0L, "merge must reach the global min")
  }

  test("maintain's store probes read ONLY the probed partitions (corrupt-the-rest pin)") {
    val path = Files.createTempDirectory("graft-ndidx3").toString + "/idx"
    val storeParts = 32
    // X-family pair (1, 2) + four diverse singletons spreading the
    // store partitions; ps of the matched docs = {1 mod 32, 2 mod 32}
    val base = docs(1L -> tX, 2L -> (tX + " extra1"), 40L -> tC,
      41L -> tD, 42L -> text(toks("g", 60)), 43L -> text(toks("h", 60)))
    NearDupIndex.build(spark, path, base, 0.5,
      nShards = 8, storeParts = storeParts)

    val batch = docs(104L -> (tX + " extra9"))
    val pbs = NearDupIndex.probeKeysOf(batch, storeParts).toSet
    // overwrite every NON-probed partition's parquet files with
    // garbage: a scan that opens them dies, so a completing maintain
    // IS the proof the probe pruned to the batch's partitions (the
    // byte-level analogue of the label-shard mtime pin)
    def corrupt(store: String, partCol: String, keep: Set[Int]): Int = {
      val dirs = new java.io.File(s"$path/$store").listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith(s"$partCol="))
        .filterNot(d => keep(d.getName.stripPrefix(s"$partCol=").toInt))
      dirs.foreach(_.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.write(f.toPath,
          "garbage-not-parquet".getBytes("UTF-8"))))
      dirs.length
    }
    val corruptedBands = corrupt("bands", "pb", pbs)
    val corruptedSigs = corrupt("sigs", "ps", Set(1, 2, (104 % 32).toInt))
    assert(corruptedBands > 0 && corruptedSigs > 0,
      s"vacuous pin: bands=$corruptedBands sigs=$corruptedSigs corrupted")

    val st = NearDupIndex.maintain(spark, path, batch)
    assert(st.verifiedPairs >= 1, s"the X collision must verify: $st")
    val lbl = indexed(path)
    assert(Seq(1L, 2L, 104L).forall(lbl(_) == 1L), s"relabel drift: $lbl")
  }

  test("forget + compactStores: RTBF removes the doc from labels, probes and (after compact) store bytes") {
    val path = Files.createTempDirectory("graft-ndidx4").toString + "/idx"
    // two components: X = {1, 2} (shard 1, 2), Y = {5, 6} (shard 5, 6)
    val base = docs(1L -> tX, 2L -> (tX + " extra1"),
      5L -> tY, 6L -> (tY + " extra2"))
    NearDupIndex.build(spark, path, base, 0.5,
      nShards = 8, storeParts = 4)
    assert(indexed(path) == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))

    def shardFiles(k: Int): Map[String, Long] = {
      val d = new java.io.File(s"$path/labels/shard=$k")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val s1Before = shardFiles(1); val s2Before = shardFiles(2)
    Thread.sleep(1100)

    // forget the Y component's MIN member: label row gone at once,
    // untouched shards byte-identical (the tombstone upsert prunes to
    // the victim's shard)
    NearDupIndex.forget(spark, path, Seq(5L))
    val after = indexed(path)
    assert(!after.contains(5L), "forgotten doc must leave labels")
    assert(after(6L) == 5L,
      "survivors keep their component id (opaque, content-free)")
    assert(shardFiles(1) == s1Before && shardFiles(2) == s2Before,
      "shards without victims must not be rewritten")

    // a batch re-adding the tombstoned id refuses loudly
    val e = intercept[IllegalArgumentException] {
      NearDupIndex.maintain(spark, path, docs(5L -> tY))
    }
    assert(e.getMessage.contains("compactStores"), e.getMessage)

    // a new Y-family doc pairs with the SURVIVOR only — the victim is
    // probe-invisible — and the anchor relabel must not resurrect a
    // label row for the forgotten id
    val st = NearDupIndex.maintain(spark, path, docs(300L -> (tY + " zz")))
    assert(st.verifiedPairs >= 1, s"survivor collision must verify: $st")
    val after2 = indexed(path)
    assert(!after2.contains(5L),
      "anchor relabel must not re-publish the forgotten id")
    assert(after2(6L) == after2(300L),
      s"survivor and newcomer must share a component: $after2")

    // compaction physically reclaims the victim's store rows and
    // clears the log; maintains keep working afterwards
    NearDupIndex.compactStores(spark, path)
    assert(spark.read.parquet(s"$path/sigs")
      .filter(col("doc_id") === 5L).isEmpty, "sig bytes must be gone")
    assert(spark.read.parquet(s"$path/bands")
      .filter(col("doc_id") === 5L).isEmpty, "band bytes must be gone")
    assert(!new java.io.File(s"$path/deleted").exists(),
      "compaction clears the tombstone log")
    // the compact-then-re-add contract: the id may return as a NEW doc
    val st2 = NearDupIndex.maintain(spark, path, docs(5L -> (tY + " back")))
    assert(st2.verifiedPairs >= 1)
    val after3 = indexed(path)
    assert(Seq(5L, 6L, 300L).map(after3).distinct.size == 1,
      s"re-added doc joins the Y component: $after3")
  }

  test("an interrupted store-compaction swap self-heals at the next entry") {
    val path = Files.createTempDirectory("graft-ndidx5").toString + "/idx"
    NearDupIndex.build(spark, path,
      docs(1L -> tX, 2L -> (tX + " z")), 0.5, storeParts = 4)
    // simulate a crash between the two renames: store retired at
    // `._graft_old`, nothing at the store root
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/bands"),
      new org.apache.hadoop.fs.Path(s"$path/bands._graft_old")))
    val st = NearDupIndex.maintain(spark, path, docs(9L -> (tX + " y")))
    assert(st.verifiedPairs >= 1, s"recovered store must serve the probe: $st")
    assert(indexed(path).keySet == Set(1L, 2L, 9L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/bands._graft_old")))
  }

  test("maintainer lock: a held lock refuses maintain; completed cycles leave no lock") {
    val path = Files.createTempDirectory("graft-ndidx2").toString + "/idx"
    NearDupIndex.build(spark, path, docs(1L -> tX, 2L -> (tX + " z")), 0.5)
    val lock = new org.apache.hadoop.fs.Path(path + "._graft_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(lock))
    graft.util.PathLock.withLock(spark, path) {
      val e = intercept[IllegalStateException] {
        NearDupIndex.maintain(spark, path, docs(9L -> tY))
      }
      assert(e.getMessage.contains("lock"), e.getMessage)
    }
    NearDupIndex.maintain(spark, path, docs(9L -> tY))
    assert(!fs.exists(lock))
  }

  test("AQE isolation: a query planned on the caller session mid-scope keeps adaptive execution; maintain leaves the caller conf untouched") {
    val Key = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(Key) == "true", "precondition: session AQE on")
    graft.util.ExecScope.isolated(spark) { iso =>
      assert(iso.conf.get(Key) == "false", "the clone runs AQE-off")
      assert(spark.conf.get(Key) == "true",
        "the caller session conf must be untouched inside the window")
      // the r14 ask verbatim: a CONCURRENT query planned on the
      // caller session mid-scope still plans adaptively
      val q = spark.range(100).groupBy((org.apache.spark.sql.functions
        .col("id") % 7).as("k")).count()
      assert(q.queryExecution.executedPlan.isInstanceOf[
        org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec],
        "caller-session query planned mid-scope must keep AQE")
      // and the clone's plans really drop it (the scope is real)
      val qi = iso.range(100).groupBy((org.apache.spark.sql.functions
        .col("id") % 7).as("k")).count()
      assert(!qi.queryExecution.executedPlan.isInstanceOf[
        org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec],
        "clone query must plan without AQE")
    }
    // a full maintain cycle (the long-scoped user) through the
    // isolated path: caller conf stays AQE-on after
    val path = Files.createTempDirectory("graft-ndidx3").toString + "/idx"
    NearDupIndex.build(spark, path, docs(1L -> tX, 2L -> (tX + " z")), 0.5)
    NearDupIndex.maintain(spark, path, docs(9L -> (tX + " y")))
    assert(spark.conf.get(Key) == "true",
      "maintain must not leave the caller session AQE-off")
    assert(indexed(path).keySet == Set(1L, 2L, 9L),
      "the re-rooted delta frame must fold correctly")
  }

  test("an empty delta returns after the delta count: no further job, index bytes unchanged") {
    val path = Files.createTempDirectory("graft-ndidx-empty").toString + "/idx"
    NearDupIndex.build(spark, path, docs(1L -> tX, 2L -> (tX + " z")), 0.5)
    val root = java.nio.file.Paths.get(path)
    // every file under the index — labels, stores, meta — by content
    def tree(): Map[String, Seq[Byte]] = {
      import scala.jdk.CollectionConverters._
      val files = Files.walk(root)
      try files.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq)
        .toMap
      finally files.close()
    }
    val before = tree()
    var st: NearDupIndex.Stats = null
    val m = org.apache.spark.graftbench.Recorder.measure(spark.sparkContext) {
      st = NearDupIndex.maintain(spark, path, docs())
    }
    assert(st == NearDupIndex.Stats(0L, 0L, 0L), st.toString)
    assert(m.jobs.nonEmpty &&
      m.jobs.last.description.contains("count at NearDupIndex.scala"),
      "a job ran after the delta count:\n" + m.jobs.mkString("\n"))
    assert(tree() == before, "an empty delta must leave the index byte-identical")
    info(s"empty-delta maintain: ${m.jobs.size} jobs, " +
      s"${m.jobs.map(_.stages).sum} stages")
  }
}

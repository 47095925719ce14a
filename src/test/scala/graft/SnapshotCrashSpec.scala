package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, NearDupIndex}
import graft.pipeline.{Merge, Snapshot, StatsMaintain, ViewMaintain}

/** The crash contract at the swap's commit point: every maintainer
  * that publishes through [[Snapshot]] is crashed once between the
  * retire rename and the publish rename ([[Snapshot.betweenRenames]]),
  * then the same cycle is rerun. The rerun must converge to the
  * one-shot result, and no retired or write-beside sibling may be
  * left anywhere beside or inside the target.
  */
class SnapshotCrashSpec extends SparkSpec {
  import spark.implicits._

  private class InjectedCrash extends RuntimeException("injected crash between the swap renames")

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A fresh base dir holding the target `t`, so every sibling of the
    * target lives under the base.
    */
  private def base(tag: String): String =
    Files.createTempDirectory(s"graft-crash-$tag").toString

  /** Run `body`, throwing at the `nth` swap commit point; returns the
    * targets the seam saw, in order.
    */
  private def crashAt(nth: Int)(body: => Any): Seq[String] = {
    val prev = Snapshot.betweenRenames
    val calls = new AtomicInteger
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    Snapshot.betweenRenames = { target =>
      seen.synchronized(seen += target)
      if (calls.incrementAndGet() == nth) throw new InjectedCrash
    }
    try intercept[InjectedCrash](body) finally Snapshot.betweenRenames = prev
    seen.toSeq
  }

  /** Rows as sorted JSON over sorted columns: content equality for
    * arrays and binaries alike.
    */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
      .toJSON.collect().sorted.toSeq

  private def read(path: String): Seq[String] = {
    spark.catalog.refreshByPath(path)
    rows(spark.read.parquet(path))
  }

  private val SwapSuffixes = Seq("._graft_old", "._graft_tmp", "._graft_ptmp")

  private def assertNoSwapSiblings(dir: String): Unit = {
    def walk(f: java.io.File): Seq[String] =
      f.getName +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    val left = walk(new java.io.File(dir))
      .filter(n => SwapSuffixes.exists(n.endsWith))
    assert(left.isEmpty, s"swap siblings left under $dir: $left")
  }

  private def copyTree(from: String, to: String): Unit = {
    assert(FileUtil.copy(fs, new Path(from), fs, new Path(to), false,
      spark.sparkContext.hadoopConfiguration))
    ()
  }

  test("Merge.upsert: a crash between the renames reruns to the one-shot snapshot") {
    val seed = Seq((1L, "a", 1L, false), (2L, "b", 1L, false),
      (3L, "c", 1L, false)).toDF("id", "payload", "ver", "del")
    val batch = Seq((2L, "b2", 2L, false), (3L, "gone", 2L, true),
      (4L, "d", 2L, false)).toDF("id", "payload", "ver", "del")
    def apply(p: String, b: DataFrame) =
      Merge.upsert(spark, p, b, Seq("id"), "ver", Some("del"))

    val one = s"${base("up1")}/t"
    apply(one, seed); apply(one, batch)
    val dir = base("up2"); val t = s"$dir/t"
    apply(t, seed)
    assert(crashAt(1)(apply(t, batch)) == Seq(t))
    assert(Snapshot.midSwap(fs, t), "the crash must leave the target retired")
    apply(t, batch)
    assert(read(t) == read(one))
    assertNoSwapSiblings(dir)
  }

  test("Merge.upsertPartitioned: crashed on the second of three partitions, the rerun converges") {
    // every partition keeps a row the batch does not touch, so a lost
    // partition cannot be rebuilt from the batch alone
    val seed = Seq((1L, "a", 1L, "p0"), (2L, "b", 1L, "p1"), (3L, "c", 1L, "p2"),
      (4L, "d", 1L, "p2"), (6L, "f", 1L, "p1"), (7L, "g", 1L, "p0"))
      .toDF("id", "payload", "ver", "p")
    val batch = Seq((1L, "a2", 2L, "p0"), (2L, "b2", 2L, "p1"),
      (3L, "c2", 2L, "p2"), (5L, "e", 2L, "p1")).toDF("id", "payload", "ver", "p")
    def apply(p: String, b: DataFrame) =
      Merge.upsertPartitioned(spark, p, b, "p", Seq("id"), "ver")

    val one = s"${base("upp1")}/t"
    apply(one, seed); apply(one, batch)
    val dir = base("upp2"); val t = s"$dir/t"
    apply(t, seed)
    val seen = crashAt(2)(apply(t, batch))
    assert(seen == Seq(s"$t/p=p0", s"$t/p=p1"), s"$seen")
    assert(!Snapshot.midSwap(fs, s"$t/p=p0") && fs.exists(new Path(s"$t/p=p0")),
      "the first partition is published")
    assert(Snapshot.midSwap(fs, s"$t/p=p1"), "the second partition is retired")
    apply(t, batch)
    assert(read(t) == read(one))
    assertNoSwapSiblings(dir)
  }

  // The view is a pure function of the bases: a partition lost at the
  // crash would bootstrap from its full left slice and read the same.
  // This case pins convergence and sibling cleanup, not the reinstate.
  test("ViewMaintain.maintainPartitioned: a crash mid-swap reruns to the one-shot view") {
    val spec = ViewMaintain.Spec("ok", "ck", "c_ck")
    val l0 = Seq((1L, 10L, 5.0, "a"), (2L, 20L, 6.0, "b"), (3L, 20L, 7.0, "c"))
      .toDF("ok", "ck", "amount", "p")
    val r0 = Seq((10L, "gold"), (20L, "iron")).toDF("c_ck", "seg")
    val l1 = Seq((1L, 10L, 50.0, "a"), (2L, 20L, 6.0, "b"), (3L, 20L, 7.0, "c"),
      (4L, 10L, 8.0, "b")).toDF("ok", "ck", "amount", "p")
    val r1 = Seq((10L, "plat"), (20L, "iron")).toDF("c_ck", "seg")
    def cycle(p: String) = ViewMaintain.maintainPartitioned(spark, p, l1, r1,
      l1.filter(col("ok").isin(1L, 4L)), r1.filter(col("c_ck") === 10L),
      spec, "p")

    val one = s"${base("vm1")}/t"
    ViewMaintain.buildPartitioned(spark, one, l0, r0, spec, "p")
    cycle(one)
    val dir = base("vm2"); val t = s"$dir/t"
    ViewMaintain.buildPartitioned(spark, t, l0, r0, spec, "p")
    val seen = crashAt(2)(cycle(t))
    assert(seen == Seq(s"$t/p=a", s"$t/p=b"), s"$seen")
    assert(Snapshot.midSwap(fs, s"$t/p=b"))
    cycle(t)
    assert(read(t) == read(one))
    assert(read(t) == rows(l1.join(r1, l1("ck") === r1("c_ck"))))
    assertNoSwapSiblings(dir)
  }

  test("StatsMaintain.maintain: a crash between the renames folds the batch exactly once on rerun") {
    val spec = StatsMaintain.Spec(keys = Seq("grp"), sums = Seq("amount"),
      minMax = Seq("amount"), distincts = Seq("user"))
    val b1 = Seq(("a", 10L, "u1"), ("b", 5L, "u2")).toDF("grp", "amount", "user")
    val b2 = Seq(("a", 30L, "u2"), ("c", 7L, "u3")).toDF("grp", "amount", "user")

    val one = s"${base("st1")}/t"
    StatsMaintain.maintain(spark, one, b1, spec)
    StatsMaintain.maintain(spark, one, b2, spec)
    val dir = base("st2"); val t = s"$dir/t"
    StatsMaintain.maintain(spark, t, b1, spec)
    crashAt(1)(StatsMaintain.maintain(spark, t, b2, spec))
    assert(Snapshot.midSwap(fs, t))
    StatsMaintain.maintain(spark, t, b2, spec)
    assert(read(t) == read(one))
    assertNoSwapSiblings(dir)
  }

  test("IvfIndex.dedupeVectors: a crash between the renames reruns to the one-shot compaction") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = base("ivf"); val t = s"$dir/t"
    IvfIndex.build(spark, emb.filter(col("vec_id") < 100), t,
      k = 4, initRounds = 1, lloydIters = 1)
    IvfIndex.append(spark, t, emb.filter(col("vec_id") < 20)) // 20 duplicates
    val one = s"${base("ivf1")}/t"
    copyTree(t, one)
    val removed = IvfIndex.dedupeVectors(spark, one)
    assert(removed == 20L)

    crashAt(1)(IvfIndex.dedupeVectors(spark, t))
    assert(Snapshot.midSwap(fs, t))
    assert(IvfIndex.dedupeVectors(spark, t) == removed)
    Seq("index", "centroids", "meta").foreach(d =>
      assert(read(s"$t/$d") == read(s"$one/$d"), d))
    assertNoSwapSiblings(dir)
  }

  test("NearDupIndex.compactStores: a crash between the renames reruns to the one-shot stores") {
    def text(prefix: String) = (0 until 40).map(i => s"$prefix$i").mkString(" ")
    val docs = Seq(1L -> text("x"), 2L -> (text("x") + " z"),
      3L -> text("y"), 4L -> (text("y") + " w")).toDF("doc_id", "text")
    val dir = base("ndx"); val t = s"$dir/t"
    NearDupIndex.build(spark, t, docs, 0.5, nShards = 4, storeParts = 4)
    NearDupIndex.forget(spark, t, Seq(2L))
    val one = s"${base("ndx1")}/t"
    copyTree(t, one)
    NearDupIndex.compactStores(spark, one)

    crashAt(1)(NearDupIndex.compactStores(spark, t))
    assert(Snapshot.midSwap(fs, s"$t/bands"))
    NearDupIndex.compactStores(spark, t)
    Seq("bands", "sigs").foreach(d =>
      assert(read(s"$t/$d") == read(s"$one/$d"), d))
    assert(rows(NearDupIndex.labels(spark, t)) ==
      rows(NearDupIndex.labels(spark, one)))
    assert(!fs.exists(new Path(s"$t/deleted")), "compaction clears the tombstone log")
    assertNoSwapSiblings(dir)
  }
}

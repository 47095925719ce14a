package graft.operators

import graft.functions.TextOps.normText
import graft.functions.expressions.TextExprs.md5Lower64
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** Cross-snapshot membership dedup — the Dolma-style Bloom sidecar.
  *
  * CorpusPrep-style runs dedup WITHIN one run; refreshing a corpus
  * against last month's trillion-token snapshot must not re-read the
  * prior corpus as a join side (not 100 TB-viable). Instead the prior
  * run publishes a compact membership sketch of its canonical doc
  * digests, and the next run drops re-seen docs with a broadcast-free
  * FILTER: the serialized sketch rides the stage's task binary (one
  * torrent broadcast per stage, like literal centroids/merge tables),
  * and membership is a per-row probe — no shuffle, no join, no second
  * corpus scan.
  *
  * Guarantees, stated the Bloom way: a doc whose digest was added is
  * ALWAYS dropped (no false negatives — re-seen docs cannot leak
  * back in); an unseen doc survives except with probability ≤ `fpp`
  * (a false positive loses a fresh doc, never duplicates one — the
  * cheap direction for training corpora). Spark's public
  * `org.apache.spark.util.sketch.BloomFilter` underneath; ~1.2 GB at
  * n=10⁹ docs / fpp=1e-3, linear in n — sidecar-sized, not
  * corpus-sized.
  *
  * The digest is the SAME canonical md5Lower64∘normText family as
  * q30's exact dedup (one definition of "same document" everywhere);
  * sidecar publish is crash-safe (tmp + rename, the IvfIndex rule).
  */
object SnapshotBloom {

  /** Canonical 64-bit doc digest — q30's normText under the portable
    * md5 family, so "seen" here means exactly what exact-dedup means.
    */
  def digest(textCol: Column): Column = md5Lower64(normText(coalesce(textCol, lit(""))))

  /** Build the membership sketch of a (finished) corpus run. The only
    * driver-side object is the filter itself — built by Spark's
    * distributed `stat.bloomFilter` aggregate, never a collect of ids.
    *
    * Undersizing is refused, not absorbed: a filter built for
    * `expectedItems` but fed far more degrades its FP rate SILENTLY,
    * and every extra false positive is a fresh doc the next refresh
    * silently drops — data loss with no error anywhere. The sizing
    * count rides the SAME treeAggregate as the Bloom fold (the
    * execution shape `df.stat.bloomFilter` uses internally) — ONE
    * corpus pass, refusal fired before anything is returned or
    * saved. The bound is 2× because the FP curve is gentle up to ~2
    * and cliffs beyond. Size generously — bits are ~1.4 MB per
    * million docs at the default fpp — and budget the whole chain
    * when sidecars will be merged ([[loadMerged]]).
    */
  def build(docs: DataFrame, expectedItems: Long, fpp: Double = 1e-3,
            textCol: Column = col("text")): BloomFilter = {
    require(expectedItems > 0, s"expectedItems must be > 0, got $expectedItems")
    val spark = docs.sparkSession
    import spark.implicits._
    val d = docs.select(digest(textCol).as("d")).as[Long]
    val (bf, n) = d.rdd.treeAggregate(
      (BloomFilter.create(expectedItems, fpp), 0L))(
      { case ((b, c), v) => b.putLong(v); (b, c + 1L) },
      { case ((b1, c1), (b2, c2)) => (b1.mergeInPlace(b2), c1 + c2) })
    require(n <= 2 * expectedItems,
      s"SnapshotBloom sized for $expectedItems items but fed $n: the FP " +
        s"rate would silently degrade and the next refresh would silently " +
        s"drop fresh docs — rebuild with expectedItems >= $n")
    bf
  }

  /** Publish the sidecar atomically ([[graft.util.AtomicFile]]: write
    * `<path>.tmp`, then OVERWRITE-rename) — a reader never observes a
    * half-written filter, and a crash never leaves NO sidecar: losing
    * the previous snapshot's membership is strictly worse than keeping
    * a stale one. Hadoop FS API so the same code runs on local disk
    * and on a distributed store.
    */
  def save(spark: SparkSession, bf: BloomFilter, path: String): Unit =
    graft.util.AtomicFile.write(spark.sparkContext.hadoopConfiguration,
      path)(bf.writeTo)

  def load(spark: SparkSession, path: String): BloomFilter = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try BloomFilter.readFrom(in) finally in.close()
  }

  /** Chain sidecars across historical runs: load every path and OR
    * them into one filter, so a refresh gates against N months of
    * snapshots with a single probe. Requires compatible sizing (same
    * expectedItems/fpp ⇒ same bit width and hash count — publish runs
    * should pin one sizing policy); Spark's `mergeInPlace` throws
    * `IncompatibleMergeException` otherwise, surfaced as-is rather
    * than silently weakening the guarantee. The merged filter keeps
    * the no-false-negative property of every constituent; the FP rate
    * degrades with fill, which is why the sizing policy should budget
    * for the whole chain.
    */
  def loadMerged(spark: SparkSession, paths: Seq[String]): BloomFilter = {
    require(paths.nonEmpty, "no sidecar paths given")
    val filters = paths.map(load(spark, _))
    filters.tail.foldLeft(filters.head)((acc, f) => acc.mergeInPlace(f))
  }

  /** Membership probe as a boolean column (for counting/reporting). */
  def seen(bf: BloomFilter, textCol: Column = col("text")): Column = {
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    Bridge.column(BloomSeen(Bridge.expression(digest(textCol)), bytes))
  }

  /** Drop docs whose digest the prior snapshot (might) contain. Pure
    * filter — the plan gains a predicate, never a join; the sketch
    * bytes serialize once into the stage's task binary.
    */
  def gate(docs: DataFrame, bf: BloomFilter,
           textCol: Column = col("text")): DataFrame =
    docs.filter(!seen(bf, textCol))
}

/** Membership probe expression: the serialized Bloom filter rides as
  * expression state (deserialized lazily once per executor instance,
  * like BpeCount's rank map), each row costs one `mightContainLong`.
  */
case class BloomSeen(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BooleanType

  @transient private lazy val bf: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(filterBytes))

  override def nullSafeEval(input: Any): Any =
    java.lang.Boolean.valueOf(bf.mightContainLong(input.asInstanceOf[Long]))

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

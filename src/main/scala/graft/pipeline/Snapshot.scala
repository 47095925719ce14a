package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The atomic publish every snapshot-maintaining operator shares
  * ([[Merge.upsert]], [[Merge.upsertPartitioned]], [[Merge.scd2]],
  * [[StatsMaintain.maintain]], [[ViewMaintain]], `CorpusPrep.forget`,
  * and the persisted indexes `IvfIndex` and `NearDupIndex`): write the
  * new snapshot BESIDE the target, then [[swap]] it in with two
  * renames. Readers see the previous complete snapshot until the
  * publish, then the new one — never a half-written directory. The
  * instant between the renames has no directory at the target: a
  * reader there fails fast with not-found rather than reading partial
  * data, and a crash there is repaired by [[recover]] on the next
  * maintenance run, which reinstates the retired snapshot before
  * merging. This object is the only code that knows the swap and the
  * names of the siblings it leaves beside a target.
  *
  * SINGLE-WRITER CONTRACT: the protocol tolerates any number of
  * readers but exactly ONE maintainer per target path at a time. The
  * hazard is not only the rename swap — every maintainer is a
  * read-merge-write cycle, and two maintainers interleaving
  * read → (other publishes) → publish silently discard the first
  * publish's merge (a lost update) even when the swaps themselves
  * never overlap. So the `._graft_lock` marker is held for the WHOLE
  * cycle, not just the publish: a maintainer calls
  * [[withMaintainerLock]] FIRST (atomic create with overwrite=false —
  * an existing lock fails the create and raises loudly), and the
  * [[Lease]] it receives is the compile-time-required proof of
  * exclusion that [[recoverAndExists]] and [[publish]] demand. A
  * streaming sink plus an ad-hoc batch maintain on the same path, or
  * two interleaved stats folds, fail LOUDLY at lock acquisition
  * instead of corrupting. A hard JVM kill mid-cycle leaves the lock
  * behind (by design: the tmp state it guards may also still be
  * there); after confirming no live maintainer, clear it with
  * [[forceUnlock]] and the next maintain repairs as usual. The index
  * maintainers hold their own whole-tree `util.PathLock` (same lock
  * file) and call the lock-agnostic [[swap]] and [[recover]] under it.
  */
private[graft] object Snapshot {

  /** Proof that the maintainer lock for [[targetPath]] is held —
    * only mintable by [[withMaintainerLock]] and [[withPartitions]],
    * so a read-merge-write cycle cannot compile without the exclusion
    * that makes its read still valid at publish time.
    */
  final class Lease private[Snapshot] (private[graft] val targetPath: String)

  /** One touched partition of a partitioned publish: its typed value,
    * its escaped directory name, its path, the lease on it, and
    * whether a snapshot exists there after recovery.
    */
  final case class Part(value: Any, dirName: String, path: String,
                        lease: Lease, exists: Boolean)

  private def oldPath(targetPath: String) = new Path(targetPath + "._graft_old")
  private def ptmpPath(targetPath: String) = new Path(targetPath + "._graft_ptmp")

  /** The write-beside directory of `targetPath`: what a publisher
    * writes before [[swap]], and what [[recover]] clears as crash
    * garbage.
    */
  private[graft] def tmpPath(targetPath: String) =
    new Path(targetPath + "._graft_tmp")

  /** The crash seam at the swap's commit point: runs with the target
    * path after the retire rename (when there is a target to retire)
    * and before the publish rename. A throw here leaves exactly what a
    * crash between the renames leaves. A no-op outside tests.
    */
  @volatile private[graft] var betweenRenames: String => Unit = _ => ()

  // the one lock algorithm lives in util.PathLock (same suffix, same
  // create-if-absent semantics) — only the failure remedy differs
  private def acquireLock(fs: FileSystem, targetPath: String,
                          waitMs: Long): Unit =
    graft.util.PathLock.acquire(fs, targetPath, waitMs,
      what = "snapshot maintainer",
      remedy = "then Snapshot.forceUnlock the path.")

  /** Run one whole maintain cycle (recover → read → merge → publish)
    * under the target's single-writer lock. The lock spans the FULL
    * critical section: what `body` reads is still the current
    * snapshot when it publishes, so concurrent maintainers cannot
    * interleave into a lost update — the second fails at acquisition
    * (the batch default, waitMs = 0), or polls up to `waitMs` first
    * (the streaming-sink composition, where a concurrent batch
    * maintainer's cycle should be ridden out, not crash the query).
    */
  def withMaintainerLock[T](fs: FileSystem, targetPath: String,
                            waitMs: Long = 0L)
                           (body: Lease => T): T = {
    acquireLock(fs, targetPath, waitMs)
    try body(new Lease(targetPath))
    finally forceUnlock(fs, targetPath)
  }

  /** Clear a stale maintainer lock left by a hard-killed cycle. Only
    * safe once no live maintainer targets the path.
    */
  def forceUnlock(fs: FileSystem, targetPath: String): Unit =
    graft.util.PathLock.release(fs, targetPath)

  /** Remove `targetPath` together with every sibling the publish and
    * its lock leave beside it: a scratch target rebuilt from nothing
    * must not find a stale retired snapshot that recovery would
    * reinstate over the fresh run. (Per-partition siblings of a
    * partitioned layout live INSIDE the tree and go with it.)
    */
  private[graft] def dropWithSiblings(fs: FileSystem,
                                      targetPath: String): Unit = {
    Seq(new Path(targetPath), oldPath(targetPath), tmpPath(targetPath),
      ptmpPath(targetPath)).foreach(fs.delete(_, true))
    forceUnlock(fs, targetPath)
  }

  private def checkLease(lease: Lease, targetPath: String): Unit =
    require(lease.targetPath == targetPath,
      s"snapshot lease for ${lease.targetPath} used against $targetPath — " +
        "each target needs its own withMaintainerLock")

  /** Whether `targetPath` is between the swap's two renames: its
    * snapshot retired, nothing at the target. Under a held lock that
    * is a live swap; otherwise a crash that [[recover]] repairs.
    */
  private[graft] def midSwap(fs: FileSystem, targetPath: String): Boolean =
    !fs.exists(new Path(targetPath)) && fs.exists(oldPath(targetPath))

  /** The ONE crash repair, and whether a snapshot exists afterwards:
    *  - a crash between the renames (retired, nothing at the target):
    *    reinstate the retired snapshot;
    *  - a crash after the publish rename, before the retired copy was
    *    dropped: drop it;
    *  - a crash while writing beside the target (before any rename):
    *    clear the stray tmp dir, so it cannot linger (inside a
    *    partitioned tree it would otherwise pollute partition
    *    discovery forever).
    * Lock-agnostic: the caller holds the target's lock, which is what
    * makes a stray tmp provably crash garbage (a LIVE maintainer's tmp
    * cannot exist — it would hold the lock).
    */
  private[graft] def recover(fs: FileSystem, targetPath: String): Boolean = {
    val dst = new Path(targetPath)
    val old = oldPath(targetPath)
    if (fs.exists(old)) {
      if (fs.exists(dst)) fs.delete(old, true)
      else if (!fs.rename(old, dst))
        throw new java.io.IOException(
          s"snapshot recovery: cannot reinstate $old")
    }
    val tmp = tmpPath(targetPath)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    fs.exists(dst)
  }

  /** [[recover]] under the caller's [[Lease]]. Run BEFORE reading the
    * target — skipping it would silently treat existing data as a
    * fresh bootstrap.
    */
  def recoverAndExists(fs: FileSystem, targetPath: String,
                       lease: Lease): Boolean = {
    checkLease(lease, targetPath)
    recover(fs, targetPath)
  }

  /** The ONE swap: move the fully written directory `written` to
    * `targetPath` with two renames — retire the current snapshot
    * (when `exists`), publish `written`, then drop the retired copy.
    * Lock-agnostic: the caller holds the target's lock. After it,
    * `written` has MOVED to the target.
    */
  private[graft] def swap(fs: FileSystem, targetPath: String,
                          exists: Boolean, written: Path): Unit = {
    val dst = new Path(targetPath)
    val old = oldPath(targetPath)
    if (exists) {
      if (fs.exists(old)) fs.delete(old, true)
      if (!fs.rename(dst, old))
        throw new java.io.IOException(s"snapshot swap: cannot retire $dst")
    }
    betweenRenames(targetPath)
    if (!fs.rename(written, dst))
      throw new java.io.IOException(s"snapshot swap: cannot publish $written")
    fs.delete(old, true)
    ()
  }

  /** Materialize `result` beside the target and [[swap]] it in as the
    * new snapshot. Must run under the same [[Lease]] as the cycle's
    * [[recoverAndExists]] — the lock held since then is what
    * guarantees the `exists` flag and everything read from the target
    * are still true here.
    *
    * `beforeSwap` runs against the fully-written temp directory
    * BEFORE the renames: anything it adds (sidecar files, applied-
    * batch ledgers) becomes visible in the same atomic swap as the
    * data — the hook that lets a NON-idempotent maintainer (e.g.
    * additive stats) be exactly-once, because "the batch's data" and
    * "the record that the batch applied" cannot be separated by a
    * crash. Spark's own `_SUCCESS`/metadata files live in the same
    * directory already, so an extra `_`-prefixed file is invisible to
    * parquet readers.
    */
  def publish(fs: FileSystem, targetPath: String, exists: Boolean,
              result: DataFrame, lease: Lease,
              beforeSwap: Path => Unit = _ => ()): Unit = {
    checkLease(lease, targetPath)
    val tmp = tmpPath(targetPath)
    result.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    beforeSwap(tmp)
    swap(fs, targetPath, exists, tmp)
  }

  /** The session's column-name identity: Spark resolves names per
    * `spark.sql.caseSensitive` (default case-INSENSITIVE), so two
    * names are the same column exactly when their keys are equal.
    */
  private[graft] def nameKey(spark: SparkSession): String => String =
    if (spark.conf.get("spark.sql.caseSensitive", "false").toBoolean) identity
    else _.toLowerCase(java.util.Locale.ROOT)

  /** Lock and recover the partitions of `root` (laid out as
    * `root/partCol=value/…`) that `touched` names, then run `body`
    * with every [[Part]] in hand; None, taking no lock, when `touched`
    * has no rows. `partCol` must be the frame's own attribute name:
    * the partitioned writer names directories after the ATTRIBUTE.
    *
    * Each touched value is collected TWICE: the typed value (for the
    * caller's partition reads, re-attached as a literal) and Spark's
    * OWN string form (`cast(string)` — exactly what the partitioned
    * writer stringifies before escaping). Deriving the dir name from
    * `v.toString` would diverge for types whose JVM toString differs
    * from the SQL cast (java.sql.Timestamp renders a trailing ".0" the
    * writer does not), and a name mismatch would make the swap publish
    * a fabricated empty dir over the real output. The name is escaped
    * exactly as the writer escapes it, so values with '/', '=', '%', …
    * line up 1:1 with the tmp tree. A null value has no directory to
    * live in (and `===` never matches null, so its rows would land
    * NOWHERE): refused loudly.
    *
    * Locks are taken in sorted path order — two concurrent fused
    * maintainers with overlapping sets contend in a consistent order,
    * the second fails fast at the first contended lock, never
    * deadlocks — ITERATIVELY, so stack depth never tracks the touched
    * count (a fused maintainer can touch thousands of partitions).
    * Acquisition failure part-way releases what was already held; all
    * held locks release in reverse order on unwind.
    */
  def withPartitions[T](spark: SparkSession, root: String,
                        touched: DataFrame, partCol: String,
                        waitMs: Long, what: String)
                       (body: List[Part] => T): Option[T] = {
    val vals = touched
      .select(col(partCol), col(partCol).cast("string").as("_str"))
      .distinct().collect().map(r => (r.get(0), r.getString(1)))
    require(!vals.exists(_._1 == null), s"$what: rows with null $partCol")
    if (vals.isEmpty) return None
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(root))
    val named = vals.map { case (v, str) =>
      val dirName = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.escapePathName(str)
      (v, dirName, s"$root/$partCol=$dirName")
    }.sortBy(_._2).toList
    val held = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val parts = named.map { case (v, dirName, p) =>
        acquireLock(fs, p, waitMs)
        held += p
        val lease = new Lease(p)
        Part(v, dirName, p, lease, recoverAndExists(fs, p, lease))
      }
      Some(body(parts))
    } finally held.reverseIterator.foreach(p => forceUnlock(fs, p))
  }

  /** The fused partitioned publish under [[withPartitions]]' leases:
    * ONE partitioned write job produces every touched partition's new
    * contents under a sibling tmp tree of `root` (a stray one is crash
    * garbage — cleared first); then each partition swaps in with pure
    * METADATA renames. Job count is O(1) in touched partitions.
    *
    * A touched partition that the write left without rows (all
    * tombstoned, or all repaired away) gets a ZERO-ROW parquet
    * snapshot with schema — a bare `_SUCCESS` dir would crash the
    * NEXT cycle's read with "unable to infer schema". The empty
    * snapshot is WRITTEN ONCE and FS-copied per missing partition:
    * per-partition zero-row write JOBS would re-create the serial
    * driver-round-trip cost the fused publish removes (a retention
    * delta can tombstone hundreds of partitions).
    *
    * A crash mid-swap leaves some partitions published and some
    * retired; the next cycle's per-partition recovery reinstates them.
    * Whether to repartition `result` by `partCol` first (one file per
    * partition) is the caller's choice: every dir is swap-REPLACED, so
    * files never accumulate across cycles, and one task per partition
    * would serialize a large partition's output through a single task.
    */
  def publishPartitioned(spark: SparkSession, root: String, partCol: String,
                         result: DataFrame, parts: List[Part]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmpRoot = ptmpPath(root)
    val fs = tmpRoot.getFileSystem(conf)
    if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true)
    result.write.partitionBy(partCol)
      .mode(SaveMode.Overwrite).parquet(tmpRoot.toString)
    def written(p: Part) = new Path(s"$tmpRoot/$partCol=${p.dirName}")
    val missing = parts.filterNot(p => fs.exists(written(p)))
    if (missing.nonEmpty) {
      val key = nameKey(spark)
      val emptyDir = new Path(s"$tmpRoot/_graft_empty")
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(result.schema.fields.filterNot(f => key(f.name) == key(partCol))))
        .write.mode(SaveMode.Overwrite).parquet(emptyDir.toString)
      missing.foreach(p => FileUtil.copy(fs, emptyDir, fs, written(p), false, conf))
    }
    parts.foreach { p =>
      checkLease(p.lease, p.path)
      swap(fs, p.path, p.exists, written(p))
    }
    fs.delete(tmpRoot, true)
    ()
  }
}

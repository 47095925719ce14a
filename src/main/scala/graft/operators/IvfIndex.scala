package graft.operators

import graft.functions.VecOps
import graft.functions.expressions.VecExprs
import graft.pipeline.Snapshot
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) ANN index — the batch-amortized form
  * of the q37 operator (SURVEY.md §8): build once, store the corpus
  * PARTITIONED BY cluster id, and answer queries by reading only the
  * `nprobe` probed partitions. At 10⁹+ vectors this is the difference
  * between a full-corpus scan per query batch and touching nprobe/k of
  * the files (the parquet source prunes `cluster_id=` directories at
  * planning time — visible as PartitionFilters in the scan).
  *
  * The coarse quantizer is initialized k-means||-style (Bahmani et
  * al., VLDB'12): an oversampled candidate set is drawn in O(rounds)
  * distributed passes weighted by squared distance, then reduced to k
  * centers on the driver by weighted farthest-first traversal. All
  * "randomness" is md5-hash-derived from vec_ids (like the rest of
  * graft's hash family): rebuilding the index on any cluster layout
  * yields byte-identical centroids — an index is a reproducible
  * artifact, not a lottery ticket.
  */
object IvfIndex {

  final case class BuildInfo(k: Int, dim: Int, nVectors: Long)

  private def lockFile(path: String) = new Path(path + "._graft_lock")

  /** SINGLE-WRITER exclusion over the whole index tree — the
    * [[graft.pipeline]] Snapshot maintainer-lock pattern applied to
    * the IVF layout. Every mutating entry point ([[append]],
    * [[retrainIfNeeded]], [[dedupeVectors]], [[buildPq]]) runs its
    * WHOLE read-modify-publish cycle under this lock; without it, a
    * retrain that reads `index/`, rebuilds for minutes into a tmp
    * tree and then swaps would silently DROP any append that landed
    * (and was ledgered) during the rebuild — permanent loss, because
    * the appender's ledger says the batch applied. The streaming
    * sink ([[graft.streaming.Streams.applyIvfAppendBatch]]) holds the
    * same lock across its marker-append-ledger cycle, so batch-layer
    * retrains and streaming appends serialize instead of interleave.
    *
    * Acquisition polls up to `waitMs` (0 = fail immediately, the
    * batch-maintainer convention) then raises loudly — a held lock
    * means a live maintainer is mid-cycle, or a hard-killed one left
    * the marker behind (delete `<path>._graft_lock` after confirming
    * no live writer; a streaming sink restarted after a hard kill
    * needs this BEFORE its replay can self-heal — the lock file
    * survives the kill by design, exactly like the Snapshot
    * maintainer lock).
    *
    * Atomicity assumption (shared with [[graft.pipeline]]'s Snapshot
    * lock): `fs.create(overwrite = false)` must be an atomic
    * create-if-absent. True on HDFS and conditional-put object
    * stores; RawLocalFileSystem implements it as exists-then-create,
    * so CROSS-PROCESS exclusion on a plain local/NFS filesystem is
    * best-effort — two simultaneous acquisitions can both succeed.
    * Single-process composition (one JVM running the stream and the
    * batch policy) is exact everywhere.
    */
  def withIndexLock[T](spark: SparkSession, path: String,
                       waitMs: Long = 0L)(body: => T): T =
    graft.util.PathLock.withLock(spark, path, waitMs,
      what = "ivf index maintainer (append / retrain / dedupe / buildPq)")(
      body)

  /** Uniform-in-[0,1) hash noise from (vec_id, round) — deterministic
    * across executors, no RNG state. Built on the native
    * [[graft.functions.expressions.TextExprs.md5Lower64]] expression
    * (the same portable hash family as the rest of graft) rather than
    * a Scala UDF: the expression evaluates inline in the projection
    * with a thread-local digest, where a UDF would add serialization
    * plumbing and allocate a fresh MessageDigest per row.
    */
  private def unifCol(id: org.apache.spark.sql.Column, round: Int): org.apache.spark.sql.Column =
    graft.functions.expressions.TextExprs
      .md5Lower64(concat(id.cast("string"), lit(s"_r$round")))
      .bitwiseAND(lit((1L << 53) - 1))
      .cast("double") / (1L << 53).toDouble

  private def collectCenters(df: DataFrame): Seq[VecKmeans.Center] =
    VecKmeans.collectCenters(df)

  /** k-means|| oversampling: `rounds` distributed passes, each keeping
    * vectors with hash-noise below l·d²/Σd², then a driver-side
    * weighted farthest-first reduction to k centers.
    */
  private def initCenters(e: DataFrame, k: Int, rounds: Int): Seq[VecKmeans.Center] = {
    // seed: the vector whose id hashes lowest (any deterministic pick works)
    val seed = collectCenters(
      e.withColumn("u", unifCol(col("vec_id"), 0))
        .orderBy(col("u"), col("vec_id")).limit(1)
        .select(col("vec_id"), col("v"), col("nrm")))
    var cand = seed
    val l = 2 * k // oversampling factor per round
    var r = 1
    while (r <= rounds) {
      // minDistSq is a pure projection over the scan — nothing worth
      // caching across the two consumptions below beats re-scanning
      val scored = VecKmeans.minDistSq(e, cand).cache()
      val total = scored.agg(sum(col("d2"))).collect()(0).getDouble(0)
      if (total <= 0) { scored.unpersist(); return cand.take(k) } // degenerate: all points on centers
      val picked = collectCenters(
        scored
          .withColumn("u", unifCol(col("vec_id"), r))
          .filter(col("u") < col("d2") * l / total)
          .select(col("vec_id"), col("v"), col("nrm")))
      scored.unpersist()
      val seen = cand.map(_._1).toSet
      cand = cand ++ picked.filterNot(c => seen.contains(c._1))
      r += 1
    }
    // weight candidates by how many vectors they attract (shuffle-free
    // nearest-center assignment + a k-row count), then reduce to k by
    // weighted farthest-first traversal (deterministic)
    val weights = VecKmeans.assign(e, cand, keep = 1)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("weight"))
      .collect().map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    val byId = cand.map(c => c._1 -> c).toMap
    val ids = cand.map(_._1)
    def cos(a: Seq[Double], na: Double, b: Seq[Double], nb: Double): Double = {
      var acc = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { acc += a(i) * b(i); i += 1 }
      1.0 - acc / (na * nb)
    }
    val chosen = scala.collection.mutable.ArrayBuffer(
      ids.maxBy(id => (weights.getOrElse(id, 0L), -id))) // heaviest first
    while (chosen.size < math.min(k, ids.length)) {
      // farthest-first: maximize weight·(distance to nearest chosen)
      val next = ids.filterNot(chosen.contains).maxBy { id =>
        val c = byId(id)
        val d = chosen.map { cid =>
          val ch = byId(cid); cos(c._2, c._3, ch._2, ch._3)
        }.min
        (weights.getOrElse(id, 0L).toDouble * d, -id.toDouble)
      }
      chosen += next
    }
    chosen.map(byId).toSeq
  }

  private def embProjection(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), VecOps.toDoubles(col("embedding")).as("v"))
      .withColumn("nrm", VecExprs.l2(col("v")))

  /** Top-`topk` neighbors per query from candidate rows carrying
    * (query_id, qv, qn, vec_id, v, nrm) — the ONE definition of the
    * similarity, tie-break (sim desc, vec_id) and self-exclusion,
    * shared by query() and recall()'s brute-force ground truth so the
    * recall measurement can never drift from what queries actually
    * return.
    */
  private def rankTopK(cands: DataFrame, topk: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    cands
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (VecExprs.dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
      .dropDuplicates("query_id", "vec_id")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topk)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"),
        col("sim").as("cos_sim"))
  }

  /** Build and persist the index at `path`:
    *   path/centroids/   — (cluster_id, cv, cnrm), one small file
    *   path/index/       — (vec_id, embedding) PARTITIONED BY cluster_id
    */
  def build(spark: SparkSession, embeddings: DataFrame, path: String,
            k: Int = 64, initRounds: Int = 2, lloydIters: Int = 2): BuildInfo =
    withIndexLock(spark, path) {
      val info = buildUnlocked(spark, embeddings, path, k, initRounds,
        lloydIters)
      // a rebuilt index takes a fresh stream: forget the sink's applied
      // batches and any pending append of the replaced index
      graft.streaming.BatchLedger.reset(spark, path)
      val marker = new Path(pendingPath(path))
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(marker, false)
      info
    }

  /** The streaming sink's pending-append marker, beside the index
    * ([[graft.streaming.Streams.applyIvfAppendBatch]]).
    */
  private[graft] def pendingPath(path: String): String = s"$path._pending_batch"

  private[graft] def buildUnlocked(spark: SparkSession, embeddings: DataFrame,
                                   path: String, k: Int, initRounds: Int,
                                   lloydIters: Int): BuildInfo = {
    val e = embProjection(embeddings).cache()
    // fail with a clear message instead of an NPE deep inside the
    // k-means|| sampling aggregates
    require(!e.isEmpty, "IvfIndex.build: embeddings input is empty")
    val init = initCenters(e, k, initRounds)
    var centroids: Seq[VecKmeans.Center] =
      init.zipWithIndex.map { case (c, i) => (i.toLong, c._2, c._3) }
    var it = 0
    while (it < lloydIters) {
      centroids = collectCenters(
        VecKmeans.recenter(VecKmeans.assign(e, centroids, keep = 1)))
      it += 1
    }
    spark.createDataFrame(centroids).toDF("cluster_id", "cv", "cnrm")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$path/centroids")
    // repartition BY THE PARTITION KEY before every cluster-
    // partitioned write (here and in append/dedupe/PQ below): without
    // it each task writes one file into every cluster dir it holds —
    // tasks x k files per write, and the APPEND path accumulates that
    // per micro-batch — with it, one file per touched cluster per write
    VecKmeans.assign(e, centroids, keep = 1)
      .select(col("cluster_id"), col("vec_id"), col("v").as("embedding"))
      .repartition(col("cluster_id"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cluster_id")
      .parquet(s"$path/index")
    val n = e.count()
    val dim = e.select(size(col("v"))).head().getInt(0)
    e.unpersist()
    // meta records the BUILT corpus size and build params — the
    // re-train policy measures appended drift against it
    spark.createDataFrame(Seq((k, dim, n, initRounds, lloydIters)))
      .toDF("k", "dim", "nVectors", "initRounds", "lloydIters")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/meta")
    BuildInfo(k, dim, n)
  }

  /** Crash recovery for the index's publishes ([[Snapshot.recover]]):
    * a failure between the two swap renames leaves the previous index
    * retired and nothing at `path` — reinstate it so the index is
    * never lost. Called by every read entry point that can follow a
    * retrain or dedupe.
    *
    * Lock awareness: when the caller does NOT hold the maintainer
    * lock (readers) and the lock file is present, a missing target is
    * a LIVE maintainer mid-swap, not a crash — "repairing" it would
    * rename the retired tree back under the maintainer's second
    * rename. Refuse with a retry hint instead of racing. Without the
    * lock, only the mid-swap state is repaired.
    */
  private def recoverRetrain(spark: SparkSession, path: String,
                             lockHeld: Boolean = false): Unit = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (lockHeld || Snapshot.midSwap(fs, path)) {
      if (!lockHeld && fs.exists(lockFile(path)))
        throw new IllegalStateException(
          s"ivf index at $path is mid-publish (maintainer lock held and " +
            "the target is between its two swap renames) — retry once " +
            "the maintainer completes")
      Snapshot.recover(fs, path)
    }
    ()
  }

  /** Fraction of the index appended since the last build: append()
    * assigns to FROZEN centroids, so as this grows the centroids drift
    * from the true cluster means and recall decays.
    */
  def appendedFraction(spark: SparkSession, path: String): Double = {
    recoverRetrain(spark, path)
    val built = spark.read.parquet(s"$path/meta")
      .head().getAs[Long]("nVectors")
    val cur = spark.read.parquet(s"$path/index").count()
    if (built <= 0) Double.PositiveInfinity
    else (cur - built).toDouble / built
  }

  /** Re-train policy: when appended volume passes `threshold` of the
    * built volume, rebuild the quantizer over the FULL current corpus
    * (resident + appended) with the original build parameters, into a
    * sibling temp dir, then swap — readers see the old index until the
    * new one is complete. Returns the new BuildInfo, or None when the
    * index is still fresh enough.
    */
  /** Measured recall of the index against brute-force ground truth on
    * a deterministic probe sample: `sampleN` corpus vectors (lowest
    * portable hash of vec_id — uncorrelated with insertion order or
    * cluster), each queried top-`topk` through the index at `nprobe`,
    * scored as |ivf ∩ exact| / |exact|. This is the metric the
    * volume-based re-train threshold is a proxy for — use it directly
    * via retrainIfNeeded(minRecall = …) when recall SLOs matter more
    * than rebuild cost (the measurement reads the full corpus once for
    * the ground truth; cheap next to a rebuild, not free).
    */
  def recall(spark: SparkSession, path: String, sampleN: Int = 20,
             nprobe: Int = 8, topk: Int = 10): Double = {
    recoverRetrain(spark, path)
    // net of tombstones on BOTH the sample and the brute-force truth
    // side, so recall never "misses" a vector no query can return
    val corpus = antiDeleted(spark, path,
      spark.read.parquet(s"$path/index"))
      .select(col("vec_id"), col("embedding"))
    // materialize the sample to the driver (≤ sampleN tiny rows): the
    // global hash-sort would otherwise re-execute for every one of the
    // ~4 plans below that consume it
    val sampleRows = corpus
      .orderBy(graft.functions.expressions.TextExprs
        .md5Lower64(col("vec_id").cast("string")), col("vec_id"))
      .limit(sampleN)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val sample = spark.createDataFrame(sampleRows)
      .toDF("vec_id", "embedding")
    val ivf = query(spark, path, sample, nprobe, topk)
      .select(col("query_id"), col("neighbor_id"))
    // brute-force ground truth over the same corpus through the SAME
    // rankTopK kernel query() uses (sim, tie-break, self-exclusion)
    val e = embProjection(corpus)
    val q = embProjection(sample)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val truth = rankTopK(e.crossJoin(broadcast(q)), topk)
      .select(col("query_id"), col("neighbor_id"))
    val nTruth = truth.count()
    if (nTruth == 0) return 1.0
    val hit = ivf.join(truth, Seq("query_id", "neighbor_id")).count()
    hit.toDouble / nTruth
  }

  /** @param minRecall optional recall SLO, measured at the CALLER's
    *                   query setting (`nprobe`/`topk`) — a floor
    *                   checked at defaults the workload doesn't use is
    *                   meaningless (and at nprobe ≥ k recall is
    *                   identically 1). Only consulted when appends
    *                   exist: a rebuild re-fits centroids to absorbed
    *                   drift, it cannot raise a fresh index's
    *                   INTRINSIC recall — without that guard an index
    *                   whose intrinsic recall sits below the floor
    *                   would rebuild on every single call, forever.
    */
  def retrainIfNeeded(spark: SparkSession, path: String,
                      threshold: Double = 0.25,
                      minRecall: Option[Double] = None,
                      recallSampleN: Int = 20,
                      nprobe: Int = 8, topk: Int = 10): Option[BuildInfo] =
    // the lock spans MEASURE + rebuild + swap: deciding from a read
    // outside the lock would let an append land between the decision
    // and the rebuild's corpus read (a smaller lost-update of the
    // same class the lock exists for)
    withIndexLock(spark, path) {
      retrainIfNeededUnlocked(spark, path, threshold, minRecall,
        recallSampleN, nprobe, topk)
    }

  private[graft] def retrainIfNeededUnlocked(
      spark: SparkSession, path: String, threshold: Double,
      minRecall: Option[Double], recallSampleN: Int,
      nprobe: Int, topk: Int): Option[BuildInfo] = {
    // recover under OUR lock before the reader-path helpers run: they
    // recover with lockHeld = false and would mistake our own lock
    // for a live foreign maintainer if a prior crash left the target
    // mid-swap
    recoverRetrain(spark, path, lockHeld = true)
    val frac = appendedFraction(spark, path)
    val drifted = frac >= threshold
    // recall is the expensive check — only measure when volume alone
    // hasn't already decided, and only when there is drift a rebuild
    // could actually absorb
    val degraded = !drifted && frac > 0 && minRecall.exists(target =>
      recall(spark, path, sampleN = recallSampleN,
        nprobe = nprobe, topk = topk) < target)
    if (!drifted && !degraded) return None
    val meta = spark.read.parquet(s"$path/meta").head()
    // a PQ sidecar must survive the rebuild: capture its FULL build
    // params now (m, ksub, iters, sampleN — from the pq/meta the
    // original buildPq wrote), re-train it on the NEW index after the
    // swap (fresh clusters AND a fresh codebook — appended drift is
    // exactly what both absorb). Falling back to shape-only would
    // silently reset custom iters/sampleN to defaults.
    val pqParams = if (hasPq(spark, path)) {
      val metaP = new Path(s"$path/pq/meta")
      val pfs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (pfs.exists(metaP)) {
        val r = spark.read.parquet(s"$path/pq/meta").head()
        Some((r.getAs[Int]("m"), r.getAs[Int]("ksub"),
          r.getAs[Int]("iters"), r.getAs[Int]("sampleN")))
      } else { // sidecar predates pq/meta: shape from the codebook, defaults otherwise
        val cb = PqCodec.load(spark, s"$path/pq/codebook")
        Some((cb.m, cb.ksub, PqCodec.DefaultIters, PqCodec.DefaultSampleN))
      }
    } else None
    val tmp = path + "._graft_retrain"
    // a previously CRASHED retrain may have left a tmp tree; build()
    // overwrites only index/meta/centroids, so a stale pq/ sidecar in
    // it — codes trained against DIFFERENT centroids — would otherwise
    // be published atomically with the fresh index when the current
    // index has no sidecar of its own (pqParams None), and queryPq
    // would silently return wrong shortlists. Start from nothing.
    val fs = new Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(tmp))) fs.delete(new Path(tmp), true)
    // net of tombstones: the rebuild IS a compaction — the new tree
    // starts log-free (the in-tree log dies with the retired tree in
    // the swap) and must not resurrect deleted vectors
    val corpus = antiDeleted(spark, path,
      spark.read.parquet(s"$path/index"))
      .select(col("vec_id"), col("embedding"))
    // Unlocked forms: the tmp tree is private to this cycle, and the
    // LIVE path's lock is already held by the public wrapper
    val info = buildUnlocked(spark, corpus, tmp,
      k = meta.getAs[Int]("k"),
      initRounds = meta.getAs[Int]("initRounds"),
      lloydIters = meta.getAs[Int]("lloydIters"))
    // re-train the PQ sidecar INTO THE TMP TREE, before the swap: the
    // rename then publishes index + sidecar atomically — a crash at
    // any point leaves either the complete old index (sidecar intact)
    // or the complete new one, never an index whose queryPq lost its
    // codes
    pqParams.foreach { case (m, ksub, iters, sampleN) =>
      buildPqUnlocked(spark, tmp, m, ksub, iters, sampleN) }
    Snapshot.swap(fs, path, exists = true, new Path(tmp))
    Some(info)
  }

  /** Incremental update: assign `newVectors` to the EXISTING centroids
    * and append them to their inverted-list partitions — no rebuild,
    * no rewrite of resident data (parquet append into the partitioned
    * layout only adds files to the touched `cluster_id=` dirs). The
    * trade: centroids drift away from the true means as the corpus
    * grows — re-run build() periodically (e.g. when appended volume
    * passes a fraction of the indexed volume) to re-train.
    */
  /** The tombstoned vec_ids (one `vec_id` BIGINT column), if any
    * vector was [[deleteVectors]]'d since the last compaction — the
    * delete-bitmap face every persisted artifact here carries
    * (Search.deletedIds, NearDupIndex.deletedIds). Append-only,
    * read distinct; a crashed delete leaves a partial prefix and the
    * re-run completes it (monotone).
    */
  def deletedIds(spark: SparkSession, path: String): Option[DataFrame] =
    graft.util.TombstoneLog.ids(spark, s"$path/deleted", "vec_id")

  private def antiDeleted(spark: SparkSession, path: String,
                          df: DataFrame): DataFrame =
    graft.util.TombstoneLog.anti(spark, s"$path/deleted", "vec_id", df)

  /** Right-to-be-forgotten for the ANN index: tombstone vectors OUT
    * without rewriting the inverted lists — ids land in the in-tree
    * append-only `deleted/` log and every query face ([[query]],
    * [[queryPq]], [[recall]]) anti-filters against it (broadcast,
    * delete-list-sized — partition pruning on the probed clusters is
    * untouched). The bytes — raw vectors AND the PQ sidecar's codes —
    * stay until the next full-tree rewrite reclaims them: both
    * [[dedupeVectors]] (the scheduled compaction) and a
    * [[retrainIfNeeded]] rebuild apply the tombstones physically and
    * start the new tree log-free (the in-tree log dies with the
    * retired tree in the same atomic swap, so reclaim and log-clear
    * cannot be separated by a crash).
    */
  def deleteVectors(spark: SparkSession, path: String, ids: Seq[Long],
                    waitMs: Long = 0L): Unit = {
    if (ids.isEmpty) return
    withIndexLock(spark, path, waitMs) {
      recoverRetrain(spark, path, lockHeld = true)
      graft.util.TombstoneLog.append(spark, s"$path/deleted", "vec_id", ids)
    }
  }

  def append(spark: SparkSession, path: String,
             newVectors: DataFrame): Long =
    withIndexLock(spark, path) { appendUnlocked(spark, path, newVectors) }

  /** [[append]] without acquiring the maintainer lock — for callers
    * that already hold it over a wider cycle (the streaming sink's
    * marker-append-ledger sequence).
    */
  private[graft] def appendUnlocked(spark: SparkSession, path: String,
                                    newVectors: DataFrame): Long = {
    recoverRetrain(spark, path, lockHeld = true)
    // tombstoned-id RE-ADDS refuse (the maintainIndex rule): the
    // delete filter would silently hide the new vector forever
    deletedIds(spark, path).foreach { dead =>
      val readds = embProjection(newVectors).select(col("vec_id"))
        .join(broadcast(dead), Seq("vec_id")).limit(1).count()
      require(readds == 0L,
        "IvfIndex.append: batch re-adds tombstoned vec_ids — the " +
          "delete filter would silently hide them; run " +
          "IvfIndex.dedupeVectors (the compaction) first")
    }
    val centroids = collectCenters(spark.read.parquet(s"$path/centroids"))
    val e = embProjection(newVectors)
    // one materialization: the count must describe the rows actually
    // written, not a second execution of the caller's plan (which
    // could differ for a changing source)
    val assigned = VecKmeans.assign(e, centroids, keep = 1)
      .select(col("cluster_id"), col("vec_id"), col("v").as("embedding"))
      .cache()
    try {
      val n = assigned.count()
      assigned.repartition(col("cluster_id"))
        .write.mode(SaveMode.Append)
        .partitionBy("cluster_id")
        .parquet(s"$path/index")
      // keep the PQ sidecar in lockstep: encode the appended vectors
      // with the EXISTING codebook (frozen, like the centroids) —
      // without this, queryPq could never return appended vectors
      // while query() does
      if (hasPq(spark, path)) {
        val cb = PqCodec.load(spark, s"$path/pq/codebook")
        PqCodec.encode(assigned.select(col("vec_id"), col("embedding")), cb)
          .join(assigned.select(col("cluster_id"), col("vec_id")), "vec_id")
          .repartition(col("cluster_id"))
          .write.mode(SaveMode.Append)
          .partitionBy("cluster_id")
          .parquet(s"$path/pq/codes")
      }
      n
    } finally { assigned.unpersist(); () }
  }

  /** The index's COMPACTION: remove duplicate vec_ids AND
    * [[deleteVectors]]-tombstoned vectors from the index (and the PQ
    * code sidecar when present), publishing atomically through the
    * retrain swap machinery — the repair for a HALF-APPLIED
    * [[append]] (parquet append is not idempotent; a crashed
    * appender's replay can write rows twice) and the scheduled RTBF
    * byte-reclaim. Duplicates of a vec_id are byte-identical (same
    * vector, same frozen-centroid assignment, same codebook encoding),
    * so keep-any is exact. The in-tree tombstone log dies with the
    * retired tree in the same swap — reclaim and log-clear are one
    * atomic event. Returns the number of rows removed.
    *
    * Crash-safe like retrain: a failure between the two publish
    * renames is repaired by the next entry point's recovery; a
    * failure before the swap leaves the old index untouched (the tmp
    * tree is wiped on the next attempt).
    */
  def dedupeVectors(spark: SparkSession, path: String): Long =
    withIndexLock(spark, path) { dedupeVectorsUnlocked(spark, path) }

  /** [[dedupeVectors]] without acquiring the maintainer lock — see
    * [[appendUnlocked]].
    */
  private[graft] def dedupeVectorsUnlocked(spark: SparkSession,
                                           path: String): Long = {
    recoverRetrain(spark, path, lockHeld = true)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    // the write-beside dir; the recovery above cleared a stray one
    val tmp = Snapshot.tmpPath(path).toString
    val idx = spark.read.parquet(s"$path/index")
    val deduped = antiDeleted(spark, path, idx)
      .select(col("cluster_id"), col("vec_id"), col("embedding"))
      .dropDuplicates("vec_id")
      .cache()
    try {
      val before = idx.count()
      val after = deduped.count()
      deduped.repartition(col("cluster_id"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("cluster_id").parquet(s"$tmp/index")
      // everything that is NOT per-vector data copies byte-identical
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(s"$path/centroids"),
        fs, new Path(s"$tmp/centroids"), false, conf)
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(s"$path/meta"),
        fs, new Path(s"$tmp/meta"), false, conf)
      if (hasPq(spark, path)) {
        org.apache.hadoop.fs.FileUtil.copy(fs, new Path(s"$path/pq"),
          fs, new Path(s"$tmp/pq"), false, conf)
        // the codes ARE per-vector: re-publish them deduped and net
        // of tombstones too (a victim's PQ codes are its bytes)
        fs.delete(new Path(s"$tmp/pq/codes"), true)
        antiDeleted(spark, path, spark.read.parquet(s"$path/pq/codes"))
          .dropDuplicates("vec_id")
          .repartition(col("cluster_id"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("cluster_id").parquet(s"$tmp/pq/codes")
      }
      Snapshot.swap(fs, path, exists = true, new Path(tmp))
      // the session caches parquet file listings per path — the swap
      // would otherwise serve the retired file list to the next read
      spark.catalog.refreshByPath(path)
      before - after
    } finally { deduped.unpersist(); () }
  }

  private[graft] def hasPq(spark: SparkSession, path: String): Boolean = {
    val p = new Path(s"$path/pq/codebook")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Train a PQ codebook on the indexed corpus and write the PQ
    * sidecar — `path/pq/codebook/` plus `path/pq/codes/` partitioned
    * by cluster_id like the index itself. With the sidecar in place,
    * [[queryPq]] ranks candidates from the m-byte codes instead of the
    * raw vectors: at 10⁹+ vectors the codes for a whole inverted list
    * fit in memory where the float32 vectors would not — the IVF-PQ
    * layout (Jégou et al.).
    */
  def buildPq(spark: SparkSession, path: String, m: Int = 8,
              ksub: Int = 16, iters: Int = PqCodec.DefaultIters,
              sampleN: Int = PqCodec.DefaultSampleN): Unit =
    withIndexLock(spark, path) {
      buildPqUnlocked(spark, path, m, ksub, iters, sampleN)
    }

  private[graft] def buildPqUnlocked(spark: SparkSession, path: String,
                                     m: Int, ksub: Int, iters: Int,
                                     sampleN: Int): Unit = {
    recoverRetrain(spark, path, lockHeld = true)
    val index = spark.read.parquet(s"$path/index")
    val cb = PqCodec.train(
      index.select(col("vec_id"), col("embedding")), m, ksub, iters, sampleN)
    PqCodec.save(spark, cb, s"$path/pq/codebook")
    PqCodec.encode(index.select(col("vec_id"), col("embedding")), cb)
      .join(index.select(col("cluster_id"), col("vec_id")), "vec_id")
      .repartition(col("cluster_id"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cluster_id")
      .parquet(s"$path/pq/codes")
    // persist the TRAINING params too (not just the codebook shape):
    // retrainIfNeeded replays them so a rebuild trains the new
    // codebook exactly the way the original was trained
    spark.createDataFrame(Seq((m, ksub, iters, sampleN)))
      .toDF("m", "ksub", "iters", "sampleN")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/pq/meta")
  }

  /** IVF-PQ query: probe `nprobe` inverted lists, shortlist
    * `rerank` candidates per query by ADC over the PQ codes (m table
    * lookups per candidate, no vector reads), then re-rank ONLY the
    * shortlist exactly through the same [[rankTopK]] kernel as
    * [[query]] — identical output schema and tie-break, so the two
    * paths are drop-in interchangeable. The ADC shortlist is
    * L2-based (the PQ metric); the exact re-rank restores the cosine
    * ranking, so a too-small `rerank` costs recall, never wrong
    * similarity values.
    */
  def queryPq(spark: SparkSession, path: String, queries: DataFrame,
              nprobe: Int = 8, topk: Int = 10,
              rerank: Int = 40): DataFrame = {
    recoverRetrain(spark, path)
    require(hasPq(spark, path),
      s"no PQ sidecar at $path/pq — run IvfIndex.buildPq first")
    val cb = PqCodec.load(spark, s"$path/pq/codebook")
    val centroids = collectCenters(spark.read.parquet(s"$path/centroids"))
    val q = embProjection(queries)
    val probes = VecKmeans.assign(q, centroids, keep = nprobe)
      .select(col("vec_id").as("query_id"), col("cluster_id"))
    val probedClusters = probes.select(col("cluster_id")).distinct()
      .collect().map(_.getLong(0))
    val codes = antiDeleted(spark, path,
      spark.read.parquet(s"$path/pq/codes")
        .filter(col("cluster_id").isin(probedClusters.toSeq: _*)))
    // nulls LAST: adcDist returns NULL for a corrupt codes/table shape,
    // and ascending-default would rank NULL first — degenerate rows
    // must lose shortlist slots, not monopolize them
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist").asc_nulls_last, col("vec_id"))
    // two separate broadcasts: the (query_id, cluster_id) probe pairs
    // and the ONE-row-per-query distance table — attaching tbl before
    // the cluster join would broadcast each m·ksub table nprobe times
    val shortlist = codes.join(broadcast(probes), Seq("cluster_id"))
      .join(broadcast(PqCodec.distTable(queries, cb)), Seq("query_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("approx_dist",
        PqCodec.adcDist(col("codes"), col("tbl")))
      .dropDuplicates("query_id", "vec_id")
      .withColumn("rnk", row_number().over(wAdc))
      .filter(col("rnk") <= rerank)
      .select(col("query_id"), col("vec_id"))
    // exact re-rank: read raw vectors ONLY for the shortlist (probed
    // partitions pruned, then a broadcast semi-join on the shortlist)
    val raw = spark.read.parquet(s"$path/index")
      .filter(col("cluster_id").isin(probedClusters.toSeq: _*))
      .select(col("vec_id"), col("embedding").as("v"))
      .join(broadcast(shortlist), Seq("vec_id"))
      .withColumn("nrm", VecExprs.l2(col("v")))
    val qSide = q.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("nrm").as("qn"))
    rankTopK(raw.join(broadcast(qSide), Seq("query_id")), topk)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Top-`topk` neighbors for each query vector, probing `nprobe`
    * inverted lists. The cluster_id IN (…) filter is a PARTITION
    * filter: only the probed directories are read.
    */
  def query(spark: SparkSession, path: String, queries: DataFrame,
            nprobe: Int = 8, topk: Int = 10): DataFrame = {
    recoverRetrain(spark, path)
    val centroids = collectCenters(spark.read.parquet(s"$path/centroids"))
    val q = embProjection(queries)
      .select(col("vec_id"), col("v"), col("nrm"))
    val probes = VecKmeans.assign(q, centroids, keep = nprobe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cluster_id"))
    val probedClusters = probes.select(col("cluster_id")).distinct()
      .collect().map(_.getLong(0))
    val index = antiDeleted(spark, path,
      spark.read.parquet(s"$path/index")
        .filter(col("cluster_id").isin(probedClusters.toSeq: _*)))
      .select(col("cluster_id"), col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", VecExprs.l2(col("v")))
    rankTopK(index.join(broadcast(probes), Seq("cluster_id")), topk)
      .orderBy(col("query_id"), col("rnk"))
  }
}

package graft.operators

import graft.functions.expressions.TextExprs
import graft.util.ExecScope
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PERSISTED, INCREMENTALLY-MAINTAINED near-dup component index — the
  * maintainer form of q53. A 100 TB corpus takes monthly snapshot
  * refreshes of new crawl data; re-running signatures + LSH + label
  * propagation over the WHOLE corpus per refresh is the O(corpus)
  * re-join the maintainer family exists to kill (StatsMaintain for
  * aggregates, ViewMaintain for joins — this is the same contract for
  * near-dup clustering). [[maintain]]'s WORK is delta-sized — only
  * the NEW docs' signatures, the LSH buckets they collide into, and
  * the members of components those collisions reach generate pairs or
  * relabels; unaffected label shards' FILES are never rewritten
  * (mtime-pinned). IO (r12): the stores are PARTITIONED BY THEIR
  * PROBE KEYS — `bands/pb=K` by a bucket-key hash, `sigs/ps=K` by
  * doc_id — and every maintain probe filters on the batch's partition
  * values FIRST (≤ storeParts literals, collected from delta-sized
  * aggregates), so the collision and signature lookups read only the
  * probed partitions' files, never the whole store (spec-pinned via
  * inputFiles; the r11 layout column-pruned-scanned the full store
  * per maintain).
  *
  * Layout under `path/`:
  *  - `labels/shard=K/…` — (doc_id, component), component = min
  *    reachable doc_id (the q53 convention; docs in NO pair are
  *    absent = singletons). Maintained via
  *    [[graft.pipeline.Merge.upsertPartitioned]], so a maintain
  *    rewrites ONLY shards holding relabeled docs and each shard
  *    swaps atomically (shard = doc_id mod nShards).
  *  - `sigs/ps=K/`, `bands/pb=K/` — append-only partitioned stores of
  *    every indexed doc's MinHash signature and LSH band rows: what
  *    lets a later maintain find old↔new collisions WITHOUT
  *    re-signaturing the corpus.
  *  - `deleted/` — append-only tombstone log ([[forget]]), the Lucene
  *    delete-bitmap shape [[Search.deleteDocs]] uses: probes
  *    anti-filter against it (broadcast, delete-list-sized) until
  *    [[compactStores]] reclaims the bytes.
  *  - `meta/` — (minEst, cap, nShards, storeParts, ver).
  *
  * Incremental relabeling: verified new pairs ∪ one anchor edge
  * (member → its current component id) per member of every TOUCHED
  * component feed the SAME [[LabelProp]] kernel q53 runs — the
  * subgraph is candidate-sized, never corpus-sized, and since the
  * component id IS its minimum member id (a real node), min-label
  * propagation over anchors + new edges yields exactly the one-shot
  * labels: two old components merged by a bridging new doc both pull
  * their members in and relabel to the global min.
  *
  * Consistency with one-shot q53: identical except at the hot-bucket
  * cap boundary — a bucket whose FULL population exceeds `cap` but
  * whose build-time slice did not contributes its build-slice pairs
  * here and none one-shot. The cap exists to kill degenerate
  * boilerplate buckets (q31 scaladoc); on such buckets both paths
  * agree (always over cap). Maintains evaluate the cap over the
  * bucket's full (resident + new) population.
  *
  * Crash contract (the [[graft.pipeline.Snapshot]] family's): every
  * entry point runs under the whole-cycle [[graft.util.PathLock]] and
  * first repairs any interrupted store swap ([[compactStores]]'s
  * two-rename protocol); a crashed maintain MUST be re-run with the
  * SAME batch (the streaming sink's ledger guarantees this) —
  * re-running converges: the probe dedupes store rows and treats the
  * batch's ids as purely new again, the label upsert re-publishes the
  * same winners, and leftover duplicate store rows only bloat
  * (correctness-neutral — the cap and candidates see DISTINCT docs;
  * [[compactStores]] GCs them). A crashed [[forget]] re-runs safely
  * by monotonicity (the log append is prefix-safe, the label
  * tombstones idempotent). A HARD KILL can leave lock markers at BOTH
  * levels — `<path>._graft_lock` and, if it died inside the label
  * publish, a per-shard `labels/shard=K._graft_lock` — delete every
  * `*._graft_lock` under the tree after confirming no live writer,
  * then re-run the batch.
  */
object NearDupIndex {

  final case class Stats(newDocs: Long, verifiedPairs: Long,
                         relabeled: Long)

  private def metaPath(path: String) = s"$path/meta"
  private def labelsPath(path: String) = s"$path/labels"
  private def sigsPath(path: String) = s"$path/sigs"
  private def bandsPath(path: String) = s"$path/bands"
  private def deletedPath(path: String) = s"$path/deleted"

  private final case class Meta(minEst: Double, cap: Int, nShards: Int,
                                storeParts: Int, ver: Long)

  private def readMeta(spark: SparkSession, path: String): Meta = {
    // another process's maintain overwrote meta/ under the lock we
    // now hold — drop any cached listing or this read serves (or
    // trips over) the retired part file
    spark.catalog.refreshByPath(metaPath(path))
    val df = spark.read.parquet(metaPath(path))
    require(df.columns.contains("storeParts"),
      s"near-dup index at $path was built by a pre-partitioned-store " +
        "layout — rebuild it with NearDupIndex.build (the r12 layout " +
        "partitions sigs/bands by their probe keys)")
    val r = df.head()
    Meta(r.getAs[Double]("minEst"), r.getAs[Int]("cap"),
      r.getAs[Int]("nShards"), r.getAs[Int]("storeParts"),
      r.getAs[Long]("ver"))
  }

  private def writeMeta(spark: SparkSession, path: String, m: Meta): Unit =
    spark.createDataFrame(
      Seq((m.minEst, m.cap, m.nShards, m.storeParts, m.ver)))
      .toDF("minEst", "cap", "nShards", "storeParts", "ver")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(metaPath(path))

  /** Band rows (band, bkey, doc_id, sig) for a signature frame. */
  private def bandRows(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
      posexplode(TextExprs.bandKeys(col("sig"), NearDup.B, NearDup.R))
        .as(Seq("band", "bkey")))
      .select(col("band"), col("bkey"), col("doc_id"), col("sig"))

  /** Store partition keys: the bands store is probed by (band, bkey)
    * collisions — a hash of bkey spreads buckets evenly; the sigs
    * store is probed by matched doc ids. INT-typed on both the write
    * and the probe literals so partition pruning compares without a
    * cast (discovery infers int32 from the directory names).
    */
  private def pbCol(parts: Int) =
    pmod(xxhash64(col("bkey")), lit(parts.toLong)).cast("int")
  private def psCol(parts: Int) =
    pmod(col("doc_id"), lit(parts.toLong)).cast("int")

  // explicit store schemas: a schema-INFERENCE read costs a footer
  // job over an arbitrary store file before any partition filter can
  // prune — the probe must never open an un-probed partition, not
  // even for a footer (spec pins this by corrupting the rest)
  private val BandsSchema = "band INT, bkey INT, doc_id LONG, pb INT"
  private val SigsSchema = "doc_id LONG, sig ARRAY<INT>, ps INT"

  /** The tombstoned doc ids, if any were ever [[forget]]'d since the
    * last [[compactStores]]. Append-only, read distinct (a crashed
    * forget leaves a partial id set — safe: tombstoning is monotone
    * and the re-run completes it).
    */
  def deletedIds(spark: SparkSession, path: String): Option[DataFrame] =
    graft.util.TombstoneLog.ids(spark, deletedPath(path), "doc_id")

  private def antiDead(spark: SparkSession, path: String,
                       df: DataFrame): DataFrame =
    graft.util.TombstoneLog.anti(spark, deletedPath(path), "doc_id", df)

  /** The partition-pruned bands probe: only partitions holding the
    * probed bucket-key hashes are read (`pbs` has at most storeParts
    * values — the literal list can never explode the way a
    * per-bucket-key IN would). Net of tombstones. Exposed
    * private[graft] so the spec can pin the pruning on inputFiles.
    */
  private[graft] def prunedBands(spark: SparkSession, path: String,
                                 pbs: Seq[Int]): DataFrame = {
    spark.catalog.refreshByPath(bandsPath(path))
    antiDead(spark, path,
      spark.read.schema(BandsSchema).parquet(bandsPath(path))
        .filter(col("pb").isin(pbs: _*)))
  }

  /** The partition-pruned sigs probe ([[prunedBands]]'s contract for
    * the signature store, keyed by doc_id mod storeParts).
    */
  private[graft] def prunedSigs(spark: SparkSession, path: String,
                                pss: Seq[Int]): DataFrame = {
    spark.catalog.refreshByPath(sigsPath(path))
    antiDead(spark, path,
      spark.read.schema(SigsSchema).parquet(sigsPath(path))
        .filter(col("ps").isin(pss: _*)))
  }

  /** The bands-store partition values a batch's probe filters on —
    * the ONE pb derivation ([[pbCol]] over [[bandRows]]), exposed so
    * the spec can corrupt every OTHER partition and pin that a
    * maintain never opens them.
    */
  private[graft] def probeKeysOf(docs: DataFrame,
                                 storeParts: Int): Seq[Int] =
    bandRows(NearDup.signatures(docs))
      .select(pbCol(storeParts).as("pb")).distinct()
      .collect().map(_.getInt(0)).toSeq

  /** Repair an interrupted [[compactStores]] swap and clear stray tmp
    * trees ([[graft.pipeline.Snapshot.recover]] per store). Runs at
    * every entry point, under the caller's lock.
    */
  private def recoverStores(spark: SparkSession, path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(bandsPath(path), sigsPath(path)).foreach { p =>
      graft.pipeline.Snapshot.recover(fs, p)
      spark.catalog.refreshByPath(p)
    }
  }

  /** Publish `labels` (node, component) into the sharded layout at
    * version `ver` — only shards holding relabeled docs are rewritten.
    */
  private def publishLabels(spark: SparkSession, path: String,
                            labels: DataFrame, nShards: Int,
                            ver: Long): Unit = {
    val upd = labels.select(col("node").as("doc_id"), col("component"))
      .withColumn("shard", pmod(col("doc_id"), lit(nShards.toLong)))
      .withColumn("ver", lit(ver))
    // delta-sized shard merges: one task/file per touched shard
    // (clusterWrite), stats discarded
    graft.pipeline.Merge.upsertPartitioned(spark, labelsPath(path), upd,
      "shard", Seq("doc_id"), "ver", needStats = false,
      clusterWrite = true)
    ()
  }

  /** Driver union-find over a collected delta subgraph: component =
    * min reachable id, exactly [[LabelProp]]'s labels (union by
    * smaller root keeps every set's root AT its minimum, so find()
    * IS the component id).
    */
  private def unionFindMin(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toSeq.map(k => k -> find(k))
  }

  /** Build the index from the initial corpus snapshot. `storeParts`
    * sizes the store partitioning (≈ files a maintain probe opens per
    * touched partition value; at 100 TB raise it so each partition's
    * bytes stay scan-able).
    */
  def build(spark: SparkSession, path: String, docs: DataFrame,
            minEst: Double = 0.5, cap: Int = 100,
            nShards: Int = 16, storeParts: Int = 16): Stats =
    graft.util.PathLock.withLock(spark, path,
      what = "near-dup index maintainer") {
      val sigs = NearDup.signatures(docs).cache()
      // eager materialization (r19, the SimJoin r18 lesson applied to
      // the index build): the LSH candidate chain fans this cache into
      // concurrent AQE/broadcast stage futures that otherwise all race
      // the lazily-built entry — profiled on the cold q113 build as
      // 32-task stages with executorRunTime ≫ executorCpuTime (tasks
      // blocked on the computing task's block lock, ~0 CPU)
      sigs.count()
      try {
        val pairs = NearDup.scoredCandidates(sigs, minEst, cap)
          .select(col("doc_a"), col("doc_b")).cache()
        val lbl = LabelProp.components(pairs, "doc_a", "doc_b")
        val (nPairs, nLabeled) = try {
          // bootstrap is ONE partitioned write, not a per-shard merge
          // cycle (the target is empty — there is nothing to merge
          // with, and nShards per-shard upserts would cost nShards
          // read-merge-publish rounds for no semantic gain); the
          // resulting shard=K dirs are exactly what maintain's
          // per-shard Merge.upsert then swaps
          lbl.select(col("node").as("doc_id"), col("component"))
            .withColumn("shard", pmod(col("doc_id"), lit(nShards.toLong)))
            .withColumn("ver", lit(0L))
            .write.partitionBy("shard")
            .mode(SaveMode.Overwrite).parquet(labelsPath(path))
          (pairs.count(), lbl.count())
        } finally { pairs.unpersist(); () }
        // repartition BY THE PARTITION KEY before the partitioned
        // write: without it every task writes a file into every
        // pb= dir (tasks x storeParts small files PER WRITE — measured
        // 1000+ store files after one build+maintain at sf0.1, and at
        // 100 TB the probe's listing cost grows per maintain); with it
        // each dir takes one file per write
        bandRows(sigs).drop("sig").withColumn("pb", pbCol(storeParts))
          .repartition(col("pb"))
          .write.partitionBy("pb")
          .mode(SaveMode.Overwrite).parquet(bandsPath(path))
        sigs.withColumn("ps", psCol(storeParts))
          .repartition(col("ps"))
          .write.partitionBy("ps")
          .mode(SaveMode.Overwrite).parquet(sigsPath(path))
        // a rebuild starts tombstone-free (the buildIndex convention)
        // and takes a fresh stream: the sink's applied batches go too
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(deletedPath(path)), true)
        graft.streaming.BatchLedger.reset(spark, path)
        writeMeta(spark, path,
          Meta(minEst, cap, nShards, storeParts, ver = 0L))
        Stats(sigs.count(), nPairs, nLabeled)
      } finally { sigs.unpersist(); () }
    }

  /** Fold a batch of NEW docs (ids disjoint from everything indexed —
    * the corpus-snapshot append contract) into the index. Only the
    * batch's signatures, its colliding buckets and the members of
    * components those collisions reach are touched; the store probes
    * read only the batch's `pb`/`ps` partitions. A batch carrying a
    * TOMBSTONED id is refused loudly (the tombstone filter would
    * silently hide the re-add forever; [[compactStores]] first).
    *
    * The whole cycle runs with AQE scoped OFF ([[graft.util.ExecScope]]
    * — the q103/Hierarchy rationale): a maintain is a dozen small
    * delta-sized actions (probe collects, pair count, LabelProp
    * rounds, label merge, store appends), and AQE's per-exchange
    * query-stage materialization costs a driver round trip for each —
    * the r12 profile measured ~94 Spark jobs and ~14 s for a 500-doc
    * delta at sf0.1, dominated by exactly this fixed overhead, not
    * data.
    *
    * The scope is SESSION-ISOLATED ([[graft.util.ExecScope.isolated]]
    * — the r14 contract, enforced rather than documented): the whole
    * cycle runs on a `newSession()` clone, with the caller's `newDocs`
    * frame re-rooted onto the clone through a global temp view (the
    * public cross-session bridge — a DataFrame plans with the conf of
    * the session that created it, so the caller's frame would
    * otherwise keep AQE). A concurrent query planned on the CALLER's
    * session mid-maintain still sees `spark.sql.adaptive.enabled=true`
    * (NearDupIndexSpec pins this).
    */
  def maintain(spark: SparkSession, path: String, newDocs: DataFrame,
               lockWaitMs: Long = 0L,
               smallGraphEdges: Int = 200000): Stats =
    graft.util.PathLock.withLock(spark, path, lockWaitMs,
      what = "near-dup index maintainer") {
      val db = spark.conf.get("spark.sql.globalTempDatabase", "global_temp")
      val vname = "graft_ndx_delta_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      newDocs.createOrReplaceGlobalTempView(vname)
      try
        ExecScope.isolated(spark) { iso =>
          maintainImpl(iso, path, iso.table(db + "." + vname),
            smallGraphEdges)
        }
      finally { spark.catalog.dropGlobalTempView(vname); () }
    }

  private def maintainImpl(spark: SparkSession, path: String,
                           newDocs: DataFrame,
                           smallGraphEdges: Int): Stats = {
      val meta = readMeta(spark, path)
      recoverStores(spark, path)
      val sigsNew = NearDup.signatures(newDocs).cache()
      // eager materialization — the build-path rationale above; the
      // maintain cycle's probe collects and store appends are separate
      // actions that would each race this entry
      val nNew = sigsNew.count()
      // delta-sized static partitioning (r19, [[ExecScope.forRows]]):
      // this cycle runs on a PRIVATE session with AQE scoped off, so
      // every exchange inherits the session's static shuffle width —
      // at sf0.1 that meant ~15 stages × 32 tasks over a ~500-doc
      // delta, and each task re-deserializes the stage's taskBinary
      // through Java serialization whose reflection caches serialize
      // under 32-way concurrency (jstack-profiled on the cold q113
      // build: task threads in ObjectInputStream.readObject with
      // executorRunTime ≫ executorCpuTime). Deriving the width from
      // the MATERIALIZED delta row count keeps micro-deltas on
      // single-task stages while a production-sized batch still fans
      // out.
      // an empty delta changes nothing: no probe, no store append, no
      // meta version bump. recoverStores above has run, so the crash
      // contract is the same as for any other batch
      try if (nNew == 0) Stats(0L, 0L, 0L)
      else ExecScope.narrow(spark, ExecScope.forRows(nNew)) {
        deletedIds(spark, path).foreach { dead =>
          val readds = sigsNew.select(col("doc_id"))
            .join(broadcast(dead), Seq("doc_id")).limit(1).count()
          require(readds == 0L,
            "near-dup index maintain: batch re-adds tombstoned doc ids " +
              "— the tombstone filter would silently hide them; run " +
              "NearDupIndex.compactStores first")
        }
        val newRows = bandRows(sigsNew).withColumn("is_new", lit(true))
        // the batch's touched store partitions: ≤ storeParts values,
        // collected from delta-sized aggregates — the literal lists
        // the pruned probes filter on
        val pbs = newRows.select(pbCol(meta.storeParts).as("pb"))
          .distinct().collect().map(_.getInt(0)).toSeq
        // resident band rows in COLLIDING buckets only (never the
        // whole store — the scan reads just the probed pb partitions).
        // Dedupe + exclude current-batch ids: a crashed attempt's
        // replay leaves duplicate store rows for this batch's docs;
        // without the dedup each duplicated doc contributes n_bands ×
        // n_sigs rows and the hot-bucket cap below counts ROWS — a
        // 40-doc bucket with replay duplicates would read over-cap
        // forever, silently dropping every future pair in it (the cap
        // must see DISTINCT docs, exactly like one-shot banding); the
        // anti join makes a replayed doc purely "new" again
        val newIds = newRows.select(col("doc_id")).distinct()
        val matched = prunedBands(spark, path, pbs)
          .join(newRows.select(col("band"), col("bkey")).distinct(),
            Seq("band", "bkey"))
          .dropDuplicates("band", "bkey", "doc_id")
          .join(newIds, Seq("doc_id"), "left_anti")
          .select(col("band"), col("bkey"), col("doc_id"))
          .cache()
        val pss = matched
          .select(psCol(meta.storeParts).as("ps")).distinct()
          .collect().map(_.getInt(0)).toSeq
        val oldRel = matched
          .join(prunedSigs(spark, path, pss)
            .select(col("doc_id"), col("sig")).dropDuplicates("doc_id"),
            Seq("doc_id"))
          .select(col("band"), col("bkey"), col("doc_id"), col("sig"))
          .withColumn("is_new", lit(false))
        // the cap is evaluated over the bucket's FULL population —
        // resident + new — matching what a one-shot build over the
        // grown corpus would see
        val wB = Window.partitionBy(col("band"), col("bkey"))
        val allRows = newRows.unionByName(oldRel)
          .withColumn("bucket_n", count(lit(1)).over(wB))
          .filter(col("bucket_n") <= meta.cap)
          .cache()
        val lhs = allRows.select(col("band"), col("bkey"),
          col("doc_id").as("doc_a"), col("sig").as("sig_a"),
          col("is_new").as("new_a"))
        val rhs = allRows.select(col("band"), col("bkey"),
          col("doc_id").as("doc_b"), col("sig").as("sig_b"),
          col("is_new").as("new_b"))
        // old↔old pairs were generated when the later of the two
        // arrived — only pairs touching a new doc are delta work
        val pairs = lhs.join(rhs, Seq("band", "bkey"))
          .filter(col("doc_a") < col("doc_b") &&
            (col("new_a") || col("new_b")))
          .select(col("doc_a"), col("doc_b"),
            TextExprs.sigAgree(col("sig_a"), col("sig_b"), NearDup.K)
              .as("est_jaccard"))
          .filter(col("est_jaccard") >= meta.minEst)
          .dropDuplicates("doc_a", "doc_b")
          .select(col("doc_a"), col("doc_b"))
          .cache()
        try {
          val nPairs = pairs.count()
          val stats = if (nPairs == 0) Stats(sigsNew.count(), 0L, 0L)
          else {
            // members of every component a verified pair reaches,
            // anchored to their current component id (itself a real
            // node — the min member), so merged components relabel to
            // the global min through the anchors
            val oldLabels = labels(spark, path)
            val touched = pairs.select(col("doc_a").as("doc_id"))
              .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
            val affComps = oldLabels
              .join(touched, Seq("doc_id"), "left_semi")
              .select(col("component")).distinct()
            val anchors = oldLabels
              .join(affComps, Seq("component"), "left_semi")
              .select(col("doc_id").as("doc_a"),
                col("component").as("doc_b"))
            // anchor edges treat a component ID as a graph NODE (it
            // is the min member's doc_id) — after a [[forget]] of
            // that member the id is a correct OPAQUE label value but
            // must never be re-published as a doc_id ROW, or RTBF
            // would silently resurrect the forgotten doc in labels
            val edgesAll = pairs.unionByName(anchors)
            // REGIME SWITCH (the Bpe.trainIndexed size-gate precedent):
            // a typical maintain's delta subgraph is a few thousand
            // edges, and the distributed LabelProp loop costs ~3 s of
            // fixed driver churn (checkpoint, per-round joins,
            // convergence counts) to label it; a bounded limit-probe
            // collect decides the regime in ONE job — ≤ smallGraphEdges
            // edges run a driver union-find (identical min-labels, the
            // scaladoc on [[unionFindMin]]), anything larger falls to
            // the same distributed kernel q53 runs. The collect is
            // bounded by construction: limit(gate+1) caps rows on the
            // driver whatever the subgraph size.
            val probe = edgesAll.limit(smallGraphEdges + 1).collect()
            val subAll =
              if (probe.length <= smallGraphEdges) {
                import spark.implicits._
                unionFindMin(probe.map(r => (r.getLong(0), r.getLong(1))))
                  .toDF("node", "component")
              } else LabelProp.components(edgesAll, "doc_a", "doc_b")
            val sub = (deletedIds(spark, path) match {
              case Some(dead) => subAll.join(broadcast(dead),
                subAll("node") === dead("doc_id"), "left_anti")
              case None => subAll
            }).cache()
            try {
              val relabeled = sub.count()
              publishLabels(spark, path, sub, meta.nShards, meta.ver + 1)
              Stats(sigsNew.count(), nPairs, relabeled)
            } finally { sub.unpersist(); () }
          }
          // stores appended AFTER the labels publish: a crash between
          // them leaves labeled-but-not-yet-probe-visible docs, which
          // the mandatory same-batch re-run repairs (see the crash
          // contract above)
          // one file per touched partition per maintain (see build's
          // repartition note) — the store file count grows with
          // MAINTAINS, not tasks x maintains
          bandRows(sigsNew).drop("sig")
            .withColumn("pb", pbCol(meta.storeParts))
            .repartition(col("pb"))
            .write.partitionBy("pb")
            .mode(SaveMode.Append).parquet(bandsPath(path))
          sigsNew.withColumn("ps", psCol(meta.storeParts))
            .repartition(col("ps"))
            .write.partitionBy("ps")
            .mode(SaveMode.Append).parquet(sigsPath(path))
          writeMeta(spark, path, meta.copy(ver = meta.ver + 1))
          stats
        } finally {
          pairs.unpersist(); allRows.unpersist(); matched.unpersist(); ()
        }
      } finally { sigsNew.unpersist(); () }
  }

  /** Right-to-be-forgotten for the INDEX — the face that composes
    * with [[graft.pipeline.CorpusPrep.forget]] so a victim leaves the
    * derived artifact, not just the corpus (the
    * [[Search.deleteDocs]] contract mirrored):
    *  - victim ids land in the append-only `deleted/` log (crash-safe
    *    by monotonicity — a partial write deletes a prefix, the
    *    re-run completes it); every store probe anti-filters against
    *    the log from this moment, so a future batch colliding with a
    *    victim's bucket can never pair with it;
    *  - the victims' LABEL rows are physically tombstoned through the
    *    shard-pruned [[graft.pipeline.Merge.upsertPartitioned]] —
    *    only shards holding victims rewrite (mtime-pinned), and the
    *    published labels never show a forgotten doc again.
    * Store BYTES (sig/band rows) stay until [[compactStores]] — the
    * delete-bitmap discipline: RTBF visibility is immediate (labels +
    * probe filter), physical reclaim is scheduled GC. Component ids
    * equal to a victim's former doc_id may persist as OPAQUE cluster
    * ids on surviving members; they carry no victim content.
    */
  def forget(spark: SparkSession, path: String, ids: Seq[Long],
             lockWaitMs: Long = 0L): Unit = {
    if (ids.isEmpty) return
    graft.util.PathLock.withLock(spark, path, lockWaitMs,
      what = "near-dup index maintainer") {
      val meta = readMeta(spark, path)
      recoverStores(spark, path)
      graft.util.TombstoneLog.append(spark, deletedPath(path), "doc_id", ids)
      import spark.implicits._
      val victims = ids.toDF("doc_id").select(col("doc_id").cast("long"))
      // physical label removal, shard-pruned; a victim in no pair has
      // no label row — its tombstone is a Merge no-op. Skip entirely
      // when the index has no labels yet (nothing to tombstone; a
      // tombstone-only bootstrap would fabricate empty shard dirs)
      val hasLabels = !labels(spark, path).isEmpty
      if (hasLabels) {
        val upd = victims
          .withColumn("component", lit(null).cast("long"))
          .withColumn("shard", pmod(col("doc_id"), lit(meta.nShards.toLong)))
          .withColumn("ver", lit(meta.ver + 1))
          .withColumn("del", lit(true))
        graft.pipeline.Merge.upsertPartitioned(spark, labelsPath(path),
          upd, "shard", Seq("doc_id"), "ver", Some("del"),
          needStats = false, clusterWrite = true)
        ()
      }
      writeMeta(spark, path, meta.copy(ver = meta.ver + 1))
    }
  }

  /** Physically reclaim tombstoned docs and replay-duplicate store
    * rows: rewrite each store net of `deleted/` with exact-duplicate
    * rows collapsed (DISTINCT is exact — a legitimate store never
    * holds two identical rows; replay appends only exact copies),
    * swap it in with the two-rename protocol (crash repaired by
    * [[recoverStores]] at the next entry), then clear the log. One
    * full store rewrite — the scheduled GC a delete-bitmap design
    * runs off the maintain path, exactly [[Search.compactIndex]].
    */
  def compactStores(spark: SparkSession, path: String,
                    lockWaitMs: Long = 0L): Unit =
    graft.util.PathLock.withLock(spark, path, lockWaitMs,
      what = "near-dup index maintainer") {
      val meta = readMeta(spark, path)
      recoverStores(spark, path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def compactOne(p: String, partColName: String,
                     dedupCols: Seq[String]): Unit = {
        spark.catalog.refreshByPath(p)
        val live = antiDead(spark, path, spark.read.parquet(p))
          .dropDuplicates(dedupCols)
        // a store that would compact to ZERO rows means every indexed
        // doc is tombstoned — there is no meaningful "empty
        // partitioned store" layout to publish (and nothing left to
        // maintain); rebuilding is the honest operation
        require(!live.isEmpty,
          s"compactStores would empty $p — every indexed doc is " +
            "tombstoned; rebuild the index with NearDupIndex.build " +
            "over the surviving corpus instead")
        val tmp = graft.pipeline.Snapshot.tmpPath(p)
        live.repartition(col(partColName))
          .write.partitionBy(partColName)
          .mode(SaveMode.Overwrite).parquet(tmp.toString)
        graft.pipeline.Snapshot.swap(fs, p, exists = true, tmp)
        spark.catalog.refreshByPath(p)
      }
      compactOne(bandsPath(path), "pb", Seq("band", "bkey", "doc_id"))
      compactOne(sigsPath(path), "ps", Seq("doc_id"))
      fs.delete(new org.apache.hadoop.fs.Path(deletedPath(path)), true)
      writeMeta(spark, path, meta.copy(ver = meta.ver + 1))
    }

  /** Current labels (doc_id, component) — docs in no near-dup pair
    * are absent (singletons). Reads the whole sharded layout; a
    * consumer wanting one doc's component reads only its shard
    * (`labels/shard=<doc_id mod nShards>`).
    */
  def labels(spark: SparkSession, path: String): DataFrame = {
    spark.catalog.refreshByPath(labelsPath(path))
    val p = new org.apache.hadoop.fs.Path(labelsPath(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // "no labels yet" = no shard directory (a pair-free bootstrap
    // leaves only _SUCCESS markers behind)
    if (!fs.exists(p) ||
        !fs.listStatus(p).exists(_.getPath.getName.startsWith("shard=")))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("component",
            org.apache.spark.sql.types.LongType))))
    else spark.read.parquet(labelsPath(path))
      .select(col("doc_id"), col("component"))
  }
}

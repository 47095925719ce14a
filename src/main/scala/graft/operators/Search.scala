package graft.operators

import graft.functions.TextOps.{normText, tokens}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Positional full-text primitives: the inverted-index-with-positions
  * shape behind phrase search. A term-only index answers "docs
  * containing all of X Y" but not "docs containing the PHRASE
  * "X Y"" — adjacency needs token positions, which is exactly what
  * search engines store in their postings (Lucene's term positions).
  *
  * Here the "index" is the posting frame derived in-plan: one
  * posexplode to (doc_id, pos, term), filtered to the QUERY'S terms
  * before anything shuffles — the filter is map-side, so the join
  * exchanges carry (doc_id, pos) pairs for matching terms only, a
  * frame bounded by the query terms' document frequency, not the
  * corpus. A persisted deployment materializes the same frame
  * bucketed by term via [[buildIndex]] and queries it with
  * [[phraseIndexed]]/[[rankedIndexed]] — identical results
  * (spec-pinned), bucket-pruned IO, no per-query tokenize.
  *
  * Matches may overlap ("a a a" contains the phrase "a a" twice) —
  * the standard positional-search convention, pinned in the spec.
  */
object Search {

  /** Result frame + the handle to the internal postings cache entry
    * (the [[SimJoin.Scoped]] contract): release once `df` is
    * materialized; lazy use after release recomputes the postings.
    */
  final case class Scoped(df: DataFrame,
                          private[graft] val cached: DataFrame) {
    def release(): Unit = { cached.unpersist(); () }
  }

  /** Normalize query terms the same way postings are built — a raw
    * "Batch" would match nothing, silently. A term with interior
    * whitespace can never be one token: refuse it rather than return
    * an empty result.
    */
  private def normTerms(terms: Seq[String]): Seq[String] = {
    require(terms.nonEmpty, "phrase needs at least one term")
    val qs = terms.map(_.trim.toLowerCase)
    require(qs.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      s"phrase terms must be single non-empty tokens, got $terms")
    qs
  }

  /** The query-term postings frame (doc_id, pos, t), term-filtered
    * map-side — one definition shared by the in-plan query, the
    * index writer, and the cache probe in the spec.
    */
  private[graft] def postingsFrame(docs: DataFrame, qs: Seq[String],
                                   idCol: Column, textCol: Column): DataFrame = {
    val base = docs
      .select(idCol.as("doc_id"),
        posexplode(tokens(normText(coalesce(textCol, lit(""))))).as(Seq("i", "t")))
      .select(col("doc_id"), (col("i") + 1).cast("long").as("pos"), col("t"))
    if (qs.isEmpty) base else base.filter(col("t").isin(qs.distinct: _*))
  }

  /** The phrase match + per-doc collapse over any postings frame
    * (in-plan or read back from a persisted index).
    */
  private def phraseOverPostings(post: DataFrame, qs: Seq[String]): DataFrame = {
    val head = post.filter(col("t") === qs.head)
      .select(col("doc_id"), col("pos"))
    val matched = qs.zipWithIndex.drop(1).foldLeft(head) {
      case (acc, (term, k)) =>
        // equi-join on BOTH keys (doc, expected position): hash join,
        // never a per-doc postings product
        val pk = post.filter(col("t") === term)
          .select(col("doc_id"), col("pos").as("_want"))
        acc.withColumn("_want", col("pos") + k)
          .join(pk, Seq("doc_id", "_want"))
          .drop("_want")
    }
    matched.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_phrase"), min(col("pos")).as("first_pos"))
      .orderBy(col("doc_id"))
  }

  /** Documents containing `terms` as a consecutive phrase:
    * (doc_id, n_phrase, first_pos), positions 1-based, ordered by
    * doc_id. The k-th term joins on pos = p0 + k — a chain of
    * equi-joins each bounded by that term's postings. Lazy form: the
    * internal postings cache entry outlives the call — a long-lived
    * service querying many different corpora should use
    * [[phraseScoped]] and release after materializing.
    */
  def phrase(docs: DataFrame, terms: Seq[String],
             idCol: Column = col("doc_id"),
             textCol: Column = col("text")): DataFrame =
    phraseScoped(docs, terms, idCol, textCol).df

  /** [[phrase]] with the cache handle returned ([[Scoped]]). */
  def phraseScoped(docs: DataFrame, terms: Seq[String],
                   idCol: Column = col("doc_id"),
                   textCol: Column = col("text")): Scoped = {
    val qs = normTerms(terms)
    // CACHED (the q86/SimJoin rationale): one consumer per query term
    // would otherwise re-scan and re-tokenize the corpus k times for
    // a k-term phrase (different filters defeat plan-level reuse).
    // The frame is query-term postings only — document-frequency-
    // sized. Lifecycle: the returned Scoped.release.
    val post = postingsFrame(docs, qs, idCol, textCol).cache()
    Scoped(phraseOverPostings(post, qs), post)
  }

  /** PERSIST the positional postings index: the full (doc_id, pos, t)
    * frame written once as a TERM-BUCKETED, term-sorted table
    * ([[graft.sources.Bucketed]]). The in-plan operators above
    * re-derive postings from the corpus per query — correct, but at
    * 100 TB every phrase query would re-scan and re-tokenize the
    * whole corpus. Against the index, a query's term filter prunes to
    * the BUCKETS holding its terms before any IO (Spark's bucket
    * pruning on equality/IN over the bucket column), so a repeated
    * query reads ~terms/buckets of the index instead of the corpus,
    * and the tokenize cost is paid once at build time. The index
    * write is one shuffle (the bucketing exchange), once.
    */
  def buildIndex(docs: DataFrame, table: String, buckets: Int,
                 idCol: Column = col("doc_id"),
                 textCol: Column = col("text"),
                 corpusVersion: Option[String] = None): Unit = {
    val spark = docs.sparkSession
    // ORPHANED-LOCATION recovery: with the default in-memory catalog,
    // the catalog dies with the JVM but a managed table's warehouse
    // directory does not — the next session's create then refuses
    // with LOCATION_ALREADY_EXISTS. A location the current catalog
    // has no table for is orphaned WITHIN THIS SESSION'S VIEW, so
    // clear it before the write — but ONLY in the layout the path
    // derivation below is actually correct for: an unqualified name
    // resolved in the `default` database (<warehouse>/<table>). A
    // qualified name or a non-default current database would make the
    // string-derived path point at a DIFFERENT table's data — there
    // we skip the cleanup and let saveAsTable fail with Spark's own
    // actionable error instead of deleting on a guess. (Like every
    // index maintainer here, the build assumes a single writer; a
    // concurrent JVM sharing the warehouse dir must coordinate
    // externally.)
    val cleanableLayout = !table.contains(".") &&
      spark.catalog.currentDatabase == "default"
    if (cleanableLayout && !spark.catalog.tableExists(table)) {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(wh),
        table.toLowerCase(java.util.Locale.ROOT))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) { fs.delete(loc, true); () }
    }
    graft.sources.Bucketed.write(
      postingsFrame(docs, Nil, idCol, textCol), table, "t", buckets)
    // a REBUILD invalidates the SIBLING sidecars (compaction can't
    // wipe them — which means the rebuild must): the streaming sink's
    // applied-batch ledger (a fresh stream restarting batchIds at 0
    // against a stale ledger would silently skip its first batches)
    // and any pending marker from the replaced index's history
    val loc = tableLocation(spark, table)
    graft.streaming.BatchLedger.reset(spark, loc)
    hadoopFs(spark, loc)
      .delete(new org.apache.hadoop.fs.Path(pendingPath(loc)), false)
    corpusVersion.foreach(stampVersion(spark, table, _))
  }

  /** Table property recording which corpus snapshot a [[buildIndex]]
    * table was built from — the FRESHNESS CONTRACT: the index is a
    * point-in-time derivation, and serving queries for a corpus it
    * does not match silently returns stale hits/misses. The version
    * string is the CALLER's snapshot identity (e.g. the snapshot
    * path + publish version, or a manifest digest) — whatever the
    * deployment uses to name "the corpus as of this index build".
    */
  private val VersionProp = "graft.corpus.version"

  /** Stamp (or restamp) the corpus version on an index table. */
  private def stampVersion(spark: SparkSession, table: String,
                           v: String): Unit = {
    require(!v.contains("'"),
      s"corpusVersion must not contain a quote: $v")
    spark.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES ('$VersionProp' = '$v')")
    ()
  }

  /** The index table's physical location from the catalog — exact for
    * any name/database layout (unlike the warehouse-derived guess
    * [[buildIndex]]'s orphan cleanup is restricted to). The location
    * anchors the maintainer lock (a SIBLING `._graft_lock` file, so a
    * table overwrite that recreates the directory never clears a held
    * lock) and the in-tree sidecars below.
    */
  private def tableLocation(spark: SparkSession, table: String): String = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(id).location).toString
  }

  private def bucketCountOf(spark: SparkSession, table: String): Int = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    spark.sessionState.catalog.getTableMetadata(id).bucketSpec
      .getOrElse(throw new IllegalStateException(
        s"$table is not a bucketed index table — was it built by " +
          "Search.buildIndex?")).numBuckets
  }

  /** Sidecar layout. The tombstone log lives IN-TREE (underscore-
    * prefixed inside the location, invisible to Spark's file index —
    * the `_SUCCESS` convention) and dies with the location on any
    * table overwrite, which is exactly right: a rebuild or compaction
    * starts tombstone-free. The pending marker lives BESIDE the
    * location (the applied-batch ledger's convention): the heal path
    * COMPACTS — a table recreation — and a marker that died with the
    * table would reopen the double-append crash window it exists to
    * close (a crash between the heal's recreation and the sink's
    * ledger write would replay the batch as "fresh").
    */
  private def pendingPath(loc: String) = s"$loc._graft_pending"
  private def deletedDir(loc: String) = s"$loc/_graft_deleted"

  private def hadoopFs(spark: SparkSession, loc: String) =
    new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The tombstoned doc ids (one `doc_id` BIGINT column), if any doc
    * was ever [[deleteDocs]]'d since the last build/compaction. The
    * log is append-only and read distinct — a crashed delete batch
    * may leave a PARTIAL id set visible, and that is safe because
    * tombstoning is monotone and idempotent: re-running the same
    * delete completes it.
    */
  def deletedIds(spark: SparkSession, table: String): Option[DataFrame] =
    graft.util.TombstoneLog.ids(spark,
      deletedDir(tableLocation(spark, table)), "doc_id")

  /** Postings net of tombstones: the one read path every index query
    * face uses. The tombstone set is delete-list-sized, so the filter
    * is a broadcast anti-probe — no extra shuffle on the postings
    * side, and bucket pruning on `t` is untouched.
    */
  private def livePostings(spark: SparkSession, table: String): DataFrame = {
    val post = spark.table(table)
    deletedIds(spark, table) match {
      case Some(dead) =>
        post.join(broadcast(dead), Seq("doc_id"), "left_anti")
      case None => post
    }
  }

  /** INCREMENTALLY maintain a [[buildIndex]] table with NEW documents
    * — the maintainer form of the index (the StatsMaintain/
    * NearDupIndex contract applied to postings): tokenize and append
    * only the delta's postings (one delta-sized bucketing shuffle;
    * Spark appends per-bucket files and readers union them, so bucket
    * pruning and the no-corpus-scan query path are unchanged), then
    * restamp the freshness version. A 100 TB corpus refresh costs the
    * delta, never a rebuild.
    *
    * Contract: `newDocs` must be docs the index has never seen —
    * re-adding an existing doc_id would double its postings (use
    * delete + [[compactIndex]] + maintain for updates), and a batch
    * containing a TOMBSTONED id is refused loudly (the tombstone
    * filter would silently hide the re-add; compact first).
    *
    * Crash contract (the ivfAppendSink marker protocol): parquet
    * append is not idempotent, so a `_graft_pending` marker carrying
    * `batchId` brackets the append. Re-running the SAME batch after a
    * crash self-heals: it re-appends (duplicating whatever the
    * crashed attempt landed) and compacts — postings rows are exact
    * duplicates of each other, and a legitimate index never holds two
    * identical (doc_id, pos, t) rows, so DISTINCT is an exact repair.
    * A marker from a DIFFERENT batch refuses loudly with the
    * [[compactIndex]] remedy rather than guessing. Single writer per
    * index tree, enforced by the whole-cycle location lock (waitMs=0
    * fails fast, the batch convention).
    */
  def maintainIndex(spark: SparkSession, table: String, newDocs: DataFrame,
                    batchId: String,
                    idCol: Column = col("doc_id"),
                    textCol: Column = col("text"),
                    newVersion: Option[String] = None,
                    lockWaitMs: Long = 0L): Unit = {
    val loc = tableLocation(spark, table)
    graft.util.PathLock.withLock(spark, loc, lockWaitMs,
      what = "search index maintainer") {
      maintainIndexUnlocked(spark, table, newDocs, batchId, idCol, textCol,
        newVersion, keepMarker = false)
    }
  }

  /** The maintain cycle body, already under the caller's location
    * lock. `keepMarker = true` leaves the batch's pending marker in
    * place after a SUCCESSFUL append — the streaming sink's hook: its
    * applied-batch ledger write happens after this returns, and the
    * marker must survive until the ledger records the batch, or a
    * crash in between would replay the batch as "fresh" and
    * double-append ([[graft.streaming.Streams]] clears it after the
    * ledger lands; a marker whose id IS ledgered is recognized there
    * as completed and cleared without healing).
    */
  private[graft] def maintainIndexUnlocked(spark: SparkSession, table: String,
                                           newDocs: DataFrame, batchId: String,
                                           idCol: Column, textCol: Column,
                                           newVersion: Option[String],
                                           keepMarker: Boolean): Unit = {
    require(batchId.nonEmpty && !batchId.exists(c => c == '\n' || c == '\r'),
      s"batchId must be a non-empty single-line token, got '$batchId'")
    val loc = tableLocation(spark, table)
    val buckets = bucketCountOf(spark, table)
    val fs = hadoopFs(spark, loc)
    val pending = new org.apache.hadoop.fs.Path(pendingPath(loc))
    var healAfterAppend = false
    pendingBatchId(spark, table) match {
      case None => ()
      // empty marker = crash between create and the id write: the
      // append never started, nothing to heal (the ivf lesson)
      case Some("") => fs.delete(pending, false); ()
      case Some(id) if id == batchId => healAfterAppend = true
      case Some(id) => throw new IllegalStateException(
        s"search index $table: batch '$id' was interrupted " +
          "mid-append and this is not its replay — re-run that batch " +
          "(it self-heals); only if it will never be replayed, delete " +
          s"${pendingPath(loc)} and run Search.compactIndex (the " +
          "batch's docs stay partially indexed until re-maintained)")
    }
    // tombstoned-id RE-ADDS refuse — except on a heal: the replayed
    // batch is the SAME add completing, not a re-add, and a tombstone
    // recorded after its first attempt legitimately hides the doc
    // (delete-after-add semantics). Without this carve-out the two
    // refusals would be circular: this message says compact first, and
    // compactIndex (correctly) refuses while the marker stands.
    if (!healAfterAppend) deletedIds(spark, table).foreach { dead =>
      val readds = newDocs.select(idCol.cast("long").as("doc_id"))
        .join(broadcast(dead), Seq("doc_id")).limit(1).count()
      require(readds == 0L,
        s"maintainIndex batch '$batchId' re-adds tombstoned doc ids " +
          s"— the tombstone filter would silently hide them; run " +
          s"Search.compactIndex($table) first")
    }
    val o = fs.create(pending, true)
    try o.write(batchId.getBytes("UTF-8")) finally o.close()
    graft.sources.Bucketed.write(
      postingsFrame(newDocs, Nil, idCol, textCol), table, "t", buckets,
      mode = org.apache.spark.sql.SaveMode.Append)
    if (healAfterAppend) {
      // the compaction recreates the table — the version stamp dies
      // with it (the marker does NOT: it is a sibling, see
      // [[pendingPath]]). Preserve the stamp: newVersion = None must
      // LEAVE the previous stamp (the documented contract, and the
      // sink's default)
      val keep = newVersion.orElse(indexVersion(spark, table))
      compactInPlace(spark, table, buckets)
      keep.foreach(stampVersion(spark, table, _))
    } else {
      newVersion.foreach(stampVersion(spark, table, _))
    }
    if (!keepMarker) { fs.delete(pending, false); () }
    spark.catalog.refreshTable(table)
  }

  /** The pending marker's recorded batch id: None = no marker,
    * Some("") = created-but-unwritten (crash before the id write).
    */
  private[graft] def pendingBatchId(spark: SparkSession,
                                    table: String): Option[String] = {
    val loc = tableLocation(spark, table)
    val fs = hadoopFs(spark, loc)
    val pending = new org.apache.hadoop.fs.Path(pendingPath(loc))
    if (!fs.exists(pending)) None
    else {
      val in = fs.open(pending)
      Some(try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim finally in.close())
    }
  }

  private[graft] def clearPendingMarker(spark: SparkSession,
                                        table: String): Unit = {
    val loc = tableLocation(spark, table)
    hadoopFs(spark, loc)
      .delete(new org.apache.hadoop.fs.Path(pendingPath(loc)), false)
    ()
  }

  /** The index table's location for sidecar anchoring (the streaming
    * sink's ledger rides beside it, like every snapshot ledger).
    */
  private[graft] def indexLocationOf(spark: SparkSession,
                                     table: String): String =
    tableLocation(spark, table)

  /** Tombstone documents OUT of the index without rewriting it — the
    * Lucene delete-bitmap shape: ids land in an append-only in-tree
    * log ([[deletedIds]]) and every query face anti-filters against
    * it (broadcast probe, no postings shuffle). The postings bytes
    * stay until [[compactIndex]] reclaims them. Append-only makes the
    * operation crash-safe by monotonicity: a partial write just
    * deletes a prefix of the batch, and the re-run completes it.
    */
  def deleteDocs(spark: SparkSession, table: String, ids: Seq[Long],
                 newVersion: Option[String] = None,
                 lockWaitMs: Long = 0L): Unit = {
    if (ids.isEmpty) return
    val loc = tableLocation(spark, table)
    graft.util.PathLock.withLock(spark, loc, lockWaitMs,
      what = "search index maintainer") {
      graft.util.TombstoneLog.append(spark, deletedDir(loc), "doc_id", ids)
      newVersion.foreach(stampVersion(spark, table, _))
    }
  }

  /** Rewrite the index net of tombstones and duplicates: applies the
    * delete log physically, clears it, and repairs any duplicate
    * postings a crashed append left (DISTINCT is exact — see
    * [[maintainIndex]]). One full index rewrite — the periodic GC a
    * delete-bitmap design schedules, never on the query path. The
    * version property survives (re-stamped after the rewrite);
    * `newVersion` overrides it.
    */
  def compactIndex(spark: SparkSession, table: String,
                   newVersion: Option[String] = None,
                   lockWaitMs: Long = 0L): Unit = {
    val loc = tableLocation(spark, table)
    val buckets = bucketCountOf(spark, table)
    graft.util.PathLock.withLock(spark, loc, lockWaitMs,
      what = "search index maintainer") {
      // an interrupted batch's marker is NOT compaction's to erase:
      // compacting now would bake its PARTIAL postings in and destroy
      // the evidence, so the batch's mandated replay would then find
      // no marker and append the whole batch on top — silent
      // duplicates. The batch must replay (self-healing) first; an
      // empty marker is the crashed-before-id-write case (no append
      // started) and clears
      pendingBatchId(spark, table) match {
        case Some(id) if id.nonEmpty => throw new IllegalStateException(
          s"search index $table: batch '$id' was interrupted " +
            "mid-append — re-run that batch (it self-heals) before " +
            s"compacting; delete ${pendingPath(loc)} first only if it " +
            "will never be replayed (its docs stay partially indexed " +
            "until re-maintained)")
        case Some(_) => clearPendingMarker(spark, table)
        case None => ()
      }
      val keep = newVersion.orElse(indexVersion(spark, table))
      compactInPlace(spark, table, buckets)
      keep.foreach(stampVersion(spark, table, _))
    }
  }

  /** The compaction core, already under the caller's lock: pin the
    * live distinct postings OFF the table's files (eager
    * localCheckpoint → executor block storage; a deployment whose
    * index exceeds cluster storage stages through a scratch table
    * instead), then overwrite — the table recreation also wipes the
    * IN-TREE tombstone log, which is the point (the pending marker and
    * the sink ledger are siblings and deliberately survive — see
    * [[pendingPath]]). Version property is dropped by the recreation;
    * callers restamp.
    */
  private def compactInPlace(spark: SparkSession, table: String,
                             buckets: Int): Unit = {
    val live = livePostings(spark, table).distinct().localCheckpoint()
    graft.sources.Bucketed.write(live, table, "t", buckets)
    spark.catalog.refreshTable(table)
  }

  /** The corpus version recorded on a [[buildIndex]] table, if any. */
  def indexVersion(spark: SparkSession, table: String): Option[String] =
    spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .collectFirst { case r if r.getString(0) == VersionProp => r.getString(1) }

  /** Refuse to serve an index that does not match the corpus the
    * caller is querying: a recorded version different from `want`, or
    * NO recorded version when the caller demands one (an unverifiable
    * index is treated as stale, not trusted). `None` skips the check —
    * the pre-contract behavior for callers that manage freshness
    * elsewhere.
    */
  private def checkVersion(spark: SparkSession, table: String,
                           expect: Option[String]): Unit =
    expect.foreach { want =>
      val got = indexVersion(spark, table)
      require(got.contains(want),
        s"search index $table was built from corpus version " +
          s"${got.getOrElse("<unrecorded>")} but the query expects '$want' " +
          "— rebuild with Search.buildIndex over the current corpus " +
          "(stale index hits/misses would otherwise be served silently)")
    }

  /** [[phrase]] served from a [[buildIndex]] table: identical output
    * (spec-pinned), no corpus scan, no tokenize — the scan reads only
    * the query terms' buckets. `expectCorpusVersion` enforces the
    * freshness contract ([[indexVersion]]).
    */
  def phraseIndexed(spark: SparkSession, table: String,
                    terms: Seq[String],
                    expectCorpusVersion: Option[String] = None): DataFrame = {
    val qs = normTerms(terms)
    checkVersion(spark, table, expectCorpusVersion)
    phraseOverPostings(
      livePostings(spark, table).filter(col("t").isin(qs.distinct: _*)), qs)
  }

  /** Ranked conjunctive retrieval over any postings frame — the q100
    * scoring as one kernel shared by the in-plan query and the index
    * path: docs containing ALL query terms, scored
    * Σ_t tf(d,t)·⌊N·idfScale/df(t)⌋ (integer rarity weight — the N/df
    * core of idf without the non-portable logarithm), ties by doc_id,
    * top `limit`. `nDocs` is a ONE-ROW frame with a single BIGINT
    * column `nd` (the corpus document count — NOT derivable from
    * postings: an empty doc has none), attached as a broadcast.
    */
  def rankedOverPostings(post: DataFrame, terms: Seq[String],
                         nDocs: DataFrame, idfScale: Long,
                         limit: Int): DataFrame = {
    val qs = normTerms(terms).distinct
    val tf = post.filter(col("t").isin(qs: _*))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "t")
      .crossJoin(broadcast(nDocs))
      .withColumn("idf6", expr(s"nd * ${idfScale}L DIV df"))
      .groupBy(col("doc_id"))
      .agg(
        count_distinct(col("t")).as("nt"),
        sum(col("tf")).as("tf_total"),
        sum(col("tf") * col("idf6")).as("score6"))
      .filter(col("nt") === qs.length)
      .select(col("doc_id"), col("tf_total"), col("score6"))
      .orderBy(col("score6").desc, col("doc_id"))
      .limit(limit)
  }

  /** [[rankedOverPostings]] served from a [[buildIndex]] table.
    * `expectCorpusVersion` enforces the freshness contract
    * ([[indexVersion]]).
    */
  def rankedIndexed(spark: SparkSession, table: String,
                    terms: Seq[String], nDocs: Long, idfScale: Long,
                    limit: Int,
                    expectCorpusVersion: Option[String] = None): DataFrame = {
    checkVersion(spark, table, expectCorpusVersion)
    rankedOverPostings(livePostings(spark, table), terms,
      spark.range(1).select(lit(nDocs).cast("long").as("nd")),
      idfScale, limit)
  }
}

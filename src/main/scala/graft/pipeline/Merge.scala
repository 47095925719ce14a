package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed upsert/merge into a parquet snapshot — the "apply this batch
  * of changes to the table" operator (SCD-1 semantics: latest version
  * per key wins; optional tombstone column for deletes).
  *
  * The merge itself is ONE window over the union — no join: both sides
  * shuffle once on the key, the per-key winner is picked by
  * (version, source) rank, and ties go to the incoming batch. The
  * result is published through the shared [[Snapshot]] swap: readers
  * see the previous complete snapshot until the publish, then the new
  * one — never a half-written directory, and a crash between the
  * swap's renames is repaired by the next upsert, which reinstates the
  * retired snapshot before merging.
  *
  * Scale path: for a 100 TB table, lay the snapshot out by partition
  * and use [[upsertPartitioned]] — it reads, merges and swaps ONLY the
  * `part=` directories the batch touches, in one fused job, with the
  * same merge kernel as the single-snapshot [[upsert]].
  */
object Merge {

  final case class Stats(
      targetRows: Long, updateRows: Long, resultRows: Long,
      inserted: Long, updated: Long, deleted: Long)

  private val NoStats = Stats(0, 0, 0, 0, 0, 0)

  /** Merge `updates` into the snapshot at `targetPath`.
    *
    * @param keys       primary-key columns (row identity)
    * @param versionCol monotone version/timestamp column; per key the
    *                   highest version wins, updates beating the
    *                   snapshot on equal versions (two update rows for
    *                   the same key and version tie-break by full-row
    *                   hash, so reruns and task retries pick the same
    *                   winner)
    * @param deleteCol  optional boolean column on `updates`: winning
    *                   rows with it true are tombstones — the key is
    *                   dropped from the result (and the column never
    *                   lands in the snapshot). A tombstone for an
    *                   absent key is a no-op.
    */
  def upsert(spark: SparkSession, targetPath: String, updates: DataFrame,
             keys: Seq[String], versionCol: String,
             deleteCol: Option[String] = None): Stats = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val fs = new Path(targetPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the single-writer lock spans the whole read-merge-write cycle
    // (not just the swap): a concurrent maintainer publishing between
    // this read and this publish would be silently overwritten
    Snapshot.withMaintainerLock(fs, targetPath) { lease =>
      // crash recovery first (see [[Snapshot]]): skipping it would
      // treat a half-published target as a fresh bootstrap and drop data
      val exists = Snapshot.recoverAndExists(fs, targetPath, lease)
      // one materialization of the caller's plan: it feeds the union
      // AND the updateRows stat, and may be an expensive computation
      val upd = updates.cache()
      try mergeKernel(spark,
          if (exists) Some(spark.read.parquet(targetPath)) else None,
          upd, keys, versionCol, deleteCol, needStats = true)(
          Snapshot.publish(fs, targetPath, exists, _, lease))
      finally { upd.unpersist(); () }
    }
  }

  /** The ONE SCD-1 merge kernel [[upsert]] and [[upsertPartitioned]]
    * share: `tgtRaw` (None: bootstrap) against the caller-cached
    * `upd`, ranked over the window partitioning `grp` — the keys,
    * led by the partition column in the fused form, so each
    * partition's winners are exactly what its standalone merge would
    * pick. `publish` receives the winners net of tombstones; the
    * stats come from the same cached winners, or are zeroed when
    * `needStats` is false.
    */
  private def mergeKernel(spark: SparkSession, tgtRaw: Option[DataFrame],
                          upd: DataFrame, grp: Seq[String],
                          versionCol: String, deleteCol: Option[String],
                          needStats: Boolean)
                         (publish: DataFrame => Unit): Stats = {
    val del = deleteCol.getOrElse("_graft_delete")
    val updData = upd.drop(deleteCol.toSeq: _*)
    val tgtSide = tgtRaw.getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], updData.schema))
    // add-column schema evolution: columns NEW in the update batch are
    // added to the snapshot side as typed nulls, so the published
    // snapshot carries the evolved schema (existing rows read null for
    // the new column until an update touches them). The reverse —
    // updates MISSING a snapshot column — stays an error: silently
    // null-filling the update side would erase that column's value on
    // every key the batch touches (SCD-1 winners replace whole rows).
    // Names match by the session's resolution semantics: a batch column
    // differing only in case is the SAME column under the default
    // case-insensitive resolution, not a new one (treating it as new
    // would publish a duplicate/ambiguous column).
    val key = Snapshot.nameKey(spark)
    val updNames = updData.columns.map(key).toSet
    val tgtNames = tgtSide.columns.map(key).toSet
    val missingInUpd = tgtSide.columns.toSeq.filterNot(c => updNames(key(c)))
    require(missingInUpd.isEmpty,
      s"merge: update batch is missing snapshot column(s) ${missingInUpd.mkString(", ")}; " +
        "add-column evolution only goes forward")
    val tgt = updData.schema.fields.filterNot(f => tgtNames(key(f.name)))
      .foldLeft(tgtSide) { (df, f) =>
        df.withColumn(f.name, lit(null).cast(f.dataType))
      }
      .withColumn(del, lit(false))
      .withColumn("_graft_src", lit(0))
    val updTagged = (if (deleteCol.isDefined) upd
                     else upd.withColumn(del, lit(false)))
      .withColumn("_graft_src", lit(1))

    // ONE shuffle on `grp`: rank picks the winner, the unbounded
    // max() over the same partitioning records whether the key existed
    // in the snapshot (for the stats — no extra exchange, the window
    // partitioning is reused). The full-row hash is the LAST tiebreak:
    // without it, two same-key same-version update rows would be
    // ranked by shuffle arrival order and a rerun could publish a
    // different payload. The hash must include the delete flag — a
    // same-key same-version tombstone vs live row is otherwise
    // hash-equal and the winner would again be arrival order.
    val dataCols = updData.columns.toSeq :+ del
    val wKey = Window.partitionBy(grp.map(col): _*)
    val wRank = wKey.orderBy(col(versionCol).desc, col("_graft_src").desc,
      xxhash64(dataCols.map(col): _*).asc)
    val merged0 = tgt.unionByName(updTagged)
      .withColumn("_graft_rn", row_number().over(wRank))
      .withColumn("_graft_had_tgt",
        max(when(col("_graft_src") === 0, 1).otherwise(0)).over(wKey))
      .filter(col("_graft_rn") === 1)
    // without the stats pass the publish is merged's ONLY consumer —
    // caching would just add a materialization job
    val merged = if (needStats) merged0.cache() else merged0
    try {
      val a = if (!needStats) None else Some(merged.groupBy().agg(
        count(lit(1)).as("winners"),
        count(when(!col(del), 1)).as("kept"),
        count(when(col(del) && col("_graft_had_tgt") === 1, 1)).as("deleted"),
        count(when(col("_graft_src") === 1 && !col(del) &&
          col("_graft_had_tgt") === 0, 1)).as("inserted"),
        count(when(col("_graft_src") === 1 && !col(del) &&
          col("_graft_had_tgt") === 1, 1)).as("updated"),
        count(when(col("_graft_had_tgt") === 1, 1)).as("target_keys"))
        .collect()(0))
      publish(merged.filter(!col(del))
        .drop(del, "_graft_src", "_graft_rn", "_graft_had_tgt"))
      a.fold(NoStats)(r => Stats(
        targetRows = r.getLong(5),
        updateRows = upd.count(),
        resultRows = r.getLong(1),
        inserted = r.getLong(3),
        updated = r.getLong(4),
        deleted = r.getLong(2)))
    } finally { if (needStats) merged.unpersist(); () }
  }

  /** Partition-pruned merge into a snapshot laid out as
    * `targetPath/partCol=value/…`: only the partitions the update
    * batch actually touches are read, merged and swapped — the rest of
    * a 100 TB snapshot is never opened; untouched directories stay
    * byte-identical (mtime-pinned in the spec).
    *
    * FUSED, not serial (r11): all touched partitions merge in ONE
    * Spark job — [[mergeKernel]]'s window partitions by (partCol,
    * keys), so each partition's winners are exactly what its
    * standalone single-window merge would pick — and
    * [[Snapshot.publishPartitioned]] writes the result to one sibling
    * tmp tree, then swaps it in per partition with pure METADATA
    * renames. The first cut ran a full read-merge-publish cycle per
    * touched partition serially; a delta relabeling docs across 16
    * shards paid 16 driver round-trip cycles (~0.7 s each — measured
    * dominating NearDupIndex.maintain at 14 s for a 500-doc batch),
    * and at 1000 touched partitions of a real table the driver-serial
    * loop IS the wall clock. The fused job keeps the pruning (only
    * touched dirs are read or written) and the per-partition crash
    * contract (each dir swaps through the same two-rename protocol,
    * repaired by the next cycle's recovery), while the job count stays
    * O(1) in touched partitions.
    *
    * All touched partitions' maintainer locks are held for the whole
    * cycle ([[Snapshot.withPartitions]]: sorted order, never
    * deadlocks, the second of two contending maintainers fails fast).
    * A crash mid-swap leaves some partitions published and some
    * retired; the next maintain's per-partition recovery reinstates
    * them — same contract as the serial form.
    *
    * Requires every update row to carry its partition value (rows
    * cannot move between partitions in one merge — changing the
    * partition value of a key is a delete in one partition plus an
    * insert in another).
    *
    * `needStats = false` skips the merge-statistics aggregation (one
    * full extra pass over the merged output plus its cache) and
    * returns zeroed [[Stats]] — for maintainer callers that discard
    * them (NearDupIndex's label publish runs one such merge per
    * maintain cycle; the pass was ~1 s of its fixed per-cycle cost).
    *
    * `clusterWrite = true` repartitions the merged output by partCol
    * before the partitioned write: one task — one FILE — per touched
    * partition, instead of (shuffle partitions × dirs) tiny files
    * whose create/commit renames dominate a small merge (measured
    * 3.1 s → sub-second on NearDupIndex's 16-shard label publish).
    * Leave it false when a single partition's merge output is big
    * enough that serializing it through one task costs more than the
    * file churn — the caller knows its distribution; the default
    * preserves write parallelism.
    */
  def upsertPartitioned(spark: SparkSession, targetPath: String,
                        updates: DataFrame, partCol: String,
                        keys: Seq[String], versionCol: String,
                        deleteCol: Option[String] = None,
                        needStats: Boolean = true,
                        clusterWrite: Boolean = false): Stats = {
    // resolve the caller's partCol to the frame's OWN attribute case
    // ONCE: the partitioned writer names directories after the
    // ATTRIBUTE, so a caller-cased 'Shard' against a 'shard' column
    // would probe `Shard=…` while the writer wrote `shard=…` — every
    // partition "missing", every swap a fabricated empty snapshot over
    // the real merged output
    val key = Snapshot.nameKey(spark)
    val partColR = updates.columns.find(c => key(c) == key(partCol))
      .getOrElse(throw new IllegalArgumentException(
        s"upsertPartitioned: partition column $partCol not found in " +
          s"update batch columns ${updates.columns.mkString(", ")}"))
    require(!keys.exists(k => key(k) == key(partColR)),
      "partition column is implicit per-partition; keys must not repeat it")
    val upd = updates.cache() // feeds the distinct, the union and the count
    try Snapshot.withPartitions(spark, targetPath, upd.select(col(partColR)),
        partColR, 0L, "upsertPartitioned") { parts =>
      // target side: each existing partition dir read DIRECTLY (no
      // partition discovery — its value re-attaches as a typed literal,
      // sidestepping discovery's int32 narrowing), united into one scan
      // set. The union schema over the touched dirs is inferred in ONE
      // mergeSchema read (needed for the evolution refusal — the
      // update batch's schema cannot stand in for what the target
      // actually holds); the per-dir reads then carry it EXPLICITLY —
      // a bare spark.read.parquet(dir) costs a schema-inference footer
      // JOB per dir (measured: one ~25 ms driver round trip per touched
      // shard per maintain in the r12 NearDupIndex profile — the serial
      // cost this fused cycle exists to remove). Partitions written
      // before an add-column evolution read null for the newer columns
      // (an explicit schema's missing fields), exactly as their
      // standalone merge would via allowMissingColumns.
      val existing = parts.filter(_.exists)
      val tgtRaw = if (existing.isEmpty) None else {
        val schema = spark.read.option("mergeSchema", "true")
          .parquet(existing.map(_.path): _*).schema
        Some(existing.map { p =>
          spark.read.schema(schema).parquet(p.path)
            .withColumn(partColR, lit(p.value))
        }.reduce(_.unionByName(_, allowMissingColumns = true)))
      }
      mergeKernel(spark, tgtRaw, upd, partColR +: keys, versionCol,
        deleteCol, needStats) { result =>
        Snapshot.publishPartitioned(spark, targetPath, partColR,
          if (clusterWrite) result.repartition(col(partColR)) else result,
          parts)
      }
    }.getOrElse(NoStats)
    finally { upd.unpersist(); () }
  }

  /** Time travel over an SCD-2 snapshot: the rows as they were AT
    * version `v` — every interval with `_valid_from ≤ v` and
    * (`_valid_to` open or `> v`). An interval closed exactly at v is
    * NOT visible at v (the closing change takes effect at its own
    * version — the half-open [from, to) convention [[scd2]] writes).
    * Pure filter + projection: partition/stats pruning applies, no
    * shuffle.
    */
  def asOf(history: DataFrame, v: Column): DataFrame =
    history
      .filter(col("_valid_from") <= v &&
        (col("_valid_to").isNull || col("_valid_to") > v))
      .drop("_valid_to", "_is_current")
      .withColumnRenamed("_valid_from", "_as_of_from")

  /** Temporal (as-of-each-row) join: every fact row joins the
    * dimension state that was current AT ITS OWN version — the
    * history-correct enrichment an `asOf(latest)` join silently gets
    * wrong for late-arriving facts (a January order must see January's
    * customer tier, not today's). Interval semantics match [[asOf]]:
    * half-open [from, to), so a fact at exactly the change version
    * sees the NEW state.
    *
    * Shape: ONE equi-join on the keys (both sides hash-partition; the
    * dimension side is interval rows, typically ≪ facts and
    * AQE-broadcast) followed by the interval filter — never a range
    * join over time. A key's intervals never overlap ([[scd2]]'s
    * construction), so each fact matches AT MOST one row: facts
    * before the key's first interval, during a tombstone gap, or with
    * no key at all are kept with null dimension columns when
    * `keepUnmatched` (the audit-friendly default), dropped otherwise.
    */
  def temporalJoin(facts: DataFrame, history: DataFrame, keys: Seq[String],
                   factVersion: Column,
                   keepUnmatched: Boolean = true): DataFrame = {
    val dim = history
      .withColumnRenamed("_valid_from", "_tj_from")
      .withColumnRenamed("_valid_to", "_tj_to")
      .drop("_is_current")
    val joined = facts.join(dim,
      keys.map(k => facts(k) === dim(k)).reduce(_ && _) &&
        dim("_tj_from") <= factVersion &&
        (dim("_tj_to").isNull || dim("_tj_to") > factVersion),
      if (keepUnmatched) "left" else "inner")
    keys.foldLeft(joined)((df, k) => df.drop(dim(k)))
      .drop("_tj_from", "_tj_to")
  }

  final case class Scd2Stats(
      updateRows: Long, inserted: Long, closed: Long, deleted: Long,
      suppressed: Long, resultRows: Long, currentRows: Long)

  /** SCD-2 (history-keeping) merge: instead of replacing a key's row,
    * each change CLOSES the key's current validity interval and opens
    * a new one — the snapshot answers "what did this row look like at
    * version v" for every v, the dimension-table contract `upsert`'s
    * SCD-1 semantics discard.
    *
    * Snapshot schema = payload columns + `_valid_from` (the version
    * that opened the interval), `_valid_to` (the version that closed
    * it; null while open) and `_is_current`. Update rows carry the
    * payload plus `versionCol` (the effective-from value) and the
    * optional tombstone column.
    *
    * Semantics per key, applied in version order within one merge:
    *  - a row whose payload DIFFERS from the key's latest surviving
    *    state closes that state at its version and opens a new
    *    interval [version, next-change);
    *  - a payload-identical row is SUPPRESSED (idempotence: re-running
    *    yesterday's feed inserts nothing and closes nothing);
    *  - a tombstone closes the open interval and opens none (the key
    *    has no current row until a later update re-inserts it —
    *    which is NOT suppressed even if payload-identical, because
    *    the preceding state is "absent");
    *  - rows at or below the key's HIGH-WATER MARK — the last version
    *    that opened or closed ANY of its intervals, tombstone closes
    *    included — are LATE duplicates and are dropped (history
    *    rewrite is restore-from-snapshot territory, not a merge; the
    *    whole-history mark, not just the open interval, is what makes
    *    a replayed tombstone-ending batch a no-op);
    *  - two update rows with the same key AND version keep one
    *    deterministic winner (full-row-hash order, the upsert rule).
    *
    * Shape: closed history passes through untouched; the key's open
    * row unions with the batch and ONE window partitioning (shared by
    * the dedup rank, the change-suppression lag and the interval-
    * closing lead) does everything — no join anywhere. The publish is
    * the same two-rename swap as [[upsert]], so readers never see a
    * half-written snapshot. At 100 TB, wrap with the
    * [[upsertPartitioned]] pruning device: only partitions the batch
    * touches are rewritten.
    */
  def scd2(spark: SparkSession, targetPath: String, updates: DataFrame,
           keys: Seq[String], versionCol: String,
           deleteCol: Option[String] = None): Scd2Stats = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val metaCols = Seq("_valid_from", "_valid_to", "_is_current")
    require(!updates.columns.exists(metaCols.contains),
      s"scd2: update batch must not carry ${metaCols.mkString("/")}")
    val fs = new Path(targetPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // lock the whole read-merge-write cycle — see [[upsert]]
    Snapshot.withMaintainerLock(fs, targetPath) { lease =>
    val exists = Snapshot.recoverAndExists(fs, targetPath, lease)

    val del = deleteCol.getOrElse("_graft_delete")
    val updData = updates.drop(deleteCol.toSeq: _*)
    val payload = updData.columns.filterNot(c =>
      keys.contains(c) || c == versionCol).toSeq
    val upd = (if (deleteCol.isDefined)
                 // a NULL tombstone flag means "not a tombstone" — and
                 // downstream lag(del) must be null ONLY at the
                 // sequence head
                 updates.withColumn(del, coalesce(col(del), lit(false)))
               else updates.withColumn(del, lit(false)))
      .withColumn("_graft_src", lit(1))
      .cache()

    val tgt = if (exists) spark.read.parquet(targetPath)
              else spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                org.apache.spark.sql.types.StructType(
                  updData.schema.fields.filterNot(_.name == versionCol) ++
                    Seq(
                      updData.schema(versionCol).copy(name = "_valid_from"),
                      // open intervals store null: nullable regardless
                      // of the version column's own nullability
                      updData.schema(versionCol)
                        .copy(name = "_valid_to", nullable = true),
                      org.apache.spark.sql.types.StructField(
                        "_is_current", org.apache.spark.sql.types.BooleanType))))
    require(tgt.columns.map(_.toLowerCase).sorted.toSeq ==
      ((keys ++ payload).map(_.toLowerCase) ++ metaCols).sorted,
      s"scd2: snapshot schema ${tgt.columns.toSeq} does not match batch + metadata")

    val hist = tgt.filter(!col("_is_current"))
    val active = tgt.filter(col("_is_current"))
      .select((keys ++ payload).map(col) :+
        col("_valid_from").as(versionCol): _*)
      .withColumn(del, lit(false))
      .withColumn("_graft_src", lit(0))

    // the late gate compares against the key's HIGH-WATER MARK over
    // the WHOLE history — the last version that opened or closed any
    // interval (coalesce(_valid_to, _valid_from) row-wise, max over
    // the key). Gating on only the OPEN interval is a hole: a
    // tombstoned key has no open interval, so a late or replayed row
    // would sail through and re-open closed history (overlapping
    // intervals, duplicated rows on crash replay). The hwm frame is
    // key-count-sized; AQE broadcasts it.
    val hwm = tgt.groupBy(keys.map(col): _*)
      .agg(max(coalesce(col("_valid_to"), col("_valid_from"))).as("_hwm"))

    // deterministic total order WITHOUT hashing: Spark's hash family
    // skips null children, so xxhash64 of a payload cannot tell
    // (null, "x") from ("x", null) — ordering and equality both run
    // on the payload COLUMNS themselves (orderable types; interior
    // nulls compare null-safely in struct/ordering semantics)
    val orderCols = payload.map(c => col(c).asc) :+ col(del).asc
    val wKey = Window.partitionBy(keys.map(col): _*)
    val wSeq = wKey.orderBy(
      col(versionCol).asc +: col("_graft_src").asc +: orderCols: _*)

    val unioned = active.unionByName(upd.select(active.columns.map(col): _*))
      // same-key same-version duplicates: deterministic single winner
      .withColumn("_dup_rn", row_number().over(
        Window.partitionBy((keys :+ versionCol).map(col): _*)
          .orderBy(col("_graft_src").asc +: orderCols: _*)))
      .filter(col("_dup_rn") === 1)
      // late rows: at or below the key's whole-history high-water mark
      .join(hwm, keys, "left")
      .filter(col("_graft_src") === 0 ||
        col("_hwm").isNull || col(versionCol) > col("_hwm"))

    // payload equality for change suppression: null-safe STRUCT
    // compare, not a hash — see orderCols. A keys+version-only
    // dimension (presence tracking) has an empty payload: constant
    // stands in, so every live row is "payload-identical".
    val pay = if (payload.nonEmpty) struct(payload.map(col): _*) else lit(0)
    val staged = unioned
      .withColumn("_prev_pay", lag(pay, 1).over(wSeq))
      .withColumn("_prev_tomb", lag(col(del), 1).over(wSeq))
      // survivors: first-ever live row / re-insert after tombstone /
      // tombstone of a live state / genuine payload change
      .withColumn("_keep",
        (col("_prev_tomb").isNull && !col(del)) ||
          (col("_prev_tomb").isNotNull && col("_prev_tomb") && !col(del)) ||
          (col("_prev_tomb").isNotNull && !col("_prev_tomb") && col(del)) ||
          (col("_prev_tomb").isNotNull && !col("_prev_tomb") && !col(del) &&
            !(pay <=> col("_prev_pay"))))
      .filter(col("_keep"))
      // interval close: next SURVIVOR's version (tombstones close and
      // then vanish); computed over the same key partitioning
      .withColumn("_valid_to", lead(col(versionCol), 1).over(wSeq))
      .cache()

    try {
      // every stat derives from the staged frame + a footer-cheap
      // hist count — no re-read of the published snapshot (the
      // streaming sink pays this per micro-batch)
      val a = staged.groupBy().agg(
        count(when(!col(del) && col("_graft_src") === 1, 1)).as("inserted"),
        count(when(col("_valid_to").isNotNull, 1)).as("closed"),
        count(when(col(del), 1)).as("deleted"),
        count(when(col("_graft_src") === 1, 1)).as("kept_upd"),
        count(when(!col(del), 1)).as("kept_out"),
        count(when(!col(del) && col("_valid_to").isNull, 1)).as("cur"))
        .collect()(0)

      val out = staged.filter(!col(del))
        .select((keys ++ payload).map(col) ++ Seq(
          col(versionCol).as("_valid_from"),
          col("_valid_to"),
          col("_valid_to").isNull.as("_is_current")): _*)
        .unionByName(hist)

      val histRows = hist.count()
      Snapshot.publish(fs, targetPath, exists, out, lease)

      val updRows = upd.count()
      Scd2Stats(
        updateRows = updRows,
        inserted = a.getLong(0),
        closed = a.getLong(1),
        deleted = a.getLong(2),
        suppressed = updRows - a.getLong(3),
        resultRows = histRows + a.getLong(4),
        currentRows = a.getLong(5))
    } finally { staged.unpersist(); upd.unpersist(); () }
    }
  }
}

package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one device for briefly narrowing a session's execution conf —
  * AQE off plus a static shuffle width sized to the work — around the
  * iterative and micro-action operators (LabelProp, Hierarchy, q96,
  * Bpe's small-vocab loop, NearDupIndex maintain).
  *
  * Why AQE off: AQE materializes every exchange as its own query
  * stage and re-optimizes between them — a driver round trip per
  * exchange, PER ROUND, bought for nothing when a loop's co-keyed
  * partitioning is static and the per-round frames do not change
  * shape (measured 3.7× on the Hierarchy closure face at sf0.01).
  *
  * Why a sized width: with AQE off every exchange inherits the static
  * `spark.sql.shuffle.partitions`; left at the session's core-count
  * width, q103 profiled 31 stages × 32 tasks over ≤ 15 k-row frames,
  * ~1 000 tasks of pure dispatch for ~2 s of wall at sf0.1. Sizing the
  * width from the materialized work ([[forRows]], [[forInput]]) keeps
  * the small faces on single-task rounds while a 10⁹-row input still
  * gets thousands of partitions. No local core count is encoded.
  */
object ExecScope {

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val PartsKey = "spark.sql.shuffle.partitions"
  private val MaxParts = 1L << 20

  /** Loop-state rows per shuffle partition. Loop state is a few longs
    * per row (ids + label/depth ≈ 24–48 B serialized), so 4 Mi rows ≈
    * 100–200 MB per partition — the guide §2.2 target range. Chosen by
    * bytes, not by any core count.
    */
  val RowsPerPartition: Long = 1L << 22

  /** Input bytes per shuffle partition for [[forInput]] (guide §2.2). */
  private val BytesPerPartition: Long = 256L << 20

  /** Width for a MATERIALIZED frame of `rows` rows: one partition per
    * [[RowsPerPartition]].
    */
  def forRows(rows: Long): Int =
    math.min((rows + RowsPerPartition - 1) / RowsPerPartition, MaxParts)
      .max(1L).toInt

  /** Width from the planner's size estimate of `df` — file-size-based
    * for a scan, so no action runs: one partition per
    * [[BytesPerPartition]] of input. For one-shot operators whose
    * intermediates (shingle/anchor hashes) are within a small factor
    * of their input.
    */
  def forInput(df: DataFrame): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    (bytes / BytesPerPartition).min(MaxParts).max(1L).toInt
  }

  /** Run `body` with AQE off and `spark.sql.shuffle.partitions` set to
    * `parts` ON THE GIVEN SESSION, restoring both keys in a finally:
    * a key set before is set back to its value, a key unset before is
    * unset again.
    *
    * CONCURRENCY CONTRACT: this mutates `spark`'s conf for the length
    * of its window. A query planned concurrently on that session
    * inherits AQE-off and the narrowed width — a perf wobble, never a
    * correctness one; right for tight driver-side loops on a
    * caller-owned session, wrong for LONG-scoped maintainers, which
    * run on an [[isolated]] session and narrow that instead.
    */
  def narrow[T](spark: SparkSession, parts: Int)(body: => T): T = {
    val conf = spark.conf
    // getAll holds only EXPLICITLY set keys (getOption would report a
    // registered default as set)
    val set = conf.getAll
    val saved = Seq(AqeKey, PartsKey).map(k => k -> set.get(k))
    conf.set(AqeKey, "false")
    conf.set(PartsKey, parts.toString)
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** Run `body` against a CLONED session whose AQE is off, so the
    * caller's session conf is never touched — a concurrent query
    * planned on `spark` mid-window still plans adaptively. The clone
    * (`spark.newSession()`) shares the SparkContext, cache and catalog
    * (writes/reads inside the body hit the same tables) but has a
    * PRIVATE conf, started from the SparkConf: runtime conf set on the
    * caller session after startup is not inherited. Frames must be
    * rebuilt from the clone (a DataFrame plans with the conf of the
    * session that created it); the global-temp-view bridge is the
    * public cross-session path — see NearDupIndex.maintain.
    */
  def isolated[T](spark: SparkSession)(body: SparkSession => T): T = {
    val iso = spark.newSession()
    iso.conf.set(AqeKey, "false")
    body(iso)
  }
}

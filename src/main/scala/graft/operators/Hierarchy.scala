package graft.operators

import graft.util.ExecScope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hierarchy flattening (transitive closure to the root) as a REAL
  * operator — the production form q92 pins as a fixed-depth oracle
  * face (queries/CoreB.scala q92): org charts, BOM explosion,
  * category trees — the recursive-CTE workload Spark has no native
  * recursion for.
  *
  * POINTER DOUBLING with CONVERGENCE DETECTION: each round every
  * node's known-ancestor pointer jumps twice as far (one self-equi-
  * join on the id key, depths add), so depth d settles in ⌈log₂ d⌉
  * rounds — and unlike q92's fixed 6-round unroll, the loop STOPS
  * when a round moves no pointer (every node's ancestor is a root)
  * and FAILS LOUDLY when the round budget is exhausted with pointers
  * still moving, which for any acyclic input can only mean depth >
  * 2^maxRounds and for a cyclic input is the only correct answer
  * (a cycle never reaches a root; q92's silent wrong answer past
  * depth 64 was the gap this closes).
  *
  * Scale shape (the q53 label-propagation discipline): per round ONE
  * co-keyed exchange of (id, anc, d) triples; the round state is
  * cached and the previous round unpersisted (no recompute
  * cascade), lineage is truncated by a localCheckpoint every
  * [[CheckpointEvery]] rounds (the plan otherwise doubles per round —
  * q92's documented caveat), and the driver sees only a per-round
  * moved COUNT, never data. The returned frame is checkpointed, so
  * consuming it never re-runs the loop.
  */
object Hierarchy {

  /** Truncate lineage this often: rarely reached (a 10¹²-node
    * taxonomy settles in ~40 doubling rounds; real trees in ≤ 6), but
    * without it a deep chain's plan tree doubles per round.
    */
  val CheckpointEvery = 2

  /** The result frame plus the handle that releases its checkpoint
    * blocks — the SimJoin/Search Scoped convention. `df` is an eager
    * localCheckpoint (consuming it never re-runs the doubling loop);
    * its MEMORY_AND_DISK blocks are otherwise pinned until the RDD is
    * GC'd, which a long-lived service calling closure repeatedly would
    * accumulate. Call [[release]] once fully done with `df` — a
    * localCheckpoint has NO lineage to recompute from, so unlike the
    * cache-backed Scopeds, using `df` after release FAILS rather than
    * recomputes.
    */
  final case class Scoped(df: DataFrame,
                          private val ckRdd: Option[org.apache.spark.rdd.RDD[_]]) {
    def release(): Unit = { ckRdd.foreach(_.unpersist()); () }
  }

  /** The checkpointed RDD backing a localCheckpoint'd frame — the
    * handle [[Scoped.release]] and the loop's retire path unpersist.
    * Only called on frames THIS object just checkpointed (a deeper
    * search over an arbitrary plan could find a LIVE dependency's
    * checkpoint and free it under a consumer).
    */
  private def checkpointRdd(df: DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** Flatten `nodes` (one row per node: id + parent, parent NULL for
    * roots) to (id, root_id, depth), ordered by id.
    *
    * Lifecycle: intermediate round state is fully released before
    * returning (caches unpersisted; a retired round's checkpoint
    * blocks are freed as soon as the NEXT checkpoint truncates the
    * lineage that could recompute from them). WARNING — the RETURNED
    * frame's own localCheckpoint blocks are pinned until the backing
    * RDD is GC'd: this convenience form DISCARDS the release handle,
    * so every call leaks those blocks for the JVM's GC to find. Fine
    * for a one-shot job or spec; a LONG-LIVED SERVICE calling closure
    * repeatedly accumulates them and must use [[closureScoped]] and
    * call `release()` once done with the frame.
    *
    * @param maxRounds loud-failure budget: acyclic inputs of depth ≤
    *   2^maxRounds always converge inside it, so the default 64 can
    *   only trip on a CYCLE (or a parent pointing at a missing id —
    *   see the require below). Lower it when a domain bound is known
    *   (6 covers depth 64, any org chart).
    */
  def closure(nodes: DataFrame,
              idCol: Column = col("id"),
              parentCol: Column = col("parent"),
              maxRounds: Int = 64): DataFrame =
    closureScoped(nodes, idCol, parentCol, maxRounds).df

  /** [[closure]] with the checkpoint-block handle returned
    * ([[Scoped]]).
    */
  def closureScoped(nodes: DataFrame,
                    idCol: Column = col("id"),
                    parentCol: Column = col("parent"),
                    maxRounds: Int = 64): Scoped = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    // roots point at themselves with depth 0: the doubling join is
    // then TOTAL (a settled node joins the root's self-row and adds
    // 0) — no null arms, and "moved" is simply "joined a row that
    // still had distance to go" (p_d > 0)
    // `pinned` is the frame ACTUALLY cached/checkpointed each round;
    // `st` may be a projection over it. Retiring must unpersist
    // `pinned` — Dataset.unpersist only uncaches an EXACT plan match,
    // so calling it on the derived projection is a silent no-op (the
    // leak the checkpoint-blocks spec pins)
    var pinned = nodes.select(
        idCol.as("id"),
        coalesce(parentCol, idCol).as("anc"),
        when(parentCol.isNull, 0L).otherwise(1L).as("d"))
      .cache()
    var st = pinned
    // materialize the round-0 cache and size the loop from its row
    // count (r19, [[graft.util.ExecScope]]): AQE stays scoped OFF as
    // before (per-exchange driver round trips, measured 3.7×), and the
    // loop's static shuffle width is derived from |nodes| instead of
    // inherited from the session — sf0.1's 15 k-row face ran 31 stages
    // × 32 tasks of pure dispatch (profiled: every executor parked in
    // every jstack sample). The count doubles as the cache
    // materialization the round-1 row-conservation check re-reads hot.
    val nNodes = pinned.count()
    ExecScope.narrow(nodes.sparkSession, ExecScope.forRows(nNodes)) {
    var round = 0
    var moved = 1L
    // the round checkpoint whose blocks are still NEEDED: cached
    // rounds after it can recompute from it on cache eviction, so it
    // is freed only when a newer checkpoint truncates that lineage
    var liveCkRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    // rounds pinned but not yet retired: an UNCHECKED round (below)
    // runs no action, so its predecessor cannot be unpersisted yet —
    // dropping its cache entry before the successor materializes
    // would recompute its join TWICE (both branches of the next
    // self-join read it). Retired wholesale after each checked agg.
    val pending = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try {
      while (moved > 0) {
        round += 1
        if (round > maxRounds)
          throw new IllegalStateException(
            s"hierarchy closure did not converge in $maxRounds doubling " +
              s"rounds (covers depth <= 2^$maxRounds): the parent graph " +
              "has a cycle, or parents reference missing ids")
        val p = st.select(col("id").as("p_id"), col("anc").as("p_anc"),
          col("d").as("p_d"))
        // INNER join: a dangling parent (anc references no node row)
        // would silently DROP its whole subtree here — refuse instead,
        // via the row-conservation check below (count is free: it
        // shares the cached round frame with the moved-sum)
        val next = st.join(p, st("anc") === p("p_id"))
          .select(col("id"), col("p_anc").as("anc"),
            (col("d") + col("p_d")).as("d"),
            (col("p_d") > 0).cast("long").as("_moved"))
        val ck = if (round % CheckpointEvery == 0) {
          val c = next.localCheckpoint(true)
          // this checkpoint truncates every older round's lineage:
          // the previous checkpoint's blocks can no longer be needed
          liveCkRdd.foreach(_.unpersist())
          liveCkRdd = checkpointRdd(c)
          c
        } else next.cache()
        // convergence is OBSERVED every 2nd round only (plus round 1,
        // which the row-conservation check and the degenerate inputs —
        // all-roots, empty — need, and the FINAL in-budget round: an
        // acyclic input converging exactly at an odd maxRounds must be
        // observed there, or the budget check would mis-report it as a
        // cycle): each observation is a full Spark action, and at
        // log₂(depth) total rounds, checking every round costs as
        // many jobs as the doubling itself. The price is at most ONE
        // overshoot round past convergence — the same order as the
        // one observation round a per-round check already pays.
        val checked = round == 1 || round % 2 == 0 || round == maxRounds
        pending += pinned
        pinned = ck
        st = ck.drop("_moved")
        if (checked) {
          val agg = ck.agg(sum(col("_moved")), count(lit(1))).head()
          moved = if (agg.isNullAt(0)) 0L else agg.getLong(0)
          if (round == 1) {
            val n = pending.head.count()
            if (agg.getLong(1) != n) {
              throw new IllegalArgumentException(
                s"hierarchy closure: $n nodes but ${agg.getLong(1)} " +
                  "survived the ancestor join — some parent ids " +
                  "reference missing nodes")
            }
          }
          // ck is materialized now: every older pinned round is
          // retirable (later rounds read only ck)
          pending.foreach(_.unpersist())
          pending.clear()
        }
      }
      // truncate the iterative lineage and release the loop cache: the
      // returned plan must not re-run the doubling (q53 discipline)
      val out = st
        .select(col("id"), col("anc").as("root_id"),
          col("d").cast("bigint").as("depth"))
        .orderBy(col("id"))
        .localCheckpoint(true)
      Scoped(out, checkpointRdd(out))
    } finally {
      // out (when reached) is already materialized, so every loop
      // resource — pending rounds, the final round's cache AND the
      // last in-loop checkpoint — is releasable here, on success or
      // failure
      pending.foreach(_.unpersist())
      pinned.unpersist()
      liveCkRdd.foreach(_.unpersist())
      ()
    }
    }
  }
}

package graft.operators

import graft.util.ExecScope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed min-label propagation with label doubling — the
  * connected-components kernel behind q53 (near-dup clusters) and the
  * incremental [[NearDupIndex]] maintainer, extracted so the two
  * cannot drift. Input: UNDIRECTED candidate pairs (aCol, bCol);
  * output: (node, component) where component = the minimum node id
  * reachable from `node` (the deterministic canonical-label
  * convention the whole dedup family shares).
  *
  * Shape (SURVEY §5): each round is one equi-join + one min-aggregate
  * on the node key (shuffle-linear in |edges|) plus a label-doubling
  * self-join (lbl of lbl), so convergence is O(log diameter). Round
  * state is cached and the previous round retired through a pending
  * list once the NEXT observation materializes; convergence is
  * OBSERVED every 2nd round only (plus the final in-budget round) —
  * each observation is a full Spark action, and at O(log diameter)
  * rounds, checking every round costs as many driver jobs as the
  * propagation itself; the price is at most ONE overshoot round. The
  * previous label rides the round aggregation (max over the self
  * rows' tag — prop rows carry null, which max skips), so the
  * convergence check scans the cached frame instead of running its
  * own join. The driver only ever sees convergence COUNTS.
  *
  * AQE stays ON (unlike Hierarchy.closure's loop): the label/neighbor
  * frames here are candidate-graph-sized — tiny at small SF (AQE
  * converts their joins to broadcasts at runtime, measured 2.6×
  * faster than static shuffle plans) yet potentially billions of
  * nodes at 100 TB, where AQE correctly keeps the shuffle. A static
  * broadcast hint would encode one scale's answer; AQE re-decides per
  * round from real sizes.
  *
  * @param checkpointDir when set, the converged labels are written
  *   through a RELIABLE `checkpoint` into this directory instead of
  *   `localCheckpoint`: localCheckpoint blocks live on executors, so
  *   on a 1000-node run one lost executor AFTER convergence kills the
  *   job with no recompute path. The CALLER owns the directory's
  *   lifecycle (reliable checkpoint files are only auto-deleted under
  *   `spark.cleaner.referenceTracking.cleanCheckpoints=true`), and
  *   `setCheckpointDir` is SparkContext-GLOBAL.
  */
object LabelProp {

  /** Truncate lineage this often (the Hierarchy.closure device): the
    * doubling self-join nests the previous round's plan FOUR times
    * per round (labels twice in nbr, nbr twice in short), so the
    * LOGICAL plan tree grows 4^rounds — even with every round's data
    * cached, just RENDERING a late round's plan (Spark stringifies
    * the plan to name each cache) can exhaust the heap. The
    * checkpoint collapses it to a LogicalRDD.
    */
  private val CheckpointEvery = 2

  /** The checkpointed RDD backing a localCheckpoint'd frame — what
    * the retire path unpersists (Dataset.unpersist is a no-op on a
    * checkpointed frame). Only called on frames THIS object just
    * checkpointed.
    */
  private def ckRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  def components(pairs: DataFrame, aCol: String, bCol: String,
                 checkpointDir: Option[String] = None,
                 maxIters: Int = 50): DataFrame = {
    val s = pairs.sparkSession
    val p = pairs.select(col(aCol), col(bCol))
    // EAGER localCheckpoint, not cache: the caller's pair plan can be
    // arbitrarily fat (the incremental maintainer feeds a
    // bucket-join + window + union), and it would otherwise be
    // re-nested 4^rounds times in every round's plan string (see
    // [[CheckpointEvery]]) — the checkpoint bounds every round's plan
    // at O(4^CheckpointEvery × LogicalRDD).
    // Note the checkpoint runs OUTSIDE the loop scope below: the
    // caller's candidate plan (LSH bucket joins etc.) keeps AQE and
    // the session's partitioning.
    val edges = p
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(p.select(col(bCol).as("src"), col(aCol).as("dst")))
      .localCheckpoint(true)
    val edgesRdd = ckRdd(edges)
    // loop partitioning sized from the MATERIALIZED edge count (r19,
    // [[graft.util.ExecScope]]): the count is a cheap scan of the
    // checkpoint blocks just written. r18 kept AQE ON in this loop so
    // runtime coalescing would size the micro-rounds; that bought the
    // right widths at the price of a driver re-planning round trip per
    // exchange per round — the dominant q53 wall cost once the stages
    // were small (profiled r19: executors parked in every jstack
    // sample while the driver sequenced 30+ stages). A static count
    // derived from |edges| gets the same size-adaptivity without the
    // round trips.
    val nEdges = edges.count()
    ExecScope.narrow(s, ExecScope.forRows(nEdges)) {
    // `pinned` is the frame ACTUALLY cached each round; `labels` may
    // be a projection over it — Dataset.unpersist only uncaches an
    // exact plan match, so retiring the projection would silently
    // leak every round's cache (the Hierarchy.closure lesson, pinned
    // by its checkpoint-blocks spec)
    var pinned = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).cache()
    var labels = pinned
    // rounds pinned but not yet retired: an UNOBSERVED round runs no
    // action, so its predecessor cannot be unpersisted yet
    val pendingRounds =
      scala.collection.mutable.ListBuffer.empty[DataFrame]
    // the in-loop checkpoint whose blocks are still NEEDED: cached
    // rounds after it can recompute from it on eviction, so it is
    // freed only when a newer checkpoint truncates that lineage
    var liveCkRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    try {
      var changed = 1L
      var iters = 0
      while (changed > 0 && iters < maxIters) {
        val prop = edges.join(labels, edges("src") === labels("node"))
          .select(col("dst").as("node"), col("lbl"),
            lit(null).cast("long").as("_old"))
        val nbr = labels
          .select(col("node"), col("lbl"), col("lbl").as("_old"))
          .union(prop)
          .groupBy(col("node"))
          .agg(min(col("lbl")).as("lbl"), max(col("_old")).as("_old"))
        val short = nbr.alias("a")
          .join(nbr.alias("b"), col("a.lbl") === col("b.node"), "left")
          .select(col("a.node").as("node"),
            least(col("a.lbl"), coalesce(col("b.lbl"), col("a.lbl")))
              .as("lbl"),
            col("a._old").as("_old"))
        iters += 1
        val next = if (iters % CheckpointEvery == 0) {
          val c = short.localCheckpoint(true)
          // this checkpoint truncates every older round's lineage:
          // the previous in-loop checkpoint's blocks can no longer be
          // needed
          liveCkRdd.foreach(_.unpersist())
          liveCkRdd = ckRdd(c)
          c
        } else short.cache()
        val checked = iters % 2 == 0 || iters == maxIters
        pendingRounds += pinned
        pinned = next
        labels = next.drop("_old")
        if (checked) {
          changed = next.filter(col("lbl") =!= col("_old")).count()
          pendingRounds.foreach(_.unpersist())
          pendingRounds.clear()
        }
      }
      require(changed == 0,
        s"label propagation did not converge in $maxIters rounds")
      // truncate the iterative lineage and release the loop cache: the
      // returned plan must not re-run the whole propagation, and the
      // final cache must not outlive the call
      val finalLabels = checkpointDir match {
        case Some(d) =>
          s.sparkContext.setCheckpointDir(d)
          labels.checkpoint(true)
        case None => labels.localCheckpoint(true)
      }
      finalLabels.select(col("node"), col("lbl").as("component"))
    // the CURRENT round's cache is released on BOTH paths — a
    // mid-loop failure must not leak the last pinned frame (or any
    // unobserved pending round) into the session
    } finally {
      pendingRounds.foreach(_.unpersist())
      pinned.unpersist()
      liveCkRdd.foreach(_.unpersist())
      edgesRdd.foreach(_.unpersist())
      ()
    }
    }
  }
}

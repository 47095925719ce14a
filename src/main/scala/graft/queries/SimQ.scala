package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Exact set-similarity join as an inventory entry — the
  * [[graft.operators.SimJoin]] AllPairs operator over the documents
  * table. The oracle is DELIBERATELY the brute-force definition
  * (every pair's exact intersection via list ops): the Spark side
  * must reproduce it row-for-row, so any false negative the prefix
  * filter ever introduced would surface as a missing oracle row —
  * the filter is verified against the semantics, not against itself.
  */
object SimQ {

  /** Shingle width and the exact rational threshold, single-sourced
    * into both engines. 3-gram shingles discriminate where raw-token
    * sets do not (the synthetic docs share one vocabulary: token-set
    * Jaccard ≥ 0.6 holds for ~60% of ALL pairs, 3-gram Jaccard for
    * ~0.02%); 3/5 is the classic near-dup threshold.
    */
  val SimShingle = 3
  val SimNum = 3
  val SimDen = 5

  /** Materialize-then-release (the CsvSource.Loaded pattern): the
    * operator's internal shingle cache is scoped to THIS call — the
    * result is eagerly localCheckpoint'd (pair-count-sized) while the
    * cache is live, then the entry is dropped, so a long-lived
    * service running the registered query over many corpora does not
    * grow session cache per distinct input (spec-pinned). Plan-shape
    * pins use the lazy [[graft.operators.SimJoin.joinPairs]] directly.
    */
  /** The whole construction + materialization runs inside an AQE-off,
    * input-byte-sized static-width scope (r19): the operator is a
    * dozen micro-exchanges at query scale, and AQE's per-exchange
    * stage materialization made the bench-context wall a sequence of
    * driver round trips — while every widening attempt (an explicit
    * 8/16/32-way floor on the rank+verify pipeline) bought no wall and
    * billed ~0.45 s of bench-context CPU PER ADDED TASK (interleave-
    * probed r19). With the scope, the sf0.1 run is single-task stages
    * end to end: probe wall flat-to-better, cpu 24 s → 3.3 s. The
    * width derives from the planner's file-size estimate of the input
    * (≈256 MB/partition), so a production corpus still fans out.
    */
  def q96(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    graft.util.ExecScope.narrow(docs.sparkSession,
        graft.util.ExecScope.forInput(docs)) {
      val sc = graft.operators.SimJoin.joinPairsScoped(
        docs, SimShingle, SimNum, SimDen)
      try sc.df.localCheckpoint() finally sc.release()
    }
  }

  val q96Sql: String = {
    val n = SimShingle
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(
       |    trim(lower(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')))), '\\s+') AS a
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, len(a) - ${n - 1}),
       |    i -> array_to_string(list_slice(a, i, i + ${n - 1}), ' '))) AS s
       |  FROM toks WHERE len(a) >= $n),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    len(list_intersect(a.s, b.s)) AS i,
       |    len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(i AS BIGINT) AS n_inter,
       |  CAST(u AS BIGINT) AS n_union,
       |  CAST(i * 1000000000 // u AS BIGINT) AS jac9
       |FROM p WHERE i * $SimDen >= $SimNum * u
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q96_simjoin", q96, Some(q96Sql)))
}

package graft.operators

import graft.functions.TextOps.{normText, tokens}
import graft.functions.expressions.TextExprs.{md5Lower64, wordShingles}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT Jaccard-threshold set-similarity self-join via prefix
  * filtering — the AllPairs algorithm (Bayardo, Ma, Srikant 2007,
  * "Scaling Up All Pairs Similarity Search"). The LSH paths (q31
  * MinHash, q33 banded n-gram) trade recall for volume: a pair can
  * slip every band. This operator has NO false negatives at any
  * threshold — the guarantee a contract like "no two near-identical
  * docs may both ship" needs — while still never forming all pairs.
  *
  * The filter: order every doc's shingle set by GLOBAL document
  * frequency (rarest first; ties by hash — one total order for the
  * whole corpus). If jac(A, B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, so A and B
  * must share a shingle among the first |A| − ⌈t·|A|⌉ + 1 of EACH
  * side's ordering — the "prefix". Candidates therefore come from an
  * equi-join on prefix shingles only, and rarest-first ordering makes
  * prefix buckets the SMALLEST buckets in the corpus (a boilerplate
  * shingle shared by a million docs sits at the END of every doc's
  * order and never generates a candidate).
  *
  * The threshold is the exact rational tNum/tDen and every compare is
  * integer (`inter·tDen ≥ tNum·union`, ceil via (a+b−1) DIV b): no
  * float enters until the presentation-only jac9 fixed-point column,
  * itself an integer ratio — both engines bit-identical.
  *
  * Scale shape: shingle strings die map-side (one projection to the
  * portable 64-bit hash); every exchange carries (doc_id, hash) or
  * candidate-pair ids. Verification joins the candidate pairs back to
  * the full shingle lists — work bounded by candidates × set size,
  * which the prefix filter (not a sampling knob) keeps small. A
  * skew-hot prefix shingle is capped only by its document frequency —
  * by construction the rarest shingles in each doc.
  */
object SimJoin {

  /** A result frame plus the handle to the internal cache entry that
    * backs it — the fix for the unsatisfiable "cache lifecycle is the
    * caller's" contract a bare lazy DataFrame imposes (the caller had
    * no handle; only session-wide `clearCache()` could free the
    * entry, nuking unrelated caches). Call [[release]] once `df` is
    * materialized (written out, checkpointed, collected); using `df`
    * lazily AFTER release is correct but recomputes the shingle pass.
    */
  /** `candidates` exposes the post-filter pre-verification pair frame
    * (ids + sizes only) for scale telemetry — counting it is how a
    * scale run measures what the prefix/length/positional filters
    * actually admitted (the number the 100 TB cost argument rests on).
    */
  final case class Scoped(df: DataFrame,
                          private[graft] val cached: DataFrame,
                          candidates: DataFrame,
                          private[graft] val cachedPref: Option[DataFrame] = None) {
    def release(): Unit = {
      cached.unpersist(); cachedPref.foreach(_.unpersist()); ()
    }
  }

  /** The (id, shingle-hash) frame both the join and its cache probe
    * share — one definition so a test can reconstruct the exact
    * canonicalized plan the cache entry is keyed on.
    */
  private[graft] def shingleFrame(docs: DataFrame, n: Int,
                                  idCol: Column, textCol: Column): DataFrame =
    docs
      .select(idCol.as("id"),
        tokens(normText(coalesce(textCol, lit("")))).as("arr"))
      .filter(size(col("arr")) >= n)
      .select(col("id"), explode(wordShingles(col("arr"), n)).as("s"))
      .select(col("id"), md5Lower64(col("s")).as("h"))

  /** All pairs (doc_a < doc_b) with shingle-set Jaccard ≥ tNum/tDen:
    * (doc_a, doc_b, n_inter, n_union, jac9). Lazy-DataFrame form: the
    * internal cache entry outlives the call (CacheManager keys on the
    * canonicalized plan, so repeated invocations over the SAME input
    * share one entry) — a long-lived service joining many DIFFERENT
    * corpora should use [[joinPairsScoped]] and release each entry
    * after materializing.
    *
    * @param n    word-shingle width (distinct n-grams form the set)
    * @param tNum threshold numerator, tDen denominator (e.g. 3/5)
    */
  def joinPairs(docs: DataFrame, n: Int, tNum: Int, tDen: Int,
                idCol: Column = col("doc_id"),
                textCol: Column = col("text")): DataFrame =
    joinPairsScoped(docs, n, tNum, tDen, idCol, textCol).df

  /** [[joinPairs]] with the cache handle returned ([[Scoped]]). */
  def joinPairsScoped(docs: DataFrame, n: Int, tNum: Int, tDen: Int,
                      idCol: Column = col("doc_id"),
                      textCol: Column = col("text")): Scoped = {
    require(n >= 1 && tNum > 0 && tDen > 0 && tNum <= tDen,
      s"need n >= 1 and 0 < tNum/tDen <= 1, got $n, $tNum/$tDen")
    // CACHED (the q86 ship-model-to-data rationale): five consumers
    // read this frame — sizes, document frequencies, the ranked join,
    // and both verification sides — and each would otherwise re-scan
    // the corpus and re-digest every shingle (plan-level reuse cannot
    // fire: each consumer prunes/aggregates differently, so the
    // subtrees stop being identical). The frame is (id, hash) pairs —
    // shingle-count-sized, far below the corpus. Lifecycle: the
    // returned Scoped.release (see its scaladoc).
    val sh = shingleFrame(docs, n, idCol, textCol).cache()
    // eager materialization (r18): the five consumer stages launch
    // CONCURRENTLY under AQE and all race the lazily-built cache —
    // profiled: seven stages each blocked ~430 ms (run-time with zero
    // CPU) behind the one computing task's block lock. One count()
    // builds the entry once, before any consumer exists; every stage
    // then reads hot cache. Cost: one tiny job over the (id, hash)
    // frame, ≪ the blocked-stage time it removes — at any scale, the
    // same single materialization the first consumer would pay anyway.
    sh.count()
    // Width note (r19, measured so the next round does not re-try it):
    // the CPU-dense rank+verify chain all rides the window exchange on
    // id, which AQE coalesces to ~3 tasks at sf0.1. An explicit
    // REPARTITION_BY_NUM floor there (8/16/32-way) was implemented and
    // interleave-probed: NO bench-context wall win at any width, and
    // billed CPU grew LINEARLY at ~0.45 s per added task (32-way read
    // 24 s CPU vs 3.3 s single-task) — in a 150-query shared JVM the
    // per-task overhead (task-binary deserialization, page
    // allocation) dwarfs the kernel. The width answer lives in the
    // q96 entry instead (ExecScope.forInput: AQE-off scope with
    // a file-size-derived static width, so production inputs still
    // fan out).
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("nsz"))
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // one total order: (document frequency asc, hash asc)
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df").asc, col("h").asc)
    val ranked = sh.join(dfreq, "h")
      .withColumn("rn", row_number().over(wDoc))
      .join(sizes, "id")
    // prefix length |s| - ceil(t|s|) + 1, all-integer ceil.
    // CACHED (r19): the candidate self-join consumes pref TWICE (as
    // sides a and b), and because the b side feeds a BroadcastExchange
    // — not a shuffle — exchange reuse cannot deduplicate them, so the
    // whole rank pipeline (df join + window + prefix filter) executed
    // twice (profiled: two ~1.4 s-CPU twin stages). The entry is
    // prefix-rows-sized (4 longs per prefix token, ≲ the shingle cache
    // above) and builds INSIDE the b-side broadcast job — the a-side
    // stage cannot start until that broadcast exists, so there is no
    // lazy-build race (the r18 sh.count() lesson does not recur) and
    // no extra materialization job. Released with the Scoped handle.
    val pref = ranked.filter(col("rn") <=
      col("nsz") - expr(s"(${tNum}L * nsz + ${tDen - 1}) DIV $tDen") + 1)
      .select(col("id"), col("h"), col("nsz"), col("rn"))
      .cache()
    // candidates: a prefix shingle in common, canonical orientation,
    // pruned by the LENGTH filter (t·|A| ≤ |B| ≤ |A|/t — a longer
    // partner dilutes the union past reach) and PPJoin's POSITIONAL
    // filter (Xiao et al. 2008): a token shared at ranks (rnA, rnB)
    // bounds the overlap by 1 + min(|A|−rnA, |B|−rnB), which must
    // reach α = ⌈t(|A|+|B|)/(1+t)⌉, the overlap jac ≥ t implies; the
    // pair's FIRST shared prefix token satisfies this whenever the
    // pair qualifies, so keeping pairs where ANY shared token passes
    // loses nothing. Measured on the template-heavy synthetic corpus:
    // 300k → 69k candidates at sf0.1.
    val alpha = expr(
      s"(${tNum}L * (a.nsz + b.nsz) + ${tNum + tDen - 1}) DIV ${tNum + tDen}")
    val cand = pref.as("a").join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          col("b.nsz") * tDen >= col("a.nsz") * tNum &&
          col("a.nsz") * tDen >= col("b.nsz") * tNum &&
          lit(1) + least(col("a.nsz") - col("a.rn"),
            col("b.nsz") - col("b.rn")) >= alpha)
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        col("a.nsz").as("na"), col("b.nsz").as("nb"))
      .distinct()
    // exact verification: each candidate pair intersects the two
    // docs' full hash ARRAYS in place — one row per candidate, no
    // aggregation. The first cut expanded every candidate by ALL of
    // side A's shingles (candidates × |A| rows through a shuffle +
    // groupBy); at the sf1 scale point that expansion WAS the verify
    // cost (SCALE_r11: wall 5.9× at candidates 9.9×). Same bytes ride
    // the join, ~|doc| fewer rows, and the whole post-join pipeline
    // is a codegen'd per-row array_intersect (sets — wordShingles
    // emits distinct shingles, so distinct-intersection matches the
    // oracle's list_intersect semantics exactly, hash collisions
    // aside as ever).
    //
    // Width bound, stated for the skew audit: a candidate row carries
    // ~8·(|A|+|B|) bytes of hash arrays, and a doc's arrays replicate
    // once per candidate it appears in — bounded by its ≤(1−t)|s|+1
    // prefix tokens × each token's collision count among docs the
    // LENGTH filter admits (t|A| ≤ |B| ≤ |A|/t). On real template-heavy
    // text that product is small (measured 69k candidates over 300k
    // docs at sf0.1, ≈0.2/doc); it degenerates only when one prefix
    // shingle is shared corpus-wide within a length band — the same
    // boilerplate pathology q31 caps per bucket. A deployment facing
    // that corpus shape should route docs with |s| (or a prefix
    // token's df) above a cap through the pre-r12 row-expansion
    // verify (expand candidate × side-A shingles, join on (idb, h),
    // count — value-identical, rows instead of width); kept out of
    // THIS hot path deliberately: the extra branch costs every normal
    // corpus a join + union for a pathology the synthetic and crawl
    // corpora never exhibit.
    val lists = sh.groupBy(col("id")).agg(collect_list(col("h")).as("hs"))
    val inter = cand
      .join(lists.select(col("id").as("ida"), col("hs").as("ha")), "ida")
      .join(lists.select(col("id").as("idb"), col("hs").as("hb")), "idb")
      .select(col("ida"), col("idb"), col("na"), col("nb"),
        size(array_intersect(col("ha"), col("hb")))
          .cast("long").as("n_inter"))
    val out = inter
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
      .filter(col("n_inter") * tDen >= col("n_union") * tNum)
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"),
        col("n_inter").cast("long").as("n_inter"),
        col("n_union").cast("long").as("n_union"),
        expr("n_inter * 1000000000 DIV n_union").cast("long").as("jac9"))
      .orderBy(col("doc_a"), col("doc_b"))
    Scoped(out, sh, cand, Some(pref))
  }
}

package graft.operators

import graft.functions.TextOps.{normText, tokens}
import graft.functions.expressions.TextExprs.windowMd5Hashes
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact substring (verbatim-run) deduplication across documents — the
  * suffix-array pass of Lee et al. 2021 ("Deduplicating Training Data
  * Makes Language Models Better", arXiv:2107.06499) re-expressed as a
  * bucketed token-window scan: a 600-token quote embedded verbatim in
  * two otherwise-distinct pages is exactly the case doc-level (q30),
  * near-dup (q31/q32), and line-window (q59) granularities all miss,
  * and the case this operator localizes to the token span.
  *
  * Method: every token position opens a `w`-token window; a window
  * whose w-gram occurs in ≥ 2 distinct documents is a duplicated
  * anchor. Any shared verbatim run of length L ≥ w tokens is covered
  * by ALL of its L−w+1 anchors in both documents, so the maximal
  * island of consecutive duplicated anchors in a document reproduces
  * the full run [start, last_anchor + w − 1] EXACTLY — no suffix
  * array needed for runs at or above the window, which is the
  * published pass's own threshold (Lee et al. use ≥ 50 BPE tokens).
  * Runs shorter than `w` are below threshold by definition.
  *
  * Attribution follows the q59 keep-lowest-doc rule: the minimal
  * doc_id holding a given w-gram keeps it; anchors are marked only in
  * higher doc_ids, so one copy of every run survives corpus-wide
  * (within-doc repeats belong to q62's intra-doc pass).
  *
  * Scale shape (the q72 recipe): window strings exist only map-side
  * inside one native kernel ([[graft.functions.expressions.TextExprs
  * .windowMd5Hashes]]: one flatten + n range-digests per doc) — every
  * exchange carries the 64-bit anchor hash or (doc_id, position)
  * pairs, never text; the gram table is a hash aggregate (map-side
  * combined), the mark step an equi-join on the hash against the
  * ≥2-doc subset, and island assembly one doc-keyed window — linear
  * passes, never all-pairs.
  *
  * Shuffle volume, stated honestly: the gram aggregation moves ~24
  * bytes per corpus TOKEN (hash + doc + pos) — one sort-class pass,
  * the same order of work as the suffix-array construction the
  * published pass does, and it runs once per corpus refresh. If that
  * pass ever dominates, the standard cheapening is winnowing the
  * anchor windows (content-defined sampling shrinks round 1 by ~2/(W+1)
  * at the cost of a detection threshold of w+W−1 and a pair-extension
  * second pass); it changes which sub-threshold runs are noticed, so
  * it is a different, documented operator — not a drop-in swap for
  * the exact pass verified here.
  */
object SubstrDedup {

  /** Tokenize to the anchor frame both passes share: (doc_id, arr),
    * docs under w tokens dropped (they cannot hold a ≥ w-token run).
    */
  private def tokenized(docs: DataFrame, w: Int,
                        idCol: Column, textCol: Column): DataFrame =
    docs
      .select(idCol.as("doc_id"),
        tokens(normText(coalesce(textCol, lit("")))).as("arr"))
      .filter(size(col("arr")) >= w)

  // r19 note, measured so it is not re-tried: the anchor frames below
  // (pos / anch) are each consumed by TWO subtrees — the duplicate-gram
  // aggregate and the mark join — and because the aggregate side
  // becomes a BroadcastExchange, exchange reuse cannot deduplicate
  // them: the digest kernel runs once per subtree. CACHING the
  // (doc_id, p, h) frame per call (a Scoped form, the SimJoin pattern)
  // was implemented and full-bench A/B'd: per-query CPU fell ~30-40%
  // but wall ROSE (q74 1.97 -> 2.26 s, q72 1.44 -> 2.65 s) and the
  // per-rep columnar-cache churn pushed bench gc_total 1.4 -> 11.9 s,
  // regressing a dozen neighbor queries. At 100 TB the same trade
  // reads differently (a second full corpus digest pass vs one
  // disk-backed write), so a production deployment should persist the
  // anchor table explicitly between passes; at query scope the double
  // kernel stays.

  /** One row per anchor position: window BYTES die inside the native
    * kernel (one flatten + n range-digests per doc, no per-position
    * slice/concat_ws trees) — only (doc_id, p, hash) continues.
    */
  private def posFrame(toks: DataFrame, w: Int): DataFrame =
    toks
      .select(col("doc_id"),
        posexplode(windowMd5Hashes(col("arr"), w)).as(Seq("i", "h")))
      .select(col("doc_id"), (col("i") + 1).cast("long").as("p"), col("h"))

  /** Grams held by at least two distinct docs, with their keeper (the
    * minimal doc): (h, keeper). "Two distinct docs" is `min < max`, one
    * map-side-combinable aggregate; a distinct count would add a
    * (gram, doc) exchange that carries every pair. Both forms ignore
    * NULL ids.
    */
  private[graft] def dupGrams(anchors: DataFrame): DataFrame =
    anchors.groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper"), max(col("doc_id")).as("_last"))
      .filter(col("keeper") < col("_last"))
      .select(col("h"), col("keeper"))

  /** The exact pass over a pre-tokenized frame, unsorted — see [[spans]]. */
  private def spansFromToks(toks: DataFrame, w: Int): DataFrame =
    spansFromPos(posFrame(toks, w), w)

  private def spansFromPos(pos: DataFrame, w: Int): DataFrame = {
    // duplicated anchors: the gram is shared and this doc is not its keeper
    val marked = pos.join(dupGrams(pos), "h")
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("p"))
    // gaps-and-islands (the q61 device): consecutive anchor positions
    // share p - row_number(), each island is one maximal verbatim run
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    marked
      .withColumn("grp", col("p") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(
        min(col("p")).as("span_start"),
        (max(col("p")) + lit(w.toLong - 1)).as("span_end"),
        (max(col("p")) + lit(w.toLong) - min(col("p"))).as("n_tok"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_tok"))
  }

  /** Duplicated-run spans per document: (doc_id, span_start, span_end,
    * n_tok), token positions 1-based inclusive, keep-lowest-doc.
    */
  def spans(docs: DataFrame, w: Int,
            idCol: Column = col("doc_id"),
            textCol: Column = col("text")): DataFrame =
    spanRows(docs, w, idCol, textCol).orderBy(col("doc_id"), col("span_start"))

  /** [[spans]] without its global sort, for the consumers that regroup
    * the spans by doc anyway: the sort would add a range exchange (and
    * its sampling job) under an aggregate that can reuse the island
    * window's doc_id partitioning.
    */
  private def spanRows(docs: DataFrame, w: Int,
                       idCol: Column, textCol: Column): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    spansFromToks(tokenized(docs, w, idCol, textCol), w)
  }

  /** Winnow-selected anchor positions over a hash array — the
    * Schleimer et al. 2003 fingerprint selection (MOSS), per-window
    * form: every window of `winnow` consecutive w-gram hashes selects
    * its minimum (rightmost position on ties), and the anchor set is
    * the distinct union. The guarantee this buys: the selection for a
    * window depends ONLY on the window's own hash content, so two
    * documents sharing any verbatim run of ≥ w + winnow − 1 tokens
    * (⇒ ≥ `winnow` consecutive shared w-gram hashes ⇒ one full shared
    * window) select the SAME gram inside it — a shared fingerprint is
    * certain, while only ~2/(winnow+1) of positions survive.
    *
    * Minima compare UNSIGNED (the q48 convention): Spark longs are
    * signed, so ordering runs on `shiftrightunsigned(h,1)`, which
    * DuckDB's HUGEINT `>> 1` reproduces bit-for-bit; dropping the low
    * bit can only merge two hashes into a comparison tie, and the
    * rightmost-position rule resolves ties identically in both
    * engines. Docs with fewer hashes than a window get one window
    * over what they have (→ exactly one anchor).
    *
    * Returns positions (1-based) into the hash array as array<long>.
    * Pure projection: the O(m·winnow) slice-min work happens map-side
    * inside codegen'd higher-order functions — no shuffle, no UDF.
    */
  def winnowSelect(shiftedCol: String, winnow: Int): Column =
    graft.functions.expressions.TextExprs.winnowPositions(col(shiftedCol), winnow)

  /** The winnow-sampled anchor frame (doc_id, p, h): each doc's
    * fingerprint positions with the UNSHIFTED w-gram hash at each.
    * Shared by [[winnowedSpans]] (round-only use) and [[refinedSpans]]
    * (as the detection round).
    */
  private def winnowAnchors(toks: DataFrame, w: Int, winnow: Int): DataFrame =
    toks
      .select(col("doc_id"), windowMd5Hashes(col("arr"), w).as("hs"))
      .withColumn("hw", expr("transform(hs, h -> shiftrightunsigned(h, 1))"))
      .select(col("doc_id"), col("hs"),
        explode(winnowSelect("hw", winnow)).as("p"))
      .select(col("doc_id"), col("p"), element_at(col("hs"), col("p").cast("int")).as("h"))

  /** The composed (higher-order-function) form of [[winnowSelect]] —
    * the literal Spark-SQL transcription of the DuckDB oracle's list
    * lambdas, kept as the parity reference the native kernel is
    * spec-checked against (the NativeExprSpec pattern). O(m·winnow)
    * per doc versus the deque kernel's O(m); not used in query paths.
    */
  private[graft] def winnowSelectComposed(shiftedCol: String, winnow: Int): Column = {
    require(winnow >= 1, s"winnow window must be >= 1, got $winnow")
    val hs = shiftedCol
    // the caller pre-shifts ONCE (`transform(hs, h -> shiftrightunsigned
    // (h,1))`); inlining the shift here would re-run it per window —
    // O(m²) per doc instead of O(m·winnow)
    val win = s"slice($hs, s, least($winnow, size($hs)))"
    expr(
      s"""array_distinct(transform(
         |  sequence(1, greatest(size($hs) - ${winnow - 1}, 1)),
         |  s -> CAST(s - 1 + least($winnow, size($hs)) + 1
         |       - array_position(reverse($win), array_min($win)) AS BIGINT)))"""
        .stripMargin)
  }

  /** Winnowed (sampled) duplicated-run spans — the scale path of
    * [[spans]]: anchors are [[winnowSelect]] fingerprints instead of
    * every position, so round-1 shuffle volume drops to ~2/(winnow+1)
    * of the exact pass while any run of ≥ w + winnow − 1 tokens is
    * still detected with certainty (runs in [w, w+winnow−1) MAY be
    * missed — that is the documented trade; the exact pass exists for
    * corpora that need them). Output spans are unions of the anchor
    * windows that fired, merged when overlapping or adjacent — always
    * contained in the exact pass's spans (a winnowed anchor is a
    * duplicated w-gram, and its keeper can only be ≥ the exact
    * keeper, so every marked anchor is marked by the exact pass too).
    *
    * Same keep-lowest-doc rule, same (doc_id, span_start, span_end)
    * contract as [[spans]], plus n_anchors (how many fingerprints
    * support the span — the confidence column the exact pass doesn't
    * need).
    */
  def winnowedSpans(docs: DataFrame, w: Int, winnow: Int,
                    idCol: Column = col("doc_id"),
                    textCol: Column = col("text")): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    winnowedSpansFromAnchors(
      winnowAnchors(tokenized(docs, w, idCol, textCol), w, winnow), w)
  }

  private def winnowedSpansFromAnchors(anch: DataFrame, w: Int): DataFrame = {
    val marked = anch.join(dupGrams(anch), "h")
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("p"))
    // anchors are sparse, so islands merge INTERVALS [p, p+w-1]:
    // a new span starts when this anchor clears the running max end
    // by more than adjacency (q61's device generalized to intervals)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val cumEnd = max(col("p") + lit(w.toLong - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    marked
      .withColumn("new_span",
        when(cumEnd.isNull || col("p") > cumEnd + 1, 1L).otherwise(0L))
      .withColumn("grp",
        sum(col("new_span")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(
        min(col("p")).as("span_start"),
        (max(col("p")) + lit(w.toLong - 1)).as("span_end"),
        count(lit(1)).as("n_anchors"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_anchors"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Refined (detect-then-localize) duplicated-run spans — the
    * missing middle between [[winnowedSpans]] (cheap, conservative
    * boundaries) and [[spans]] (exact, full-corpus cost):
    *
    *  - Round 1 DETECTS at winnowed cost: the fingerprint pass marks
    *    every document involved in any shared fingerprint — certain
    *    for all runs ≥ w + winnow − 1 tokens (Schleimer's guarantee),
    *    at ~2/(winnow+1) of the exact pass's shuffle volume.
    *  - Round 2 LOCALIZES exactly, but only over that cohort: the
    *    full per-position pass of [[spans]] restricted (left-semi) to
    *    detected docs recovers maximal-island boundaries identical to
    *    what the exact pass computes for those docs.
    *
    * On a web corpus where duplicate-bearing docs are a few percent,
    * round 2's full-resolution volume is that few percent of the
    * corpus — the 100 TB shape the full exact pass lacks.
    *
    * Semantics, stated honestly: boundaries and keeper attribution
    * are computed WITHIN the detected cohort. A doc whose only
    * overlap is sub-threshold (shares w-grams but never a ≥
    * w + winnow − 1 run) is invisible to round 1, so (a) its own
    * short runs are not reported (same blind spot as
    * [[winnowedSpans]]) and (b) it cannot serve as keeper for grams
    * it shares with cohort docs — attribution falls to the lowest
    * COHORT doc. Per doc, refined marks ⊆ exact marks (fewer lower
    * docs can out-rank) and ⊇ winnowed marks (round 2 sees every
    * position, not just fingerprints), so each winnowed span is
    * contained in a refined span and each refined span in an exact
    * span — the sandwich SubstrDedupSpec pins.
    */
  def refinedSpans(docs: DataFrame, w: Int, winnow: Int,
                   idCol: Column = col("doc_id"),
                   textCol: Column = col("text")): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    val toks = tokenized(docs, w, idCol, textCol)
    val anch = winnowAnchors(toks, w, winnow)
    // round 1: docs involved in ANY shared fingerprint — keepers AND
    // non-keepers both; round 2 needs the keeper's positions present
    // to draw boundaries and attribute ownership
    val involved = anch.join(dupGrams(anch), "h").select("doc_id").distinct()
    // round 2: the exact pass, cohort-only (left-semi keeps the
    // involved frame on the build side; AQE broadcasts it while
    // small). `toks` is evaluated by both rounds — a production
    // corpus run persists it (or lands round 1's cohort ids as a
    // sidecar) rather than re-tokenizing; at query scope the second
    // scan is the cheaper, pushdown-pruned read.
    spansFromToks(toks.join(involved, Seq("doc_id"), "left_semi"), w)
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Per-doc span LISTS of [[spans]] — one row per doc that has any
    * duplicated run: (doc_id, _sp: array<struct<span_start, span_end>>).
    * The frame is runs-bounded — tiny next to the corpus — so it
    * caches and broadcast-joins cheaply (pipeline stats scope its row
    * count to the docs actually written).
    */
  def spanLists(docs: DataFrame, w: Int,
                idCol: Column = col("doc_id"),
                textCol: Column = col("text")): DataFrame =
    spanRows(docs, w, idCol, textCol)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_sp"))

  /** Rewrite `text` IN PLACE on a full-width frame: tokens inside a
    * duplicated span drop, every other column passes through — the
    * pipeline-stage form of [[strip]]. `spanListDf` is [[spanLists]]
    * output (computed on whatever frame defines the dedup scope,
    * possibly cached).
    *
    * Affected docs are rebuilt from their ORIGINAL-case tokens joined
    * by single spaces; unaffected docs keep their text byte-for-byte.
    * Position alignment is load-bearing: span positions index
    * `tokens(normText(text))`, so the original-case split must walk
    * the SAME canonicalization minus the lowercase — collapse all
    * whitespace to single spaces FIRST, then trim, then split on the
    * single space. Splitting the raw text instead (e.g.
    * `split(trim(text), "\\s+")`) is off by one for any doc with
    * leading non-space whitespace (Spark `trim` strips only ASCII
    * spaces, and `split` keeps leading/trailing empty tokens), which
    * would strip an innocent token and keep a duplicated one.
    */
  def stripColumn(docs: DataFrame, spanListDf: DataFrame): DataFrame =
    stripColumn(docs, spanListDf, None)

  /** [[stripColumn]], plus (when `flag` names one) a boolean column
    * that is true for every doc with a span list: `_sp IS NOT NULL`,
    * the docs whose text the strip rewrote. A pipeline that writes the
    * frame can count the flag at the write instead of joining the span
    * table against the written ids afterwards.
    */
  private[graft] def stripColumn(docs: DataFrame, spanListDf: DataFrame,
                                 flag: Option[String]): DataFrame = {
    val joined = docs.join(spanListDf, Seq("doc_id"), "left")
    flag.fold(joined)(f => joined.withColumn(f, col("_sp").isNotNull))
      .withColumn("text",
        when(col("_sp").isNull, col("text"))
          .otherwise(concat_ws(" ",
            filter(
              split(trim(regexp_replace(col("text"), "\\s+", " ")), " "),
              (x, i) =>
                not(exists(col("_sp"), s =>
                  (i + lit(1)).cast("long") >= s.getField("span_start") &&
                    (i + lit(1)).cast("long") <= s.getField("span_end")))))))
      .drop("_sp")
  }

  /** The removal form (what the published pass actually does): drop
    * every token inside a duplicated span and rebuild the text,
    * q59's output shape (n_tokens, n_kept, text_kept). Keeper docs
    * and docs without shared runs pass through whole.
    *
    * Scale shape: [[spans]]'s passes, then the per-doc span list
    * (spans per doc are FEW — bounded by runs, not tokens) aggregates
    * and equi-joins back to the corpus (AQE broadcasts the span side
    * while it fits), and the drop is ONE projection — a filter lambda
    * over the token array against the doc's own span list. No
    * token-level shuffle ever exists; tokens live and die map-side.
    */
  def strip(docs: DataFrame, w: Int,
            idCol: Column = col("doc_id"),
            textCol: Column = col("text")): DataFrame =
    stripFromSpans(docs, spanRows(docs, w, idCol, textCol), idCol, textCol)

  private def stripFromSpans(docs: DataFrame, spansDf: DataFrame,
                             idCol: Column, textCol: Column): DataFrame = {
    val sp = spansDf
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("sp"))
    docs
      .select(idCol.as("doc_id"),
        tokens(normText(coalesce(textCol, lit("")))).as("arr"))
      .join(sp, Seq("doc_id"), "left")
      .withColumn("sp", coalesce(col("sp"),
        array().cast("array<struct<span_start:bigint,span_end:bigint>>")))
      .withColumn("kept", filter(col("arr"), (x, i) =>
        not(exists(col("sp"), s =>
          (i + lit(1)).cast("long") >= s.getField("span_start") &&
            (i + lit(1)).cast("long") <= s.getField("span_end")))))
      .select(col("doc_id"),
        size(col("arr")).cast("bigint").as("n_tokens"),
        size(col("kept")).cast("bigint").as("n_kept"),
        concat_ws(" ", col("kept")).as("text_kept"))
      .orderBy(col("doc_id"))
  }
}

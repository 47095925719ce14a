package graft.pipeline

import graft.functions.TextOps
import graft.functions.expressions.TextExprs
import graft.operators.Sample
import java.util.concurrent.{CompletableFuture, CompletionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end "prepare a training corpus" job — the composition
  * the individual operators exist for, as ONE declarative plan:
  *
  *   optional PII scrub (q52's chain, first — so every later stage
  *   sees the scrubbed text) → exact dedup (keep-lowest-doc_id by
  *   normalized-text digest) → optional MinHash-LSH near-dup drop
  *   ([[graft.operators.NearDup]], q31's kernel, keep-lowest) →
  *   optional benchmark decontamination (q54's 8-gram-hash kernel) →
  *   optional exact-substring strip ([[graft.operators.SubstrDedup]],
  *   q74/q75's kernel — shared verbatim runs removed in place) →
  *   language tag + per-language stratified sample → deterministic
  *   shard assignment → write partitioned by shard, hash-interleaved
  *   within. The nearDupDropped/contaminatedDropped stats are each
  *   stage's own id-set size — a doc in both sets counts in both.
  *
  * Every stage reuses the verified kernel it mirrors (q30's
  * [[graft.functions.TextOps.textDigest]] dedup, q40 langId, q47
  * [[graft.operators.Sample]], q48's shard/interleave shape), so the
  * pipeline's behavior is pinned by the same oracles. Every decision
  * is a pure function of the data — rerunning the job on any cluster
  * layout, or after any task retry, produces byte-identical shards
  * (training-set reproducibility is a correctness property, not a
  * nice-to-have).
  *
  * Scale shape: dedup is one shuffle on the 128-bit text digest;
  * langId (an interpreted HOF scorer — the expensive stage) runs
  * AFTER dedup so duplicates never pay it; sampling is a map-side
  * filter; sharding is one shuffle on the shard id with a
  * within-partition sort — the write streams straight out of that
  * exchange. Nothing holds more than a partition in memory.
  */
object CorpusPrep {

  /** @param langRates   keep-rate per detected language (stratified
    *                    mixing weights)
    * @param defaultRate keep-rate for languages not listed
    * @param nShards     output shards (power of two; at 100 TB think
    *                    10k+ so each shard is a sane file size)
    * @param nearDupMinEst optional MinHash-LSH near-dup stage between
    *                    exact dedup and sampling: docs whose estimated
    *                    Jaccard to a LOWER-id doc reaches this
    *                    threshold are dropped (q31's candidate kernel,
    *                    [[graft.operators.NearDup]], keep-lowest).
    *                    None skips the stage (and its two shuffles)
    */
  /** @param scrubPii    scrub emails/phones/IPs from `text` FIRST
    *                    ([[graft.queries.PrepQ.scrub]], one codegen'd
    *                    projection) — before dedup, so copies differing
    *                    only in contact strings collapse together
    */
  /** @param packBudget  optional sequence-packing stage (q58's layout):
    *                    emit (pack_id, pack_offset) per doc — where the
    *                    doc STARTS in the GPT-style concat-and-chunk
    *                    stream of its shard, cut every `packBudget`
    *                    tokens. Computed by one more window function
    *                    over the SAME shard partitioning/ordering as
    *                    `pos`, so it adds no exchange to the plan
    * @param bpeVocab    when set, the packing budget is denominated in
    *                    BPE tokens under this merge table
    *                    ([[graft.functions.expressions.Bpe]]) instead
    *                    of whitespace tokens — training-time budgets
    *                    are BPE-token budgets, and a whitespace count
    *                    can be off by 2-4x on code or non-English text
    * @param sourceRates optional SECOND sampling gate keyed on the
    *                    `source` column — feed it
    *                    [[graft.operators.Mixer]] output. Sources
    *                    absent from the map are DROPPED (rate 0,
    *                    matching Mixer's convention for sources
    *                    outside the target). Hash-decorrelated from
    *                    the language gate (domain "mix:"), so the two
    *                    keep decisions are independent coin flips.
    *                    Precision caveat, stated plainly: the gate
    *                    runs AFTER dedup/decontamination/langRates,
    *                    so rates computed by Mixer over the RAW
    *                    corpus realize the target only up to what
    *                    those upstream stages removed per source (and
    *                    a per-DOC keep rate realizes a token share in
    *                    expectation). For exact shares use
    *                    `sourceWeights` instead
    * @param sourceWeights TWO-PASS exact-share mix: target token
    *                    SHARES (Mixer.targetRates semantics — they are
    *                    normalized; listed sources only). Instead of
    *                    caller-supplied rates, the keep rates are
    *                    computed IN-PLAN over the PREPARED frame (post
    *                    scrub/dedup/near-dup/decontamination/langRates
    *                    — exactly what the gate sees), so realized
    *                    token shares match the target up to per-doc
    *                    hash-sampling noise and 1/1024 quantization,
    *                    regardless of how unevenly upstream stages
    *                    removed sources. Costs one extra aggregation
    *                    pass over the prepared frame (the "two-pass"),
    *                    whose sources-sized result broadcast-joins
    *                    back — run() caches the base lineage so the
    *                    corpus itself is still read once. Mutually
    *                    exclusive with `sourceRates`. Token
    *                    denomination follows `bpeVocab`, like packing
    * @param priorSnapshot optional path to a Bloom membership sidecar
    *                    published by an EARLIER corpus run
    *                    ([[graft.operators.SnapshotBloom]], the Dolma
    *                    pattern): docs whose canonical digest the
    *                    prior snapshot contains are dropped before
    *                    dedup, as a pure broadcast-free FILTER — the
    *                    prior corpus is never re-read or joined, the
    *                    only 100 TB-viable shape for refreshing
    *                    against a trillion-token history. Gating runs
    *                    on the SCRUBBED text, matching what a prior
    *                    run's sidecar was built from
    * @param publishSnapshot when set (expected doc count for sizing),
    *                    run() publishes the membership sidecar of this
    *                    run's KEPT docs at `outPath/_membership.bloom`
    *                    (underscore-hidden, like the manifest) for the
    *                    NEXT refresh to gate against
    * @param priorNearSnapshot optional path to a NEAR-membership band
    *                    sidecar published by an earlier run
    *                    ([[graft.operators.SnapshotBands]]): docs
    *                    sharing any q31 LSH band key with the prior
    *                    run's kept docs are dropped — the paraphrase
    *                    gap the exact sidecar cannot see (a re-crawled
    *                    page edited by a few tokens has a fresh digest
    *                    and the in-run near-dup stage only sees the
    *                    current batch). Same shape as the exact gate:
    *                    a pure broadcast-free FILTER on the scrubbed
    *                    text, never a join against or re-read of the
    *                    prior corpus. Runs after the exact gate and
    *                    before dedup
    * @param publishNearSnapshot when set (expected doc count), run()
    *                    publishes the band sidecar of this run's KEPT
    *                    docs at `outPath/_membership_bands.bloom`
    */
  /** @param substrWindow optional EXACT-SUBSTRING dedup stage (the Lee
    *                    et al. 2021 pass, q74/q75's
    *                    [[graft.operators.SubstrDedup]] kernel): every
    *                    verbatim run of at least this many tokens
    *                    shared with a LOWER-id survivor of exact dedup
    *                    is stripped from the text in place —
    *                    keep-lowest keeps one copy corpus-wide.
    *                    Spans are localized among the exact-dedup
    *                    SURVIVORS (before the near-dup/contamination
    *                    anti-joins remove docs): a run shared only
    *                    with a doc those stages later drop still
    *                    strips — deliberately conservative for
    *                    training data, and it lets the runs-bounded
    *                    span table share the cached base lineage.
    *                    Downstream stages (langId, token counts,
    *                    packing, mix measurement) all see the
    *                    stripped text.
    */
  /** @param stripMarkup strip HTML/markup from `text` BEFORE even the
    *                    PII scrub ([[graft.queries.PrepQ.stripMarkup]],
    *                    q76's chain, one codegen'd projection) — the
    *                    raw-web → text extraction every downstream
    *                    text stage assumes has already happened. Runs
    *                    first so dedup digests, shingles, langId and
    *                    the PII patterns all see rendered text (an
    *                    email split by an inline tag is invisible to
    *                    the scrub until the tag is gone). The
    *                    benchmark side of decontamination gets the
    *                    SAME chain, like the scrub contract.
    */
  /** @param badWords  optional C4-style wordlist gate (q85's
    *                   [[graft.queries.WebQ.badWordCount]], zero
    *                   tolerance: ANY listed token drops the doc
    *                   whole). Sits after the rewrite chain (markup
    *                   strip + scrub — the list must match rendered
    *                   text, not tag-split fragments) and BEFORE the
    *                   membership gate and dedup: a blocked doc is the
    *                   cheapest possible drop (one stateless
    *                   projection), so it never pays the Bloom probe
    *                   or the dedup shuffle. A pure function of the
    *                   doc's bytes — the streaming mirror applies the
    *                   identical filter.
    */
  final case class Config(
      langRates: Map[String, Double],
      defaultRate: Double,
      nShards: Int = 8,
      nearDupMinEst: Option[Double] = None,
      scrubPii: Boolean = false,
      stripMarkup: Boolean = false,
      packBudget: Option[Int] = None,
      bpeVocab: Option[graft.functions.expressions.Bpe.Vocab] = None,
      sourceRates: Option[Map[String, Double]] = None,
      sourceWeights: Option[Map[String, Double]] = None,
      priorSnapshot: Option[String] = None,
      publishSnapshot: Option[Long] = None,
      priorNearSnapshot: Option[String] = None,
      publishNearSnapshot: Option[Long] = None,
      substrWindow: Option[Int] = None,
      badWords: Option[Seq[String]] = None,
      statsPath: Option[String] = None,
      /** CANONICAL-URL dedup, the standard crawl-intake stage
        * (C4/RefinedWeb convention): keep the LOWEST doc_id per
        * [[graft.functions.UrlOps.urlNormalize]] canonical form, so
        * the same page fetched as `?utm_source=a` and `?utm_source=b`
        * collapses BEFORE any text stage instead of riding to the
        * text-digest shuffle as two docs. Runs FIRST (it reads only
        * the `url` column — the cheapest drop in the pipeline; a
        * url-duplicate never pays markup strip, scrub, Bloom probes
        * or the dedup shuffle). Requires a `url` column (the crawl
        * faces all carry one) — fails loudly without it rather than
        * silently skipping a billed stage. Docs whose URL does not
        * parse (no scheme://host) are each their OWN group — garbage
        * URLs must not collapse together. Billed as
        * [[Stats.urlDupDropped]]; the streaming mirror keys the same
        * canonical form through the watermark-bounded dedup gate
        * (keep-first-seen, the [[graft.streaming.Streams.dedupExact]]
        * deviation, stated there).
        */
      dedupByUrl: Boolean = false,
      /** quality-WEIGHTED selection (q117's kernel,
        * [[graft.operators.QualityWeight.gate]]): each surviving doc
        * is kept with probability quality9/10⁹ — the soft form of a
        * hard quality filter (borderline docs survive at reduced
        * rate). Runs after dedup/decontamination/substring, before
        * the language gate; stateless and deterministic, so its drops
        * are recomputable (no dedicated stat). Hash domain "wq:" is
        * independent of the sampling/mix/shard hashes.
        */
      qualityWeighted: Boolean = false)

  final case class Stats(
      input: Long, afterDedup: Long, afterSample: Long,
      nearDupDropped: Long = 0L, contaminatedDropped: Long = 0L,
      snapshotDropped: Long = 0L, nearSnapshotDropped: Long = 0L,
      substrStripped: Long = 0L,
      badwordsDropped: Long = 0L,
      urlDupDropped: Long = 0L,
      /** true when a `statsPath` fold was requested but the ledger
        * already held this outPath's batch id — i.e. an IN-PLACE
        * refresh (re-running run() to the same outPath) whose new
        * corpus was NOT re-folded into the stats snapshot. Surfaced
        * so the skip is never silent: the caller decides whether that
        * is a harmless retry (same data) or a stale-stats condition
        * (changed data to the same path → fold under a fresh
        * statsPath or rebuild the snapshot).
        */
      statsFoldSkipped: Boolean = false)

  /** Shard-assignment hash. MUST be decorrelated from the sampling
    * hash: Sample gates on md5Lower64(doc_id) & 1023, so deriving the
    * shard from those same low bits would let the sample threshold
    * dictate which shards can receive rows at all (a rate of 5/1024
    * with 8 shards would leave shards 5–7 structurally EMPTY). A
    * domain-separated digest ("shard:" prefix) makes the two
    * decisions independent coin flips.
    */
  private[graft] def shardHash: org.apache.spark.sql.Column =
    TextExprs.md5Lower64(concat(lit("shard:"), col("doc_id").cast("string")))

  /** The canonical-URL dedup key: `url_norm` when the URL parses, a
    * per-doc sentinel otherwise — a sentinel prefixed `nourl:` cannot
    * collide with a real canonical form (those always open
    * `scheme://`), and NULL/garbage URLs must be singleton groups,
    * not one giant accidental group.
    */
  private[graft] def urlKeyCol: org.apache.spark.sql.Column = {
    val u = graft.functions.UrlOps.urlNormalize(col("url"))
    when(u.getField("host") =!= "", u.getField("url_norm"))
      .otherwise(concat(lit("nourl:"), col("doc_id").cast("string")))
  }

  /** CANONICAL-URL dedup, q146 semantics: keep the LOWEST doc_id per
    * [[graft.functions.UrlOps.urlNormalize]] canonical form (the q30
    * keep convention on the URL axis). Public — the q146 oracle face
    * replays exactly this stage. One shuffle on url_norm; it runs
    * before every text stage, so at crawl scale the rows it removes
    * never pay markup strip, scrub, Bloom probes or the text-digest
    * shuffle.
    */
  def urlDedup(docs: DataFrame): DataFrame = {
    require(docs.columns.contains("url"),
      "dedupByUrl needs a `url` column (the crawl faces carry one); " +
        "refusing to silently skip a billed stage")
    val w = Window.partitionBy(urlKeyCol).orderBy(col("doc_id"))
    docs.withColumn("_urn", row_number().over(w))
      .filter(col("_urn") === 1).drop("_urn")
  }

  /** Exact dedup, q30 semantics: keep the LOWEST doc_id per
    * normalized-text digest (deterministic, not "first seen").
    */
  private def dedupe(docs: DataFrame): DataFrame = {
    val wDup = Window.partitionBy(TextOps.textDigest(col("text")))
      .orderBy(col("doc_id"))
    docs
      .withColumn("_rn", row_number().over(wDup))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** The scrub stage (when on): q52's codegen'd regex chain over
    * `text`, FIRST — so dedup digests, shingles and langId all see the
    * scrubbed form, and copies differing only in contact strings
    * collapse as duplicates.
    */
  private def scrubbed(docs: DataFrame, cfg: Config): DataFrame =
    if (cfg.scrubPii)
      docs.withColumn("text", graft.queries.PrepQ.scrub(col("text")))
    else docs

  /** The markup-strip stage (when on): q76's extraction chain, before
    * everything else — see the Config scaladoc. Applied to the corpus
    * AND the decontamination benchmark (same-rewrite contract).
    */
  private def demarked(docs: DataFrame, cfg: Config): DataFrame =
    if (cfg.stripMarkup)
      docs.withColumn("text", graft.queries.PrepQ.stripMarkup(col("text")))
    else docs

  /** The prior-snapshot membership filter, loaded ONCE per plan/run
    * (driver-side sidecar read; None when the stage is off). run()
    * threads the loaded filter through [[Materialized]] so the stats
    * pass probes the same bytes instead of re-reading a sidecar that
    * is ~1.2 GB at production scale.
    */
  private def priorFilter(docs: DataFrame, cfg: Config) =
    cfg.priorSnapshot.map(p =>
      graft.operators.SnapshotBloom.load(docs.sparkSession, p))

  /** The prior NEAR-membership band sidecar, loaded once like
    * [[priorFilter]] (same serialized form, different probe).
    */
  private def priorNearFilter(docs: DataFrame, cfg: Config) =
    cfg.priorNearSnapshot.map(p =>
      graft.operators.SnapshotBands.load(docs.sparkSession, p))

  /** The shared base lineage every downstream stage consumes:
    * scrub (optional) → cross-snapshot membership gate (optional) →
    * exact dedup. ONE definition; run() caches it whenever more than
    * one action will consume it (near-dup drop set, contamination
    * drop set, main write), so the scrub+dedup shuffle executes ONCE
    * regardless of which optional stages are on. The membership gate
    * sits before dedup: a re-seen doc never pays the dedup shuffle.
    */
  /** The wordlist gate (when on): q85's zero-tolerance filter over
    * the REWRITTEN text — see the Config scaladoc for placement.
    */
  private def wordGated(docs: DataFrame, cfg: Config): DataFrame =
    cfg.badWords.fold(docs)(ws =>
      docs.filter(graft.queries.WebQ.badWordCount(col("text"), ws) === 0L))

  private def base(docs: DataFrame, cfg: Config,
                   prior: Option[org.apache.spark.util.sketch.BloomFilter],
                   priorNear: Option[org.apache.spark.util.sketch.BloomFilter])
      : DataFrame = {
    // url dedup first: reads only `url`, so its drops never pay any
    // text stage (see the Config scaladoc)
    val docs0 = if (cfg.dedupByUrl) urlDedup(docs) else docs
    val s = wordGated(scrubbed(demarked(docs0, cfg), cfg), cfg)
    val gated = prior
      .map(bf => graft.operators.SnapshotBloom.gate(s, bf)).getOrElse(s)
    // the NEAR gate sits after the exact gate (a byte-identical
    // re-crawl never pays the minhash signature) and before dedup
    // (a near-seen doc never pays the dedup shuffle) — both are pure
    // filters, so this ordering is a cost choice, not a semantic one
    val nearGated = priorNear
      .map(bf => graft.operators.SnapshotBands.gate(gated, bf)).getOrElse(gated)
    dedupe(nearGated)
  }

  /** doc_ids the optional near-dup stage drops (None when the stage is
    * off), computed over the already scrub+deduped base frame:
    * [[graft.operators.NearDup.dropIds]] — every doc whose estimated
    * Jaccard to a LOWER-id survivor of exact dedup reaches the
    * threshold, keep-lowest like the exact stage. Runs on the DEDUPED
    * docs so exact copies never pay the shingle/minhash pass.
    */
  // private: takes the SCRUB+DEDUPED base frame, not raw docs — the
  // run()/plan() wiring is the only safe caller (handing it raw docs
  // would compute drop sets over unscrubbed text and silently let
  // PII-spanning contamination survive)
  private def dropsOf(baseDf: DataFrame, cfg: Config): Option[DataFrame] =
    cfg.nearDupMinEst.map(minEst =>
      graft.operators.NearDup.dropIds(baseDf, minEst))

  /** Per-doc duplicated-run span lists for the optional substring
    * stage (None when off) — runs-bounded, computed on the scrubbed+
    * deduped base frame (see the Config scaladoc for why pre-anti-join
    * scope is the right, conservative choice).
    */
  private def substrSpansOf(baseDf: DataFrame, cfg: Config): Option[DataFrame] =
    cfg.substrWindow.map(w =>
      graft.operators.SubstrDedup.spanLists(baseDf, w))

  /** doc_ids the optional decontamination stage drops: docs sharing
    * any word 8-gram with `benchmark` — q54's kernel, joined on the
    * 64-bit portable gram hash (benchmark side broadcasts under AQE).
    * When scrubPii is on, the benchmark text is scrubbed with the
    * SAME chain as the corpus: contamination spanning a PII token
    * must still match after both sides are rewritten.
    */
  private def contaminatedOf(baseDf: DataFrame, cfg: Config,
                             benchmark: Option[DataFrame]): Option[DataFrame] =
    benchmark.map { bench =>
      val bg = graft.queries.PrepQ.benchGramSet(scrubbed(demarked(bench, cfg), cfg))
      graft.queries.PrepQ.gramHashes(baseDf)
        .join(bg, Seq("gh"))
        .select(col("doc_id")).distinct()
    }

  /** The full plan, unwritten: (doc_id, text, …, lang_detected,
    * shard, pos) — pos is the hash-interleave order within the shard.
    * @param benchmark held-out eval docs (any frame with a `text`
    *                  column): when given, documents sharing any word
    *                  8-gram with them are dropped before sampling
    */
  def plan(docs: DataFrame, cfg: Config,
           benchmark: Option[DataFrame] = None): DataFrame = {
    val baseDf = base(docs, cfg, priorFilter(docs, cfg),
      priorNearFilter(docs, cfg))
    planWith(baseDf, cfg, dropsOf(baseDf, cfg),
      contaminatedOf(baseDf, cfg, benchmark), substrSpansOf(baseDf, cfg))
  }

  /** Plan over the (possibly cached) base frame, with the drop sets
    * supplied by the caller — run() caches all three so each pipeline
    * executes once for its filter AND its stats count.
    */
  /** The token denomination shared by packing and the two-pass mix
    * gate: BPE under `bpeVocab` when set, whitespace otherwise.
    */
  /** The `statsPath` snapshot's shape — ONE definition so every run
    * (and any reader calling [[StatsMaintain.report]]) agrees.
    */
  val corpusStatsSpec: StatsMaintain.Spec = StatsMaintain.Spec(
    keys = Seq("source", "lang"),
    sums = Seq("n_tokens"),
    minMax = Seq("n_tokens"),
    hists = Seq("n_tokens"))

  private def tokenCol(cfg: Config): org.apache.spark.sql.Column =
    cfg.bpeVocab match {
      case Some(v) => graft.functions.expressions.Bpe.count(col("text"), v)
      case None => size(TextOps.tokens(col("text"))).cast("bigint")
    }

  private def planWith(baseDf: DataFrame, cfg: Config,
                       drops: Option[DataFrame],
                       contaminated: Option[DataFrame],
                       substrSpans: Option[DataFrame] = None,
                       strippedFlag: Option[String] = None): DataFrame = {
    require(cfg.nShards > 0 && (cfg.nShards & (cfg.nShards - 1)) == 0,
      s"nShards must be a power of two, got ${cfg.nShards}")
    require(cfg.sourceRates.isEmpty || cfg.sourceWeights.isEmpty,
      "sourceRates and sourceWeights are mutually exclusive — " +
        "rates are either supplied or measured, not both")
    // near-dup + decontamination stages: anti-joins against the
    // (small — O(drops)) id sets; AQE broadcasts them while they fit
    val deduped1 = drops.fold(baseDf)(d =>
      baseDf.join(d, Seq("doc_id"), "left_anti"))
    val deduped2 = contaminated.fold(deduped1)(c =>
      deduped1.join(c, Seq("doc_id"), "left_anti"))
    // optional substring-dedup stage: spans equi-join back (the span
    // side is runs-bounded — AQE broadcasts it) and the strip is one
    // filter-lambda projection; everything downstream sees the
    // stripped text
    val deduped3 = substrSpans.fold(deduped2)(sp =>
      graft.operators.SubstrDedup.stripColumn(deduped2, sp, strippedFlag))
    // quality-weighted gate (when on): q117's stateless kernel, after
    // every dedup stage (quality should not decide near-dup survival —
    // q77's argmax owns that) and before the language/mix gates
    val deduped = if (cfg.qualityWeighted)
      graft.operators.QualityWeight.gate(deduped3) else deduped3
    val tagged = deduped.withColumn("lang_detected",
      TextOps.langId(col("text")).getField("lang"))
    val langSampled = Sample.stratified(tagged, "doc_id", "lang_detected",
      cfg.langRates, cfg.defaultRate)
    // optional source-mix gate (Mixer rates): its own hash domain so
    // the two gates are independent — stacking on the bare id hash
    // would keep iff h < min(r1, r2), one coin flip instead of two
    val sampled = (cfg.sourceRates, cfg.sourceWeights) match {
      case (Some(rates), _) =>
        Sample.stratified(langSampled, "doc_id", "source",
          rates, defaultRate = 0.0, domain = "mix:")
      case (None, Some(weights)) =>
        // two-pass exact shares: measure per-source supply on THIS
        // frame (everything upstream already applied), derive the
        // rates in-plan, broadcast the sources-sized result back onto
        // the stream, and gate with the same domain-separated hash.
        // Sources outside the target get no rate row -> rate 0 ->
        // dropped, Mixer's convention
        val rates = graft.operators.Mixer
          .targetRates(langSampled, tokenCol(cfg), weights)
          .select(col("source"), col("rate"))
        langSampled
          .join(broadcast(rates), Seq("source"), "left")
          .filter(Sample.keep(col("doc_id"),
            coalesce(col("rate"), lit(0.0)), domain = "mix:"))
          .drop("rate")
      case _ => langSampled
    }
    val h = shardHash
    val wShard = Window.partitionBy(col("shard"))
      .orderBy(col("_ord"), col("doc_id"))
    val withOrd = sampled
      .withColumn("shard", h.bitwiseAND(lit(cfg.nShards - 1L)))
      .withColumn("_ord", call_function("shiftrightunsigned", h, lit(1)))
    // optional q58 packing stage: the running token sum uses the SAME
    // (partition, order, frame) spec as `pos` and is emitted in the
    // SAME select, so Catalyst extracts both into ONE Window operator
    // over the existing shard exchange — pack layout costs zero extra
    // shuffles (a second select would extract a second Window node
    // even with an identical spec). pack_id/pack_offset are where the
    // doc STARTS in the concat-and-chunk token stream (a doc may
    // spill into the next pack; the trainer's reader handles it).
    val packed = cfg.packBudget match {
      case None =>
        withOrd.withColumn("pos", row_number().over(wShard).cast("long"))
      case Some(budget) =>
        val wCum = wShard
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        withOrd
          .withColumn("n_tokens", tokenCol(cfg))
          .select(col("*"),
            row_number().over(wShard).cast("long").as("pos"),
            sum(col("n_tokens")).over(wCum).as("_cum"))
          .withColumn("pack_id",
            floor((col("_cum") - col("n_tokens")).cast("double") / budget)
              .cast("bigint"))
          .withColumn("pack_offset",
            pmod(col("_cum") - col("n_tokens"), lit(budget.toLong)))
          .drop("_cum")
        // n_tokens stays in the output: the trainer's reader needs the
        // doc's own token length next to (pack_id, pack_offset) to know
        // how far it spills into the next pack, and the manifest
        // aggregates it per pack
    }
    packed.drop("_ord")
  }

  /** run()'s executable state, exposed at package level so the spec
    * can assert the materialization contract (every consumer of the
    * base lineage reads the cache, not a recompute).
    */
  private[graft] final case class Materialized(
      baseDf: DataFrame, baseCached: Boolean,
      drops: Option[DataFrame], contaminated: Option[DataFrame],
      out: DataFrame, substrSpans: Option[DataFrame] = None,
      prior: Option[org.apache.spark.util.sketch.BloomFilter] = None,
      priorNear: Option[org.apache.spark.util.sketch.BloomFilter] = None) {
    def release(): Unit = {
      out.unpersist(); drops.foreach(_.unpersist())
      contaminated.foreach(_.unpersist())
      substrSpans.foreach(_.unpersist())
      if (baseCached) { baseDf.unpersist(); () } else ()
    }
  }

  /** The internal column of [[Materialized.out]] that flags the docs
    * the substring stage rewrote; run() counts it at the write and
    * drops it before the write. [[plan]]'s columns never carry it.
    */
  private[graft] val StrippedFlag = "_stripped"

  /** Wire up the cached frames run() executes over.
    *
    * The scrub+dedup base lineage is materialized (cached) whenever
    * more than one action consumes it (drop-set pipelines + the main
    * write): without the cache, each optional stage re-executes the
    * full-corpus scan and dedup shuffle — at 100 TB that's two
    * redundant corpus passes. The (small) drop-id sets are cached too:
    * each feeds its anti-join AND its dropped-count stat — the LSH /
    * gram pipelines themselves run once. The planned frame `out` is
    * cached only when something reads it after the write (the pack
    * manifest, the membership sidecars, the stats fold): the write's
    * own counts are observed on the write. A failure while wiring
    * releases whatever was already cached.
    */
  private[graft] def materialize(docs: DataFrame, cfg: Config,
      benchmark: Option[DataFrame]): Materialized = {
    // sourceWeights' rate measurement is a second consumer of the base
    // lineage too (its aggregation pass + the gated stream)
    // publishSnapshot is a base-lineage consumer too: the sidecar is
    // built from the PRE-strip text of the kept docs (see run())
    val multiConsumer = cfg.nearDupMinEst.isDefined || benchmark.isDefined ||
      cfg.sourceWeights.isDefined || cfg.substrWindow.isDefined ||
      cfg.publishSnapshot.isDefined || cfg.publishNearSnapshot.isDefined
    val readAfterWrite = cfg.packBudget.isDefined || cfg.statsPath.isDefined ||
      cfg.publishSnapshot.isDefined || cfg.publishNearSnapshot.isDefined
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = { cached += df; df.cache() }
    try {
      val prior = priorFilter(docs, cfg)
      val priorNear = priorNearFilter(docs, cfg)
      val base0 = base(docs, cfg, prior, priorNear)
      val baseDf = if (multiConsumer) cache(base0) else base0
      val drops = dropsOf(baseDf, cfg).map(cache)
      val contaminated = contaminatedOf(baseDf, cfg, benchmark).map(cache)
      val substrSpans = substrSpansOf(baseDf, cfg).map(cache)
      val out = planWith(baseDf, cfg, drops, contaminated, substrSpans,
        Some(StrippedFlag))
      Materialized(baseDf, multiConsumer, drops, contaminated,
        if (readAfterWrite) cache(out) else out, substrSpans, prior, priorNear)
    } catch {
      case e: Throwable => cached.foreach(_.unpersist()); throw e
    }
  }

  /** Per-pack manifest of a PACKED plan/run output: one row per
    * (shard, pack_id) with the doc-row range and token total —
    * everything a trainer's reader needs to seek a pack without
    * scanning the shard (n_docs for allocation, [pos_first, pos_last]
    * as the row range, tokens = sum of n_tokens of the docs STARTING
    * in the pack; a doc may spill past the budget into the next pack,
    * which the reader sees from pos_last's own n_tokens).
    */
  def manifestOf(out: DataFrame): DataFrame =
    // shard read back through partition discovery is int32; the
    // writer's column is int64 — pin the manifest schema to the
    // writer's so forget()'s rebuild cannot change a reader's type
    out.groupBy(col("shard").cast("long").as("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("pos")).as("pos_first"),
        max(col("pos")).as("pos_last"),
        sum(col("n_tokens")).as("tokens"))
      .orderBy(col("shard"), col("pack_id"))

  /** Where [[run]] writes the manifest: an underscore-prefixed subdir,
    * which parquet readers treat as hidden — `spark.read.parquet(out)`
    * over the shards is unaffected by its presence.
    */
  def manifestPath(outPath: String): String = s"$outPath/_manifest"

  /** Where [[run]] publishes the membership sidecar (when
    * `publishSnapshot` is set) — underscore-hidden like the manifest.
    */
  def membershipPath(outPath: String): String = s"$outPath/_membership.bloom"

  /** Where [[run]] publishes the NEAR-membership band sidecar (when
    * `publishNearSnapshot` is set) — underscore-hidden like the rest.
    */
  def nearMembershipPath(outPath: String): String =
    s"$outPath/_membership_bands.bloom"

  /** Where [[run]] records the writer's shard count — the layout fact
    * [[forget]] must NOT take on trust from a caller (a wrong value
    * silently routes victims to the wrong directories and deletes
    * nothing).
    */
  def metaPath(outPath: String): String = s"$outPath/_corpus_meta"

  /** [[runFromWarc]]'s stats: the per-face intake billing on top of
    * the pipeline's own [[Stats]] (`htmlDocs` + `pdfDocs` +
    * `officeDocs` == `prep.input` by construction — the faces take
    * disjoint record sets). `codingFenced` bills the responses whose
    * Content-Encoding could not be undone (dying streams, hostile or
    * bomb-sized payloads; healthy brotli DECODES since r17 —
    * [[graft.sources.WarcSource.codingFenced]]): the coverage the
    * intake LOST as a number, per the no-silent-caps rule.
    * `noindexDropped` bills the pages `honorNoindex` removed (0 when
    * the knob is off — the drop is a POLICY, so its size must be
    * auditable whenever it applies). The media triple (r16 verdict
    * ask) bills the `mediaOut` sidecar the same way: `mediaDocs`
    * rows ingested, `mediaScrubbed` payloads whose EXIF-family
    * metadata was actually removed, `mediaFenced` governed-but-broken
    * containers stored as NULL payloads — all 0 when `mediaOut` is
    * off, so a pipeline operator can read scrub coverage off the run
    * ledger instead of re-aggregating the sidecar.
    *
    * Every field is billed as before, but not one after another: the
    * face counts and the media sidecar write run on the call's side
    * lane ([[Lane]]) beside the corpus write, and the media triple is
    * observed on the sidecar write itself.
    */
  final case class WarcStats(htmlDocs: Long, pdfDocs: Long,
                             officeDocs: Long, codingFenced: Long,
                             noindexDropped: Long, prep: Stats,
                             mediaDocs: Long = 0L,
                             mediaScrubbed: Long = 0L,
                             mediaFenced: Long = 0L)

  /** The batch crawl-intake entry: WARC archives straight into the
    * standard scrub→dedup→quality→mix pipeline. The HTML/WET
    * documents face always feeds; `includePdfs` unions in
    * [[graft.sources.WarcSource.pdfDocuments]] (the /ToUnicode-aware
    * PDF-text face — already printability-fenced, so only recovered
    * text arrives) and `includeOffice` unions in
    * [[graft.sources.WarcSource.officeDocuments]] (DOCX text through
    * the real ZIP walk) in the SAME corpus shape, with disjoint
    * doc_ids (all faces hash file#record_ix, over disjoint record
    * sets). The streaming mirrors ([[graft.streaming.Streams
    * .warcDocuments]] / warcPdfDocuments / warcOfficeDocuments →
    * corpusPrep) already compose this way; this is the batch mirror.
    *
    * Scale note: each face's counts and the pipeline's own passes
    * re-parse the archives rather than caching them — caching raw
    * WARC bodies to save a parse would size executor memory to the
    * crawl, the wrong trade at 100 TB (the pipeline caches the
    * EXTRACTED corpus-shape frame internally, which is the small
    * side). The face counts read nothing the corpus write produces,
    * so they run on the side lane while the corpus is planned and
    * written.
    *
    * `mediaOut` (r16 verdict ask): when set, the PII-scrubbed media
    * face ([[graft.sources.WarcSource.mediaScrubbed]]) is written to
    * that path as a sidecar of the text corpus, and the run ledger
    * bills its outcome counts (`mediaDocs`/`mediaScrubbed`/
    * `mediaFenced`) — observed on the sidecar write itself (row count
    * and the two flag columns' true counts, taken in the write's own
    * stage), never by a read-back job or a second archive parse.
    *
    * Every cache the call creates (the noindex id set here, run()'s
    * materialized frames) is released whichever step throws.
    */
  def runFromWarc(spark: org.apache.spark.sql.SparkSession, warcDir: String,
                  outPath: String, cfg: Config,
                  includePdfs: Boolean = true,
                  includeOffice: Boolean = true,
                  honorNoindex: Boolean = false,
                  glob: Option[String] = None,
                  benchmark: Option[DataFrame] = None,
                  mediaOut: Option[String] = None): WarcStats = {
    import graft.sources.WarcSource
    val recs = WarcSource.records(spark, warcDir, glob)
    val htmlAll = WarcSource.documents(recs)
    // `honorNoindex`: pages whose markup declares robots noindex drop
    // BEFORE the pipeline (a retrieval corpus honoring robots
    // semantics must not contain them — the page-metadata face's
    // doc_id matches the documents face's, so the drop is an id
    // anti-join, no second parse of the kept side). Off by default:
    // noindex governs RETRIEVAL corpora; a pure training corpus may
    // legitimately keep the text, so the policy is the caller's.
    // the noindex id set is CACHED for its two consumers (the
    // anti-join and the billing count) — uncached, each evaluation
    // would re-parse every archive through pageMeta (the same
    // wasted-crawl-scan rule the billing comment below applies); the
    // set itself is tiny (ids only)
    val noindexIds =
      if (honorNoindex)
        Some(WarcSource.pageMeta(recs).filter(col("noindex"))
          .select(col("doc_id")).cache())
      else None
    try Lane.within(spark) { lane =>
      val html = noindexIds match {
        case Some(ids) => htmlAll.join(ids, Seq("doc_id"), "left_anti")
        case None => htmlAll
      }
      val noindexN = noindexIds.map(_.count()).getOrElse(0L)
      val office =
        if (includeOffice) Some(WarcSource.officeDocuments(recs)) else None
      val pdfs = if (includePdfs) Some(WarcSource.pdfDocuments(recs)) else None
      val docs = (Seq(html) ++ pdfs ++ office).reduce(_ unionByName _)
      val htmlN = lane(html.count())
      // office is counted directly (ZIP records are the rare face —
      // the count's extraction cost prunes to them); the PDF billing
      // stays DERIVED (input − html − office), not a second
      // pdfDocuments pass: the faces take disjoint record sets, and an
      // extra count would re-parse every archive and re-extract every
      // PDF — a whole wasted crawl scan at the 100 TB scale
      val officeN = lane(office.map(_.count()).getOrElse(0L))
      // the coverage the intake LOST to undecodable content codings
      // (dying/hostile streams): a records-level count, no extraction
      val codingN = lane(WarcSource.codingFenced(recs).count())
      // the media sidecar (when requested): the PII-scrubbed media face
      // written BESIDE the text corpus and billed by the write itself —
      // the observed counts are taken in the write's own stage, so no
      // job reads the sidecar back and no archive is parsed twice
      val media = mediaOut.map(p => lane {
        val seen = new Observation("media")
        WarcSource.mediaScrubbed(recs)
          .observe(seen, count(lit(1)).as("rows"),
            count_if(col("scrubbed")).as("scrubbed"),
            count_if(col("fenced")).as("fenced"))
          .write.mode(SaveMode.Overwrite).parquet(p)
        val m = seen.get
        (m("rows").asInstanceOf[Long], m("scrubbed").asInstanceOf[Long],
          m("fenced").asInstanceOf[Long])
      })
      val prep = runOn(lane, docs, outPath, cfg, benchmark)
      val (h, o) = (Lane.join(htmlN), Lane.join(officeN))
      val (mediaN, mediaScrubN, mediaFenceN) =
        media.map(Lane.join(_)).getOrElse((0L, 0L, 0L))
      WarcStats(h, if (includePdfs) prep.input - h - o else 0L,
        o, Lane.join(codingN), noindexN, prep,
        mediaDocs = mediaN, mediaScrubbed = mediaScrubN,
        mediaFenced = mediaFenceN)
    } finally { noindexIds.foreach(_.unpersist()); () }
  }

  /** Execute and write `outPath/shard=N/` parquet, interleave-ordered
    * within each shard. Stage counts cost ONE extra source pass (a
    * combined count + distinct-digest aggregate, [[gateCounts]]),
    * never a re-run of the sampled/sharded plan. That pass reads only
    * `docs`, so it runs on the call's side lane ([[Lane]]) while this
    * thread plans and writes the corpus. The rows written and the
    * docs substring-stripped are observed on the write itself; no
    * action reads the output back to count them.
    */
  def run(docs: DataFrame, outPath: String, cfg: Config,
          benchmark: Option[DataFrame] = None): Stats =
    Lane.within(docs.sparkSession)(runOn(_, docs, outPath, cfg, benchmark))

  private def runOn(lane: Lane, docs: DataFrame, outPath: String,
                    cfg: Config, benchmark: Option[DataFrame]): Stats = {
    val m = materialize(docs, cfg, benchmark)
    val (out, drops, contaminated) = (m.out, m.drops, m.contaminated)
    try {
      val gates = lane(gateCounts(docs, cfg, m.prior, m.priorNear))
      // counted in the write's own (final) stage: a result task's
      // accumulator updates apply once per partition, so the counts
      // are exact under task retries and speculation
      val written = new Observation("corpus")
      val flagged = out.columns.contains(StrippedFlag)
      val counted = count(lit(1)).as("rows") +:
        (if (flagged) Seq(count_if(col(StrippedFlag)).as("stripped")) else Nil)
      out.observe(written, counted.head, counted.tail: _*)
        .drop(StrippedFlag)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("shard")
        .parquet(outPath)
      val wrote = written.get
      // layout metadata for maintenance ops (underscore-hidden)
      locally {
        val fs = new org.apache.hadoop.fs.Path(outPath)
          .getFileSystem(docs.sparkSession.sparkContext.hadoopConfiguration)
        val o = fs.create(new org.apache.hadoop.fs.Path(metaPath(outPath)), true)
        try o.write(s"nShards=${cfg.nShards}\n".getBytes("UTF-8"))
        finally o.close()
      }
      // packed runs also publish the pack manifest — aggregated from
      // the same cached frame the write just streamed out, one tiny
      // (shards x packs)-sized job, no second corpus pass
      cfg.packBudget.foreach { _ =>
        manifestOf(out).coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(manifestPath(outPath))
      }
      // publish the membership sidecar of the KEPT docs for the next
      // refresh. Digests come from the PRE-strip base frame (cached),
      // semi-joined on the kept ids — NOT from the written output:
      // with substrWindow on, the output text is rewritten, and a
      // sidecar of stripped digests would let a re-crawled copy of a
      // stripped page sail through the next refresh's gate (the gate
      // probes the scrubbed RAW text). The no-false-negative contract
      // is on what the next run SEES, so hash what it will see.
      cfg.publishSnapshot.foreach { n =>
        graft.operators.SnapshotBloom.save(docs.sparkSession,
          graft.operators.SnapshotBloom.build(
            m.baseDf.join(out.select(col("doc_id")), Seq("doc_id"),
              "left_semi"), n),
          membershipPath(outPath))
      }
      // NEAR-membership sidecar: same kept-docs/pre-strip contract as
      // the exact sidecar above (the next run probes band keys of the
      // scrubbed RAW text it sees, so hash what it will see)
      cfg.publishNearSnapshot.foreach { n =>
        graft.operators.SnapshotBands.save(docs.sparkSession,
          graft.operators.SnapshotBands.build(
            m.baseDf.join(out.select(col("doc_id")), Seq("doc_id"),
              "left_semi"), n),
          nearMembershipPath(outPath))
      }
      // cross-RUN corpus observability: fold this run's kept docs
      // into the per-(source, lang) stats snapshot — doc counts,
      // token totals, min/max and p50/p99 doc-length bounds
      // accumulate across refreshes without ever rescanning prior
      // corpora (StatsMaintain's mergeable-partials contract). One
      // extra group-count-sized merge per run; the corpus-sized side
      // is the same cached frame the write just streamed.
      val statsFoldSkipped = cfg.statsPath.exists { sp =>
        // packed runs already carry n_tokens (same tokenCol
        // expression) — reuse it rather than re-encoding every doc
        val nTok = if (out.columns.contains("n_tokens")) col("n_tokens")
                   else tokenCol(cfg)
        // ledgered fold, keyed on the OUTPUT path: the corpus write
        // is an idempotent Overwrite, but stats folding is additive —
        // a retried run() must not count the same corpus twice. Two
        // runs to the same outPath overwrite one corpus, so one fold
        // per outPath is exactly the right semantics. The id is the
        // FIRST 8 BYTES of the md5 of the path (big-endian long):
        // 64 bits of entropy, not the 32 Arrays.hashCode kept —
        // two distinct outPaths feeding one statsPath colliding at
        // 2^-32 would silently skip a fold. A skipped fold (retried
        // or in-place-refreshed run) is reported in Stats, not silent.
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(outPath.getBytes("UTF-8"))
        // UPGRADE COMPAT: ledgers written before the 64-bit widening
        // recorded Arrays.hashCode(md5) (a 32-bit id) — a replayed
        // run() over such a snapshot must still be recognized as
        // applied, or the upgrade itself would double-count this
        // corpus. The legacy id is checked by the maintainer ITSELF
        // (under its lock, after crash recovery — a probe out here
        // would miss a mid-swap-retired ledger and race concurrent
        // maintainers); it inherits the legacy scheme's 2^-32
        // collision odds, and new folds always record the 64-bit id.
        StatsMaintain.maintainBatch(docs.sparkSession, sp,
          out.select(col("source"), col("lang_detected").as("lang"),
            nTok.as("n_tokens")),
          corpusStatsSpec,
          batchId = java.nio.ByteBuffer.wrap(md5).getLong,
          legacyBatchIds = Set(java.util.Arrays.hashCode(md5).toLong)).isEmpty
      }
      val nearDupN = drops.map(_.count()).getOrElse(0L)
      val contaminatedN = contaminated.map(_.count()).getOrElse(0L)
      val a = Lane.join(gates)
      Stats(a.getLong(0), a.getLong(1), wrote("rows").asInstanceOf[Long],
        urlDupDropped = a.getLong(5),
        nearDupDropped = nearDupN,
        contaminatedDropped = contaminatedN,
        snapshotDropped = a.getLong(2),
        badwordsDropped = a.getLong(3),
        nearSnapshotDropped = a.getLong(4),
        // docs actually stripped IN THE OUTPUT: the span table is
        // computed pre-anti-join/pre-sample; the flag rides to the write
        substrStripped =
          if (flagged) wrote("stripped").asInstanceOf[Long] else 0L,
        statsFoldSkipped = statsFoldSkipped)
    } finally { m.release() }
  }

  /** The exact stage counts of [[run]], in ONE pass over `docs`: input
    * rows, distinct digests among the docs every gate keeps, and each
    * gate's drops. Real aggregates, not observed counters — they sit
    * before shuffles, where a re-executed map task would apply its
    * accumulator updates again.
    */
  private def gateCounts(docs: DataFrame, cfg: Config,
      prior: Option[org.apache.spark.util.sketch.BloomFilter],
      priorNear: Option[org.apache.spark.util.sketch.BloomFilter])
      : org.apache.spark.sql.Row = {
    val seenCol = prior
      .map(bf => graft.operators.SnapshotBloom.seen(bf, col("text")))
      .getOrElse(lit(false))
    // the stats pass must replay base()'s EXACT rewrite chain
    // (markup strip, then scrub): digesting the raw markup-bearing
    // text would overcount afterDedup for tag-only variants, and
    // probing the Bloom (built from demarked digests) with
    // un-demarked text would miss re-seen re-crawled pages
    val badCol = cfg.badWords
      .map(ws => graft.queries.WebQ.badWordCount(col("text"), ws) > 0L)
      .getOrElse(lit(false))
    val nearSeenCol = priorNear
      .map(bf => graft.operators.SnapshotBands.seen(bf, col("text")))
      .getOrElse(lit(false))
    // url-dedup survival per row (lit(true) when the stage is off):
    // the group minimum over the SAME canonical key the stage
    // partitions on — one window shuffle in the stats pass, exactly
    // the stage's own cost shape
    val ukCol =
      if (cfg.dedupByUrl)
        col("doc_id") === min(col("doc_id"))
          .over(Window.partitionBy(urlKeyCol))
      else lit(true)
    scrubbed(demarked(docs, cfg), cfg)
      .withColumn("uk", ukCol)
      .select(TextOps.textDigest(col("text")).as("h"), seenCol.as("s"),
        badCol.as("b"), nearSeenCol.as("ns"), col("uk"))
      .agg(count(lit(1)).as("n"),
        // distinct digests among docs ALL gates keep — counting the
        // gated-out ones would overstate the post-dedup frame
        count_distinct(
          when(col("uk") && !col("s") && !col("b") && !col("ns"),
            col("h"))).as("nd"),
        // the url stage runs first, then the wordlist gate, then the
        // exact membership probe, then the band probe — mirror
        // base()'s precedence so each drop bills to the gate that
        // actually fired
        sum(when(col("uk") && !col("b") && col("s"), 1L)
          .otherwise(0L)).as("sdrop"),
        sum(when(col("uk") && col("b"), 1L).otherwise(0L)).as("bdrop"),
        sum(when(col("uk") && !col("b") && !col("s") && col("ns"), 1L)
          .otherwise(0L)).as("nsdrop"),
        sum(when(!col("uk"), 1L).otherwise(0L)).as("udrop"))
      .head()
  }

  /** The side lane of one [[run]] / [[runFromWarc]] call. Billing
    * actions that read nothing the corpus write produces (the exact
    * stats pass, the face counts, the media sidecar write) run here
    * while the calling thread plans and writes the corpus: most of a
    * crawl-prep call is driver-side planning, and the lane's tasks
    * fill the executor slots the main path leaves idle meanwhile.
    *
    * Each body runs through `SQLExecution.withThreadLocalCaptured`,
    * the device AQE uses for its stage jobs, so it carries the
    * caller's local properties and active session: a [[JobRunner]]
    * job group (and with it the runner's cancel), job tags, the
    * scheduler pool. Every lane job also carries the call's own tag.
    * Lane bodies never read the caches run() materializes.
    */
  private final class Lane(spark: org.apache.spark.sql.SparkSession) {
    val tag = s"graft-corpusprep-lane-${Lane.ids.incrementAndGet()}"
    val started =
      scala.collection.mutable.ArrayBuffer.empty[CompletableFuture[_]]

    def apply[T](body: => T): CompletableFuture[T] = {
      val f = SQLExecution.withThreadLocalCaptured(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        Lane.pool) {
        spark.sparkContext.addJobTag(tag)
        body
      }
      started += f
      f
    }
  }

  private object Lane {
    private val ids = new AtomicLong(0)
    // one shared pool; daemon threads never hold the JVM open
    private val pool = Executors.newCachedThreadPool(r => {
      val t = new Thread(r); t.setDaemon(true)
      t.setName("graft-corpusprep-lane"); t
    })

    /** The body's value, or rethrow what the body threw. */
    def join[T](f: CompletableFuture[T]): T =
      try f.join()
      catch {
        case e: CompletionException if e.getCause != null => throw e.getCause
      }

    /** Run `body` with a fresh lane and join every lane body before
      * returning, so no lane future outlives the call. A failed body
      * fails the call. When anything throws, the lane's tag is
      * cancelled and the call waits for every body to end before it
      * rethrows; the cancel repeats while a body is still running,
      * because a job submitted after a cancel is not covered by it.
      */
    def within[T](spark: org.apache.spark.sql.SparkSession)(body: Lane => T): T = {
      val lane = new Lane(spark)
      try {
        val r = body(lane)
        lane.started.foreach(join(_))
        r
      } catch {
        case e: Throwable =>
          var open = lane.started.filterNot(_.isDone)
          while (open.nonEmpty) {
            spark.sparkContext.cancelJobsWithTag(lane.tag)
            scala.util.Try(CompletableFuture.allOf(open.toSeq: _*)
              .get(100, TimeUnit.MILLISECONDS))
            open = open.filterNot(_.isDone)
          }
          throw e
      }
    }
  }

  final case class ForgetStats(
      idsRequested: Long, shardsTouched: Long, docsDropped: Long)

  /** Right-to-be-forgotten deletion from a written corpus WITHOUT a
    * full rewrite: the victim ids' shards are recomputed from the
    * same [[shardHash]] the writer used, so only the `shard=`
    * directories that can possibly hold a victim are read, filtered
    * and atomically swapped ([[Snapshot]] per-directory publish) —
    * at 100 TB with 1024 shards, forgetting a handful of users
    * rewrites a handful of shards, not the corpus. Untouched shard
    * directories keep their files byte-for-byte (spec-asserted).
    *
    * A packed run's `_manifest` is rebuilt from the surviving rows of
    * the touched shards plus the untouched shards' existing rows —
    * the (shards × packs)-sized aggregate, not a corpus pass. Pack
    * positions keep their original values: a reader seeks by
    * pos/pack_offset ranges, and re-densifying would silently shift
    * every doc's training-stream address.
    *
    * The membership sidecar is deliberately NOT rewritten: a Bloom
    * filter cannot unlearn, and for forgetting that is the RIGHT
    * failure mode — the next refresh's gate keeps dropping re-crawled
    * copies of the forgotten doc, which is what deletion means
    * (Bloom membership stores digests, not content).
    *
    * Crash behavior, stated plainly: each shard swap is atomic, and a
    * crash between a shard's two renames is repaired by the NEXT
    * forget (the per-shard recoverAndExists). In the window before
    * that repair, a reader partition-discovering the corpus root sees
    * the retired `shard=N._graft_old` directory as a malformed
    * partition value — at 100 TB run maintenance through a catalog
    * (or re-run forget immediately) rather than raw discovery.
    *
    * `nearDupIndexPath`: a standing
    * [[graft.operators.NearDupIndex]] over this corpus holds the
    * victims' labels, signatures and band rows too — pass its path
    * and the same ids are forgotten THERE in the same call
    * ([[graft.operators.NearDupIndex.forget]]: label rows tombstoned
    * shard-pruned, store rows probe-invisible at once and reclaimed
    * by its compactStores GC). RTBF that deletes the corpus row but
    * leaves a derived artifact serving the doc's cluster membership
    * is half a deletion.
    */
  def forget(spark: org.apache.spark.sql.SparkSession, outPath: String,
             ids: Seq[Long],
             nearDupIndexPath: Option[String] = None): ForgetStats = {
    nearDupIndexPath.foreach(p =>
      graft.operators.NearDupIndex.forget(spark, p, ids))
    if (ids.isEmpty) return ForgetStats(0L, 0L, 0L)
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(outPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the shard count comes from the WRITER's metadata, never a
    // caller parameter: a wrong count routes every victim to a
    // directory that doesn't hold it and the deletion silently
    // no-ops — the one failure mode a right-to-be-forgotten op must
    // not have
    val metaP = new org.apache.hadoop.fs.Path(metaPath(outPath))
    require(fs.exists(metaP),
      s"forget: no ${metaPath(outPath)} — not a CorpusPrep.run output")
    val nShards = {
      val in = fs.open(metaP)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
      txt.linesIterator.collectFirst {
        case l if l.startsWith("nShards=") => l.stripPrefix("nShards=").trim.toInt
      }.getOrElse(throw new IllegalStateException(
        s"forget: ${metaPath(outPath)} carries no nShards"))
    }
    require(nShards > 0 && (nShards & (nShards - 1)) == 0,
      s"corrupt corpus meta: shard count $nShards not a power of two")
    val victims = ids.toDF("doc_id")
    val touched = victims
      .select((shardHash.bitwiseAND(lit(nShards - 1L))).as("shard"))
      .distinct().as[Long].collect().sorted
    var dropped = 0L
    touched.foreach { s =>
      val dir = s"$outPath/shard=$s"
      // each shard's read-filter-publish runs under its own
      // maintainer lock (the whole cycle, not just the swap)
      Snapshot.withMaintainerLock(fs, dir) { lease =>
        // recoverAndExists, not a bare exists: a crash in an EARLIER
        // forget's swap leaves the shard retired at `._graft_old` — a
        // bare exists would skip it and the victims would survive
        if (Snapshot.recoverAndExists(fs, dir, lease)) {
          val cur = spark.read.parquet(dir)
          val before = cur.count()
          // anti-join, not isin: scales to any victim-list size (the
          // list broadcasts; an isin predicate is O(|ids|) per row)
          val kept = cur.join(broadcast(victims), Seq("doc_id"), "left_anti")
            .cache()
          try {
            val after = kept.count()
            if (after < before) {
              Snapshot.publish(fs, dir, exists = true, kept, lease)
              dropped += before - after
            }
          } finally { kept.unpersist(); () }
        }
      }
    }
    // the session caches parquet file listings per path — swapped
    // directories would otherwise serve the RETIRED file list to the
    // next reader (observed as FileNotFound mid-scan)
    spark.catalog.refreshByPath(outPath)
    // rebuild the pack manifest from the post-delete corpus (only if
    // one was published)
    val mp = new org.apache.hadoop.fs.Path(manifestPath(outPath))
    if (fs.exists(mp) && dropped > 0) {
      val refreshed = manifestOf(spark.read.parquet(outPath))
      Snapshot.withMaintainerLock(fs, manifestPath(outPath)) { lease =>
        Snapshot.publish(fs, manifestPath(outPath), exists = true,
          refreshed.coalesce(1), lease)
      }
      spark.catalog.refreshByPath(manifestPath(outPath))
    }
    ForgetStats(ids.length.toLong, touched.length.toLong, dropped)
  }
}

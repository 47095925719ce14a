package graft.functions.expressions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenization (Sennrich et al., ACL 2016) — the
  * tokenizer-faithful token counter: packing budgets and mixing
  * weights at training time are denominated in BPE tokens, and a
  * whitespace count can be off by 2-4x on code or non-English text.
  *
  * Two halves, mirroring the PqCodec recipe:
  *
  *  - [[Bpe.trainOn]] learns a merge table from a deterministic
  *    bottom-N hash sample of the corpus, DRIVER-LOCAL (the vocab is
  *    a model artifact of a few kilobytes, like a PQ codebook or
  *    k-means centroids — tokenizers are trained on samples in
  *    practice; 10⁹ documents add nothing past the first few
  *    thousand). Every choice is deterministic: ties on pair
  *    frequency break lexicographically, the sample is bottom-N by
  *    the domain-separated "bpe:" portable hash.
  *  - [[Bpe.count]] ships the merge table to the data inside a native
  *    [[BpeCount]] expression (ship-model-to-data): one JVM encode
  *    loop per row, no joins, no shuffles, no driver involvement.
  *
  * Word segmentation is whitespace; each word becomes its Unicode
  * CODE POINTS (surrogate pairs never split, the TextExprs rule) plus
  * a terminal "</w>" marker, then merges apply in learned order —
  * the standard GPT-2-style greedy lowest-rank-first encode.
  */
object Bpe {

  /** End-of-word marker symbol (Sennrich's convention). */
  val EndOfWord = "</w>"

  /** Word segmentation regex, compiled ONCE — String.split takes no
    * fast path for a multi-char pattern and would recompile "\\s+"
    * per row on the expression hot path.
    */
  private[expressions] val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** An ordered merge table: earlier = higher priority. */
  final case class Vocab(merges: Seq[(String, String)])

  /** Tie-break ordering for merge candidates: CODE-POINT (= UTF-8
    * binary) lexicographic, NOT Java String's UTF-16 code-unit order.
    * The two differ exactly when one symbol starts with a
    * supplementary-plane character and the other with U+E000..U+FFFF
    * (surrogate units 0xD800.. sort below 0xE000.. in UTF-16 but the
    * astral code point is the larger) — and Spark's UTF8String
    * comparison, which [[trainDistributed]]'s orderBy uses, is UTF-8
    * binary. One definition on both paths keeps distributed == local
    * on any corpus, emoji included.
    */
  private[expressions] val codePointOrder: Ordering[String] =
    new Ordering[String] {
      def compare(x: String, y: String): Int = {
        val a = x.getBytes("UTF-8"); val b = y.getBytes("UTF-8")
        var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) {
          val c = (a(i) & 0xff) - (b(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        a.length - b.length
      }
    }

  private def c(e: Expression): Column = Bridge.column(e)

  /** BPE token count of a text column under `vocab`. Null text counts
    * as null; empty/blank text counts 0.
    */
  def count(text: Column, vocab: Vocab): Column =
    c(BpeCount(Bridge.expression(text), vocab.merges))

  /** Split a word into code-point symbols + the end marker. */
  private[expressions] def symbols(word: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out += EndOfWord
    out.result()
  }

  /** Greedy encode: repeatedly merge the present pair with the LOWEST
    * rank until none applies (the standard BPE apply loop).
    */
  private[expressions] def encode(word: String,
      rank: Map[(String, String), Int]): Vector[String] = {
    var syms = symbols(word)
    var done = syms.length < 2
    while (!done) {
      var best = -1
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; best = i }
        i += 1
      }
      if (best < 0) done = true
      else {
        // merge EVERY occurrence of the chosen pair, left to right
        val pair = (syms(best), syms(best + 1))
        val merged = pair._1 + pair._2
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == pair._1 &&
              syms(j + 1) == pair._2) {
            out += merged; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
        done = syms.length < 2
      }
    }
    syms
  }

  /** Train `numMerges` merges on local texts: per round, count symbol
    * pairs weighted by word frequency, merge the most frequent pair
    * (ties break to the smallest in [[codePointOrder]]), stop early
    * when no pair occurs twice.
    */
  def train(texts: Seq[String], numMerges: Int): Vocab = {
    val wordFreq = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach { t =>
      Option(t).map(_.trim).filter(_.nonEmpty).foreach {
        Whitespace.split(_).foreach(w =>
          wordFreq(w) = wordFreq.getOrElse(w, 0L) + 1)
      }
    }
    var words: Map[Vector[String], Long] =
      wordFreq.map { case (w, f) => symbols(w) -> f }.toMap
    val merges = Seq.newBuilder[(String, String)]
    var it = 0
    var exhausted = words.isEmpty
    while (it < numMerges && !exhausted) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + f
          i += 1
        }
      }
      val best = pairCounts.toSeq
        .sortBy { case ((a, b), n) => (-n, a, b) }(
          Ordering.Tuple3(Ordering.Long, codePointOrder, codePointOrder))
        .headOption
      best match {
        case Some((pair, n)) if n >= 2 =>
          merges += pair
          val merged = pair._1 + pair._2
          words = words.map { case (syms, f) =>
            val out = Vector.newBuilder[String]
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == pair._1 &&
                  syms(j + 1) == pair._2) {
                out += merged; j += 2
              } else { out += syms(j); j += 1 }
            }
            out.result() -> f
          }
        case _ => exhausted = true // no pair repeats: nothing left to learn
      }
      it += 1
    }
    Vocab(merges.result())
  }

  /** The INDEXED local trainer — [[train]]'s exact semantics at the
    * production cost curve (Sennrich's original fast trainer): instead
    * of recounting every word's pair bag per round, maintain
    *
    *  - the standing pair-count table,
    *  - an inverted index pair → word-ids containing it, and
    *  - a lazy max-heap of (count, a, b) candidates,
    *
    * so round r touches ONLY the words containing the merged pair:
    * subtract each affected word's bag, fold, re-add. The heap is
    * lazily invalidated (every count change pushes a fresh entry; a
    * popped entry is discarded unless it matches the current count),
    * which keeps the argmax O(log) amortized without rebuilds.
    * A 50k-merge vocabulary costs Σ O(affected) — the curve the
    * per-round-rescan loop in [[train]] cannot give — while the merge
    * choice, tie-breaks ([[codePointOrder]]), overlap-counting pair
    * bags, and early stop are IDENTICAL (BpeSpec parity-pins it
    * against [[train]] on fixtures, ties, and real docs).
    *
    * Input is the aggregated (symbolized word, frequency) table —
    * words must be DISTINCT (frequencies pre-summed).
    */
  def trainIndexed(table: Iterable[(Vector[String], Long)],
                   numMerges: Int): Vocab = {
    import scala.collection.mutable
    val syms = mutable.ArrayBuffer.empty[Vector[String]]
    val freq = mutable.ArrayBuffer.empty[Long]
    table.foreach { case (s, f) => syms += s; freq += f }
    val counts = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.BitSet]
    // dequeue order must equal train()'s sortBy((-n, a, b)).head: the
    // heap's max is the LARGEST count, ties to the SMALLEST (a, b)
    val heapOrd: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(x._1, y._1)
          if (c != 0) return c
          val ca = codePointOrder.compare(y._2, x._2) // reversed: smaller a wins
          if (ca != 0) return ca
          codePointOrder.compare(y._3, x._3)
        }
      }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](heapOrd)
    @inline def bump(p: (String, String), d: Long): Unit = {
      val n = counts.getOrElse(p, 0L) + d
      if (n <= 0L) counts.remove(p)
      else {
        counts(p) = n
        heap.enqueue((n, p._1, p._2))
      }
    }
    @inline def eachPair(s: Vector[String])(f: (String, String) => Unit): Unit = {
      var i = 0
      while (i < s.length - 1) { f(s(i), s(i + 1)); i += 1 }
    }
    var wid = 0
    while (wid < syms.length) {
      val s = syms(wid); val f = freq(wid)
      eachPair(s) { (a, b) =>
        bump((a, b), f)
        occ.getOrElseUpdate((a, b), mutable.BitSet.empty) += wid
      }
      wid += 1
    }
    val merges = Seq.newBuilder[(String, String)]
    var it = 0
    var exhausted = false
    while (it < numMerges && !exhausted) {
      // pop to the first LIVE entry (count matches the standing table)
      var best: (String, String) = null
      var bestN = 0L
      while (best == null && heap.nonEmpty) {
        val (n, a, b) = heap.dequeue()
        if (counts.getOrElse((a, b), 0L) == n) { best = (a, b); bestN = n }
      }
      if (best == null || bestN < 2) exhausted = true
      else {
        merges += best
        val (a, b) = best
        val merged = a + b
        val affected = occ.getOrElse(best, mutable.BitSet.empty).toArray
        affected.foreach { w =>
          val old = syms(w); val f = freq(w)
          eachPair(old) { (x, y) =>
            bump((x, y), -f)
            occ.get((x, y)).foreach(_ -= w)
          }
          // the same left-to-right non-overlapping fold as train()
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < old.length) {
            if (j < old.length - 1 && old(j) == a && old(j + 1) == b) {
              out += merged; j += 2
            } else { out += old(j); j += 1 }
          }
          val nw = out.result()
          syms(w) = nw
          eachPair(nw) { (x, y) =>
            bump((x, y), f)
            occ.getOrElseUpdate((x, y), mutable.BitSet.empty) += w
          }
        }
      }
      it += 1
    }
    Vocab(merges.result())
  }

  /** Train on the deterministic bottom-`sampleN` hash sample of a
    * corpus column (domain-separated "bpe:" hash on the row's
    * `idCol`, uncorrelated with every other sampling decision in the
    * library). One TakeOrdered collect of `sampleN` texts — the only
    * driver materialization, bounded by construction.
    */
  def trainOn(df: DataFrame, idCol: Column, textCol: Column,
              numMerges: Int, sampleN: Int = 500): Vocab = {
    val h = TextExprs.md5Lower64(concat(lit("bpe:"), idCol.cast("string")))
    val texts = df
      .select(textCol.as("t"),
        call_function("shiftrightunsigned", h, lit(1)).as("o"),
        idCol.as("i"))
      .orderBy(col("o"), col("i"))
      .limit(sampleN)
      .collect().map(_.getString(0)).toSeq
    train(texts, numMerges)
  }

  /** Distributed trainer: the same merge table as [[train]] run over the
    * SAME texts, but with every corpus-scale step on executors — the
    * GPT-2-class path where neither the corpus nor its distinct-word
    * table need fit on the driver.
    *
    * Cost shape (the reason this scales where [[trainOn]]'s
    * driver-local loop cannot):
    *
    *  1. ONE shuffle pass over the corpus builds the distinct-word
    *     frequency table — shuffle-linear in corpus size, word counts
    *     combine map-side. It is materialized once (localCheckpoint);
    *     no later round re-reads the corpus.
    *  2. After that pass the trainer is REGIME-SWITCHED on the
    *     measured vocabulary size:
    *     - COLLECT (≤ `collectDriverMax` distinct words, the default
    *       production path): the word-frequency table — model-scale,
    *       not corpus-scale — collects to the driver and the INDEXED
    *       local loop ([[trainIndexed]]: standing pair table +
    *       inverted index + lazy heap) trains with ZERO per-round
    *       Spark jobs. 50k merges cost Σ O(affected words), not 50k
    *       scheduling barriers.
    *     The distributed per-round loop below handles vocabularies
    *     beyond driver memory (or `collectDriverMax = 0`; forcing
    *     `incremental` also selects it), itself switched on size:
    *     - LARGE vocab (> 2²⁰ distinct words): the adjacent-pair
    *       count table is aggregated ONCE, then maintained by
    *       INCREMENTAL (Sennrich-style delta) updates — each round
    *       touches only the words containing the merged pair, whose
    *       bag is subtracted pre-merge and re-added post-merge, the
    *       signed delta folding into the standing table with one
    *       full-outer join. A 50k-merge production vocabulary costs
    *       50k × O(affected + |pair table|), not 50k × O(explode the
    *       whole vocabulary + a vocabulary-scale shuffle) — the
    *       re-aggregation that dominates the naive loop is gone.
    *     - SMALL vocab: the standing-table bookkeeping costs MORE
    *       than it saves (measured: maintaining + rematerializing the
    *       table per round ran 2× slower than re-aggregating at
    *       sf0.1), so each round is one full pair aggregation — and
    *       the loop runs with AQE and wide shuffles OFF (1 shuffle
    *       partition, restored after): at this size every round is
    *       scheduling floor, not data, and adaptive re-planning per
    *       round is pure overhead.
    *  3. Either way each round hands the driver ONLY the 1-row argmax
    *     via TakeOrdered under the exact [[train]] ordering
    *     (-count, a, b) — ties break identically and distributed ==
    *     local, which BpeSpec pins ON BOTH REGIMES. Delta arithmetic
    *     is exact integer addition over the same per-occurrence
    *     (overlap-counting) pair bags the local trainer counts, so
    *     the maintained table equals a from-scratch recount at every
    *     round.
    *  4. The winning pair is applied executor-side as a left-to-right
    *     non-overlapping fold (`functions.aggregate`): append each
    *     symbol unless the accumulator's last element is `a` and the
    *     current is `b`, in which case replace the last with `ab`.
    *     Because `ab` is strictly longer than `a` it can never
    *     re-match as the left half in the same scan, making the fold
    *     exactly the scan-left-skip-two loop in [[encode]]/[[train]].
    *     The word-table update is the UNCONDITIONAL single-reference
    *     fold: a `when(hasPair, fold)` gate would reference `syms` 4×
    *     per round and the un-checkpointed lineage TREE would grow
    *     4^rounds — exponential analysis cost, measured as a hang.
    *  5. The word table re-truncates every `checkpointEvery` merges so
    *     round r replays at most r % checkpointEvery array folds, not
    *     the whole merge history; the delta regime's standing pair
    *     table re-materializes every round (it is the argmax input
    *     and must stay lineage-shallow). (localCheckpoint: executor-
    *     local blocks; a long-lived production trainer on preemptible
    *     executors would swap in reliable `checkpoint` — same shape.)
    *
    * Early-stop matches [[train]]: no pair with count >= 2 ends
    * training before `numMerges`.
    *
    * @param incremental force the pair-counting regime: Some(true) =
    *   delta-maintained standing table, Some(false) = per-round full
    *   aggregation, None = auto by vocabulary size. Results are
    *   identical (BpeSpec parity-pins both); only the cost curve
    *   differs.
    */
  def trainDistributed(df: DataFrame, textCol: Column, numMerges: Int,
      checkpointEvery: Int = 16,
      incremental: Option[Boolean] = None,
      collectDriverMax: Long = 1L << 20): Vocab = {
    require(checkpointEvery > 0,
      s"checkpointEvery must be > 0, got $checkpointEvery")
    val spark = df.sparkSession
    import spark.implicits._
    val wordFreq = df
      .select(textCol.cast("string").as("t"))
      .where(col("t").isNotNull && trim(col("t")) =!= "")
      .select(explode(split(trim(col("t")), "\\s+")).as("w"))
      // Spark trim() strips only ASCII space while local train uses
      // Java String.trim (all chars <= U+0020): a leading tab/newline
      // would leave an empty first token here, and a tab-only doc
      // would survive the non-empty gate above. Drop empty tokens so
      // the word-frequency table matches the local trainer exactly.
      .where(col("w") =!= "")
      .groupBy("w").agg(sum(lit(1L)).as("freq")) // (functions.count is shadowed by Bpe.count)
      .as[(String, Long)]
    // code-point symbolization (surrogate-safe, same symbols() as local);
    // a typed map on the already-aggregated word table, not the corpus
    var words = wordFreq
      .map { case (w, f) => (symbols(w).toArray, f) }
      .toDF("syms", "freq")
      .localCheckpoint()
    // right-size the loop tables: the per-round work runs numMerges
    // times, and a DISTINCT-WORD table is vocabulary-scale (a few MB
    // even for web corpora), so 32-way shuffles of a few hundred KB
    // would dominate every round's wall clock. Collapse a small table
    // to one partition once (count() reads the checkpointed blocks,
    // no corpus re-scan); a genuinely huge distinct-word table keeps
    // its cluster partitioning
    val nWords = words.count()
    // collect regime: the corpus-scale work (the word-frequency pass)
    // is already done; when the DISTINCT-WORD table itself fits the
    // driver — the common case even for web corpora, vocabulary being
    // morphology-bounded, and exactly how reference tokenizer trainers
    // operate — hand it to the indexed local loop: zero per-round
    // Spark jobs, and a 50k-merge production vocab costs Σ O(affected
    // words) instead of 50k driver-coordinated barriers. Identical
    // output (BpeSpec parity-pins all regimes); set 0 to force the
    // fully-distributed loop (e.g. drivers with tight memory).
    // `incremental = Some(x)` also forces the distributed loop, since
    // it explicitly selects one of its two regimes.
    if (incremental.isEmpty && nWords > 0 && nWords <= collectDriverMax) {
      val table = words.select(col("syms"), col("freq"))
        .collect()
        .map(r => (r.getSeq[String](0).toVector, r.getLong(1)))
      return trainIndexed(table, numMerges)
    }
    val small = nWords <= (1L << 20)
    if (small) words = words.repartition(1).localCheckpoint()
    val useDelta = incremental.getOrElse(!small)
    val pairExpr = expr(
      "explode(transform(slice(syms, 1, size(syms) - 1), " +
        "(x, i) -> named_struct('a', x, 'b', syms[i + 1])))")
    // per-occurrence signed pair bag of a word frame (overlap-counting,
    // exactly the local trainer's adjacent scan), weighted ±freq
    def pairBag(w: DataFrame, sign: Int): DataFrame =
      w.select(pairExpr.as("p"), col("freq"))
        .select(col("p.a").as("a"), col("p.b").as("b"),
          (col("freq") * lit(sign.toLong)).as("d"))
    // adjacent-containment gate: does `syms` hold (a, b) side by side?
    // Built with the Column API (never expr interpolation) — symbols
    // are corpus text and must not be parsed as SQL.
    def hasPair(a: String, b: String): Column = {
      val s = col("syms")
      exists(
        transform(slice(s, lit(1), size(s) - 1),
          (x, i) => x === lit(a) && element_at(s, i + lit(2)) === lit(b)),
        p => p)
    }
    def foldOf(a: String, b: String): Column =
      aggregate(col("syms"), array().cast("array<string>"),
        (acc, x) =>
          when(size(acc) === 0, array(x)) // guard: no last element yet
            .when(element_at(acc, -1) === lit(a) && x === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(x))))
    // delta regime only: the standing pair table, aggregated ONCE
    var pairs: DataFrame =
      if (useDelta)
        pairBag(words, 1).groupBy("a", "b").agg(sum("d").as("cnt"))
          .localCheckpoint()
      else null
    val merges = Seq.newBuilder[(String, String)]
    def loop(): Unit = {
      var it = 0
      var exhausted = false
      while (it < numMerges && !exhausted) {
        val top = (
          if (useDelta) pairs
          else pairBag(words, 1).groupBy("a", "b").agg(sum("d").as("cnt")))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1)
          .collect()
        if (top.isEmpty || top(0).getLong(2) < 2) exhausted = true
        else {
          val (a, b) = (top(0).getString(0), top(0).getString(1))
          merges += ((a, b))
          val fold = foldOf(a, b)
          if (useDelta) {
            // Sennrich delta: only words containing (a,b) change their
            // pair bag — subtract it pre-merge, add it post-merge. The
            // delta frame is O(affected words), ≪ vocabulary after the
            // first few hundred merges. The filter branches hang OFF
            // the word-table lineage without growing it (the eager
            // checkpoint below materializes them this round).
            val affected = words.filter(hasPair(a, b))
            val delta = pairBag(affected, -1)
              .unionByName(pairBag(affected.select(fold.as("syms"), col("freq")), 1))
              .groupBy("a", "b").agg(sum("d").as("d"))
            pairs = pairs.join(delta, Seq("a", "b"), "full_outer")
              .select(col("a"), col("b"),
                (coalesce(col("cnt"), lit(0L)) + coalesce(col("d"), lit(0L))).as("cnt"))
              .filter(col("cnt") > 0)
              .localCheckpoint() // argmax input: must stay lineage-shallow
          }
          words = words.select(fold.as("syms"), col("freq"))
          if ((it + 1) % checkpointEvery == 0) words = words.localCheckpoint()
        }
        it += 1
      }
    }
    // small-vocab regime: every round is a scheduling-floor-bound tiny
    // job — adaptive re-planning and 32-way shuffles are pure per-round
    // overhead. Narrow the session to 1 shuffle partition with AQE off
    // for the loop's duration ([[graft.util.ExecScope.narrow]]).
    if (small) graft.util.ExecScope.narrow(spark, 1)(loop()) else loop()
    Vocab(merges.result())
  }
}

/** Native BPE token-count expression: the merge table rides along as
  * expression state (kilobytes, serialized once per task like literal
  * centroids), the rank map is built lazily once per
  * executor-instance, and each row costs one local encode loop.
  */
case class BpeCount(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  @transient private lazy val rank: Map[(String, String), Int] =
    merges.zipWithIndex.toMap

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString.trim
    if (text.isEmpty) java.lang.Long.valueOf(0L)
    else {
      var n = 0L
      Bpe.Whitespace.split(text).foreach { w => n += Bpe.encode(w, rank).length }
      java.lang.Long.valueOf(n)
    }
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

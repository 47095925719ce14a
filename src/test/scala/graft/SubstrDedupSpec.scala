package graft

import graft.operators.SubstrDedup
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Fixture-exact coverage of the verbatim-run span operator (q74). */
class SubstrDedupSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("a shared run is localized exactly in the non-keeper doc; the keeper is untouched") {
    val run = "r1 r2 r3 r4 r5 r6"
    val d = docs(
      1L -> s"u1 u2 u3 u4 u5 $run u6 u7 u8",
      2L -> s"v1 v2 $run v3 v4 v5 v6",
      3L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 w0")
    val out = SubstrDedup.spans(d, w = 4).collect()
    // doc 1 is the keeper of every run gram: no spans there; doc 2's
    // run occupies tokens 3..8, anchors p=3,4,5 -> one island
    assert(out.toSeq == Seq(Row(2L, 3L, 8L, 6L)),
      s"expected exactly the doc-2 run span, got ${out.toSeq}")
  }

  test("two disjoint shared runs produce two spans; sub-window docs and NULL text produce none") {
    val a = "a1 a2 a3 a4 a5"
    val b = "b1 b2 b3 b4 b5 b6 b7"
    val d = docs(
      10L -> s"$a x1 x2 x3 x4 x5 x6 $b",
      20L -> s"y1 $a y2 y3 y4 y5 y6 $b y7",
      30L -> "a1 a2 a3", // under the window: no anchors even though it echoes run a
      40L -> null.asInstanceOf[String])
    val out = SubstrDedup.spans(d, w = 5).collect()
    // doc 20: run a at tokens 2..6 (anchor p=2), run b at 12..18
    // (anchors p=12,13,14) — two islands, exact boundaries
    assert(out.toSeq == Seq(Row(20L, 2L, 6L, 5L), Row(20L, 12L, 18L, 7L)),
      s"got ${out.toSeq}")
  }

  test("three-way sharing keeps only the lowest doc; others each get the span") {
    val run = "s1 s2 s3 s4 s5 s6 s7 s8"
    val d = docs(
      5L -> s"p1 p2 $run p3",
      6L -> s"$run q1 q2 q3",
      7L -> s"t1 $run t2 t3")
    val out = SubstrDedup.spans(d, w = 4).collect()
    assert(out.map(_.getLong(0)).toSet == Set(6L, 7L))
    // doc 6: run at 1..8 (anchors 1..5); doc 7: run at 2..9 (anchors 2..6)
    assert(out.toSeq == Seq(Row(6L, 1L, 8L, 8L), Row(7L, 2L, 9L, 8L)),
      s"got ${out.toSeq}")
  }

  test("dupGrams: min < max keeps the same grams and keepers as a distinct-doc count") {
    import spark.implicits._
    // seeded random anchors over tiny id and gram alphabets, so grams
    // repeat within a doc, span many docs and meet NULL ids; each case
    // owns its own block of gram hashes, so one frame holds them all
    val rnd = new scala.util.Random(29)
    val rows = (0 until 200).flatMap { c =>
      val grams = 1 + rnd.nextInt(6)
      Seq.fill(rnd.nextInt(30))((
        if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(1 + c % 5).toLong),
        c * 100L + rnd.nextInt(grams)))
    }
    val pos = rows.toDF("doc_id", "h")
    val byCount = pos.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("df"), min(col("doc_id")).as("keeper"))
      .filter(col("df") >= 2)
      .select(col("h"), col("keeper"))
      .collect().toSet
    val dup = SubstrDedup.dupGrams(pos).collect().toSet
    assert(byCount.nonEmpty && byCount.size < pos.select("h").distinct().count(),
      "the fixture must hold shared and unshared grams")
    assert(dup == byCount,
      s"only distinct-count: ${byCount -- dup}; only min<max: ${dup -- byCount}")
  }

  test("strip removes exactly the span tokens; keeper and clean docs pass through whole") {
    val run = "r1 r2 r3 r4 r5 r6"
    val d = docs(
      1L -> s"u1 u2 u3 u4 u5 $run u6 u7 u8",
      2L -> s"v1 v2 $run v3 v4 v5 v6",
      3L -> "w1 w2 w3 w4 w5")
    val out = SubstrDedup.strip(d, w = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 is keeper: untouched. doc 2: tokens 3..8 (the run) drop.
    assert(out(1L) == ((14L, 14L, s"u1 u2 u3 u4 u5 $run u6 u7 u8")))
    assert(out(2L) == ((12L, 6L, "v1 v2 v3 v4 v5 v6")), s"got ${out(2L)}")
    assert(out(3L) == ((5L, 5L, "w1 w2 w3 w4 w5")))
  }

  test("stripColumn: leading tabs/newlines do not shift span positions; untouched docs keep bytes") {
    import spark.implicits._
    val run = "r1 r2 r3 r4 r5 r6"
    val d = Seq(
      (1L, s"u1 u2 u3 u4 u5 $run u6 u7 u8", "keepme"),
      // leading tab + double spaces + trailing newline: raw split
      // would be off by one and strip v2 instead of the run
      (2L, s"\tV1  v2 $run v3\n", "x"),
      (3L, "w1 w2 w3 w4 w5", "y"))
      .toDF("doc_id", "text", "extra")
    val out = SubstrDedup.stripColumn(d,
      SubstrDedup.spanLists(d, w = 4)).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out(2L)._1 == "V1 v2 v3", s"got ${out(2L)._1}")
    // keeper and clean docs pass through BYTE-identical, extra cols ride
    assert(out(1L)._1 == s"u1 u2 u3 u4 u5 $run u6 u7 u8")
    assert(out(3L)._1 == "w1 w2 w3 w4 w5")
    assert(out(1L)._2 == "keepme" && out(3L)._2 == "y")
  }

  test("q75 agrees with q74: dropped token count equals the span mass per doc") {
    val spans = queries.SubstrQ.q74(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(3)).sum).toMap
    val strip = queries.SubstrQ.q75(spark, sf).collect()
    strip.foreach { r =>
      val dropped = r.getLong(1) - r.getLong(2)
      assert(dropped == spans.getOrElse(r.getLong(0), 0L),
        s"doc ${r.getLong(0)}: dropped $dropped != span mass")
    }
  }

  test("q74 on the real corpus: invariants hold and the window threshold binds") {
    val out = queries.SubstrQ.q74(spark, sf).collect()
    val w = queries.SubstrQ.SubstrWindow
    out.foreach { r =>
      val (s0, e0, n) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(s0 >= 1 && e0 >= s0 && n == e0 - s0 + 1 && n >= w,
        s"bad span $r")
    }
    // spans within a doc never overlap (islands are maximal)
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      rs.map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq
        .sliding(2).foreach {
          case Seq((_, e1), (s2, _)) => assert(s2 > e1, "overlapping spans")
          case _ => ()
        }
    }
  }

  test("winnowSelect: every window of W hashes holds >= 1 anchor, incl. tie-heavy arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // random arrays + degenerate all-equal and sawtooth tie patterns
    val fixtures: Seq[Seq[Long]] =
      (1 to 20).map(_ => Seq.fill(1 + rnd.nextInt(60))(rnd.nextLong())) ++
        Seq(Seq.fill(30)(42L), (1 to 30).map(i => (i % 3).toLong), Seq(5L))
    val W = 6
    val sel = fixtures.zipWithIndex
      .map { case (hs, i) => (i.toLong, hs) }.toDF("id", "hs")
      .withColumn("hw", expr("transform(hs, h -> shiftrightunsigned(h, 1))"))
      .select(col("id"), SubstrDedup.winnowSelect("hw", W).as("sel"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    fixtures.zipWithIndex.foreach { case (hs, i) =>
      val picked = sel(i.toLong)
      assert(picked.forall(p => p >= 1 && p <= hs.length), s"fixture $i out of range")
      assert(picked.distinct.length == picked.length)
      // coverage invariant: every full window has an anchor
      (1 to math.max(hs.length - W + 1, 1)).foreach { s =>
        val hi = math.min(s + W - 1, hs.length)
        assert(picked.exists(p => p >= s && p <= hi),
          s"fixture $i window [$s,$hi] has no anchor among $picked")
      }
      // selection depends only on content: re-running is identical is
      // implied by determinism of the expression; rightmost-tie rule
      // means an all-equal array selects the END of each window
      if (hs.nonEmpty && hs.forall(_ == hs.head)) {
        val expect = (1 to math.max(hs.length - W + 1, 1))
          .map(s => math.min(s + W - 1, hs.length).toLong).distinct
        assert(picked.sorted == expect.sorted, s"tie rule broke: $picked")
      }
    }
  }

  test("winnowed spans: certain detection at the threshold, and always a subset of the exact pass") {
    val run = (1 to 25).map(i => s"r$i").mkString(" ") // 25 >= 16+8-1 tokens
    val d = docs(
      1L -> s"u1 u2 u3 $run u4 u5",
      2L -> s"v1 $run v2 v3 v4 v5 v6",
      3L -> (1 to 40).map(i => s"w$i").mkString(" "))
    val winnowed = SubstrDedup.winnowedSpans(d, w = 16, winnow = 8).collect()
    // the >=23-token shared run MUST be found, in the non-keeper doc only
    assert(winnowed.nonEmpty && winnowed.forall(_.getLong(0) == 2L),
      s"got ${winnowed.toSeq}")
    val exact = SubstrDedup.spans(d, w = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // subset: every winnowed span sits inside an exact span
    winnowed.foreach { r =>
      val (id, s0, e0) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(exact.exists { case (xi, xs, xe) => xi == id && xs <= s0 && e0 <= xe },
        s"winnowed span ($id,$s0,$e0) outside exact spans ${exact.toSeq}")
    }
  }

  test("refined spans: exact boundaries for threshold runs; cohort-keeper caveat pinned") {
    val run = (1 to 25).map(i => s"r$i").mkString(" ") // >= 16+8-1 tokens
    val d = docs(
      1L -> s"u1 u2 u3 $run u4 u5",
      2L -> s"v1 $run v2 v3 v4 v5 v6",
      3L -> (1 to 40).map(i => s"w$i").mkString(" "))
    val refined = SubstrDedup.refinedSpans(d, w = 16, winnow = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val exact = SubstrDedup.spans(d, w = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every doc pair sharing a run here is >= threshold, so the cohort
    // covers all duplicate docs and refined == exact — boundaries
    // recovered EXACTLY, unlike q78's anchor-window unions
    assert(refined.toSeq == exact.toSeq,
      s"refined ${refined.toSeq} != exact ${exact.toSeq}")
    // doc 2's run occupies tokens 2..26 exactly
    assert(refined.toSeq == Seq((2L, 2L, 26L, 25L)), refined.toSeq)

    // the documented caveat: doc 0 shares ONLY a sub-threshold 16-gram
    // with doc 2 (16 < 23), stays outside the cohort, and so cannot
    // out-rank doc 1 as keeper — the exact pass WOULD attribute doc
    // 1's copy to doc 0, the refined pass does not see doc 0 at all
    val sub = (1 to 16).map(i => s"s$i").mkString(" ")
    val d2 = docs(
      0L -> s"z1 z2 $sub z3 z4",
      1L -> s"u1 u2 u3 $run $sub",
      2L -> s"v1 $run v2 v3 v4 v5 v6")
    val ref2 = SubstrDedup.refinedSpans(d2, w = 16, winnow = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ex2 = SubstrDedup.spans(d2, w = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // exact marks doc 1's sub gram (keeper 0) — refined must not,
    // but still must carry doc 2's threshold run exactly; and every
    // refined span must sit inside an exact span (the sandwich)
    assert(ex2.exists(_._1 == 1L), s"exact lost the caveat case: ${ex2.toSeq}")
    assert(!ref2.exists(_._1 == 1L), s"refined saw the sub-threshold doc: ${ref2.toSeq}")
    assert(ref2.exists { case (id, s0, e0, _) => id == 2L && s0 == 2L && e0 == 26L },
      s"refined lost the threshold run: ${ref2.toSeq}")
    ref2.foreach { case (id, s0, e0, _) =>
      assert(ex2.exists { case (xi, xs, xe, _) => xi == id && xs <= s0 && e0 <= xe },
        s"refined span ($id,$s0,$e0) outside exact ${ex2.toSeq}")
    }
  }

  test("q95 on the real corpus: sandwich q78 <= q95 <= q74 holds span-for-span") {
    val refined = queries.SubstrQ.q95(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exact = queries.SubstrQ.q74(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val winnowed = queries.SubstrQ.q78(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    refined.foreach { case (id, s0, e0) =>
      assert(exact.exists { case (xi, xs, xe) => xi == id && xs <= s0 && e0 <= xe },
        s"q95 span ($id,$s0,$e0) not contained in any q74 span")
    }
    winnowed.foreach { case (id, s0, e0) =>
      assert(refined.exists { case (xi, xs, xe) => xi == id && xs <= s0 && e0 <= xe },
        s"q78 span ($id,$s0,$e0) not contained in any q95 span")
    }
  }

  test("q78 on the real corpus: spans subset q74's, anchors sampled at ~2/(W+1)") {
    val qw = queries.SubstrQ.q78(spark, sf).collect()
    val exact = queries.SubstrQ.q74(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    qw.foreach { r =>
      val (id, s0, e0, n) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(s0 >= 1 && e0 >= s0 && n >= 1, s"bad span $r")
      assert(exact.exists { case (xi, xs, xe) => xi == id && xs <= s0 && e0 <= xe },
        s"q78 span ($id,$s0,$e0) not contained in any q74 span")
    }
  }
}

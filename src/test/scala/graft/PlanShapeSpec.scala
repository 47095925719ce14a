package graft

import graft.queries.{Core, CoreB}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan-shape assertions for the properties that decide 100 TB
  * behavior: filters/projections reaching the parquet scan, dimension
  * joins broadcasting, no cartesian products where a key join exists.
  * These are the `.explain` review of SURVEY §5, pinned as tests so a
  * refactor can't silently regress a plan.
  */
class PlanShapeSpec extends SparkSpec {

  /** Physical plan before AQE stage materialization — scans and join
    * strategies are decided here; the finalized adaptive tree hides
    * earlier stages behind QueryStage references.
    */
  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Physical plan tree WITH exchanges inserted (EnsureRequirements
    * has run) but before AQE runtime finalization. `sparkPlan` is the
    * planner's output BEFORE exchange insertion — collecting
    * ShuffleExchangeExec from it is vacuously empty, which let three
    * string-free-exchange pins pass without ever checking an exchange
    * (caught by q74's nonEmpty guard).
    */
  private def physicalOf(df: DataFrame) =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** Pin that exempting REPARTITION_BY_NUM exchanges from a payload
    * assertion exempts ONLY the Spread scan floor (r19, the r18
    * advice): every such exchange must sit directly above a parquet
    * scan chain — its subtree holds the file scan and no other
    * shuffle. (A plan reading the corpus twice may carry one floor per
    * scan, e.g. q61.) A future explicit repartition that ships
    * string/array payloads from deeper in a plan then FAILS the host
    * test instead of riding the blanket exemption.
    */
  private def assertSpreadFloorOnly(df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    val floors = df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }
    floors.foreach { e =>
      assert(e.child.collect { case s: FileSourceScanExec => s }.nonEmpty,
        s"exempted repartition is not above the parquet scan:\n$e")
      assert(e.child.collect { case x: ShuffleExchangeExec => x }.isEmpty,
        s"exempted repartition has another exchange below it:\n$e")
    }
  }

  /** Plan after AQE finalization — for assertions about what AQE chose
    * at runtime (e.g. broadcast conversions).
    */
  private def finalPlanOf(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  test("q01: aggregation pushes only referenced columns into the scan") {
    val plan = planOf(Core.q01(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"filter not pushed:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"scan reads unreferenced columns: $readSchema")
  }

  test("q02: predicate AND projection push down to parquet") {
    val plan = planOf(Core.q02(spark, sf))
    // plan toString truncates long field lists at 100 chars — match a
    // prefix that survives truncation
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"missing pushdown:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
      s"projection not pruned: $readSchema")
  }

  test("q03/q04: dimension joins are broadcast, not shuffled") {
    val p3 = finalPlanOf(Core.q03(spark, sf))
    assert(p3.contains("BroadcastHashJoin"), s"q03 dim join not broadcast:\n$p3")
    assert(!p3.contains("SortMergeJoin"), s"q03 shuffled a dim join:\n$p3")
    val p4 = finalPlanOf(Core.q04(spark, sf))
    assert(p4.contains("BroadcastHashJoin"), s"q04 without broadcast:\n$p4")
  }

  test("q06: global sort+limit is a TakeOrderedAndProject, not a full sort") {
    val plan = planOf(Core.q06(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"q06 full-sorts:\n$plan")
  }

  test("q21 as-of join plans with one shuffle on the key, no cross join") {
    val plan = finalPlanOf(CoreB.q21(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of join fell back to a product:\n$plan")
  }

  test("q37: centroid assignment is a projection — no join of any kind for the k-means phase") {
    // the literal-centroid-array rewrite removed the crossJoin+window;
    // the only join left is the probe->inverted-list broadcast equi-join
    val plan = planOf(graft.queries.VecQ.q37(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q37 assignment regressed to a product join:\n$plan")
  }

  test("q45: HLL register aggregation combines map-side before the exchange") {
    // the scale contract: a task ships at most m register rows per
    // group, never raw hashes — partial_max(rho) must precede Exchange
    val plan = planOf(graft.queries.SketchQ.q45(spark, sf))
    assert(plan.contains("partial_max"),
      s"q45 register max is not partially aggregated:\n$plan")
  }

  test("q46: sampled percentile partially aggregates before its exchange") {
    val plan = planOf(graft.queries.SketchQ.q46(spark, sf))
    assert(plan.contains("partial_percentile"),
      s"q46 ships raw sampled rows to the reducer:\n$plan")
  }

  test("q48: shard assignment shuffles exactly twice (window hash + output sort)") {
    val plan = planOf(graft.queries.SketchQ.q48(spark, sf))
    val exchanges = plan.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      plan.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges == 2,
      s"q48 expected exactly 2 exchanges, found $exchanges:\n$plan")
  }

  test("q31/q33: the LSH signature pipeline materializes once — AQE reuses the exchange across the diamond") {
    // the bucket self-join consumes the signature exchange from BOTH
    // branches; without reuse the scan+minhash pass (the whole job cost
    // at corpus scale) runs twice — q33's pair joins would replan it 4x
    val p31 = finalPlanOf(graft.queries.TextQ.q31(spark, sf))
    assert("minhashshinglesig".r.findAllIn(p31).size == 1,
      s"q31 computes the minhash signatures more than once:\n$p31")
    assert(p31.contains("ReusedExchange"), s"q31 lost exchange reuse:\n$p31")
    val p33 = finalPlanOf(graft.queries.TextQ.q33(spark, sf))
    assert("minhashshinglesig".r.findAllIn(p33).size == 1,
      s"q33 computes the minhash signatures more than once:\n$p33")
    assert("ReusedExchange".r.findAllIn(p33).size >= 3,
      s"q33 lost exchange reuse across the candidate diamond:\n$p33")
  }

  test("q54: contamination join runs on the gram HASH — no gram strings or text reach an exchange") {
    val plan = finalPlanOf(graft.queries.PrepQ.q54(spark, sf))
    // the join key must be the 64-bit md5-lower hash column, and the
    // benchmark side must have become a broadcast at this scale
    assert(plan.contains("md5lower64"), s"gram hash missing from plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark gram set not broadcast:\n$plan")
    // the contamination join's keys are the HASH column, never the
    // gram string (exchange lines print only partitioning expressions,
    // so the join condition is where payload-vs-hash is visible)
    val joinLines = plan.linesIterator
      .filter(_.contains("BroadcastHashJoin")).toSeq
    assert(joinLines.exists(_.contains("gh#")),
      s"contamination join not keyed on the gram hash:\n${joinLines.mkString("\n")}")
    assert(joinLines.forall(!_.contains("gram#")),
      s"contamination join keyed on gram strings:\n${joinLines.mkString("\n")}")
  }

  test("q58: sequence packing shuffles exactly twice, like shard assignment") {
    val plan = planOf(graft.queries.SketchQ.q58(spark, sf))
    val exchanges = plan.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      plan.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges == 2,
      s"q58 expected exactly 2 exchanges (shard hash + output sort), found $exchanges:\n$plan")
  }

  test("q59: frequency stats aggregate on the hash, boilerplate side broadcasts") {
    val df = graft.queries.TextQ.q59(spark, sf)
    val plan = finalPlanOf(df)
    // the anti-boilerplate join must build on the (small) df>=minDf
    // side, not shuffle the segment payload
    assert(plan.contains("BroadcastHashJoin") && plan.contains("BuildRight"),
      s"boilerplate join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q59 shuffled the boilerplate join:\n$plan")
    // the frequency statistics aggregate on the 64-bit line hash and
    // carry only (lh, doc_id) — line text must never appear in a
    // stats aggregate (at scale the stats exchange is hash-only; the
    // sf0.001 single-partition plan elides exchanges entirely, so the
    // aggregate nodes are where the property is visible)
    val pre = df.queryExecution.sparkPlan.toString
    val statLines = pre.linesIterator
      .filter(_.contains("HashAggregate(keys=[lh")).toSeq
    assert(statLines.nonEmpty, s"no hash-keyed stats aggregate:\n$pre")
    assert(statLines.forall(!_.contains("line#")),
      s"frequency stats carry line text:\n${statLines.mkString("\n")}")
  }

  test("q62: within-doc dedup plans NO join — a window plus doc-keyed reassembly only") {
    // the scale claim (LineDedup.dedupeWithinDoc): no frequency table,
    // no join; one window over (doc_id, line-hash) marks repeats, the
    // reassembly groups by doc_id, the output sort ranges on doc_id —
    // so every exchange in the plan must be doc-keyed and no join node
    // of any kind may appear
    val dfq = graft.queries.TextQ.q62(spark, sf)
    assertSpreadFloorOnly(dfq)
    val pre = dfq.queryExecution.sparkPlan.toString
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "CartesianProduct", "BroadcastNestedLoopJoin").foreach(j =>
      assert(!pre.contains(j), s"q62 plans a $j:\n$pre"))
    // the sf0.001 single-partition scan satisfies every distribution,
    // so exchanges may be elided here — pin the distribution
    // REQUIREMENTS that become the exchanges at scale: the repeat
    // window partitions by (doc_id, lh) and the reassembly aggregates
    // key on doc_id alone; if an exchange IS planned it must be
    // doc-keyed
    assert(pre.contains("windowspecdefinition(doc_id") ,
      s"repeat-marking window not doc-partitioned:\n$pre")
    assert(pre.linesIterator.exists(l =>
      l.contains("Aggregate(keys=[doc_id") && l.contains("partial_")),
      s"reassembly does not partially aggregate under doc_id:\n$pre")
    val exch = pre.linesIterator.filter(_.contains("Exchange "))
      .filterNot(_.contains("REPARTITION_BY_NUM")) // the r18 Spread floor
      .toSeq
    assert(exch.forall(l => l.contains("hashpartitioning(doc_id") ||
      l.contains("rangepartitioning(doc_id")),
      s"q62 has a non-doc-keyed exchange:\n${exch.mkString("\n")}")
  }

  test("q61: past the boilerplate filter, islands + spans + per-doc stats share ONE doc-keyed hash exchange") {
    // droppedSpans' window partitions by doc_id; both groupBys
    // (doc_id, grp) and (doc_id) are then satisfied by the same
    // partitioning (subset rule), so exactly one hash exchange in the
    // whole plan is doc_id-first — the stats/marking exchanges key on
    // the line hash, never the doc
    val dfq = graft.queries.TextQ.q61(spark, sf)
    assertSpreadFloorOnly(dfq)
    val pre = dfq.queryExecution.sparkPlan.toString
    // the islands window partitions by doc_id, and BOTH downstream
    // aggregations — (doc_id, grp) spans and (doc_id) stats — are
    // satisfied by that same partitioning (hash-subset rule), so the
    // plan may add AT MOST one doc-keyed hash exchange and must never
    // repartition on the island key
    assert(pre.contains("windowspecdefinition(doc_id"),
      s"islands window not doc-partitioned:\n$pre")
    assert(pre.linesIterator.exists(l =>
      l.contains("Aggregate(keys=[doc_id") && l.contains("grp")),
      s"span grouping (doc_id, grp) missing:\n$pre")
    val docKeyed = pre.linesIterator
      .filterNot(_.contains("REPARTITION_BY_NUM")) // the r18 Spread floor
      .count(_.contains("Exchange hashpartitioning(doc_id"))
    assert(docKeyed <= 1,
      s"expected at most 1 doc-keyed hash exchange, found $docKeyed:\n$pre")
    assert(!pre.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("grp#")),
      s"q61 repartitions on the island key — the subset rule was lost:\n$pre")
  }

  test("q63: mix-rate planning is ONE corpus pass — single scan, map-side combine, no join") {
    val pre = graft.queries.SketchQ.q63(spark, sf).queryExecution.sparkPlan.toString
    val scans = pre.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"q63 must read the corpus exactly once, found $scans scans:\n$pre")
    assert(pre.contains("partial_sum"),
      s"q63 ships raw per-doc counts to the reducer (no map-side combine):\n$pre")
    Seq("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
        "BroadcastNestedLoopJoin").foreach(j =>
      assert(!pre.contains(j), s"q63 plans a $j:\n$pre"))
  }

  test("q70: no string ever crosses an exchange — model keys and scoring joins are hash-only") {
    // the scale claim (LmQ.lmScore): bigram/prefix strings exist only
    // inside the map-side projection; every aggregate groups on the
    // 64-bit md5 key or doc_id, so every shuffle carries longs. On
    // sf0.001 some exchanges may be elided — pin BOTH the aggregate
    // keys (always visible) and any exchange that is planned
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val plan = graft.queries.LmQ.q70(spark, sf).queryExecution.sparkPlan
    val groupings = plan.collect {
      case a: HashAggregateExec => a.groupingExpressions
      case a: ObjectHashAggregateExec => a.groupingExpressions
      case a: SortAggregateExec => a.groupingExpressions
    }
    assert(groupings.nonEmpty, s"no aggregates found:\n$plan")
    groupings.foreach(g => assert(!g.exists(_.dataType == StringType),
      s"a model aggregate groups on a string: $g"))
    val exchanges = physicalOf(graft.queries.LmQ.q70(spark, sf))
      .collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e =>
      assert(!e.output.exists(_.dataType == StringType),
        s"a q70 exchange carries strings: ${e.output}"))
  }

  test("q71: chunking is one projection — no join, no aggregate, no window") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = graft.queries.LmQ.q71(spark, sf).queryExecution.sparkPlan
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty &&
      plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"q71 plans a join:\n$plan")
    assert(plan.collect { case a: HashAggregateExec => a }.isEmpty,
      s"q71 plans an aggregate:\n$plan")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"q71 plans a window:\n$plan")
  }

  test("q76: markup strip is one projection — no join, no aggregate, no window") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = graft.queries.PrepQ.q76(spark, sf).queryExecution.sparkPlan
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty &&
      plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"q76 plans a join:\n$plan")
    assert(plan.collect { case a: HashAggregateExec => a }.isEmpty,
      s"q76 plans an aggregate:\n$plan")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"q76 plans a window:\n$plan")
  }

  test("q117: the weighted gate is one projection+filter — no join, no aggregate, no window, no hash exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = graft.queries.DeltaQ.q117(spark, sf).queryExecution.sparkPlan
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty,
      s"q117 plans a join:\n$plan")
    assert(plan.collect { case a: HashAggregateExec => a }.isEmpty,
      s"q117 plans an aggregate:\n$plan")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"q117 plans a window:\n$plan")
    // the only exchange is the presentation sort's range partitioning —
    // the GATE itself is map-side (the stateless-stage claim)
    plan.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
      assert(!e.outputPartitioning.isInstanceOf[HashPartitioning],
        s"q117 hash-shuffles:\n$plan"))
  }

  test("q116: the diff is one full-outer join and its exchanges carry digests, never text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val plan = graft.queries.DeltaQ.q116(spark, sf).queryExecution.sparkPlan
    val joins = plan.collect { case j: BaseJoinExec => j }
    assert(joins.length == 1, s"q116 must plan exactly one join:\n$plan")
    // text dies map-side into digests before anything shuffles
    plan.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
      assert(!e.output.exists(_.name == "text"),
        s"a q116 exchange carries document text: ${e.output}"))
  }

  test("q78: hash arrays die map-side — no exchange carries a string or array") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    // the registered entry is lazy (SubstrQ's r19 note), so the pin
    // inspects its own plan
    val exchanges = physicalOf(graft.queries.SubstrQ.q78(spark, sf))
      .collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e =>
      assert(!e.output.exists(a => a.dataType == StringType ||
        a.dataType.isInstanceOf[ArrayType]),
        s"a q78 exchange carries strings/arrays: ${e.output}"))
  }

  test("q95: both rounds keep text map-side — no exchange carries a string or array") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    // the registered entry, lazy like q78's
    val exchanges = physicalOf(graft.queries.SubstrQ.q95(spark, sf))
      .collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e =>
      assert(!e.output.exists(a => a.dataType == StringType ||
        a.dataType.isInstanceOf[ArrayType]),
        s"a q95 exchange carries strings/arrays: ${e.output}"))
  }

  test("q72: shingle strings stay map-side — every exchange and aggregate key is hash/doc-keyed") {
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val plan = graft.queries.LmQ.q72(spark, sf).queryExecution.sparkPlan
    val groupings = plan.collect {
      case a: HashAggregateExec => a.groupingExpressions
      case a: ObjectHashAggregateExec => a.groupingExpressions
      case a: SortAggregateExec => a.groupingExpressions
    }
    assert(groupings.nonEmpty)
    groupings.foreach(g => assert(!g.exists(_.dataType == StringType),
      s"a dup-ngram aggregate groups on a string: $g"))
    val exchanges = physicalOf(graft.queries.LmQ.q72(spark, sf))
      .collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e =>
      assert(!e.output.exists(_.dataType == StringType),
        s"a q72 exchange carries shingle strings: ${e.output}"))
  }

  test("q73: no vector payload crosses an exchange — the pick shuffles scalars only") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val plan = graft.queries.VecQ.q73(spark, sf).queryExecution.sparkPlan
    val exchanges = physicalOf(graft.queries.VecQ.q73(spark, sf))
      .collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"a q73 exchange carries vectors: ${e.output}"))
    // the quota window partitions on the cluster, never globally
    assert(plan.toString.contains("windowspecdefinition(cluster_id"),
      s"quota window not cluster-partitioned:\n$plan")
  }

  test("q74: window strings stay map-side — exchanges carry hashes/ids only, islands share one doc exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    // the registered q74 entry stays lazy (the r19 eager-checkpoint
    // experiment was reverted; SubstrQ's note), so the pin inspects
    // its own plan
    val q74op = graft.queries.SubstrQ.q74(spark, sf)
    assertSpreadFloorOnly(q74op)
    val plan = physicalOf(q74op)
    // the r18 Spread floor (Q.wideDocs) is an explicit, guarded
    // REPARTITION_BY_NUM exchange of the pre-kernel rows — absent at
    // scale (the guard no-ops on a wide scan), so it is exempt here;
    // every PLANNER-inserted exchange must still be string-free
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      .filterNot(_.shuffleOrigin ==
        org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM)
    assert(exchanges.nonEmpty)
    exchanges.foreach(e =>
      assert(!e.output.exists(_.dataType == StringType),
        s"a q74 exchange carries window strings: ${e.output}"))
    // island assembly is doc-keyed, never a global window
    assert(plan.toString.contains("windowspecdefinition(doc_id"),
      s"island window not doc-partitioned:\n$plan")
  }

  test("q75: token arrays never shuffle — the span side broadcasts; only the output sort carries text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    // the registered entry, lazy like q74's (SubstrQ's r19 note)
    val q75op = graft.queries.SubstrQ.q75(spark, sf)
    assertSpreadFloorOnly(q75op)
    val plan = physicalOf(q75op)
    // Spread-floor exchange exempt, as in the q74 pin above
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      .filterNot(_.shuffleOrigin ==
        org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM)
    assert(exchanges.nonEmpty)
    // the rebuilt text_kept may ride the final range (sort) exchange —
    // that is output-sized by definition; token ARRAYS must never cross
    exchanges.foreach(e =>
      assert(!e.output.exists(a => a.dataType match {
        case ArrayType(StringType, _) => true
        case _                        => false
      }), s"a q75 exchange carries token arrays: ${e.output}"))
  }

  test("q84/q85: the url and wordlist chains are single projections — no join, no aggregate, no window") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    Seq("q84" -> graft.queries.WebQ.q84(spark, sf),
        "q85" -> graft.queries.WebQ.q85(spark, sf)).foreach { case (n, df) =>
      val plan = df.queryExecution.sparkPlan
      assert(plan.collect { case j: BaseJoinExec => j }.isEmpty,
        s"$n plans a join:\n$plan")
      assert(plan.collect { case a: HashAggregateExec => a }.isEmpty,
        s"$n plans an aggregate:\n$plan")
      assert(plan.collect { case w: WindowExec => w }.isEmpty,
        s"$n plans a window:\n$plan")
    }
  }

  test("q86: n-gram strings stay map-side — every exchange and model aggregate is hash-keyed") {
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val plan = graft.queries.LmQ.q86(spark, sf).queryExecution.sparkPlan
    val groupings = plan.collect {
      case a: HashAggregateExec => a.groupingExpressions
      case a: ObjectHashAggregateExec => a.groupingExpressions
      case a: SortAggregateExec => a.groupingExpressions
    }
    assert(groupings.nonEmpty)
    groupings.foreach(g => assert(!g.exists(_.dataType == StringType),
      s"a q86 model aggregate groups on a string: $g"))
    val exchanges = physicalOf(graft.queries.LmQ.q86(spark, sf))
      .collect { case e: ShuffleExchangeExec => e }
    exchanges.foreach(e =>
      assert(!e.output.exists(_.dataType == StringType),
        s"a q86 exchange carries n-gram strings: ${e.output}"))
  }

  test("q86: all model consumers read the cached model — one reference scan, not six") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val plan = physicalOf(graft.queries.LmQ.q86(spark, sf))
    // six consumers: five scoring join sides + the corpus total
    val cacheReads = plan.collect { case s: InMemoryTableScanExec => s }
    assert(cacheReads.length >= 6,
      s"model joins must read the cache (got ${cacheReads.length}):\n$plan")
    // the ONLY live file scans are the scoring side + the totality
    // join back to documents — the model consumers must not re-scan
    // the reference partition (column pruning specializes their
    // aggregates, so without the cache each one plans its own scan;
    // the FileScan printed INSIDE InMemoryRelation is the cache's
    // one-time build plan, not a per-consumer scan, and tree
    // collection correctly does not see it)
    val fileScans = plan.collect { case f: FileSourceScanExec => f }
    assert(fileScans.length <= 2,
      s"model consumers re-scan the corpus (${fileScans.length} scans):\n$plan")
  }

  test("q88: the fill window is type-partitioned, never global") {
    val plan = physicalOf(graft.queries.CoreB.q88(spark, sf))
    assert(plan.toString.contains("windowspecdefinition(event_type"),
      s"fill window not type-partitioned:\n$plan")
  }

  test("q93: zorder bucketing is scan -> one hash aggregate; no join, exchange carries bucket+partials only") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.types.StringType
    val df = graft.queries.LayoutQ.q93(spark, sf)
    val plan = df.queryExecution.sparkPlan
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty,
      s"q93 plans a join:\n$plan")
    // partial + final of ONE aggregate, nothing else
    assert(plan.collect { case a: HashAggregateExec => a }.size == 2,
      s"q93 aggregate shape:\n$plan")
    val exchanges = physicalOf(df).collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(!e.output.exists(_.dataType == StringType),
      s"a q93 exchange carries strings: ${e.output}"))
  }

  test("q94: char concentration is one projection — no join, no aggregate, no window") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = graft.queries.LayoutQ.q94(spark, sf).queryExecution.sparkPlan
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty &&
      plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"q94 plans a join:\n$plan")
    assert(plan.collect { case a: HashAggregateExec => a }.isEmpty,
      s"q94 plans an aggregate:\n$plan")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"q94 plans a window:\n$plan")
  }

  test("q97: every stat family fuses into ONE scan and one aggregate — no join") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val plan = graft.queries.SketchQ.q97(spark, sf).queryExecution.sparkPlan
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty,
      s"q97 plans a join:\n$plan")
    val scans = plan.toString.linesIterator.count(_.contains("FileScan"))
    assert(scans == 1, s"q97 reads the batch $scans times, want 1:\n$plan")
  }

  test("no query plans a cartesian product or nested-loop join (except intentional broadcasts)") {
    // q34: tiny broadcast query set x corpus — the intended brute-force
    // baseline shape (q37 no longer needs the exemption: its k-means
    // phase is shuffle-free and its probe join is an equi-join);
    // q57/q86: a ONE-ROW broadcast corpus-count attaches via cross join
    // (the lazy alternative to a driver-side count() action)
    // q100/q105 join the same one-row corpus count (q105 is q100's
    // scoring kernel over the persisted index — same nDocs device);
    // q111: each InForeignKey's 1-ROW anti-probe count cross-joins
    // onto the 1-row fused-metrics aggregate (the documented second
    // pass — 1-row × 1-row, the same lazy-scalar device as q57/q86)
    // q115: the held-out benchmark set broadcasts against the corpus
    // (the q34 brute-force baseline shape — eval sets are thousands of
    // rows; the LSH-bucketed path takes over when they are not)
    val exempt = Set("q34_embed_cosine_topk", "q57_tfidf_terms",
      "q86_trigram_backoff", "q100_ranked_search", "q105_ranked_indexed",
      "q111_fk_checks", "q115_semantic_decon")
    SparkEntry.all.filterNot(e => exempt(e.name)).foreach { e =>
      val plan = e.run(spark, sf).queryExecution.sparkPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"${e.name} plans a CartesianProduct")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"${e.name} plans a BroadcastNestedLoopJoin (no usable equi-key)")
    }
  }
}

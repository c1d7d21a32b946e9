package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Relational2, TextOps}

/** Plan-shape guards for the operators that used to carry an
  * unpartitioned `Window.orderBy` over per-row (corpus-sized) input —
  * the one plan Spark executes as a single-task global sort. After the
  * r2 rewrite, any window with an empty partition spec must consume
  * ALREADY-AGGREGATED data (the ≤ 4096-row bin cumulative in
  * [[graft.functions.OrderStats]]), never a raw scan.
  */
class ScalePlanSpec extends AnyFunSuite with SharedSpark {

  /** Every unpartitioned logical Window must have an Aggregate strictly
    * below it — i.e. its input has already collapsed from corpus size. */
  private def assertWindowsAggregated(df: DataFrame, name: String): Unit = {
    val plan: LogicalPlan = df.queryExecution.optimizedPlan
    val wins = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    wins.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"$name: unpartitioned Window over non-aggregated input:\n$w")
    }
  }

  test("q40/q63/q65/q83 run no unpartitioned window over raw rows") {
    assertWindowsAggregated(TextOps.q40(spark, SF), "q40")
    assertWindowsAggregated(TextOps.q63(spark, SF), "q63")
    assertWindowsAggregated(Relational2.q65(spark, SF), "q65")
    // PrefixSum's only unpartitioned window runs over the ≤4096 bin rows
    assertWindowsAggregated(graft.operators.PipelineOps.q83(spark, SF), "q83")
    // r10: the subword-budget pack and its manifest inherit the same
    // PrefixSum shape — the unit join must not introduce a raw window.
    // r11: pin the BUILD plans (what executes once per family run) —
    // the registered q152/q155/q158/q159 entries return the memoized
    // checkpoint, whose plan has no windows left to inspect
    assertWindowsAggregated(
      graft.operators.PipelineOps.packedBuildPlan(spark, SF), "q152 build")
    assertWindowsAggregated(
      graft.operators.PipelineOps.sequencePackPlan(spark, SF), "q158 build")
    // r12: the epoch orderings rank per call (the memo only feeds them),
    // so their executing plans carry the PrefixSum windows — same
    // discipline: per-epoch binned scans, never a raw global window
    assertWindowsAggregated(graft.operators.PipelineOps.q162(spark, SF), "q162")
    // r15: the epoch ordering memoizes (the q177 amortization premise),
    // so pin the BUILD plan — the registered entries read a LogicalRDD
    assertWindowsAggregated(
      graft.operators.PipelineOps.epochOrderedPlan(spark, SF,
        graft.operators.PipelineOps.Lineage.Pack), "q162 build")
    assertWindowsAggregated(graft.operators.PipelineOps.q166(spark, SF), "q166")
    assertWindowsAggregated(graft.operators.PipelineOps.q171(spark, SF), "q171")
    assertWindowsAggregated(
      graft.operators.PipelineOps.q171Plan(spark, SF), "q171 build")
    // r13: the loader batching / bucketing ops fold their group id into
    // the PrefixSum key (bucket-major, lang-major) — one binned scan
    // ranks every group; the only unpartitioned windows ride the tiny
    // group dims (≤64 buckets / ≤|langs| rows, both aggregated)
    assertWindowsAggregated(graft.operators.PipelineOps.q179(spark, SF), "q179")
    // r15: q179/q191 now read the batch relation through the
    // length_batches memo (a LogicalRDD leaf — plan-cost fix), so pin
    // the BUILD plan too, the packedBuildPlan treatment
    assertWindowsAggregated(
      graft.operators.PipelineOps.lengthBatchesPlan(spark, SF), "q179 build")
    assertWindowsAggregated(TextOps.q180(spark, SF), "q180")
    // r17: the bucket relation memoizes (the epoch-order treatment), so
    // pin the BUILD plan — the registered entries read a LogicalRDD
    assertWindowsAggregated(
      TextOps.pplBucketsPlan(spark, SF), "q180 build")
    assertWindowsAggregated(graft.operators.PipelineOps.q185(spark, SF), "q185")
    assertWindowsAggregated(graft.operators.PipelineOps.q191(spark, SF), "q191")
    assertWindowsAggregated(graft.operators.PipelineOps.q193(spark, SF), "q193")
  }

  test("q111 warm readout scans ONE pruned partition of the standing artifact") {
    graft.operators.GraphOps.q111History(spark, SF)
    val plan = graft.operators.GraphOps.q111(spark, SF)
      .queryExecution.executedPlan.toString
    // partition pruning fired at the scan: the t-filter must appear on
    // the scan's PartitionFilters line (a post-scan Filter over all
    // rounds would NOT satisfy this — r10 review dropped a near-vacuous
    // disjunct that let it)
    assert(plan.contains("g111_hist"), plan.take(500))
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains(s"= ${graft.operators.GraphOps.Iters})"),
      s"t=Iters must prune at the scan: $pf")
  }

  test("q40/q63 equal the single-task global-window formulation") {
    val truth = Tables.documents(spark, SF)
      .select(col("doc_id").as("d2"), (col("lang") === "en").cast("int").as("y"))
    val ranked = TextOps.q38(spark, SF).join(truth, col("doc_id") === col("d2"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .withColumn("cum_pos", sum(col("y")).over(
        Window.orderBy(col("score").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .cache()
    val tot = ranked.agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"))
      .collect()(0)
    val (nDocs, nPos) = (tot.getLong(0), tot.getLong(1))
    val t = math.ceil(0.95 * nPos).toLong
    val hit = ranked.filter(col("cum_pos") >= t).orderBy(col("rank"))
      .limit(1).collect()(0)
    val (k, thr) = (hit.getAs[Int]("rank").toLong, hit.getAs[Double]("score"))
    ranked.unpersist()

    val w40 = TextOps.q40(spark, SF).collect()(0)
    assert(w40.getAs[Long]("n_docs") === nDocs)
    assert(w40.getAs[Long]("n_pos") === nPos)
    assert(w40.getAs[Long]("k_at_95") === k)

    val w63 = TextOps.q63(spark, SF).collect()(0)
    assert(w63.getAs[Double]("threshold") === thr)
    assert(w63.getAs[Double]("recall_at_t") ===
      math.rint(t.toDouble / nPos * 1e6) / 1e6)
    assert(w63.getAs[Double]("screen_fraction") ===
      math.rint(k.toDouble / nDocs * 1e6) / 1e6)
  }

  test("q65 equals the ntile window formulation") {
    val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
    val expect = Tables.orders(spark, SF)
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy(col("quartile"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Num.dsum(col("o_totalprice")).as("total"))
      .orderBy(col("quartile")).collect()
    val got = Relational2.q65(spark, SF).collect()
    assert(got.map(_.toSeq.toList).toList === expect.map(_.toSeq.toList).toList)
  }

  test("screening metrics match the window form on a zero-positive corpus") {
    // no doc is lang='en' → T = 0; the window formulation answers rank 1
    // (cum_pos ≥ 0 everywhere), i.e. k_at_95 = 1 and threshold = the top
    // score. The order-statistic rewrite must agree, not return nulls.
    val tmp = java.nio.file.Files.createTempDirectory("graft-nopos").toString
    Tables.documents(spark, SF).withColumn("lang", lit("xx"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = TextOps.q40(spark, tmp).collect()(0)
    assert(r.getAs[Long]("n_pos") === 0L)
    assert(r.getAs[Long]("k_at_95") === 1L)
    val n = r.getAs[Long]("n_docs").toDouble
    assert(r.getAs[Double]("wss95") === math.rint((1.0 - 1 / n - 0.05) * 1e6) / 1e6)
    val t = TextOps.q63(spark, tmp).collect()(0)
    val topScore = TextOps.q38(spark, tmp)
      .orderBy(col("score").desc, col("doc_id")).limit(1)
      .collect()(0).getAs[Double]("score")
    assert(t.getAs[Double]("threshold") === topScore)
    assert(t.getAs[Double]("precision_at_t") === 0.0)
    assert(t.getAs[Double]("recall_at_t").isNaN) // 0/0, IEEE semantics
  }

  test("q49's df cap is a broadcast anti-join — no window, no keyed shuffle of the exploded relation") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    // the assertion targets the COLD plan: a warm cache left by another
    // suite (q49 caches its per-doc id sets) substitutes InMemoryRelation
    // nodes planned at cache time and hides the join being asserted
    spark.catalog.clearCache()
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec

    // descend through cached subplans (q49 caches its per-doc id sets)
    // and AQE wrappers so the assertions see the real operators
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case x => x }.flatMap {
        case s: InMemoryTableScanExec => s +: flatten(s.relation.cachedPlan)
        case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
        case x => Seq(x)
      }
    // r18: the q49 pair set memoizes (the pairs50 convention), so pin
    // the BUILD plan — the registered entry reads a LogicalRDD
    val df = operators.DedupOps.q49Plan(spark, SF)
    val all = flatten(df.queryExecution.executedPlan)
    assert(!all.exists(_.isInstanceOf[WindowExec]),
      "q49 must not compute the shingle df with a window")
    val anti = all.collectFirst {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j }
    assert(anti.isDefined,
      "the df cap must apply as a broadcast anti-join of the hot-shingle set")
    // below the cap join, the exploded (doc_id, sh) relation must never
    // shuffle on a key — a hot shingle would land in one task. (The
    // round-robin fan-out repartition is allowed: it's unkeyed.)
    val keyed = flatten(anti.get.left).collect {
      case e: ShuffleExchangeLike
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e }
    assert(keyed.isEmpty,
      s"keyed shuffle below the df-cap filter:\n${anti.get.left}")
    // the verify is the merge kernel over ascending id arrays: no hash
    // intersection of string arrays anywhere in the build
    import org.apache.spark.sql.catalyst.expressions.ArrayIntersect
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val exprs = all.flatMap(_.expressions).flatMap(_.collect { case e => e })
    assert(!exprs.exists(_.isInstanceOf[ArrayIntersect]),
      "q49 must verify with SortedOverlap, not array_intersect")
    val verify = exprs.collect { case o: graft.expressions.SortedOverlap => o }
    assert(verify.nonEmpty, "q49's verify must run SortedOverlap")
    verify.foreach { o =>
      assert(o.references.map(_.name).toSet === Set("shs_a", "shs_b"))
      o.children.foreach(c => assert(c.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }, s"verify input ${c.dataType.simpleString}, want array<bigint>"))
    }
  }

  test("the k=8 span build reads the docsWithToks cache — no second token copy") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    spark.catalog.clearCache()
    val shared = TextOps.docsWithToks(spark, SF).queryExecution.withCachedData
      .collectFirst { case m: InMemoryRelation => m.cacheBuilder }
    assert(shared.isDefined, "docsWithToks must be cached")
    val caches = operators.DedupOps.dupSpans8Plan(spark, SF).queryExecution
      .withCachedData.collect { case m: InMemoryRelation => m }
    assert(caches.nonEmpty, "the span build must read a cached token relation")
    assert(caches.forall(_.cacheBuilder eq shared.get),
      s"the span build caches its own copy:\n${caches.map(_.output).mkString("\n")}")
  }

  test("q98 windows are all doc-keyed; q100 sits on the capped anti-joined index") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    spark.catalog.clearCache() // cold plans — warm caches hide the joins
    // span-family merges must never fall back to a global window: a
    // corpus can't sort on one task. Every Window partitions by doc_id.
    Seq("q98" -> operators.DedupOps.q98(spark, SF),
        // r18: the k=8 span set memoizes (the pplBuckets treatment), so
        // pin the BUILD plan — the registered entries read a LogicalRDD
        "q98 build" -> operators.DedupOps.dupSpans8Plan(spark, SF),
        "q107" -> operators.DedupOps.q107(spark, SF),
        "q109" -> operators.DedupOps.q109(spark, SF),
        "q113" -> operators.DedupOps.q113(spark, SF),
        // r5 arrival-model span ops: island merges stay doc-keyed too
        "q115" -> operators.DedupOps.q115(spark, SF),
        "q119" -> operators.DedupOps.q119(spark, SF),
        "q122" -> operators.DedupOps.q122(spark, SF)).foreach { case (n, df) =>
      val p = df.queryExecution.optimizedPlan
      assert(p.collect { case w: LWindow if w.partitionSpec.isEmpty => w }.isEmpty,
        s"$n must never run an unpartitioned window")
    }
    // q100 shares keptShingles: the df cap must reach its plan as the
    // same broadcast anti-join q49 is guarded for. q100 caches its
    // weighted index eagerly, so descend through InMemoryRelation's cached
    // physical plan (the logical view only shows the cache node).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case x => x }.flatMap {
        case s: InMemoryTableScanExec => s +: flatten(s.relation.cachedPlan)
        case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
        case x => Seq(x)
      }
    val p100 = flatten(
      operators.DedupOps.q100(spark, SF).queryExecution.executedPlan)
    assert(p100.exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftAnti
      case _ => false
    }, "q100 must apply the hot-shingle cap as a broadcast anti-join")
  }

  test("q87's band-bucket exchange is id-only — no array column crosses it") {
    // the op's premise is an eval suite too big to broadcast; shipping
    // each doc's shingle array ×4 bands through the candidate join
    // would make the shuffle volume corpus-payload-sized. Candidates
    // must travel as ids (the q50 pattern); arrays only re-join after
    // the candidate-sized prune.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.ArrayType
    spark.catalog.clearCache()
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case x => x }.flatMap {
        case s: InMemoryTableScanExec => s +: flatten(s.relation.cachedPlan)
        case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
        case x => Seq(x)
      }
    // at test scale the bench side broadcasts (no exchange at all, which
    // is also array-free); the assertion targets the 100 TB plan, where
    // neither side fits a broadcast and the band join must shuffle —
    // force that shape by disabling the thresholds
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      // the candidate stage pre-checkpoint: q87 itself localCheckpoints
      // it, which replaces the whole subplan with a LogicalRDD
      val df = operators.PipelineOps.q87Candidates(spark, SF)
      val bandExchanges = flatten(df.queryExecution.executedPlan).collect {
        case e: ShuffleExchangeLike
          if e.outputPartitioning.isInstanceOf[HashPartitioning] &&
            e.outputPartitioning.asInstanceOf[HashPartitioning].expressions
              .flatMap(_.references.toSeq).exists(a =>
                a.name == "band" || a.name == "bucket") => e
      }
      assert(bandExchanges.nonEmpty,
        "expected a (band, bucket)-keyed exchange in q87's candidate join")
      bandExchanges.foreach { e =>
        val arrays = e.output.filter(_.dataType.isInstanceOf[ArrayType])
        assert(arrays.isEmpty,
          s"array column(s) ${arrays.map(_.name).mkString(",")} cross the band-bucket exchange")
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q50's band candidates run the 16-MIN signature aggregate through one exchange") {
    // a self-join of the band buckets planned the signature aggregate on
    // both join sides and AQE did not reuse its exchange: the executed
    // plan ran it twice over the same shingles
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Min, Partial}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // the executed (final) plan, through AQE stages — a reused exchange
    // is not descended into: its work ran once
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case x => x }.flatMap {
        case s: InMemoryTableScanExec => s +: flatten(s.relation.cachedPlan)
        case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
        case q: QueryStageExec => q +: flatten(q.plan)
        case x => Seq(x)
      }
    val docSh = operators.DedupOps.docShingles(spark, SF).filter(size(col("shs")) > 0)
    val cand = operators.DedupOps.bandCandidates(docSh)
    assert(cand.collect().nonEmpty)
    val sigAggs = flatten(cand.queryExecution.executedPlan).collect {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(e =>
        e.mode == Partial && e.aggregateFunction.isInstanceOf[Min]) => a
    }
    assert(sigAggs.size === 1,
      s"signature aggregate ran ${sigAggs.size}× in\n${cand.queryExecution.executedPlan}")
  }

  test("broadcast joins degrade to shuffle joins — same answers — when dims outgrow the threshold") {
    // SURVEY §5's claim made executable: the declarative q3 plan
    // broadcasts its dimension sides at test scale, and when a
    // "dimension" outgrows the broadcast threshold at real scale the
    // SAME plan must flip to a shuffle join under Catalyst/AQE with
    // identical results. Simulate the outgrowth by disabling the
    // threshold instead of inflating the data.
    import graft.operators.Relational
    // BOTH thresholds: the static planner's, and AQE's runtime one —
    // with only the static threshold off, AQE happily re-broadcasts a
    // side it measures as small at runtime (that re-plan freedom is
    // exactly what SURVEY §5 relies on in the other direction)
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    val broadcastRows = Relational.q3(spark, SF).collect()
    val planB = Relational.q3(spark, SF).queryExecution.executedPlan.toString
    assert(planB.contains("BroadcastHashJoin"))
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      val df = Relational.q3(spark, SF)
      val shuffleRows = df.collect()
      val planS = df.queryExecution.executedPlan.toString
      // the threshold-decided lineitem ⋈ orders join flips to a shuffle
      // join; the customer side stays broadcast because q3 HINTS it —
      // an explicit broadcast() is a size-bounded-by-contract claim that
      // thresholds must not silently override
      assert(planS.contains("SortMergeJoin") || planS.contains("ShuffledHashJoin"),
        s"expected the unhinted join to become a shuffle join:\n$planS")
      assert(shuffleRows === broadcastRows)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime — same answers") {
    // SURVEY §5's skew story made executable: a Zipf-headed key (2/3 of
    // the left relation on one key) lands in one shuffle partition; with
    // the skew thresholds scaled to test volume, AQE must split that
    // partition (skew=true in the executed plan) and change nothing
    // about the results. On the real cluster the same mechanism fires
    // with the default 256 MB thresholds.
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16KB")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val left = spark.range(300000).select(
        when(col("id") < 200000, 0L).otherwise(col("id") % 1000).as("k"),
        col("id").as("v"))
      val right = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
      val row = joined.collect()(0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the skewed join:\n$plan")
      // ground truth computed without the join: every left row matches
      // exactly one right row (keys 0..999 all present on the right)
      assert(row.getAs[Long]("n") === 300000L)
      val expectS = (0L until 300000L).map { id =>
        val k = if (id < 200000) 0L else id % 1000
        id + 2 * k
      }.sum
      assert(row.getAs[Long]("s") === expectS)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("OrderStats.keysAtRanks selects exact order-statistic keys") {
    import spark.implicits._
    // adversarial distribution: heavy ties + a skewed cluster in one bin
    val vs = (1 to 500).map(i => (math.floor(i / 50.0), i.toLong)) ++
      (501 to 600).map(i => (7.00000001, i.toLong))
    val df = vs.toDF("v", "id")
    val sorted = vs.sorted
    val targets = Seq((1, 1L), (2, 137L), (3, 599L), (4, 600L)).toDF("idx", "t")
    val got = graft.functions.OrderStats.keysAtRanks(df, targets)
      .collect().map(r => r.getAs[Int]("idx") ->
        (r.getAs[Double]("v"), r.getAs[Long]("id"))).toMap
    assert(got(1) === sorted(0))
    assert(got(2) === sorted(136))
    assert(got(3) === sorted(598))
    assert(got(4) === sorted(599))
    // leafCap far below the 50-row point masses: forces the adaptive
    // refinement loop through value-mode AND the id-mode tie splitter
    val refined = graft.functions.OrderStats.keysAtRanks(df, targets, leafCap = 8)
      .collect().map(r => r.getAs[Int]("idx") ->
        (r.getAs[Double]("v"), r.getAs[Long]("id"))).toMap
    assert(refined === got)
    // out-of-range ranks drop (inner-join semantics), in-range survive
    val partial = graft.functions.OrderStats.keysAtRanks(
      df, Seq((1, 0L), (2, 601L), (3, 600L)).toDF("idx", "t"))
      .collect().map(r => r.getAs[Int]("idx")).toSet
    assert(partial === Set(3))
  }

  test("r16 ops keep the window discipline: q204/q206/q207 + the mm epoch-order build") {
    // q204's readout is per-doc aggregates + a ≤|scripts|-row groupBy —
    // any unpartitioned window in its plan must sit over aggregated
    // input (there should be none over raw rows)
    assertWindowsAggregated(graft.operators.BpeOps.q204(spark, SF), "q204")
    // q206's pack tail is the two-level binned PrefixSum — its
    // unpartitioned windows ride the ≤4096 aggregated bin rows only
    assertWindowsAggregated(
      graft.operators.PipelineOps.q206(spark, SF), "q206")
    // q207 reads the memoized prefix (LogicalRDD leaf) and folds ONLY
    // the batch-sized arrivals — the executing windows are PrefixSum's
    // binned scans plus the ≤Epochs-row offset cumulative
    assertWindowsAggregated(
      graft.operators.PipelineOps.q207(spark, SF), "q207")
    // the standing mm epoch ordering's BUILD plan (what executes once
    // per corpus snapshot) carries the same discipline
    assertWindowsAggregated(
      graft.operators.PipelineOps.epochOrderedPlan(spark, SF,
        graft.operators.PipelineOps.Lineage.MmPack),
      "mmEpochOrdered build")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DedupOps, GraphOps}

class GraphSpec extends AnyFunSuite with SharedSpark {

  test("q95 pagerank equals an exact driver-side replay of the integer iteration") {
    val got = GraphOps.q95(spark, SF).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // independent reference: same int64 recurrence run sequentially on
    // the collected edge set (tiny at test SF)
    val pairs = DedupOps.q50(spark, SF).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val docs = Tables.documents(spark, SF).select("doc_id")
      .collect().map(_.getLong(0))
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSeq }
    var r = docs.map(_ -> GraphOps.RankScale).toMap
    for (_ <- 1 to GraphOps.Iters) {
      val share = adj.map { case (b, ns) => b -> r(b) / ns.size }
      r = docs.map { d =>
        val cin = adj.getOrElse(d, Seq.empty).map(share).sum
        d -> (150000L + GraphOps.Damping * cin / 100)
      }.toMap
    }
    val want = r.map { case (d, m) => d -> m / 1000000.0 }
    assert(got === want)
  }

  test("q95 rank structure: isolates at 1-alpha, symmetric pairs equal, mass bounded") {
    val ranks = GraphOps.q95(spark, SF).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val n = ranks.size
    assert(n === Tables.documents(spark, SF).count())
    val deg = {
      val pairs = DedupOps.q50(spark, SF).select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      (pairs.map(_._1) ++ pairs.map(_._2)).groupBy(identity)
        .map { case (k, v) => k -> v.length }
    }
    // isolates hold exactly the teleport mass
    val isolates = ranks.keySet -- deg.keySet
    assert(isolates.nonEmpty) // test corpora are mostly unique docs
    isolates.foreach(d => assert(ranks(d) === 0.15))
    // connected docs accumulate strictly more than the teleport mass
    deg.keys.foreach(d => assert(ranks(d) > 0.15))
    // truncating shares only LOSE mass: total ≤ N, ≥ teleport floor
    val total = ranks.values.sum
    assert(total <= n.toDouble + 1e-6)
    assert(total >= 0.15 * n - 1e-6)
  }

  test("q97 keeps the highest-rank member of every q50 cluster") {
    val ranks = GraphOps.q95(spark, SF).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val roots = operators.DedupOps.connectedComponents(
        DedupOps.q50(spark, SF).select("id_a", "id_b"),
        Tables.documents(spark, SF).select(col("doc_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = GraphOps.q97(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // one row per cluster, clusters = distinct CC roots
    assert(got.map(_._1).toSet === roots.values.toSet)
    assert(got.length === roots.values.toSet.size)
    got.foreach { case (cluster, keeper, kRank) =>
      val members = roots.collect { case (d, r) if r == cluster => d }
      val best = members.minBy(d => (-ranks(d), d))
      assert(keeper === best, s"cluster $cluster")
      assert(kRank === ranks(keeper))
    }
  }

  test("pagerank resumes bit-identically from a mid-run rank snapshot") {
    import spark.implicits._
    val pairs = DedupOps.q50(spark, SF).select(col("id_a"), col("id_b"))
    val docs = Tables.documents(spark, SF).select(col("doc_id"))
    val straight = GraphOps.pagerank(pairs, docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toList
    // run 3 rounds, persist the snapshot as micros, resume for the rest
    val snap = GraphOps.pagerankFrom(
        docs.withColumn("r", lit(GraphOps.RankScale)), pairs, docs, 3)
      .select(col("doc_id"),
        round(col("rank") * GraphOps.RankScale, 0).cast("long").as("r"))
    val resumed = GraphOps.pagerankFrom(snap, pairs, docs, GraphOps.Iters - 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(resumed === straight)
  }

  test("q106 keeper policy: quality gate first, then centrality, then id") {
    val roots = GraphOps.q97(spark, SF).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qual = operators.TextOps.q45(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_toks") >= 10 && r.getAs[Double]("non_alnum_ratio") <= 0.5))
      .toMap
    val members = operators.DedupOps.q74(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("root")))
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val got = GraphOps.q106(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toList
    // same cluster set as q97
    assert(got.map(_._1).toSet === roots.keySet)
    got.foreach { case (cluster, keeper, qOk) =>
      assert(qOk === (if (qual(keeper)) 1 else 0))
      // where the whole cluster fails (or passes) the gate uniformly,
      // the policy must degrade to exactly q97's centrality argmax
      val ms = members(cluster)
      if (ms.forall(qual) || !ms.exists(qual))
        assert(keeper === roots(cluster), s"cluster $cluster")
      // a keeper failing the gate means NO member passes it
      if (qOk === 0) assert(!ms.exists(qual), s"cluster $cluster")
    }
  }

  test("pagerankDelta: history + delta edges ≡ full recompute on the merged edge set") {
    val allPairs = DedupOps.q50(spark, SF).select(col("id_a"), col("id_b"))
      .localCheckpoint()
    assert(allPairs.count() > 0)
    val docs = Tables.documents(spark, SF).select(col("doc_id"))
    // deterministic split: ~1/3 of the verified pairs arrive as a delta
    val oldPairs = allPairs.filter((col("id_a") + col("id_b")) % 3 =!= 0)
    val newPairs = allPairs.filter((col("id_a") + col("id_b")) % 3 === 0)
    assert(newPairs.count() > 0)
    val hist = GraphOps.pagerankHistory(oldPairs, docs)
    val got = GraphOps.pagerankDelta(hist, oldPairs, newPairs, docs)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val want = GraphOps.pagerank(allPairs, docs)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(got === want)
  }

  test("pagerankDelta grows the universe and never recomputes outside the delta ball") {
    import spark.implicits._
    // line graph 1-2-3-...-12: with 8 rounds, a delta at node 1 can
    // influence at most 8 hops — nodes 11/12 must be pure history reads
    val oldPairs = (1L to 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val oldDocs = (1L to 12L).toDF("doc_id")
    // delta: NEW doc 100 attaches to node 1; doc 200 arrives isolated
    val newPairs = Seq((1L, 100L)).toDF("id_a", "id_b")
    val docs = ((1L to 12L) ++ Seq(100L, 200L)).toDF("doc_id")
    val hist = GraphOps.pagerankHistory(oldPairs, oldDocs).localCheckpoint()
    val got = GraphOps.pagerankDelta(hist, oldPairs, newPairs, docs)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val want = GraphOps.pagerank(oldPairs.unionAll(newPairs), docs)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got === want)
    assert(got(200L) === 0.15) // isolated newcomer settles at 1−α
    // locality proof: corrupt node 12's FINAL history rank — the delta
    // run must surface the corruption verbatim (a readout, not a
    // recompute), while every in-ball node is still exact
    val corrupt = hist.withColumn("r",
      when(col("doc_id") === 12L && col("t") === GraphOps.Iters,
        lit(999999999L)).otherwise(col("r")))
    val gotC = GraphOps.pagerankDelta(corrupt, oldPairs, newPairs, docs)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(gotC(12L) === 999.999999)
    assert(gotC.removed(12L) === want.removed(12L))
  }

  test("pagerankDelta enforces the ball cap: oversized deltas run the full distributed recompute") {
    import spark.implicits._
    val oldPairs = (1L to 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val oldDocs = (1L to 12L).toDF("doc_id")
    val newPairs = Seq((1L, 100L)).toDF("id_a", "id_b")
    val docs = ((1L to 12L) ++ Seq(100L, 200L)).toDF("doc_id")
    val hist = GraphOps.pagerankHistory(oldPairs, oldDocs).localCheckpoint()
    val want = GraphOps.pagerank(oldPairs.unionAll(newPairs), docs)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // cap below the seed set: the BFS aborts before its first expansion
    val gotBfs = GraphOps
      .pagerankDelta(hist, oldPairs, newPairs, docs, ballCap = 1L)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(gotBfs === want)
    // cap the ball's 11 ids fit but the 19-row in-edge relation blows:
    // the count-before-collect guard takes the same fallback
    val gotInE = GraphOps
      .pagerankDelta(hist, oldPairs, newPairs, docs, ballCap = 12L)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(gotInE === want)
    // the fallback really is the full recompute: a corrupted history
    // rank is INVISIBLE (the incremental path would surface it — the
    // locality test above proves exactly that)
    val corrupt = hist.withColumn("r",
      when(col("doc_id") === 12L && col("t") === GraphOps.Iters,
        lit(999999999L)).otherwise(col("r")))
    val gotC = GraphOps
      .pagerankDelta(corrupt, oldPairs, newPairs, docs, ballCap = 1L)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(gotC === want)
  }

  test("q126/q127 probe a persisted artifact: fresh-build bit-identity, no rebuild on re-run") {
    import spark.implicits._
    val a126 = GraphOps.q126(spark, SF).collect().toList
    val a127 = DedupOps.q127(spark, SF).collect().toList
    // bit-identity vs the pre-artifact in-memory formulation
    val pairs = DedupOps.pairs50(spark, SF).select(col("id_a"), col("id_b"))
    val docs = Tables.documents(spark, SF).select(col("doc_id"))
    val isDelta = (col("id_a") + col("id_b")) % GraphOps.DeltaSplitMod === 0
    val fresh126 = GraphOps.pagerankDelta(
      GraphOps.pagerankHistory(pairs.filter(!isDelta), docs),
      pairs.filter(!isDelta), pairs.filter(isDelta), docs).collect().toList
    assert(a126 === fresh126)
    val fresh127 = DedupOps.ccDelta(
        DedupOps.connectedComponents(pairs.filter(!isDelta), docs)
          .select(col("doc_id"), col("root")),
        pairs.filter(isDelta), docs)
      .select(col("doc_id"), col("root"),
        when(col("doc_id") === col("root"), 1).otherwise(0).as("is_keeper"))
      .orderBy(col("doc_id")).collect().toList
    assert(a127 === fresh127)
    // the session guard must SKIP the base build on re-ensure: a poisoned
    // base relation proves the artifact, not the build, answers
    val poison = spark.range(1)
      .select(assert_true(lit(false)).as("x"), lit(0L).as("doc_id"))
    GraphOps.q126History(spark, SF, poison, poison)
    DedupOps.ccLabelSnapshot(spark, SF, poison, poison)
    assert(GraphOps.q126(spark, SF).collect().toList === a126)
    assert(DedupOps.q127(spark, SF).collect().toList === a127)
  }

  test("q154 personalized delta: artifact probe ≡ fresh formulations, cap falls back, no rebuild") {
    val a154 = GraphOps.q154(spark, SF).collect().toList
    val pairs = DedupOps.pairs50(spark, SF).select(col("id_a"), col("id_b"))
    val w = GraphOps.q111Weights(spark, SF)
    // delta ≡ full: the merged-edge personalized run (q111's semantics —
    // the registered oracle checks the same equivalence in DuckDB)
    val full = GraphOps.pagerankPersonalized(pairs, w).collect().toList
    assert(a154 === full)
    // in-memory delta formulation ≡ the artifact probe
    val docs = Tables.documents(spark, SF).select(col("doc_id"))
    val isDelta = (col("id_a") + col("id_b")) % GraphOps.DeltaSplitMod === 0
    val fresh = GraphOps.pagerankDeltaPersonalized(
      GraphOps.pagerankPersonalizedHistory(pairs.filter(!isDelta), w),
      pairs.filter(!isDelta), pairs.filter(isDelta), docs, w)
      .collect().toList
    assert(a154 === fresh)
    // an oversized ball degrades to the distributed personalized
    // recompute, bit-identically (tiny cap forces the fallback path)
    val capped = GraphOps.pagerankDeltaPersonalized(
      GraphOps.q154Hist(spark), pairs.filter(!isDelta),
      pairs.filter(isDelta), docs, w, ballCap = 1L).collect().toList
    assert(capped === full)
    // the session guard must SKIP the base build on re-ensure: a
    // poisoned base relation proves the artifact, not the build, answers
    val poison = spark.range(1)
      .select(assert_true(lit(false)).as("x"), lit(0L).as("doc_id"))
    GraphOps.q154History(spark, SF, poison)
    assert(GraphOps.q154(spark, SF).collect().toList === a154)
  }

  test("q110 weighted policy: score argmax with priors, reduces to q97 under a zero policy") {
    // zero policy (no priors, no quality boost, rank at face value)
    // must reproduce q97's centrality argmax exactly
    val zero = GraphOps.keeperByPolicy(spark, SF,
        GraphOps.KeeperPolicy(Map.empty, 0L, 100L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val q97 = GraphOps.q97(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(zero === q97)
    // the shipped policy: replay the scoring driver-side
    val ranks = GraphOps.q95(spark, SF).collect()
      .map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e6).toLong).toMap
    val qual = operators.TextOps.q45(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_toks") >= 10 && r.getAs[Double]("non_alnum_ratio") <= 0.5))
      .toMap
    val src = Tables.documents(spark, SF).select(col("doc_id"), col("source"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val p = GraphOps.DefaultPolicy
    def score(d: Long): Long =
      p.sourcePriorMicros.getOrElse(src(d), 0L) +
        (if (qual(d)) p.qualityBoostMicros else 0L) +
        p.rankWeightPct * ranks(d) / 100
    val members = operators.DedupOps.q74(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("root")))
      .groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val got = GraphOps.q110(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet === members.keySet)
    got.foreach { case (cluster, keeper, kScore) =>
      val best = members(cluster).minBy(d => (-score(d), d))
      assert(keeper === best, s"cluster $cluster")
      assert(kScore === score(keeper))
    }
  }

  test("q111 personalized pagerank: uniform teleport ≡ q95; trusted source outranks its uniform self") {
    import spark.implicits._
    val pairs = DedupOps.q50(spark, SF).select(col("id_a"), col("id_b"))
    val uniform = Tables.documents(spark, SF)
      .select(col("doc_id"), lit(GraphOps.RankScale).as("pw"))
    val got = GraphOps.pagerankPersonalized(pairs, uniform).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toList
    val want = GraphOps.q95(spark, SF).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(got === want)
    // the shipped teleport: boosted-source docs never lose rank vs the
    // uniform run; demoted-source ISOLATES (pure teleport mass) lose
    val ranks111 = GraphOps.q111(spark, SF).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val src = Tables.documents(spark, SF).select(col("doc_id"), col("source"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val deg = pairs.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val base = want.toMap
    // exact integer-micros expectations: isolate rank = (15·pw)//100
    src.foreach { case (d, s) =>
      if (!deg.contains(d)) {
        assert(math.rint(base(d) * 1e6).toLong === 150000L, s"doc $d uniform")
        val m = math.rint(ranks111(d) * 1e6).toLong
        if (s == "src3") assert(m === 450000L, s"doc $d")
        else if (s == "src12") assert(m === 37500L, s"doc $d")
        else assert(m === 150000L, s"doc $d")
      }
    }
  }

  test("q111 standing artifact: readout ≡ fresh personalized run, all rounds persisted") {
    // r9 VERDICT #6: the registered op reads the persisted t-partitioned
    // history instead of rebuilding 8 checkpointed rounds per run — pin
    // that the artifact readout is BIT-identical to a fresh in-memory
    // pagerankPersonalized over the same pairs/weights
    val pairs = DedupOps.q50(spark, SF).select(col("id_a"), col("id_b"))
    val fresh = GraphOps.pagerankPersonalized(pairs,
        GraphOps.q111Weights(spark, SF)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toList
    val viaArtifact = GraphOps.q111(spark, SF).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toList
    assert(viaArtifact === fresh)
    // the artifact holds every round: (Iters+1) rank vectors, doc-complete
    val nDocs = Tables.documents(spark, SF).count()
    val hist = spark.table("g111_hist")
    assert(hist.count() === (GraphOps.Iters + 1) * nDocs)
    assert(hist.select("t").distinct().count() === GraphOps.Iters + 1)
    // warm-path plan: the readout scans ONE pruned t-partition
    val scanned = GraphOps.q111(spark, SF).queryExecution.executedPlan
      .collectLeaves().map(_.toString).mkString("\n")
    assert(scanned.contains("g111_hist"))
  }

  test("ccDelta: label snapshot + delta edges ≡ full CC on the merged edge set") {
    import spark.implicits._
    val allPairs = DedupOps.q50(spark, SF).select(col("id_a"), col("id_b"))
      .localCheckpoint()
    val docs = Tables.documents(spark, SF).select(col("doc_id"))
    val oldPairs = allPairs.filter((col("id_a") + col("id_b")) % 3 =!= 0)
    val newPairs = allPairs.filter((col("id_a") + col("id_b")) % 3 === 0)
    assert(newPairs.count() > 0)
    val snapshot = DedupOps.connectedComponents(oldPairs, docs)
    val got = DedupOps.ccDelta(snapshot, newPairs, docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = DedupOps.connectedComponents(allPairs, docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // toy: the delta BRIDGES two old components through a NEW doc, and
    // an untouched component keeps its label without recompute
    val oldE = Seq((1L, 2L), (4L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val oldDocs = Seq(1L, 2L, 4L, 5L, 7L, 8L).toDF("doc_id")
    val deltaE = Seq((2L, 9L), (9L, 4L)).toDF("id_a", "id_b")
    val newDocs = Seq(1L, 2L, 4L, 5L, 7L, 8L, 9L, 11L).toDF("doc_id")
    val snap = DedupOps.connectedComponents(oldE, oldDocs)
    val got2 = DedupOps.ccDelta(snap, deltaE, newDocs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 === Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 5L -> 1L, 9L -> 1L,
      7L -> 7L, 8L -> 7L, 11L -> 11L))
  }

  test("ccDelta driver union-find ≡ the distributed fixpoint fallback") {
    // r17: below CcQuotientCap the quotient CC folds driver-side; force
    // the distributed path with cap = 0 and pin bit-equality on the SF
    // corpus split — the oversized-delta fallback is exercised, not
    // just declared
    val allPairs = DedupOps.q50(spark, SF).select(col("id_a"), col("id_b"))
      .localCheckpoint()
    val docs = Tables.documents(spark, SF).select(col("doc_id"))
    val oldPairs = allPairs.filter((col("id_a") + col("id_b")) % 3 =!= 0)
    val newPairs = allPairs.filter((col("id_a") + col("id_b")) % 3 === 0)
    val snapshot = DedupOps.connectedComponents(oldPairs, docs)
      .localCheckpoint()
    val viaDriver = DedupOps.ccDelta(snapshot, newPairs, docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaFixpoint = DedupOps
      .ccDelta(snapshot, newPairs, docs, quotientCap = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver === viaFixpoint)
  }

  test("keeperByRank picks the hub of a star, not the min id") {
    import spark.implicits._
    // star: 10 is the center, 11..14 the leaves; plus isolate 99.
    // min-label CC roots the cluster at 10... no — at the MIN id, 10.
    // Shift ids so the hub is NOT the min: center 13, leaves 10,11,12,14.
    val pairs = Seq((13L, 10L), (13L, 11L), (13L, 12L), (13L, 14L))
      .toDF("id_a", "id_b")
    val docs = Seq(10L, 11L, 12L, 13L, 14L, 99L).toDF("doc_id")
    val got = GraphOps.keeperByRank(pairs, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // cluster is labeled by min id (10) but the kept doc is the hub (13)
    assert(got === Map(10L -> 13L, 99L -> 99L))
  }
}

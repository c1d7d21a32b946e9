package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Op, Tables}

/** Iterative graph analytics on the near-dup graph (SURVEY §2 r4, q95).
  *
  * PageRank generalizes q70/q74's min-label fixpoint from "which
  * component" to "how central": on the duplication graph a high-rank
  * document is template/boilerplate material whose near-copies are
  * themselves heavily duplicated — the doc a curation team inspects
  * first, and a better keeper-priority signal than raw degree (q94)
  * because it discounts edges to already-redundant neighbors.
  *
  * Numerics are EXACT integer micros so the iteration is replayable
  * cross-engine: ranks start at 10⁶, each round computes
  * `r' = 150000 + (85 · Σ_{b∈N(a)} (r_b div deg_b)) div 100` in int64
  * (damping 0.85; per-neighbor truncating shares — both engines
  * truncate identically on non-negative operands). A FIXED 8 rounds
  * rather than a convergence test keeps the oracle expressible as 8
  * unrolled CTEs and removes the one per-round driver action the CC
  * loop needs. Isolated docs settle at (1−α) = 0.15 after round 1.
  *
  * Scale shape (per round): one equi-join of ranks onto the cached
  * symmetric edge list (shuffle keyed on the neighbor id), one
  * map-side-combined `groupBy(id_a).sum` — contribution volume is
  * edge-linear, hub fan-out is handled by partial aggregation — and one
  * left join back to the doc universe. Lineage is truncated per round
  * with `localCheckpoint` exactly like [[DedupOps.connectedComponents]]
  * (eager, one job, previous round's blocks released); final blocks go
  * to [[graft.CheckpointRegistry]] for harness-owned release. Nothing
  * driver-sized anywhere: the driver never sees ranks, only job
  * completions.
  */
object GraphOps {
  /** Damping factor ×100 (α = 0.85). */
  val Damping = 85
  /** Fixed iteration count (oracle-unrolled). */
  val Iters = 8
  /** Rank unit: integer micros. */
  val RankScale = 1000000L
  /** Driver-state bound for [[pagerankDelta]]'s incremental path: the
    * BFS ball (ids) and its in-edge relation (rows) must each fit this
    * many rows of driver memory (~2 M longs/pairs ≈ tens of MB — the
    * same order as q50's exact-semi-join prune bound). A delta whose
    * ball exceeds it is not "a daily batch against a huge graph" and
    * runs the full distributed recompute instead. */
  val DeltaBallCap = 2000000L

  /** q95: PageRank over the verified MinHash near-dup pairs (q50),
    * isolates included via the document universe. */
  def q95(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("pr50", dir)(
      pagerank(DedupOps.pairs50(s, dir).select(col("id_a"), col("id_b")),
        Tables.documents(s, dir).select(col("doc_id"))))

  /** Integer-micros PageRank over an undirected pair set; `docs`
    * supplies the universe so isolates hold rank (1−α). */
  def pagerank(pairs: DataFrame, docs: DataFrame): DataFrame =
    pagerankFrom(docs.select(col("doc_id"), lit(RankScale).as("r")),
      pairs, docs, Iters)

  /** The iteration body, resumable from an arbitrary integer-micros rank
    * snapshot `ranks0(doc_id, r)` — because each round is a pure
    * function of the previous ranks, running k rounds, persisting the
    * micro ranks, and resuming for the remaining Iters−k rounds is
    * BIT-IDENTICAL to one straight run (GraphSpec pins it). That is the
    * operational property a 100 TB graph job needs: a rank snapshot is
    * a restart point, not a re-run — and an incremental corpus update
    * warm-starts from the previous snapshot instead of uniform ranks. */
  def pagerankFrom(ranks0: DataFrame, pairs: DataFrame, docs: DataFrame,
      iters: Int): DataFrame = {
    val edges = pairs
      .unionAll(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .cache()
    // symmetric edges: degree = out-degree = in-degree, keyed on the
    // CONTRIBUTING endpoint (id_b) to join once per round
    val deg = edges.groupBy(col("id_b")).agg(count(lit(1)).as("deg"))
    var ranks = ranks0.select(col("doc_id"), col("r"))
      .localCheckpoint()
    var prevBlocks = graft.CheckpointRegistry.blocksOf(ranks)
    for (_ <- 1 to iters) {
      val shares = ranks
        .join(deg, ranks("doc_id") === deg("id_b"))
        .select(col("id_b"), expr("r div deg").as("share"))
      val contrib = edges.join(shares, "id_b")
        .groupBy(col("id_a")).agg(sum(col("share")).as("cin"))
      val next = docs.select(col("doc_id"))
        .join(contrib.withColumnRenamed("id_a", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cin0", coalesce(col("cin"), lit(0L)))
        .select(col("doc_id"),
          (lit((100 - Damping) * RankScale / 100) +
            expr(s"($Damping * cin0) div 100")).as("r"))
        .localCheckpoint()
      prevBlocks.foreach(_.unpersist(blocking = false))
      prevBlocks = graft.CheckpointRegistry.blocksOf(next)
      ranks = next
    }
    edges.unpersist()
    prevBlocks.foreach(r => graft.CheckpointRegistry.register(r))
    ranks.select(col("doc_id"), (col("r") / 1000000.0).as("rank"))
      .orderBy(col("doc_id"))
  }

  /** Per-round rank history `(doc_id, t, r)` for t = 0..iters — the
    * state an EXACT incremental update needs: [[pagerankDelta]]
    * recomputes a round-t rank only inside the delta's t-hop ball and
    * reads every unaffected contributor's round-(t−1) rank from here.
    * A rank vector is one int64 per doc, so a 100 TB pipeline persists
    * all iters+1 of them alongside its corpus snapshot (partition by
    * `t` and each round's readback is one pruned partition). */
  def pagerankHistory(pairs: DataFrame, docs: DataFrame,
      iters: Int = Iters): DataFrame = {
    val edges = pairs
      .unionAll(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .cache()
    val deg = edges.groupBy(col("id_b")).agg(count(lit(1)).as("deg"))
    var ranks = graft.CheckpointRegistry.checkpoint(
      docs.select(col("doc_id"), lit(RankScale).as("r")))
    val rounds = scala.collection.mutable.ArrayBuffer(
      ranks.withColumn("t", lit(0)))
    for (t <- 1 to iters) {
      val shares = ranks
        .join(deg, ranks("doc_id") === deg("id_b"))
        .select(col("id_b"), expr("r div deg").as("share"))
      val contrib = edges.join(shares, "id_b")
        .groupBy(col("id_a")).agg(sum(col("share")).as("cin"))
      val next = graft.CheckpointRegistry.checkpoint(docs.select(col("doc_id"))
        .join(contrib.withColumnRenamed("id_a", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cin0", coalesce(col("cin"), lit(0L)))
        .select(col("doc_id"),
          (lit((100 - Damping) * RankScale / 100) +
            expr(s"($Damping * cin0) div 100")).as("r")))
      rounds += next.withColumn("t", lit(t))
      ranks = next
    }
    edges.unpersist()
    rounds.reduce(_ unionAll _).select(col("doc_id"), col("t"), col("r"))
  }

  /** EXACT incremental PageRank: given the per-round [[pagerankHistory]]
    * of a previous run over `oldPairs`, a batch of `newPairs` (the
    * near-dup edges an incremental corpus batch adds), and the MERGED
    * doc universe, produce ranks bit-identical to a full `iters`-round
    * run over `oldPairs ∪ newPairs` — recomputing, per round t, only
    * the t-hop merged-graph ball around the delta.
    *
    * Exactness: a round-t rank is a pure function of round-(t−1)
    * neighbor ranks and degrees. Degrees/adjacency change only at the
    * new edges' endpoints (plus docs new to the universe), so the set
    * of docs whose round-t rank can differ from history grows by at
    * most one merged-graph hop per round; everything outside the ball
    * is READ from history, never recomputed (GraphSpec corrupts an
    * out-of-ball history row to prove the readout path).
    *
    * Scale shape (r7 rework): the ball-side state — the iters-hop ball,
    * its in-edges, the contributors' degrees and per-round history
    * ranks — is delta-ball-sized BY THE OPERATOR'S CONTRACT (a daily
    * batch against a huge graph). The contract is ENFORCED, not assumed
    * (r8): the BFS stops the moment the ball exceeds `ballCap` ids, and
    * the in-edge relation is COUNTED before it is collected — a
    * hub-dense delta whose ball approaches the whole graph falls back
    * to the full distributed [[pagerank]] over the merged edges
    * (bit-identical by GraphSpec's equality pin) instead of OOMing the
    * driver. Everything graph-sized
    * stays distributed and is touched exactly once each: one BFS prune
    * of the cached edge relation (broadcast semi-joins per hop), one
    * degree aggregation, one contributor-sliced scan of the history
    * artifact, and the final overlay join against history's last round.
    * The 8-round integer recurrence itself then runs driver-side over
    * the collected ball state — the [[graft.functions.OrderStats]] /
    * q121 adaptive-driver pattern: per-round DISTRIBUTED jobs would pay
    * ~10 stages of scheduling per round to move a few thousand rows
    * (measured ~0.7 s/round of pure overhead at test SF), while the
    * arithmetic is exact int64 either way (`div` ≡ Scala `/` on
    * non-negative longs), so the results are bit-identical. A daily
    * delta batch against a 100 TB graph costs ∝ \|ball\|·deg once, not
    * ∝ \|graph\| — and not 8 × scheduler latency either. */
  def pagerankDelta(history: DataFrame, oldPairs: DataFrame,
      newPairs: DataFrame, docs: DataFrame, iters: Int = Iters,
      ballCap: Long = DeltaBallCap): DataFrame =
    deltaImpl(history, oldPairs, newPairs, docs, iters, ballCap,
      pwOf = _ => (_ => RankScale),
      fallback = merged => pagerank(merged, docs))

  /** EXACT incremental PERSONALIZED PageRank — [[pagerankDelta]]'s ball
    * argument holds verbatim under a per-doc teleport term (the base
    * term is a per-doc CONSTANT, so a round-t rank is still a pure
    * function of round-(t−1) neighbor ranks plus that constant, and the
    * change set still grows one merged-graph hop per round). Reads the
    * standing [[pagerankPersonalizedHistory]] artifact; only the three
    * teleport-dependent spots differ from the uniform fold — the init
    * rank of history-absent docs, the per-doc base term (one
    * ball-sized sliced scan of `weights`), and the oversized-ball
    * fallback ([[pagerankPersonalized]] over the merged edges). */
  def pagerankDeltaPersonalized(history: DataFrame, oldPairs: DataFrame,
      newPairs: DataFrame, docs: DataFrame, weights: DataFrame,
      iters: Int = Iters, ballCap: Long = DeltaBallCap): DataFrame =
    deltaImpl(history, oldPairs, newPairs, docs, iters, ballCap,
      pwOf = ids => {
        val s = weights.sparkSession
        import s.implicits._
        // select BY NAME before collecting (a caller's column order must
        // not flip the map — r10 review), and fail NAMED on a ball doc
        // the weight relation misses (the deltaFold histC pattern)
        val m = weights.select(col("doc_id"), col("pw"))
          .join(broadcast(ids.toSeq.sorted.toDF("doc_id")),
            Seq("doc_id"), "left_semi")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        id => m.getOrElse(id, sys.error(
          s"pagerankDeltaPersonalized: ball doc $id has no teleport weight"))
      },
      fallback = merged => pagerankPersonalized(merged, weights))

  /** Shared incremental-update machinery behind [[pagerankDelta]] and
    * [[pagerankDeltaPersonalized]] — `pwOf` supplies the teleport mass
    * for a driver-bounded id set (the uniform fold passes the constant
    * [[RankScale]] map; the personalized fold one sliced scan), and
    * `fallback` is the full distributed recompute an oversized ball
    * degrades to. ONE copy of the BFS/cap/fold logic, so the two
    * variants cannot drift (the r10 review rule). */
  private def deltaImpl(history: DataFrame, oldPairs: DataFrame,
      newPairs: DataFrame, docs: DataFrame, iters: Int, ballCap: Long,
      pwOf: Set[Long] => (Long => Long),
      fallback: DataFrame => DataFrame): DataFrame = {
    val merged = oldPairs.unionAll(newPairs)
    val edges = merged
      .unionAll(merged.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .cache()
    // seeds: endpoints of the delta edges + docs absent from history
    val newDocs = docs.select(col("doc_id"))
      .join(history.filter(col("t") === 0).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    val seed = newPairs.select(col("id_a").as("doc_id"))
      .unionAll(newPairs.select(col("id_b").as("doc_id")))
      .unionAll(newDocs)
    try {
      // iters-hop ball via frontier BFS over the cached edge relation —
      // broadcast semi-joins keyed on the (small) frontier; one job.
      // Every driver-bound set below is size-checked against `ballCap`
      // BEFORE (or as) it lands: the BFS aborts mid-expansion, so even
      // its per-hop collects never exceed cap + one hop's fan-in of
      // DISTINCT ids (each hop's neighbor set is itself ≤ |ball ∪
      // frontier·deg| distinct ids of the next ball, re-checked
      // immediately).
      val newIds = newDocs.collect().map(_.getLong(0))
      var ballIds = (seed.collect().map(_.getLong(0)).toSet ++ newIds)
      var frontier = ballIds
      var oversized = ballIds.size > ballCap
      for (_ <- 1 to iters if frontier.nonEmpty && !oversized) {
        import org.apache.spark.sql.Row
        val s = edges.sparkSession
        val fDf = s.createDataFrame(
          java.util.Arrays.asList(frontier.toSeq.sorted.map(Row(_)): _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id_b",
              org.apache.spark.sql.types.LongType, nullable = false))))
        val nbrs = edges.join(broadcast(fDf), Seq("id_b"), "left_semi")
          .select(col("id_a")).distinct().collect().map(_.getLong(0)).toSet
        frontier = nbrs -- ballIds
        ballIds = ballIds ++ nbrs
        oversized = ballIds.size > ballCap
      }
      if (oversized) {
        // the "daily batch" contract does not hold for this delta: the
        // ball approaches the graph, so the incremental fold would cost
        // ≥ the full recompute AND collect graph-sized state. Degrade to
        // the fully distributed recompute over the merged edges —
        // bit-identical output by the round-purity argument GraphSpec
        // pins (fallback equality is spec-exercised with a tiny cap).
        fallback(merged)
      } else deltaFold(history, merged, edges, iters,
        ballCap, newIds, ballIds, pwOf, fallback)
    } finally edges.unpersist(blocking = false)
  }

  /** The driver-side ball fold of [[deltaImpl]], reached only when
    * the BFS ball fit `ballCap`; the in-edge relation gets its own
    * count-before-collect guard here (ball·deg can exceed the id cap),
    * falling back to the distributed recompute the same way. */
  private def deltaFold(history: DataFrame, merged: DataFrame,
      edges: DataFrame, iters: Int, ballCap: Long,
      newIds: Array[Long], ballIds: Set[Long],
      pwOf: Set[Long] => (Long => Long),
      fallback: DataFrame => DataFrame): DataFrame = {
      val ballDf = {
        val s = edges.sparkSession
        import s.implicits._
        ballIds.toSeq.sorted.toDF("doc_id")
      }
      // graph-sized inputs, each touched once: in-edges of the ball and
      // contributor degrees (one aggregation over the pruned edge set)
      val inERel = edges
        .join(broadcast(ballDf.withColumnRenamed("doc_id", "id_a")),
          Seq("id_a"), "left_semi")
      // count BEFORE collect — one cheap aggregate job over the pruned
      // join; the cap is rows of driver state, same budget as the ball
      if (inERel.count() > ballCap)
        return fallback(merged)
      val inE = inERel.collect().map(r => (r.getLong(0), r.getLong(1)))
      val contribIds = inE.map(_._2).distinct
      val degC = {
        val s = edges.sparkSession
        import s.implicits._
        edges.join(broadcast(contribIds.sorted.toSeq.toDF("id_b")), Seq("id_b"), "left_semi")
          .groupBy(col("id_b")).agg(count(lit(1)).as("deg"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      // contributors' per-round history ranks: ONE sliced artifact scan
      val histC: Map[(Long, Int), Long] = {
        val s = edges.sparkSession
        import s.implicits._
        history.join(broadcast(contribIds.sorted.toSeq.toDF("doc_id")),
            Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("t").cast("int"), col("r"))
          .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      }
      // the exact integer recurrence, driver-side over the ball state;
      // pw is the teleport mass (constant RankScale for the uniform
      // fold, the sliced weight scan for the personalized one) — the
      // base term ((100-a)*pw) div 100 and the t=0 init both replay the
      // distributed expressions exactly on non-negative longs
      val pw = pwOf(ballIds ++ newIds)
      var changed: Map[Long, Long] = newIds.map(id => id -> pw(id)).toMap
      for (t <- 1 to iters) {
        val cin = scala.collection.mutable.HashMap.empty[Long, Long]
        inE.foreach { case (a, b) =>
          val prev = changed.getOrElse(b,
            histC.getOrElse((b, t - 1), sys.error(
              s"pagerankDelta: contributor $b has no round-${t - 1} rank")))
          cin(a) = cin.getOrElse(a, 0L) + prev / degC(b)
        }
        changed = ballIds.iterator
          .map(id => id -> ((100 - Damping) * pw(id) / 100 +
            Damping * cin.getOrElse(id, 0L) / 100)).toMap
      }
      // out-of-ball docs read their final rank straight from history;
      // the recomputed ball overlays as a broadcast local relation
      val s = edges.sparkSession
      import s.implicits._
      val changedDf = changed.toSeq.sorted.toDF("doc_id", "cr")
      history.filter(col("t") === iters).select(col("doc_id"), col("r"))
        .join(changedDf, Seq("doc_id"), "full")
        .select(col("doc_id"),
          (coalesce(col("cr"), col("r")) / 1000000.0).as("rank"))
        .orderBy(col("doc_id"))
  }

  /** The `prdeg, pr0..pr$Iters` CTE chain replaying [[pagerank]] over an
    * existing symmetric edge relation `edges(a, b)` — the same int64
    * formula DuckDB-side (`//` ≡ `div` on non-negative operands; SUM's
    * HUGEINT is cast back per round). Unrolled because the per-round
    * aggregation can't live inside a recursive CTE term. Shared by the
    * q95 oracle and the q97 composition. */
  def prCtesSql(edges: String, a: String, b: String): String = {
    val base = (100 - Damping) * RankScale / 100
    val head = Seq(
      s"prdeg AS (SELECT $b AS nid, COUNT(*) AS deg FROM $edges GROUP BY $b)",
      s"pr0 AS (SELECT doc_id, CAST($RankScale AS BIGINT) AS r FROM documents)")
    val iters = (1 to Iters).map { k =>
      s"""pr$k AS (
         |  SELECT d.doc_id,
         |    CAST($base + ($Damping * COALESCE(SUM(s.share), 0)) // 100 AS BIGINT) AS r
         |  FROM documents d LEFT JOIN (
         |    SELECT e.$a AS tgt, r.r // g.deg AS share
         |    FROM $edges e
         |    JOIN pr${k - 1} r ON e.$b = r.doc_id
         |    JOIN prdeg g ON e.$b = g.nid) s
         |  ON d.doc_id = s.tgt
         |  GROUP BY d.doc_id)""".stripMargin
    }
    (head ++ iters).mkString(",\n")
  }

  lazy val q95Sql: String =
    s"""WITH pairs AS (SELECT id_a, id_b FROM (${DedupOps.q50PairsSql}) _p),
       |edges AS (SELECT id_a, id_b FROM pairs
       |  UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM pairs),
       |${prCtesSql("edges", "id_a", "id_b")}
       |SELECT doc_id, r / 1000000.0 AS rank FROM pr$Iters
       |ORDER BY doc_id""".stripMargin

  // --- 97. keeper-by-centrality (r4) --------------------------------------
  /** The curation policy q95 exists to feed: within each near-dup
    * cluster keep the most CENTRAL document (highest PageRank, doc_id
    * tie-break) rather than q70/q74's min-id convention — "keep the
    * canonical version" instead of "keep an arbitrary one". Composes the
    * production edge set (q50) with connected components and PageRank —
    * both checkpoint-backed iterations over ONE shared cached pair
    * relation — then a per-cluster argmax whose `row_number ≤ 1` compiles
    * to a map-side WindowGroupLimit (a pathological mega-cluster never
    * lands whole on one task). One row per cluster, singletons included.
    * Both iterations come from the family memo ([[graft.Standing]]):
    * q74's label set and q95's rank vector are materialized once per
    * family run, so q97 itself is just the argmax join. */
  def q97(s: SparkSession, dir: String): DataFrame =
    clusterArgmax(DedupOps.q74(s, dir).select(col("doc_id"), col("root")),
      q95(s, dir))

  /** Cluster + rank + per-cluster argmax over any undirected pair set. */
  def keeperByRank(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val p = pairs.cache()
    val roots = DedupOps.connectedComponents(p, docs)
      .select(col("doc_id"), col("root"))
    val ranks = pagerank(p, docs)
    // both iterations have materialized to checkpoint blocks; the pair
    // relation is no longer reachable from the returned plan
    p.unpersist(blocking = false)
    clusterArgmax(roots, ranks)
  }

  /** Per-cluster argmax: highest-rank member of each `root` cluster,
    * doc_id tie-break; `row_number ≤ 1` compiles to WindowGroupLimit. */
  private def clusterArgmax(roots: DataFrame, ranks: DataFrame): DataFrame =
    roots.join(ranks, "doc_id")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("root"))
          .orderBy(col("rank").desc, col("doc_id"))))
      .filter(col("rk") === 1)
      .select(col("root").as("cluster"), col("doc_id").as("keeper"),
        col("rank").as("keeper_rank"))
      .orderBy(col("cluster"))

  lazy val q97Sql: String =
    s"""WITH RECURSIVE ${DedupOps.ccCtesSql(DedupOps.q50PairsSql)},
       |${prCtesSql("edges", "a", "b")},
       |sel AS (
       |  SELECT t.root, t.doc_id, p.r,
       |    ROW_NUMBER() OVER (PARTITION BY t.root
       |      ORDER BY p.r DESC, t.doc_id) AS rk
       |  FROM roots t JOIN pr$Iters p ON t.doc_id = p.doc_id)
       |SELECT root AS cluster, doc_id AS keeper, r / 1000000.0 AS keeper_rank
       |FROM sel WHERE rk = 1
       |ORDER BY cluster""".stripMargin

  // --- 106. policy-driven keeper selection (r4) ---------------------------
  /** q97 with the keeper POLICY a curation run actually ships: prefer
    * documents that pass the quality gate (q45's length/symbol
    * metrics, q77's thresholds), break ties by centrality (q95), then
    * doc_id — "keep the best-written canonical version". The policy is
    * a lexicographic ORDER BY inside the same per-cluster argmax, so
    * swapping policies costs nothing at plan level; all three inputs
    * (CC labels, ranks, quality) come from family-memoized / cached
    * relations, leaving q106 itself as two equi-joins + a map-side
    * WindowGroupLimit. */
  def q106(s: SparkSession, dir: String): DataFrame = {
    val roots = DedupOps.q74(s, dir).select(col("doc_id"), col("root"))
    val qual = TextOps.q45(s, dir).select(col("doc_id"),
      (col("n_toks") >= 10 && col("non_alnum_ratio") <= 0.5)
        .cast("int").as("quality_ok"))
    roots.join(q95(s, dir), "doc_id").join(qual, "doc_id")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("root"))
          .orderBy(col("quality_ok").desc, col("rank").desc, col("doc_id"))))
      .filter(col("rk") === 1)
      .select(col("root").as("cluster"), col("doc_id").as("keeper"),
        col("quality_ok"), col("rank").as("keeper_rank"))
      .orderBy(col("cluster"))
  }

  // strip the TRAILING order clause only: lastIndexOf, not split — a
  // future newline-led ORDER BY inside a q45Sql subquery must not
  // silently truncate the oracle body (r4 ADVICE)
  private lazy val q45Body: String =
    TextOps.q45Sql.substring(0, TextOps.q45Sql.lastIndexOf("\nORDER BY"))

  lazy val q106Sql: String =
    s"""WITH RECURSIVE ${DedupOps.ccCtesSql(DedupOps.q50PairsSql)},
       |${prCtesSql("edges", "a", "b")},
       |qual AS (
       |  SELECT doc_id,
       |    CASE WHEN n_toks >= 10 AND non_alnum_ratio <= 0.5 THEN 1 ELSE 0 END AS quality_ok
       |  FROM ($q45Body) _q),
       |sel AS (
       |  SELECT t.root, t.doc_id, q.quality_ok, p.r,
       |    ROW_NUMBER() OVER (PARTITION BY t.root
       |      ORDER BY q.quality_ok DESC, p.r DESC, t.doc_id) AS rk
       |  FROM roots t
       |  JOIN pr$Iters p ON t.doc_id = p.doc_id
       |  JOIN qual q ON t.doc_id = q.doc_id)
       |SELECT root AS cluster, doc_id AS keeper, quality_ok, r / 1000000.0 AS keeper_rank
       |FROM sel WHERE rk = 1
       |ORDER BY cluster""".stripMargin

  // --- 110. weighted / personalized keeper policy (r5) --------------------
  /** q106 generalized from a lexicographic tuple to a TUNABLE linear
    * score — the form a curation team actually ships when signals must
    * trade off rather than strictly dominate: per-SOURCE priors (trust
    * wiki over scraped web; distrust a known-spammy feed), a quality
    * boost, and centrality, all in exact integer micros so any policy
    * instantiation stays engine-replayable. Priors arrive as a policy
    * TABLE (not a hardcoded expression): at plan level a ≤|sources|-row
    * relation broadcast-joined onto the cluster members — swapping or
    * A/B-ing policies is a data change, zero plan change. Argmax is the
    * same map-side WindowGroupLimit as q97/q106. */
  final case class KeeperPolicy(
      sourcePriorMicros: Map[String, Long],
      qualityBoostMicros: Long,
      rankWeightPct: Long)

  /** The shipped default: one trusted source, one distrusted, quality
    * worth a full rank unit, centrality at face value. */
  val DefaultPolicy: KeeperPolicy = KeeperPolicy(
    sourcePriorMicros = Map("src3" -> 400000L, "src12" -> -300000L),
    qualityBoostMicros = 1000000L,
    rankWeightPct = 100L)

  /** Per-cluster argmax of
    * `prior(source) + quality_ok·boost + (w·r_micros) div 100`. */
  def keeperByPolicy(s: SparkSession, dir: String,
      policy: KeeperPolicy): DataFrame = {
    import s.implicits._
    val roots = DedupOps.q74(s, dir).select(col("doc_id"), col("root"))
    val qual = TextOps.q45(s, dir).select(col("doc_id"),
      (col("n_toks") >= 10 && col("non_alnum_ratio") <= 0.5)
        .cast("int").as("quality_ok"))
    val priors = policy.sourcePriorMicros.toSeq.toDF("source", "prior")
    val src = graft.Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(broadcast(priors), Seq("source"), "left")
      .select(col("doc_id"), coalesce(col("prior"), lit(0L)).as("prior"))
    roots.join(q95(s, dir), "doc_id").join(qual, "doc_id").join(src, "doc_id")
      .withColumn("r_micros",
        round(col("rank") * RankScale, 0).cast("long"))
      .withColumn("score",
        col("prior") + col("quality_ok") * policy.qualityBoostMicros +
          expr(s"(${policy.rankWeightPct} * r_micros) div 100"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("root"))
          .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rk") === 1)
      .select(col("root").as("cluster"), col("doc_id").as("keeper"),
        col("score").as("keeper_score"))
      .orderBy(col("cluster"))
  }

  def q110(s: SparkSession, dir: String): DataFrame =
    keeperByPolicy(s, dir, DefaultPolicy)

  lazy val q110Sql: String = {
    val p = DefaultPolicy
    val priorRows = p.sourcePriorMicros.toSeq.sortBy(_._1)
      .map { case (src, m) => s"('$src', CAST($m AS BIGINT))" }.mkString(", ")
    s"""WITH RECURSIVE ${DedupOps.ccCtesSql(DedupOps.q50PairsSql)},
       |${prCtesSql("edges", "a", "b")},
       |priors(source, prior) AS (VALUES $priorRows),
       |qual AS (
       |  SELECT doc_id,
       |    CASE WHEN n_toks >= 10 AND non_alnum_ratio <= 0.5 THEN 1 ELSE 0 END AS quality_ok
       |  FROM ($q45Body) _q),
       |src AS (
       |  SELECT d.doc_id, COALESCE(p.prior, 0) AS prior
       |  FROM documents d LEFT JOIN priors p ON d.source = p.source),
       |scored AS (
       |  SELECT t.root, t.doc_id,
       |    s.prior + q.quality_ok * ${p.qualityBoostMicros} +
       |      (${p.rankWeightPct} * pr.r) // 100 AS score
       |  FROM roots t
       |  JOIN pr$Iters pr ON t.doc_id = pr.doc_id
       |  JOIN qual q ON t.doc_id = q.doc_id
       |  JOIN src s ON t.doc_id = s.doc_id),
       |sel AS (
       |  SELECT root, doc_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY root
       |      ORDER BY score DESC, doc_id) AS rk
       |  FROM scored)
       |SELECT root AS cluster, doc_id AS keeper, score AS keeper_score
       |FROM sel WHERE rk = 1
       |ORDER BY cluster""".stripMargin
  }

  // --- 111. personalized PageRank (per-source teleport) (r5) ---------------
  /** [[pagerank]] with a PERSONALIZED teleport vector: the restart mass
    * lands proportionally to a per-source trust weight instead of
    * uniformly — "centrality as seen from the trusted part of the
    * corpus", the standard way to bias keeper selection toward
    * canonical sources without touching edges. Weights arrive as a
    * broadcast policy table (q110's pattern) in integer micros,
    * deliberately UNNORMALIZED so the iteration stays int64-exact
    * (ranks scale linearly with Σw — argmax/ordering consumers are
    * scale-invariant). Same per-round plan shape and checkpoint
    * regime as [[pagerankFrom]]; uniform weights reduce exactly to
    * [[q95]] (spec-pinned). */
  val TeleportDefaultMicros = 1000000L
  val TeleportMicros: Map[String, Long] =
    Map("src3" -> 3000000L, "src12" -> 250000L)

  /** One personalized rank-update round —
    * `r' = ((100−α₀₀)·pw) div 100 + (α₀₀ · Σ shares) div 100` — THE
    * step shared by [[pagerankPersonalized]] and
    * [[pagerankPersonalizedHistory]]: the standing artifact's
    * bit-identity to the fresh run (GraphSpec) must hold because both
    * paths run the SAME expressions, not because two copies happen to
    * agree (r10 review). */
  private def personalizedStep(ranks: DataFrame, deg: DataFrame,
      edges: DataFrame, pw: DataFrame): DataFrame = {
    val shares = ranks
      .join(deg, ranks("doc_id") === deg("id_b"))
      .select(col("id_b"), expr("r div deg").as("share"))
    val contrib = edges.join(shares, "id_b")
      .groupBy(col("id_a")).agg(sum(col("share")).as("cin"))
    pw
      .join(contrib.withColumnRenamed("id_a", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cin0", coalesce(col("cin"), lit(0L)))
      .select(col("doc_id"),
        (expr(s"((${100 - Damping}) * pw) div 100") +
          expr(s"($Damping * cin0) div 100")).as("r"))
  }

  /** Integer-micros personalized PageRank: `weights(doc_id, pw)` is the
    * unnormalized teleport vector; each round is [[personalizedStep]]. */
  def pagerankPersonalized(pairs: DataFrame, weights: DataFrame,
      iters: Int = Iters): DataFrame = {
    val edges = pairs
      .unionAll(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .cache()
    val deg = edges.groupBy(col("id_b")).agg(count(lit(1)).as("deg"))
    val pw = weights.select(col("doc_id"), col("pw")).cache()
    var ranks = pw.select(col("doc_id"), col("pw").as("r")).localCheckpoint()
    var prevBlocks = graft.CheckpointRegistry.blocksOf(ranks)
    for (_ <- 1 to iters) {
      val next = personalizedStep(ranks, deg, edges, pw).localCheckpoint()
      prevBlocks.foreach(_.unpersist(blocking = false))
      prevBlocks = graft.CheckpointRegistry.blocksOf(next)
      ranks = next
    }
    edges.unpersist()
    pw.unpersist(blocking = false)
    prevBlocks.foreach(r => graft.CheckpointRegistry.register(r))
    ranks.select(col("doc_id"), (col("r") / 1000000.0).as("rank"))
      .orderBy(col("doc_id"))
  }

  /** Per-round history of [[pagerankPersonalized]] — the same
    * (doc_id, t, r) artifact shape as [[pagerankHistory]] (uniform
    * weights pw = RankScale reduce both the init and the base term to
    * the uniform forms exactly). Persisted t-partitioned by
    * [[q111History]] so the registered readout probes ONE pruned
    * partition instead of rebuilding `iters` checkpointed rounds per
    * run (r9 VERDICT #6) — and so a future personalized delta update
    * has the per-round state [[pagerankDelta]] needs. */
  def pagerankPersonalizedHistory(pairs: DataFrame, weights: DataFrame,
      iters: Int = Iters): DataFrame = {
    val edges = pairs
      .unionAll(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .cache()
    val deg = edges.groupBy(col("id_b")).agg(count(lit(1)).as("deg"))
    val pw = weights.select(col("doc_id"), col("pw")).cache()
    var ranks = graft.CheckpointRegistry.checkpoint(
      pw.select(col("doc_id"), col("pw").as("r")))
    val rounds = scala.collection.mutable.ArrayBuffer(
      ranks.withColumn("t", lit(0)))
    for (t <- 1 to iters) {
      val next = graft.CheckpointRegistry.checkpoint(
        personalizedStep(ranks, deg, edges, pw))
      rounds += next.withColumn("t", lit(t))
      ranks = next
    }
    edges.unpersist()
    pw.unpersist(blocking = false)
    rounds.reduce(_ unionAll _).select(col("doc_id"), col("t"), col("r"))
  }

  /** q111's teleport-weight relation — the POLICY applied to the corpus
    * (exposed so GraphSpec can pin artifact ≡ fresh bit-identity). */
  private[graft] def q111Weights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tp = TeleportMicros.toSeq.toDF("source", "w")
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .join(broadcast(tp), Seq("source"), "left")
      .select(col("doc_id"),
        coalesce(col("w"), lit(TeleportDefaultMicros)).as("pw"))
  }

  /** Teleport weights are DATA, so the standing artifact is keyed by the
    * POLICY's content hash alongside the corpus dir — a policy edit is a
    * different artifact, never a stale readback (r9 VERDICT #6). */
  private def teleportPolicyHash: String = {
    val repr = TeleportMicros.toSeq.sorted
      .map { case (k, v) => s"$k=$v" }
      .mkString(",") + s";default=$TeleportDefaultMicros"
    java.security.MessageDigest.getInstance("MD5")
      .digest(repr.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Build + persist a personalized rank history table over `pairs` for
    * (dir, policy) unless the live artifact already describes it — the
    * q126 standing-artifact pattern verbatim: partitioned by round `t`,
    * one pruned partition per readback, history build paid once per
    * (corpus snapshot, policy). Shared by q111 (full graph) and q154
    * (base split) as separate tables: q111's covers the FULL pair set
    * (a final-ranks readout), q154's the BASE split (the delta update's
    * state).
    *
    * `pairsTag` names the EDGE-SET DEFINITION and is part of the
    * identity key (r10 ADVICE): the `pairs` DataFrame itself can't be
    * hashed cheaply, so each caller declares which pair set its table
    * holds — a caller reusing a table name with a different edge set
    * misses the key and rebuilds instead of silently reading the stale
    * artifact. */
  private def personalizedHist(s: SparkSession, dir: String,
      table: String, pairsTag: String, pairs: DataFrame): Unit =
    graft.Standing.artifact(s, table, table, (dir, teleportPolicyHash, pairsTag),
        graft.Standing.catalogHas(s, table)) { base =>
      // scoped: the history build's per-round checkpoint blocks are dead
      // once the write materializes them into the artifact
      graft.CheckpointRegistry.scoped {
        Bucketed.fresh(s, base, table,
          pagerankPersonalizedHistory(pairs, q111Weights(s, dir)))(_.partitionBy("t"))
      }
    }

  private[graft] def q111History(s: SparkSession, dir: String): Unit =
    personalizedHist(s, dir, "g111_hist", "pairs50_full",
      DedupOps.pairs50(s, dir).select(col("id_a"), col("id_b")))

  /** Personalized PageRank as a STANDING-ARTIFACT readout: ensure the
    * per-round history is persisted for this (corpus, policy), then
    * read the final round — one pruned `t` partition — instead of
    * re-running [[Iters]] checkpointed rounds per invocation (the q126
    * amortization, r9 VERDICT #6: rank vectors are one int64 per doc,
    * so a 100 TB pipeline persists all rounds alongside its corpus
    * snapshot and every readout probes the artifact). Integer ranks are
    * bit-identical to the fresh run (GraphSpec pins it), so the full
    * oracle is unchanged. */
  def q111(s: SparkSession, dir: String): DataFrame = {
    q111History(s, dir)
    s.table("g111_hist").filter(col("t") === Iters)
      .select(col("doc_id"), (col("r") / 1000000.0).as("rank"))
      .orderBy(col("doc_id"))
  }

  /** [[prCtesSql]] generalized to a per-doc teleport table `pw(doc_id,
    * pw)`: pr0 starts at pw, each round's base term is ((100−α₀₀)·pw)
    * div 100. */
  def prPersonalizedCtesSql(edges: String, a: String, b: String): String = {
    val head = Seq(
      s"prdeg AS (SELECT $b AS nid, COUNT(*) AS deg FROM $edges GROUP BY $b)",
      s"pr0 AS (SELECT doc_id, pw AS r FROM pw)")
    val iters = (1 to Iters).map { k =>
      s"""pr$k AS (
         |  SELECT d.doc_id,
         |    CAST(((${100 - Damping}) * d.pw) // 100
         |      + ($Damping * COALESCE(SUM(s.share), 0)) // 100 AS BIGINT) AS r
         |  FROM pw d LEFT JOIN (
         |    SELECT e.$a AS tgt, r.r // g.deg AS share
         |    FROM $edges e
         |    JOIN pr${k - 1} r ON e.$b = r.doc_id
         |    JOIN prdeg g ON e.$b = g.nid) s
         |  ON d.doc_id = s.tgt
         |  GROUP BY d.doc_id, d.pw)""".stripMargin
    }
    (head ++ iters).mkString(",\n")
  }

  lazy val q111Sql: String = {
    val tpRows = TeleportMicros.toSeq.sortBy(_._1)
      .map { case (src, w) => s"('$src', CAST($w AS BIGINT))" }.mkString(", ")
    s"""WITH pairs AS (SELECT id_a, id_b FROM (${DedupOps.q50PairsSql}) _p),
       |edges AS (SELECT id_a, id_b FROM pairs
       |  UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM pairs),
       |teleport(source, w) AS (VALUES $tpRows),
       |pw AS (
       |  SELECT d.doc_id, COALESCE(t.w, $TeleportDefaultMicros) AS pw
       |  FROM documents d LEFT JOIN teleport t ON d.source = t.source),
       |${prPersonalizedCtesSql("edges", "id_a", "id_b")}
       |SELECT doc_id, r / 1000000.0 AS rank FROM pr$Iters
       |ORDER BY doc_id""".stripMargin
  }

  // --- 126. incremental PageRank as a REGISTERED query (r6) --------------
  /** Fraction knob for the registered delta split: edges with
    * (id_a+id_b) % mod == 0 form the "daily batch". */
  val DeltaSplitMod = 5

  /** [[pagerankDelta]] under the driver's oracle: the near-dup edge set
    * splits deterministically into a base graph and a delta batch; the
    * full per-round history over the base is PERSISTED ONCE per
    * (session, corpus) as a t-partitioned parquet artifact (r6 VERDICT
    * #4 — the production path amortizes the history build across daily
    * batches, so the registered op should measure probe-the-artifact,
    * not rebuild-the-history), and the delta update runs against it.
    * The ORACLE replays the full `Iters`-round PageRank over ALL edges
    * ([[q95Sql]]'s CTE chain on the same pair set) — so the driver's
    * hash compare IS the delta ≡ full-recompute equivalence, guarded
    * round-over-round instead of spec-only.
    *
    * Scale shape: history build is the q95 plan over the base graph
    * (each round one join + agg, checkpoint-truncated), paid once per
    * corpus snapshot; each per-round readback is ONE pruned `t`
    * partition of the artifact; the delta update touches only the
    * delta's t-hop merged-graph ball per round (see [[pagerankDelta]])
    * — a daily batch against a 100 TB graph costs ∝ ball, not ∝ graph. */
  def q126(s: SparkSession, dir: String): DataFrame = {
    val pairs = DedupOps.pairs50(s, dir).select(col("id_a"), col("id_b"))
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val isDelta = (col("id_a") + col("id_b")) % DeltaSplitMod === 0
    q126History(s, dir, pairs.filter(!isDelta), docs)
    pagerankDelta(q126Hist(s), pairs.filter(!isDelta), pairs.filter(isDelta), docs)
  }

  /** The persisted base history, column-normalized for [[pagerankDelta]]
    * (partition column `t` comes back last from the catalog). */
  private[graft] def q126Hist(s: SparkSession): DataFrame =
    s.table("g126_hist").select(col("doc_id"), col("t").cast("int").as("t"), col("r"))

  /** Build + persist the base-graph rank history for `dir` unless the
    * live artifact already describes it. Partitioned by round `t`, so a
    * delta round's readback is one pruned partition. */
  private[graft] def q126History(s: SparkSession, dir: String,
      basePairs: DataFrame, docs: DataFrame): Unit =
    graft.Standing.artifact(s, "prhist", "g126_hist", dir,
        graft.Standing.catalogHas(s, "g126_hist")) { base =>
      // scoped: the history build's per-round checkpoint blocks are dead
      // once the write materializes them into the artifact
      graft.CheckpointRegistry.scoped {
        Bucketed.fresh(s, base, "g126_hist",
          pagerankHistory(basePairs, docs))(_.partitionBy("t"))
      }
    }

  /** Full-recompute replay over the merged edge set — delta ≡ full. */
  lazy val q126Sql: String = q95Sql

  // --- 154. incremental PERSONALIZED PageRank (r10) ------------------------
  /** q126's incremental treatment applied to the PERSONALIZED rank
    * (q111): the near-dup edge set splits into base graph + delta batch
    * (the q126 rule), the personalized per-round history over the BASE
    * graph persists once per (corpus, teleport policy) — q111's
    * standing-artifact machinery over the base split — and
    * [[pagerankDeltaPersonalized]] updates only the delta's t-hop ball
    * against it. The ORACLE replays the full personalized run over ALL
    * edges ([[q111Sql]]), so the driver's hash compare IS the
    * delta ≡ full-recompute equivalence for the per-doc-teleport
    * recurrence — the same round-over-round guard q126 gives the
    * uniform one. Scale shape: q126's exactly, plus one ball-sized
    * sliced scan of the weight relation for the fold's base terms. */
  def q154(s: SparkSession, dir: String): DataFrame = {
    val pairs = DedupOps.pairs50(s, dir).select(col("id_a"), col("id_b"))
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val isDelta = (col("id_a") + col("id_b")) % DeltaSplitMod === 0
    q154History(s, dir, pairs.filter(!isDelta))
    pagerankDeltaPersonalized(q154Hist(s), pairs.filter(!isDelta),
      pairs.filter(isDelta), docs, q111Weights(s, dir))
  }

  private[graft] def q154History(s: SparkSession, dir: String,
      basePairs: DataFrame): Unit =
    personalizedHist(s, dir, "g154_hist", "pairs50_base_split", basePairs)

  /** The persisted personalized base history, column-normalized for the
    * delta fold (partition column `t` comes back last from the catalog). */
  private[graft] def q154Hist(s: SparkSession): DataFrame =
    s.table("g154_hist")
      .select(col("doc_id"), col("t").cast("int").as("t"), col("r"))

  /** Full personalized recompute over the merged edge set — delta ≡ full. */
  lazy val q154Sql: String = q111Sql

  val ops: Seq[Op] = Seq(
    Op("q95_pagerank", q95, Some(q95Sql)),
    Op("q97_keeper_by_rank", q97, Some(q97Sql)),
    Op("q106_keeper_policy", q106, Some(q106Sql)),
    Op("q110_keeper_weighted", q110, Some(q110Sql)),
    Op("q111_pagerank_personalized", q111, Some(q111Sql)),
    Op("q126_pagerank_delta", q126, Some(q126Sql)),
    Op("q154_pagerank_personalized_delta", q154, Some(q154Sql)),
  )
}

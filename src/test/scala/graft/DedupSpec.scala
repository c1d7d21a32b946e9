package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DedupOps, PipelineOps}

class DedupSpec extends AnyFunSuite with SharedSpark {

  test("q48 groups partition the corpus exactly") {
    val rows = DedupOps.q48(spark, SF).collect()
    assert(rows.map(_.getAs[Long]("n_members")).sum ===
      Tables.documents(spark, SF).count())
    assert(rows.forall(_.getAs[Long]("keeper_id") >= 0))
  }

  test("q49 jaccard pairs are thresholded, ordered, deduplicated") {
    val rows = DedupOps.q49(spark, SF).collect()
    assert(rows.nonEmpty, "corpus has planted near-dups; q49 must find them")
    rows.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.5 && j <= 1.0)
    }
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length === rows.length)
  }

  test("q49 equals a driver-side brute-force Jaccard over the string kept sets") {
    // pins q49's integer shingle-id encoding and merge verify against
    // the plain definition: cap the string shingle sets by df on the
    // driver, then every pair with |a ∩ b| / |a ∪ b| ≥ 0.5, rounded to
    // integer micros half-away as Num.ratio6 does
    val sets = DedupOps.docShingles(spark, SF).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val df = sets.toSeq.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size }
    val kept = sets.map { case (d, sh) => d -> sh.filter(df(_) <= DedupOps.ShingleDfCap) }
      .filter(_._2.nonEmpty).sortBy(_._1)
    val expected = for {
      i <- kept.indices
      j <- i + 1 until kept.length
      (a, sa) = kept(i)
      (b, sb) = kept(j)
      shared = (sa intersect sb).size.toLong
      union = sa.size + sb.size - shared
      if 2 * shared >= union
    } yield (a, b, ((2 * shared * 1000000L + union) / (2 * union)) / 1000000.0)
    val got = DedupOps.q49(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(expected.nonEmpty)
    assert(got === expected)
  }

  test("q50 minhash-LSH finds the same verified pairs as the inverted index") {
    val lsh = DedupOps.q50(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = DedupOps.q49(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty)
    assert(lsh.subsetOf(exact), "LSH-verified pairs must be true near-dups")
    // with j ≥ 0.5 and 4×4 banding, P(miss) = (1-j⁴)⁴ ≤ 0.77 per pair —
    // but the planted dups sit at j ≈ 0.95+ where P(miss) < 1e-2
    assert(lsh.size >= (exact.size * 0.8).toInt)
  }

  test("q51 simhash pairs respect the hamming bound") {
    DedupOps.q51(spark, SF).collect().foreach { r =>
      val h = r.getAs[Int]("hamming")
      assert(h >= 0 && h <= 3)
    }
  }

  test("q51 half-banding: complete at hamming ≤ 3, near-linear candidates on a no-dup corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{bit_count, col}
    // splitmix64: well-spread deterministic sketches — pairwise hamming
    // ≈ 32, i.e. a corpus with NO near-dups
    def splitmix(seed: Long): Long = {
      var z = seed + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val n = 4096
    val base = (0 until n).map(i => (i.toLong, splitmix(i.toLong)))
    // planted near-dups: 64 docs at hamming 1–3 of distinct base docs
    val planted = (0 until 64).map { i =>
      val (src, h) = base(i * 37 % n)
      val flips = Seq(1L << (i % 64)) ++
        (if (i % 3 != 0) Seq(1L << ((i + 17) % 64)) else Nil) ++
        (if (i % 3 == 2) Seq(1L << ((i + 41) % 64)) else Nil)
      ((n + i).toLong, flips.foldLeft(h)(_ ^ _), src)
    }
    val hashed = (base ++ planted.map(p => (p._1, p._2)))
      .toDF("doc_id", "simhash")
    val cand = DedupOps.simhashCandidates(hashed).cache()
    val candPairs = cand.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.foreach { case (id, _, src) =>
      assert(candPairs.contains((src, id)), s"planted pair ($src,$id) missed")
    }
    // completeness vs brute force: verified candidates == all-pairs truth
    val got = cand
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= 3)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = hashed.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = hashed.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    val truth = a.join(b, col("id_a") < col("id_b"))
      .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 3)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === truth)
    // the scale bound: 2³²-key half buckets make random collisions ~0 at
    // this n (the r2 16-bit chunks produced ~4·n²/2¹⁶ ≈ 1000 here) —
    // candidates must stay ∝ true dups, not ∝ n²
    assert(candPairs.size <= planted.size + n / 40,
      s"${candPairs.size} candidates for ${planted.size} true pairs — quadratic leak")
    cand.unpersist()
  }

  test("bloom semi-prune shrinks the verify scan and never drops a real key") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val corpus = (0L until 10000L).toDF("doc_id")
    val keys = (0L until 10000L by 100).toDF("id") // 100 candidate ids
    val pruned = graft.functions.BloomPrune
      .semiPrune(corpus, "doc_id", keys, "id", expectedItems = 100)
    val prunedIds = pruned.as[Long].collect().toSet
    // no false negatives: every real key survives (the exact equi-join
    // downstream is therefore unaffected — q50/q74 oracle hashes pin it)
    (0L until 10000L by 100).foreach(k =>
      assert(prunedIds.contains(k), s"bloom dropped real key $k"))
    // the point of the prune: the corpus side SHRINKS to ~|keys| + fp
    assert(prunedIds.size < 1000,
      s"${prunedIds.size} of 10000 rows survive a 100-key bloom — no pruning")
    // empty candidate set prunes to nothing rather than passing the corpus
    assert(graft.functions.BloomPrune
      .semiPrune(corpus, "doc_id", keys.filter(lit(false)), "id", 1).count() === 0)
    // sketch sizing: 8 KiB floor, ~10 bits/key in between, 8 MiB cap
    assert(graft.functions.BloomPrune.bitsFor(1) === (1L << 16))
    assert(graft.functions.BloomPrune.bitsFor(1L << 20) === 10L * (1L << 20))
    assert(graft.functions.BloomPrune.bitsFor(1L << 40) === (1L << 26))
  }

  test("q52 embedding near-dups are cosine-thresholded") {
    val rows = DedupOps.q52(spark, SF).collect()
    assert(rows.nonEmpty, "corpus has planted embedding near-dups")
    rows.foreach { r =>
      val c = r.getAs[Double]("cos")
      assert(c >= 0.4 && c <= 1.0)
    }
  }

  test("q74 pipeline components agree with the q50 edge set") {
    val rows = DedupOps.q74(spark, SF).collect()
    val root = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.length === Tables.documents(spark, SF).count())
    root.foreach { case (d, r) =>
      assert(r <= d)
      assert(root(r) === r)
    }
    DedupOps.q50(spark, SF).collect().foreach { e =>
      val (a, b) = (e.getLong(0), e.getLong(1))
      assert(root(a) === root(b), s"edge ($a,$b) spans components")
    }
  }

  test("q91 cluster-size histogram partitions the corpus and counts components") {
    val hist = DedupOps.q91(spark, SF).collect()
    val cc = DedupOps.q74(spark, SF).collect()
    // every doc is in exactly one cluster: histogram mass = corpus size
    assert(hist.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, SF).count())
    // per-row consistency and total components = q74's keeper count
    hist.foreach { r =>
      assert(r.getAs[Long]("n_docs") ===
        r.getAs[Long]("csize") * r.getAs[Long]("n_components"))
      assert(r.getAs[Long]("csize") >= 1L)
    }
    assert(hist.map(_.getAs[Long]("n_components")).sum ===
      cc.count(_.getAs[Int]("is_keeper") == 1))
    // the planted dups must produce at least one non-singleton cluster
    assert(hist.exists(_.getAs[Long]("csize") > 1L))
  }

  test("q94 degree histogram is consistent with the q50 edge set") {
    val hist = DedupOps.q94(spark, SF).collect()
      .map(r => r.getAs[Long]("degree") -> r.getAs[Long]("n_docs")).toMap
    // mass = corpus; edge-endpoint mass = 2·|edges| (handshake lemma)
    assert(hist.values.sum === Tables.documents(spark, SF).count())
    val nEdges = DedupOps.q50(spark, SF).count()
    assert(hist.map { case (d, n) => d * n }.sum === 2 * nEdges)
    // the planted dups give some doc at least one edge, most have none
    assert(hist.getOrElse(0L, 0L) > 0L)
    assert(hist.keys.max >= 1L)
  }

  test("q75 cell-blocked pairs are exact, subset of q52, recall monotone in nprobe") {
    val brute = DedupOps.q52(spark, SF).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("cos"))).toMap
    def pairs(nprobe: Int) = DedupOps.cellDedup(spark, SF, nprobe).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("cos"))).toMap
    val p2 = pairs(2)
    // precision 1.0: every blocked pair exists in the brute set with the
    // identical rounded cosine
    p2.foreach { case (k, c) =>
      assert(brute.contains(k), s"$k not in brute pairs")
      assert(brute(k) === c)
    }
    val p3 = pairs(3)
    assert(p2.keySet.subsetOf(p3.keySet), "recall must be monotone in nprobe")
    // nprobe = |cells| probes every cell -> degenerates to exactly q52
    val nCells = operators.SimOps.centroidCells(
      Tables.embeddings(spark, SF)).count().toInt
    assert(pairs(nCells).keySet === brute.keySet)
    // measured floor on this corpus (0.59 at sf0.01, see Scaladoc)
    assert(p2.size.toDouble / brute.size >= 0.4,
      s"nprobe=2 recall ${p2.size.toDouble / brute.size} below floor")
  }

  test("q98 duplicated spans match a sequential brute-force recompute") {
    val k = DedupOps.DupSpanK
    val toks = Tables.documents(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        "[a-z0-9]+".r.findAllIn(r.getAs[String]("text").toLowerCase).toVector)
      .toMap
    // brute force: count each k-shingle's distinct docs, mark covered
    // positions, merge into maximal runs
    val docsPerSh = toks.toSeq
      .flatMap { case (id, ts) => ts.sliding(k).filter(_.size == k)
        .map(w => (w.mkString(" "), id)).toSeq.distinct }
      .groupBy(_._1).map { case (sh, v) => sh -> v.map(_._2).distinct.size }
    val expected = toks.map { case (id, ts) =>
      val covered = ts.sliding(k).zipWithIndex
        .collect { case (w, i) if w.size == k && docsPerSh(w.mkString(" ")) >= 2 =>
          (i until i + k) }
        .flatten.toSet
      val runs =
        if (covered.isEmpty) 0
        else covered.toSeq.sorted.sliding(2)
          .count { case Seq(a, b) => b != a + 1; case _ => false } + 1
      id -> ((runs.toLong, covered.size.toLong, ts.size.toLong))
    }
    val got = DedupOps.q98(spark, SF).collect()
    assert(got.length === toks.size)
    got.foreach { r =>
      val (spans, dupToks, n) = expected(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_tokens") === n)
      assert(r.getAs[Long]("n_spans") === spans)
      assert(r.getAs[Long]("dup_tokens") === dupToks)
    }
    // the planted near-dups must surface as duplicated spans
    assert(got.count(_.getAs[Long]("dup_tokens") > 0) > 0)
  }

  test("q107 cleans the exact span complement; q109 fine spans dominate q98") {
    val k = DedupOps.DupSpanK
    val toks = Tables.documents(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        "[a-z0-9]+".r.findAllIn(r.getAs[String]("text").toLowerCase).toVector)
      .toMap
    val docsPerSh = toks.toSeq
      .flatMap { case (id, ts) => ts.sliding(k).filter(_.size == k)
        .map(w => (w.mkString(" "), id)).toSeq.distinct }
      .groupBy(_._1).map { case (sh, v) => sh -> v.map(_._2).distinct.size }
    val covered = toks.map { case (id, ts) =>
      id -> ts.sliding(k).zipWithIndex
        .collect { case (w, i) if w.size == k && docsPerSh(w.mkString(" ")) >= 2 =>
          (i until i + k) }
        .flatten.toSet
    }
    val got = DedupOps.q107(spark, SF).collect()
    assert(got.length === toks.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val ts = toks(id)
      val keep = ts.indices.filterNot(covered(id)).map(ts)
      assert(r.getAs[Long]("n_tokens") === ts.size.toLong)
      assert(r.getAs[Long]("kept_tokens") === keep.size.toLong)
      assert(r.getAs[String]("cleaned_text") === keep.mkString(" "))
    }
    // something was actually cut (the planted near-dups)
    assert(got.exists(r => r.getAs[Long]("kept_tokens") < r.getAs[Long]("n_tokens")))
    // q109 at K=4: every duplicated 8-window nests duplicated 4-windows,
    // so per-doc duplicated coverage is monotone non-decreasing in 1/K
    val d8 = DedupOps.q98(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_tokens")).toMap
    val d4 = DedupOps.q109(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_tokens")).toMap
    assert(d4.keySet === d8.keySet)
    d8.foreach { case (id, v8) => assert(d4(id) >= v8, s"doc $id") }
    assert(d4.values.sum > d8.values.sum) // strictly finer on this corpus
  }

  test("dupSpans volume is occurrence-linear on an m-way duplicated corpus") {
    import spark.implicits._
    // m identical 6-token docs: a k-doc-shared window must emit k span
    // rows (one per occurrence), never k² pair rows — the guarantee that
    // keeps span dedup corpus-linear where q49-style pair joins are not
    val m = 40
    val docs = (1L to m.toLong).map(i =>
      (i, Seq("alpha", "beta", "gamma", "delta", "eps", "zeta"))).toDF("doc_id", "toks")
    val sp = DedupOps.dupSpans(docs, DedupOps.SlideSpanK).collect()
    assert(sp.length === m)
    sp.foreach { r =>
      assert(r.getAs[Long]("s") === 1L)
      assert(r.getAs[Long]("e") === 6L)
    }
  }

  test("q100 IDF cosine pairs: thresholded, valid cosines, finds the planted dups") {
    val rows = DedupOps.q100(spark, SF).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      val c = r.getAs[Double]("cos")
      assert(c >= 0.5 && c <= 1.0 + 1e-9)
    }
    // strong Jaccard near-dups are also strong IDF-cosine near-dups:
    // j ≥ 0.9 ⇒ cos ≥ j under binary vectors with near-equal weights
    val strong = DedupOps.q49(spark, SF).collect()
      .filter(_.getAs[Double]("jaccard") >= 0.9)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong.nonEmpty && strong.subsetOf(got))
  }

  test("q99 source matrix partitions the q50 pair set, pairs unordered") {
    val rows = DedupOps.q99(spark, SF).collect()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum === DedupOps.q50(spark, SF).count())
    rows.foreach(r =>
      assert(r.getAs[String]("src_a") <= r.getAs[String]("src_b")))
  }

  test("q117 span decontamination: brute-force replay, benchmark side broadcasts") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val k = PipelineOps.ContamShingleK
    val docs = Tables.documents(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        "[a-z0-9]+".r.findAllIn(r.getAs[String]("text").toLowerCase).toVector)
    val benchSh = docs.collect { case (id, ts) if id % 97 == 0 =>
      ts.sliding(k).filter(_.size == k).map(_.mkString(" ")) }
      .flatten.toSet
    val got = DedupOps.q117(spark, SF).collect()
    val corpus = docs.filter(_._1 % 97 != 0).toMap
    assert(got.length === corpus.size)
    got.foreach { r =>
      val ts = corpus(r.getAs[Long]("doc_id"))
      val covered = ts.sliding(k).zipWithIndex
        .collect { case (w, i) if w.size == k && benchSh(w.mkString(" ")) =>
          (i until i + k) }.flatten.toSet
      val keep = ts.indices.filterNot(covered).map(ts)
      assert(r.getAs[Long]("kept_tokens") === keep.size.toLong)
      assert(r.getAs[String]("cleaned_text") === keep.mkString(" "))
      assert(r.getAs[Int]("contaminated") === (if (covered.nonEmpty) 1 else 0))
    }
    assert(got.exists(_.getAs[Int]("contaminated") === 1),
      "no doc overlaps the stand-in benchmark at this SF")
    // eval-sized index ⇒ the semi-join must broadcast: the corpus is
    // never shuffled before the per-doc window merge
    val plan = DedupOps.q117(spark, SF).queryExecution.executedPlan
    def flat(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect { case x => x }.flatMap {
        case a: AdaptiveSparkPlanExec => a +: flat(a.executedPlan)
        case x => Seq(x)
      }
    assert(flat(plan).exists {
      case j: BroadcastHashJoinExec => j.joinType.toString == "LeftSemi"
      case _ => false
    }, s"benchmark window set must broadcast:\n$plan")
  }

  test("q113 span attribution matches brute force; per-doc slices never exceed q98") {
    val k = DedupOps.DupSpanK
    val docs = Tables.documents(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        "[a-z0-9]+".r.findAllIn(r.getAs[String]("text").toLowerCase).toVector))
    // brute force: distinct docs per (window, source), then per (doc,
    // other-source) covered positions — own source needs a SECOND doc
    val docsPerShSrc = docs
      .flatMap { case (id, src, ts) => ts.sliding(k).filter(_.size == k)
        .map(w => ((w.mkString(" "), src), id)).toSeq.distinct }
      .groupBy(_._1).map { case (key, v) => key -> v.map(_._2).distinct.size }
    val sourcesOfSh = docsPerShSrc.keys.groupBy(_._1)
      .map { case (sh, keys) => sh -> keys.map(_._2).toSet }
    val perDoc = docs.flatMap { case (id, src, ts) =>
      val winAt = ts.sliding(k).zipWithIndex
        .collect { case (w, i) if w.size == k => (i, w.mkString(" ")) }.toSeq
      sourcesOfSh.values.flatten.toSet.toSeq.flatMap { osrc: String =>
        val covered = winAt.collect { case (i, sh)
          if sourcesOfSh.getOrElse(sh, Set.empty).contains(osrc) &&
            (osrc != src || docsPerShSrc((sh, src)) >= 2) =>
          (i until i + k) }.flatten.toSet
        if (covered.isEmpty) None else Some((id, src, osrc, covered.size.toLong))
      }
    }
    val wantMatrix = perDoc.groupBy { case (_, src, osrc, _) => (src, osrc) }
      .map { case (key, v) =>
        key -> ((v.map(_._1).distinct.size.toLong, v.map(_._4).sum)) }
    val got = DedupOps.q113(spark, SF).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("osrc")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("dup_tokens")))).toMap
    assert(got === wantMatrix)
    assert(got.nonEmpty, "no cross-source duplicated span at this SF")
    // membership symmetry: a shared window makes both directions hit
    assert(got.keySet.map(_.swap) === got.keySet)
    // per-(doc, osrc) coverage can never exceed the doc's q98 coverage
    val q98Cov = DedupOps.q98(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_tokens")).toMap
    val slices = DedupOps.q113PerDoc(spark, SF).collect()
    slices.foreach { r =>
      assert(r.getAs[Long]("dt") <= q98Cov(r.getAs[Long]("doc_id")),
        s"doc ${r.getAs[Long]("doc_id")} slice exceeds q98 coverage")
    }
    // and every attributed doc is a q98 dup doc
    assert(slices.map(_.getAs[Long]("doc_id")).toSet
      .subsetOf(q98Cov.filter(_._2 > 0).keySet))
  }

  test("q122 admission record reconciles with its three parent probes") {
    import org.apache.spark.sql.functions._
    val mod = DedupOps.IncrSplitMod
    val rows = DedupOps.q122(spark, SF).collect().map(r => r.getAs[Long]("doc_id") -> ((
      r.getAs[Long]("n_tokens"), r.getAs[Long]("kept_tokens"),
      r.getAs[Int]("near_dup"), r.getAs[Long]("n_shared_sources"),
      r.getAs[Int]("admit")))).toMap
    assert(rows.nonEmpty)
    // every batch doc gets a record, admitted or not
    val batchIds = Tables.documents(spark, SF)
      .filter(col("doc_id") % mod === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.keySet === batchIds)
    // cleaning half ≡ q115 (same split, same window index)
    val clean = DedupOps.q115(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("kept_tokens")))).toMap
    rows.foreach { case (id, (n, kept, _, _, _)) =>
      assert((n, kept) === clean(id), s"doc $id cleaning mismatch") }
    // near-dup half ≡ q108's probe (doc has ≥1 verified indexed partner)
    val dupDocs = DedupOps.q108(spark, SF).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    rows.foreach { case (id, (_, _, nd, _, _)) =>
      assert((nd === 1) === dupDocs(id), s"doc $id near_dup flag") }
    // attribution half ≡ distinct sharing sources over the batch/snapshot split
    val docs = Tables.documents(spark, SF)
    val idx = docs.filter(col("doc_id") % mod =!= 0)
      .select(col("source").as("osrc"),
        explode(graft.text.Text.shingles(graft.text.Text.tokens(col("text")),
          DedupOps.DupSpanK)).as("sh"))
      .select("sh", "osrc").distinct()
    val ns = docs.filter(col("doc_id") % mod === 0)
      .select(col("doc_id"),
        explode(graft.text.Text.shingles(graft.text.Text.tokens(col("text")),
          DedupOps.DupSpanK)).as("sh"))
      .join(idx, "sh")
      .groupBy(col("doc_id")).agg(countDistinct(col("osrc")).as("n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n")).toMap
    rows.foreach { case (id, (_, _, _, nss, _)) =>
      assert(nss === ns.getOrElse(id, 0L), s"doc $id shared sources") }
    // and the decision is exactly its formula
    rows.foreach { case (id, (n, kept, nd, _, admit)) =>
      assert((admit === 1) === (nd === 0 && n > 0 && kept * 2 >= n),
        s"doc $id admit") }
    // non-vacuous: both decisions occur at this SF
    assert(rows.values.exists(_._5 === 1) && rows.values.exists(_._5 === 0))
  }

  test("q182 novelty: exact df-1 recompute from the shingle sets, bounded, duplicates score zero") {
    import org.apache.spark.sql.functions.{col, explode}
    // driver-side replay over the engine's own per-doc shingle sets
    val shs = DedupOps.docShingles(spark, SF)
      .select(col("doc_id"), col("shs")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1))
    val df = shs.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val expect = shs.filter(_._2.nonEmpty).map { case (id, s) =>
      val novel = s.count(df(_) == 1).toLong
      id -> (s.size.toLong, novel)
    }.toMap
    val rows = DedupOps.q182(spark, SF).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet === expect.keySet)
    rows.foreach { r =>
      val (n, novel) = expect(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_shingles") === n)
      assert(r.getAs[Long]("n_novel") === novel)
      // exact half-away micros ratio
      assert(r.getAs[Double]("novelty") ===
        ((2L * novel * 1000000L + n) / (2L * n)) / 1e6)
    }
    // exact-duplicate docs share every shingle => novelty 0; unique
    // prose scores high — both ends present in this corpus
    assert(rows.exists(_.getAs[Double]("novelty") === 0.0))
    assert(rows.exists(_.getAs[Double]("novelty") > 0.3))
  }

  test("q189 incremental novelty: exact split replay, appending arrivals drives novelty to zero") {
    val shs = DedupOps.docShingles(spark, SF)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("shs")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1))
    val mod = DedupOps.IncrSplitMod
    val oldSet = shs.filter(_._1 % mod != 0).flatMap(_._2).toSet
    val expect = shs.filter(p => p._1 % mod == 0 && p._2.nonEmpty)
      .map { case (id, s2) =>
        id -> (s2.size.toLong, s2.count(!oldSet.contains(_)).toLong)
      }.toMap
    val rows = DedupOps.q189(spark, SF).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet === expect.keySet)
    rows.foreach { r =>
      val (n, novel) = expect(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_shingles") === n)
      assert(r.getAs[Long]("n_novel") === novel, s"doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Double]("novelty") ===
        ((2L * novel * 1000000L + n) / (2L * n)) / 1e6)
    }
    // novelty genuinely discriminates on this corpus
    assert(rows.exists(_.getAs[Long]("n_novel") > 0L))
    // LIFECYCLE: fold the arrivals into the index (append + compaction),
    // re-probe the same batch — every shingle is now present, so the
    // re-probed novelty is exactly zero for every doc
    import org.apache.spark.sql.functions.col
    val arrivals = DedupOps.docShingles(spark, SF)
      .filter(col("doc_id") % mod === 0)
    DedupOps.q189Append(spark, arrivals)
    DedupOps.q189Compact(spark)
    val after = DedupOps.q189ProbeOf(spark, arrivals).collect()
    assert(after.length === rows.length)
    after.foreach(r => assert(r.getAs[Long]("n_novel") === 0L,
      s"doc ${r.getAs[Long]("doc_id")} still novel after append"))
    // rebuild the canonical snapshot for any later consumer in this JVM
    DedupOps.q189Write(spark, DedupOps.docShingles(spark, SF)
      .filter(col("doc_id") % mod =!= 0))
  }
}

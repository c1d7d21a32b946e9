package graft

import org.apache.spark.sql.functions.{col, size}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DedupOps, PipelineOps, TextOps}

class PipelineSpec extends AnyFunSuite with SharedSpark {

  test("q77 gates compose consistently with their source operators") {
    val rows = PipelineOps.q77(spark, SF).collect()
    assert(rows.length === Tables.documents(spark, SF).count())
    // selected is exactly the conjunction of the three gates
    rows.foreach { r =>
      val conj = r.getAs[Int]("is_en") * r.getAs[Int]("quality_ok") *
        r.getAs[Int]("is_keeper")
      assert(r.getAs[Int]("selected") === conj)
    }
    // gate columns agree with the operators they come from
    val en = TextOps.q44(spark, SF).collect()
      .filter(_.getAs[String]("pred_lang") == "en").map(_.getLong(0)).toSet
    assert(rows.filter(_.getAs[Int]("is_en") == 1).map(_.getLong(0)).toSet === en)
    val keepers = DedupOps.q70(spark, SF).collect()
      .filter(_.getAs[Int]("is_keeper") == 1).map(_.getLong(0)).toSet
    assert(rows.filter(_.getAs[Int]("is_keeper") == 1).map(_.getLong(0)).toSet
      === keepers)
    // the pipeline actually selects a non-trivial, non-total subset
    val nSel = rows.count(_.getAs[Int]("selected") == 1)
    assert(nSel > 0 && nSel < rows.length)
  }

  test("q82 corpus mix: deterministic, rate-faithful, inverse-propensity weighted") {
    val docs = Tables.documents(spark, SF)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = PipelineOps.q82(spark, SF).collect()
    // determinism: the sample is a pure function of doc_id
    val again = PipelineOps.q82(spark, SF).collect()
    assert(rows.map(_.toSeq.toList).toList === again.map(_.toSeq.toList).toList)
    val rates = PipelineOps.MixRates.toMap
    // rate-1.0 language keeps EVERY doc; weights are exactly 1/rate
    val kept = rows.map(r => r.getAs[Long]("doc_id")).toSet
    val enDocs = docs.collect { case (id, "en") => id }.toSet
    assert(enDocs.subsetOf(kept), "rate-1.0 language must keep all docs")
    rows.foreach { r =>
      val rate = rates.getOrElse(r.getAs[String]("lang"), PipelineOps.MixDefaultRate)
      assert(r.getAs[Double]("weight") === math.rint(1.0 / rate * 1e6) / 1e6)
    }
    // sampled fraction per down-weighted language tracks its rate
    Seq("de", "fr", "zh").foreach { l =>
      val total = docs.count(_._2 == l)
      val got = rows.count(_.getAs[String]("lang") == l)
      val rate = rates.getOrElse(l, PipelineOps.MixDefaultRate)
      assert(math.abs(got.toDouble / total - rate) < 0.25,
        s"$l sampled $got/$total, rate $rate")
    }
    // the shuffle key decorrelates order from doc_id: the sampled ids in
    // output order must not be sorted by doc_id
    val ids = rows.map(_.getAs[Long]("doc_id")).toSeq
    assert(ids !== ids.sorted, "shuffle_key left corpus order intact")
  }

  test("q86 training build composes its stages exactly") {
    import org.apache.spark.sql.functions._
    val rows = PipelineOps.q86(spark, SF).collect()
    assert(rows.nonEmpty)
    // membership: exactly the q82-sampled subset of the q77-selected docs
    val selected = PipelineOps.q77(spark, SF)
      .filter(col("selected") === 1).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val mixed = PipelineOps.q82(spark, SF)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = rows.map(_.getAs[Long]("doc_id")).toSet
    assert(got === (selected intersect mixed))
    // shard budget: every shard's START offsets stay within budget spacing
    rows.foreach { r =>
      val (n, cum, sh) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cum_tokens"), r.getAs[Long]("shard"))
      assert(sh === (cum - n) / PipelineOps.ShardTokenBudget)
    }
    // deterministic end to end
    val again = PipelineOps.q86(spark, SF).collect()
    assert(rows.map(_.toSeq.toList).toList === again.map(_.toSeq.toList).toList)
  }

  test("q112 cleaned build: same membership as q86, token counts = bpe over span-cleaned text") {
    import org.apache.spark.sql.functions._
    val rows86 = PipelineOps.q86(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    val rows112 = PipelineOps.q112(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cum_tokens"), r.getAs[Long]("shard")))
    // selection/sampling on ORIGINAL text → identical membership
    assert(rows112.map(_._1).toSet === rows86.keySet)
    // cleaning can only remove tokens, and on this corpus it does
    rows112.foreach { case (id, n, _, _) =>
      assert(n <= rows86(id), s"doc $id gained tokens after cleaning") }
    assert(rows112.map(_._2).sum < rows86.values.sum,
      "no duplicated span intersected the sampled training set")
    // cleaned counts replay driver-side: bpe over the span-cleaned stream
    val cleaned = operators.DedupOps.q107(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("cleaned_text")).toMap
    val re = "[a-z]+|[0-9]+|[^a-z0-9\\s]".r
    rows112.foreach { case (id, n, _, _) =>
      assert(n === re.findAllIn(cleaned(id).toLowerCase).length.toLong, s"doc $id") }
    // packing invariant holds on the cleaned counts
    rows112.foreach { case (_, n, cum, sh) =>
      assert(sh === (cum - n) / PipelineOps.ShardTokenBudget) }
  }

  test("q114 rebalance: rate_adj cancels per-lang cleaning shrinkage, capped at 1") {
    import org.apache.spark.sql.functions._
    val rows = PipelineOps.q114(spark, SF).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (raw, clean) = (r.getAs[Long]("raw_tokens"), r.getAs[Long]("clean_tokens"))
      val (rate, adj) = (r.getAs[Double]("rate"), r.getAs[Double]("rate_adj"))
      assert(clean <= raw, s"${r.getAs[String]("lang")}: cleaning added tokens")
      // upweight never downweights, and never exceeds sampling everything
      assert(adj >= rate - 1e-9 && adj <= 1.0 + 1e-9)
      // driver-side replay of the micros formula
      val eighths = Map("en" -> 8L, "de" -> 4L, "fr" -> 2L)
        .getOrElse(r.getAs[String]("lang"), 1L)
      val want =
        if (clean == 0) 1.0
        else math.min(1.0,
          ((2 * eighths * raw * 1000000L + 8 * clean) / (16 * clean)) / 1e6)
      assert(adj === want, s"${r.getAs[String]("lang")} rate_adj")
    }
    // the population is exactly q112's: per-lang doc counts agree
    val want = PipelineOps.q86(spark, SF).select("doc_id").collect().length
    // q86 samples FROM the selected population; q114 counts the whole
    // selected population per lang — q86's sample can never exceed it
    assert(rows.map(_.getAs[Long]("n_docs")).sum >= want)
    // and cleaning must have bitten somewhere for the op to be non-vacuous
    assert(rows.exists(r => r.getAs[Long]("clean_tokens") < r.getAs[Long]("raw_tokens")))
  }

  test("q116 feedback sampling: q112's membership is a subset, draw replays exactly") {
    import org.apache.spark.sql.functions._
    val rows116 = PipelineOps.q116(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("lang"), r.getAs[Double]("weight")))).toMap
    assert(rows116.nonEmpty)
    // rate_adj ≥ rate on the same md5 draw ⇒ the corrected sample can
    // only ADD members relative to the q82-rate sample (q112's)
    val m112 = PipelineOps.q112(spark, SF).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(m112.subsetOf(rows116.keySet))
    // driver-side replay: membership = u(doc) < rate_micros(lang),
    // weight = half-away(1e12 / micros) / 1e6
    val policy = PipelineOps.q114(spark, SF).collect()
      .map(r => r.getAs[String]("lang") ->
        math.round(r.getAs[Double]("rate_adj") * 1e6)).toMap
    def u(id: Long): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md5.take(15), 16) % 1000000L
    }
    rows116.foreach { case (id, (lang, w)) =>
      assert(u(id) < policy(lang), s"doc $id sampled against its rate")
      val micros = policy(lang)
      assert(w === ((2 * 1000000L * 1000000L + micros) / (2 * micros)) / 1e6,
        s"doc $id weight")
    }
    // and no in-population doc below its rate was dropped
    val pop = PipelineOps.q114(spark, SF).collect()
      .map(_.getAs[Long]("n_docs")).sum
    assert(rows116.size <= pop)
  }

  test("q118 final build: q116's sample packed on cleaned counts") {
    import org.apache.spark.sql.functions._
    val b = PipelineOps.q118(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Double]("weight"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cum_tokens"), r.getAs[Long]("shard")))
    assert(b.nonEmpty)
    // membership, weights and token counts are exactly q116's
    val s116 = PipelineOps.q116(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("lang"), r.getAs[Double]("weight"),
          r.getAs[Long]("n_tokens_clean")))).toMap
    assert(b.map(_._1).toSet === s116.keySet)
    b.foreach { case (id, lang, w, n, _, _) =>
      assert((lang, w, n) === s116(id), s"doc $id") }
    // pack invariants: cumsum is a permutation-consistent running total
    // over the sampled set, and shard = start-offset div budget
    assert(b.map(_._5).max === b.map(_._4).sum)
    b.foreach { case (_, _, _, n, cum, sh) =>
      assert(sh === (cum - n) / PipelineOps.ShardTokenBudget) }
  }

  test("q85 decontamination: self-overlap totality, flag consistency") {
    import org.apache.spark.sql.functions._
    import graft.text.Text
    val docs = Tables.documents(spark, SF).select("doc_id", "text")
    // benchmark == corpus: every doc with any 5-shingles overlaps itself
    // completely, so n_shared = its distinct-shingle count and every doc
    // at ≥ ContamMinShared shingles must flag
    val self = PipelineOps.contamination(docs, docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shared"), r.getAs[Int]("contaminated"))).toMap
    val shCounts = docs.select(col("doc_id"),
        size(array_distinct(Text.shingles(Text.tokens(col("text")),
          PipelineOps.ContamShingleK))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    shCounts.foreach { case (id, n) =>
      if (n > 0) {
        assert(self(id)._1 === n.toLong, s"doc $id self-overlap != shingle count")
        assert((self(id)._2 == 1) === (n >= PipelineOps.ContamMinShared))
      } else assert(!self.contains(id))
    }
    // the registered split: output only corpus-side docs, flag matches count
    val rows = PipelineOps.q85(spark, SF).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 97 !== 0L)
      assert((r.getAs[Int]("contaminated") == 1) ===
        (r.getAs[Long]("n_shared") >= PipelineOps.ContamMinShared))
    }
  }

  test("q87 scale decontamination: sound pairs, near-dup benchmark leaks found") {
    import org.apache.spark.sql.functions._
    import graft.text.Text
    val shs = Tables.documents(spark, SF)
      .select(col("doc_id"),
        array_distinct(Text.shingles(Text.tokens(col("text")),
          PipelineOps.ContamShingleK)).as("shs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val rows = PipelineOps.q87(spark, SF).collect()
    // soundness: every reported pair straddles the split and its overlap
    // count is the exact driver-side intersection
    rows.foreach { r =>
      val (d, b, n) = (r.getAs[Long]("doc_id"), r.getAs[Long]("bench_id"),
        r.getAs[Long]("n_shared"))
      assert(d % 11 != 0 && b % 11 == 0)
      assert(n === (shs(d) intersect shs(b)).size.toLong)
      assert(n >= PipelineOps.ContamMinShared)
    }
    // completeness on the contamination that matters: a corpus doc whose
    // shingle set nearly duplicates a benchmark doc (Jaccard ≥ 0.9 —
    // planted dups) must be caught by the banding
    val found = rows.map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("bench_id"))).toSet
    val hot = for {
      (d, s1) <- shs.toSeq if d % 11 != 0 && s1.nonEmpty
      (b, s2) <- shs.toSeq if b % 11 == 0 && s2.nonEmpty
      inter = (s1 intersect s2).size
      if inter.toDouble / (s1.size + s2.size - inter) >= 0.9
    } yield (d, b)
    hot.foreach { p => assert(found.contains(p), s"near-dup leak $p missed") }
  }

  test("q83 shard packing: exact distributed cumsum, start-offset shards") {
    val rows = PipelineOps.q83(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cum_tokens"), r.getAs[Long]("shard")))
    assert(rows.length === Tables.documents(spark, SF).count())
    // reference cumsum computed driver-side in the same shuffle order
    def bkey(id: Long): BigInt = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ord:$id".getBytes("UTF-8"))
      BigInt(md.map("%02x".format(_)).mkString.take(15), 16)
    }
    val ordered = rows.sortBy { case (id, _, _, _) => (bkey(id), id) }
    var cum = 0L
    ordered.foreach { case (id, n, gotCum, gotShard) =>
      assert(gotShard === cum / PipelineOps.ShardTokenBudget,
        s"doc $id shard mismatch")
      cum += n
      assert(gotCum === cum, s"doc $id cumsum mismatch")
    }
    // the packing actually spreads the corpus across multiple shards
    assert(rows.map(_._4).distinct.length > 1)
    // shards are contiguous in shuffle order and non-decreasing
    val shardSeq = ordered.map(_._4)
    assert(shardSeq === shardSeq.sorted)
  }

  test("q152 subword pack: q123 membership, q151 unit masses, start-offset shards") {
    val rows = PipelineOps.q152(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_units"),
        r.getAs[Long]("cum_units"), r.getAs[Long]("shard")))
    // membership ≡ q123 at equal budgets: the mixture draw depends only
    // on doc_id and the fixpoint rates — switching the packing mass to
    // subword units must not move a single doc in or out of the build
    val m123 = PipelineOps.q123(spark, SF).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(rows.map(_._1).toSet === m123)
    // packing mass = the TRAINED tokenizer's per-doc unit counts —
    // exactly q151's n_units readout for every member doc
    val units = operators.BpeOps.q151(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_units")).toMap
    rows.foreach { case (id, n, _, _) =>
      assert(n === units.getOrElse(id, 0L), s"doc $id unit mass") }
    // shard budgets are in SUBWORD units: same exact-cumsum start-offset
    // rule as q83/q123, replayed driver-side in the shuffle order
    def bkey(id: Long): BigInt = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ord:$id".getBytes("UTF-8"))
      BigInt(md.map("%02x".format(_)).mkString.take(15), 16)
    }
    val ordered = rows.sortBy { case (id, _, _, _) => (bkey(id), id) }
    var cum = 0L
    ordered.foreach { case (id, n, gotCum, gotShard) =>
      assert(gotShard === cum / PipelineOps.ShardUnitBudget,
        s"doc $id shard mismatch")
      cum += n
      assert(gotCum === cum, s"doc $id cumsum mismatch")
    }
    assert(rows.map(_._4).distinct.length > 1)
  }

  test("q155 subword manifest ≡ driver replay over q152; migration invariants vs q131") {
    val build = PipelineOps.q152(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("n_units"), r.getAs[Long]("cum_units"),
        r.getAs[Long]("shard")))
    def sid(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sid:$id".getBytes("UTF-8"))
      (BigInt(md.map("%02x".format(_)).mkString.take(15), 16) %
        1099511627776L).toLong
    }
    val expect = build.groupBy(_._5).map { case (shard, rs) =>
      shard -> ((rs.length.toLong, rs.map(_._2).distinct.length.toLong,
        rs.map(_._3).sum, rs.map(_._4).max, rs.map(r => sid(r._1)).sum))
    }
    val got = PipelineOps.q155(spark, SF).collect().map(r =>
      r.getAs[Long]("shard") -> ((r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_langs"), r.getAs[Long]("n_units"),
        r.getAs[Long]("end_offset"), r.getAs[Long]("ids_sum")))).toMap
    assert(got === expect)
    // budget-migration invariants vs the whitespace-token manifest:
    // same MEMBERSHIP (total docs and fingerprint mass), different
    // packing (boundaries move because the mass column changed)
    val m131 = PipelineOps.q131(spark, SF).collect()
    assert(m131.map(_.getAs[Long]("n_docs")).sum ===
      got.values.map(_._1).sum)
    assert(m131.map(_.getAs[Long]("ids_sum")).sum ===
      got.values.map(_._5).sum)
  }

  test("q158 sequence pack: q152 membership, q157 chunk masses, start-offset shards") {
    val rows = PipelineOps.q158(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_units"),
        r.getAs[Long]("cum_units"), r.getAs[Long]("shard")))
    // membership: exactly q152's sampled docs that chunk at all (zero-
    // unit members pack at zero mass in q152 and have no chunks here)
    val m152 = PipelineOps.q152(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_units")).toMap
    assert(rows.map(_._1).toSet === m152.filter(_._2 > 0).keySet)
    // the packed sequences ARE q157's chunks, masses untouched: for
    // every member doc, its (chunk_id, n_tokens, n_units) rows equal
    // the chunk relation's, and the per-doc unit mass reconciles with
    // q152's doc-granularity pack EXACTLY
    val chunks = operators.BpeOps.q157(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_units")))).toMap
    rows.foreach { case (id, cid, nt, nu, _, _) =>
      assert(chunks((id, cid)) === ((nt, nu)), s"doc $id chunk $cid") }
    rows.groupBy(_._1).foreach { case (id, cs) =>
      assert(cs.map(_._4).sum === m152(id), s"doc $id unit mass")
      // chunk ids are contiguous from 0 and each chunk's START offset
      // obeys the unit-budget rule (the start-offset chunking contract)
      val ordered = cs.sortBy(_._2)
      assert(ordered.map(_._2).toSeq === (0L until cs.length).toSeq,
        s"doc $id chunk contiguity")
      var start = 0L
      ordered.foreach { case (_, cid, _, nu, _, _) =>
        assert(cid === start / operators.BpeOps.ChunkUnitBudget,
          s"doc $id chunk $cid start offset")
        start += nu
      }
    }
    // pack tail ≡ q152's rule at (doc, chunk) granularity: exact cumsum
    // in md5-bkey order, shard = start offset over the unit budget
    def bkey(id: Long, cid: Long): BigInt = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ord:$id:$cid".getBytes("UTF-8"))
      BigInt(md.map("%02x".format(_)).mkString.take(15), 16)
    }
    val ordered = rows.sortBy { case (id, cid, _, _, _, _) =>
      (bkey(id, cid), id, cid) }
    var cum = 0L
    ordered.foreach { case (id, cid, _, nu, gotCum, gotShard) =>
      assert(gotShard === cum / PipelineOps.ShardUnitBudget,
        s"doc $id chunk $cid shard")
      cum += nu
      assert(gotCum === cum, s"doc $id chunk $cid cumsum")
    }
    // shard masses are budget-bounded: every shard's start is on the
    // budget grid, so its mass ≤ budget + (its last chunk's mass − 1)
    val maxChunk = rows.map(_._4).max
    rows.groupBy(_._6).values.foreach { ss =>
      assert(ss.map(_._4).sum <= PipelineOps.ShardUnitBudget + maxChunk - 1)
    }
    assert(rows.map(_._6).distinct.length > 1)
    // sequences genuinely split docs across shard boundaries (the
    // doc-pack can't express this — the point of packing chunks)
    assert(rows.groupBy(_._1).values.exists(cs => cs.map(_._6).distinct.length > 1),
      "no doc spans a shard boundary — corpus too small for the contract")
  }

  test("q159 sequence manifest ≡ driver replay; q131/q155/q159 migration triple reconciles") {
    val build = PipelineOps.q158(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[String]("lang"), r.getAs[Long]("n_units"),
        r.getAs[Long]("cum_units"), r.getAs[Long]("shard")))
    def sid(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sid:$id".getBytes("UTF-8"))
      (BigInt(md.map("%02x".format(_)).mkString.take(15), 16) %
        1099511627776L).toLong
    }
    val expect = build.groupBy(_._6).map { case (shard, rs) =>
      shard -> ((rs.length.toLong, rs.map(_._1).distinct.length.toLong,
        rs.map(_._3).distinct.length.toLong, rs.map(_._4).sum,
        rs.map(_._5).max, rs.filter(_._2 == 0L).map(r => sid(r._1)).sum))
    }
    val got = PipelineOps.q159(spark, SF).collect().map(r =>
      r.getAs[Long]("shard") -> ((r.getAs[Long]("n_seqs"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_langs"),
        r.getAs[Long]("n_units"), r.getAs[Long]("end_offset"),
        r.getAs[Long]("ids_sum")))).toMap
    assert(got === expect)
    // THE MIGRATION TRIPLE (r10 VERDICT #2): q131 (docs by whitespace
    // tokens) → q155 (docs by subword units) → q159 (sequences by
    // subword units) fingerprint the SAME mixture membership — ids_sum
    // totals reconcile EXACTLY, with q159 short only the zero-unit
    // members (they have no chunks to fingerprint), and the unit mass
    // carried by q155 equals q159's (chunking conserves units).
    val q131Tot = PipelineOps.q131(spark, SF).collect()
      .map(_.getAs[Long]("ids_sum")).sum
    val q155Rows = PipelineOps.q155(spark, SF).collect()
    val q155Tot = q155Rows.map(_.getAs[Long]("ids_sum")).sum
    val zeroUnitSids = PipelineOps.q152(spark, SF).collect()
      .filter(_.getAs[Long]("n_units") == 0L)
      .map(r => sid(r.getAs[Long]("doc_id"))).sum
    val q159Tot = got.values.map(_._6).sum
    assert(q131Tot === q155Tot)
    assert(q155Tot === q159Tot + zeroUnitSids)
    assert(q155Rows.map(_.getAs[Long]("n_units")).sum ===
      got.values.map(_._4).sum)
    // boundaries genuinely moved down the granularity ladder: the
    // sequence build splits at least one doc across shards, which the
    // doc-granularity manifests cannot represent
    assert(build.groupBy(_._1).values.exists(cs => cs.map(_._6).distinct.length > 1))
  }

  test("q96 quota sample: exact per-stratum budgets, hash-prefix membership, map-side limit") {
    import org.apache.spark.sql.functions._
    val df = PipelineOps.q96(spark, SF)
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // per-stratum size = min(quota, stratum size)
    val strata = Tables.documents(spark, SF).groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    strata.foreach { case (l, n) =>
      assert(got(l) === math.min(PipelineOps.QuotaPerStratum, n), s"stratum $l")
    }
    // membership = prefix of the deterministic md5 order, per stratum
    def skey(id: Long): BigInt = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"quota:$id".getBytes("UTF-8"))
      BigInt(md.map("%02x".format(_)).mkString.take(15), 16)
    }
    val byLang = Tables.documents(spark, SF).select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).groupBy(_._2)
    byLang.foreach { case (l, ds) =>
      val want = ds.map(_._1).sortBy(id => (skey(id), id))
        .take(PipelineOps.QuotaPerStratum.toInt).toSet
      assert(rows.filter(_._2 == l).map(_._1).toSet === want, s"stratum $l")
    }
    // ranks are 1..quota within each stratum
    rows.groupBy(_._2).foreach { case (l, rs) =>
      assert(rs.map(_._3).sorted === (1L to rs.length.toLong), s"stratum $l")
    }
    // scale path: the rank filter is pushed to a map-side WindowGroupLimit,
    // so a corpus-sized stratum never lands whole on one window task
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q104 weighted sample: A-ES keys, no global sort, length bias holds") {
    import spark.implicits._
    val df = operators.PipelineOps.q104(spark, SF)
    val got = df.as[(Long, Long, Double)].collect().toList
    assert(got.size === operators.PipelineOps.WrsK)
    assert(got.map(_._1).distinct.size === got.size, "without replacement")
    // keys descend (ties broken by doc_id, so non-strict)
    assert(got.map(_._3).sliding(2).forall {
      case Seq(a, b) => a >= b
      case _ => true
    })
    // the sample is a true top-K of the corpus-wide key
    val all = graft.Tables.documents(spark, SF)
      .select(col("doc_id"), (size(graft.text.Text.tokens(col("text"))) + 1).cast("long").as("w"))
      .as[(Long, Long)].collect()
    def key(id: Long, w: Long): (Long, Long) = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"wrs:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val hm = java.lang.Long.parseLong(hex, 16) % 1000000000000000L
      (math.round((math.log((hm + 0.5) / 1.0e15) / w) * 1000000.0), id)
    }
    val exact = all.map { case (id, w) => (id, w, key(id, w)) }
      .sortBy { case (_, _, (km, id)) => (-km, id) }
      .take(operators.PipelineOps.WrsK)
      .map { case (id, w, (km, _)) => (id, w, km / 1000000.0) }.toList
    assert(got === exact)
    // heavier (longer) docs are over-represented vs a uniform draw:
    // mean weight of the sample should exceed the corpus mean
    val corpusMean = all.map(_._2).sum.toDouble / all.length
    val sampleMean = got.map(_._2).sum.toDouble / got.size
    assert(sampleMean > corpusMean)
    // scale shape: top-k must plan as a take-ordered, not a global sort
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q120 fixpoint: reached at test SF, caps honored, uncapped langs get exact shares") {
    val rows = PipelineOps.q120(spark, SF).collect().map(r => (
      r.getAs[String]("lang"), r.getAs[Long]("clean_tokens"),
      r.getAs[Long]("share_micros"), r.getAs[Long]("rate_micros"),
      r.getAs[Long]("alloc_tokens")))
    assert(rows.nonEmpty)
    def idivHA(p: Long, q: Long) = (2 * p + q) / (2 * q) // nonneg args
    val t = rows.map(_._5).sum
    // REACHED, not approximated: applying the map once more returns t
    val tNext = rows.map { case (_, clean, share, _, _) =>
      math.min(clean, idivHA(share * t, 1000000L)) }.sum
    assert(tNext === t, "one more water-filling round changed the total")
    rows.foreach { case (lang, clean, share, rate, alloc) =>
      assert(alloc <= clean, lang)                      // never exceeds supply
      assert(rate <= 1000000L, lang)                    // rate is a probability
      if (alloc < clean)                                 // uncapped ⇒ exact share
        assert(alloc === idivHA(share * t, 1000000L), lang)
      else assert(rate === 1000000L, lang)               // capped ⇒ full take
    }
    // shares partition the unit (± per-lang rounding)
    val ssum = rows.map(_._3).sum
    assert(math.abs(ssum - 1000000L) <= rows.length)
    // water-filling only ever removes mass relative to take-everything
    assert(t <= rows.map(_._2).sum)
    // and the drift it exists to fix is real at test SF: q114's capped
    // rates leave at least one language short of its share of ITS total
    val anyCapped = rows.exists { case (_, clean, _, _, alloc) => alloc === clean }
    if (anyCapped) assert(t < rows.map(_._2).sum)
  }

  test("q123 fixpoint build: membership replays q120's rates, pack invariants hold") {
    val policy = PipelineOps.q120(spark, SF).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("rate_micros")).toMap
    val b = PipelineOps.q123(spark, SF).collect().map(r => (
      r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[Double]("weight"),
      r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens"), r.getAs[Long]("shard")))
    assert(b.nonEmpty)
    def u(id: Long): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md5.take(15), 16) % 1000000L
    }
    // membership = the q120 policy draw, weight = 1/rate (half-away micros)
    b.foreach { case (id, lang, w, _, _, _) =>
      val micros = policy(lang)
      assert(u(id) < micros, s"doc $id sampled against its fixpoint rate")
      assert(w === ((2 * 1000000L * 1000000L + micros) / (2 * micros)) / 1e6,
        s"doc $id weight")
    }
    // realized clean mass per lang is the fixpoint allocation ± one doc
    // (the draw is a deterministic u<rate thinning, not exact-count)
    val pop = PipelineOps.q120(spark, SF).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("alloc_tokens"), r.getAs[Long]("clean_tokens")))).toMap
    val byLang = b.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    byLang.foreach { case (lang, got) =>
      assert(got <= pop(lang)._2, s"$lang exceeds supply") }
    // pack invariants: cumsum totals the sample; shard = offset div budget
    assert(b.map(_._5).max === b.map(_._4).sum)
    b.foreach { case (_, _, _, n, cum, sh) =>
      assert(sh === (cum - n) / PipelineOps.ShardTokenBudget) }
    // capped langs (rate 1e6) contribute EVERY population doc: q118 ⊆ q123
    // never holds in general, but the q116 sample (q114 rates ≥ q82) and
    // q123 (fixpoint ≤ q114 per-lang when uncapped) share the same draw —
    // so q123 membership ⊆ q116 membership per doc
    val m116 = PipelineOps.q116(spark, SF).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val fixRates = policy
    val q114Rates = PipelineOps.q114(spark, SF).collect()
      .map(r => r.getAs[String]("lang") ->
        math.round(r.getAs[Double]("rate_adj") * 1e6)).toMap
    b.foreach { case (id, lang, _, _, _, _) =>
      if (fixRates(lang) <= q114Rates(lang))
        assert(m116(id), s"doc $id in q123 but not q116 despite lower rate") }
  }

  test("q121 DSIR selection: ranked take-ordered top-N; cross-split duplicates of the target surface") {
    import org.apache.spark.sql.functions._
    val df = PipelineOps.q121(spark, SF)
    val got = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_micros")))
    assert(got.nonEmpty && got.length <= PipelineOps.DsirTopN)
    // already ranked best-first with the doc_id tiebreak
    assert(got.sortBy(t => (-t._2, t._1)).toSeq === got.toSeq)
    // no target doc leaks into the selection (target is the model, not
    // a candidate)
    got.foreach { case (id, _) => assert(id % 97 != 0, s"target doc $id selected") }
    // scale shape: top-N must plan as a take-ordered, not a global sort
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // discrimination: a corpus doc that is an EXACT token-set duplicate
    // of a target doc is maximally target-like — if the corpus has one,
    // DSIR must select it
    val fp = Tables.documents(spark, SF)
      .select(col("doc_id"), md5(concat_ws(" ",
        array_sort(array_distinct(graft.text.Text.tokens(col("text")))))).as("fp"))
    val targetFp = fp.filter(col("doc_id") % 97 === 0).select(col("fp")).distinct()
    val dupIds = fp.filter(col("doc_id") % 97 =!= 0)
      .join(targetFp, "fp").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    if (dupIds.nonEmpty)
      assert(got.exists { case (id, _) => dupIds(id) },
        s"no cross-split duplicate of the target in the top-${PipelineOps.DsirTopN}")
  }

  test("q131 shard manifest ≡ driver replay over the q123 build") {
    import org.apache.spark.sql.functions._
    val build = PipelineOps.q123(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens"),
        r.getAs[Long]("shard")))
    def sid(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sid:$id".getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 1099511627776L
    }
    val want = build.groupBy(_._5).map { case (shard, rs) =>
      shard -> ((rs.length.toLong, rs.map(_._2).distinct.length.toLong,
        rs.map(_._3).sum, rs.map(_._4).max, rs.map(r => sid(r._1)).sum))
    }
    val got = PipelineOps.q131(spark, SF).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got === want)
    assert(got.nonEmpty)
    // the fingerprint is membership-sensitive: removing any one doc
    // from a shard moves ids_sum (sid is 40-bit, collisions with the
    // REMOVAL of a single term are impossible — the sum strictly drops
    // unless the doc hashed to 0, excluded below)
    val probe = build.find(r => sid(r._1) != 0L).get
    assert(want(probe._5)._5 - sid(probe._1) !== want(probe._5)._5)
  }

  test("q162 epoch ordering: exact q158 membership per epoch, distinct permutations, dense ranks") {
    val pack = PipelineOps.q158(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("shard"))).toSet
    val rows = PipelineOps.q162(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet ===
      (0 until PipelineOps.Epochs).map(_.toLong).toSet)
    byEpoch.foreach { case (_, rs) =>
      // exact membership — every epoch replays the whole sequence pack
      // (incl. the shard each sequence lives in), nothing added/dropped
      assert(rs.map(r => (r._3, r._4, r._5)).toSet === pack)
      // ranks are a dense 1..N permutation (the loader's epoch stream)
      assert(rs.map(_._2).sorted.toSeq === (1L to pack.size).toSeq)
    }
    // permutation-not-identity: the seeded shuffle actually shuffles —
    // all epochs order the sequences differently
    val orders = (0 until PipelineOps.Epochs).map(e =>
      byEpoch(e.toLong).sortBy(_._2).map(r => (r._3, r._4)).toSeq)
    assert(orders.distinct.size === PipelineOps.Epochs,
      "epoch permutations must differ pairwise")
  }

  test("q166 loader resume: prefix ∪ suffix ≡ the full epoch stream, mid-epoch cut, deterministic") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val full = PipelineOps.q162(spark, SF).collect().map(key)
    val suffix = PipelineOps.q166(spark, SF).collect().map(key)
    val re = PipelineOps.ResumeEpoch
    val rr = PipelineOps.ResumeRank
    // the suffix is EXACTLY the unconsumed tail of the deterministic
    // stream — same rows, same order (a re-served sequence would
    // double-train; a skipped one silently drops data)
    assert(suffix.toSeq ===
      full.filter(r => r._1 > re || (r._1 == re && r._2 > rr)).toSeq)
    val prefix = full.filter(r => r._1 < re || (r._1 == re && r._2 <= rr))
    assert((prefix.toSet intersect suffix.toSet).isEmpty)
    assert(prefix.length + suffix.length === full.length)
    // the checkpoint cuts genuinely MID-epoch: the resume epoch has
    // consumed rows AND unconsumed rows
    assert(prefix.exists(_._1 == re) && suffix.exists(_._1 == re),
      s"sequence pack too small at $SF for a mid-epoch cut")
    // a restarted loader recomputes the same suffix — pure function of
    // the two-long checkpoint, no other loader state
    assert(PipelineOps.q166(spark, SF).collect().map(key).toSeq === suffix.toSeq)
  }

  test("q171 curriculum: epoch 0 quality-descending, epochs ≥ 1 ≡ q162's shuffle exactly") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val cur = PipelineOps.q171(spark, SF).collect().map(key)
    val shuffled = PipelineOps.q162(spark, SF).collect().map(key)
    // schedule switching: epochs >= 1 are the SAME stream as q162's
    assert(cur.filter(_._1 >= 1L).toSeq === shuffled.filter(_._1 >= 1L).toSeq)
    // epoch 0: exact pack membership, dense ranks
    val pack = PipelineOps.q158(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("shard"))).toSet
    val e0 = cur.filter(_._1 == 0L).sortBy(_._2)
    assert(e0.map(r => (r._3, r._4, r._5)).toSet === pack)
    assert(e0.map(_._2).toSeq === (1L to pack.size).toSeq)
    // the curriculum actually orders by quality: recompute each doc's
    // stopword-ratio micros locally and pin non-increasing along ranks
    val re = "[a-z0-9]+".r
    val stop = graft.text.Text.Stopwords.toSet
    val qOf = Tables.documents(spark, SF).select("doc_id", "text").collect()
      .map { r =>
        val ts = re.findAllIn(r.getString(1).toLowerCase).toSeq
        val micros =
          if (ts.isEmpty) -1L
          else {
            val p = ts.count(stop) * 1000000L
            (2L * p + ts.length) / (2L * ts.length) // half-away ⌊p/q⌉
          }
        r.getLong(0) -> micros
      }.toMap
    val qs = e0.map(r => qOf(r._3))
    assert(qs.zip(qs.tail).forall { case (a, b) => a >= b },
      "epoch-0 ranks must be quality-descending")
    // the curriculum is a genuinely different epoch-0 permutation
    assert(e0.map(r => (r._3, r._4)).toSeq !==
      shuffled.filter(_._1 == 0L).sortBy(_._2).map(r => (r._3, r._4)).toSeq)
    // and quality genuinely varies across the pack (premise)
    assert(qs.distinct.length > 1)
  }

  test("q165 pack artifact: read-back ≡ the in-memory build, shard seek prunes, standing reuse") {
    import org.apache.spark.sql.functions.col
    def packKey(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[String]("lang"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_units"), r.getAs[Long]("cum_units"),
        r.getAs[Long]("shard"))
    // manifest over the artifact ≡ manifest over the in-memory build
    // (the registered oracle contract, pinned locally too)
    val mArt = PipelineOps.q165(spark, SF).collect().map(_.toSeq)
    val mMem = PipelineOps.q159(spark, SF).collect().map(_.toSeq)
    assert(mArt === mMem)
    val base = Standing.dir(spark, "seqpack")
    val gen = graft.GenManifest.current(base, "pack")
    // every sequence survives the disk hop byte-for-byte
    val art = PipelineOps.Lineage.Pack.read(spark, base).collect().map(packKey).sorted
    val mem = PipelineOps.q158(spark, SF).collect().map(packKey).sorted
    assert(art === mem)
    // standing reuse: a second registered call must not re-publish
    PipelineOps.q165(spark, SF).collect()
    assert(graft.GenManifest.current(base, "pack") === gen)
    // the loader's seek: reading one shard is partition-pruned to one
    // directory (the manifest's end offsets are the seek handles)
    val seek = PipelineOps.Lineage.Pack.read(spark, base).filter(col("shard") === 0L)
    val pf = seek.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.matches(""".*PartitionFilters: \[[^\]]*shard[^\]]*=[^\]]*0[^\]]*\].*"""),
      s"shard seek must prune partitions, got: $pf")
    assert(seek.collect().map(packKey).sorted ===
      mem.filter(_._7 == 0L))
    // the REGISTERED q172 shard read carries the same pruned scan and
    // returns exactly the build's shard-0 rows (its oracle contract)
    val q172 = PipelineOps.q172(spark, SF)
    val pf172 = q172.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf172.matches(""".*PartitionFilters: \[[^\]]*shard[^\]]*=[^\]]*0[^\]]*\].*"""),
      s"q172 must prune partitions, got: $pf172")
    assert(q172.collect().map(packKey).sorted === mem.filter(_._7 == 0L))
  }

  test("q173 sequence decontamination: pack membership, exact local shingle recompute, chunk-level cut") {
    val rows = PipelineOps.q173(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5)))
    // output = the pack, row for row (flags annotate, never filter)
    val pack = PipelineOps.q158(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("shard"), r.getAs[Long]("n_units")))
    assert(rows.map(r => (r._1, r._2, r._3, r._4)).sorted.toSeq ===
      pack.sorted.toSeq)
    // exact local recompute of every chunk's shared-shingle count
    val re = "[a-z0-9]+".r
    val k = PipelineOps.ContamShingleK
    def grams(ts: Seq[String]): Set[String] =
      if (ts.length < k) Set.empty
      else ts.sliding(k).map(_.mkString(" ")).toSet
    val bench = Tables.documents(spark, SF).select("doc_id", "text")
      .collect()
      .filter(_.getLong(0) % 97 == 0)
      .flatMap(r => grams(re.findAllIn(r.getString(1).toLowerCase).toSeq))
      .toSet
    assert(bench.nonEmpty, "test premise: benchmark docs exist at this SF")
    val chunkGrams = graft.operators.BpeOps.q157(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
        grams(r.getAs[String]("text_chunk").split(" ").toSeq)).toMap
    rows.foreach { case (d, c, _, _, nShared, flag) =>
      val expect = (chunkGrams((d, c)) intersect bench).size.toLong
      assert(nShared === expect, s"chunk ($d,$c) n_shared")
      assert(flag === (if (expect >= PipelineOps.ContamMinShared) 1 else 0))
    }
    // the op flags something AND spares something (premise: the pack
    // holds eval-overlapping chunks at this SF, and most chunks clean)
    assert(rows.exists(_._6 == 1), "premise: some chunk is contaminated")
    assert(rows.count(_._6 == 0) > rows.count(_._6 == 1))
    // the SEQUENCE-level win: at least one doc keeps clean chunks
    // beside a flagged one — the mass doc-level decontamination (q85's
    // granularity) would have needlessly cut
    val byDoc = rows.groupBy(_._1).values
    assert(byDoc.exists(rs => rs.exists(_._6 == 1) && rs.exists(_._6 == 0)),
      "premise: a doc with both flagged and clean chunks")
  }

  test("q167 manifest diff: budget migration reconciles, synthetic shrink/add/change statuses") {
    val rows = PipelineOps.q167(spark, SF).collect()
    assert(rows.nonEmpty)
    def sumOf(name: String) = rows.collect {
      case r if !r.isNullAt(r.fieldIndex(name)) => r.getAs[Long](name) }.sum
    def maxOf(name: String) = rows.collect {
      case r if !r.isNullAt(r.fieldIndex(name)) => r.getAs[Long](name) }.max
    // both manifests account the SAME pack: totals reconcile exactly
    assert(sumOf("old_seqs") === sumOf("new_seqs"))
    assert(sumOf("old_units") === sumOf("new_units"))
    assert(sumOf("old_ids") === sumOf("new_ids"))
    assert(maxOf("old_end") === maxOf("new_end"))
    // a pure budget migration never loses a shard id (dense ranges, the
    // old range is a prefix of the new)
    val statuses = rows.map(_.getAs[String]("status")).toSet
    assert(!statuses.contains("removed"))
    assert(statuses.subsetOf(Set("same", "changed", "added")))
    // the diff itself, on synthetic manifests: every status reachable
    import spark.implicits._
    val oldM = Seq((0L, 2L, 100L, 100L, 7L), (1L, 1L, 50L, 150L, 3L),
      (2L, 1L, 40L, 190L, 9L))
      .toDF("shard", "n_seqs", "n_units", "end_offset", "ids_sum")
    val newM = Seq((0L, 2L, 100L, 100L, 7L), (1L, 2L, 60L, 160L, 3L),
      (3L, 1L, 30L, 190L, 11L))
      .toDF("shard", "n_seqs", "n_units", "end_offset", "ids_sum")
    val d = PipelineOps.manifestDiff(oldM, newM).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(0L -> "same", 1L -> "changed", 2L -> "removed",
      3L -> "added"))
  }

  test("q174 decontaminated repack: clean mass ≡ unflagged mass, flagged rows gone, contiguous re-pack") {
    val flags = PipelineOps.q173(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getInt(5)))
    val flaggedKeys = flags.filter(_._4 == 1).map(r => (r._1, r._2)).toSet
    val cleanKeys = flags.filter(_._4 == 0).map(r => (r._1, r._2)).toSet
    val cleanMass = flags.filter(_._4 == 0).map(_._3).sum
    val flaggedMass = flags.filter(_._4 == 1).map(_._3).sum
    assert(flaggedKeys.nonEmpty, "premise: something to cut at this SF")
    val diff = PipelineOps.q174(spark, SF).collect()
    def sumOf(name: String) = diff.collect {
      case r if !r.isNullAt(r.fieldIndex(name)) => r.getAs[Long](name) }.sum
    def maxOf(name: String) = diff.collect {
      case r if !r.isNullAt(r.fieldIndex(name)) => r.getAs[Long](name) }.max
    // the migration reconciles minus EXACTLY the flagged mass, and the
    // clean build's final offset is the clean mass (a true re-pack, not
    // a filter of the old offsets)
    assert(sumOf("new_units") === cleanMass)
    assert(maxOf("new_end") === cleanMass)
    assert(sumOf("old_units") - sumOf("new_units") === flaggedMass)
    assert(sumOf("old_seqs") - sumOf("new_seqs") === flaggedKeys.size.toLong)
    // boundaries genuinely moved somewhere (flagged mass > 0 shifts every
    // later offset)
    assert(diff.exists(_.getAs[String]("status") == "changed"))
    // the persisted clean artifact: flagged keys absent, clean membership
    // exact, offsets a contiguous prefix sum from zero
    val base = PipelineOps.cleanPackArtifact(spark, SF)
    val art = PipelineOps.Lineage.PackClean.read(spark, base).collect()
    val artKeys = art.map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"))).toSet
    assert((artKeys intersect flaggedKeys) === Set.empty)
    assert(artKeys === cleanKeys)
    art.sortBy(_.getAs[Long]("cum_units")).foldLeft(0L) { (prev, r) =>
      assert(r.getAs[Long]("cum_units") - r.getAs[Long]("n_units") === prev,
        s"gap at doc ${r.getAs[Long]("doc_id")} chunk ${r.getAs[Long]("chunk_id")}")
      r.getAs[Long]("cum_units")
    }
    // shard ids obey the start-offset budget rule in the NEW offsets
    art.foreach { r =>
      assert(r.getAs[Long]("shard") ===
        (r.getAs[Long]("cum_units") - r.getAs[Long]("n_units")) /
          PipelineOps.ShardUnitBudget)
    }
    // standing reuse: a second registered call must not re-publish
    val gen = graft.GenManifest.current(base, "packclean")
    PipelineOps.q174(spark, SF).collect()
    assert(graft.GenManifest.current(base, "packclean") === gen)
    // and the shipped q165 lineage is UNDISTURBED by the migration (a
    // loader pinned on the contaminated build keeps its rows)
    val shipped = PipelineOps.Lineage.Pack.read(spark, base).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"))).toSet
    assert(shipped === cleanKeys ++ flaggedKeys)
  }

  test("q178 clean epoch order: flagged sequences structurally absent from every epoch, each a full permutation") {
    val flags = PipelineOps.q173(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(5)))
    val flaggedKeys = flags.filter(_._3 == 1).map(r => (r._1, r._2)).toSet
    val cleanKeys = flags.filter(_._3 == 0).map(r => (r._1, r._2)).toSet
    assert(flaggedKeys.nonEmpty, "premise: something was cut")
    val rows = PipelineOps.q178(spark, SF).collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("seq_rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")))
    (0L until PipelineOps.Epochs).foreach { e =>
      val ep = rows.filter(_._1 == e)
      // every epoch is a full permutation of the CLEAN membership
      assert(ep.map(r => (r._3, r._4)).toSet === cleanKeys, s"epoch $e membership")
      assert(ep.map(_._2).sorted.toSeq === (1L to cleanKeys.size).toSeq,
        s"epoch $e ranks")
      // and never serves a flagged sequence
      assert(ep.map(r => (r._3, r._4)).toSet.intersect(flaggedKeys).isEmpty)
    }
    // the draw rule is q162's: the clean stream is the q162 stream with
    // flagged sequences deleted ORDER-PRESERVED (same okey rule, fewer
    // rows — relative order of surviving keys is identical per epoch)
    val dirty = PipelineOps.q162(spark, SF).collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("seq_rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")))
    (0L until PipelineOps.Epochs).foreach { e =>
      val cleanOrder = rows.filter(_._1 == e).sortBy(_._2).map(r => (r._3, r._4))
      val dirtyOrder = dirty.filter(_._1 == e).sortBy(_._2).map(r => (r._3, r._4))
        .filter(cleanKeys)
      assert(cleanOrder.toSeq === dirtyOrder.toSeq, s"epoch $e relative order")
    }
  }

  test("q177 step read: exact batch vs the epoch stream, scan prunes to only the touched shards") {
    val rows = PipelineOps.q177(spark, SF).collect()
    // the batch is EXACTLY the epoch stream's rank range
    val want = PipelineOps.q162(spark, SF).collect()
      .filter(r => r.getAs[Long]("epoch") == PipelineOps.StepEpoch &&
        r.getAs[Long]("seq_rank") > PipelineOps.StepLoRank &&
        r.getAs[Long]("seq_rank") <= PipelineOps.StepHiRank)
      .map(r => (r.getAs[Long]("seq_rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("chunk_id"), r.getAs[Long]("shard"))).sorted
    assert(want.nonEmpty, "premise: the rank range is non-empty at this SF")
    assert(rows.map(r => (r.getAs[Long]("seq_rank"), r.getAs[Long]("doc_id"),
      r.getAs[Long]("chunk_id"), r.getAs[Long]("shard"))).sorted.toSeq ===
      want.toSeq)
    // payload columns are the build's, through the artifact read
    val pack = PipelineOps.q158(spark, SF).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
        ((r.getAs[String]("lang"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_units"), r.getAs[Long]("cum_units")))).toMap
    rows.foreach { r =>
      assert(pack((r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"))) ===
        ((r.getAs[String]("lang"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_units"), r.getAs[Long]("cum_units"))))
    }
    // the artifact scan's PartitionFilters lists EXACTLY the touched
    // shards — the read never scans the whole artifact (strip attribute
    // ids #123L first so the only numbers left are the shard values)
    val touched = rows.map(_.getAs[Long]("shard")).distinct.sorted.toSeq
    val pf = PipelineOps.q177(spark, SF).queryExecution.executedPlan
      .toString.linesIterator
      .filter(_.contains("PartitionFilters"))
      .find(_.contains("shard")).getOrElse("")
    assert(pf.nonEmpty, "q177 must carry a partition-pruned artifact scan")
    val listed = "\\b\\d+\\b".r
      .findAllIn(pf.replaceAll("#\\d+L?", "#x")
        .replaceAll(".*PartitionFilters: \\[", "").replaceAll("\\].*", ""))
      .map(_.toLong).toSeq.distinct.sorted
    assert(listed === touched,
      s"scan must prune to exactly $touched, got filter: $pf")
  }

  test("q121 DSIR at 2^20 buckets: model stays a broadcast map-side table") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, SF)
    // the registered width, via the parameterized form — one path
    val narrow = PipelineOps.q121Of(docs, PipelineOps.DsirBuckets, PipelineOps.DsirTopN)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(narrow === PipelineOps.q121(spark, SF)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList)
    // realistic width: 2^20 buckets ≈ one expected collision per bucket
    // at web-scale n-gram vocabularies (~17 MB of model — far under any
    // broadcast ceiling)
    val wide = PipelineOps.q121Of(docs, 1 << 20, PipelineOps.DsirTopN)
    val plan = wide.queryExecution.executedPlan.toString
    // the lr model must reach the scoring join as a BROADCAST — a width
    // that demoted it to a shuffle join would put an m-row exchange on
    // the corpus-linear scoring path
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"lr model not broadcast at 2^20 buckets:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    val wideRows = wide.collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(wideRows.nonEmpty && wideRows.length <= PipelineOps.DsirTopN)
    assert(wideRows.sortBy(t => (-t._2, t._1)) === wideRows)
    wideRows.foreach { case (id, _) => assert(id % 97 != 0) }
    // finer buckets = fewer aliased features: widening can only grow the
    // number of distinct populated buckets (collisions merge, never
    // split), approaching the true vocabulary size from below — the
    // collision/selectivity trade the width doc describes
    def populated(m: Int) = docs
      .select(col("doc_id"), graft.text.Text.tokens(col("text")).as("toks"))
      .select(explode(concat(col("toks"),
        graft.text.Text.shingles(col("toks"), 2))).as("f"))
      .select((conv(substring(md5(concat(lit("dsir:"), col("f"))), 1, 15), 16, 10)
        .cast("long") % m).as("b"))
      .distinct().count()
    val vocab = docs
      .select(col("doc_id"), graft.text.Text.tokens(col("text")).as("toks"))
      .select(explode(concat(col("toks"),
        graft.text.Text.shingles(col("toks"), 2))).as("f"))
      .select(col("f")).distinct().count()
    val popNarrow = populated(PipelineOps.DsirBuckets)
    val popWide = populated(1 << 20)
    assert(popNarrow <= popWide && popWide <= vocab,
      s"bucket population not monotone in width: $popNarrow / $popWide / vocab $vocab")
    assert(popWide > popNarrow,
      s"widening resolved no collisions at vocab $vocab — test vacuous")
  }

  test("q150: folds partition the corpus, clusters never span folds, naive rule would leak") {
    val rows = PipelineOps.q150(spark, SF).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq === Seq("test", "train", "val"))
    val nDocs = Tables.documents(spark, SF).count()
    assert(rows.map(_.getLong(1)).sum === nDocs) // folds partition docs
    // the guarantee: zero clusters span folds under the cluster rule
    rows.foreach(r => assert(r.getLong(4) === 0L, r.toString))
    // ...and the md5(doc_id) counterfactual WOULD have leaked (the test
    // corpus carries near-dup clusters by design, so this is non-vacuous)
    assert(rows.head.getLong(5) > 0)
    // independent member-level recheck against the engine's LABELS (not
    // its own fold rule — recomputing fold(root) per member is vacuous):
    // per-fold doc masses under the local md5 rule must equal the
    // engine's per-split counts, and the local NAIVE recount (folds of
    // the member doc_ids themselves) must reproduce the engine's
    // naive_leaked_clusters number
    val byRoot = operators.DedupOps.q74(spark, SF)
      .select(col("doc_id"), col("root")).collect()
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(0)).toSeq).toMap
    def hm(x: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(x.toString.getBytes("UTF-8"))
      (BigInt(d.map("%02x".format(_)).mkString.take(15), 16) % 100).toLong
    }
    def fold(k: Long): String =
      if (hm(k) < 10) "test" else if (hm(k) < 20) "val" else "train"
    val perFold = byRoot.toSeq
      .flatMap { case (root, ms) => ms.map(_ => fold(root)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    rows.foreach(r => assert(perFold(r.getString(0)) === r.getLong(1)))
    val naiveLeaked = byRoot.count { case (_, ms) =>
      ms.map(fold).distinct.size > 1 }
    assert(rows.head.getLong(5) === naiveLeaked.toLong)
    // and the naive leak really comes from multi-doc clusters only
    assert(byRoot.filter(_._2.size > 1).count { case (_, ms) =>
      ms.map(fold).distinct.size > 1 } === naiveLeaked)
  }

  test("q179 length batches: bucket discipline, full batches, structural fill floor, exact membership") {
    val pack = PipelineOps.q158(spark, SF).collect()
    val rows = PipelineOps.q179(spark, SF).collect().map(r =>
      (r.getAs[Long]("bucket"), r.getAs[Long]("batch_id"),
        r.getAs[Long]("n_seqs"), r.getAs[Long]("max_units"),
        r.getAs[Long]("sum_units"), r.getAs[Long]("pad_units"),
        r.getAs[Double]("fill")))
    // membership: every pack sequence lands in exactly one batch
    assert(rows.map(_._3).sum === pack.length.toLong)
    // unit mass conserved through the batching
    assert(rows.map(_._5).sum === pack.map(_.getAs[Long]("n_units")).sum)
    rows.foreach { case (bucket, batch, n, mx, sm, pad, fill) =>
      // bucket really is the power-of-two bin of its members' lengths
      assert(mx >= (1L << bucket) && mx < (1L << (bucket + 1)),
        s"bucket $bucket max $mx")
      assert(n <= PipelineOps.LoaderBatchSeqs)
      assert(pad === n * mx - sm)
      // within a bucket max/min differ < 2x, so fill >= 0.5 structurally
      assert(fill >= 0.5 && fill <= 1.0, s"bucket $bucket batch $batch fill $fill")
    }
    // full-batch discipline: only a bucket's LAST batch may be partial
    rows.groupBy(_._1).foreach { case (bucket, bs) =>
      val lastId = bs.map(_._2).max
      bs.filter(_._2 != lastId).foreach(b =>
        assert(b._3 === PipelineOps.LoaderBatchSeqs,
          s"bucket $bucket batch ${b._2} not full"))
      // batch ids are dense 0..last
      assert(bs.map(_._2).sorted.toSeq === (0L to lastId).toSeq)
    }
    // the corpus genuinely spans several length buckets (non-vacuous)
    assert(rows.map(_._1).distinct.length >= 3)
  }

  test("q183 soft-dedup weights: exact pack membership, cluster sizes from the cc50 labels, half-away weights") {
    val pack = PipelineOps.q158(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
        (r.getAs[Long]("n_units"), r.getAs[Long]("shard"))).toMap
    val labels = operators.DedupOps.q74(spark, SF)
      .select(col("doc_id"), col("root")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val csize = labels.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val rows = PipelineOps.q183(spark, SF).collect()
    // one weighted row per pack sequence, nothing added or dropped
    assert(rows.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("chunk_id"))).toSet === pack.keySet)
    rows.foreach { r =>
      val k = (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"))
      assert((r.getAs[Long]("n_units"), r.getAs[Long]("shard")) === pack(k))
      val cs = csize(labels(r.getAs[Long]("doc_id")))
      assert(r.getAs[Long]("csize") === cs)
      // exact half-away micros: 10^6 / csize
      assert(r.getAs[Long]("w_micros") === (2L * 1000000L + cs) / (2L * cs))
    }
    // soft dedup is non-vacuous here: real multi-doc clusters downweight
    assert(rows.exists(_.getAs[Long]("csize") > 1L))
    assert(rows.exists(_.getAs[Long]("w_micros") === 1000000L))
  }

  test("q184 repeat plan: exact BigInt replay, cap binds both ways, shortfall reconciles") {
    val rows = PipelineOps.q184(spark, SF).collect()
    // independent driver-side replay from the per-doc unit relation
    val langOf = Tables.documents(spark, SF).select("doc_id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val m = operators.BpeOps.docUnits(spark, SF).collect()
      .groupBy(r => langOf(r.getAs[Long]("doc_id")))
      .view.mapValues(_.map(_.getAs[Long]("n_units")).sum).toMap
    val tot = m.values.sum
    def halfAway(p: BigInt, q: BigInt): BigInt = (p * 2 + q) / (q * 2)
    val w = PipelineOps.RepeatWeights.toMap
    assert(rows.map(_.getString(0)).toSet === w.keySet.intersect(m.keySet))
    rows.foreach { r =>
      val lang = r.getString(0)
      val target = halfAway(
        BigInt(PipelineOps.RepeatFactor) * BigInt(tot) * BigInt(w(lang)),
        BigInt(1000000L))
      val rep = halfAway(target * 1000000L, BigInt(m(lang)))
      val capped = rep.min(BigInt(PipelineOps.MaxRepeats * 1000000L))
      val ach = halfAway(BigInt(m(lang)) * capped, BigInt(1000000L))
      assert(r.getAs[Long]("m_units") === m(lang))
      assert(r.getAs[Long]("target_units") === target.toLong)
      assert(r.getAs[Long]("repeats_micros") === rep.toLong)
      assert(r.getAs[Long]("capped_micros") === capped.toLong)
      assert(r.getAs[Long]("achievable_units") === ach.toLong)
      assert(r.getAs[Long]("shortfall_units") ===
        (target - ach).max(BigInt(0)).toLong)
    }
    // the cap genuinely BINDS somewhere and genuinely doesn't elsewhere
    assert(rows.exists(_.getAs[Long]("shortfall_units") > 0L))
    assert(rows.exists(_.getAs[Long]("shortfall_units") === 0L))
  }

  test("q185 batch manifest: per-epoch totals identical, full batches, permutations differ across epochs") {
    val pack = PipelineOps.q158(spark, SF).collect()
    val rows = PipelineOps.q185(spark, SF).collect().map(r =>
      (r.getAs[Long]("epoch"), r.getAs[Long]("batch_id"),
        r.getAs[Long]("n_seqs"), r.getAs[Long]("n_units"),
        r.getAs[Long]("checksum")))
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet === (0 until PipelineOps.Epochs).map(_.toLong).toSet)
    // every epoch manifests the SAME membership: identical totals
    val totals = byEpoch.values.map(bs =>
      (bs.map(_._3).sum, bs.map(_._4).sum, bs.map(_._5).sum)).toSeq.distinct
    assert(totals.size === 1, s"epoch totals diverge: $totals")
    assert(totals.head._1 === pack.length.toLong)
    assert(totals.head._2 === pack.map(_.getAs[Long]("n_units")).sum)
    byEpoch.foreach { case (e, bs) =>
      val lastId = bs.map(_._2).max
      // dense batch ids; only the last batch may be partial
      assert(bs.map(_._2).sorted.toSeq === (0L to lastId).toSeq)
      bs.filter(_._2 != lastId).foreach(b =>
        assert(b._3 === PipelineOps.LoaderBatchSeqs, s"epoch $e batch ${b._2}"))
    }
    // but the per-batch CONTENT differs epoch to epoch (the q162 shuffle):
    // checksum sequences are distinct across epochs
    val sigs = byEpoch.values.map(_.sortBy(_._2).map(_._5).toSeq).toSeq
    assert(sigs.distinct.size === PipelineOps.Epochs)
    // deterministic: an audit replays the same manifest
    assert(PipelineOps.q185(spark, SF).collect().map(_.toSeq.toList).toList ===
      rows.map(t => List[Any](t._1, t._2, t._3, t._4, t._5)).toList)
  }

  test("q188 effective-mass manifest: reconciles with q183 per shard, duplication tax visible") {
    val w = PipelineOps.q183(spark, SF).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_units"), r.getAs[Long]("w_micros")))
    val rows = PipelineOps.q188(spark, SF).collect()
    assert(rows.map(_.getAs[Long]("shard")).toSet === w.map(_._1).toSet)
    rows.foreach { r =>
      val shard = r.getAs[Long]("shard")
      val ms = w.filter(_._1 == shard)
      assert(r.getAs[Long]("n_seqs") === ms.length.toLong)
      assert(r.getAs[Long]("n_docs") === ms.map(_._2).distinct.length.toLong)
      val raw = ms.map(_._3).sum
      assert(r.getAs[Long]("raw_units") === raw)
      // exact half-away over the unit-micros sum
      val effMicros = ms.map(m => BigInt(m._3) * BigInt(m._4)).sum
      val eff = ((effMicros * 2 + 1000000L) / (2L * 1000000L)).toLong
      assert(r.getAs[Long]("effective_units") === eff)
      // weights <= 1 => effective never exceeds raw
      assert(r.getAs[Long]("effective_units") <= raw)
    }
    // the duplication tax is visible: some shard's effective mass is
    // strictly below its raw mass (the corpus carries real dup clusters)
    assert(rows.exists(r =>
      r.getAs[Long]("effective_units") < r.getAs[Long]("raw_units")))
  }

  test("q190 pack audit lifecycle: clean, forged append flags its shard, compaction republishes, lost shard removed, rebuild recovers") {
    import spark.implicits._
    val base = PipelineOps.packArtifact(spark, SF)
    // 1. a fresh artifact audits clean: stored ≡ recomputed on every shard
    val a0 = PipelineOps.q190(spark, SF).collect()
    assert(a0.nonEmpty)
    assert(a0.forall(_.getAs[String]("status") == "same"), a0.mkString("\n"))
    // 2. a served append lands in shard 0 WITHOUT a manifest republish:
    // the audit flags exactly that shard as the documented run-ahead
    val served = Seq((-1L, 0L, 1L, 5L, 5L, 0L))
      .toDF("doc_id", "chunk_id", "n_tokens", "n_units", "cum_units", "shard")
    val langs = Seq((-1L, "en")).toDF("doc_id", "lang")
    PipelineOps.Lineage.Pack.appendServed(base, served, Some(langs))
    val a1 = PipelineOps.q190(spark, SF).collect()
    assert(a1.filter(_.getAs[Long]("shard") == 0L)
      .forall(_.getAs[String]("status") == "changed"))
    assert(a1.filter(_.getAs[Long]("shard") != 0L)
      .forall(_.getAs[String]("status") == "same"))
    // 3. compaction re-publishes the artifact's truth (forged row and
    // all): the fresh stored manifest describes it — audit clean again
    PipelineOps.Lineage.Pack.compact(spark, base)
    val a2 = PipelineOps.q190(spark, SF).collect()
    assert(a2.forall(_.getAs[String]("status") == "same"), a2.mkString("\n"))
    // 4. a lost shard directory (bit-rot / partial restore) reads as
    // `removed`: the stored manifest still lists what was published
    val cur = graft.GenManifest.current(base, "pack")
    graft.GenManifest.rmTree(
      new java.io.File(PipelineOps.Lineage.Pack.dir(base, cur), "shard=0"))
    val a3 = PipelineOps.q190(spark, SF).collect()
    assert(a3.filter(_.getAs[Long]("shard") == 0L)
      .forall(_.getAs[String]("status") == "removed"))
    assert(a3.filter(_.getAs[Long]("shard") != 0L)
      .forall(_.getAs[String]("status") == "same"))
    // 5. a rebuild publishes a fresh generation — audit recovers, and
    // the artifact again holds exactly the build's sequences
    PipelineOps.Lineage.Pack.write(base, PipelineOps.q158(spark, SF))
    val a4 = PipelineOps.q190(spark, SF).collect()
    assert(a4.forall(_.getAs[String]("status") == "same"))
    assert(a4.map(_.getAs[Long]("new_seqs")).sum ===
      PipelineOps.q158(spark, SF).count())
  }

  test("q191 batch schedule: exact q179 membership per epoch, dense ranks, buckets interleave, distinct permutations") {
    val batches = PipelineOps.q179(spark, SF).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("batch_id")) ->
        (r.getAs[Long]("n_seqs"), r.getAs[Long]("sum_units"))).toMap
    val rows = PipelineOps.q191(spark, SF).collect().map(r =>
      (r.getAs[Long]("epoch"), r.getAs[Long]("batch_rank"),
        r.getAs[Long]("bucket"), r.getAs[Long]("batch_id"),
        r.getAs[Long]("n_seqs"), r.getAs[Long]("sum_units")))
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet === (0 until PipelineOps.Epochs).map(_.toLong).toSet)
    byEpoch.foreach { case (e, bs) =>
      // every epoch schedules EXACTLY q179's batches, masses intact
      assert(bs.map(b => (b._3, b._4)).toSet === batches.keySet, s"epoch $e")
      bs.foreach(b => assert((b._5, b._6) === batches((b._3, b._4))))
      // dense 1..N ranks
      assert(bs.map(_._2).sorted.toSeq === (1L to batches.size).toSeq)
      // the POINT of the batch shuffle: the schedule is not
      // bucket-sorted — short and long batches interleave
      val order = bs.sortBy(_._2).map(_._3)
      assert(order.toSeq !== order.sorted.toSeq, s"epoch $e is bucket-sorted")
    }
    // distinct permutations across epochs
    val sigs = byEpoch.values.map(_.sortBy(_._2).map(b => (b._3, b._4)).toSeq).toSeq
    assert(sigs.distinct.size === PipelineOps.Epochs)
  }

  test("q192 shard mix report: exact BigInt share replay, shares sum to ~1 per shard, skew reconciles") {
    val pack = PipelineOps.q158(spark, SF).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[String]("lang"),
        r.getAs[Long]("n_units")))
    def halfAway(p2: BigInt, q2: BigInt): BigInt = (p2 * 2 + q2) / (q2 * 2)
    val cell = pack.groupBy(t => (t._1, t._2)).view
      .mapValues(_.map(_._3).sum).toMap
    val perShard = pack.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val total = pack.map(_._3).sum
    val globalM = pack.groupBy(_._2).view.mapValues(ms =>
      halfAway(BigInt(ms.map(_._3).sum) * 1000000L, BigInt(total)).toLong).toMap
    val rows = PipelineOps.q192(spark, SF).collect()
    assert(rows.map(r => (r.getAs[Long]("shard"), r.getAs[String]("lang")))
      .toSet === cell.keySet)
    rows.foreach { r =>
      val k = (r.getAs[Long]("shard"), r.getAs[String]("lang"))
      assert(r.getAs[Long]("units") === cell(k))
      val share = halfAway(BigInt(cell(k)) * 1000000L,
        BigInt(perShard(k._1))).toLong
      assert(r.getAs[Long]("share_micros") === share)
      assert(r.getAs[Long]("global_micros") === globalM(k._2))
      assert(r.getAs[Long]("skew_micros") === math.abs(share - globalM(k._2)))
    }
    // per-shard shares sum to 1 within rounding slack (#langs half-aways)
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (sh, rs) =>
      val sum = rs.map(_.getAs[Long]("share_micros")).sum
      assert(math.abs(sum - 1000000L) <= rs.length.toLong, s"shard $sh: $sum")
    }
    // the hash pack order genuinely decorrelates language: no shard is
    // single-language (skew never hits the 10^6 degenerate corner)
    assert(rows.forall(_.getAs[Long]("skew_micros") < 1000000L))
  }

  test("q193 worker shard: W slices partition every epoch, steps dense, each slice recompute-deterministic") {
    val full = PipelineOps.q162(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val w = PipelineOps.Workers
    val slices = (0L until w).map(i =>
      i -> PipelineOps.workerSlice(spark, SF, w, i).collect()
        .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("worker_step"),
          r.getAs[Long]("seq_rank"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("chunk_id"))))
    // DISJOINT slices whose union is exactly the epoch stream — no
    // sequence trains twice, none is dropped, for every worker id
    val allKeys = slices.flatMap(_._2.map(t => (t._1, t._3))).toList
    assert(allKeys.distinct.size === allKeys.size, "overlapping slices")
    assert(allKeys.toSet === full.map(t => (t._1, t._2)).toSet)
    slices.foreach { case (i, rows) =>
      // the slice is exactly the ranks ≡ i (mod W), with dense 1..n
      // per-worker step numbers in rank order
      rows.foreach(t => assert((t._3 - 1) % w === i))
      rows.groupBy(_._1).foreach { case (e, es) =>
        val sorted = es.sortBy(_._3)
        assert(sorted.map(_._2).toSeq === (1L to es.length.toLong), s"w$i e$e")
      }
      // pure function of (seed, epoch, W, w): a re-spawned worker
      // recomputes its slice identically
      assert(PipelineOps.workerSlice(spark, SF, w, i).collect()
        .map(_.toSeq.toList).toList === rows.map(t =>
          List[Any](t._1, t._2, t._3, t._4, t._5,
            full.find(f => f._1 == t._1 && f._2 == t._3).get._5)).toList)
    }
    // the registered entry is one of these slices
    val reg = PipelineOps.q193(spark, SF).collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("seq_rank"))).toSet
    assert(reg === slices(PipelineOps.WorkerId.toInt)._2
      .map(t => (t._1, t._3)).toSet)
  }

  test("q196 multimodal pack: modality masses reconcile with the decode pipelines, one budget, locators only") {
    val df = PipelineOps.q196(spark, SF)
    // payload bytes stay OUT of the pack — no binary column anywhere
    assert(df.schema.fields.forall(
      _.dataType != org.apache.spark.sql.types.BinaryType))
    val rows = df.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("seq_id"), r.getAs[String]("modality"),
      r.getAs[String]("locator"), r.getAs[Long]("n_units"),
      r.getAs[Long]("cum_units"), r.getAs[Long]("shard")))
    val byMod = rows.groupBy(_._3)
    assert(byMod.keySet === Set("text", "image", "audio"),
      "premise: all three modalities present at this SF")
    // TEXT mass and membership are exactly the q158 pack's
    val pack = PipelineOps.q158(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
        r.getAs[Long]("n_units")).toMap
    val txt = byMod("text")
    assert(txt.map(t => (t._1, t._2)).toSet === pack.keySet)
    txt.foreach(t => assert(t._5 === pack((t._1, t._2))))
    // membership: modality rows ride the mixture-sampled corpus
    val members = PipelineOps.q152(spark, SF).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    // IMAGE units == the REAL q135 decode pipeline's patch grid
    // (ceil(w/P) * ceil(h/P) over the decoded PNG's geometry)
    val imgGeo = graft.multimodal.MultiModal.imageFeatures(spark, SF)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("width"), r.getAs[Int]("height"))).toMap
    val p = PipelineOps.MmPatch
    val img = byMod("image")
    assert(img.map(_._1).toSet ===
      members.filter(_ % PipelineOps.MmImgMod == 0))
    img.foreach { t =>
      val (w, h) = imgGeo(t._1)
      val patches = ((w + p - 1) / p) * ((h + p - 1) / p)
      assert(t._5 === patches, s"image units for doc ${t._1}")
      assert(t._4 === s"img://${t._1}")
    }
    // AUDIO units == the REAL q136 decode pipeline's frame count
    // (ceil(n_samples / hop) over the decoded WAV)
    val audGeo = graft.multimodal.MultiModal.audioFeatures(spark, SF)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_samples")).toMap
    val aud = byMod("audio")
    assert(aud.map(_._1).toSet ===
      members.filter(_ % PipelineOps.MmAudMod == 0))
    aud.foreach { t =>
      val frames =
        (audGeo(t._1) + PipelineOps.MmHop - 1) / PipelineOps.MmHop
      assert(t._5 === frames, s"audio units for doc ${t._1}")
      assert(t._4 === s"wav://${t._1}")
    }
    // ONE budget: cum_units is the exact prefix sum over the md5-keyed
    // interleave, shard = the start-offset rule — and shards MIX
    // modalities (the interleave is real, not segregated blocks)
    val total = rows.map(_._5).sum
    assert(rows.map(_._6).max === total)
    rows.foreach(t =>
      assert(t._7 === (t._6 - t._5) / PipelineOps.ShardUnitBudget))
    val shardsWithAllThree = rows.groupBy(_._7).values
      .count(_.map(_._3).toSet.size >= 2)
    assert(shardsWithAllThree > 0, "premise: some shard interleaves modalities")
    // every single row fits far inside the shard budget at this SF (a
    // production pipeline resizes huge images to a fixed grid; the
    // geometry here bounds units ≪ budget for realistic payloads)
    assert(rows.map(_._5).max < PipelineOps.ShardUnitBudget)
  }

  test("q197 multimodal artifact: read-back ≡ the build, per-modality manifest reconciles, standing reuse") {
    def key(r: org.apache.spark.sql.Row) = r.toSeq.toList.toString
    val mem = PipelineOps.q196(spark, SF).collect().map(key).sorted
    val base = PipelineOps.mmPackArtifact(spark, SF)
    // every row (incl. locators) survives the disk hop through the
    // graftpack table, byte for byte
    val art = PipelineOps.Lineage.MmPack.read(spark, base).collect().map(key).sorted
    assert(art === mem)
    assert(art.nonEmpty)
    // the registered manifest reconciles per shard per modality with a
    // direct aggregate over the in-memory build
    val mf = PipelineOps.q197(spark, SF).collect()
      .map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("text_units"),
          r.getAs[Long]("image_units"), r.getAs[Long]("audio_units"),
          r.getAs[Long]("n_units"))).toMap
    val direct = PipelineOps.q196(spark, SF).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[String]("modality"),
        r.getAs[Long]("n_units")))
      .groupBy(_._1)
    assert(mf.keySet === direct.keySet)
    direct.foreach { case (shard, rs) =>
      def mass(m: String) = rs.filter(_._2 == m).map(_._3).sum
      assert(mf(shard) === ((rs.length.toLong, mass("text"), mass("image"),
        mass("audio"), rs.map(_._3).sum)), s"shard $shard")
    }
    // standing reuse: a second registered call must not re-publish
    val gen = GenManifest.current(base, "mmpack")
    PipelineOps.q197(spark, SF).collect()
    assert(GenManifest.current(base, "mmpack") === gen)
  }

  test("q199 multimodal step read: exact rank range over the artifact, scan prunes to the touched shards") {
    val rows = PipelineOps.q199(spark, SF).collect()
    assert(rows.nonEmpty, "premise: the rank range is non-empty at this SF")
    // the batch is exactly the rank range of the seeded permutation of
    // the q196 stream — replayed driver-side over the build itself
    def key(m: String, d: Long, sq: Long): (BigInt, String, Long, Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest((s"mmep:${PipelineOps.EpochSeed}:${PipelineOps.StepEpoch}:" +
          s"$m:$d:$sq").getBytes("UTF-8"))
      (BigInt(md.map("%02x".format(_)).mkString.take(15), 16), m, d, sq)
    }
    val build = PipelineOps.q196(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("seq_id"),
        r.getAs[String]("modality"), r.getAs[String]("locator"),
        r.getAs[Long]("n_units"), r.getAs[Long]("cum_units"),
        r.getAs[Long]("shard")))
    val want = build.sortBy(t => key(t._3, t._1, t._2))
      .zipWithIndex
      .map { case (t, i) => (i + 1L, t) }
      .filter { case (rk, _) =>
        rk > PipelineOps.StepLoRank && rk <= PipelineOps.StepHiRank }
    assert(rows.map(r => (r.getAs[Long]("seq_rank"), (r.getAs[Long]("doc_id"),
      r.getAs[Long]("seq_id"), r.getAs[String]("modality"),
      r.getAs[String]("locator"), r.getAs[Long]("n_units"),
      r.getAs[Long]("cum_units"), r.getAs[Long]("shard")))).toSeq ===
      want.toSeq)
    // the artifact scan prunes to exactly the touched shards
    val touched = rows.map(_.getAs[Long]("shard")).distinct.sorted.toSeq
    val pf = PipelineOps.q199(spark, SF).queryExecution.executedPlan
      .toString.linesIterator
      .filter(_.contains("PartitionFilters"))
      .find(_.contains("shard")).getOrElse("")
    assert(pf.nonEmpty, "q199 must carry a partition-pruned artifact scan")
    val listed = "\\b\\d+\\b".r
      .findAllIn(pf.replaceAll("#\\d+L?", "#x")
        .replaceAll(".*PartitionFilters: \\[", "").replaceAll("\\].*", ""))
      .map(_.toLong).toSeq.distinct.sorted
    assert(listed === touched,
      s"scan must prune to exactly $touched, got filter: $pf")
    // a step batch mixes modalities when the range spans them — at this
    // SF the 6-rank window lands on at least one non-text row premise
    // is too strong; assert only that modality values are valid
    assert(rows.map(_.getAs[String]("modality")).toSet
      .subsetOf(Set("text", "image", "audio")))
  }

  test("q199 step read ≡ the standing mm epoch order's StepEpoch rank range: one draw law, two ranking paths") {
    def ids(r: org.apache.spark.sql.Row) = (r.getAs[Long]("seq_rank"),
      r.getAs[String]("modality"), r.getAs[Long]("doc_id"),
      r.getAs[Long]("seq_id"))
    val step = PipelineOps.q199(spark, SF).collect().map(ids).toSeq
    assert(step.nonEmpty, "premise: the rank range is non-empty at this SF")
    val fold = PipelineOps.epochOrdered(spark, SF, PipelineOps.Lineage.MmPack)
      .filter(col("epoch") === PipelineOps.StepEpoch &&
        col("seq_rank") > PipelineOps.StepLoRank &&
        col("seq_rank") <= PipelineOps.StepHiRank)
      .collect().map(ids).toSeq.sortBy(_._1)
    assert(step === fold)
  }

  test("text appendServed refuses a served row with no lang: named error, current generation unchanged") {
    import spark.implicits._
    val lin = PipelineOps.Lineage.Pack
    val base = Standing.dir(spark, "append_guard")
    lin.write(base, Seq((1L, 0L, "en", 3L, 5L, 5L, 0L),
      (2L, 0L, "de", 2L, 4L, 9L, 0L)).toDF(lin.columns: _*))
    val gen = GenManifest.current(base, lin.name)
    def files(): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(lin.dir(base, gen)).map(_.getPath).sorted
    }
    val before = files()
    val served = Seq((3L, 0L, 1L, 5L, 14L, 0L))
      .toDF("doc_id", "chunk_id", "n_tokens", "n_units", "cum_units", "shard")
    val langs = Seq((1L, "en")).toDF("doc_id", "lang")
    val e = intercept[Exception](lin.appendServed(base, served, Some(langs)))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage)
        .contains("served doc_id 3 has no lang metadata")), e.toString)
    assert(GenManifest.current(base, lin.name) === gen)
    assert(lin.read(spark, base).count() === 2L)
    assert(files() === before, "a failed append must leave no files behind")
  }

  test("q200 epoch continuity: gen-N keeps its q162 ranks verbatim, arrivals are a dense disjoint tail under the shard-continuation rule") {
    val cont = PipelineOps.q200(spark, SF).collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("seq_rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("shard"), r.getAs[Long]("is_arrival")))
    val prefix = cont.filter(_._6 == 0L).map(t => (t._1, t._2, t._3, t._4, t._5))
    val tail = cont.filter(_._6 == 1L)
    assert(tail.nonEmpty, "premise: the arrival model is non-empty at this SF")
    // (1) the PREFIX is q162 rank-for-rank — the append NEVER re-ranks
    // what a running job already consumed (the continuity contract)
    val q162r = PipelineOps.q162(spark, SF).collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("seq_rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("shard")))
    assert(prefix.sorted.toSeq === q162r.sorted.toSeq)
    // (2) arrivals are DISJOINT from gen N (non-members by construction)
    val genKeys = prefix.map(t => (t._3, t._4)).toSet
    assert(tail.forall(t => !genKeys.contains((t._3, t._4))))
    // (3) each epoch's tail is dense right after the prefix: ranks
    // |gen|+1 .. |gen|+|arrivals| — a job that consumed ranks <= k
    // resumes at k+1 into the stream it already knows
    val nGen = q162r.count(_._1 == 0L).toLong
    (0L until PipelineOps.Epochs.toLong).foreach { e =>
      val ranks = tail.filter(_._1 == e).map(_._2).sorted.toSeq
      assert(ranks === (nGen + 1 to nGen + ranks.size).toSeq,
        s"epoch $e arrival ranks must be the dense tail after $nGen")
    }
    // (4) every epoch shuffles the SAME membership (prefix and tail)
    val byEpoch = cont.groupBy(_._1).view.mapValues(
      _.map(t => (t._3, t._4, t._6)).toSet).toMap
    assert(byEpoch.values.toSet.size === 1)
    // but distinct permutations across epochs (the q162 seeded draw)
    val perm0 = cont.filter(_._1 == 0L).sortBy(_._2).map(t => (t._3, t._4)).toSeq
    val perm1 = cont.filter(_._1 == 1L).sortBy(_._2).map(t => (t._3, t._4)).toSeq
    assert(perm0 !== perm1)
    // (5) arrival shards CONTINUE the artifact's unit stream: they pack
    // at the gen-N end offset, so no arrival shard precedes the last
    // gen shard (open-shard append, never a rewrite of emitted ranges)
    val lastGenShard = prefix.map(_._5).max
    assert(tail.forall(_._5 >= lastGenShard))
  }

  test("q205/q206 payload dedup: decode fingerprint = source-bytes md5; planted duplicate collapses to ONE locator row") {
    import spark.implicits._
    import graft.multimodal.MultiModal
    // three docs, ids all ≡ 0 mod MmImgMod AND mod MmAudMod so every
    // row carries both modalities; docs 15 and 45 share a payload
    val docs = Seq(
      (15L, "duplicate payload body shared across two docs"),
      (45L, "duplicate payload body shared across two docs"),
      (30L, "a distinct payload body"))
      .toDF("doc_id", "text")
    // the REAL decode fingerprints equal md5 over the source bytes —
    // the lossless-round-trip pin that makes the oracle replay valid
    def md5hex(t: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    for (m <- Seq("image", "audio")) {
      val fps = MultiModal.payloadFingerprints(spark, docs, m).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      docs.collect().foreach { r =>
        assert(fps(r.getLong(0)) === md5hex(r.getString(1)),
          s"$m decode fingerprint must equal the source-bytes md5")
      }
      assert(fps(15L) === fps(45L), "planted duplicate premise")
      assert(fps(15L) !== fps(30L))
    }
    // the keeper decision consumed by the pack (the q206 body over the
    // fixture): keeper = min doc_id; the duplicate payload packs ONCE,
    // under the keeper's locator
    val fps = MultiModal.payloadFingerprints(spark, docs, "image")
      .select(col("doc_id"), org.apache.spark.sql.functions.lit("image")
        .as("modality"), col("fp"))
      .unionAll(MultiModal.payloadFingerprints(spark, docs, "audio")
        .select(col("doc_id"), org.apache.spark.sql.functions.lit("audio")
          .as("modality"), col("fp")))
    val keep = fps.groupBy(col("modality"), col("fp"))
      .agg(org.apache.spark.sql.functions.min(col("doc_id"))
        .as("keeper_doc"))
    val keepers = fps.join(keep, Seq("modality", "fp"))
      .filter(col("doc_id") === col("keeper_doc"))
      .select(col("modality"), col("doc_id"))
    val gated = PipelineOps.modalityRowsOf(docs)
      .join(keepers, Seq("modality", "doc_id")).collect()
      .map(r => (r.getAs[String]("modality"), r.getAs[Long]("doc_id"),
        r.getAs[String]("locator"), r.getAs[Long]("n_units")))
    // one locator row per (modality, distinct payload): 2 payloads × 2
    // modalities; the duplicated payload's row is the KEEPER's locator
    assert(gated.length === 4)
    for (m <- Seq("image", "audio")) {
      val rows = gated.filter(_._1 == m)
      assert(rows.map(_._2).sorted.toSeq === Seq(15L, 30L),
        s"$m: keeper 15 (not 45) + unique 30")
      val pre = if (m == "image") "img://" else "wav://"
      assert(rows.map(_._3).sorted.toSeq === Seq(s"${pre}15", s"${pre}30"))
    }
    // pack mass = DISTINCT-payload mass: the ungated rows carry the
    // duplicate twice, the gated pack exactly once
    val ungated = PipelineOps.modalityRowsOf(docs).collect()
      .map(r => (r.getAs[String]("modality"), r.getAs[Long]("n_units")))
    for (m <- Seq("image", "audio")) {
      val dupUnits = ungated.filter(_._1 == m).map(_._2).sum -
        gated.filter(_._1 == m).map(_._4).sum
      assert(dupUnits === gated.filter(t => t._1 == m && t._2 == 15L)
        .map(_._4).sum, s"$m: exactly one duplicate instance dropped")
    }
  }
}

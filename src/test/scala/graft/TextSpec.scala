package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextOps
import graft.text.Text

class TextSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("tokens lowercases and splits on non-alnum runs") {
    val got = Seq("Hello,  WORLD-42! ").toDF("text")
      .select(Text.tokens(col("text"))).as[Seq[String]].collect()(0)
    assert(got === Seq("hello", "world", "42"))
  }

  test("shingles are empty for short docs and ordered for long ones") {
    val df = Seq("a b", "a b c d").toDF("text")
      .select(Text.shingles(Text.tokens(col("text")), 3).as("s")).as[Seq[String]]
    assert(df.collect()(0) === Seq())
    assert(df.collect()(1) === Seq("a b c", "b c d"))
  }

  test("q132 AUC: ties get the half credit — matches brute-force pair counting") {
    // heavy ties on both classes, plus clean extremes
    val data = Seq(
      (0.5, 1), (0.5, 0), (0.5, 1), (0.3, 0), (0.3, 1),
      (0.9, 1), (0.1, 0), (0.1, 0), (0.9, 0), (0.2, 1))
    val got = TextOps.aucOf(data.toDF("score", "y")).collect()(0)
    val pos = data.collect { case (s, 1) => s }
    val neg = data.collect { case (s, 0) => s }
    val u = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    assert(got.getAs[Long]("n_pos") === pos.size)
    assert(got.getAs[Long]("n_neg") === neg.size)
    assert(math.abs(got.getAs[Double]("auc") - u / (pos.size * neg.size)) < 5.1e-7)
    // perfect ranking ⇒ 1.0; anti-ranking ⇒ 0.0; all-tied ⇒ 0.5
    def auc(d: Seq[(Double, Int)]): Double =
      TextOps.aucOf(d.toDF("score", "y")).collect()(0).getAs[Double]("auc")
    assert(auc(Seq((0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0))) === 1.0)
    assert(auc(Seq((0.9, 0), (0.8, 0), (0.2, 1), (0.1, 1))) === 0.0)
    assert(auc(Seq((0.4, 1), (0.4, 0), (0.4, 1), (0.4, 0))) === 0.5)
  }

  test("q133 average precision matches the driver-side ranked replay, ties included") {
    val data = Seq( // (doc_id, score, y) with score ties across classes
      (1L, 0.9, 1), (2L, 0.9, 0), (3L, 0.5, 1), (4L, 0.5, 1),
      (5L, 0.5, 0), (6L, 0.3, 0), (7L, 0.3, 1), (8L, 0.1, 0))
    val got = TextOps.apOf(data.toDF("doc_id", "score", "y")).collect()(0)
    // canonical order: score desc, doc_id asc
    val ranked = data.sortBy { case (id, s, _) => (-s, id) }
    var cum = 0L
    var sMicros = 0L
    ranked.zipWithIndex.foreach { case ((_, _, y), i) =>
      if (y == 1) {
        cum += 1
        val rnk = i + 1L
        sMicros += (2 * (cum * 1000000L) + rnk) / (2 * rnk) // half-away, positives
      }
    }
    val nPos = ranked.count(_._3 == 1)
    assert(got.getAs[Long]("n_pos") === nPos)
    assert(got.getAs[Double]("ap") === sMicros.toDouble / (nPos * 1000000.0))
    // perfect ranking ⇒ AP = 1.0
    val perfect = Seq((1L, 0.9, 1), (2L, 0.8, 1), (3L, 0.2, 0), (4L, 0.1, 0))
    assert(TextOps.apOf(perfect.toDF("doc_id", "score", "y"))
      .collect()(0).getAs[Double]("ap") === 1.0)
  }

  test("q134 calibration deciles equal the NTILE window formulation") {
    import org.apache.spark.sql.expressions.Window
    // 23 rows (non-divisible by 10) with score ties spanning boundaries
    val data = (1L to 23L).map(i => (i, (i % 7).toDouble / 7.0, (i % 3 == 0)))
    val df = data.toDF("doc_id", "score", "yb")
      .select(col("doc_id"), round(col("score"), 6).as("score"),
        col("yb").cast("int").as("y"))
    val got = TextOps.calibrationOf(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val want = df
      .withColumn("decile",
        ntile(10).over(Window.orderBy(col("score"), col("doc_id"))).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("n_pos"))
      .orderBy(col("decile")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got === want)
    // rates sit on the exact micros lattice
    TextOps.calibrationOf(df).collect().foreach { r =>
      val rate = r.getAs[Double]("pos_rate")
      assert((rate * 1e6).round / 1e6 === rate)
    }
  }

  test("q36 tf-idf matches the smoothed-idf formula for a sampled token") {
    val row = TextOps.q36(spark, SF).limit(1).collect()(0)
    val n = Tables.documents(spark, SF).count()
    val dfq = TextOps.q33(spark, SF)
      .filter(col("token") === row.getAs[String]("token")).collect()(0).getAs[Long]("df")
    val expect = BigDecimal(row.getAs[Long]("tf") *
      (math.log((1.0 + n) / (1 + dfq)) + 1))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getAs[Double]("tfidf") === expect)
  }

  test("q39 confusion matrix covers the corpus; metrics in [0,1]") {
    val r = TextOps.q39(spark, SF).collect()(0)
    val total = r.getAs[Long]("tp") + r.getAs[Long]("fp") +
      r.getAs[Long]("fn") + r.getAs[Long]("tn")
    assert(total === Tables.documents(spark, SF).count())
    Seq("precision", "recall", "f1").foreach { m =>
      val v = r.getAs[Double](m)
      assert(v >= 0.0 && v <= 1.0)
    }
  }

  test("q40 wss95 is a valid screening score") {
    val r = TextOps.q40(spark, SF).collect()(0)
    assert(r.getAs[Long]("k_at_95") <= r.getAs[Long]("n_docs"))
    val w = r.getAs[Double]("wss95")
    assert(w >= -0.05 && w <= 0.95)
  }

  test("q44 language id is total over the corpus") {
    val n = TextOps.q44(spark, SF).count()
    assert(n === Tables.documents(spark, SF).count())
  }

  test("q47 fingerprints are md5-shaped and whitespace-insensitive") {
    val rows = TextOps.q47(spark, SF).limit(5).collect()
    rows.foreach { r =>
      assert(r.getAs[String]("fingerprint").matches("[0-9a-f]{32}"))
      assert(r.getAs[String]("bag_fingerprint").matches("[0-9a-f]{32}"))
    }
  }

  test("q80 repetition ratio is bounded and consistent with its counts") {
    val rows = TextOps.q80(spark, SF).collect()
    assert(rows.length === Tables.documents(spark, SF).count())
    rows.foreach { r =>
      val (n, d) = (r.getAs[Long]("n_ngrams"), r.getAs[Long]("n_distinct"))
      val ratio = r.getAs[Double]("rep_ratio")
      assert(d <= n)
      assert(ratio >= 0.0 && ratio < 1.0)
      if (n > 0)
        assert(math.abs(ratio - (1.0 - d.toDouble / n)) < 1e-6)
    }
    // the signal must fire on at least one repetitive document
    assert(rows.exists(_.getAs[Double]("rep_ratio") > 0.0))
  }

  test("q90 bigram-LM scores are valid log-probs that separate documents") {
    import org.apache.spark.sql.functions.{col, size}
    val rows = TextOps.q90(spark, SF).collect()
    // one row per document with at least one bigram (≥ 2 tokens)
    val nMulti = Tables.documents(spark, SF)
      .filter(size(graft.text.Text.tokens(col("text"))) >= 2).count()
    assert(rows.length === nMulti)
    rows.foreach { r =>
      // smoothed probabilities are strictly < 1 ⇒ log-probs strictly < 0
      assert(r.getAs[Double]("avg_logp") < 0.0)
      assert(r.getAs[Long]("n_bigrams") >= 1L)
    }
    // a corpus-trained LM must actually discriminate (non-constant score)
    val scores = rows.map(_.getAs[Double]("avg_logp")).distinct
    assert(scores.length > 1)
  }

  test("q92 vocab coverage picks the MINIMAL head for each threshold") {
    import org.apache.spark.sql.functions.{col, explode}
    val rows = TextOps.q92(spark, SF).collect()
      .map(r => r.getAs[Double]("coverage") -> r.getAs[Long]("n_types")).toMap
    assert(rows.keySet === Set(0.5, 0.9, 0.95, 0.99))
    // recompute ground truth from raw counts: sort types by (freq desc),
    // n_types must be the first prefix reaching coverage*total — and
    // minimal (the prefix one shorter must NOT reach it)
    val counts = Tables.documents(spark, SF)
      .select(explode(graft.text.Text.tokens(col("text"))).as("tok"))
      .groupBy("tok").count().collect()
      .map(_.getAs[Long]("count")).sortBy(-_)
    val total = counts.sum.toDouble
    val cum = counts.scanLeft(0L)(_ + _).tail
    rows.foreach { case (cov, n) =>
      val need = cov * total
      assert(cum(n.toInt - 1) >= need,
        s"$n types cover ${cum(n.toInt - 1)} < $need at $cov")
      if (n > 1)
        assert(cum(n.toInt - 2) < need,
          s"${n - 1} types already cover at $cov — not minimal")
    }
    // monotone in the threshold
    assert(rows(0.5) <= rows(0.9) && rows(0.9) <= rows(0.95) &&
      rows(0.95) <= rows(0.99))
  }

  test("q103 BM25 equals a driver-side recompute of the Okapi formula") {
    val docs = Tables.documents(spark, SF)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .as[(Long, Seq[String])].collect()
    val n = docs.length.toLong
    val sumLen = docs.map(_._2.size.toLong).sum
    val q = TextOps.Bm25Query.toSet
    val dft = q.map(t => t -> docs.count(_._2.contains(t)).toLong).toMap
    val exact = docs.flatMap { case (id, toks) =>
      val dl = toks.size.toLong
      val tfs = toks.filter(q).groupBy(identity).map { case (t, v) => t -> v.size.toLong }
      if (tfs.isEmpty) None
      else {
        val s = tfs.map { case (t, tf) =>
          val idf = math.log(1.0 + (n - dft(t) + 0.5) / (dft(t) + 0.5))
          val norm = 0.25 + 0.75 * (dl * n) / sumLen.toDouble
          math.round((idf * ((tf * 2.2) / (tf + 1.2 * norm))) * 1000000.0)
        }.sum
        Some((id, tfs.size.toLong, s))
      }
    }.sortBy { case (id, _, s) => (-s, id) }.take(TextOps.Bm25TopK)
      .map { case (id, nt, s) => (id, nt, s / 1000000.0) }.toList
    val got = TextOps.q103(spark, SF)
      .as[(Long, Long, Double)].collect().toList
    assert(got === exact)
    assert(got.nonEmpty && got.map(_._3).sliding(2).forall {
      case Seq(a, b) => a >= b
      case _ => true
    })
    // top-k must plan as per-partition heaps, never a global sort
    assert(TextOps.q103(spark, SF).queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
  }

  test("q125 quantile gate: threshold is the exact rank statistic, kept/dropped partition cleanly") {
    val kept = TextOps.q125(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(kept.nonEmpty)
    val all = TextOps.q38(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    // driver replay of the rank statistic: ascending (score, doc_id),
    // threshold = score at rank ceil(0.75 n)
    val n = all.size
    val k = math.max(1, (3 * n + 3) / 4)
    val thr = all.toSeq.sortBy { case (id, v) => (v, id) }.apply(k - 1)._2
    assert(kept === all.filter { case (_, v) => v >= thr },
      "gate must keep exactly the >= threshold set")
    // the quartile survives: at least n - k + 1 docs (ties only add)
    assert(kept.size >= n - k + 1)
    // every kept score dominates every dropped score
    val dropped = all.keySet -- kept.keySet
    if (dropped.nonEmpty && kept.nonEmpty)
      assert(kept.values.min >= dropped.map(all).max)
  }

  test("q128 vocab truncation: joinless literal rewrite, exact OOV accounting") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextOps
    val df = TextOps.q128(spark, SF)
    // the vocabulary is a driver-sized literal: the rewrite plan has NO
    // join operator (a per-token vocab join would shuffle the corpus
    // twice) — match operator names, not the substring "join": the
    // corpus vocabulary itself contains the token "join", which shows
    // up inside the plan's literal array
    val plan = df.queryExecution.executedPlan.toString
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct").foreach(op =>
      assert(!plan.contains(op), s"vocab rewrite plans a $op:\n$plan"))
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3), r.getString(4)))
    assert(rows.nonEmpty)
    // the rewrite is length-preserving and the unk count IS n_oov
    rows.foreach { case (id, n, oov, rate, txt) =>
      val toks = if (txt.isEmpty) Array.empty[String] else txt.split(" ")
      assert(toks.length.toLong === n, s"doc $id length changed")
      assert(toks.count(_ == TextOps.UnkToken).toLong === oov, s"doc $id unk count")
      assert(oov <= n)
      if (n > 0) assert(math.abs(rate - oov.toDouble / n) < 1e-6)
    }
    // truncation engaged both ways: some token survived, some was cut
    assert(rows.exists(_._3 > 0), "no OOV token — widen the corpus or shrink K")
    assert(rows.exists(r => r._2 > r._3), "everything OOV — vocabulary broken")
    // surviving vocabulary is exactly top-K: every non-unk token of the
    // rewrite is among the K most frequent corpus tokens
    val topK = Tables.documents(spark, SF)
      .select(explode(graft.text.Text.tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(TextOps.VocabTruncK)
      .collect().map(_.getString(0)).toSet
    rows.flatMap(_._5.split(" ")).filter(t => t.nonEmpty && t != TextOps.UnkToken)
      .foreach(t => assert(topK(t), s"non-vocab token '$t' survived"))
  }

  test("q128 realistic K: the broadcast form equals the literal form, and engages past the threshold") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextOps
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getDouble(3), r.getString(4))
    // at the REGISTERED K the two forms agree value-for-value with the
    // truncation genuinely engaged (OOV > 0 at K = 16, pinned above)
    val toks = Tables.documents(spark, SF)
      .select(col("doc_id"), graft.text.Text.tokens(col("text")).as("toks"))
    val vcAll = toks.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    def vocabDf(k: Int) = vcAll
      .orderBy(col("c").desc, col("token")).limit(k).select(col("token"))
    val lit16 = TextOps.q128(spark, SF).collect().map(key)
    val bc16 = TextOps.vocabTruncBroadcast(toks, vocabDf(TextOps.VocabTruncK))
      .collect().map(key)
    assert(bc16.toSeq === lit16.toSeq)
    // past the threshold the dispatcher picks the broadcast form: the
    // plan carries a BroadcastHashJoin and NO literal vocab scan
    val k = 10000
    assert(k > TextOps.VocabLiteralMax)
    val wide = TextOps.q128Of(spark, SF, k)
    val plan = wide.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"realistic-K form must broadcast-join the vocabulary:\n$plan")
    // and the output still equals the literal form at the same K (the
    // switch changes the PLAN, never a value)
    val litWide = TextOps.vocabTruncLiteral(toks,
      vocabDf(k).collect().map(_.getString(0)).sorted).collect().map(key)
    assert(wide.collect().map(key).toSeq === litWide.toSeq)
    // zero-token docs (if any) keep their rows in both forms — pinned
    // structurally by the row-count equality above plus ONE synthetic doc
    import spark.implicits._
    val synth = Seq((1L, Seq("alpha", "beta")), (2L, Seq.empty[String]))
      .toDF("doc_id", "toks")
    val out = TextOps.vocabTruncBroadcast(synth,
      Seq("alpha").toDF("token")).collect().map(key)
    assert(out.toSeq === Seq((1L, 2L, 1L, 0.5, "alpha <unk>"),
      (2L, 0L, 0L, 0.0, "")))
  }

  test("q130 incremental BM25: frozen-stats probe, corpus never rescanned, appends additive") {
    import org.apache.spark.sql.functions._
    import graft.operators.{DedupOps, TextOps}
    val mod = DedupOps.IncrSplitMod
    val toks = Tables.documents(spark, SF)
      .select(col("doc_id"), graft.text.Text.tokens(col("text")).as("toks"))
    val snap = toks.filter(col("doc_id") % mod =!= 0)
    val arr = toks.filter(col("doc_id") % mod === 0)
    TextOps.q130Write(spark, snap)
    val probe = TextOps.q130Probe(spark, arr, TextOps.Bm25Query)
    val plan = probe.queryExecution.executedPlan.toString
    // the stats side reads the ARTIFACT with the query-term restriction
    // pushed into the scan; the only documents.parquet scan is the
    // arriving batch itself — the corpus is never rescanned at probe time
    val dfScan = plan.split("\n").find(_.contains("g130_df"))
    assert(dfScan.nonEmpty, s"df artifact not read:\n$plan")
    assert(dfScan.get.contains("PushedFilters: [In(tok"),
      s"query-term filter not pushed into the artifact scan:\n${dfScan.get}")
    assert(plan.split("documents\\.parquet").length - 1 === 1,
      s"probe rescans the corpus:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    def shot(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val got = shot(probe)
    assert(got.nonEmpty)
    // additivity: snapshot built as write(half) + append(other half)
    // answers the identical probe — df partials and totals just sum
    TextOps.q130Write(spark, snap.filter(col("doc_id") % 2 === 1))
    TextOps.q130Append(spark, snap.filter(col("doc_id") % 2 === 0))
    assert(shot(TextOps.q130Probe(spark, arr, TextOps.Bm25Query)) === got)
    // aggregating compaction: partial rows merge to ONE row per term at
    // a new generation; the probe is invariant
    val partials = spark.table("g130_df").groupBy(col("tok")).count()
      .filter(col("count") > 1).count()
    assert(partials > 0, "no term has >1 partial — append split vacuous")
    TextOps.q130Compact(spark)
    assert(TextOps.G130Df.gen(spark) === 1L)
    val collapsed = spark.table("g130_df").groupBy(col("tok")).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(collapsed === 1L, s"compaction left $collapsed partials for some term")
    assert(shot(TextOps.q130Probe(spark, arr, TextOps.Bm25Query)) === got)
    // and with the full corpus as snapshot, scoring the corpus itself
    // for the same query reproduces q103's own stats regime: every
    // arriving term is known, dft > 0 (left-join fill never fires)
    TextOps.q130Write(spark, toks)
    val full = TextOps.q130Probe(spark, arr, TextOps.Bm25Query)
    assert(shot(full).forall(_._2 > 0))
  }

  test("q129 context chunking: lossless strided coverage, map-only plan") {
    import org.apache.spark.sql.functions._
    import graft.operators.PipelineOps
    val df = PipelineOps.q129(spark, SF)
    // single map stage: the ONLY exchange is the deterministic-readout
    // sort (production drops it) — no aggregation, no join
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    val chunks = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getString(5)))
    val toks = Tables.documents(spark, SF)
      .select(col("doc_id"), graft.text.Text.tokens(col("text")).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val t = toks(id)
      val sorted = cs.sortBy(_._2)
      // strided starts, W-bounded windows, last window reaches the end
      sorted.zipWithIndex.foreach { case ((_, cid, start, fin, n, txt), i) =>
        assert(cid === i + 1L)
        assert(start === i * PipelineOps.ChunkStride + 1L)
        assert(fin === math.min(start + PipelineOps.ChunkW - 1, t.length.toLong))
        assert(n === fin - start + 1)
        // exact reconstruction of the original slice
        assert(txt === t.slice(start.toInt - 1, fin.toInt).mkString(" "))
      }
      assert(sorted.last._4 === t.length.toLong, s"doc $id tail dropped")
      // consecutive chunks overlap by W−S (except a short tail)
      sorted.sliding(2).filter(_.length == 2).foreach { pair =>
        val (_, _, s1, f1, _, _) = pair(0)
        val (_, _, s2, _, _, _) = pair(1)
        assert(s2 - s1 === PipelineOps.ChunkStride.toLong)
        if (f1 - s1 + 1 == PipelineOps.ChunkW)
          assert(f1 - s2 + 1 === (PipelineOps.ChunkW - PipelineOps.ChunkStride).toLong)
      }
    }
    // every non-empty doc is covered
    assert(chunks.map(_._1).toSet === toks.filter(_._2.nonEmpty).keySet)
  }

  test("q180 ppl buckets: q90 membership, exact tertile rule, buckets ordered by score within language") {
    val q90 = TextOps.q90(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        math.rint(r.getAs[Double]("avg_logp") * 1e6).toLong).toMap
    val rows = TextOps.q180(spark, SF).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("sc_micros"), r.getAs[String]("bucket")))
    // membership and scores are exactly q90's (ONE shared aggregate)
    assert(rows.map(_._1).toSet === q90.keySet)
    rows.foreach(r => assert(r._3 === q90(r._1), s"doc ${r._1}"))
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val n = rs.length
      // exact rank-rule tertiles: head floor(n/3), middle floor(2n/3)-head
      val nHead = rs.count(_._4 == "head")
      val nMid = rs.count(_._4 == "middle")
      assert(nHead === n / 3, s"$lang head")
      assert(nHead + nMid === 2 * n / 3, s"$lang middle")
      // buckets are score-ordered: min(head) >= max(middle) >= ... under
      // the deterministic doc_id tiebreak (equal scores may straddle, so
      // compare weakly)
      def scores(b: String) = rs.filter(_._4 == b).map(_._3)
      if (nHead > 0 && nMid > 0)
        assert(scores("head").min >= scores("middle").max)
      if (nMid > 0 && rs.exists(_._4 == "tail"))
        assert(scores("middle").min >= scores("tail").max)
    }
    // the corpus genuinely spans several languages here (non-vacuous)
    assert(rows.map(_._2).distinct.length >= 3)
  }

  test("q186 ppl mix: head kept whole, draw replays driver-side, inverse-propensity weights exact") {
    val buckets = TextOps.q180(spark, SF).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("lang"), r.getAs[Long]("sc_micros"),
          r.getAs[String]("bucket"))).toMap
    val rows = TextOps.q186(spark, SF).collect()
    val rates = TextOps.PplMixRates.toMap
    def u(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"pplmix:$id".getBytes("UTF-8"))
      (BigInt(d.map("%02x".format(_)).mkString.take(15), 16) % 1000000).toLong
    }
    // membership is EXACTLY the q180 bucket relation under the md5 draw
    val expect = buckets.filter { case (id, (_, _, b)) => u(id) < rates(b) }
    assert(rows.map(_.getAs[Long]("doc_id")).toSet === expect.keySet)
    rows.foreach { r =>
      val (lang, sc, b) = buckets(r.getAs[Long]("doc_id"))
      assert((r.getAs[String]("lang"), r.getAs[Long]("sc_micros"),
        r.getAs[String]("bucket")) === ((lang, sc, b)))
      // exact half-away inverse-propensity weight
      val rate = rates(b)
      assert(r.getAs[Double]("weight") ===
        ((2L * 1000000L * 1000000L + rate) / (2L * rate)) / 1e6)
    }
    // rate-1.0 bucket keeps EVERY member; the others genuinely downsample
    val headIds = buckets.collect { case (id, (_, _, "head")) => id }.toSet
    assert(headIds.subsetOf(rows.map(_.getAs[Long]("doc_id")).toSet))
    assert(rows.length < buckets.size, "down-sampling must drop something")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.BpeOps
import graft.operators.BpeOps.BpeMerge

/** q144 BPE merge-table training: the engine's distributed training run
  * must equal an independent local replay of the documented semantics
  * (leftmost-non-overlapping literal merge, count-desc/pair-asc tie
  * order), and the learned merges must re-tokenize the corpus to exactly
  * the engine's final vocabulary. */
class BpeSpec extends AnyFunSuite with SharedSpark {

  /** Independent local trainer — same contract, different code path
    * (Java String.replace instead of Spark/DuckDB replace). */
  private def localTrain(wordCounts: Seq[(String, Long)], rounds: Int)
      : (Seq[BpeMerge], Seq[(String, Long)]) = {
    var vocab = wordCounts.map { case (t, f) => t.toCharArray.mkString(" ") -> f }
    val merges = Seq.newBuilder[BpeMerge]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = scala.collection.mutable.Map.empty[String, Long]
      vocab.foreach { case (w, f) =>
        w.split(" ").sliding(2).filter(_.length == 2)
          .foreach(p => counts.updateWith(p.mkString(" ")) {
            c => Some(c.getOrElse(0L) + f) })
      }
      if (counts.isEmpty) done = true
      else {
        val (pair, n) = counts.minBy { case (p, c) => (-c, p) }
        val merged = pair.replace(" ", "")
        merges += BpeMerge(r, pair, merged, n)
        vocab = vocab.map { case (w, f) =>
          (" " + w + " ").replace(" " + pair + " ", " " + merged + " ").trim -> f
        }
        r += 1
      }
    }
    (merges.result(), vocab)
  }

  private def corpusWordCounts: Seq[(String, Long)] = {
    val re = "[a-z0-9]+".r
    Tables.documents(spark, SF).select("text").collect()
      .flatMap(r => re.findAllIn(r.getString(0).toLowerCase))
      .groupBy(identity).map { case (t, g) => t -> g.length.toLong }.toSeq
  }

  test("q144 merge table equals the independent local replay") {
    val (engineMerges, engineVocab) = BpeOps.train(spark, SF)
    val (localMerges, localVocab) = localTrain(corpusWordCounts, BpeOps.Rounds)
    assert(engineMerges === localMerges)
    assert(engineMerges.nonEmpty)
    // merge counts are non-increasing round over round EXCEPT when a
    // blocked adjacent occurrence re-enters the pool — so only pin that
    // every count is positive and the merged symbol is the pair fused
    engineMerges.foreach { m =>
      assert(m.n > 0)
      assert(m.merged === m.pair.replace(" ", ""))
      assert(m.pair.count(_ == ' ') === 1)
    }
    // final vocab: engine relation == local replay (same words, same f)
    val ev = engineVocab.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(ev.sorted === localVocab.sorted)
  }

  test("64-round training: replay agrees, merge table grows, fertility drops") {
    // r9 VERDICT #5: Rounds=8 keeps the unrolled oracle readable but is
    // toy-sized — prove the parameterized trainer holds at a realistic
    // merge budget. Same independent local replay, 8× the rounds.
    val rounds = 64
    val (engineMerges, engineVocab) = BpeOps.train(spark, SF, rounds)
    val (localMerges, localVocab) = localTrain(corpusWordCounts, rounds)
    assert(engineMerges === localMerges)
    // the corpus supports a merge table well past the registered budget
    assert(engineMerges.length > BpeOps.Rounds,
      s"pool exhausted at ${engineMerges.length} merges — corpus too small")
    def unitsChars(vocab: Seq[(String, Long)]): (Long, Long) = (
      vocab.map { case (w, f) => w.split(" ").length * f }.sum,
      vocab.map { case (w, f) => w.replace(" ", "").length * f }.sum)
    val ev = engineVocab.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(ev.sorted === localVocab.sorted)
    // fertility (corpus units per char — q151's readout) DROPS with the
    // bigger budget: every merge strictly removes one unit per fused
    // occurrence while the char mass is invariant
    val (u64, c64) = unitsChars(ev)
    val (u8, c8) = unitsChars(localTrain(corpusWordCounts, BpeOps.Rounds)._2)
    assert(c64 === c8, "char mass is merge-invariant")
    assert(u64 < u8, s"64-round units $u64 must undercut 8-round units $u8")
  }

  test("q147 unit counts equal the local replay's unit inventory") {
    val counts = scala.collection.mutable.Map.empty[String, Long]
    localTrain(corpusWordCounts, BpeOps.Rounds)._2.foreach { case (w, f) =>
      w.split(" ").foreach(u => counts.updateWith(u)(c => Some(c.getOrElse(0L) + f)))
    }
    val got = BpeOps.q147(spark, SF).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.toMap === counts.toMap)
    // readout order: count desc, unit asc
    assert(got.sortBy { case (u, n) => (-n, u) }.toSeq === got.toSeq)
    // conservation: Σ unit counts ≡ corpus symbol mass after merging —
    // and every unit is a substring the merges could have built
    assert(got.map(_._2).sum === counts.values.sum)
  }

  test("q151 segmentation: unit counts equal applyMerges, masses conserve") {
    val (merges, _) = BpeOps.train(spark, SF)
    val rows = BpeOps.q151(spark, SF).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val re = "[a-z0-9]+".r
    Tables.documents(spark, SF).select("doc_id", "text").collect().take(40)
      .foreach { r =>
        val toks = re.findAllIn(r.getString(1).toLowerCase).toSeq
        val units = toks.map(t => BpeOps.applyMerges(t, merges).length.toLong).sum
        val chars = toks.map(_.length.toLong).sum
        assert(rows(r.getLong(0)) === ((toks.size.toLong, units, chars)),
          s"doc ${r.getLong(0)}")
      }
    // fertility bounds: merging can only shorten, units ≥ tokens
    rows.values.foreach { case (nt, nu, nc) =>
      assert(nu <= nc && nu >= nt)
    }
  }

  test("q156 drift monitor: train-fold trainer + replay re-tokenization equal a local replay") {
    def inTrain(id: Long) = id % 5 != 0
    val docs = Tables.documents(spark, SF).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val re = "[a-z0-9]+".r
    def toks(t: String) = re.findAllIn(t.toLowerCase).toSeq
    // independent trainer over the TRAIN fold's word counts only
    val trainWc = docs.filter(d => inTrain(d._1)).flatMap(d => toks(d._2))
      .groupBy(identity).map { case (t, g) => t -> g.length.toLong }.toSeq
    val (localMerges, _) = localTrain(trainWc, BpeOps.Rounds)
    assert(localMerges.nonEmpty)
    // replay re-tokenization of BOTH folds under the train-fold merges
    val cells = docs.flatMap { case (id, text) =>
      toks(text).map(t => (inTrain(id), id, t)) }
    def halfAway(p: Long, q: Long): Long = (2 * p + q) / (2 * q)
    val expect = cells.groupBy(_._1).map { case (isTrain, rs) =>
      val units = rs.map(r =>
        BpeOps.applyMerges(r._3, localMerges).length.toLong).sum
      val chars = rs.map(_._3.length.toLong).sum
      (if (isTrain) "train" else "heldout") ->
        ((rs.map(_._2).distinct.length.toLong, rs.length.toLong, units,
          chars, halfAway(units * 1000000L, chars) / 1e6))
    }
    val got = BpeOps.q156(spark, SF).collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(got === expect)
    assert(got.keySet === Set("train", "heldout"))
    // the train-fold tokenizer differs from the full-corpus one only
    // through its training data — the merges must come from the fold
    // (sanity: every merge pair's symbols occur in the train fold)
    val trainChars = trainWc.map(_._1).mkString.toSet
    localMerges.foreach(m =>
      assert(m.merged.forall(trainChars.contains), m.toString))
  }

  test("q157 unit-budget chunks: local replay, positional partition of each doc") {
    val merges = BpeOps.train(spark, SF)._1
    val docs = Tables.documents(spark, SF).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val re = "[a-z0-9]+".r
    // local replay: per doc, running unit sum → start-offset chunks
    val expect = docs.flatMap { case (id, text) =>
      val ts = re.findAllIn(text.toLowerCase).toSeq
      val units = ts.map(t => BpeOps.applyMerges(t, merges).length.toLong)
      var cum = 0L
      val rows = ts.zipWithIndex.map { case (t, i) =>
        val start = cum; cum += units(i)
        (start / BpeOps.ChunkUnitBudget, i + 1L, t, units(i))
      }
      rows.groupBy(_._1).map { case (cid, rs) =>
        (id, cid, rs.map(_._2).min, rs.map(_._2).max, rs.length.toLong,
          rs.map(_._4).sum, rs.map(_._3).mkString(" "))
      }
    }.toSet
    val got = BpeOps.q157(spark, SF).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6))).toSet
    assert(got === expect)
    assert(got.nonEmpty)
    // a doc's chunks partition its token sequence: in chunk order, each
    // chunk starts exactly one position after the previous one ends
    got.groupBy(_._1).foreach { case (id, cs) =>
      val ordered = cs.toSeq.sortBy(_._2)
      assert(ordered.head._3 === 1L, s"doc $id first chunk start")
      ordered.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b._3 === a._4 + 1, s"doc $id positional gap")
          assert(b._2 > a._2, s"doc $id chunk order")
        case _ => ()
      }
    }
    // the corpus really chunks (some doc exceeds one budget window)
    assert(got.exists(_._2 > 0))
  }

  test("trainFrom: snapshot at 4 + resume 4 ≡ uninterrupted train 8, byte-equal") {
    // r10 VERDICT #4 — the pagerankFrom resume contract for the BPE
    // trainer: persist the merge table mid-train, resume from it, and
    // the merge table AND final vocab must be bit-identical to an
    // uninterrupted run of the full budget (a 100 TB tokenizer train is
    // exactly the job that gets preempted).
    val straight = BpeOps.train(spark, SF, BpeOps.Rounds)
    val snapshot = BpeOps.train(spark, SF, 4)._1
    assert(snapshot.length === 4)
    val resumed = BpeOps.trainFrom(spark, SF, snapshot,
      BpeOps.Rounds - 4)
    assert(resumed._1 === straight._1)
    val vs = straight._2.collect().map(r => (r.getString(0), r.getLong(1)))
    val vr = resumed._2.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(vr.sorted === vs.sorted)
    // snapshot order is part of the contract: a shuffled snapshot
    // replays identically (rounds are re-sorted), a gapped one is a
    // named error instead of silent divergence
    val shuffled = BpeOps.trainFrom(spark, SF,
      scala.util.Random.shuffle(snapshot), BpeOps.Rounds - 4)
    assert(shuffled._1 === straight._1)
    val bad = intercept[IllegalArgumentException] {
      BpeOps.trainFrom(spark, SF, snapshot.drop(1), 1)
    }
    assert(bad.getMessage.contains("contiguous"))
  }

  test("q163 trainToVocab: budget stop fires before the round cap, merges prefix the full run") {
    val (merges, _) = BpeOps.trainToVocab(spark, SF, BpeOps.TargetVocab)
    // base inventory = distinct characters across the token vocabulary
    val base = corpusWordCounts.flatMap(_._1.toCharArray).distinct.size
    assert(base < BpeOps.TargetVocab,
      s"test corpus base inventory $base must sit under the target")
    // the vocab-budget stop fired EXACTLY (this corpus has repeating
    // pairs well past 5 merges, so the count stop never triggers here)
    assert(merges.size === BpeOps.TargetVocab - base)
    // ...and strictly before the round cap — the stop did real work
    assert(merges.size < BpeOps.Rounds)
    // no-repeat rule: every shipped merge is worth shipping
    assert(merges.forall(_.n >= 2))
    // prefix property: the stop rule truncates the fixed-budget trainer,
    // never diverges from it — round r of both trainers sees the same
    // vocab state and picks the same argmax
    val (full, _) = BpeOps.train(spark, SF)
    assert(merges === full.take(merges.size))
    // the registered q163 truncates the snapshot's memoized table; it
    // must equal this fresh count-stopped run
    import spark.implicits._
    assert(BpeOps.q163(spark, SF).as[BpeOps.BpeMerge].collect().toSeq === merges)
  }

  test("q163 trainToVocab: the no-repeat stop fires strictly before budget and cap") {
    import spark.implicits._
    // one repeating pair, one singleton pair: round 1 merges "a b" (n=2),
    // round 2's best pair "c d" occurs once -> count stop, with both the
    // vocab budget (100) and the round cap still open
    val v0 = Seq(("a b", 2L), ("c d", 1L)).toDF("w", "f")
    val (merges, vocab) = BpeOps.trainToVocabOn(v0, targetVocab = 100,
      maxRounds = BpeOps.Rounds)
    assert(merges.map(m => (m.round, m.pair, m.merged, m.n)) ===
      Seq((1, "a b", "ab", 2L)))
    // the stopped rounds pass the vocab through unchanged
    assert(vocab.collect().map(r => (r.getString(0), r.getLong(1))).sorted
      === Seq(("ab", 2L), ("c d", 1L)).sorted)
  }

  test("q164 tokenizer artifact: round-trip byte-equal, generation lifecycle, gapped load is a named error") {
    val base = Standing.dir(spark, "tokart_spec")
    val ms = BpeOps.train(spark, SF, BpeOps.Rounds)._1
    // write → load round-trips the merge table exactly
    assert(BpeOps.tokenizerWrite(spark, base, ms) === 1L)
    assert(BpeOps.tokenizerLoad(spark, base) === ms)
    // a re-publish bumps the generation and the loader follows it
    assert(BpeOps.tokenizerWrite(spark, base, ms.take(5)) === 2L)
    assert(BpeOps.tokenizerLoad(spark, base) === ms.take(5))
    // a third publish ages generation 1 out (retain = current + previous)
    assert(BpeOps.tokenizerWrite(spark, base, ms) === 3L)
    assert(!GenManifest.dir(base, "merges", 1L).exists(),
      "aged-out generation must be GC'd")
    assert(GenManifest.dir(base, "merges", 2L).exists(),
      "previous generation must be retained")
    assert(BpeOps.tokenizerLoad(spark, base) === ms)
    // a gapped table is a NAMED error at the load seam, not silent
    // mis-segmentation downstream
    BpeOps.tokenizerWrite(spark, base, ms.drop(1))
    val e = intercept[RuntimeException](BpeOps.tokenizerLoad(spark, base))
    assert(e.getMessage.contains("contiguous"))
  }

  test("q164: resume training FROM the disk artifact ≡ uninterrupted; artifact segmentation ≡ q151") {
    // the preemption story end-to-end: snapshot lands ON DISK (not in a
    // driver variable), a fresh process loads it and finishes training —
    // byte-equal to the uninterrupted run
    val base = Standing.dir(spark, "tokart_resume")
    BpeOps.tokenizerWrite(spark, base, BpeOps.train(spark, SF, 4)._1)
    val resumed = BpeOps.trainFrom(spark, SF,
      BpeOps.tokenizerLoad(spark, base), BpeOps.Rounds - 4)._1
    assert(resumed === BpeOps.train(spark, SF, BpeOps.Rounds)._1)
    // segmentation through the persisted artifact ≡ straight-through
    // (the registered oracle contract, pinned locally too)
    val viaArtifact = BpeOps.q164(spark, SF).collect().map(_.toSeq)
    val direct = BpeOps.q151(spark, SF).collect().map(_.toSeq)
    assert(viaArtifact === direct)
  }

  test("learned merges re-tokenize tokens to the engine's final vocab") {
    val (merges, engineVocab) = BpeOps.train(spark, SF)
    val byWord = engineVocab.collect()
      .map(r => r.getString(0).replace(" ", "") -> r.getString(0)).toMap
    corpusWordCounts.take(200).foreach { case (tok, _) =>
      val syms = BpeOps.applyMerges(tok, merges)
      assert(syms.mkString("") === tok, s"lossless: $tok")
      assert(syms.mkString(" ") === byWord(tok), s"re-tokenization: $tok")
      // merging never increases the symbol count
      assert(syms.length <= tok.length)
    }
  }

  test("q181 fertility gate: reconciles with q151's per-doc segmentation, gate fires both ways") {
    val langOf = Tables.documents(spark, SF).select("doc_id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // independent replay: aggregate q151's per-doc readout by language
    val per = BpeOps.q151(spark, SF).collect()
      .groupBy(r => langOf(r.getAs[Long]("doc_id")))
    val rows = BpeOps.q181(spark, SF).collect()
    assert(rows.map(_.getString(0)).toSet === per.keySet)
    rows.foreach { r =>
      val lang = r.getString(0)
      val docs = per(lang)
      assert(r.getAs[Long]("n_docs") === docs.length.toLong)
      val units = docs.map(_.getAs[Long]("n_units")).sum
      val chars = docs.map(_.getAs[Long]("n_chars")).sum
      assert(r.getAs[Long]("n_tokens") === docs.map(_.getAs[Long]("n_tokens")).sum)
      assert(r.getAs[Long]("n_units") === units)
      assert(r.getAs[Long]("n_chars") === chars)
      // exact half-away micros ratio, then the gate is a pure function
      val fert = ((2L * units * 1000000L + chars) / (2L * chars)) / 1e6
      assert(r.getAs[Double]("fertility") === fert)
      assert(r.getAs[Long]("gate_ok") ===
        (if (fert <= BpeOps.FertilityGateCeiling) 1L else 0L))
    }
    // the release gate is non-vacuous at this ceiling: some languages
    // pass and some fail
    assert(rows.exists(_.getAs[Long]("gate_ok") === 1L))
    assert(rows.exists(_.getAs[Long]("gate_ok") === 0L))
  }

  test("q203 grouped trainer ≡ independent per-class local training; no cross-class leakage; exhausted class stops") {
    import spark.implicits._
    // distinct per-class distributions, plus a class ('z') whose words
    // are single symbols — no pair ever exists, so it must contribute
    // NO merges while the other classes keep training
    val fix = Seq(
      ("x", "a b a b", 6L), ("x", "a b c", 4L), ("x", "c c a", 2L),
      ("y", "d e d e", 5L), ("y", "d e f", 3L), ("y", "f f d", 1L),
      ("z", "q", 9L))
      .toDF("script", "w", "f")
    val grouped = BpeOps.trainGroupedOn(fix, 8)
    val gx = grouped.filter(_._1 == "x").map(_._2)
    val gy = grouped.filter(_._1 == "y").map(_._2)
    // independent LOCAL replays per class (different code path)
    val lx = localTrain(Seq("abab" -> 6L, "abc" -> 4L, "cca" -> 2L), 8)._1
    val ly = localTrain(Seq("dede" -> 5L, "def" -> 3L, "ffd" -> 1L), 8)._1
    assert(gx === lx)
    assert(gy === ly)
    assert(gx.nonEmpty && gy.nonEmpty)
    assert(!grouped.exists(_._1 == "z"),
      "a pairless class must train zero merges")
    // per-class round sequences are contiguous from 1 (the artifact
    // loader's gapped-model precondition holds by construction)
    Seq(gx, gy).foreach(g => assert(g.map(_.round) === (1 to g.size)))
    // no leakage: training each class ALONE reproduces its grouped table
    val xOnly = BpeOps.trainGroupedOn(
      fix.filter(org.apache.spark.sql.functions.col("script") === "x"), 8)
    assert(xOnly.map(_._2) === gx)
  }

  test("q204 per-script artifact: round-trip, generation lifecycle, gapped per-script load is a named error") {
    val base = Standing.dir(spark, "tokart_script")
    val ms = Seq(
      "x" -> BpeMerge(1, "a b", "ab", 10L), "x" -> BpeMerge(2, "ab c", "abc", 4L),
      "y" -> BpeMerge(1, "d e", "de", 7L))
    assert(BpeOps.tokenizerWriteScripts(spark, base, ms) === 1L)
    assert(BpeOps.tokenizerLoadScripts(spark, base) ===
      Map("x" -> ms.take(2).map(_._2), "y" -> ms.drop(2).map(_._2)))
    // a re-publish bumps the generation and the loader follows it
    assert(BpeOps.tokenizerWriteScripts(spark, base, ms.take(1)) === 2L)
    assert(BpeOps.tokenizerLoadScripts(spark, base) ===
      Map("x" -> ms.take(1).map(_._2)))
    // a third publish ages generation 1 out (retain = current + previous)
    assert(BpeOps.tokenizerWriteScripts(spark, base, ms) === 3L)
    assert(!GenManifest.dir(base, "merges_script", 1L).exists(),
      "aged-out generation must be GC'd")
    assert(GenManifest.dir(base, "merges_script", 2L).exists(),
      "previous generation must be retained")
    // one script gapped (rounds 1,3) fails loudly even though the other
    // script's table is whole
    BpeOps.tokenizerWriteScripts(spark, base, Seq(
      "x" -> BpeMerge(1, "a b", "ab", 10L), "x" -> BpeMerge(3, "c d", "cd", 2L),
      "y" -> BpeMerge(1, "d e", "de", 7L)))
    val e = intercept[RuntimeException](BpeOps.tokenizerLoadScripts(spark, base))
    assert(e.getMessage.contains("contiguous"))
  }

  test("q204 grouped unit mapping dispatches each script to ITS table, ≡ the local applyMerges replay") {
    import spark.implicits._
    val tables = Map(
      "x" -> Seq(BpeMerge(1, "a b", "ab", 5L), BpeMerge(2, "ab c", "abc", 3L)),
      "y" -> Seq(BpeMerge(1, "b c", "bc", 4L)))
    val keys = Seq(("x", "abc"), ("y", "abc"), ("x", "zz"), ("y", "bcbc"),
      ("w", "ab"))
      .toDF("script", "token")
    val got = BpeOps.unitMappingGrouped(keys, tables).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // every (script, token) cell equals the local replay of THAT
    // script's merges — the dispatch contract
    for ((sc, tok) <- Seq(("x", "abc"), ("y", "abc"), ("x", "zz"),
        ("y", "bcbc")))
      assert(got((sc, tok)) ===
        BpeOps.applyMerges(tok, tables(sc)).length.toLong, s"($sc, $tok)")
    // the SAME token segments differently under different tables
    assert(got(("x", "abc")) === 1L) // a b c → ab c → abc
    assert(got(("y", "abc")) === 2L) // a b c → a bc
    // a script with NO table falls back to character units
    assert(got(("w", "ab")) === 2L)
  }
}

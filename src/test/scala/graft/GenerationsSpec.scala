package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DedupOps, SimOps}

/** r6: generation-cataloged index artifacts (VERDICT r5 #2/#5).
  *
  * Compaction used to swap the new payload in place — crash-safe, but a
  * probe running concurrently with the swap could straddle generations.
  * Now every compaction writes a WHOLE generation beside the live one and
  * publishes it with one atomic manifest rename ([[GenManifest]]); retired
  * generations are retained (default: current + previous) and only then
  * GC'd. What this buys, and what this spec pins:
  *
  *  - a probe OPENED against generation N returns bit-identical results
  *    while generation N+1 is being written (sibling directory/table —
  *    the reader's file list can't see it) and after the publish (the
  *    retired generation keeps its files);
  *  - pinned probes on the bucketed artifacts still read a real bucketed
  *    catalog table, so the exchange-free index-side plan survives
  *    pinning;
  *  - generations age out past the retain depth and their storage is
  *    deleted — the manifest is the single source of what's readable;
  *  - the q105/q108/q115/q119 entry points are unchanged (their oracle
  *    hashes are the driver's regression net for that).
  */
class GenerationsSpec extends AnyFunSuite with SharedSpark {

  test("manifest publish is atomic, ordered, and ages generations out") {
    val base = Standing.dir(spark, "genmanifest_spec")
    GenManifest.reset(base, "t")
    assert(GenManifest.read(base, "t").isEmpty)
    assert(GenManifest.publish(base, "t", 0L) === Nil)
    assert(GenManifest.read(base, "t").get === GenManifest.State(0L, Seq(0L)))
    assert(GenManifest.publish(base, "t", 1L) === Nil) // retain 2: both kept
    assert(GenManifest.read(base, "t").get === GenManifest.State(1L, Seq(0L, 1L)))
    assert(GenManifest.publish(base, "t", 2L) === Seq(0L)) // 0 ages out
    assert(GenManifest.read(base, "t").get === GenManifest.State(2L, Seq(1L, 2L)))
    assert(GenManifest.current(base, "t") === 2L)
    // compare-and-publish: a maintainer that built from a generation the
    // manifest has moved past must fail loudly, leaving the manifest as-is
    intercept[IllegalStateException] {
      GenManifest.publish(base, "t", 3L, expectCurrent = Some(1L))
    }
    assert(GenManifest.read(base, "t").get === GenManifest.State(2L, Seq(1L, 2L)))
    assert(GenManifest.publish(base, "t", 3L, expectCurrent = Some(2L)) === Seq(1L))
  }

  test("a malformed manifest is a named error quoting the file") {
    val base = Standing.dir(spark, "genmanifest_malformed")
    base.mkdirs()
    val f = new java.io.File(base, "MANIFEST_t")
    Seq("", "current=3").foreach { text =>
      java.nio.file.Files.writeString(f.toPath, text)
      val e = intercept[IllegalStateException](GenManifest.read(base, "t"))
      assert(e.getMessage.contains(s"malformed generation manifest $f"), e.getMessage)
      assert(e.getMessage.contains(s"\"$text\""), e.getMessage)
    }
  }

  test("a leftover unpublished generation dir is refused by name, not overwritten or removed") {
    // a publish that threw after its data write leaves `<name>_g<next>`
    // behind; the next write must neither overwrite it (it may be a
    // racing maintainer's in-flight write) nor die on a raw path error
    val wBase = Standing.dir(spark, "genleftover_w2v")
    val model = graft.operators.EmbedOps.w2vFit(spark, SF)
    assert(graft.operators.EmbedOps.w2vWrite(spark, wBase, model) === 1L)
    val tBase = Standing.dir(spark, "genleftover_merges")
    val ms = graft.operators.BpeOps.train(spark, SF)._1
    assert(graft.operators.BpeOps.tokenizerWrite(spark, tBase, ms) === 1L)
    Seq[(java.io.File, String, () => Long)](
      (wBase, "w2v", () => graft.operators.EmbedOps.w2vWrite(spark, wBase, model)),
      (tBase, "merges", () => graft.operators.BpeOps.tokenizerWrite(spark, tBase, ms))
    ).foreach { case (base, name, write) =>
      val planted = GenManifest.dir(base, name, 2L)
      assert(planted.mkdirs())
      val marker = new java.io.File(planted, "in-flight")
      java.nio.file.Files.writeString(marker.toPath, "x")
      val e = intercept[IllegalStateException](write())
      assert(e.getMessage.contains(s"$planted is an unpublished generation of '$name'"),
        e.getMessage)
      assert(marker.exists(), s"$name: the leftover dir must not be removed")
      assert(GenManifest.current(base, name) === 1L)
    }
  }

  test("ann index: probe pinned at gen N is bit-identical across compaction; aged gens GC") {
    val e = Tables.embeddings(spark, SF)
    val base = Standing.dir(spark, "anngen_spec")
    SimOps.annIndexWrite(spark, base, e.filter(col("vec_id") % 5 =!= 0))
    SimOps.annIndexAppend(base,
      e.filter(col("vec_id") % 5 === 0).select(col("vec_id"), col("embedding")),
      SimOps.annIndexModel(spark, base))
    val gen1 = SimOps.annIndexGen(base)
    assert(gen1 === 1L)
    val (cellsRow, cbRow) = SimOps.annIndexModel(spark, base)
    val probed = SimOps.probeCells(
      SimOps.withNorm(SimOps.testQueries(e)), cellsRow, SimOps.IdxNProbe)
    // the DataFrame a concurrent reader would hold: OPENED at gen 1
    val pinned = SimOps.annIndexSearch(
      SimOps.annIndexVecsOf(spark, base, gen1), probed, cbRow, SimOps.IdxK)
    def shot(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toList
    val before = shot(pinned)
    assert(before.nonEmpty)
    // compact → gen 2 published; the pinned reader re-evaluates to the
    // exact same rows (its directory is retained, the new generation is
    // a sibling it never lists)
    SimOps.annIndexCompact(spark, base)
    assert(SimOps.annIndexGen(base) === 2L)
    assert(shot(pinned) === before)
    assert(GenManifest.dir(base, "vecs", 1L).exists(), "retained gen deleted")
    // current-generation probe answers identically (compaction moves
    // bytes, never rows)
    assert(shot(SimOps.annIndexSearch(
      SimOps.annIndexVecs(spark, base), probed, cbRow, SimOps.IdxK)) === before)
    // a second compaction ages gen 1 past the retain depth: storage GC'd,
    // gen 2 (still retained) remains pinnable
    SimOps.annIndexCompact(spark, base)
    assert(SimOps.annIndexGen(base) === 3L)
    assert(!GenManifest.dir(base, "vecs", 1L).exists(), "aged-out gen not GC'd")
    assert(shot(SimOps.annIndexSearch(
      SimOps.annIndexVecsOf(spark, base, 2L), probed, cbRow, SimOps.IdxK)) === before)
  }

  test("bucketed band index: resolved probe survives the swap; pinned gens stay bucketed") {
    import graft.operators.DedupOps.{IncrSplitMod}
    val docSh = DedupOps.docShingles(spark, SF).filter(size(col("shs")) > 0)
    DedupOps.q108Write(spark, docSh.filter(col("doc_id") % IncrSplitMod =!= 0))
    val newSh = docSh.filter(col("doc_id") % IncrSplitMod === 0).cache()
    // a reader that RESOLVED the live tables before any maintenance —
    // the concurrent-probe case the in-place swap used to break
    val resolvedBefore = spark.table("g108_shingles")
    val before = DedupOps.q108Probe(spark, newSh).collect().toList
    assert(before.nonEmpty)
    DedupOps.q108Append(spark, newSh)
    // post-append, pre-swap view of generation 0 (appends land inside
    // the generation; it's the SWAP that must not strand a reader)
    val beforeRows = resolvedBefore.count()
    DedupOps.q108Compact(spark)
    assert(DedupOps.G108Shingles.gen(spark) === 1L)
    // the pre-swap reader's plan still reads generation 0's files —
    // retained, so identical; and the retired table is pinnable by name
    assert(resolvedBefore.count() === beforeRows)
    val pinned0 = DedupOps.G108Shingles.at(spark, 0L)
    assert(pinned0.count() === beforeRows)
    // pinned generation is still a BUCKETED catalog table (the plan
    // contract pinning needs: DESCRIBE carries the bucket spec)
    val meta = spark.sql("DESCRIBE EXTENDED g108_shingles_r0").collect()
      .map(r => s"${r.getString(0)}: ${r.getString(1)}").mkString("\n")
    assert(meta.contains(s"Num Buckets: ${DedupOps.IndexBuckets}"), meta)
    // live probe after compaction: old ∪ appended, dedup-stable — the
    // batch re-probed against an index that now CONTAINS it reports the
    // same duplicate pairs plus self-hits; spot-check the original pairs
    // are all still found
    val after = DedupOps.q108Probe(spark, newSh.filter(col("doc_id") =!= -1))
      .collect().toList
    val beforePairs = before.map(r => (r.getLong(0), r.getLong(1))).toSet
    val afterPairs = after.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(beforePairs.subsetOf(afterPairs))
    // second compaction ages gen 0 out: table dropped, storage gone,
    // manifest no longer offers it for pinning
    DedupOps.q108Compact(spark)
    assert(!spark.catalog.tableExists("g108_shingles_r0"))
    intercept[IllegalArgumentException] {
      DedupOps.G108Shingles.at(spark, 0L)
    }
    assert(DedupOps.G108Shingles.at(spark, 1L)
      .count() > 0L)
    newSh.unpersist()
  }

  test("compaction heals crash states: dead tmp, retire-without-promote, promote-without-publish") {
    import graft.operators.DedupOps.IncrSplitMod
    val docSh = DedupOps.docShingles(spark, SF).filter(size(col("shs")) > 0)
    DedupOps.q108Write(spark, docSh.filter(col("doc_id") % IncrSplitMod =!= 0))
    val rows = spark.table("g108_shingles").count()
    assert(rows > 0)
    // STATE 1: a dead `{table}_c{next}` tmp from a crashed attempt — a
    // naive retry would die on the ErrorIfExists write
    spark.range(1).selectExpr("id AS doc_id", "array('x') AS shs")
      .write.saveAsTable("g108_shingles_c1")
    DedupOps.q108Compact(spark)
    assert(DedupOps.G108Shingles.gen(spark) === 1L)
    assert(spark.table("g108_shingles").count() === rows)
    // STATE 3: crash between promote and publish — the live table is
    // already the next generation, only the manifest is stale. Simulate
    // by rewinding the manifest one generation; the next attempt must
    // heal FORWARD (re-publish) and then compact normally on top.
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_dedupindex-${spark.sparkContext.applicationId}")
    val mf = new java.io.File(base, "MANIFEST_g108_shingles")
    java.nio.file.Files.writeString(mf.toPath, "current=0;retained=0\n")
    DedupOps.q108Compact(spark)
    assert(DedupOps.G108Shingles.gen(spark) === 2L)
    assert(spark.table("g108_shingles").count() === rows)
    // STATE 2: crash between retire and promote — the live name is gone,
    // the retired current generation holds the data. The next attempt
    // must restore the live name and proceed.
    spark.sql("ALTER TABLE g108_shingles RENAME TO g108_shingles_r2")
    DedupOps.q108Compact(spark)
    assert(DedupOps.G108Shingles.gen(spark) === 3L)
    assert(spark.table("g108_shingles").count() === rows)
    // STATE 4 (r7 ADVICE): crash AFTER publish but BEFORE the GC loop —
    // an aged-out retired generation's table+files survive and nothing
    // used to remove them. Simulate the leak with a retired-generation
    // table whose gen is far outside the retained set; the next
    // compaction's pre-clean must drop it (and must KEEP the retained
    // predecessor).
    spark.range(1).selectExpr("id AS doc_id", "array('leak') AS shs")
      .write.saveAsTable("g108_shingles_r0")
    assert(spark.catalog.tableExists("g108_shingles_r0"))
    DedupOps.q108Compact(spark)
    assert(!spark.catalog.tableExists("g108_shingles_r0"),
      "aged-out retired generation must be GC'd by the pre-clean")
    assert(spark.catalog.tableExists("g108_shingles_r3"),
      "the retained predecessor generation must survive the pre-clean")
    assert(spark.table("g108_shingles").count() === rows)
  }

  test("q108/q115/q119/q130 standing snapshots: a re-run probes the artifacts, never rewrites") {
    // r8: the registered incremental entries reuse the session's
    // pristine snapshot (the q105/q122/q126 pattern). First call builds
    // (the crash test above left a stale marker, so this exercises the
    // rebuild path too); the second must leave every artifact file —
    // path, mtime, size — untouched and return identical rows.
    def listing(f: java.io.File): Set[String] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).flatMap(listing).toSet
      else Set(s"${f.getAbsolutePath}@${f.lastModified()}:${f.length()}")
    val appId = spark.sparkContext.applicationId
    def base(p: String) =
      new java.io.File(System.getProperty("java.io.tmpdir"), s"$p-$appId")
    Seq(
      ("q108", () => DedupOps.q108(spark, SF), "graft_dedupindex"),
      ("q115", () => DedupOps.q115(spark, SF), "graft_spanindex"),
      ("q119", () => DedupOps.q119(spark, SF), "graft_srcspanindex"),
      ("q130", () => graft.operators.TextOps.q130(spark, SF), "graft_bm25index")
    ).foreach { case (name, run, prefix) =>
      val r1 = run().collect().toList
      val before = listing(base(prefix))
      assert(before.nonEmpty, s"$name left no artifact files")
      val r2 = run().collect().toList
      assert(r2 === r1, name)
      assert(listing(base(prefix)) === before,
        s"$name re-run must not rewrite its standing snapshot")
    }
  }
}

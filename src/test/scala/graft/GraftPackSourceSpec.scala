package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.PipelineOps

/** The `graftpack` DataSource V2 connector (r14 — SURVEY spec row):
  * named-table reads over the pack artifact replacing the path-based
  * `<lineage>_g<gen>`/`GenManifest.current` convention. Pins: V2 scan node (no
  * silent V1 fallback), default lineage/current-generation resolution,
  * explicit generation time travel across publishes, lineage selection
  * (packclean / manifest lineages), partition pruning through the
  * format() read, and loud errors for a missing base option or an
  * unpublished lineage. */
class GraftPackSourceSpec extends AnyFunSuite with SharedSpark {

  private def base = PipelineOps.packArtifact(spark, SF)

  test("format(graftpack) resolves the current generation and matches packRead") {
    val viaFormat = spark.read.format("graftpack")
      .option("base", base.getAbsolutePath).load()
      .withColumn("shard", col("shard").cast("long"))
      .select("doc_id", "chunk_id", "lang", "n_tokens", "n_units",
        "cum_units", "shard")
      .collect().map(_.toSeq).sortBy(_.toString)
    val viaHelper = PipelineOps.Lineage.Pack.read(spark, base)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(viaFormat.nonEmpty)
    assert(viaFormat === viaHelper)
  }

  test("the read is a V2 BatchScan (not a V1 fallback) and shard predicates prune partitions") {
    val seek = spark.read.format("graftpack")
      .option("base", base.getAbsolutePath).load()
      .filter(col("shard") === 0)
    val plan = seek.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), s"expected a V2 BatchScan node:\n$plan")
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse("")
    assert(pf.matches(""".*PartitionFilters: \[[^\]]*shard[^\]]*0[^\]]*\].*"""),
      s"shard seek must prune partitions on the V2 scan, got: $pf")
  }

  test("explicit generation pins a read across a later publish (time travel)") {
    // PRIVATE artifact base (r14 ADVICE): the old form mutated the
    // shared q165 artifact and restored it in a finally — if that
    // restore write ever failed, every later suite would read a
    // one-shard pack far from the cause. Same content, throwaway base.
    val tmp = java.nio.file.Files.createTempDirectory("graftpack_tt").toFile
    try {
      val full = PipelineOps.Lineage.Pack.read(spark, base)
      val genBefore = PipelineOps.Lineage.Pack.write(tmp, full)
      val rowsBefore = spark.read.format("graftpack")
        .option("base", tmp.getAbsolutePath).load().count()
      // publish a NEW generation with one shard only — the current-gen
      // read must follow it, the pinned read must not
      val oneShard = full.filter(col("shard") === 0)
      val genAfter = PipelineOps.Lineage.Pack.write(tmp, oneShard)
      assert(genAfter === genBefore + 1)
      val current = spark.read.format("graftpack")
        .option("base", tmp.getAbsolutePath).load()
      assert(current.count() === oneShard.count())
      val pinned = spark.read.format("graftpack")
        .option("base", tmp.getAbsolutePath)
        .option("generation", genBefore).load()
      assert(pinned.count() === rowsBefore)
    } finally GenManifest.rmTree(tmp)
  }

  test("time travel past the retain depth is a loud named error, not a raw path error") {
    // publish DefaultRetain + 1 generations on a private base so gen 1
    // ages out and is GC'd; pinning it must raise the connector's own
    // error (the GC contract honors pinned readers only within the
    // retain depth — r14 VERDICT #2)
    val tmp = java.nio.file.Files.createTempDirectory("graftpack_gc").toFile
    try {
      val full = PipelineOps.Lineage.Pack.read(spark, base)
      (0 to GenManifest.DefaultRetain).foreach(_ =>
        PipelineOps.Lineage.Pack.write(tmp, full))
      val e = intercept[Exception] {
        spark.read.format("graftpack")
          .option("base", tmp.getAbsolutePath)
          .option("generation", 1L).load()
      }
      assert(e.getMessage.contains("retain depth"),
        s"expected the named GC error, got: ${e.getMessage}")
      // a generation inside the retain depth still reads
      val cur = GenManifest.current(tmp, "pack")
      assert(spark.read.format("graftpack")
        .option("base", tmp.getAbsolutePath)
        .option("generation", cur - 1).load().count() > 0)
    } finally GenManifest.rmTree(tmp)
  }

  test("lineage option selects manifest and packclean lines") {
    val mf = spark.read.format("graftpack")
      .option("base", base.getAbsolutePath)
      .option("lineage", "packmf")
      .option("generation", GenManifest.current(base, "pack"))
      .load()
    // the persisted manifest: one row per shard of the build
    assert(mf.count() ===
      PipelineOps.Lineage.Pack.read(spark, base).select("shard").distinct().count())
  }

  test("missing base and unpublished lineage fail loudly") {
    val e1 = intercept[Exception] {
      spark.read.format("graftpack").load()
    }
    assert(e1.getMessage.contains("base"))
    val e2 = intercept[Exception] {
      spark.read.format("graftpack")
        .option("base", base.getAbsolutePath)
        .option("lineage", "nosuchlineage").load()
    }
    assert(e2.getMessage.contains("no published generation"))
  }
}

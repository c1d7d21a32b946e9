package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter: SPARK_GRAFT_ONLY=q40_wss95,q65_ntile reruns
    // just those dumps (the driver never sets it → full run)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // group-wise with a cache clear between families — shared-subplan
    // caches live exactly as long as the group that reuses them
    SparkEntry.opGroups.foreach { group =>
      group.filter(op => only.forall(_.contains(op.name))).foreach { op =>
        try op.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${op.name}")
        catch { case e: Throwable =>
          System.err.println(s"[verify] ${op.name} failed: ${e.getMessage}")
        }
        // CC localCheckpoint blocks (invisible to clearCache) back only
        // the just-written plan — release them before the next op
        CheckpointRegistry.releaseAll()
      }
      spark.catalog.clearCache()
      Standing.clear() // family memo (pair/label/rank sets)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Artifact-amortized twin dump (r13 VERDICT #4): the tokenizer/pack
    // chains as once-per-session CREATE TABLE sources plus each family
    // oracle rewritten to read them — scripts/baseline_duckdb.py times
    // these as the second (amortized) ratio after verifying each
    // rewritten query's result equals its cold oracle's.
    val am = graft.operators.AmortizedSql
    val amJson = "{\"chains\": [" +
      am.chains.map { case (n, sql) => s"[${q(n)}, ${q(sql)}]" }
        .mkString(",") +
      "], \"queries\": " +
      am.amortized.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}") + "}"
    Files.writeString(Paths.get(s"$outDir/amortized_sql.json"), amJson)
    spark.stop()
  }
}

package graft.operators

import java.io.File
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import graft.{GenManifest, Op, Standing, Tables}
import graft.Op.SUM_D
import graft.functions.Num.dsum

/** Bucketed-table storage path (SURVEY §2 r4, q93).
  *
  * The 100 TB fact-fact join strategy: pay the shuffle ONCE at write
  * time — both tables bucketed (and sorted) on the join key — and every
  * subsequent join on that key plans with no exchange on either side;
  * co-location replaces the network. This operator is deliberately
  * write-then-query: the write IS the operator (the storage layout is
  * the optimization), and the query half shows the layout is
  * transparent to results. Correctness is oracle-checked against the
  * plain parquet join; the no-shuffle plan shape of the big-big path is
  * pinned in BucketJoinSpec (with broadcast disabled — at test SF the
  * optimizer correctly prefers broadcasting the small side, which
  * bucketing must not and does not break).
  *
  * Bucket files live under a per-application path in the system temp
  * dir (concurrent JVMs — test forks beside Bench — must not clobber
  * each other's layout; the q105 artifact rule), cleaned at JVM exit
  * by [[graft.Standing]]. The write runs ONCE per corpus snapshot
  * (r18; the q105/q122/q126 standing-artifact convention): the
  * operator's own 100 TB story is "pay the shuffle once at write time,
  * every subsequent join rides the layout", so rebuilding both tables
  * on every invocation measured the opposite of the design; the
  * registered entry now measures the amortized bucketed join, the
  * production steady state. Rebuild triggers: corpus dir change or
  * missing catalog tables. Results are unchanged (the readout is the
  * same join; the oracle replays the plain-parquet join each run).
  *
  * It is also the storage layer of every catalog artifact: [[fresh]] is
  * the one reset + write + publish body of a snapshot build, and
  * [[Index]] is a bucketed index table's write, append, compaction and
  * pinned reads (generation-cataloged through [[graft.GenManifest]]).
  */
object Bucketed {
  val Buckets = 8

  private[operators] def reset(s: SparkSession, base: File, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    // retired/in-flight generation tables from a previous build of the
    // same artifact (graft.GenManifest catalog) go with it
    s.catalog.listTables().collectAsList().asScala.map(_.name)
      .filter(n => n.startsWith(s"${table}_r") || n.startsWith(s"${table}_c"))
      .foreach(n => s.sql(s"DROP TABLE IF EXISTS $n"))
    GenManifest.reset(base, table)
    // the in-memory catalog is fresh per JVM: orphaned file locations
    // from a previous run survive DROP TABLE, so clear them on disk too
    // (generation payload dirs included)
    (new File(base, table) +: GenManifest.dirs(base, table))
      .foreach(GenManifest.rmTree)
  }

  /** A fresh build of catalog artifact `table` under `base`: reset it,
    * write `df` through `layout` at `base/table` and, if `publish`,
    * publish it as generation 0. */
  private[operators] def fresh(s: SparkSession, base: File, table: String,
      df: DataFrame, publish: Boolean = true)(
      layout: DataFrameWriter[Row] => DataFrameWriter[Row]): Unit = {
    reset(s, base, table)
    layout(df.write)
      .option("path", new File(base, table).getAbsolutePath)
      .mode("overwrite").saveAsTable(table)
    if (publish) GenManifest.publish(base, table, 0L)
  }

  /** A bucketed index table's whole generation lifecycle, declared once:
    * the catalog table `table` under the [[graft.Standing]] dir
    * `standing`, bucketed into [[DedupOps.IndexBuckets]] on `bucketCols`
    * and sorted on `sortCols` in its write, its appends and its
    * compactions alike. `dedupe` collapses duplicate rows at compaction
    * (for SET-valued artifacts like g115, where appends re-add windows
    * the index already holds); `merge` is the AGGREGATING-compaction
    * hook (schema-preserving; e.g. q130's per-term partial-count rows
    * sum to one row per term): probes that aggregate over partials are
    * invariant under it, so compaction may apply it for free while
    * rewriting. */
  final case class Index(standing: String, table: String,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil,
      dedupe: Boolean = false, merge: DataFrame => DataFrame = identity) {
    private def layout(w: DataFrameWriter[Row]): DataFrameWriter[Row] = {
      val b = w.bucketBy(DedupOps.IndexBuckets, bucketCols.head, bucketCols.tail: _*)
      if (sortCols.nonEmpty) b.sortBy(sortCols.head, sortCols.tail: _*) else b
    }

    /** Corpus-snapshot build: a fresh generation 0 holding `df`. */
    def write(s: SparkSession, df: DataFrame): Unit =
      fresh(s, Standing.dir(s, standing), table, df)(layout)

    /** Fold `df` into the current generation by bucketed append. */
    def append(s: SparkSession, df: DataFrame): Unit =
      layout(df.write).mode("append").saveAsTable(table)

    /** COMPACTION: rewrite the artifact as ONE file per bucket at a
      * FRESH GENERATION and promote it UNDER THE SAME TABLE NAME, so
      * probe code (and its exchange-free plan contract) never changes.
      *
      * The rewrite streams files → `repartition(numBuckets, bucketCols)`
      * — the same murmur3-pmod hash bucketing assigns file buckets with,
      * so every write task holds exactly its own bucket's rows and emits
      * exactly one file — → bucketed write at the new generation's path.
      * (Files, not the table: a bucketed-table scan satisfies the
      * repartition's distribution, so Catalyst elides the exchange — and
      * then DisableUnnecessaryBucketedScan downgrades to a packed plain
      * scan, leaving the write on arbitrary splits. The plain read keeps
      * the aligning repartition in the plan.)
      *
      * The swap is generation-cataloged ([[graft.GenManifest]]) with no
      * destructive window: retire the live name FIRST (rename to
      * `{table}_r{gen}` — external tables keep their location, so any
      * probe plan already resolved keeps its exact file list), promote
      * the new generation, ROLL BACK the retire if the promote throws,
      * publish the manifest atomically, and only then GC generations that
      * aged past the retain depth (current + previous). A probe pinned at
      * a retained generation ([[at]]) reads the same bucketed table it
      * always did — bit-identical results while the next generation is
      * being written and after the publish (spec-pinned).
      * Contract: ONE maintainer at a time; any number of readers.
      *
      * Corpus cost: one read + write of the artifact, no joins, no wide
      * aggregation — the periodic price that keeps probe plans both
      * exchange-free and sort-free at any append count. */
    def compact(s: SparkSession): Unit = {
      val base = Standing.dir(s, standing)
      // Crash-recovery pre-clean (r6 ADVICE): under the single-maintainer
      // contract, a previous attempt that DIED mid-swap leaves exactly one
      // of three states, each detectable and healable before this attempt:
      //   1. leftover `{table}_c*` tmp tables (crash before promote, or a
      //      completed promote whose tmp survived) — always dead: drop, so
      //      this attempt's ErrorIfExists write doesn't wedge;
      //   2. live name GONE but `{table}_r{manifest-current}` present
      //      (crash between retire and promote) — restore the live name;
      //   3. live name present AND `{table}_r{manifest-current}` present
      //      (crash between promote and publish: the live table is already
      //      the NEXT generation, only the manifest is stale) — heal
      //      FORWARD by publishing the interrupted generation, then
      //      proceed against the now-consistent catalog.
      locally {
        s.catalog.listTables().collectAsList().asScala.map(_.name)
          .filter(_.startsWith(s"${table}_c")).foreach(dropTableAndFiles(s, _))
        val curM = GenManifest.current(base, table)
        val retiredCur = s"${table}_r$curM"
        if (s.catalog.tableExists(retiredCur)) {
          if (!s.catalog.tableExists(table))
            s.sql(s"ALTER TABLE $retiredCur RENAME TO $table") // state 2
          else
            GenManifest.publish(base, table, curM + 1, Some(curM))
              .foreach(dropGen(s, _)) // state 3
        }
        // state 4 (r7 ADVICE): a crash AFTER publish but BEFORE the GC
        // loop leaves aged-out `{table}_r{old}` tables no later pass
        // removed (states 1–3 only inspect _c* and _r{current}). Re-read
        // the now-consistent manifest and drop every retired-generation
        // table whose gen fell out of the retained set — they are
        // unreachable by contract (readers pin via `at` only within
        // retain depth).
        val retained = GenManifest.read(base, table)
          .map(_.retained.toSet).getOrElse(Set.empty[Long])
        val rPat = (java.util.regex.Pattern.quote(table) + "_r(\\d+)").r
        s.catalog.listTables().collectAsList().asScala.map(_.name).foreach {
          case rPat(g) if !retained.contains(g.toLong) =>
            dropTableAndFiles(s, s"${table}_r$g")
          case _ => ()
        }
      }
      val cur = GenManifest.current(base, table)
      val next = cur + 1
      val oldLoc = new File(s.sessionState.catalog.getTableMetadata(
        TableIdentifier(table)).location)
      val tmp = s"${table}_c$next"
      val src0 = s.read.parquet(oldLoc.getAbsolutePath)
      val src = merge(if (dedupe) src0.distinct() else src0)
      layout(src.repartition(DedupOps.IndexBuckets, bucketCols.map(col): _*).write)
        .option("path", GenManifest.dir(base, table, next).getAbsolutePath)
        .saveAsTable(tmp)
      s.sql(s"ALTER TABLE $table RENAME TO ${table}_r$cur") // retire first
      try s.sql(s"ALTER TABLE $tmp RENAME TO $table") // promote
      catch { case e: Throwable =>
        s.sql(s"ALTER TABLE ${table}_r$cur RENAME TO $table") // roll back
        throw e
      }
      try GenManifest.publish(base, table, next, Some(cur))
        .foreach(dropGen(s, _))
      catch { case e: Throwable =>
        // publish failed (or lost the compare-and-publish race): the
        // catalog must not outrun the manifest — demote the promoted
        // generation, restore the previous one as live, drop the orphaned
        // build. Leaves exactly the pre-compaction state (r6 ADVICE).
        s.sql(s"ALTER TABLE $table RENAME TO $tmp")
        s.sql(s"ALTER TABLE ${table}_r$cur RENAME TO $table")
        dropTableAndFiles(s, tmp)
        throw e
      }
    }

    /** Drop a retired generation's table + storage (post-publish GC). */
    private def dropGen(s: SparkSession, gen: Long): Unit =
      dropTableAndFiles(s, s"${table}_r$gen")

    /** The current generation. */
    def gen(s: SparkSession): Long = GenManifest.current(Standing.dir(s, standing), table)

    /** The artifact pinned at generation `gen` — the live table if `gen`
      * is current, else the retained retired table. Still a bucketed
      * catalog table, so pinned probes keep the exchange-free plan. */
    def at(s: SparkSession, gen: Long): DataFrame = {
      val st = GenManifest.read(Standing.dir(s, standing), table)
        .getOrElse(sys.error(s"artifact $table not built"))
      require(st.retained.contains(gen),
        s"generation $gen of $table not retained (have ${st.retained.mkString(",")})")
      s.table(if (gen == st.current) table else s"${table}_r$gen")
    }

    /** Data files currently backing the table — the compaction trigger
      * for scheduled maintenance (appends land one file set per batch;
      * past a threshold, compacting restores one file per bucket). */
    def fileCount(s: SparkSession): Int =
      GenManifest.parquetFiles(new File(s.sessionState.catalog
        .getTableMetadata(TableIdentifier(table)).location))
  }

  /** Drop any catalog table together with its external files. */
  private def dropTableAndFiles(s: SparkSession, name: String): Unit =
    if (s.catalog.tableExists(name)) {
      val loc = new File(s.sessionState.catalog.getTableMetadata(
        TableIdentifier(name)).location)
      s.sql(s"DROP TABLE $name")
      GenManifest.rmTree(loc)
    }

  def q93(s: SparkSession, dir: String): DataFrame = {
    // the bucketed layout of `dir`, built unless the live layout already
    // describes it (tables present in this session's catalog AND built
    // from the same dir)
    Standing.artifact(s, "bucketed", "g93", dir,
        Standing.catalogHas(s, "g93_orders", "g93_lineitem")) { base =>
      fresh(s, base, "g93_orders", Tables.orders(s, dir), publish = false)(
        _.bucketBy(Buckets, "o_orderkey").sortBy("o_orderkey"))
      fresh(s, base, "g93_lineitem", Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_extendedprice")), publish = false)(
        _.bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey"))
    }
    s.table("g93_lineitem")
      .join(s.table("g93_orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val q93Sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n, ${SUM_D("l_extendedprice")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q93_bucketed_join", q93, Some(q93Sql)),
  )
}

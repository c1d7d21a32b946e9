package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{Op, Tables}
import graft.text.Text

/** Document deduplication (SURVEY §2 rows 48–52).
  *
  * The scale story: all-pairs comparison is O(n²) and dead at 100 TB. Every
  * operator here generates candidates near-linearly first —
  *   - exact:      one hash-groupBy (shuffle on the fingerprint)
  *   - jaccard:    inverted shingle index w/ a frequent-shingle cap (the
  *                 skew guard: a shingle appearing in k docs contributes
  *                 k² join rows, so hot shingles are dropped à la stop-words)
  *   - minhash:    fixed-size signatures + banded LSH bucketing; only
  *                 bucket-mates are verified (candidates ∝ true dups)
  *   - simhash:    64→32-bit sketch, chunk-banding for hamming candidates
  *   - embedding:  see [[SimOps]] for the LSH path; threshold verify here
  * and verification joins are tiny-side broadcasts.
  *
  * MinHash arithmetic is pure int64 — `(a·(md5₆₀ mod 2³⁰) + b) mod (2⁶¹−1)`
  * — overflow-free and reproducible in any engine, which is what lets the
  * DuckDB oracle replay it bit-for-bit.
  */
object DedupOps {
  import Text._

  // ---- shared: per-doc distinct 3-shingle sets -------------------------
  /** repartition before the CPU-heavy tokenize/shingle projection: the
    * corpus arrives as few parquet splits (1 at test SF), which would pin
    * the regex pipeline to as many cores; a cheap row shuffle fans it out
    * across the cluster. */
  private[graft] def docShingles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), array_distinct(shingles(tokens(col("text")), 3)).as("shs"))
      .cache() // shared subplan across q49/q50 (index build + verify joins)

  private val docShSql: String =
    s"SELECT doc_id, list_distinct(${shinglesSql("toks", 3)}) AS shs " +
      s"FROM (SELECT doc_id, $toksSql AS toks FROM documents) _t"

  // --- 48. exact dedup: hash-groupBy, keep min id -----------------------
  /** Key = md5 of the sorted distinct token bag (whitespace/order-
    * insensitive content identity). One shuffle, group sizes bounded by
    * dup cardinality. */
  def q48(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(tokens(col("text")))), " "))
          .as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_members"))
      .orderBy(col("fingerprint"))

  val q48Sql: String =
    s"""SELECT md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fingerprint,
       |  MIN(doc_id) AS keeper_id, COUNT(*) AS n_members
       |FROM documents
       |GROUP BY fingerprint
       |ORDER BY fingerprint""".stripMargin

  // --- 49. shingle-inverted-index + exact Jaccard ≥ 0.5 -----------------
  /** Frequent-shingle cap: shingles present in > 100 docs are excluded
    * from index AND measure (both sides of the oracle mirror this). */
  val ShingleDfCap = 100

  /** Candidate-id sets up to this size prune the verify scan via an exact
    * broadcast semi-join; larger ones fall back to a bloom sketch
    * ([[graft.functions.BloomPrune]]) whose size stays bounded. */
  val MaxBroadcastPruneIds = 4L * 1024 * 1024

  /** df-capped shingle occurrences (doc_id, sh) — the corpus inverted
    * index with hot shingles removed. Shared by q49 (Jaccard) and q100
    * (IDF cosine): both are cached, so within the dedup cache group the
    * second caller structural-match reuses the materialized relation.
    *
    * df-cap via groupBy + broadcast anti-join, NOT a window over sh: a
    * Window.partitionBy(sh) count shuffles the full exploded relation on
    * the skewed shingle key and materializes every hot shingle's rows in
    * ONE task — the stop-word-like shingle in 1% of a 100 TB corpus is
    * exactly the straggler/OOM task the cap exists to prevent. groupBy
    * pre-aggregates the hot key map-side (the shuffle carries one
    * (sh, cnt) partial per partition, never a hot shingle's rows), and
    * the HOT set — the small side: ≤ |occurrences|/cap distinct
    * shingles, a Zipf head in practice — broadcasts back as an
    * anti-join applied map-side, so the exploded corpus is never
    * shuffled on sh before the cap filter. cache() because the index
    * feeds three consumers (sizes + both join sides) and the upstream
    * tokenize/shingle pipeline is the expensive part. */
  private[graft] def keptShingles(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(s, dir).select(col("doc_id"), explode(col("shs")).as("sh"))
    val hot = sh.groupBy(col("sh")).agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") > ShingleDfCap)
      .select(col("sh"))
      .cache() // consumed 2-3×: size count, then broadcast or bloom+anti
    // The hot set is aggregated (one row per distinct hot shingle) but its
    // SIZE is bounded only by |occurrences|/cap — an adversarial corpus
    // (every shingle just over the cap) makes it too big to broadcast.
    // Count first, then pick transport, mirroring q50's verify-prune:
    //   - small: exact broadcast anti-join, applied map-side;
    //   - large: a bloom canNOT anti-join directly (a false positive
    //     would DROP a kept shingle), so split — bloom-NEGATIVE rows are
    //     definitely not hot (no false negatives) and pass map-side;
    //     only the maybe-hot remainder (true hot occurrences + ~1% fp)
    //     finishes with an exact shuffled anti-join on the hot set.
    val nHot = hot.count()
    val kept0 =
      if (nHot <= MaxBroadcastPruneIds)
        sh.join(broadcast(hot), Seq("sh"), "left_anti")
      else graft.functions.BloomPrune.build(hot, "sh", nHot) match {
        case Some(b) =>
          val probe = graft.functions.BloomPrune.mightContain(b, col("sh"))
          sh.filter(!probe)
            .unionAll(sh.filter(probe).join(hot, Seq("sh"), "left_anti"))
        case None => sh // empty hot set: nothing to exclude
      }
    kept0.cache()
  }

  /** Exact Jaccard ≥ 0.5 with PREFIX FILTERING (r7, the All-Pairs/PPJoin
    * candidate rule — Bayardo et al. WWW'07, Xiao et al. ICDE'08): under
    * any global total order on shingles, a pair with J ≥ t must share
    * its SMALLEST common shingle inside both docs' (sz − ⌈t·sz⌉ + 1)-
    * prefixes — so only prefix occurrences (≈ half the index at t=0.5)
    * enter the self-join, cutting candidate pairs ~4× vs joining the
    * full inverted index, and the surviving candidates are verified
    * EXACTLY against the per-doc kept sets (array_intersect — so the
    * emitted jaccard is the true set measure, not a prefix count).
    * The global order is RAREST-FIRST (document frequency asc, shingle
    * asc) — the order that maximizes pruning: a frequent shingle sorts
    * LAST and falls out of every prefix, so it can't manufacture
    * candidate pairs (a hash order would pin frequent-but-hash-early
    * shingles inside every prefix and forfeit most of the cut; measured
    * 2.1× vs ~10× candidates). The order never reaches the output, so
    * the oracle is untouched. Prefixes are then built ROW-LOCALLY from
    * the per-doc (df, sh)-sorted arrays — no window; the df join is on
    * the capped index (≤ ShingleDfCap rows per key — no skew). */
  def q49(s: SparkSession, dir: String): DataFrame =
    pairs49(s, dir).orderBy(col("id_a"), col("id_b"))

  /** [[q49]]'s verified pair set, MEMOIZED per (family run, dir) — r18,
    * the pairs50 convention applied to the Jaccard edge generator it
    * always had: the pair set is a pure function of the corpus snapshot
    * and THIN (∝ true duplicates), it already fed the cc49 standing
    * relation (q70/q77/q86/q112's keeper gate), and the registered q49
    * entry re-ran the whole shingle-index → prefix-filter → verify
    * chain per call. The unmemoized builder stays exposed as
    * [[q49Plan]] (ScalePlanSpec pins the df-cap anti-join and
    * no-window discipline there — the memo readout is a LogicalRDD
    * leaf); the q49/q70 oracles replay the full chain, so the driver's
    * hash gate re-proves memo ≡ chain on every run. */
  private[graft] def pairs49(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("pairs49", dir)(q49Plan(s, dir))

  /** The unmemoized q49 pair-set build plan (plan-discipline pin). */
  private[graft] def q49Plan(s: SparkSession, dir: String): DataFrame = {
    val kept = keptShingles(s, dir)
    val dfk = kept.groupBy(col("sh")).agg(count(lit(1)).as("dfk"))
    // per-doc kept SETS (kept is distinct per (doc, sh) by construction)
    // in global rarest-first order: the verify side AND the prefix
    // source; cached — consumed 3×
    val keptSets = kept.join(dfk, "sh")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("dfk"), col("sh")))).as("ord"))
      .select(col("doc_id"),
        transform(col("ord"), o => o.getField("sh")).as("shs"))
      .withColumn("sz", size(col("shs")).cast("long"))
      .cache()
    // prefix = first ⌊sz/2⌋+1 shingles of the globally-ordered set
    val pre = keptSets.select(col("doc_id"),
      explode(slice(col("shs"), lit(1), (col("sz") / 2 + 1).cast("int"))).as("sh"))
    val cand = pre.select(col("doc_id").as("id_a"), col("sh"))
      .join(pre.select(col("doc_id").as("id_b"), col("sh")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(keptSets.select(col("doc_id").as("id_a"),
        col("shs").as("shs_a"), col("sz").as("sz_a")), "id_a")
      .join(keptSets.select(col("doc_id").as("id_b"),
        col("shs").as("shs_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("shared", size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .filter(col("shared") / (col("sz_a") + col("sz_b") - col("shared")).cast("double") >= 0.5)
      // integer-micro rounding: shared/union is a small-denominator exact
      // rational, the boundary class where double round() is
      // engine-ambiguous (graft.functions.Num)
      .select(col("id_a"), col("id_b"),
        graft.functions.Num.ratio6(col("shared"),
          col("sz_a") + col("sz_b") - col("shared")).as("jaccard"))
  }

  val q49Sql: String =
    s"""WITH d AS ($docShSql),
       |sh AS (SELECT doc_id, unnest(shs) AS sh FROM d),
       |rare AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= $ShingleDfCap),
       |kept AS (SELECT s.doc_id, s.sh FROM sh s JOIN rare USING (sh)),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
       |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY id_a, id_b)
       |SELECT id_a, id_b,
       |  ${graft.functions.Num.ratio6Sql("shared", "sa.sz + sb.sz - shared")} AS jaccard
       |FROM pairs
       |JOIN sizes sa ON id_a = sa.doc_id
       |JOIN sizes sb ON id_b = sb.doc_id
       |WHERE shared / CAST(sa.sz + sb.sz - shared AS DOUBLE) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  // --- 50. MinHash signatures + banded LSH ------------------------------
  val MinhashP = 2305843009213693951L // 2^61 − 1
  val NumPerms = 16
  val BandSize = 4 // 4 bands × 4 rows: P(band match) = j⁴ per band
  val PermA: IndexedSeq[Long] =
    (1 to NumPerms).map(i => ((2654435761L * i) % 1073741823L) | 1L)
  val PermB: IndexedSeq[Long] =
    (1 to NumPerms).map(i => (40503L * 65537L * i + 997L) % MinhashP)

  /** 60-bit md5 prefix folded to 30 bits — keeps a·h+b inside int64. */
  private[graft] def h30(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (conv(substring(md5(c), 1, 15), 16, 10).cast(LongType) % 1073741824L)

  /** Per-ROW MinHash band buckets of a (doc_id, shs) relation: the
    * signature folds INSIDE the row (array HOFs over the shingle array)
    * instead of explode + groupBy, so the same bucket values compute
    * STATELESSLY on a stream — no watermark, no stateful aggregation
    * (the incremental-dedup path, StreamOps.dedupVsIndex). Bit-identical
    * to q50's aggregated form: both minimize (a·h30(sh)+b) mod p over
    * the distinct shingle set and md5 the same comma-joined band slice.
    * Batch q50 keeps the explode+groupBy form — codegen'd aggregates
    * beat interpreted HOFs at corpus volume; per-batch stream volume is
    * the opposite trade. Preserves every input column (a stream's
    * event-time column must ride along — rejoining it later would be a
    * stateful self-join) and appends (band, bucket). */
  private[graft] def rowBandBuckets(docSh: DataFrame): DataFrame = {
    val keep = docSh.columns.map(col).toSeq
    val withSigs = docSh.filter(size(col("shs")) > 0)
      .withColumn("__hs", transform(col("shs"), s => h30(s)))
      .withColumn("__sigs", array((0 until NumPerms).map(i =>
        array_min(transform(col("__hs"),
          h => (lit(PermA(i)) * h + lit(PermB(i))) % MinhashP))): _*))
    val bandCols = (0 until NumPerms / BandSize).map { bnd =>
      val parts = (0 until BandSize).map(r =>
        element_at(col("__sigs"), bnd * BandSize + r + 1))
      struct(lit(bnd).as("band"), md5(concat_ws(",", parts: _*)).as("bucket"))
    }
    withSigs
      .select(keep :+ explode(array(bandCols: _*)).as("bb"): _*)
      .select(keep :+ col("bb.band").as("band") :+ col("bb.bucket").as("bucket"): _*)
  }

  /** Band buckets of a (doc_id, shs) relation via codegen'd explode +
    * 16-way MIN aggregate — the CORPUS-side banding form: at corpus
    * volume whole-stage-codegen'd aggregates beat [[rowBandBuckets]]'s
    * interpreted per-row HOF fold (that form remains the per-batch /
    * stream one: stateless, no aggregation). Bit-identical buckets:
    * both minimize (a·h30(sh)+b) mod p over the distinct shingle set
    * and md5 the same comma-joined band slice. */
  private[graft] def aggBandBuckets(docSh: DataFrame): DataFrame = {
    val sh = docSh.select(col("doc_id"), explode(col("shs")).as("sh"))
      .withColumn("h", h30(col("sh")))
    // one pass: 16 MIN aggregates over (a_i·h + b_i) mod p
    val sigCols = (0 until NumPerms).map(i =>
      min((lit(PermA(i)) * col("h") + lit(PermB(i))) % MinhashP).as(s"sig$i"))
    val sigs = sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    // band buckets: md5 over the band's signature slice
    val bandCols = (0 until NumPerms / BandSize).map { bnd =>
      val parts = (0 until BandSize).map(r => col(s"sig${bnd * BandSize + r}"))
      struct(lit(bnd).as("band"),
        md5(concat_ws(",", parts: _*)).as("bucket")).as(s"b$bnd")
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  def q50(s: SparkSession, dir: String): DataFrame =
    pairs50(s, dir).orderBy(col("id_a"), col("id_b"))

  /** The unmemoized q50 pair-set build plan — the [[pairs50]] builder.
    * r18: the registered q50 entry now READS the pairs50 standing
    * relation (the q180 convention; q74/q91/q94/q95/q97/q99 always
    * did), instead of re-running the signature → band → verify
    * pipeline per call. The q50/q74 oracles replay the full pipeline,
    * so the hash gate re-proves memo ≡ chain on every run. */
  private[graft] def q50Plan(s: SparkSession, dir: String): DataFrame = {
    val docSh = docShingles(s, dir).filter(size(col("shs")) > 0)
    val cand = bandCandidates(docSh)
    // verify candidates with exact Jaccard over the full shingle sets.
    // docSh is corpus-sized while candidates are ∝ true dups — too big a
    // key set to broadcast-join at 100 TB, far too small to justify
    // shuffling the whole corpus twice. A ~1 MiB bloom over the candidate
    // ids prunes docSh MAP-SIDE before the verify joins, so their shuffle
    // carries only probable candidate docs; bloom false positives add
    // shuffled rows, never wrong output (the id equi-joins stay exact).
    // The candidate set is localCheckpoint'ed first: the sketch build is
    // an action, and without the checkpoint it would re-run the whole
    // signature+banding pipeline a second time (measured 2× q50/q74).
    // Blocks registered for harness release (the CC ownership pattern).
    val candCk = graft.CheckpointRegistry.checkpoint(cand)
    val candIds = candCk.select(col("id_a").as("id"))
      .unionAll(candCk.select(col("id_b").as("id")))
    // the DISTINCT id count (cheap — reads checkpoint blocks) picks the
    // prune strategy, the same split Spark's own runtime filters make:
    // an EXACT broadcast semi-join while the id set broadcasts
    // comfortably (zero false positives), the bloom sketch past that
    // (fixed-size, fp only costs shuffled rows). Pair-endpoint counting
    // would quadratically overstate it — near-dup clusters are
    // near-cliques: k ids make ~k²/2 pairs.
    val nIds = candIds.distinct().count()
    val docShPruned =
      if (nIds <= MaxBroadcastPruneIds)
        docSh.join(broadcast(candIds.distinct()),
          col("doc_id") === col("id"), "left_semi")
      else graft.functions.BloomPrune.semiPrune(
        docSh, "doc_id", candIds, "id", expectedItems = math.max(1L, nIds))
    candCk
      .join(docShPruned.select(col("doc_id").as("id_a"), col("shs").as("shs_a")), "id_a")
      .join(docShPruned.select(col("doc_id").as("id_b"), col("shs").as("shs_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard_raw", col("inter") /
        (size(col("shs_a")) + size(col("shs_b")) - col("inter")).cast("double"))
      .filter(col("jaccard_raw") >= 0.5)
      .select(col("id_a"), col("id_b"),
        graft.functions.Num.ratio6(col("inter"),
          size(col("shs_a")) + size(col("shs_b")) - col("inter")).as("jaccard"))
  }

  /** Distinct (id_a < id_b) pairs of `docSh` sharing a band bucket. The
    * buckets group once by (band, bucket) and each sorted member list
    * pairs every id with the larger ones after it, so the 16-MIN
    * signature aggregate runs through one exchange: a self-join of the
    * bucket relation plans it on both sides, and AQE does not reuse that
    * exchange. */
  private[graft] def bandCandidates(docSh: DataFrame): DataFrame =
    aggBandBuckets(docSh)
      .groupBy(col("band"), col("bucket"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
      .select(col("id_a"), explode(slice(col("ids"), col("i") + 2,
        size(col("ids")) - col("i") - 1)).as("id_b"))
      .distinct()

  private[operators] def permsValuesSql: String =
    (0 until NumPerms)
      .map(i => s"($i, ${PermA(i)}, ${PermB(i)})").mkString(", ")

  val q50Sql: String =
    s"""WITH d AS ($docShSql),
       |dnz AS (SELECT * FROM d WHERE len(shs) > 0),
       |sh AS (SELECT doc_id, unnest(shs) AS sh FROM dnz),
       |hashed AS (SELECT doc_id, sh,
       |  CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) % 1073741824 AS h FROM sh),
       |perms(i, a, b) AS (VALUES $permsValuesSql),
       |sigs AS (
       |  SELECT doc_id, i, MIN((a * h + b) % ${MinhashP}) AS sig
       |  FROM hashed CROSS JOIN perms GROUP BY doc_id, i),
       |buckets AS (
       |  SELECT doc_id, i // $BandSize AS band,
       |    md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i)) AS bucket
       |  FROM sigs GROUP BY doc_id, i // $BandSize),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |verified AS (
       |  SELECT id_a, id_b,
       |    len(list_intersect(da.shs, db.shs)) AS inter,
       |    len(da.shs) + len(db.shs) - len(list_intersect(da.shs, db.shs)) AS uni
       |  FROM cand JOIN dnz da ON id_a = da.doc_id JOIN dnz db ON id_b = db.doc_id)
       |SELECT id_a, id_b, ${graft.functions.Num.ratio6Sql("inter", "uni")} AS jaccard
       |FROM verified WHERE inter / CAST(uni AS DOUBLE) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  // --- 51. SimHash + hamming near-dup (rows-check) ----------------------
  /** Candidate pairs at hamming ≤ 3, from 2×32-bit half-banding with
    * single-bit multi-probe.
    *
    * Completeness (pigeonhole): ≤ 3 differing bits split across two
    * 32-bit halves leave one half with ≤ 1 diff, so flipping each single
    * bit of the PROBE side's halves (plus the unflipped value) always
    * reproduces the index side's half value.
    *
    * Scale: the r2 form banded four 16-bit chunks — only 2¹⁶ buckets per
    * chunk, so bucket occupancy grew as n/65 536 and candidate volume as
    * ~4·n²/2¹⁶: quadratic with a fixed constant, dead at 10⁹ docs. Half
    * buckets live in a 2³² key space; with the 33× probe fan-out the
    * random-collision volume is ~66·n²/2³² — four thousand times smaller
    * per pair, and ~0 until n ≈ 10⁸ (the residual quadratic term is
    * inherent to SimHash banding at fixed sketch width; DedupSpec pins
    * the near-linear bound on a no-dup corpus). The probe explosion is
    * corpus-LINEAR (66 rows/doc) and map-side.
    *
    * `hashed`: (doc_id, simhash). Emits (id_a < id_b, sh_a, sh_b). */
  def simhashCandidates(hashed: DataFrame): DataFrame = {
    // mask, not remainder, for the low half: `%` on a signed long goes
    // negative when the sign bit survives — a silent completeness hole
    val halfCols = array(
      struct(lit(0).as("half"), col("simhash").bitwiseAND(lit(0xFFFFFFFFL)).as("v")),
      struct(lit(1).as("half"), shiftrightunsigned(col("simhash"), 32).as("v")))
    val halves = hashed
      .select(col("doc_id"), col("simhash"), explode(halfCols).as("hv"))
      .select(col("doc_id"), col("simhash"),
        col("hv.half").as("half"), col("hv.v").as("v"))
    val probes = halves.select(col("doc_id"), col("simhash"), col("half"),
      explode(array(col("v") +:
        (0 until 32).map(b => col("v").bitwiseXOR(lit(1L << b))): _*)).as("v"))
    halves.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"),
        col("half"), col("v"))
      .join(probes.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"),
        col("half"), col("v")), Seq("half", "v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b")).distinct()
  }

  /** 64-bit SimHash over tf-weighted token hashes (two md5 word-halves);
    * candidates from [[simhashCandidates]]; verified with bit_count(xor).
    * 64 bits keeps random same-vocab docs (hamming ≈ 32) far from the
    * planted dups (hamming ≈ 0). */
  def q51(s: SparkSession, dir: String): DataFrame = {
    // summing ±1 per token OCCURRENCE is the tf-weighted sum — no
    // (doc_id, tok) pre-aggregation needed, one shuffle instead of two
    val tok = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("hA", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast(LongType))
      .withColumn("hB", conv(substring(md5(col("tok")), 9, 8), 16, 10).cast(LongType))
    // native TypedImperativeAggregate: one int[64] buffer per group
    // instead of 64 SUM(CASE...) aggregates + a 64-term assembly
    val hashed = tok.groupBy(col("doc_id"))
      .agg(graft.expressions.SimHashAgg.simhash(col("hA"), col("hB")).as("simhash"))
    simhashCandidates(hashed)
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB replay of q51 (r4: rows → oracle). The banding stage needs no
    * replay: half-banding with single-bit multi-probe is COMPLETE at
    * hamming ≤ 3 (the pigeonhole argument above, spec-pinned), and the
    * final filter drops every candidate beyond 3 — so the output is
    * exactly {pairs : hamming(simhash_a, simhash_b) ≤ 3}, which the
    * oracle computes directly from the sketches. The sketch replays
    * [[graft.expressions.SimHashAgg]] bit-for-bit: per-occurrence ±1
    * votes on the two md5 word-halves, bit j set iff vote(j) > 0; the
    * sign bit (hB bit 31 → position 63) is added as Long.MinValue so the
    * HUGEINT bit sum lands back in signed-int64 range. */
  val q51Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |hashed AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS hA,
       |    CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) AS hB
       |  FROM toks),
       |bits AS (SELECT unnest(range(0, 32)) AS j),
       |votes AS (
       |  SELECT doc_id, j,
       |    SUM(CASE WHEN (hA >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vA,
       |    SUM(CASE WHEN (hB >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vB
       |  FROM hashed CROSS JOIN bits GROUP BY doc_id, j),
       |sim AS (
       |  SELECT doc_id, CAST(SUM(
       |      (CASE WHEN vA > 0 THEN CAST(1 AS HUGEINT) << j ELSE 0 END) +
       |      (CASE WHEN vB > 0 AND j < 31 THEN CAST(1 AS HUGEINT) << (j + 32) ELSE 0 END) +
       |      (CASE WHEN vB > 0 AND j = 31 THEN CAST(-9223372036854775808 AS HUGEINT) ELSE 0 END)
       |    ) AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY id_a, id_b""".stripMargin

  // --- 52. embedding-cosine near-dup ------------------------------------
  /** Exact threshold pass (cos ≥ 0.4 — calibrated to the corpus, whose
    * planted near-dups sit ~0.45–0.55). Brute pairs here establish ground
    * truth; the scale path is LSH bucketing ([[SimOps.q54]]) feeding the
    * same verify. Dot/norm folded left-to-right in double — bit-equal in
    * any engine that folds sequentially. */
  def q52(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.VectorExprs.{vecDot, vecNorm}
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"),
      vecNorm(col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("e_b"), col("nrm").as("n_b"))
    val cosExpr = round(vecDot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")), 6)
    // conjunction order matters: the join condition short-circuits left to
    // right, so the cheap id inequality halves the dot-product evaluations
    a.join(b, col("id_a") < col("id_b") && cosExpr >= 0.4)
      .select(col("id_a"), col("id_b"), cosExpr.as("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q52Sql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding])) AS nrm
      |  FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
      |      FOR i IN range(1, len(a.embedding) + 1)]) / (a.nrm * b.nrm), 6) AS cos
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
      |      FOR i IN range(1, len(a.embedding) + 1)]) / (a.nrm * b.nrm), 6) >= 0.4
      |ORDER BY id_a, id_b""".stripMargin

  // --- 70. corpus dedup: connected components over the near-dup graph ---
  /** The end-to-end dedup decision: near-dup pairs (q49's verified
    * Jaccard edges) → connected components → keep min doc_id per
    * component. Components are found by min-label propagation iterated to
    * a driver-checked fixpoint (Pregel-style; O(diameter) rounds, each a
    * pair of joins — near-dup clusters are near-cliques so this is 1–2
    * rounds in practice). The oracle replays it exactly with a recursive
    * CTE, so the fixpoint itself is hash-checked. */
  def q70(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("cc49", dir)(
      connectedComponents(pairs49(s, dir).select(col("id_a"), col("id_b")),
        Tables.documents(s, dir).select(col("doc_id"))))

  /** Min-label propagation to a fixpoint over an undirected near-dup pair
    * set; shared by q70 (Jaccard edges) and q74 (MinHash-LSH edges).
    * `docs` supplies the universe so isolated docs label themselves. */
  def connectedComponents(pairs: DataFrame, docs: DataFrame): DataFrame = {
    // checkpointed rounds (CheckpointRegistry.iterate): lineage stays one
    // round deep, each round's blocks die once the next is materialized,
    // and the final round's are handed to the registry for the harness
    // to release after the consuming count/write completes
    val edges = pairs
      .unionAll(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .cache()
    val fix = graft.CheckpointRegistry.iterate(
        docs.withColumn("root", col("doc_id")), 20) { prev =>
      val labels = prev.select(col("doc_id"), col("root"))
      val neigh = edges
        .join(labels.select(col("doc_id").as("id_b"), col("root").as("nroot")), "id_b")
        .groupBy(col("id_a")).agg(min(col("nroot")).as("min_nroot"))
      // old_root rides along so the convergence check is a filter-count
      // over the checkpointed blocks — not a second join job per round
      labels
        .join(neigh.withColumnRenamed("id_a", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("root"), coalesce(col("min_nroot"), col("root"))).as("root"),
          col("root").as("old_root"))
    }((_, next) => next.filter(col("root") =!= col("old_root")).count() == 0)
    edges.unpersist()
    require(fix.done, s"label propagation did not converge in ${fix.rounds} rounds")
    fix.last
      .select(col("doc_id"), col("root"),
        when(col("doc_id") === col("root"), 1).otherwise(0).as("is_keeper"))
      .orderBy(col("doc_id"))
  }

  private lazy val q49PairsSql: String = q49Sql.split("\nORDER BY")(0)
  private[operators] lazy val q50PairsSql: String = q50Sql.split("\nORDER BY")(0)

  /** CTE prefix of the recursive-CTE replay of [[connectedComponents]]
    * (ends with `roots(doc_id, root)`); shared with the composed
    * corpus-selection oracle ([[PipelineOps]]). */
  def ccCtesSql(pairsSql: String): String =
    s"""pairs AS (SELECT id_a, id_b FROM ($pairsSql) _p),
       |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL SELECT id_b AS a, id_a AS b FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |roots AS (
       |  SELECT d.doc_id,
       |    LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS root
       |  FROM documents d LEFT JOIN reach r ON d.doc_id = r.a
       |  GROUP BY d.doc_id)""".stripMargin

  /** Recursive-CTE replay of [[connectedComponents]] over any pair SQL. */
  private def ccSql(pairsSql: String): String =
    s"""WITH RECURSIVE ${ccCtesSql(pairsSql)}
       |SELECT doc_id, root,
       |  CASE WHEN doc_id = root THEN 1 ELSE 0 END AS is_keeper
       |FROM roots
       |ORDER BY doc_id""".stripMargin

  lazy val q70Sql: String = ccSql(q49PairsSql)
  lazy val q49CcCtesSql: String = ccCtesSql(q49PairsSql)

  // --- 74. production-path corpus dedup: MinHash LSH end-to-end ----------
  /** The composed scale pipeline a 100 TB corpus actually runs: MinHash
    * signatures → banded LSH candidates → exact-Jaccard verify (all q50,
    * corpus-linear + candidates ∝ true dups) → connected components →
    * keeper per component. Same decision output as q70 but the edge
    * generator never builds the inverted shingle index, so no df-cap
    * skew guard is needed — the signature pass is one shuffle on doc_id
    * and the bucket join's fan-out is bounded by band collisions. */
  def q74(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("cc50", dir)(
      connectedComponents(pairs50(s, dir).select(col("id_a"), col("id_b")),
        Tables.documents(s, dir).select(col("doc_id"))))

  /** [[q50]]'s verified pair set, memoized for the family run: the
    * MinHash signature→band→verify pipeline is the expensive part of
    * every dedup-graph readout (q74/q91/q94/q95/q97/q99 all start from
    * these edges), and its localCheckpoint-embedding build defeats
    * structural cache reuse — see [[graft.Standing]]. */
  private[graft] def pairs50(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("pairs50", dir)(q50Plan(s, dir))

  lazy val q74Sql: String = ccSql(q50PairsSql)

  // --- 75. production-path embedding dedup: cell-blocked cosine ----------
  /** The scale form of q52 (which is the deliberate all-pairs ground
    * truth): block the corpus by its `nprobe` nearest centroid cells —
    * assignment is the shuffle-free broadcast argmax of
    * [[SimOps.probeCells]] — then verify exact cosine ≥ 0.4 INSIDE
    * shared cells only. Candidate count drops from n²/2 to
    * ~nprobe²·Σ|cell|²/2; every emitted pair is exact (⊆ q52 by
    * construction). Recall is the tunable: θ = 0.4 is a WEAK-similarity
    * threshold, so single-cell blocking splits borderline pairs —
    * measured on the sf0.01 corpus (10 cells): 0.24 @ nprobe=1,
    * 0.59 @ nprobe=2, monotone in nprobe until nprobe = |cells|
    * degenerates to q52 exactly (asserted in DedupSpec). Assignment +
    * verify cosines are rounded to 6 decimals, so the DuckDB oracle
    * replays cell membership and pairs bit-exactly. */
  def cellDedup(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    import graft.expressions.VectorExprs.{vecDot, vecNorm}
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"),
      vecNorm(col("embedding")).as("nrm"))
    val cellsRow = SimOps.cellsAsRow(SimOps.centroidCells(Tables.embeddings(s, dir)))
    val assigned = SimOps.probeCells(e, cellsRow, nprobe)
    val a = assigned.select(col("vec_id").as("id_a"), col("embedding").as("e_a"),
      col("nrm").as("n_a"), col("cell_id"))
    val b = assigned.select(col("vec_id").as("id_b"), col("embedding").as("e_b"),
      col("nrm").as("n_b"), col("cell_id"))
    val cosExpr = round(vecDot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")), 6)
    a.join(b, Seq("cell_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosExpr >= 0.4)
      .select(col("id_a"), col("id_b"), cosExpr.as("cos"))
      .distinct() // a pair can share up to nprobe cells
      .orderBy(col("id_a"), col("id_b"))
  }

  def q75(s: SparkSession, dir: String): DataFrame = cellDedup(s, dir, nprobe = 2)

  val q75Sql: String =
    s"""WITH e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding])) AS nrm
      |  FROM embeddings),
      |${SimOps.centroidMeanCtesSql},
      |${SimOps.cellAssignCtesSql(Seq("embedding", "nrm"), nprobe = 2)}
      |SELECT DISTINCT id_a, id_b, cos FROM (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
      |        FOR i IN range(1, len(a.embedding) + 1)]) / (a.nrm * b.nrm), 6) AS cos
      |  FROM assigned a JOIN assigned b
      |    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id) p
      |WHERE cos >= 0.4
      |ORDER BY id_a, id_b""".stripMargin

  // --- 182. n-gram novelty score (r13) ------------------------------------
  /** The inverse of the duplication signals: how much of each document
    * is text the REST of the corpus doesn't have — the fraction of its
    * distinct 3-shingles with corpus document-frequency 1 (novelty 1 =
    * fully unique prose, novelty 0 = assembled entirely from shared
    * n-grams). Curation uses this next to q80's repetition ratio and
    * q45's heuristics: high-novelty documents are the ones dedup can
    * never reclaim and diversity-aware sampling wants to protect, and a
    * corpus-wide novelty collapse is the earliest signal of template
    * flooding. Membership: docs with ≥1 shingle (≥3 tokens) — shorter
    * docs have no 3-gram evidence either way.
    *
    * Scale shape: rides the family's one [[docShingles]] pass; the df
    * side is a map-side-combined groupBy(sh) (hot shingles arrive as
    * partials, never as row streams), and the join back is 1:1 per
    * occurrence on the sh key (no fan-out — df is one row per shingle;
    * AQE owns broadcast-vs-shuffle and skew splits). The per-doc
    * readout is one more map-side-combined aggregate. FULL oracle: the
    * same two aggregates over the shared shingle CTE. */
  def q182(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(s, dir)
      .select(col("doc_id"), explode(col("shs")).as("sh"))
    val df = sh.groupBy(col("sh")).agg(count(lit(1)).as("dfc"))
    sh.join(df, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("dfc") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        graft.functions.Num.ratio6(col("n_novel"), col("n_shingles")))
      .orderBy(col("doc_id"))
  }

  lazy val q182Sql: String =
    s"""WITH d AS ($docShSql),
       |sh AS (SELECT doc_id, unnest(shs) AS sh FROM d),
       |dfc AS (SELECT sh, COUNT(*) AS dfc FROM sh GROUP BY sh)
       |SELECT doc_id, COUNT(*) AS n_shingles,
       |  CAST(SUM(CASE WHEN dfc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  ${graft.functions.Num.ratio6Sql(
            "SUM(CASE WHEN dfc = 1 THEN 1 ELSE 0 END)", "COUNT(*)")} AS novelty
       |FROM sh JOIN dfc USING (sh)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // --- 189. incremental novelty vs a persisted shingle index (r13) ---------
  /** [[q182]] in the ARRIVAL model: a new-docs batch scored for how much
    * of it the EXISTING corpus has never seen — novelty here = the
    * fraction of the arrival's distinct 3-shingles ABSENT from the
    * corpus snapshot (for an arrival, "df = 1" means "not in the
    * standing index at all"). The curation seam this serves: a
    * low-novelty arrival is template/dup inflow the admission pipeline
    * routes to dedup review, a high-novelty batch is genuinely new
    * text — the q122 admission record's missing quality axis.
    *
    * Artifact: the corpus' distinct shingles bucketed on sh
    * ([[q115Write]]'s pattern at shingle granularity — write pays the
    * one distinct shuffle; probes are bucket-aligned with NO exchange
    * on the index side), maintained by the same append +
    * dedup-compaction lifecycle ([[Bucketed.Index]]). Probe cost is
    * arrival-rate-sized: one anti-join on sh + two thin aggregates.
    * FULL oracle (the split replayed with NOT EXISTS). DedupSpec:
    * driver replay, and the lifecycle proof that folding the arrivals
    * INTO the index drives their re-probed novelty to exactly zero. */
  private[graft] def q189Write(s: SparkSession, oldSh: DataFrame): Unit = {
    graft.Standing.invalidate(s, "shingleindex", "g189_shingles")
    G189Shingles.write(s, oldSh.select(explode(col("shs")).as("sh")).distinct())
  }

  /** Fold a new batch's distinct shingles in by bucketed append —
    * duplicates are harmless to the anti-join probe and collapse at
    * [[q189Compact]]. `addSh`: (doc_id, shs). */
  private[graft] def q189Append(s: SparkSession, addSh: DataFrame): Unit = {
    graft.Standing.invalidate(s, "shingleindex", "g189_shingles")
    G189Shingles.append(s, addSh.select(explode(col("shs")).as("sh")).distinct())
  }

  private[graft] def q189Compact(s: SparkSession): Unit = G189Shingles.compact(s)

  /** The registered probe: arrivals = doc_id % [[IncrSplitMod]] == 0
    * (the q108/q115 convention); production probes its own batch. */
  private[graft] def q189ProbeOf(s: SparkSession, arr: DataFrame): DataFrame = {
    val occ = arr.select(col("doc_id"), explode(col("shs")).as("sh"))
    val novel = occ.join(s.table("g189_shingles"), Seq("sh"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nn"))
    arr.filter(size(col("shs")) > 0)
      .select(col("doc_id"), size(col("shs")).cast("long").as("n_shingles"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("nn"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        graft.functions.Num.ratio6(col("n_novel"), col("n_shingles")))
  }

  def q189(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(s, dir)
    // standing-snapshot reuse (r8) — see q108
    graft.Standing.artifact(s, "shingleindex", "g189_shingles", dir,
        graft.Standing.catalogHas(s, "g189_shingles"))(
      _ => q189Write(s, sh.filter(col("doc_id") % IncrSplitMod =!= 0)))
    q189ProbeOf(s, sh.filter(col("doc_id") % IncrSplitMod === 0))
      .orderBy(col("doc_id"))
  }

  lazy val q189Sql: String =
    s"""WITH d AS ($docShSql),
       |oldsh AS MATERIALIZED (
       |  SELECT DISTINCT unnest(shs) AS sh FROM d
       |  WHERE doc_id % $IncrSplitMod <> 0),
       |arr AS (SELECT doc_id, shs FROM d
       |  WHERE doc_id % $IncrSplitMod = 0 AND len(shs) > 0),
       |occ AS (SELECT doc_id, unnest(shs) AS sh FROM arr),
       |nv AS (
       |  SELECT doc_id, COUNT(*) AS n_novel FROM occ o
       |  WHERE NOT EXISTS (SELECT 1 FROM oldsh x WHERE x.sh = o.sh)
       |  GROUP BY doc_id)
       |SELECT a.doc_id, CAST(len(a.shs) AS BIGINT) AS n_shingles,
       |  COALESCE(nv.n_novel, 0) AS n_novel,
       |  ${graft.functions.Num.ratio6Sql(
            "COALESCE(nv.n_novel, 0)", "len(a.shs)")} AS novelty
       |FROM arr a LEFT JOIN nv USING (doc_id)
       |ORDER BY a.doc_id""".stripMargin

  // --- 91. duplicate-cluster size distribution (r4) ----------------------
  /** The dedup run's diagnostic readout: how much of the corpus sits in
    * duplicate clusters of which size — the number a data-curation team
    * actually reviews before committing a keeper policy (a heavy tail of
    * giant clusters means boilerplate/template contamination; ~all-
    * singletons means the candidate thresholds are too tight). Aggregates
    * the production pipeline's (q74) component labels twice — root →
    * cluster size → histogram — so the whole readout is map-side-combined
    * aggregation on top of the already-checkpointed CC output; the
    * recursive-CTE oracle hash-checks the fixpoint AND the histogram. */
  def q91(s: SparkSession, dir: String): DataFrame =
    q74(s, dir)
      .groupBy(col("root")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize")).agg(count(lit(1)).as("n_components"))
      .withColumn("n_docs", col("csize") * col("n_components"))
      .orderBy(col("csize"))

  lazy val q91Sql: String =
    s"""WITH RECURSIVE ${ccCtesSql(q50PairsSql)}
       |SELECT csize, COUNT(*) AS n_components, csize * COUNT(*) AS n_docs
       |FROM (SELECT root, COUNT(*) AS csize FROM roots GROUP BY root) _c
       |GROUP BY csize
       |ORDER BY csize""".stripMargin

  // --- 94. near-dup degree distribution (r4) ------------------------------
  /** The other graph readout (with q91's cluster sizes): how many
    * near-dup EDGES each document carries — degree 0 isolates included
    * via the document universe. A heavy degree tail is the early-warning
    * signal that the candidate generator is drifting quadratic (hub
    * documents: boilerplate that near-matches everything); the spec-
    * pinned near-linear candidate bound is per-corpus, this is the
    * per-document view a curation run actually monitors. Two map-side-
    * combined aggregations over the verified q50 edge set + one
    * left join against the doc universe. */
  def q94(s: SparkSession, dir: String): DataFrame = {
    val pairs = pairs50(s, dir)
    val deg = pairs.select(col("id_a").as("doc_id"))
      .unionAll(pairs.select(col("id_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("degree"))
  }

  lazy val q94Sql: String =
    s"""WITH pairs AS (SELECT id_a, id_b FROM ($q50PairsSql) _p),
       |deg AS (
       |  SELECT doc_id, COUNT(*) AS degree FROM (
       |    SELECT id_a AS doc_id FROM pairs
       |    UNION ALL SELECT id_b AS doc_id FROM pairs) _e
       |  GROUP BY doc_id)
       |SELECT COALESCE(degree, 0) AS degree, COUNT(*) AS n_docs
       |FROM documents d LEFT JOIN deg USING (doc_id)
       |GROUP BY COALESCE(degree, 0)
       |ORDER BY degree""".stripMargin

  // --- 98. duplicated-span detection (r4) ---------------------------------
  /** EXACT substring-level duplication readout (the span form of corpus
    * dedup, à la "train-set substrings repeated verbatim elsewhere"):
    * every position whose [[DupSpanK]]-token window also occurs in some
    * OTHER document is duplicated; overlapping windows merge into maximal
    * spans per doc (classic gaps-and-islands over the running max end),
    * and the per-doc readout is span count / covered tokens / covered
    * fraction. Doc-level near-dup (q48–q51) misses partial copies —
    * a quoted paragraph inside an otherwise-unique doc — this is the
    * operator that finds them, and the span coordinates are exactly what
    * a cut-the-span cleaning pass consumes.
    *
    * Scale shape: positional shingles are corpus-linear (one row per
    * token); the duplicated-shingle set comes from one groupBy(sh) whose
    * distinct-doc count partially aggregates map-side, and rejoins the
    * occurrence relation 1:1 per occurrence — a shingle in k docs
    * contributes k rows, NOT k² (no pair join anywhere, unlike q49).
    * The dup set is corpus-sized so it shuffles (no broadcast); AQE skew
    * split covers a hot shingle's join partition. Span merging windows
    * by doc_id — O(doc length) per key, never corpus-global. */
  val DupSpanK = 8
  /** The finer-grained sliding window (q109): catches shorter verbatim
    * repeats — attributions, disclaimers, 4–7-token quotes — that K=8
    * windows step over; the price is more positions qualifying as
    * duplicated (every sub-window of a K=8 hit is itself a hit). */
  val SlideSpanK = 4

  /** Maximal duplicated spans `(doc_id, s, e)` over `docs(doc_id,
    * toks)` at window size k — the shared detection core of
    * q98/q107/q109, occurrence-linear throughout (a window shared by
    * k docs emits k rows, never k²; no pair join anywhere). */
  private[graft] def dupSpans(docs: DataFrame, k: Int): DataFrame = {
    val occ = spanOcc(docs, k)
    val dup = occ.groupBy(col("sh")).agg(countDistinct(col("doc_id")).as("dfd"))
      .filter(col("dfd") >= 2).select(col("sh"))
    mergeSpans(occ.join(dup, "sh")
      .select(col("doc_id"), col("pos"), (col("pos") + (k - 1)).as("fin")))
  }

  /** Positional k-shingle occurrences (doc_id, pos, sh), pos 1-based. */
  private def spanOcc(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(col("doc_id"), posexplode(shingles(col("toks"), k)).as(Seq("p0", "sh")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("sh"))

  /** Gaps-and-islands merge of hit windows `(keys…, pos, fin)` into
    * maximal spans `(keys…, s, e)` — windows keyed per `keys` (always
    * doc-grained or finer, so per-key state is O(doc length), never
    * corpus-global). */
  private def mergeSpansBy(hits: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("pos"))
    val prevMax = max(col("fin")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("new_span", when(col("pos") > coalesce(prevMax, lit(0L)), 1).otherwise(0))
      .withColumn("span_id", sum(col("new_span"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(keys.map(col) :+ col("span_id"): _*)
      .agg(min(col("pos")).as("s"), max(col("fin")).as("e"))
      .select(keys.map(col) :+ col("s") :+ col("e"): _*)
  }

  /** [[mergeSpansBy]] at the default doc grain. */
  private def mergeSpans(hits: DataFrame): DataFrame =
    mergeSpansBy(hits, Seq("doc_id"))

  /** Maximal spans of `docs(doc_id, toks)` whose k-window occurs in the
    * static `indexShingles(sh)` relation — the new-vs-corpus form of
    * [[dupSpans]]: presence in the index IS the duplication signal (no
    * ≥2-doc rule; the index already aggregates the corpus side). */
  private[graft] def indexSpans(docs: DataFrame, indexShingles: DataFrame,
      k: Int): DataFrame =
    mergeSpans(spanOcc(docs, k)
      .join(indexShingles.select(col("sh")), Seq("sh"), "left_semi")
      .select(col("doc_id"), col("pos"), (col("pos") + (k - 1)).as("fin")))

  /** Tokenized doc relation shared by the span family (cached: span
    * detection + the doc universe / cleaning readback both consume it). */
  private def spanDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .cache()

  /** The k=[[DupSpanK]] maximal-span relation, MEMOIZED per (family
    * run, dir) — r18, the pplBuckets treatment: the span set is a pure
    * function of the corpus snapshot and THIN (one (doc_id, s, e) row
    * per merged duplicated span, ∝ true duplication ≪ corpus), while
    * the un-memoized chain re-ran the positional shingle explode, the
    * ≥2-doc shingle aggregate, the occurrence join and the doc-keyed
    * island merge on EVERY q98/q107/q112/q114 call. The unmemoized
    * builder stays exposed through [[dupSpans]] (ScalePlanSpec pins the
    * doc-keyed window discipline on the build plan — the memo readout
    * is a LogicalRDD leaf). q109's k=[[SlideSpanK]] stays unmemoized:
    * one consumer, different k. */
  private[graft] def dupSpans8(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("dup_spans_k8", dir)(
      dupSpans(spanDocs(s, dir), DupSpanK))

  /** The [[dupSpans8]] build plan, unmemoized (plan-discipline pin). */
  private[graft] def dupSpans8Plan(s: SparkSession, dir: String): DataFrame =
    dupSpans(spanDocs(s, dir), DupSpanK)

  private def dupSpanStats(s: SparkSession, dir: String, k: Int): DataFrame = {
    val docs = spanDocs(s, dir)
    val perDoc = (if (k == DupSpanK) dupSpans8(s, dir) else dupSpans(docs, k))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("e") - col("s") + 1).as("dup_tokens"))
    docs.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") > 0,
          graft.functions.Num.ratio6(coalesce(col("dup_tokens"), lit(0L)), col("n_tokens")))
          .otherwise(lit(0.0)).as("dup_fraction"))
      .orderBy(col("doc_id"))
  }

  def q98(s: SparkSession, dir: String): DataFrame =
    dupSpanStats(s, dir, DupSpanK)

  def q109(s: SparkSession, dir: String): DataFrame =
    dupSpanStats(s, dir, SlideSpanK)

  /** The `d, occ, dup, hits, marked, isl, sp` CTE chain replaying
    * [[dupSpans]] at window size k; `sp` holds the maximal spans. */
  private[operators] def dupSpanCtesSql(k: Int): String = {
    val shExpr = (0 until k).map(j => s"toks[i + $j]").mkString(" || ' ' || ")
    s"""d AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |occ AS (
       |  SELECT doc_id, i AS pos, $shExpr AS sh
       |  FROM d, unnest(range(1, greatest(len(toks) - ${k - 2}, 1))) AS u(i)),
       |dup AS (SELECT sh FROM occ GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
       |hits AS (SELECT o.doc_id, o.pos, o.pos + ${k - 1} AS fin
       |  FROM occ o JOIN dup USING (sh)),
       |marked AS (
       |  SELECT doc_id, pos, fin,
       |    CASE WHEN pos > COALESCE(MAX(fin) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) THEN 1 ELSE 0 END AS new_span
       |  FROM hits),
       |isl AS (
       |  SELECT doc_id, pos, fin,
       |    SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
       |  FROM marked),
       |sp AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(fin) AS e
       |  FROM isl GROUP BY doc_id, span_id)""".stripMargin
  }

  private def dupSpanStatsSql(k: Int): String =
    s"""WITH ${dupSpanCtesSql(k)},
       |per_doc AS (
       |  SELECT doc_id, COUNT(*) AS n_spans, CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
       |  FROM sp GROUP BY doc_id)
       |SELECT d.doc_id, len(d.toks) AS n_tokens,
       |  COALESCE(p.n_spans, 0) AS n_spans,
       |  COALESCE(p.dup_tokens, 0) AS dup_tokens,
       |  CASE WHEN len(d.toks) > 0
       |    THEN ${graft.functions.Num.ratio6Sql("COALESCE(p.dup_tokens, 0)", "len(d.toks)")}
       |    ELSE 0.0 END AS dup_fraction
       |FROM d LEFT JOIN per_doc p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  lazy val q98Sql: String = dupSpanStatsSql(DupSpanK)
  lazy val q109Sql: String = dupSpanStatsSql(SlideSpanK)

  // --- 107. span-cleaning (r5) ---------------------------------------------
  /** The ACTION q98's readout promises: cut every duplicated span out
    * of the token stream and emit the cleaned text plus kept-fraction
    * stats — the pass that turns span coordinates into training data.
    * Positions survive iff outside every span; spans are maximal and
    * non-overlapping by construction, so the complement is exact
    * gaps-and-islands (SQL-replayable, hash-checked).
    *
    * Scale shape: the span set rides back to the token stream as a
    * per-doc ARRAY (spans per doc are merged-maximal — bounded by
    * n_tokens/k, in practice a handful), so cleaning is one equi-join
    * on doc_id + a codegen'd array filter per row: no explode of the
    * corpus into per-token rows, no window. The oracle replays the
    * same complement per-position (DuckDB is happy to unnest at
    * sf0.01; the Spark side never does). */
  /** (doc_id, toks, cleaned): every doc with its original token array
    * and the span-cleaned one — the shared core of q107 (readout) and
    * q112 (cleaned training build). */
  private[operators] def cleanedDocs(s: SparkSession, dir: String): DataFrame =
    // the span set rides the family memo (r18): detection runs once per
    // corpus snapshot; each consumer pays only the cut join over the
    // cached tokenized relation
    cutSpans(spanDocs(s, dir), dupSpans8(s, dir))

  /** Cut maximal spans `(doc_id, s, e)` out of `docs(doc_id, toks)` →
    * (doc_id, toks, cleaned). Complement as SEGMENT slices, not a
    * per-token membership probe: spans are sorted, maximal,
    * non-overlapping, so the kept stream is the concatenation of the
    * ≤ |spans|+1 gaps — O(spans) higher-order calls + bulk array copies
    * per doc (measured ~8× vs the O(tokens × spans) exists() filter).
    * Adjacent spans / span-at-edge yield empty slices via the length
    * clamp. Shared by [[cleanedDocs]] (corpus self-dup) and
    * [[cleanVsIndex]] (new-vs-index). */
  private[graft] def cutSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    val segStarts = concat(array(lit(1L)),
      transform(col("spans"), sp => sp.getField("e") + lit(1L)))
    val segEnds = concat(
      transform(col("spans"), sp => sp.getField("s") - lit(1L)),
      array(size(col("toks")).cast("long")))
    docs.join(perDoc, Seq("doc_id"), "left")
      .withColumn("cleaned",
        when(col("spans").isNull, col("toks")).otherwise(
          flatten(zip_with(segStarts, segEnds, (st, en) =>
            slice(col("toks"), st.cast("int"),
              greatest(lit(0), (en - st + lit(1L)).cast("int")))))))
      .select(col("doc_id"), col("toks"), col("cleaned"))
  }

  /** Span cleaning of NEW docs against a static corpus shingle set —
    * the q107 action in incremental form: every k-window of a new doc
    * that already exists in the corpus is cut before the doc enters the
    * training stream. Same q107-shaped readout (n_tokens, kept_tokens,
    * kept_fraction, cleaned_text). Served per micro-batch as the fold
    * `Fold.map(cleanVsIndex(_, indexShingles, k))` of
    * [[graft.streaming.StreamOps.serve]]. */
  private[graft] def cleanVsIndex(newDocs: DataFrame, indexShingles: DataFrame,
      k: Int): DataFrame =
    cleanVsIndexToks(
      newDocs.select(col("doc_id"), tokens(col("text")).as("toks")),
      indexShingles, k)

  /** [[cleanVsIndex]] over an already-tokenized relation (doc_id, toks,
    * extra cols allowed) — lets batch probes that need the token stream
    * several ways ([[q122Probe]]) pay tokenization once. */
  private[graft] def cleanVsIndexToks(docsToks: DataFrame,
      indexShingles: DataFrame, k: Int): DataFrame = {
    val docs = docsToks.select(col("doc_id"), col("toks"))
    cutSpans(docs, indexSpans(docs, indexShingles, k))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("cleaned")).cast("long").as("kept_tokens"),
        when(size(col("toks")) > 0,
          graft.functions.Num.ratio6(size(col("cleaned")).cast("long"),
            size(col("toks")).cast("long")))
          .otherwise(lit(0.0)).as("kept_fraction"),
        concat_ws(" ", col("cleaned")).as("cleaned_text"))
  }

  def q107(s: SparkSession, dir: String): DataFrame =
    cleanedDocs(s, dir)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("cleaned")).cast("long").as("kept_tokens"),
        when(size(col("toks")) > 0,
          graft.functions.Num.ratio6(size(col("cleaned")).cast("long"),
            size(col("toks")).cast("long")))
          .otherwise(lit(0.0)).as("kept_fraction"),
        concat_ws(" ", col("cleaned")).as("cleaned_text"))
      .orderBy(col("doc_id"))

  /** `pos, kept, agg` complement CTEs over [[dupSpanCtesSql]]'s `d`/`sp`
    * — agg(doc_id, kept_tokens, cleaned_text); shared by q107/q112. */
  private[operators] lazy val spanCleanCtesSql: String =
    s"""pos AS (
       |  SELECT doc_id, i, toks[i] AS tok
       |  FROM d, unnest(range(1, len(toks) + 1)) AS u(i)),
       |kept AS (
       |  SELECT p.doc_id, p.i, p.tok
       |  FROM pos p LEFT JOIN sp
       |    ON p.doc_id = sp.doc_id AND p.i BETWEEN sp.s AND sp.e
       |  WHERE sp.doc_id IS NULL),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS kept_tokens,
       |    string_agg(tok, ' ' ORDER BY i) AS cleaned_text
       |  FROM kept GROUP BY doc_id)""".stripMargin

  lazy val q107Sql: String =
    s"""WITH ${dupSpanCtesSql(DupSpanK)},
       |$spanCleanCtesSql
       |SELECT d.doc_id, len(d.toks) AS n_tokens,
       |  COALESCE(a.kept_tokens, 0) AS kept_tokens,
       |  CASE WHEN len(d.toks) > 0
       |    THEN ${graft.functions.Num.ratio6Sql("COALESCE(a.kept_tokens, 0)", "len(d.toks)")}
       |    ELSE 0.0 END AS kept_fraction,
       |  COALESCE(a.cleaned_text, '') AS cleaned_text
       |FROM d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // --- 108. incremental dedup vs a PERSISTED band index (r5) ---------------
  /** The batch form of the incremental-dedup shape StreamOps.dedupVsIndex
    * proves on a stream: the corpus's MinHash band index and shingle
    * sets are ON-DISK artifacts — written ONCE per corpus snapshot,
    * bucketed (and sorted) on their probe keys so the shuffle is paid at
    * write time — and a new-docs batch dedups against the corpus by
    * probing them. Per batch: stateless per-row signatures (the same
    * [[rowBandBuckets]] HOF fold the stream uses, id-only through the
    * band join — q87's transport rule), a bucket equi-join with NO
    * exchange on the index side (BucketJoinSpec-style pinned), distinct
    * candidate pairs checkpointed, then the exact-Jaccard verify where
    * the shingle artifact is candidate-pruned map-side (broadcast semi /
    * bloom, the q50 pattern) and its bucket layout again eliminates the
    * index-side exchange AND the sort.
    *
    * At 100 TB: batch cost ∝ arrival rate × collision rate — the corpus
    * is only ever touched through its bucketed artifacts, never
    * re-shuffled, never re-shingled. Oracle = q50's pipeline restricted
    * to (new, indexed) pairs: identical signatures, banding, verify
    * threshold, and rounding. */
  val IncrSplitMod = 7
  val IndexBuckets = 16

  /** The bucketed index tables of the incremental dedup/span family. */
  val G108Buckets = Bucketed.Index("dedupindex", "g108_buckets", Seq("band", "bucket"))
  val G108Shingles = Bucketed.Index("dedupindex", "g108_shingles", Seq("doc_id"), Seq("doc_id"))
  val G115Spans = Bucketed.Index("spanindex", "g115_spans", Seq("sh"), dedupe = true)
  val G119Spans = Bucketed.Index("srcspanindex", "g119_spans", Seq("sh"), dedupe = true)
  val G189Shingles = Bucketed.Index("shingleindex", "g189_shingles", Seq("sh"), dedupe = true)

  /** EXACT incremental connected components: update a label snapshot
    * `oldLabels(doc_id, root)` (root = component min id, q74's
    * convention) with a batch of `newEdges` — and a possibly grown
    * `docs` universe — WITHOUT re-running the fixpoint over the corpus.
    *
    * The delta contracts to the QUOTIENT graph over affected roots:
    * endpoint ids → their old roots (docs new to the universe are their
    * own root), self-loops dropped, then min-label CC runs on a graph
    * whose node count is ∝ affected components, not corpus. Min of
    * component minima = global minimum, so one relabel join reproduces
    * full CC on the merged edge set bit-for-bit (spec-pinned, including
    * a delta that BRIDGES two old components through a new doc).
    *
    * Corpus-side cost: one broadcast-semi prune of the label snapshot
    * down to the delta's endpoints, and one map-side broadcast left
    * join applying the ≤|affected components| relabel map — the label
    * snapshot is never shuffled. The daily-batch companion of
    * [[q108Append]] (index) and GraphOps.pagerankDelta (ranks). */
  /** Quotient-edge ceiling for [[ccDelta]]'s driver-side union-find:
    * below it the quotient CC folds on the driver (one collect job —
    * the GraphOps.DeltaBallCap treatment); above it the distributed
    * min-label fixpoint runs unchanged. 2 M edges ≈ tens of MB of
    * driver state, the pagerankDelta bound. */
  val CcQuotientCap = 2000000L

  private[graft] def ccDelta(oldLabels: DataFrame, newEdges: DataFrame,
      docs: DataFrame, quotientCap: Long = CcQuotientCap): DataFrame = {
    val known = oldLabels.select(col("doc_id"), col("root"))
    val newDocs = docs.select(col("doc_id"))
      .join(known.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("root"))
    val labels = known.unionAll(newDocs)
    // endpoint → old-root map, pruned to the batch (broadcast semi; the
    // endpoint set is batch-sized by contract)
    val epIds = newEdges.select(col("id_a").as("doc_id"))
      .unionAll(newEdges.select(col("id_b").as("doc_id"))).distinct()
    val epLabels = labels.join(broadcast(epIds), Seq("doc_id"), "left_semi")
    val qe = newEdges
      .join(epLabels.select(col("doc_id").as("id_a"), col("root").as("ra")), "id_a")
      .join(epLabels.select(col("doc_id").as("id_b"), col("root").as("rb")), "id_b")
      .select(col("ra").as("id_a"), col("rb").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    // The quotient graph is ∝ affected components — batch-sized by the
    // daily-batch contract — so the CC on it folds DRIVER-SIDE as a
    // min-label union-find (r17; the q126 ball-fold rule): the
    // distributed fixpoint paid ~2 jobs per round plus checkpoint
    // churn to move component-count rows. limit(cap+1).collect() is
    // ONE job and doubles as the size guard: an oversized delta falls
    // back to the distributed fixpoint, bit-identical by GraphSpec.
    val qRows = qe.limit((quotientCap + 1).min(Int.MaxValue.toLong).toInt)
      .collect()
    val relabel: DataFrame =
      if (qRows.length > quotientCap) {
        val qNodes = qe.select(col("id_a").as("doc_id"))
          .unionAll(qe.select(col("id_b").as("doc_id"))).distinct()
        connectedComponents(qe, qNodes)
          .select(col("doc_id").as("old_root"), col("root").as("new_root"))
      } else {
        // union-find with component-min labels ≡ min-label propagation
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        qRows.foreach { row =>
          val a = row.getLong(0); val b = row.getLong(1)
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(ra) = rb
        }
        val minOf = scala.collection.mutable.Map.empty[Long, Long]
        parent.keys.foreach { n =>
          val r = find(n)
          minOf(r) = minOf.get(r).fold(n)(math.min(_, n))
        }
        val pairs = parent.keys.toSeq.sorted
          .map(n => (n, minOf(find(n))))
        val s = oldLabels.sparkSession
        import s.implicits._
        pairs.toDF("old_root", "new_root")
      }
    labels
      .join(broadcast(relabel), labels("root") === col("old_root"), "left")
      .select(col("doc_id"),
        coalesce(col("new_root"), col("root")).as("root"))
  }

  // --- 127. incremental connected components as a REGISTERED query (r6) --
  /** [[ccDelta]] under the driver's oracle: the MinHash near-dup edge
    * set splits deterministically (same knob as the PageRank delta,
    * GraphOps.DeltaSplitMod) into a base graph and a delta batch; full
    * CC labels the base, then the quotient-graph delta update folds the
    * batch in. The ORACLE replays full CC over ALL edges ([[q74Sql]]'s
    * recursive CTE on the same pair set) — the hash compare IS the
    * delta ≡ full-recompute equivalence, guarded round-over-round.
    * Output is q74-shaped (doc_id, root, is_keeper). */
  def q127(s: SparkSession, dir: String): DataFrame = {
    val pairs = pairs50(s, dir).select(col("id_a"), col("id_b"))
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val isDelta = (col("id_a") + col("id_b")) % GraphOps.DeltaSplitMod === 0
    ccLabelSnapshot(s, dir, pairs.filter(!isDelta), docs)
    ccDelta(s.table("g127_labels"), pairs.filter(isDelta), docs)
      .select(col("doc_id"), col("root"),
        when(col("doc_id") === col("root"), 1).otherwise(0).as("is_keeper"))
      .orderBy(col("doc_id"))
  }

  /** Build + persist the base-graph CC label snapshot `(doc_id, root)`
    * for `dir` unless the live artifact already describes it (the q126
    * pattern — r6 VERDICT #4), bucketed on doc_id (the delta probe's
    * semi-join key). Paid once per corpus snapshot; the registered op
    * then measures probe + delta fold — the production path's
    * amortized cost. */
  private[graft] def ccLabelSnapshot(s: SparkSession, dir: String,
      basePairs: DataFrame, docs: DataFrame): Unit =
    graft.Standing.artifact(s, "cclabels", "g127_labels", dir,
        graft.Standing.catalogHas(s, "g127_labels")) { base =>
      graft.CheckpointRegistry.scoped {
        Bucketed.fresh(s, base, "g127_labels", connectedComponents(basePairs, docs)
          .select(col("doc_id"), col("root")))(_.bucketBy(IndexBuckets, "doc_id"))
      }
    }

  /** Full-recompute replay over the merged edge set — delta ≡ full. */
  lazy val q127Sql: String = q74Sql

  /** The live g108 / g115 / g119 artifacts as a PRISTINE snapshot build
    * of `dir` (r7; r8 extends the reuse to the registered q108/q115/q119
    * entries themselves): the registered snapshot writers (q108, q115,
    * q119, q122Write) produce byte-for-byte the same artifact for the
    * same dir, so a later call in the session can PROBE the standing
    * artifact instead of rewriting it — the production admission path's
    * amortized shape (the q126/q127 argument). Any direct write or
    * append invalidates the slot (content may now differ from the
    * canonical snapshot); compaction keeps it (probe results are
    * invariant under compaction — GenerationsSpec). */
  private def g108Snapshot(s: SparkSession, dir: String): Unit =
    graft.Standing.artifact(s, "dedupindex", "g108", dir,
        graft.Standing.catalogHas(s, "g108_buckets", "g108_shingles"))(
      _ => q108Write(s, docShingles(s, dir).filter(size(col("shs")) > 0)
        .filter(col("doc_id") % IncrSplitMod =!= 0)))

  private def g119Snapshot(s: SparkSession, dir: String): Unit =
    graft.Standing.artifact(s, "srcspanindex", "g119_spans", dir,
        graft.Standing.catalogHas(s, "g119_spans"))(
      _ => q119Write(s, Tables.documents(s, dir).filter(col("doc_id") % IncrSplitMod =!= 0)
        .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))))

  /** Corpus-snapshot build: both artifacts bucketed on their probe key. */
  private[graft] def q108Write(s: SparkSession, oldSh: DataFrame): Unit = {
    graft.Standing.invalidate(s, "dedupindex", "g108")
    // corpus-volume banding: the codegen'd aggregate form, not the
    // per-row HOF fold (measured ~10× on the 6/7-corpus index side)
    G108Buckets.write(s, aggBandBuckets(oldSh))
    G108Shingles.write(s, oldSh)
  }

  /** Index MAINTENANCE: fold an accepted batch into the artifacts by
    * bucketed APPEND — the delta alone is shuffled into bucket files
    * (the corpus snapshot is never rewritten), and the new files join
    * the same bucket layout, so subsequent probes see old ∪ delta with
    * the same exchange-free plan. (With several files per bucket Spark
    * drops the sorted-scan shortcut and re-sorts per task — correctness
    * and bucketing are unaffected; a periodic full q108Write is the
    * compaction that restores it.) */
  private[graft] def q108Append(s: SparkSession, addSh: DataFrame): Unit = {
    graft.Standing.invalidate(s, "dedupindex", "g108")
    G108Buckets.append(s, aggBandBuckets(addSh))
    G108Shingles.append(s, addSh)
  }

  /** Index COMPACTION — the maintenance companion of [[q108Append]]:
    * each append folds delta files into the buckets, and once a bucket
    * holds several files Spark drops the sorted-scan shortcut and
    * re-sorts per task; compaction ([[Bucketed.Index.compact]])
    * rewrites each artifact as ONE sorted file per bucket at a fresh
    * generation under the same table name. */
  private[graft] def q108Compact(s: SparkSession): Unit = {
    G108Buckets.compact(s)
    G108Shingles.compact(s)
  }

  /** Per-batch probe: id-only candidates against the persisted index,
    * checkpointed, then the candidate-pruned verify. */
  private[graft] def q108Probe(s: SparkSession, newSh: DataFrame): DataFrame = {
    val candCk = graft.CheckpointRegistry.checkpoint(
      q108CandidatesOf(s, newSh))
    val dupIds = candCk.select(col("dup_of").as("id")).distinct()
    val nIds = dupIds.count() // reads checkpoint blocks; sizes the prune
    val idxSh = {
      val t = s.table("g108_shingles")
      val pruned =
        if (nIds <= MaxBroadcastPruneIds)
          t.join(broadcast(dupIds), col("doc_id") === col("id"), "left_semi")
        else graft.functions.BloomPrune.semiPrune(
          t, "doc_id", dupIds, "id", expectedItems = math.max(1L, nIds))
      pruned.select(col("doc_id").as("dup_of"), col("shs").as("shs_b"))
    }
    candCk
      .join(newSh, "doc_id")
      .join(idxSh, "dup_of")
      .withColumn("inter", size(array_intersect(col("shs"), col("shs_b"))))
      .withColumn("jraw", col("inter") /
        (size(col("shs")) + size(col("shs_b")) - col("inter")).cast("double"))
      .filter(col("jraw") >= 0.5)
      .select(col("doc_id"), col("dup_of"),
        graft.functions.Num.ratio6(col("inter"),
          size(col("shs")) + size(col("shs_b")) - col("inter")).as("jaccard"))
      .orderBy(col("doc_id"), col("dup_of"))
  }

  def q108(s: SparkSession, dir: String): DataFrame = {
    val docSh = docShingles(s, dir).filter(size(col("shs")) > 0)
    // standing-snapshot reuse (r8 — the q105/q122/q126 pattern): the
    // snapshot write runs once per (session, corpus); re-runs measure
    // the amortized arrival probe, production's steady state (see
    // g108Snapshot)
    g108Snapshot(s, dir)
    q108Probe(s, docSh.filter(col("doc_id") % IncrSplitMod === 0))
  }

  private def q108CandidatesOf(s: SparkSession, newSh: DataFrame): DataFrame =
    aggBandBuckets(newSh)
      .join(s.table("g108_buckets").withColumnRenamed("doc_id", "dup_of"),
        Seq("band", "bucket"))
      .select(col("doc_id"), col("dup_of")).distinct()

  /** The id-only probe stage, pre-checkpoint — requires the g108
    * artifacts to exist (q108 writes them first); exposed so the plan
    * spec can pin the exchange-free index side of the band join. */
  private[graft] def q108Candidates(s: SparkSession, dir: String): DataFrame =
    q108CandidatesOf(s, docShingles(s, dir).filter(size(col("shs")) > 0)
      .filter(col("doc_id") % IncrSplitMod === 0))

  lazy val q108Sql: String =
    s"""WITH d AS ($docShSql),
       |dnz AS (SELECT * FROM d WHERE len(shs) > 0),
       |sh AS (SELECT doc_id, unnest(shs) AS sh FROM dnz),
       |hashed AS (SELECT doc_id, sh,
       |  CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) % 1073741824 AS h FROM sh),
       |perms(i, a, b) AS (VALUES $permsValuesSql),
       |sigs AS (
       |  SELECT doc_id, i, MIN((a * h + b) % ${MinhashP}) AS sig
       |  FROM hashed CROSS JOIN perms GROUP BY doc_id, i),
       |buckets AS (
       |  SELECT doc_id, i // $BandSize AS band,
       |    md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i)) AS bucket
       |  FROM sigs GROUP BY doc_id, i // $BandSize),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS doc_id, o.doc_id AS dup_of
       |  FROM buckets n JOIN buckets o
       |    ON n.band = o.band AND n.bucket = o.bucket
       |    AND n.doc_id % $IncrSplitMod = 0 AND o.doc_id % $IncrSplitMod <> 0),
       |verified AS (
       |  SELECT cand.doc_id, dup_of,
       |    len(list_intersect(dn.shs, do_.shs)) AS inter,
       |    len(dn.shs) + len(do_.shs) - len(list_intersect(dn.shs, do_.shs)) AS uni
       |  FROM cand
       |  JOIN dnz dn ON cand.doc_id = dn.doc_id
       |  JOIN dnz do_ ON cand.dup_of = do_.doc_id)
       |SELECT doc_id, dup_of, ${graft.functions.Num.ratio6Sql("inter", "uni")} AS jaccard
       |FROM verified WHERE inter / CAST(uni AS DOUBLE) >= 0.5
       |ORDER BY doc_id, dup_of""".stripMargin

  // --- 99. cross-source duplication matrix (r4) ----------------------------
  /** WHERE the duplication comes from: the verified near-dup pairs (q50)
    * keyed by the unordered (source, source) pair — the readout that
    * tells a curation team which feeds copy which (a heavy diagonal means
    * within-crawl re-posts; a heavy off-diagonal cell means two feeds
    * mirror each other and one can be dropped wholesale). Two broadcast
    * joins of the doc→source dimension onto the pair set + one counting
    * groupBy — nothing beyond q50's own cost at any scale (the dimension
    * broadcast is |docs|-sized here, but only because doc→source IS the
    * dimension; at 100 TB the same plan flips to shuffle joins under AQE
    * with identical semantics). */
  def q99(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val pairs = pairs50(s, dir)
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  lazy val q99Sql: String =
    s"""WITH pairs AS (SELECT id_a, id_b FROM ($q50PairsSql) _p)
       |SELECT least(da.source, db.source) AS src_a,
       |  greatest(da.source, db.source) AS src_b,
       |  COUNT(*) AS n_pairs
       |FROM pairs
       |JOIN documents da ON pairs.id_a = da.doc_id
       |JOIN documents db ON pairs.id_b = db.doc_id
       |GROUP BY src_a, src_b
       |ORDER BY src_a, src_b""".stripMargin

  // --- 100. IDF-weighted shingle cosine (r4) -------------------------------
  /** SOFT lexical near-dup scoring: cosine over IDF-weighted binary
    * shingle vectors on the same df-capped space as q49. Jaccard treats
    * a boilerplate 3-gram and a rare quote identically; IDF weighting
    * scores overlap by how *distinctive* the shared shingles are — the
    * signal used to separate "same template" from "same content" before
    * a keeper policy fires. Same inverted-index + cap skew guard as q49
    * (the [[keptShingles]] relation is shared and cached); the weight
    * table derives from kept itself (rare shingles retain ALL their
    * occurrences, so COUNT per shingle ≡ its df) and re-joins the index
    * skew-free — every kept shingle carries ≤ [[ShingleDfCap]] rows.
    *
    * Numerics are cross-engine exact: weights live on the integer-micro
    * lattice (round(idf·10⁶) — idf is a log, never on a .5 boundary),
    * dot products and norms are int64 term products summed in
    * DECIMAL(38,0) (exact, order-independent; terms ≤ 9e14 even at
    * 10¹² docs), and only the final cosine divides as double — the same
    * IEEE ops from the same exact integers on both engines. */
  def q100(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val kept = keptShingles(s, dir)
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val w = kept.groupBy(col("sh")).agg(count(lit(1)).as("dfc"))
      .crossJoin(broadcast(nDocs))
      .select(col("sh"), round(idf(col("n_docs"), col("dfc")) * 1000000L).cast("long").as("m"))
    // cache: three consumers (norms + both self-join sides) would each
    // recompute the weight join. Group-scoped lifecycle (cleared with the
    // dedup family), the q36 pattern; sized like the already-cached kept
    // index + one long.
    val wk = kept.join(w, "sh").cache()
    val norms = wk.groupBy(col("doc_id"))
      .agg(sum((col("m") * col("m")).cast(DecimalType(38, 0))).cast("double").as("n2"))
    // r9: the norm rides each INDEX row into the self-join instead of
    // joining the PAIR relation twice afterwards. The index is ~|corpus
    // shingles| rows; the candidate-pair relation is the join's square-
    // ish blow-up (measured 260 k index rows → 1.13 M pairs at sf0.1, of
    // which 256 survive cos ≥ 0.5) — so the two post-agg norm joins were
    // the plan's largest exchanges, moving 2× pair-sized rows to attach
    // 16 bytes and then discard 99.98 % of them. Attaching n2 up front
    // costs ONE index-sized doc_id-aligned join (norms and wkn share the
    // groupBy's partitioning) and lets the cos filter fire directly on
    // the aggregate's output. na2/nb2 in the grouping key are
    // functionally dependent on the ids — same groups, same values,
    // hashes unchanged (verified at sf0.01). The norms join leaves wkn
    // doc_id-partitioned, so it is repartitioned BACK onto sh before the
    // cache: the self-join then reads one sh-aligned cached relation on
    // both sides, exchange-free — three index-sized exchanges at build
    // (groupBy, join, repartition), zero pair-sized ones per probe.
    val wkn = wk.join(norms, "doc_id").repartition(col("sh")).cache()
    wkn
      .select(col("doc_id").as("id_a"), col("sh"), col("m").as("ma"),
        col("n2").as("na2"))
      .join(wkn.select(col("doc_id").as("id_b"), col("sh"),
        col("m").as("mb"), col("n2").as("nb2")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("na2"), col("nb2"))
      .agg(sum((col("ma") * col("mb")).cast(DecimalType(38, 0))).cast("double").as("dot"))
      .withColumn("cos", col("dot") / sqrt(col("na2") * col("nb2")))
      .filter(col("cos") >= 0.5)
      .select(col("id_a"), col("id_b"), col("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  lazy val q100Sql: String =
    s"""WITH d AS ($docShSql),
       |sh AS (SELECT doc_id, unnest(shs) AS sh FROM d),
       |rare AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= $ShingleDfCap),
       |kept AS (SELECT s.doc_id, s.sh FROM sh s JOIN rare USING (sh)),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |w AS (SELECT sh, CAST(round((${idfSql("n_docs", "dfc")}) * 1000000) AS BIGINT) AS m
       |  FROM (SELECT sh, COUNT(*) AS dfc FROM kept GROUP BY sh) _df CROSS JOIN n),
       |wk AS (SELECT k.doc_id, k.sh, w.m FROM kept k JOIN w USING (sh)),
       |norms AS (SELECT doc_id, CAST(SUM(m * m) AS DOUBLE) AS n2 FROM wk GROUP BY doc_id),
       |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(SUM(a.m * b.m) AS DOUBLE) AS dot
       |  FROM wk a JOIN wk b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY id_a, id_b)
       |SELECT id_a, id_b, dot / sqrt(na.n2 * nb.n2) AS cos
       |FROM pr
       |JOIN norms na ON id_a = na.doc_id
       |JOIN norms nb ON id_b = nb.doc_id
       |WHERE dot / sqrt(na.n2 * nb.n2) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  // --- 115. incremental span cleaning vs a persisted window index (r5) -----
  /** Corpus-snapshot WINDOW index: the distinct [[DupSpanK]]-token
    * window strings of the corpus, bucketed on `sh` — the span-family
    * sibling of [[q108Write]]'s band index. Write pays the one distinct
    * shuffle; every probe joins it bucket-aligned with no exchange on
    * the index side. */
  private[graft] def q115Write(s: SparkSession, oldDocs: DataFrame): Unit = {
    graft.Standing.invalidate(s, "spanindex", "g115_spans")
    G115Spans.write(s, spanOcc(oldDocs, DupSpanK).select(col("sh")).distinct())
  }

  /** Window-index MAINTENANCE: fold a new batch's distinct windows in
    * by bucketed append. Duplicates against the existing set are
    * harmless — the probe is a semi-join — and [[q115Compact]]'s
    * dedup-compaction collapses them back to the exact set, one
    * (unsorted — the semi-join probe never relies on order) file per
    * bucket. `addDocs`: (doc_id, toks). */
  private[graft] def q115Append(s: SparkSession, addDocs: DataFrame): Unit = {
    graft.Standing.invalidate(s, "spanindex", "g115_spans")
    G115Spans.append(s, spanOcc(addDocs, DupSpanK).select(col("sh")).distinct())
  }

  private[graft] def q115Compact(s: SparkSession): Unit = G115Spans.compact(s)

  /** Incremental SPAN CLEANING against the persisted window index —
    * q107's action in the q108 arrival model: a new-docs batch is
    * cleaned of every window the EXISTING corpus already contains,
    * without recomputing anything corpus-side. The probe is
    * [[cleanVsIndex]] (stateless explode → semi-join → island merge →
    * segment-slice complement) against the bucketed artifact, so the
    * batch side alone shuffles on sh (the index side is bucket-aligned,
    * exchange-free — spec-pinned); batch cost is arrival-rate-sized.
    * The registered entry stands in doc_id % [[IncrSplitMod]] == 0 as
    * the arriving batch; production probes with its own batch and
    * refreshes the artifact on the corpus-build cadence (the
    * [[q108Append]]/[[q108Compact]] lifecycle applies verbatim). */
  def q115(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    // standing-snapshot reuse (r8) — see q108
    graft.Standing.artifact(s, "spanindex", "g115_spans", dir,
        graft.Standing.catalogHas(s, "g115_spans"))(
      _ => q115Write(s, docs.filter(col("doc_id") % IncrSplitMod =!= 0)
        .select(col("doc_id"), tokens(col("text")).as("toks"))))
    cleanVsIndex(docs.filter(col("doc_id") % IncrSplitMod === 0),
        s.table("g115_spans"), DupSpanK)
      .orderBy(col("doc_id"))
  }

  lazy val q115Sql: String = {
    val k = DupSpanK
    val shExpr = (0 until k).map(j => s"toks[i + $j]").mkString(" || ' ' || ")
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |d AS (SELECT * FROM base WHERE doc_id % $IncrSplitMod = 0),
       |oldsh AS MATERIALIZED (
       |  SELECT DISTINCT $shExpr AS sh
       |  FROM base, unnest(range(1, greatest(len(toks) - ${k - 2}, 1))) AS u(i)
       |  WHERE doc_id % $IncrSplitMod <> 0),
       |hits AS (
       |  SELECT o.doc_id, o.pos, o.pos + ${k - 1} AS fin
       |  FROM (SELECT doc_id, i AS pos, $shExpr AS sh
       |        FROM d, unnest(range(1, greatest(len(toks) - ${k - 2}, 1))) AS u(i)) o
       |  JOIN oldsh USING (sh)),
       |marked AS (
       |  SELECT doc_id, pos, fin,
       |    CASE WHEN pos > COALESCE(MAX(fin) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) THEN 1 ELSE 0 END AS new_span
       |  FROM hits),
       |isl AS (
       |  SELECT doc_id, pos, fin,
       |    SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
       |  FROM marked),
       |sp AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(fin) AS e
       |  FROM isl GROUP BY doc_id, span_id),
       |$spanCleanCtesSql
       |SELECT d.doc_id, len(d.toks) AS n_tokens,
       |  COALESCE(a.kept_tokens, 0) AS kept_tokens,
       |  CASE WHEN len(d.toks) > 0
       |    THEN ${graft.functions.Num.ratio6Sql("COALESCE(a.kept_tokens, 0)", "len(d.toks)")}
       |    ELSE 0.0 END AS kept_fraction,
       |  COALESCE(a.cleaned_text, '') AS cleaned_text
       |FROM d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // --- 117. span-level benchmark decontamination (r5) ----------------------
  /** Decontamination as an ACTION at span granularity: q85 FLAGS docs
    * sharing 5-grams with the benchmark and q87 scales the flagging;
    * this op CUTS the overlapping spans — every
    * [[PipelineOps.ContamShingleK]]-token window (q85's length: the
    * flag and the cut agree on what "overlap" means) of a training doc
    * that also occurs in the eval set is
    * removed from the token stream (the GPT-3/Pile remedy applied
    * surgically: the doc survives, the leaked span doesn't). Reuses
    * [[cleanVsIndex]] with the benchmark's distinct windows as the
    * index; the benchmark side is eval-sized by contract, so Catalyst
    * BROADCASTS the semi-join — the corpus is never shuffled at all
    * (cf. q115, whose corpus-sized index makes the batch side shuffle).
    * The registered entry stands in doc_id % 97 == 0 as the benchmark
    * (q85's convention); production passes its own eval table through
    * [[spanDecontaminate]]. Readout: q107 shape + a contaminated flag.
    */
  def spanDecontaminate(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val k = PipelineOps.ContamShingleK // q85's window length: flag and cut agree
    cleanVsIndex(corpus,
        spanOcc(benchmark.select(col("doc_id"), tokens(col("text")).as("toks")),
          k).select(col("sh")).distinct(),
        k)
      .withColumn("contaminated",
        (col("kept_tokens") < col("n_tokens")).cast("int"))
  }

  def q117(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    spanDecontaminate(docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0))
      .orderBy(col("doc_id"))
  }

  lazy val q117Sql: String = {
    val k = PipelineOps.ContamShingleK
    val shExpr = (0 until k).map(j => s"toks[i + $j]").mkString(" || ' ' || ")
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |d AS (SELECT * FROM base WHERE doc_id % 97 <> 0),
       |bench AS MATERIALIZED (
       |  SELECT DISTINCT $shExpr AS sh
       |  FROM base, unnest(range(1, greatest(len(toks) - ${k - 2}, 1))) AS u(i)
       |  WHERE doc_id % 97 = 0),
       |hits AS (
       |  SELECT o.doc_id, o.pos, o.pos + ${k - 1} AS fin
       |  FROM (SELECT doc_id, i AS pos, $shExpr AS sh
       |        FROM d, unnest(range(1, greatest(len(toks) - ${k - 2}, 1))) AS u(i)) o
       |  JOIN bench USING (sh)),
       |marked AS (
       |  SELECT doc_id, pos, fin,
       |    CASE WHEN pos > COALESCE(MAX(fin) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) THEN 1 ELSE 0 END AS new_span
       |  FROM hits),
       |isl AS (
       |  SELECT doc_id, pos, fin,
       |    SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
       |  FROM marked),
       |sp AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(fin) AS e
       |  FROM isl GROUP BY doc_id, span_id),
       |$spanCleanCtesSql
       |SELECT d.doc_id, len(d.toks) AS n_tokens,
       |  COALESCE(a.kept_tokens, 0) AS kept_tokens,
       |  CASE WHEN len(d.toks) > 0
       |    THEN ${graft.functions.Num.ratio6Sql("COALESCE(a.kept_tokens, 0)", "len(d.toks)")}
       |    ELSE 0.0 END AS kept_fraction,
       |  COALESCE(a.cleaned_text, '') AS cleaned_text,
       |  CASE WHEN COALESCE(a.kept_tokens, 0) < len(d.toks) THEN 1 ELSE 0 END AS contaminated
       |FROM d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // --- 113. span-level cross-source contamination matrix (r5) -------------
  /** Per-(doc, other-source) maximal duplicated spans — the attribution
    * core of q113, exposed for the consistency spec. An occurrence in
    * doc d attributes to source `osrc` iff some OTHER doc of `osrc`
    * holds the same [[DupSpanK]]-window; the island merge then runs per
    * (doc_id, osrc), so the same position can count toward several
    * sharing sources (that's the point: attribution, not coverage). */
  private[graft] def q113PerDoc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = DupSpanK
    // cache + sh-partitioning (r9): occ (the k-window explode — per-
    // occurrence string concat, the expensive construction) feeds BOTH
    // the (sh, source) attribution aggregate and the hits join; uncached
    // it was built twice per run. Caching it PARTITIONED ON sh makes
    // both consumers exchange-free — snd's groupBy(sh, source) keys are
    // a superset of the partitioning, and the hits join is sh-aligned on
    // both sides — so the only remaining shuffle is the island window's
    // (doc_id, osrc). Hot boilerplate windows skew an sh partition, but
    // the join probe is occ × the AGGREGATED snd (≤ |windows|·|sources|
    // rows) — per-row work, no pair blow-up — so the skew cost is the
    // hot window's own occurrence count, the same rows the previous
    // AQE-split exchange also had to move. Same family-group lifecycle
    // and size class as docShingles — corpus-occurrence-sized,
    // MEMORY_AND_DISK, evicted at the family boundary. Measured
    // 2.5 → 1.5 s for the pair.
    val occ = spanDocs(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"),
        posexplode(shingles(col("toks"), k)).as(Seq("p0", "sh")))
      .select(col("doc_id"), col("source"),
        (col("p0") + 1).cast("long").as("pos"), col("sh"))
      .repartition(col("sh"))
      .cache()
    // attribution relation: distinct docs per (window, source). Joining
    // occurrences 1:1 against THIS (never doc-to-doc) keeps the whole
    // pipeline occurrence-linear: a window in k docs over m sources
    // emits k·m rows, never k². Same-source duplication stays exact —
    // own source qualifies only with a second doc of that source.
    val snd = occ.groupBy(col("sh"), col("source").as("osrc"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val hits = occ.join(snd, "sh")
      .filter(col("osrc") =!= col("source") || col("nd") >= 2)
      .select(col("doc_id"), col("source"), col("osrc"),
        col("pos"), (col("pos") + (k - 1)).as("fin"))
    val w = Window.partitionBy(col("doc_id"), col("osrc")).orderBy(col("pos"))
    val prevMax = max(col("fin")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("new_span",
        when(col("pos") > coalesce(prevMax, lit(0L)), 1).otherwise(0))
      .withColumn("span_id", sum(col("new_span"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("source"), col("osrc"), col("span_id"))
      .agg(min(col("pos")).as("s"), max(col("fin")).as("e"))
      .groupBy(col("doc_id"), col("source"), col("osrc"))
      .agg(sum(col("e") - col("s") + 1).as("dt"))
  }

  /** WHERE the duplicated SPANS come from: q99 attributes doc-level
    * near-dup PAIRS to source pairs; this is the span-level form — for
    * every duplicated position (q98 semantics: the window occurs in ≥2
    * docs), the other sources holding that window, merged into maximal
    * spans per (doc, other_source) and aggregated into the ordered
    * (source, other_source) matrix of affected docs + covered tokens.
    * The asymmetric readout — "how many of src_a's tokens are covered
    * by text that also lives in src_b" — is the decontamination
    * priority list a multi-source corpus build consults before q107
    * cuts anything.
    *
    * Scale shape: occurrence-linear throughout ([[q113PerDoc]] — no
    * doc-pair join; the blow-up bound is |sources|, a catalog-sized
    * constant). One groupBy(sh, source) with map-side combine, one
    * corpus-sized equi-join on sh (AQE skew split covers hot
    * boilerplate windows), island windows keyed (doc_id, osrc) — per-
    * doc-length state, never corpus-global — and a ≤|sources|² final
    * aggregate. */
  def q113(s: SparkSession, dir: String): DataFrame =
    q113PerDoc(s, dir)
      .groupBy(col("source"), col("osrc"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("dt")).cast("long").as("dup_tokens"))
      .orderBy(col("source"), col("osrc"))

  lazy val q113Sql: String = {
    val k = DupSpanK
    val shExpr = (0 until k).map(j => s"toks[i + $j]").mkString(" || ' ' || ")
    // occ is MATERIALIZED: DuckDB inlines CTEs per reference, and occ
    // (the expensive window construction) is consumed twice
    s"""WITH d AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
       |occ AS MATERIALIZED (
       |  SELECT doc_id, source, i AS pos, $shExpr AS sh
       |  FROM d, unnest(range(1, greatest(len(toks) - ${k - 2}, 1))) AS u(i)),
       |snd AS (SELECT sh, source AS osrc, COUNT(DISTINCT doc_id) AS nd
       |  FROM occ GROUP BY sh, source),
       |hits AS (
       |  SELECT o.doc_id, o.source, s.osrc, o.pos, o.pos + ${k - 1} AS fin
       |  FROM occ o JOIN snd s USING (sh)
       |  WHERE s.osrc <> o.source OR s.nd >= 2),
       |marked AS (
       |  SELECT doc_id, source, osrc, pos, fin,
       |    CASE WHEN pos > COALESCE(MAX(fin) OVER (PARTITION BY doc_id, osrc
       |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      THEN 1 ELSE 0 END AS new_span
       |  FROM hits),
       |isl AS (
       |  SELECT doc_id, source, osrc, pos, fin,
       |    SUM(new_span) OVER (PARTITION BY doc_id, osrc ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
       |  FROM marked),
       |sp AS (SELECT doc_id, source, osrc, span_id, MIN(pos) AS s, MAX(fin) AS e
       |  FROM isl GROUP BY doc_id, source, osrc, span_id),
       |per_do AS (SELECT doc_id, source, osrc, SUM(e - s + 1) AS dt
       |  FROM sp GROUP BY doc_id, source, osrc)
       |SELECT source, osrc, COUNT(DISTINCT doc_id) AS n_docs,
       |  CAST(SUM(dt) AS BIGINT) AS dup_tokens
       |FROM per_do GROUP BY source, osrc
       |ORDER BY source, osrc""".stripMargin
  }

  // --- 119. incremental span-source attribution vs a persisted index (r5) --
  /** Corpus-snapshot SOURCE-TAGGED window index: distinct (sh, osrc)
    * over the snapshot's [[DupSpanK]]-windows, bucketed on `sh` — g115
    * with the attribution tag kept. ≤ |sources| rows per distinct
    * window (catalog-sized blow-up bound, q113's argument); probes join
    * it bucket-aligned, exchange-free on the index side. The
    * [[q115Append]]/[[q115Compact]] lifecycle (bucketed append +
    * dedup-compaction via [[Bucketed.Index]]) applies verbatim. */
  private[graft] def q119Write(s: SparkSession, oldDocs: DataFrame): Unit = {
    graft.Standing.invalidate(s, "srcspanindex", "g119_spans")
    G119Spans.write(s, srcSpans(oldDocs))
  }

  /** Distinct (sh, osrc) over `docs`' [[DupSpanK]]-windows. */
  private def srcSpans(docs: DataFrame): DataFrame =
    docs.select(col("source").as("osrc"),
        explode(shingles(col("toks"), DupSpanK)).as("sh"))
      .select(col("sh"), col("osrc")).distinct()

  /** Source-tagged-window-index MAINTENANCE — [[q115Append]] with the
    * attribution tag kept: fold a batch's distinct (sh, osrc) in by
    * bucketed append (duplicates vs the existing set are harmless for
    * the semi/equi-join probes; [[q119Compact]] collapses them).
    * `addDocs`: (source, toks). */
  private[graft] def q119Append(s: SparkSession, addDocs: DataFrame): Unit = {
    graft.Standing.invalidate(s, "srcspanindex", "g119_spans")
    G119Spans.append(s, srcSpans(addDocs))
  }

  private[graft] def q119Compact(s: SparkSession): Unit = G119Spans.compact(s)

  /** Span-source attribution of a new-docs batch against the persisted
    * index — q113's matrix in the q108/q115 arrival model: WHICH
    * EXISTING sources does the arriving batch overlap, and by how many
    * covered tokens, without recomputing anything corpus-side. Unlike
    * full q113 there is no own-source ≥2-docs rule: the batch doc is
    * not in the snapshot, so ANY index hit is cross-doc duplication by
    * construction (the [[indexSpans]] argument, per attribution tag).
    * The registered entry stands in doc_id % [[IncrSplitMod]] == 0 as
    * the arriving batch.
    *
    * Scale shape: batch-side occurrence-linear explode (a window shared
    * with m sources emits m rows — |sources| is the bound, never doc
    * counts), one equi-join on sh with the index side exchange-free
    * (bucketed artifact), island merge keyed (doc_id, osrc) — per-doc
    * state — and a ≤|sources|² final aggregate. Batch cost ∝ arrival
    * rate; the corpus is only touched through its bucketed artifact. */
  /** Per-doc attribution of a batch against a source-tagged window
    * relation — `(doc_id, source, osrc, dup_tokens)`, the batch core
    * shared by [[q119]] and the served fold
    * `Fold.map(attributeVsIndex(_, idx, k))` of
    * [[graft.streaming.StreamOps.serve]] (docs are batch-disjoint, so the
    * union of per-batch outputs IS the batch relation).
    * `newDocs`: (doc_id, source, text). */
  private[graft] def attributeVsIndex(newDocs: DataFrame, idx: DataFrame,
      k: Int): DataFrame = {
    val occ = newDocs
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        posexplode(shingles(col("toks"), k)).as(Seq("p0", "sh")))
      .select(col("doc_id"), col("source"),
        (col("p0") + 1).cast("long").as("pos"), col("sh"))
    val hits = occ.join(idx, "sh")
      .select(col("doc_id"), col("source"), col("osrc"),
        col("pos"), (col("pos") + (k - 1)).as("fin"))
    mergeSpansBy(hits, Seq("doc_id", "source", "osrc"))
      .groupBy(col("doc_id"), col("source"), col("osrc"))
      .agg(sum(col("e") - col("s") + 1).cast("long").as("dup_tokens"))
  }

  def q119(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    // standing-snapshot reuse (r8) — see q108
    g119Snapshot(s, dir)
    attributeVsIndex(docs.filter(col("doc_id") % IncrSplitMod === 0),
        s.table("g119_spans"), DupSpanK)
      .groupBy(col("source"), col("osrc"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("dup_tokens")).cast("long").as("dup_tokens"))
      .orderBy(col("source"), col("osrc"))
  }

  lazy val q119Sql: String = {
    val k = DupSpanK
    val shExpr = (0 until k).map(j => s"toks[i + $j]").mkString(" || ' ' || ")
    s"""WITH base AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
       |d AS (SELECT * FROM base WHERE doc_id % $IncrSplitMod = 0),
       |idx AS MATERIALIZED (
       |  SELECT DISTINCT $shExpr AS sh, source AS osrc
       |  FROM base, unnest(range(1, greatest(len(toks) - ${k - 2}, 1))) AS u(i)
       |  WHERE doc_id % $IncrSplitMod <> 0),
       |occ AS (
       |  SELECT doc_id, source, i AS pos, $shExpr AS sh
       |  FROM d, unnest(range(1, greatest(len(toks) - ${k - 2}, 1))) AS u(i)),
       |hits AS (
       |  SELECT o.doc_id, o.source, x.osrc, o.pos, o.pos + ${k - 1} AS fin
       |  FROM occ o JOIN idx x USING (sh)),
       |marked AS (
       |  SELECT doc_id, source, osrc, pos, fin,
       |    CASE WHEN pos > COALESCE(MAX(fin) OVER (PARTITION BY doc_id, osrc
       |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      THEN 1 ELSE 0 END AS new_span
       |  FROM hits),
       |isl AS (
       |  SELECT doc_id, source, osrc, pos, fin,
       |    SUM(new_span) OVER (PARTITION BY doc_id, osrc ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
       |  FROM marked),
       |sp AS (SELECT doc_id, source, osrc, span_id, MIN(pos) AS s, MAX(fin) AS e
       |  FROM isl GROUP BY doc_id, source, osrc, span_id)
       |SELECT source, osrc, COUNT(DISTINCT doc_id) AS n_docs,
       |  CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
       |FROM sp GROUP BY source, osrc
       |ORDER BY source, osrc""".stripMargin
  }

  // --- 122. incremental ADMISSION: the daily-batch triad fused (r5) --------
  /** The arriving batch's per-doc admission record — what an always-on
    * corpus pipeline actually decides per doc, in ONE pass over the
    * persisted snapshot artifacts: near-dup against the MinHash band
    * index (q108's id-only probe), duplicated spans CUT against the
    * corpus window set (q115's cleaning, consuming the sh projection of
    * the source-tagged index — g115 = π_sh(g119) by construction, so
    * only two artifacts are written), overlap ATTRIBUTED against the
    * source-tagged index (q119's relation, reduced to a per-doc count
    * of sharing sources — no island merge needed for a count). The
    * decision is integer-exact: admit ⟺ not a near-dup AND the cleaned
    * doc keeps ≥ half its tokens.
    *
    * Scale shape: all three probes are the batch-sized arrival plans of
    * their parent ops (index sides bucket-aligned/exchange-free,
    * candidates id-only, cleaning occurrence-linear); the final
    * assembly is three LEFT joins on doc_id — batch-keyed, never
    * corpus-keyed. Batch cost ∝ arrival rate, the corpus is only
    * touched through its artifacts. */
  /** Write half of [[q122]]: the snapshot's band index + source-tagged
    * window index (TWO artifacts, not three — the cleaning probe's
    * window set is exactly the sh projection of the source-tagged
    * index, g115 = π_sh(g119) by construction, and projection preserves
    * the bucket layout on sh, so g119 serves both probes
    * exchange-free). */
  private[graft] def q122Write(s: SparkSession, dir: String): Unit = {
    // reuse a PRISTINE standing snapshot of the same corpus (built by
    // q108/q119 earlier in the session — byte-identical artifacts by
    // construction) instead of rewriting it: the admission path's
    // amortized production shape. Any append or non-canonical write
    // invalidated the slot, so staleness cannot leak in.
    g108Snapshot(s, dir)
    g119Snapshot(s, dir)
  }

  /** Probe half of [[q122]] — the per-doc admission record of ONE
    * arriving batch `(doc_id, source, text)` against the artifacts
    * [[q122Write]] (or the production snapshot build) left behind.
    * Batch-sized work only; also the micro-batch body of the streaming
    * [[graft.streaming.StreamOps.admit]] fold (docs are batch-disjoint,
    * so the union of per-batch records IS the batch relation). */
  private[graft] def q122Probe(s: SparkSession, batchDocs: DataFrame): DataFrame =
    q122ProbeToks(s, batchDocs.select(col("doc_id"), col("source"),
      tokens(col("text")).as("toks")).cache())

  /** [[q122Probe]] over a tokenized batch (doc_id, source, toks) — the
    * three probes consume the token stream three different ways, so the
    * caller caches it (batch: released at the family boundary;
    * streaming: the [[graft.streaming.StreamOps.admit]] folds cache it
    * per micro-batch). */
  private[graft] def q122ProbeToks(s: SparkSession, t: DataFrame): DataFrame = {
    val batchSh = t
      .select(col("doc_id"), array_distinct(shingles(col("toks"), 3)).as("shs"))
      .filter(size(col("shs")) > 0)
    val dup = q108Probe(s, batchSh)
      .select(col("doc_id")).distinct().withColumn("near_dup", lit(1))
    val clean = cleanVsIndexToks(t, s.table("g119_spans"), DupSpanK)
    val attr = t
      .select(col("doc_id"), explode(shingles(col("toks"), DupSpanK)).as("sh"))
      .join(s.table("g119_spans"), "sh")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("osrc")).as("n_shared_sources"))
    clean
      .join(t.select(col("doc_id"), col("source")), "doc_id")
      .join(dup, Seq("doc_id"), "left").na.fill(0, Seq("near_dup"))
      .join(attr, Seq("doc_id"), "left").na.fill(0L, Seq("n_shared_sources"))
      .withColumn("admit",
        (col("near_dup") === 0 && col("n_tokens") > 0 &&
          col("kept_tokens") * 2 >= col("n_tokens")).cast("int"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("kept_tokens"),
        col("kept_fraction"), col("near_dup"), col("n_shared_sources"),
        col("admit"))
  }

  /** Scheduled MAINTENANCE of the admission artifacts — the fold that
    * closes [[q122Probe]] into an always-on loop: the batch's ADMITTED
    * docs join the corpus, so their shingles enter the band index
    * ([[q108Append]]) and their source-tagged windows the window index
    * ([[q119Append]]); once either artifact's file count passes
    * `compactAtFiles`, its compaction runs (each append lands one file
    * set per bucket — the threshold is the knob that amortizes the
    * rewrite over many arrival batches). Appends are arrival-sized;
    * nothing here buffers across batches — deferring appends would mean
    * holding admitted docs as stream state, exactly what the zero-state
    * serving design rejects. `t`: the batch tokenized (doc_id, source,
    * toks), cached by the caller; `admitted`: the admitted doc_ids. */
  private[graft] def admissionMaintain(s: SparkSession, t: DataFrame,
      admitted: DataFrame, compactAtFiles: Int): Unit = {
    val at = t.join(admitted, "doc_id")
    q108Append(s, at
      .select(col("doc_id"), array_distinct(shingles(col("toks"), 3)).as("shs"))
      .filter(size(col("shs")) > 0))
    q119Append(s, at.select(col("source"), col("toks")))
    if (G108Shingles.fileCount(s) > compactAtFiles ||
        G108Buckets.fileCount(s) > compactAtFiles)
      q108Compact(s)
    if (G119Spans.fileCount(s) > compactAtFiles)
      q119Compact(s)
  }

  def q122(s: SparkSession, dir: String): DataFrame = {
    q122Write(s, dir)
    q122Probe(s, Tables.documents(s, dir)
        .filter(col("doc_id") % IncrSplitMod === 0)
        .select(col("doc_id"), col("source"), col("text")))
      .orderBy(col("doc_id"))
  }

  lazy val q122Sql: String = {
    val k = DupSpanK
    val shExpr = (0 until k).map(j => s"toks[i + $j]").mkString(" || ' ' || ")
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |d AS (SELECT doc_id, toks FROM base WHERE doc_id % $IncrSplitMod = 0),
       |oldsh AS MATERIALIZED (
       |  SELECT DISTINCT $shExpr AS sh
       |  FROM base, unnest(range(1, greatest(len(toks) - ${k - 2}, 1))) AS u(i)
       |  WHERE doc_id % $IncrSplitMod <> 0),
       |hits AS (
       |  SELECT o.doc_id, o.pos, o.pos + ${k - 1} AS fin
       |  FROM (SELECT doc_id, i AS pos, $shExpr AS sh
       |        FROM d, unnest(range(1, greatest(len(toks) - ${k - 2}, 1))) AS u(i)) o
       |  JOIN oldsh USING (sh)),
       |marked AS (
       |  SELECT doc_id, pos, fin,
       |    CASE WHEN pos > COALESCE(MAX(fin) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) THEN 1 ELSE 0 END AS new_span
       |  FROM hits),
       |isl AS (
       |  SELECT doc_id, pos, fin,
       |    SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
       |  FROM marked),
       |sp AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(fin) AS e
       |  FROM isl GROUP BY doc_id, span_id),
       |$spanCleanCtesSql,
       |d3 AS ($docShSql),
       |dnz3 AS (SELECT * FROM d3 WHERE len(shs) > 0),
       |sh3 AS (SELECT doc_id, unnest(shs) AS sh FROM dnz3),
       |hashed3 AS (SELECT doc_id, sh,
       |  CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) % 1073741824 AS h FROM sh3),
       |perms(i, a, b) AS (VALUES $permsValuesSql),
       |sigs AS (
       |  SELECT doc_id, i, MIN((a * h + b) % ${MinhashP}) AS sig
       |  FROM hashed3 CROSS JOIN perms GROUP BY doc_id, i),
       |buckets AS (
       |  SELECT doc_id, i // $BandSize AS band,
       |    md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i)) AS bucket
       |  FROM sigs GROUP BY doc_id, i // $BandSize),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS doc_id, o.doc_id AS dup_of
       |  FROM buckets n JOIN buckets o
       |    ON n.band = o.band AND n.bucket = o.bucket
       |    AND n.doc_id % $IncrSplitMod = 0 AND o.doc_id % $IncrSplitMod <> 0),
       |dup AS MATERIALIZED (
       |  SELECT DISTINCT cand.doc_id
       |  FROM cand
       |  JOIN dnz3 dn ON cand.doc_id = dn.doc_id
       |  JOIN dnz3 do_ ON cand.dup_of = do_.doc_id
       |  WHERE len(list_intersect(dn.shs, do_.shs)) /
       |    CAST(len(dn.shs) + len(do_.shs) - len(list_intersect(dn.shs, do_.shs))
       |      AS DOUBLE) >= 0.5),
       |idxsrc AS MATERIALIZED (
       |  SELECT DISTINCT $shExpr AS sh, source AS osrc
       |  FROM (SELECT b.doc_id, b.toks, doc.source
       |        FROM base b JOIN documents doc USING (doc_id)
       |        WHERE b.doc_id % $IncrSplitMod <> 0) _s,
       |    unnest(range(1, greatest(len(toks) - ${k - 2}, 1))) AS u(i)),
       |ns AS (
       |  SELECT o.doc_id, COUNT(DISTINCT x.osrc) AS n_shared_sources
       |  FROM (SELECT doc_id, i AS pos, $shExpr AS sh
       |        FROM d, unnest(range(1, greatest(len(toks) - ${k - 2}, 1))) AS u(i)) o
       |  JOIN idxsrc x USING (sh)
       |  GROUP BY o.doc_id)
       |SELECT d.doc_id, doc.source, len(d.toks) AS n_tokens,
       |  COALESCE(a.kept_tokens, 0) AS kept_tokens,
       |  CASE WHEN len(d.toks) > 0
       |    THEN ${graft.functions.Num.ratio6Sql("COALESCE(a.kept_tokens, 0)", "len(d.toks)")}
       |    ELSE 0.0 END AS kept_fraction,
       |  CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END AS near_dup,
       |  COALESCE(ns.n_shared_sources, 0) AS n_shared_sources,
       |  CASE WHEN dup.doc_id IS NULL AND len(d.toks) > 0
       |    AND COALESCE(a.kept_tokens, 0) * 2 >= len(d.toks)
       |    THEN 1 ELSE 0 END AS admit
       |FROM d
       |JOIN documents doc USING (doc_id)
       |LEFT JOIN agg a USING (doc_id)
       |LEFT JOIN dup USING (doc_id)
       |LEFT JOIN ns USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("q48_dedup_exact", q48, Some(q48Sql)),
    Op("q49_dedup_ngram_jaccard", q49, Some(q49Sql)),
    // q50 registers the REAL pipeline, not the pairs50 memo: the timed
    // op must rebuild signature→band→verify on every run or Bench's
    // best-of-2 would report a checkpoint-block scan as q50's cost
    // (r4 ADVICE). Family consumers still share via pairs50.
    Op("q50_dedup_minhash", q50, Some(q50Sql)),
    Op("q51_dedup_simhash", q51, Some(q51Sql)),
    Op("q52_dedup_embedding", q52, Some(q52Sql)),
    Op("q70_dedup_corpus", q70, Some(q70Sql)),
    Op("q74_dedup_pipeline", q74, Some(q74Sql)),
    Op("q75_dedup_embedding_scale", q75, Some(q75Sql)),
    Op("q91_dedup_cluster_stats", q91, Some(q91Sql)),
    Op("q182_ngram_novelty", q182, Some(q182Sql)),
    Op("q189_novelty_incremental", q189, Some(q189Sql)),
    Op("q94_dedup_degree", q94, Some(q94Sql)),
    Op("q98_dup_spans", q98, Some(q98Sql)),
    Op("q107_span_clean", q107, Some(q107Sql)),
    Op("q108_dedup_incremental", q108, Some(q108Sql)),
    Op("q109_dup_spans_fine", q109, Some(q109Sql)),
    Op("q99_cross_source_dups", q99, Some(q99Sql)),
    Op("q100_dedup_idf_cosine", q100, Some(q100Sql)),
    Op("q113_span_source_matrix", q113, Some(q113Sql)),
    Op("q115_span_incremental", q115, Some(q115Sql)),
    Op("q119_span_source_incremental", q119, Some(q119Sql)),
    Op("q122_incremental_admission", q122, Some(q122Sql)),
    Op("q117_decontaminate_spans", q117, Some(q117Sql)),
    Op("q127_cc_delta", q127, Some(q127Sql)),
  )
}

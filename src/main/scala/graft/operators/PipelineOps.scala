package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Op
import graft.functions.HexKey
import graft.text.Text
import graft.text.Text.toksSql

/** The composed training-data selection pipeline (SURVEY §2 row 77) —
  * what a 100 TB corpus run actually executes end-to-end: language gate
  * (q44's marker-word ID), quality gate (q45's length/symbol metrics),
  * near-dup keeper gate (q70's connected-component representative), one
  * decision row per document with each gate's verdict.
  *
  * Plan shape: three per-doc relations, each one corpus-linear pass,
  * equi-joined on doc_id (shuffle on the key or broadcast at dim sizes —
  * Catalyst's choice under AQE); the gates themselves are codegen'd
  * boolean expressions. Nothing quadratic, nothing collected.
  */
object PipelineOps {

  def q77(s: SparkSession, dir: String): DataFrame =
    gateDecisions(s, dir).orderBy(col("doc_id"))

  /** The per-doc gate-decision relation behind q77 and the training
    * builds' selection joins (q86/q112/q114), MEMOIZED per (family run,
    * dir) — r18, the pplBuckets treatment: the decisions are a pure
    * function of the corpus snapshot and THIN (five int columns per
    * doc), while the un-memoized chain re-ran the q44 language pass,
    * the q45 quality pass and the keeper join on every consumer. The
    * oracles all replay the full gate chain (`q77Sql`/`q86Sql`/
    * `q112Sql` carry the q44/q45/roots CTEs verbatim), so the driver's
    * hash gate re-proves the memo ≡ the chain on every run. */
  private[operators] def gateDecisions(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("gate77", dir)(gateDecisionsPlan(s, dir))

  /** The unmemoized gate-decision build plan. */
  private[graft] def gateDecisionsPlan(s: SparkSession, dir: String): DataFrame = {
    val lang = TextOps.q44(s, dir).select(col("doc_id"), col("pred_lang"))
    val qual = TextOps.q45(s, dir)
      .select(col("doc_id").as("d2"), col("n_toks"), col("non_alnum_ratio"))
    val keep = DedupOps.q70(s, dir)
      .select(col("doc_id").as("d3"), col("is_keeper"))
    lang
      .join(qual, col("doc_id") === col("d2"))
      .join(keep, col("doc_id") === col("d3"))
      .select(col("doc_id"),
        (col("pred_lang") === "en").cast("int").as("is_en"),
        (col("n_toks") >= 10 && col("non_alnum_ratio") <= 0.5)
          .cast("int").as("quality_ok"),
        col("is_keeper"),
        (col("pred_lang") === "en" &&
          col("n_toks") >= 10 && col("non_alnum_ratio") <= 0.5 &&
          col("is_keeper") === 1).cast("int").as("selected"))
  }

  private lazy val q44Body: String =
    TextOps.q44Sql.split("\nORDER BY")(0)
  private lazy val q45Body: String =
    TextOps.q45Sql.split("\nORDER BY")(0)

  lazy val q77Sql: String =
    s"""WITH RECURSIVE ${DedupOps.q49CcCtesSql},
       |lang AS (SELECT doc_id, pred_lang FROM ($q44Body) _l),
       |qual AS (SELECT doc_id, n_toks, non_alnum_ratio FROM ($q45Body) _q)
       |SELECT l.doc_id,
       |  CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END AS is_en,
       |  CASE WHEN n_toks >= 10 AND non_alnum_ratio <= 0.5 THEN 1 ELSE 0 END AS quality_ok,
       |  CASE WHEN r.doc_id = r.root THEN 1 ELSE 0 END AS is_keeper,
       |  CASE WHEN pred_lang = 'en' AND n_toks >= 10 AND non_alnum_ratio <= 0.5
       |    AND r.doc_id = r.root THEN 1 ELSE 0 END AS selected
       |FROM lang l
       |JOIN qual q ON l.doc_id = q.doc_id
       |JOIN roots r ON l.doc_id = r.doc_id
       |ORDER BY l.doc_id""".stripMargin

  // --- 82. deterministic corpus mixing / sampling ------------------------
  /** Training-data mixture step: per-language sampling rates reshape the
    * corpus composition (up/down-weighting sources is the standard
    * LLM data-mixing knob), sampled DETERMINISTICALLY from md5(doc_id) —
    * reproducible run-over-run, engine-portable (the DuckDB oracle
    * replays the exact row set), no stored state, no RNG whose stream
    * depends on partitioning. Kept docs carry weight = 1/rate (inverse
    * propensity, so downstream corpus statistics stay unbiased) and
    * `shuffle_key`, a hash-derived deterministic training order that
    * decorrelates batches from corpus order — consumers range-partition
    * on it instead of running a global sort.
    *
    * Scale: one corpus-linear map + filter, pushable to the scan; the
    * only shuffle is the consumer's own ordering. */
  val MixRates: Seq[(String, Double)] = Seq("en" -> 1.0, "de" -> 0.5, "fr" -> 0.25)
  val MixDefaultRate = 0.125

  /** Uniform-in-[0,1e6) sampling key: 60 md5 bits of the doc id mod 10^6. */
  private def mixU = HexKey("mix:", 15, col("doc_id")) % 1000000L

  private def mixRate = MixRates.foldLeft(lit(MixDefaultRate)) {
    case (acc, (l, r)) => when(col("lang") === l, lit(r)).otherwise(acc) }

  /** `docs` (needs doc_id, lang) reduced to its deterministic mixture
    * sample, with the inverse-propensity weight attached. */
  private def mixSampled(docs: DataFrame): DataFrame =
    docs.withColumn("u", mixU).withColumn("rate", mixRate)
      .filter(col("u") < col("rate") * 1000000L)
      .withColumn("weight", round(lit(1.0) / col("rate"), 6))
      .drop("u", "rate")

  def q82(s: SparkSession, dir: String): DataFrame =
    mixSampled(graft.Tables.documents(s, dir).select(col("doc_id"), col("lang")))
      .select(col("doc_id"), col("lang"), col("weight"),
        substring(md5(concat(lit("ord:"), col("doc_id"))), 1, 8).as("shuffle_key"))
      .orderBy(col("shuffle_key"), col("doc_id"))

  private def mixRateCaseSql: String =
    "CAST(CASE lang " +
      MixRates.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ") +
      s" ELSE $MixDefaultRate END AS DOUBLE)"

  lazy val q82Sql: String =
    s"""WITH sampled AS (
       |  SELECT doc_id, lang,
       |    CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |      % 1000000 AS u,
       |    $mixRateCaseSql AS rate
       |  FROM documents)
       |SELECT doc_id, lang, round(1.0 / rate, 6) AS weight,
       |  substr(md5('ord:' || CAST(doc_id AS VARCHAR)), 1, 8) AS shuffle_key
       |FROM sampled WHERE u < rate * 1000000
       |ORDER BY shuffle_key, doc_id""".stripMargin

  // --- 83. token-budget shard packing ------------------------------------
  /** Pack the corpus into fixed token-budget training shards: docs in the
    * deterministic hash-shuffle order, each doc assigned to the shard
    * where its running token total STARTS (start-offset assignment — one
    * pass, no bin-packing heuristics, reproducible). The running total is
    * [[graft.functions.PrefixSum]]: exact long arithmetic, binned
    * two-level scan, no global single-task window — the cumsum sibling of
    * the OrderStats rewrite. Both engines accumulate in the same
    * (numeric md5-prefix, doc_id) order, so the oracle hash pins the
    * exact shard assignment. */
  val ShardTokenBudget = 8192L

  def q83(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.text.Text.bpeTokenCount(col("text")).as("n_tokens"),
        HexKey("ord:", 15, col("doc_id")).as("bkey"))
    graft.functions.PrefixSum
      .withRunningSum(toks, "bkey", Seq("doc_id"), "n_tokens", "cum_tokens")
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
        expr(s"(cum_tokens - n_tokens) div ${ShardTokenBudget}L").as("shard"))
      .orderBy(col("doc_id"))
  }

  lazy val q83Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    ${graft.text.Text.bpeCountSql} AS n_tokens,
       |    CAST(('0x' || substr(md5('ord:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS bkey
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY bkey, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM t)
       |SELECT doc_id, n_tokens, cum_tokens,
       |  CAST((cum_tokens - n_tokens) // $ShardTokenBudget AS BIGINT) AS shard
       |FROM c
       |ORDER BY doc_id""".stripMargin

  // --- 85. benchmark decontamination -------------------------------------
  /** Training-data decontamination: flag corpus documents that share long
    * word n-grams with an evaluation/benchmark set (the GPT-3/Pile-style
    * n-gram overlap check — leaked eval examples inflate benchmark
    * scores). The benchmark side is eval-sized — its distinct
    * 5-shingle set BROADCASTS — so the corpus is never shuffled
    * pre-match: shingle + semi-match map-side, then one map-side-combined
    * per-doc count. Docs with ≥ [[ContamMinShared]] distinct shared
    * 5-grams are contaminated; every matching doc is emitted with its
    * overlap count so the threshold is tunable downstream.
    *
    * The registered entry stands in doc_id % 97 == 0 as the "benchmark"
    * set; production callers pass their own eval table through
    * [[contamination]]. */
  val ContamShingleK = 5
  val ContamMinShared = 3

  def contamination(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    import graft.text.Text
    def sh(df: DataFrame) = df.select(col("doc_id"),
        explode(array_distinct(Text.shingles(Text.tokens(col("text")), ContamShingleK)))
          .as("sh"))
    val benchSh = sh(benchmark).select(col("sh")).distinct()
    sh(corpus).join(broadcast(benchSh), "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id"), col("n_shared"),
        (col("n_shared") >= ContamMinShared).cast("int").as("contaminated"))
      .orderBy(col("doc_id"))
  }

  def q85(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    contamination(docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0))
  }

  lazy val q85Sql: String = {
    val shingle5 = graft.text.Text.shinglesSql("toks", ContamShingleK)
    s"""WITH toks AS (
       |  SELECT doc_id, ${graft.text.Text.toksSql} AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct($shingle5)) AS sh FROM toks),
       |bench AS (
       |  SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0)
       |SELECT s.doc_id, COUNT(*) AS n_shared,
       |  CASE WHEN COUNT(*) >= $ContamMinShared THEN 1 ELSE 0 END AS contaminated
       |FROM sh s JOIN bench USING (sh)
       |WHERE s.doc_id % 97 <> 0
       |GROUP BY s.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  // --- 86. end-to-end training-data build --------------------------------
  /** The full production path in ONE registered op: gate the corpus
    * (q77's language + quality + dedup-keeper selection) → mix the
    * survivors (q82's deterministic per-language sampler + weights) →
    * pack the mixture into token-budget shards (q83's PrefixSum cumsum).
    * Everything inherits the pieces' scale shapes — corpus-linear gates,
    * map-side sampling, the binned two-level cumsum — and the whole
    * chain is hash-replayed by the composed DuckDB oracle, so the exact
    * shard-level training set is pinned end-to-end. */
  /** Gate → mix → pack over any `(doc_id, lang, text)` relation — the
    * selection join is the caller's (q86: raw text; q112: span-cleaned). */
  private def trainBuild(docs: DataFrame): DataFrame = {
    val mixed = mixSampled(docs)
      .select(col("doc_id"), col("lang"), col("weight"),
        graft.text.Text.bpeTokenCount(col("text")).as("n_tokens"),
        HexKey("ord:", 15, col("doc_id")).as("bkey"))
    graft.functions.PrefixSum
      .withRunningSum(mixed, "bkey", Seq("doc_id"), "n_tokens", "cum_tokens")
      .select(col("doc_id"), col("lang"), col("weight"), col("n_tokens"),
        col("cum_tokens"),
        expr(s"(cum_tokens - n_tokens) div ${ShardTokenBudget}L").as("shard"))
      .orderBy(col("doc_id"))
  }

  def q86(s: SparkSession, dir: String): DataFrame = {
    val sel = gateDecisions(s, dir).filter(col("selected") === 1).select(col("doc_id"))
    trainBuild(graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .join(sel, "doc_id"))
  }

  lazy val q86Sql: String =
    s"""WITH RECURSIVE ${DedupOps.q49CcCtesSql},
       |langp AS (SELECT doc_id, pred_lang FROM ($q44Body) _l),
       |qual AS (SELECT doc_id, n_toks, non_alnum_ratio FROM ($q45Body) _q),
       |sel AS (
       |  SELECT l.doc_id FROM langp l
       |  JOIN qual q ON l.doc_id = q.doc_id
       |  JOIN roots r ON l.doc_id = r.doc_id
       |  WHERE pred_lang = 'en' AND n_toks >= 10 AND non_alnum_ratio <= 0.5
       |    AND r.doc_id = r.root),
       |d AS (
       |  SELECT doc_id, lang, text FROM documents JOIN sel USING (doc_id)),
       |sampled AS (
       |  SELECT doc_id, lang, text, $mixRateCaseSql AS rate
       |  FROM d
       |  WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    % 1000000 < $mixRateCaseSql * 1000000),
       |t AS (
       |  SELECT doc_id, lang, round(1.0 / rate, 6) AS weight,
       |    ${graft.text.Text.bpeCountSql} AS n_tokens,
       |    CAST(('0x' || substr(md5('ord:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS bkey
       |  FROM sampled),
       |c AS (
       |  SELECT doc_id, lang, weight, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY bkey, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM t)
       |SELECT doc_id, lang, weight, n_tokens, cum_tokens,
       |  CAST((cum_tokens - n_tokens) // $ShardTokenBudget AS BIGINT) AS shard
       |FROM c
       |ORDER BY doc_id""".stripMargin

  // --- 87. decontamination at eval-suite scale ---------------------------
  /** q85's broadcast set-overlap needs the benchmark shingle table to fit
    * a broadcast; when the eval suite is itself corpus-sized (every
    * benchmark ever published), contamination becomes a cross-relation
    * near-dup problem: MinHash band buckets on BOTH sides, a shuffled
    * equi-join on (band, bucket) — candidates ∝ near-matching pairs, not
    * |corpus|·|bench| — then the exact shared-5-gram verify on candidates
    * only. Catches the dominant contamination mode (a training doc
    * nearly duplicating an eval doc; Jaccard ≳ 0.5 by the banding);
    * diffuse low-overlap leakage stays q85's job. Same hash/perm
    * formulas as q50, so the DuckDB oracle replays end-to-end.
    *
    * Candidate transport is id-only (q50's shape): the (band, bucket)
    * exchange carries (doc_id, band, bucket) — never the shingle
    * arrays, which on this op's premise are eval-suite-corpus-sized ×4
    * bands. The distinct (doc_id, bench_id) pairs checkpoint once
    * (banding is an action; without it the verify joins would rebuild
    * the sketch per side), then each side's shingle relation is pruned
    * to probable candidates — exact broadcast semi-join while the id
    * set broadcasts, bloom past that (fp = extra shuffled rows, never
    * wrong output) — before the candidate-sized verify joins. */
  /** Per-side distinct-5-gram relations, CACHED: each side feeds both
    * the banding (candidates) and the verify re-join — without the
    * cache the tokenize+shingle pipeline would run twice per side. */
  private[graft] def q87Shingles(s: SparkSession, dir: String,
      benchSide: Boolean): DataFrame = {
    import graft.text.Text
    val docs = graft.Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
    val side =
      if (benchSide) docs.filter(col("doc_id") % 11 === 0)
      else docs.filter(col("doc_id") % 11 =!= 0)
    side.select(col("doc_id"),
        array_distinct(Text.shingles(Text.tokens(col("text")), ContamShingleK))
          .as("shs"))
      .filter(size(col("shs")) > 0)
      .cache()
  }

  /** The id-only candidate stage, pre-checkpoint — exposed so the
    * plan-shape spec can assert no array column crosses the (band,
    * bucket) exchange (q87 itself checkpoints this, which hides the
    * exchange behind a LogicalRDD). Corpus-volume sides → codegen'd
    * aggregate banding, not the per-row HOF fold. */
  private[graft] def q87Candidates(s: SparkSession, dir: String): DataFrame = {
    val corpusB = DedupOps.aggBandBuckets(q87Shingles(s, dir, benchSide = false))
    val benchB = DedupOps.aggBandBuckets(q87Shingles(s, dir, benchSide = true))
      .select(col("doc_id").as("bench_id"), col("band"), col("bucket"))
    corpusB.join(benchB, Seq("band", "bucket"))
      .select(col("doc_id"), col("bench_id")).distinct()
  }

  def q87(s: SparkSession, dir: String): DataFrame = {
    val corpusSh = q87Shingles(s, dir, benchSide = false)
    val benchSh = q87Shingles(s, dir, benchSide = true)
    val candCk = graft.CheckpointRegistry.checkpoint(q87Candidates(s, dir))
    def prune(rel: DataFrame, ids: DataFrame): DataFrame = {
      val d = ids.distinct()
      val n = d.count() // reads checkpoint blocks — cheap, sizes the sketch
      if (n <= DedupOps.MaxBroadcastPruneIds)
        rel.join(broadcast(d), col("doc_id") === col("id"), "left_semi")
      else graft.functions.BloomPrune.semiPrune(
        rel, "doc_id", d, "id", expectedItems = math.max(1L, n))
    }
    val verC = prune(corpusSh, candCk.select(col("doc_id").as("id")))
    val verB = prune(benchSh, candCk.select(col("bench_id").as("id")))
      .select(col("doc_id").as("bench_id"), col("shs").as("shs_b"))
    candCk
      .join(verC, "doc_id")
      .join(verB, "bench_id")
      .withColumn("n_shared",
        size(array_intersect(col("shs"), col("shs_b"))).cast("long"))
      .filter(col("n_shared") >= ContamMinShared)
      .select(col("doc_id"), col("bench_id"), col("n_shared"))
      .orderBy(col("doc_id"), col("bench_id"))
  }

  lazy val q87Sql: String = {
    val shingle5 = graft.text.Text.shinglesSql("toks", ContamShingleK)
    s"""WITH d AS (
       |  SELECT doc_id, list_distinct($shingle5) AS shs
       |  FROM (SELECT doc_id, ${graft.text.Text.toksSql} AS toks FROM documents) _t),
       |dnz AS (SELECT * FROM d WHERE len(shs) > 0),
       |sh AS (SELECT doc_id, unnest(shs) AS sh FROM dnz),
       |hashed AS (SELECT doc_id, sh,
       |  CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) % 1073741824 AS h FROM sh),
       |perms(i, a, b) AS (VALUES ${DedupOps.permsValuesSql}),
       |sigs AS (
       |  SELECT doc_id, i, MIN((a * h + b) % ${DedupOps.MinhashP}) AS sig
       |  FROM hashed CROSS JOIN perms GROUP BY doc_id, i),
       |buckets AS (
       |  SELECT doc_id, i // ${DedupOps.BandSize} AS band,
       |    md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i)) AS bucket
       |  FROM sigs GROUP BY doc_id, i // ${DedupOps.BandSize}),
       |cand AS (
       |  SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
       |  FROM buckets c JOIN buckets b
       |    ON c.band = b.band AND c.bucket = b.bucket
       |    AND c.doc_id % 11 <> 0 AND b.doc_id % 11 = 0)
       |SELECT cand.doc_id AS doc_id, bench_id,
       |  len(list_intersect(dc.shs, db.shs)) AS n_shared
       |FROM cand
       |JOIN dnz dc ON cand.doc_id = dc.doc_id
       |JOIN dnz db ON bench_id = db.doc_id
       |WHERE len(list_intersect(dc.shs, db.shs)) >= $ContamMinShared
       |ORDER BY cand.doc_id, bench_id""".stripMargin
  }

  // --- 96. exact per-stratum quota sampling -------------------------------
  /** The fixed-BUDGET companion of q82's fixed-RATE mixing: exactly
    * `QuotaPerStratum` docs per language (all of an undersized stratum),
    * chosen as the prefix of the deterministic md5 order — an unbiased
    * uniform draw that is reproducible run-over-run and engine-portable,
    * the primitive behind "1M docs per source" eval/calibration splits.
    *
    * Scale shape: the `row_number ≤ N` filter over the per-lang window
    * compiles to a map-side WindowGroupLimit (spec-pinned), so each input
    * partition forwards at most N rows per stratum and the final per-lang
    * window task sees ≤ N·partitions rows — the stratum's corpus-scale
    * row count never converges on one task, the same rank-limit pushdown
    * q9/q88 lean on. Strata cardinality (languages/sources) is small by
    * contract; the quota itself bounds all downstream volume. */
  val QuotaPerStratum = 40L

  def q96(s: SparkSession, dir: String): DataFrame = {
    val keyed = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        HexKey("quota:", 15, col("doc_id")).as("skey"))
    keyed
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("skey"), col("doc_id"))))
      .filter(col("rk") <= QuotaPerStratum)
      .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  lazy val q96Sql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id, lang,
       |    CAST(('0x' || substr(md5('quota:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS skey
       |  FROM documents)
       |SELECT doc_id, lang, rk FROM (
       |  SELECT doc_id, lang,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY skey, doc_id) AS rk
       |  FROM keyed) _r
       |WHERE rk <= $QuotaPerStratum
       |ORDER BY lang, rk""".stripMargin

  // --- 104. weighted sampling without replacement (r4) --------------------
  /** Deterministic Efraimidis–Spirakis A-ES weighted sampling: draw
    * [[WrsK]] documents WITHOUT replacement with inclusion probability
    * ∝ weight (here token count + 1 — a compute-per-token training
    * budget spends ∝ length). Per doc: u = deterministic md5-uniform in
    * (0,1), sort key = ln(u)/w (the log of the classic u^(1/w) — same
    * order, one transcendental), take the top K keys. A-ES's guarantee:
    * the top-K-by-key set is EXACTLY a weighted draw without
    * replacement.
    *
    * Scale shape: one corpus-linear projection (hash + ln, no joins, no
    * state), then `orderBy.limit(K)` = TakeOrderedAndProject — per-
    * partition K-heaps, driver merges K·parts rows; the corpus is never
    * globally sorted and nothing corpus-sized shuffles. Determinism is
    * the q90/q96 recipe: 60-bit md5 uniforms reduced mod 10¹⁵ (exact in
    * a double), identical literals/association in both engines,
    * micro-quantized key, doc_id tie-break. */
  val WrsK = 100

  def q104(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), (size(col("toks")).cast("long") + 1L).as("w"))
    d.withColumn("hm",
        HexKey("wrs:", 15, col("doc_id")) % 1000000000000000L)
      .withColumn("km",
        round((log((col("hm") + lit(0.5)) / lit(1.0e15)) / col("w")) *
          lit(1000000L), 0).cast("long"))
      .select(col("doc_id"), col("w"), (col("km") / 1000000.0).as("skey"))
      .orderBy(col("km").desc, col("doc_id"))
      .limit(WrsK)
  }

  lazy val q104Sql: String =
    s"""WITH d AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) + 1 AS w FROM documents),
       |keyed AS (
       |  SELECT doc_id, w,
       |    CAST(('0x' || substr(md5('wrs:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |      % 1000000000000000 AS hm
       |  FROM d),
       |scored AS (
       |  SELECT doc_id, w,
       |    CAST(round((ln((hm + 0.5) / 1e15) / w) * 1000000, 0) AS BIGINT) AS km
       |  FROM keyed)
       |SELECT doc_id, w, km / 1000000.0 AS skey
       |FROM scored
       |ORDER BY km DESC, doc_id
       |LIMIT $WrsK""".stripMargin

  // --- 112. span-cleaned training build (r5) -------------------------------
  /** q86's gate → mix → pack with q107's span cleaning FUSED between
    * selection and packing: duplicated spans are cut from each selected
    * doc before its token count enters the shard cumsum — the "clean
    * then pack" order a contamination-aware corpus build actually
    * wants (q98's doc promises the coordinates; q107 emits the cleaned
    * stream; this op makes the training set consume it). Gates stay on
    * the ORIGINAL text (selection must not depend on what cleaning
    * removes); only token counts / shard packing see the cleaned
    * stream. Plan = q86's shapes + one extra doc_id equi-join of the
    * cleaned relation; the span pipeline is corpus-linear (q98). */
  def q112(s: SparkSession, dir: String): DataFrame = {
    val sel = gateDecisions(s, dir).filter(col("selected") === 1).select(col("doc_id"))
    val cleaned = DedupOps.cleanedDocs(s, dir)
      .select(col("doc_id"), concat_ws(" ", col("cleaned")).as("text"))
    trainBuild(graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"))
      .join(sel, "doc_id")
      .join(cleaned, "doc_id"))
  }

  lazy val q112Sql: String =
    s"""WITH RECURSIVE ${DedupOps.q49CcCtesSql},
       |${DedupOps.dupSpanCtesSql(DedupOps.DupSpanK)},
       |${DedupOps.spanCleanCtesSql},
       |langp AS (SELECT doc_id, pred_lang FROM ($q44Body) _l),
       |qual AS (SELECT doc_id, n_toks, non_alnum_ratio FROM ($q45Body) _q),
       |sel AS (
       |  SELECT l.doc_id FROM langp l
       |  JOIN qual q ON l.doc_id = q.doc_id
       |  JOIN roots r ON l.doc_id = r.doc_id
       |  WHERE pred_lang = 'en' AND n_toks >= 10 AND non_alnum_ratio <= 0.5
       |    AND r.doc_id = r.root),
       |dsel AS (
       |  SELECT doc_id, lang, COALESCE(a.cleaned_text, '') AS text
       |  FROM documents JOIN sel USING (doc_id) LEFT JOIN agg a USING (doc_id)),
       |sampled AS (
       |  SELECT doc_id, lang, text, $mixRateCaseSql AS rate
       |  FROM dsel
       |  WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    % 1000000 < $mixRateCaseSql * 1000000),
       |t AS (
       |  SELECT doc_id, lang, round(1.0 / rate, 6) AS weight,
       |    ${graft.text.Text.bpeCountSql} AS n_tokens,
       |    CAST(('0x' || substr(md5('ord:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS bkey
       |  FROM sampled),
       |c AS (
       |  SELECT doc_id, lang, weight, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY bkey, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM t)
       |SELECT doc_id, lang, weight, n_tokens, cum_tokens,
       |  CAST((cum_tokens - n_tokens) // $ShardTokenBudget AS BIGINT) AS shard
       |FROM c
       |ORDER BY doc_id""".stripMargin

  // --- 114. post-cleaning mix rebalance (r5) -------------------------------
  /** Span cleaning (q112) removes tokens ASYMMETRICALLY — boilerplate-
    * heavy sources/languages shrink more — so the realized token
    * mixture drifts from the q82-configured target. This op measures
    * the drift over the ACTUAL q112 population (q77-selected docs;
    * gates judge original text) and emits the corrected per-language
    * sampling rate that restores the configured token proportions:
    * rate_adj = min(1, rate · raw_tokens/clean_tokens) — the upweight
    * exactly cancels each language's cleaning shrinkage (capped at
    * sampling everything).
    *
    * Exactness: token masses are exact int64 sums; rates are eighths
    * (the [[MixRates]] lattice), so rate·raw/clean is computed as ONE
    * half-away division in micros ([[graft.functions.Num]]) — no double
    * product, both engines see identical values. The micros numerator
    * eighths·raw·10⁶ is formed on DECIMAL(38,0) ([[graft.functions.Num.idivHalfAwayBig]]),
    * exact past the int64 bound — safe to ~10³¹ tokens per language,
    * i.e. the arithmetic now out-ranges any storable corpus (the int64
    * form died at ~10¹², below the 100 TB ≈ 2.5×10¹³-token design
    * point). The capped result ≤ 10⁶ is cast back to long, so the
    * schema and every test-SF hash are unchanged; MixDecimalSpec pins
    * ≥10¹³-token masses against a BigInt driver replay.
    *
    * Scale shape: q112's own relations (span pipeline corpus-linear,
    * selection joins id-sized) + one ≤|languages| aggregate. */
  /** Doc-level raw/cleaned token masses over the q112 population —
    * (doc_id, lang, rt, ct); shared by q114 (per-lang aggregate) and
    * q116 (re-sampling membership). */
  /** [[q114Docs]] through the [[graft.Standing]] memo — the
    * consumers (q116/q118/q123) share one materialization with a real
    * release lifecycle; q114 itself builds fresh so its bench entry
    * times the actual span pipeline (the q50/q70 convention). */
  private def q114DocsShared(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("q114docs", dir)(q114Docs(s, dir))

  private def q114Docs(s: SparkSession, dir: String): DataFrame = {
    // the exact-dedup gate chain and the span set cleanedDocs cuts with
    // are independent standing inputs: they build side by side
    val gate = graft.Standing.inputs(s)(
      () => gateDecisions(s, dir), () => DedupOps.dupSpans8(s, dir)).head
    val sel = gate.filter(col("selected") === 1).select(col("doc_id"))
    val cleaned = DedupOps.cleanedDocs(s, dir)
      .select(col("doc_id"), concat_ws(" ", col("cleaned")).as("ctext"))
    graft.Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text"))
      .join(sel, "doc_id")
      .join(cleaned, "doc_id")
      .select(col("doc_id"), col("lang"),
        graft.text.Text.bpeTokenCount(col("text")).as("rt"),
        graft.text.Text.bpeTokenCount(col("ctext")).as("ct"))
  }

  private def eighthsCol = MixRates.foldLeft(lit((MixDefaultRate * 8).toLong)) {
    case (acc, (l, r)) => when(col("lang") === l, lit((r * 8).toLong)).otherwise(acc) }

  /** Per-lang masses + the corrected rate as INTEGER MICROS —
    * (lang, n_docs, raw_tokens, clean_tokens, eighths, rate_micros);
    * the micros never round-trip through a double, so q116's sampling
    * predicate compares exact int64 on both engines. */
  private def q114Policy(s: SparkSession, dir: String): DataFrame =
    q114PolicyOf(q114Docs(s, dir))

  private[graft] def q114PolicyOf(docs: DataFrame): DataFrame = {
    import graft.functions.Num
    docs
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("rt")).as("raw_tokens"),
        sum(col("ct")).as("clean_tokens"))
      .withColumn("eighths", eighthsCol)
      .withColumn("rate_micros",
        when(col("clean_tokens") === 0, lit(1000000L))
          // eighths·raw·10⁶ on DECIMAL(38,0): the uncapped quotient can
          // itself exceed int64 (clean ≪ raw), so the cap is taken in
          // decimal and only the ≤10⁶ result is narrowed back to long.
          .otherwise(least(lit(1000000L).cast(Num.Big),
            Num.idivHalfAwayBig(Num.big(col("eighths")) * col("raw_tokens") * lit(1000000L),
              lit(8L) * col("clean_tokens"))).cast("long")))
  }

  def q114(s: SparkSession, dir: String): DataFrame =
    q114Policy(s, dir)
      .select(col("lang"), col("n_docs"), col("raw_tokens"),
        col("clean_tokens"), (col("eighths") / lit(8.0)).as("rate"),
        (col("rate_micros") / 1000000.0).as("rate_adj"))
      .orderBy(col("lang"))

  /** CTE chain through the micros policy — `t`(doc_id, lang, rt, ct) and
    * `policy`(lang, …, rate_micros); shared by q114 and q116. */
  private[operators] lazy val q114CtesSql: String = {
    val eighthsSql = "CASE lang " +
      MixRates.map { case (l, r) => s"WHEN '$l' THEN ${(r * 8).toLong}" }
        .mkString(" ") + s" ELSE ${(MixDefaultRate * 8).toLong} END"
    // the ONE BpeTokenRegex definition, over the cleaned-text column
    // (r14 — this was an inline copy; routing through Text.bpeCountSqlOf
    // makes the q46/q83/q114 class set structurally undivergeable)
    val bpeCt = graft.text.Text.bpeCountSqlOf("ctext")
    s"""WITH RECURSIVE ${DedupOps.q49CcCtesSql},
       |${DedupOps.dupSpanCtesSql(DedupOps.DupSpanK)},
       |${DedupOps.spanCleanCtesSql},
       |langp AS (SELECT doc_id, pred_lang FROM ($q44Body) _l),
       |qual AS (SELECT doc_id, n_toks, non_alnum_ratio FROM ($q45Body) _q),
       |sel AS (
       |  SELECT l.doc_id FROM langp l
       |  JOIN qual q ON l.doc_id = q.doc_id
       |  JOIN roots r ON l.doc_id = r.doc_id
       |  WHERE pred_lang = 'en' AND n_toks >= 10 AND non_alnum_ratio <= 0.5
       |    AND r.doc_id = r.root),
       |dsel AS (
       |  SELECT doc_id, lang, text, COALESCE(a.cleaned_text, '') AS ctext
       |  FROM documents JOIN sel USING (doc_id) LEFT JOIN agg a USING (doc_id)),
       |t AS (
       |  SELECT doc_id, lang, ${graft.text.Text.bpeCountSql} AS rt, $bpeCt AS ct
       |  FROM dsel),
       |g AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |    CAST(SUM(rt) AS BIGINT) AS raw_tokens,
       |    CAST(SUM(ct) AS BIGINT) AS clean_tokens,
       |    $eighthsSql AS eighths
       |  FROM t GROUP BY lang),
       |policy AS (
       |  SELECT lang, n_docs, raw_tokens, clean_tokens, eighths,
       |    CASE WHEN clean_tokens = 0 THEN 1000000
       |      ELSE least(1000000, ${graft.functions.Num.idivHalfAwaySql(
                "eighths * raw_tokens * 1000000", "8 * clean_tokens")})
       |    END AS rate_micros
       |  FROM g)""".stripMargin
  }

  lazy val q114Sql: String =
    s"""$q114CtesSql
       |SELECT lang, n_docs, raw_tokens, clean_tokens,
       |  eighths / 8.0 AS rate,
       |  rate_micros / 1000000.0 AS rate_adj
       |FROM policy
       |ORDER BY lang""".stripMargin

  // --- 116. feedback-corrected mixture sampling (r5) -----------------------
  /** The q114 loop CLOSED: re-sample the cleaned corpus with the
    * corrected rates as a POLICY TABLE (rates are data, not code — the
    * q110 pattern for the mixing knob; swapping policies is a data
    * change, no redeploy). Membership is the same deterministic
    * md5-micros draw as q82, compared against each language's
    * rate_micros — exact int64 on both engines, so the realized sample
    * is the q82 sample PLUS exactly the extra mass the upweight admits
    * (q112's membership is provably a subset, spec-pinned). Weight =
    * 1/rate as one half-away micros division. Per-doc output carries
    * the CLEANED token count — the mass the corrected mixture actually
    * trains on.
    *
    * Scale shape: the policy is ≤|languages| rows (broadcast); sampling
    * stays a corpus-linear map + filter; everything upstream is q112's
    * own relations. */
  def q116(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Num
    // one span-pipeline build feeds both the policy aggregate and the
    // sampling join — and q116/q118/q123 all start from the same
    // relation (4 scalars per population doc), so it lives in the
    // Standing relation memo: one materialization per (relation, dir),
    // released at the family boundary / by a library caller's clear()
    // instead of leaking per-invocation caches (r5 ADVICE)
    val docs = q114DocsShared(s, dir)
    val policy = q114PolicyOf(docs).select(col("lang"), col("rate_micros"))
    docs
      .join(broadcast(policy), Seq("lang"))
      .withColumn("u", mixU)
      .filter(col("u") < col("rate_micros"))
      .select(col("doc_id"), col("lang"),
        Num.ratio6(lit(1000000L), col("rate_micros")).as("weight"),
        col("ct").as("n_tokens_clean"))
      .orderBy(col("doc_id"))
  }

  lazy val q116Sql: String =
    s"""$q114CtesSql
       |SELECT t.doc_id, t.lang,
       |  ${graft.functions.Num.ratio6Sql("CAST(1000000 AS BIGINT)", "p.rate_micros")} AS weight,
       |  t.ct AS n_tokens_clean
       |FROM t JOIN policy p USING (lang)
       |WHERE CAST(('0x' || substr(md5('mix:' || CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |  % 1000000 < p.rate_micros
       |ORDER BY t.doc_id""".stripMargin

  // --- 118. corrected training build (r5 capstone) -------------------------
  /** The shippable artifact: quality/lang/dedup gates on ORIGINAL text
    * (q77) → duplicated spans cut (q107) → mixture re-sampled at the
    * feedback-CORRECTED rates (q116's policy, so the cleaned token
    * proportions hit the q82 target) → packed into fixed-budget shards
    * by exact running cumsum over the CLEANED counts. q112 is this
    * build at the uncorrected rates; q118 is what the pipeline ships
    * after q114 measures the drift. Everything upstream is shared
    * relations; the pack is [[graft.functions.PrefixSum]] (binned
    * two-level cumsum — no global single-task window). */
  /** Sample the population docs at `policy`(lang, rate_micros) and pack
    * into fixed-budget shards — the shared build tail of [[q118]] and
    * [[q123]] (draw, weight rule, bkey, PrefixSum cumsum, shard
    * formula live HERE once; the builds differ only in the policy
    * table). */
  private def buildAt(docs: DataFrame, policy: DataFrame): DataFrame = {
    import graft.functions.Num
    val sampled = docs
      .join(broadcast(policy), Seq("lang"))
      .withColumn("u", mixU)
      .filter(col("u") < col("rate_micros"))
      .select(col("doc_id"), col("lang"),
        Num.ratio6(lit(1000000L), col("rate_micros")).as("weight"),
        col("ct").as("n_tokens"),
        HexKey("ord:", 15, col("doc_id")).as("bkey"))
    graft.functions.PrefixSum
      .withRunningSum(sampled, "bkey", Seq("doc_id"), "n_tokens", "cum_tokens")
      .select(col("doc_id"), col("lang"), col("weight"), col("n_tokens"),
        col("cum_tokens"),
        expr(s"(cum_tokens - n_tokens) div ${ShardTokenBudget}L").as("shard"))
      .orderBy(col("doc_id"))
  }

  /** SQL form of [[buildAt]], appended to a CTE chain whose
    * `policyCte` exposes (lang, rate_micros) and `t` the doc masses. */
  private def buildAtSql(policyCte: String): String =
    s""",
       |sampled AS (
       |  SELECT t.doc_id, t.lang,
       |    ${graft.functions.Num.ratio6Sql("CAST(1000000 AS BIGINT)", "p.rate_micros")} AS weight,
       |    t.ct AS n_tokens,
       |    CAST(('0x' || substr(md5('ord:' || CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS bkey
       |  FROM t JOIN $policyCte p USING (lang)
       |  WHERE CAST(('0x' || substr(md5('mix:' || CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    % 1000000 < p.rate_micros),
       |c AS (
       |  SELECT doc_id, lang, weight, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY bkey, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM sampled)
       |SELECT doc_id, lang, weight, n_tokens, cum_tokens,
       |  CAST((cum_tokens - n_tokens) // $ShardTokenBudget AS BIGINT) AS shard
       |FROM c
       |ORDER BY doc_id""".stripMargin

  def q118(s: SparkSession, dir: String): DataFrame = {
    val docs = q114DocsShared(s, dir) // policy aggregate + sampling join
    buildAt(docs, q114PolicyOf(docs).select(col("lang"), col("rate_micros")))
  }

  lazy val q118Sql: String = q114CtesSql + buildAtSql("policy")

  // --- 120. mixture-rate FIXPOINT: capped water-filling (r5) ---------------
  /** q114's correction closed over LANGUAGES, not just within one: when
    * a language cannot supply its target clean-token mass even at
    * rate 1 (q114's cap), sampling at the capped rates DRIFTS the
    * realized mixture — the capped language under-delivers while the
    * others still deliver in full. The fix is a total-mass fixpoint
    * (water-filling under caps): shrink the total training mass T until
    * every language can supply its target SHARE of T, i.e. iterate
    *   T ← Σ_l min(clean_l, share_l · T)
    * from T₀ = Σ clean. The map is monotone and the sequence
    * non-increasing, so it converges geometrically; [[MixFixpointRounds]]
    * fixed rounds make both engines bit-identical (the spec pins that
    * one more round is a no-op at test SF — the fixpoint is REACHED,
    * not approximated). All arithmetic is integer micros (half-away
    * division, the q114 rule), shares from the q82 target masses
    * eighths·raw.
    *
    * Scale shape: everything upstream is q112's shared relations; the
    * fixpoint runs on the ≤|languages| aggregate — per iteration ONE
    * scalar (the new T) leaves the cluster, eight times. Per-lang math
    * stays a DataFrame; nothing driver-sized beyond the catalog-bounded
    * language table. Token-mass-scaled products (tw·10⁶, share·T,
    * alloc·10⁶) run on DECIMAL(38,0) — same as q114 — so the fixpoint
    * is exact far past the 100 TB design point; the masses themselves
    * (tws ≤ 8·Σtokens, T ≤ Σtokens) stay comfortably int64. */
  val MixFixpointRounds = 8

  /** Water-filled per-lang relation (lang, n_docs, raw_tokens,
    * clean_tokens, share_micros, rate_micros, alloc_tokens) from the
    * q114 per-lang aggregate — unordered; shared by q120 (readout) and
    * q123 (the build that samples at these rates). */
  private[graft] def q120PolicyOf(g0: DataFrame): DataFrame = {
    // ONE collect of the ≤|languages| aggregate — catalog-bounded by the
    // operator's own contract — then the 8-round fixpoint folds
    // driver-side in exact BigInt (bit-identical to the DECIMAL(38,0)
    // lattice: both are exact integer half-away arithmetic, the regime
    // MixDecimalSpec pins at ≥10¹³-token masses). The previous form paid
    // one cluster job PER ROUND to move a single scalar (r7 — the q126
    // treatment; 8 scheduler round-trips over 5 rows was the op's
    // entire cost at test SF).
    val s = g0.sparkSession
    import s.implicits._
    val M = BigInt(1000000L)
    def halfAway(p: BigInt, q: BigInt): BigInt =
      if (p >= 0) (p * 2 + q) / (q * 2) else -(((-p) * 2 + q) / (q * 2))
    val rows = g0
      .select(col("lang"), col("n_docs"), col("raw_tokens"),
        col("clean_tokens"), col("eighths"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val tw = rows.map { case (_, _, raw, _, e) => BigInt(e) * BigInt(raw) }
    val tws = tw.sum
    // tws == 0 (every lang's eighths·raw mass is zero but groups exist)
    // would divide by zero below; the defined degenerate policy is zero
    // shares → zero allocs (rate falls out of the existing cl==0 rule)
    val share = if (tws == 0) tw.map(_ => BigInt(0))
                else tw.map(w => halfAway(w * M, tws))
    val clean = rows.map(r => BigInt(r._4))
    def alloc(i: Int, t: BigInt): BigInt = clean(i).min(halfAway(share(i) * t, M))
    var t = clean.sum
    for (_ <- 1 to MixFixpointRounds)
      t = rows.indices.map(alloc(_, t)).sum
    val tF = t
    rows.indices.map { i =>
      val (lang, nDocs, raw, cl, _) = rows(i)
      val a = alloc(i, tF)
      val rate = if (cl == 0) 1000000L
        else M.min(halfAway(a * M, BigInt(cl))).toLong
      (lang, nDocs, raw, cl, share(i).toLong, rate, a.toLong)
    }.toSeq.toDF("lang", "n_docs", "raw_tokens", "clean_tokens",
      "share_micros", "rate_micros", "alloc_tokens")
  }

  def q120(s: SparkSession, dir: String): DataFrame =
    // Standing relation memo like the other q114-policy consumers
    // (q116/q118/q123): q114's own entry times the span pipeline; q120
    // measures what it adds — the water-filling fixpoint
    q120PolicyOf(q114PolicyOf(q114DocsShared(s, dir))).orderBy(col("lang"))

  /** CTE chain ending in `fxp`(lang, n_docs, raw_tokens, clean_tokens,
    * share_micros, rate_micros, alloc_tokens); shared by q120/q123. */
  private[operators] lazy val q120CtesSql: String = {
    val allocSql = (tRef: String) => "LEAST(clean_tokens, " +
      graft.functions.Num.idivHalfAwaySql(s"share_micros * $tRef", "1000000") + ")"
    // every fxtᵢ is referenced ≥2× downstream and DuckDB inlines plain
    // CTEs per reference — without MATERIALIZED the whole upstream
    // pipeline re-expands 2^rounds times. All names fx-prefixed: the
    // q114 chain already defines `sh`/`kept`/`d`, and under the one
    // WITH RECURSIVE scope a duplicate name rebinds earlier consumers.
    val iters = (1 to MixFixpointRounds).map { i =>
      s"fxt$i AS MATERIALIZED (SELECT CAST(SUM(${allocSql(s"(SELECT t FROM fxt${i - 1})")}) AS BIGINT) AS t FROM fxsh)"
    }.mkString(",\n")
    s"""$q114CtesSql,
       |fxw AS (SELECT lang, n_docs, raw_tokens, clean_tokens,
       |    eighths * raw_tokens AS tw FROM g),
       |fxtot AS MATERIALIZED (SELECT CAST(SUM(tw) AS BIGINT) AS tws FROM fxw),
       |fxsh AS MATERIALIZED (SELECT fxw.*, ${graft.functions.Num.idivHalfAwaySql(
              "tw * 1000000", "(SELECT tws FROM fxtot)")} AS share_micros FROM fxw),
       |fxt0 AS MATERIALIZED (SELECT CAST(SUM(clean_tokens) AS BIGINT) AS t FROM fxsh),
       |$iters,
       |fxp AS MATERIALIZED (
       |  SELECT lang, n_docs, raw_tokens, clean_tokens, share_micros,
       |    CASE WHEN clean_tokens = 0 THEN 1000000
       |      ELSE LEAST(1000000, ${graft.functions.Num.idivHalfAwaySql(
                s"${allocSql(s"(SELECT t FROM fxt$MixFixpointRounds)")} * 1000000",
                "clean_tokens")})
       |    END AS rate_micros,
       |    CAST(${allocSql(s"(SELECT t FROM fxt$MixFixpointRounds)")} AS BIGINT) AS alloc_tokens
       |  FROM fxsh)""".stripMargin
  }

  lazy val q120Sql: String =
    s"""$q120CtesSql
       |SELECT lang, n_docs, raw_tokens, clean_tokens, share_micros,
       |  rate_micros, alloc_tokens
       |FROM fxp
       |ORDER BY lang""".stripMargin

  // --- 123. fixpoint-corrected training build (r5) -------------------------
  /** q118 with the cross-language correction applied: sample the
    * cleaned corpus at q120's water-filled rate_micros (the rates that
    * PRESERVE the target mixture when some language caps), then pack
    * into fixed-budget shards by exact cumsum over cleaned counts —
    * same membership draw, weight rule, and PrefixSum pack as
    * q116/q118, only the policy table differs (rates are data; the
    * q110 pattern). q112 → q118 → q123 is uncorrected → per-language
    * corrected → mixture-preserving. Scale shape: q118's exactly (the
    * fixpoint adds [[MixFixpointRounds]] scalar reads over the
    * ≤\|languages\| aggregate). */
  def q123(s: SparkSession, dir: String): DataFrame = {
    val docs = q114DocsShared(s, dir) // policy aggregate + sampling join
    buildAt(docs, q120PolicyOf(q114PolicyOf(docs))
      .select(col("lang"), col("rate_micros")))
  }

  lazy val q123Sql: String = q120CtesSql + buildAtSql("fxp")

  // --- 152. subword-budget shard packing (r9 VERDICT #1) --------------------
  /** [[q123]]'s mixture-preserving build packed by the TRAINED
    * tokenizer's units: every pretraining run budgets shards in
    * TOKENIZER units, not whitespace tokens — now that the engine
    * learns its own merge table (q144) and segments the corpus with it
    * (q151), the shippable build's packing mass switches to per-doc
    * subword unit counts ([[BpeOps.docUnits]]). Membership (which docs
    * the mixture samples) is IDENTICAL to q123 by construction — the
    * draw depends only on doc_id and the fixpoint rates; only the
    * packing mass and budget change (PipelineSpec pins both).
    *
    * Scale shape: q123's plans + ONE extra thin join — the per-doc unit
    * relation (doc_id, n_units: one int64 per doc) rides a doc_id-keyed
    * shuffle into the sampled set, and its unit counts come from the
    * tokenizer family's ONE shared training run (the q151 mapping join;
    * zero extra corpus passes). LEFT join + COALESCE 0: a sampled doc
    * none of whose tokens appear in the tokenizer's corpus snapshot
    * packs at zero mass instead of silently dropping from the build. */
  val ShardUnitBudget = 8192L

  /** The PACK LAW, one definition for every unit-budgeted pack (q152's
    * docs, the three [[Lineage]] builds, q206, the arrival model and the
    * serve fold): `rows` (each carrying its `n_units` mass) ordered by
    * the md5 order key `orderPrefix` over `keys` with `keys` as the
    * tiebreak, `cum_units` = the inclusive PrefixSum running unit total
    * in that order plus `base` (the unit offset a continuation enters
    * at; a build starts at 0), and `shard` = the START-offset rule under
    * [[ShardUnitBudget]]. Emits `rows`' columns + (cum_units, shard).
    * Every order key is a 15-hex-digit md5 key below 2⁶⁰, so the
    * PrefixSum span is static (no range-probe job). */
  private[graft] def packAt(rows: DataFrame, orderPrefix: String,
      keys: Seq[String], base: Option[Long] = None): DataFrame = {
    val cum = if (base.isEmpty) "cum_units" else "__cum"
    val summed = graft.functions.PrefixSum
      .withRunningSum(
        rows.withColumn("bkey", HexKey(orderPrefix, 15, keys.map(col): _*)),
        "bkey", keys, "n_units", cum, span = Some((0L, 1L << 60)))
    base.fold(summed)(b => summed.withColumn("cum_units", col(cum) + b))
      .select(rows.columns.map(col) :+ col("cum_units") :+
        expr(s"(cum_units - n_units) div ${ShardUnitBudget}L").as("shard"): _*)
  }

  /** The subword-packed build, memoized per (family run, dir) — THREE
    * consumers read it (q152's registered readout, q155's manifest,
    * q158's sampled membership), and before the memo q155 re-ran the
    * whole q152 plan (r10 VERDICT #7: manifest-after-pack should be a
    * readout). The tfidf_feats treatment: one build per family run,
    * every consumer gets the same materialized relation. */
  private def packedBuild(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("subword_pack", dir)(
      packedBuildPlan(s, dir))

  /** The UNMEMOIZED pack plan — what the memo materializes once per
    * family run. Exposed so ScalePlanSpec pins the window discipline on
    * the plan that actually executes at build time (the memo readout
    * the registered entries return is a checkpointed LogicalRDD with no
    * windows to inspect). */
  private[graft] def packedBuildPlan(s: SparkSession, dir: String): DataFrame = {
      import graft.functions.Num
      val Seq(docs, units) = graft.Standing.inputs(s)(
        () => q114DocsShared(s, dir), () => BpeOps.docUnits(s, dir))
      val policy = q120PolicyOf(q114PolicyOf(docs))
        .select(col("lang"), col("rate_micros"))
      val sampled = docs
        .join(broadcast(policy), Seq("lang"))
        .withColumn("u", mixU)
        .filter(col("u") < col("rate_micros"))
        .join(units, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          Num.ratio6(lit(1000000L), col("rate_micros")).as("weight"),
          coalesce(col("n_units"), lit(0L)).as("n_units"))
      packAt(sampled, "ord:", Seq("doc_id"))
    }

  def q152(s: SparkSession, dir: String): DataFrame =
    packedBuild(s, dir).orderBy(col("doc_id"))

  /** FULL oracle: the q120 fixpoint chain + the q144 training chain
    * spliced into one `WITH RECURSIVE` scope (disjoint CTE names — see
    * [[BpeOps.chainCtesSql]]), then the pack tail with `bpeun`'s unit
    * totals as the mass. */
  lazy val q152Sql: String = {
    import graft.functions.Num
    s"""$q120CtesSql,
       |${BpeOps.chainCtesSql},
       |${BpeOps.docUnitsCtesSql},
       |sampled AS (
       |  SELECT t.doc_id, t.lang,
       |    ${Num.ratio6Sql("CAST(1000000 AS BIGINT)", "p.rate_micros")} AS weight,
       |    COALESCE(u.n_units, CAST(0 AS BIGINT)) AS n_units,
       |    CAST(('0x' || substr(md5('ord:' || CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS bkey
       |  FROM t JOIN fxp p USING (lang) LEFT JOIN bpeun u ON t.doc_id = u.doc_id
       |  WHERE CAST(('0x' || substr(md5('mix:' || CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    % 1000000 < p.rate_micros),
       |c AS (
       |  SELECT doc_id, lang, weight, n_units,
       |    CAST(SUM(n_units) OVER (ORDER BY bkey, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_units
       |  FROM sampled)
       |SELECT doc_id, lang, weight, n_units, cum_units,
       |  CAST((cum_units - n_units) // $ShardUnitBudget AS BIGINT) AS shard
       |FROM c
       |ORDER BY doc_id""".stripMargin
  }

  // --- 158. sequence-level shard packing (r10 VERDICT #1) -------------------
  /** The capstone a pretraining LOADER actually consumes: [[q152]] packs
    * whole DOCS under the unit budget and q157 cuts docs into
    * fixed-budget context CHUNKS — this op packs the CHUNKS (sequences).
    * Membership is [[q152]]'s mixture-sampled set BY CONSTRUCTION (the
    * sampled (doc_id, lang) pairs are read from the family's one
    * memoized packed build), each member doc's chunk MASSES come from
    * the thin memo ([[BpeOps.chunkMasses]] — three int64s per chunk;
    * the text-bearing relation deliberately stays unmemoized, q157
    * re-derives it), and the pack tail is q152's verbatim at chunk
    * granularity: one
    * exact PrefixSum over `n_units` ordered by the md5 bkey rule on
    * (doc, chunk), shard = the START-offset rule under
    * [[ShardUnitBudget]]. Every chunk's units are ≤ChunkUnitBudget +
    * (one token's units − 1) < ShardUnitBudget, so shard masses stay
    * budget-bounded (PipelineSpec pins both), and a doc reassembles
    * losslessly across shards by (doc_id, chunk_id) order.
    *
    * Scale shape: two memo readouts + ONE chunk-keyed thin join (the
    * chunk masses are three int64s per chunk — the text stays in the
    * chunk relation) + the [[graft.functions.PrefixSum]] two-level scan
    * (never a global window). A doc whose tokens all miss the tokenizer
    * snapshot has no chunks and packs nothing — the q152 build carries
    * it at zero mass; the loader-facing sequence stream is chunks only. */
  def q158(s: SparkSession, dir: String): DataFrame =
    sequencePack(s, dir).orderBy(col("doc_id"), col("chunk_id"))

  /** The packed sequence build, memoized per (family run, dir) — q158's
    * registered readout and q159's manifest both consume it (the
    * [[packedBuild]] treatment, one level up the granularity ladder). */
  private def sequencePack(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("sequence_pack", dir)(
      sequencePackPlan(s, dir))

  /** The unmemoized sequence-pack plan (the [[packedBuildPlan]] rule —
    * ScalePlanSpec pins the window discipline here). */
  private[graft] def sequencePackPlan(s: SparkSession, dir: String): DataFrame = {
      val Seq(packed, chunks) = graft.Standing.inputs(s)(
        () => packedBuild(s, dir), () => BpeOps.chunkMasses(s, dir))
      val members = packed.select(col("doc_id"), col("lang"))
      packAt(members.join(chunks, Seq("doc_id")), Lineage.Pack.orderPrefix,
          Lineage.Pack.keys)
        .select(Lineage.Pack.columns.map(col): _*)
    }

  /** The q158 pack TAIL as spliceable CTEs over the chain scope
    * (`t`/`fxp`/`chunks` must be in scope), ending in `pkfin(doc_id,
    * chunk_id, lang, n_tokens, n_units, cum_units, shard)` (pkt-fresh
    * names: several oracles alias their own `pk`/`sseq` around a nested
    * `($q158Sql)`, and DuckDB rejects outer/nested alias collisions) — factored
    * out (r15) so [[q200Sql]] can read the gen-N pack from the SAME
    * CTE scope it derives arrivals in: DuckDB rejects re-splicing the
    * chain CTE names inside a nested `($q158Sql)` subquery of a scope
    * that already carries them ("Duplicate alias"), and duplicating
    * the tail text would let the two drift. */
  private lazy val packTailCtesSql: String =
    s"""pkseq AS (
       |  SELECT t.doc_id, t.lang, c.chunk_id, c.n_tokens, c.n_units,
       |    CAST(('0x' || substr(md5('ord:' || CAST(t.doc_id AS VARCHAR) || ':' ||
       |      CAST(c.chunk_id AS VARCHAR)), 1, 15)) AS BIGINT) AS bkey
       |  FROM t JOIN fxp p USING (lang)
       |  JOIN chunks c ON t.doc_id = c.doc_id
       |  WHERE CAST(('0x' || substr(md5('mix:' || CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    % 1000000 < p.rate_micros),
       |pkcum AS (
       |  SELECT doc_id, chunk_id, lang, n_tokens, n_units,
       |    CAST(SUM(n_units) OVER (ORDER BY bkey, doc_id, chunk_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_units
       |  FROM pkseq),
       |pkfin AS (
       |  SELECT doc_id, chunk_id, lang, n_tokens, n_units, cum_units,
       |    CAST((cum_units - n_units) // $ShardUnitBudget AS BIGINT) AS shard
       |  FROM pkcum)""".stripMargin

  /** FULL oracle: the q120 fixpoint chain + the q144 training chain +
    * the chunk CTEs ([[BpeOps.chunkCtesSql]]) spliced into one
    * `WITH RECURSIVE` scope, then the pack tail over (doc, chunk) rows
    * — the q152Sql composition, one granularity down. */
  lazy val q158Sql: String =
    s"""$q120CtesSql,
       |${BpeOps.chainCtesSql},
       |${BpeOps.chunkCtesSql},
       |$packTailCtesSql
       |SELECT doc_id, chunk_id, lang, n_tokens, n_units, cum_units, shard
       |FROM pkfin
       |ORDER BY doc_id, chunk_id""".stripMargin

  // --- 162. deterministic per-epoch sequence ordering (r11 VERDICT #2) -----
  /** The last loader piece: [[q158]] emits the training sequences in ONE
    * fixed global bkey order, but a pretraining loader consumes a
    * DIFFERENT deterministic permutation per epoch — the seeded shuffle
    * every data-loader implements. One rank per epoch over the
    * `sequence_pack` memo: okey = md5("ep:[[EpochSeed]]:epoch:doc:chunk")
    * (the engine's portable draw), rank = PrefixSum running count —
    * membership is q158's BY CONSTRUCTION (the same memoized relation,
    * replicated across [[Epochs]]), and epoch 0's permutation shares
    * nothing with epoch 1's beyond the seed rule (PipelineSpec pins
    * permutation-not-identity and exact membership).
    *
    * Scale shape: epochs are consumed one at a time by a loader, but
    * ALL epochs rank in ONE [[graft.functions.PrefixSum]] two-level
    * binned scan (running sum of ones — a distributed ROW_NUMBER with
    * no global window) via [[rankEpochsFolded]]'s epoch-major key fold
    * (r14 VERDICT #6 — one scan over the [[Epochs]]×pack union instead
    * of a 3-job scan wave per epoch). FULL oracle: one ROW_NUMBER PER
    * EPOCH over the q158 chain crossed with the epoch range —
    * byte-identical to the folded ranks by the fold's stratum rule. */
  val Epochs = 3
  val EpochSeed = 42L

  /** Epoch `e`'s PrefixSum ranking `seq_rank` of a `lin` pack relation
    * under the lineage's draw key — the single-epoch ranking behind
    * [[q199]]'s step fetch (one epoch by contract; the multi-epoch ops
    * rank ALL epochs in one scan via [[epochRanked]]). The same draw key
    * and tiebreak as [[epochRanked]], so epoch `e` of both agree. */
  private def rankEpoch(pack: DataFrame, lin: Lineage, e: Long): DataFrame =
    graft.functions.PrefixSum
      .withRunningSum(
        pack.withColumn("okey", lin.drawKey(e)).withColumn("one", lit(1L)),
        "okey", lin.keys, "one", "seq_rank", span = Some((0L, 1L << 60)))

  /** Rank EVERY epoch of a keyed union in ONE two-level PrefixSum scan
    * (r14 VERDICT #6 — the q179 bucket-folding rule applied to the
    * epoch dimension): fold the epoch into the ordering key as
    * epoch·2⁶⁰ + okey. Epoch-major, and every okey under this rule is
    * < 2⁶⁰ (the 15-hex-char md5 keys by width; q171's quality key by
    * construction, (10⁶−q)·2⁴⁰ + 40 bits < 2⁶⁰), so the fold is
    * collision-free and the WITHIN-epoch order is exactly the unfolded
    * (okey, tiebreak…) order — the per-epoch ROW_NUMBER oracles are
    * byte-identical, only the job count changes. Per-epoch rank =
    * global rank − the epoch's start offset, where offsets cumulate
    * over the ≤[[Epochs]]-row per-epoch COUNTS (aggregated off the
    * pre-ranking keyed union — never a second ranking execution; the
    * unpartitioned window rides aggregated rows, the ScalePlanSpec
    * rule) and broadcast back. Replaces one 3-job PrefixSum scan PER
    * EPOCH with one scan total — the scheduling-floor cost the
    * amortized baseline ratio pays at local scale, and one fewer stage
    * wave per epoch on a cluster. Max folded key = ([[Epochs]]−1)·2⁶⁰ +
    * 2⁶⁰ ≤ 4·2⁶⁰ — inside int64 and inside PrefixSum's span guard. */
  private def rankEpochsFolded(keyed: DataFrame, tiebreak: Seq[String],
      out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val folded = keyed
      .withColumn("__fkey", col("epoch") * lit(1L << 60) + col("okey"))
      .withColumn("__one", lit(1L))
    val ranked = graft.functions.PrefixSum
      .withRunningSum(folded, "__fkey", tiebreak, "__one", "__grank",
        span = Some((0L, Epochs.toLong * (1L << 60))))
    val w = Window.orderBy(col("epoch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = keyed.groupBy(col("epoch")).agg(count(lit(1)).as("__en"))
      .withColumn("__off", sum(col("__en")).over(w) - col("__en"))
      .select(col("epoch"), col("__off"))
    ranked.join(broadcast(offs), "epoch")
      .withColumn(out, col("__grank") - col("__off"))
      .drop("__fkey", "__one", "__grank", "__off")
  }

  /** Every epoch of a `lin` pack relation ranked under the lineage's
    * draw key: the [[Epochs]] draw-keyed copies unioned and ranked into
    * `out` in ONE [[rankEpochsFolded]] scan, tiebroken by the lineage
    * keys. Behind every standing epoch order ([[epochOrdered]]), the
    * continuity tails (q200/q207) and the serve seam's epoch tail
    * ([[graft.streaming.StreamOps.epochTail]]). */
  private[graft] def epochRanked(pack: DataFrame, lin: Lineage,
      out: String): DataFrame =
    rankEpochsFolded((0 until Epochs).map(e => lin.drawKeyed(pack, e))
      .reduce(_ unionAll _), lin.keys, out)

  /** The per-epoch ordered stream of a lineage — `(epoch, seq_rank, the
    * lineage ids, shard)` over `lin.source`: for the text pack the
    * stream behind [[q162]]/[[q166]]/[[q193]]/[[q185]]/[[q200]], for
    * the clean pack [[q178]]'s, for the multimodal pack q207's prefix.
    * MEMOIZED per (family run, dir) (r15): this is the engine's own
    * documented premise made real ("a real loader amortizes the ranking
    * across the epoch's steps", q177) — the epoch order is a pure
    * function of (seed, corpus snapshot), so its consumers share one
    * materialization exactly like the pack build they rank. The memo's
    * localCheckpoint also truncates the fold's plan, the q191 plan-cost
    * rule. */
  private[graft] def epochOrdered(s: SparkSession, dir: String,
      lin: Lineage): DataFrame =
    graft.Standing.relation(s"${lin.name}_epoch_ordered", dir)(
      epochOrderedPlan(s, dir, lin))

  /** The unmemoized epoch-ordering plan (ScalePlanSpec pins the window
    * discipline here — the memo readout is a LogicalRDD leaf). */
  private[graft] def epochOrderedPlan(s: SparkSession, dir: String,
      lin: Lineage): DataFrame = {
    val ids = (lin.ids :+ "shard").map(col)
    epochRanked(lin.source(s, dir).select(ids: _*), lin, "seq_rank")
      .select(col("epoch") +: col("seq_rank") +: ids: _*)
  }

  def q162(s: SparkSession, dir: String): DataFrame =
    epochOrdered(s, dir, Lineage.Pack).orderBy(col("epoch"), col("seq_rank"))

  /** The [[q162]] SELECT body without the final ORDER BY — [[q162Sql]]
    * appends it; [[q166Sql]] wraps the body in its resume predicate. */
  private lazy val epochOrderedSql: String =
    s"""SELECT epoch,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch
       |    ORDER BY okey, doc_id, chunk_id) AS BIGINT) AS seq_rank,
       |  doc_id, chunk_id, shard
       |FROM (
       |  SELECT e.epoch, b.doc_id, b.chunk_id, b.shard,
       |    CAST(('0x' || substr(md5('ep:$EpochSeed:' || CAST(e.epoch AS VARCHAR) || ':' ||
       |      CAST(b.doc_id AS VARCHAR) || ':' || CAST(b.chunk_id AS VARCHAR)), 1, 15)) AS BIGINT) AS okey
       |  FROM ($q158Sql) b CROSS JOIN
       |    (SELECT CAST(unnest(range(0, $Epochs)) AS BIGINT) AS epoch) e) k""".stripMargin

  lazy val q162Sql: String =
    s"""$epochOrderedSql
       |ORDER BY epoch, seq_rank""".stripMargin

  // --- 166. mid-epoch loader resume (r12) -----------------------------------
  /** The loader's RESTART contract over the epoch stream: a pretraining
    * job checkpoints its data-loader position as (epoch, rank consumed)
    * and, on preemption, must resume with EXACTLY the unconsumed suffix
    * of the deterministic [[q162]] stream — re-serving a consumed
    * sequence double-trains it, skipping one silently drops data. The
    * resume point ([[ResumeEpoch]], [[ResumeRank]]) cuts MID-epoch: the
    * suffix is the tail of epoch [[ResumeEpoch]] in its own permutation
    * plus every later epoch in full. Because the per-epoch permutation
    * is a pure function of (seed, epoch, doc, chunk), the suffix is
    * computable on a fresh cluster with no loader state beyond the
    * two-long checkpoint — the [[graft.streaming.StreamOps.ServeState]] rule at the
    * consumption end of the pipeline.
    *
    * Scale shape: [[epochOrdered]]'s one folded PrefixSum scan with the
    * resume predicate applied AFTER ranking (the rank must be the full
    * epoch's rank, not the suffix's) — epochs before the checkpoint
    * never rank (filtered at the union source, not post-hoc: the
    * `(0 until Epochs)` map starts at ResumeEpoch). FULL oracle: the
    * q162 body under the same (epoch, rank) tuple predicate. */
  val ResumeEpoch = 1L
  val ResumeRank = 5L

  def q166(s: SparkSession, dir: String): DataFrame =
    // the resume suffix FILTERS the standing epoch stream (r15: one
    // memoized ranking, the q177 amortization premise) — the rank must
    // be the full epoch's rank, which the memo carries by construction;
    // epochs before the checkpoint drop at the filter, and the memoized
    // scan is the same one every other loader readout consumes
    epochOrdered(s, dir, Lineage.Pack)
      .filter(col("epoch") > ResumeEpoch ||
        (col("epoch") === ResumeEpoch && col("seq_rank") > ResumeRank))
      .select(col("epoch"), col("seq_rank"), col("doc_id"), col("chunk_id"),
        col("shard"))
      .orderBy(col("epoch"), col("seq_rank"))

  lazy val q166Sql: String =
    s"""SELECT * FROM ($epochOrderedSql) r
       |WHERE epoch > $ResumeEpoch
       |   OR (epoch = $ResumeEpoch AND seq_rank > $ResumeRank)
       |ORDER BY epoch, seq_rank""".stripMargin

  // --- 193. data-parallel worker shard of the epoch stream (r13) -------------
  /** The DDP loader contract the epoch stream is consumed UNDER: with W
    * data-parallel workers, worker w reads exactly the ranks ≡ w
    * (mod W) of each epoch's [[q162]] permutation — slices are disjoint
    * by construction, their union is the epoch, and each worker's
    * stream is a pure function of (seed, epoch, W, w): a re-spawned
    * worker recomputes its slice with no coordination (the q166 resume
    * rule, horizontally). The registered entry stands in worker
    * [[WorkerId]] of [[Workers]]; `worker_step` renumbers the slice
    * densely (the worker's own step counter). Global step ≡
    * worker_step across workers only up to the last FULL step: when
    * the epoch size is not divisible by W the trailing workers have
    * one fewer row, so a trainer either drops the last partial step or
    * pads it — this relation deliberately ships the raw slices
    * (disjoint, union-exact; PipelineSpec pins both) and leaves the
    * drop-last/pad choice to the loader, as real DDP samplers do.
    *
    * Scale shape: [[epochOrdered]]'s one folded PrefixSum scan + a
    * map-side modulo filter — the slice never shuffles again. FULL
    * oracle: the q162 body under the same predicate with the same
    * renumbering. */
  val Workers = 4L
  val WorkerId = 1L

  def q193(s: SparkSession, dir: String): DataFrame =
    workerSlice(s, dir, Workers, WorkerId)
      .orderBy(col("epoch"), col("worker_step"))

  /** Worker `w`'s slice of the epoch stream — [[q193]]'s core, exposed
    * so PipelineSpec can quantify over all W workers. */
  private[graft] def workerSlice(s: SparkSession, dir: String, workers: Long,
      w: Long): DataFrame =
    epochOrdered(s, dir, Lineage.Pack)
      .filter((col("seq_rank") - 1) % workers === w)
      .withColumn("worker_step",
        expr(s"(seq_rank - 1 - $w) div ${workers}L + 1L"))
      .select(col("epoch"), col("worker_step"), col("seq_rank"),
        col("doc_id"), col("chunk_id"), col("shard"))

  lazy val q193Sql: String =
    s"""SELECT epoch,
       |  CAST((seq_rank - 1 - $WorkerId) // $Workers + 1 AS BIGINT) AS worker_step,
       |  seq_rank, doc_id, chunk_id, shard
       |FROM ($epochOrderedSql) r
       |WHERE (seq_rank - 1) % $Workers = $WorkerId
       |ORDER BY epoch, worker_step""".stripMargin

  // --- 171. curriculum epoch ordering (r12) ---------------------------------
  /** The CURRICULUM data schedule loaders actually run: epoch 0 consumes
    * the pack's sequences in QUALITY order — highest stopword-ratio
    * docs first (q45's natural-prose signal in exact integer micros;
    * "clean data first" is the standard curriculum warm-up) — and every
    * later epoch falls back to the q162 seeded shuffle, with keys
    * IDENTICAL to [[q162]]'s (epochs ≥ 1 of the two schedules are the
    * same stream — a loader can switch schedules without re-deriving
    * anything; PipelineSpec pins the equality). The epoch-0 order key
    * is one int64: (10⁶ − q_micros)·2⁴⁰ + the 40-bit md5 tiebreak —
    * descending doc quality first, hash-spread within a quality level
    * (chunks of equal-quality docs interleave by hash — deliberate:
    * the curriculum orders by quality, not by document), and the SAME
    * key arithmetic replays exactly in the oracle.
    *
    * Scale shape: the pack memo + ONE corpus-linear quality aggregate
    * (doc-keyed thin join onto the pack — two int64s per doc) + the
    * epoch-folded PrefixSum two-level scan (the hash tiebreak spreads the
    * bins even inside one quality level; never a global window). FULL
    * oracle: the quality CTE + the keyed union replayed under one
    * per-epoch ROW_NUMBER. */
  def q171(s: SparkSession, dir: String): DataFrame =
    // memoized like [[epochOrdered]] (r15) — the curriculum schedule is
    // the same standing per-snapshot relation a loader derives once
    graft.Standing.relation("curriculum_ordered", dir)(
      q171Plan(s, dir)).orderBy(col("epoch"), col("seq_rank"))

  /** The unmemoized curriculum-ordering plan (ScalePlanSpec pins the
    * window discipline here). */
  private[graft] def q171Plan(s: SparkSession, dir: String): DataFrame = {
    val pack = sequencePack(s, dir)
      .select(col("doc_id"), col("chunk_id"), col("shard"))
    val qm = TextOps.docsWithToks(s, dir)
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_stop", size(org.apache.spark.sql.functions.filter(
        col("toks"), t => t.isin(Text.Stopwords: _*))).cast("long"))
      .filter(col("n_toks") > 0)
      .select(col("doc_id"), graft.functions.Num
        .idivHalfAway(col("n_stop") * lit(1000000L), col("n_toks"))
        .as("q_micros"))
    val e0 = pack.join(qm, Seq("doc_id"))
      .withColumn("epoch", lit(0L))
      .withColumn("okey",
        (lit(1000000L) - col("q_micros")) * lit(1099511627776L) +
          HexKey("cur:", 10, col("doc_id"), col("chunk_id")))
      .drop("q_micros")
    val keyed = (e0 +: (1 until Epochs)
        .map(e => Lineage.Pack.drawKeyed(pack, e)).toList)
      .reduce(_ unionAll _)
    rankEpochsFolded(keyed, Seq("doc_id", "chunk_id"), "seq_rank")
      .select(col("epoch"), col("seq_rank"), col("doc_id"), col("chunk_id"),
        col("shard"))
  }

  lazy val q171Sql: String =
    s"""WITH pk AS (SELECT doc_id, chunk_id, shard FROM ($q158Sql) x),
       |qm AS (
       |  SELECT doc_id, ${graft.functions.Num.idivHalfAwaySql(
              "n_stop * 1000000", "n_toks")} AS q_micros
       |  FROM (
       |    SELECT doc_id, len($toksSql) AS n_toks,
       |      len(list_filter($toksSql, t -> t IN ${Text.StopwordsSqlList}))
       |        AS n_stop
       |    FROM documents) t
       |  WHERE n_toks > 0),
       |keyed AS (
       |  SELECT CAST(0 AS BIGINT) AS epoch, b.doc_id, b.chunk_id, b.shard,
       |    (1000000 - q.q_micros) * 1099511627776 +
       |      CAST(('0x' || substr(md5('cur:' || CAST(b.doc_id AS VARCHAR) || ':' ||
       |        CAST(b.chunk_id AS VARCHAR)), 1, 10)) AS BIGINT) AS okey
       |  FROM pk b JOIN qm q USING (doc_id)
       |  UNION ALL
       |  SELECT e.epoch, b.doc_id, b.chunk_id, b.shard,
       |    CAST(('0x' || substr(md5('ep:$EpochSeed:' || CAST(e.epoch AS VARCHAR) || ':' ||
       |      CAST(b.doc_id AS VARCHAR) || ':' || CAST(b.chunk_id AS VARCHAR)), 1, 15)) AS BIGINT) AS okey
       |  FROM pk b CROSS JOIN
       |    (SELECT CAST(unnest(range(1, $Epochs)) AS BIGINT) AS epoch) e)
       |SELECT epoch,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch
       |    ORDER BY okey, doc_id, chunk_id) AS BIGINT) AS seq_rank,
       |  doc_id, chunk_id, shard
       |FROM keyed
       |ORDER BY epoch, seq_rank""".stripMargin

  // --- 121. DSIR-style importance selection (r5) ---------------------------
  /** Data selection via importance weighting on HASHED n-gram features
    * (the DSIR recipe, Xie et al. 2023, arXiv:2302.03169): estimate how
    * target-like each raw doc is from two bag-of-hashed-ngram models —
    * the benchmark/eval TARGET set vs the raw corpus — and keep the
    * top-[[DsirTopN]] scorers. Features are word unigrams+bigrams
    * hashed into [[DsirBuckets]] buckets (md5 mod m — the engine's
    * cross-engine draw pattern); per-bucket Laplace-smoothed
    * log-likelihood ratio ln((cp+1)/(tp+m)) − ln((cq+1)/(tq+m)) is
    * rounded ONCE to integer micros, so each doc's score
    * Σ c_b·lr_micros_b accumulates in exact int64 — summation order
    * cannot move the result, which is what makes the top-N
    * hash-oracle-checkable (the `ln` itself is the q36-precedented
    * cross-engine double). The registered entry stands in
    * doc_id % 97 == 0 as the target set (q85's benchmark split).
    *
    * Scale shape: feature explode is corpus-linear with map-side
    * combine into ≤ m·|docs| (doc, bucket) partial counts; the model is
    * m = 1024 rows — broadcast both at the scoring join; the target
    * side is eval-sized by premise; top-N is TakeOrderedAndProject
    * (spec-pinned), never a global sort. At 100 TB nothing here holds
    * more than m rows of state outside one corpus-linear pass. */
  /** Feature-hash width m. 1024 is the registered default; the width is
    * the collision/selectivity knob: at m buckets the expected fraction
    * of feature mass sharing a bucket with an unrelated feature is
    * ≈ 1 − (1 − 1/m)^(V−1) for vocabulary V — at V ≈ 10⁶ (a realistic
    * web-corpus n-gram vocab), m = 1024 aliases essentially everything
    * (coarse topical resolution, tiny model), while m = 2²⁰ keeps
    * expected collisions ≈ V/m ≈ 1 per bucket (near-exact ratios). The
    * model stays broadcast either way: m int64 pairs is 16 KB at the
    * default and ~17 MB at 2²⁰ — still a map-side table (Spark's
    * broadcast ceiling is 8 GB; DsirWidthSpec pins the broadcast plan
    * at 2²⁰ on real data). Width changes scores, so the registered
    * width is part of the operator's contract (oracle replays it). */
  val DsirBuckets = 1024
  val DsirTopN = 100

  private def dsirBucket(f: Column, m: Int): Column =
    HexKey("dsir:", 15, f) % m

  def q121(s: SparkSession, dir: String): DataFrame =
    q121Of(graft.Tables.documents(s, dir), DsirBuckets, DsirTopN)

  /** [[q121]] at an arbitrary feature width (the scale knob above).
    *
    * ONE tokenize+explode pass over the WHOLE table (r6 VERDICT #3):
    * target and corpus rows ride the same scan with a side tag, and the
    * per-(side, doc, bucket) counts are simultaneously the scoring
    * relation (corpus side) and — rolled up per bucket in ONE ≤ m-row
    * aggregate — both model marginals and both feature totals. The
    * ≤ m-row marginal collect builds the log-likelihood-ratio model on
    * the driver (a model-sized table is driver/broadcast-sized by the
    * operator's own contract — 16 KB at the registered width, ~17 MB at
    * the 2²⁰ knob) with bit-identical arithmetic: `math.log` is the
    * same Math.log the executors run, and the micro rounding replays
    * Spark's `round` (shortest-repr BigDecimal, HALF_UP). Two jobs
    * total — counts cache + marginal collect, then the broadcast-model
    * scoring top-N — and the groupBy(b) marginal is the only exchange
    * besides the scoring shuffle. */
  private[graft] def q121Of(docs: DataFrame, m: Int, topN: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val c = docs
      .select((col("doc_id") % 97 === 0).as("tgt"), col("doc_id"),
        graft.text.Text.tokens(col("text")).as("toks"))
      .select(col("tgt"), col("doc_id"),
        explode(concat(col("toks"), graft.text.Text.shingles(col("toks"), 2))).as("f"))
      .select(col("tgt"), col("doc_id"), dsirBucket(col("f"), m).as("b"))
      .groupBy(col("tgt"), col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .cache() // family cache group owns the entry (cleared between groups)
    val marg = c.groupBy(col("b")).agg(
      sum(when(!col("tgt"), col("c"))).as("cq"),
      sum(when(col("tgt"), col("c"))).as("cp")).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2)))
    // true totals over ALL features: every feature lands in some
    // bucket, so the marginal sums ARE the totals
    val tq = marg.map(_._2).sum
    val tp = marg.map(_._3).sum
    val norm = math.log((tq + m).toDouble) - math.log((tp + m).toDouble)
    val lr = marg.collect { case (b, cq, cp) if cq > 0 =>
      val x = (math.log(cp + 1.0) - math.log(cq + 1.0)) + norm
      (b, java.math.BigDecimal.valueOf(x * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
    }.toSeq.toDF("b", "lr_micros")
    c.filter(!col("tgt")).join(broadcast(lr), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("lr_micros")).as("score_micros"))
      .orderBy(col("score_micros").desc, col("doc_id"))
      .limit(topN)
  }

  lazy val q121Sql: String = {
    val m = DsirBuckets
    val sh2 = graft.text.Text.shinglesSql("toks", 2)
    s"""WITH t AS (SELECT doc_id, ${graft.text.Text.toksSql} AS toks FROM documents),
       |f AS (SELECT doc_id, unnest(toks || $sh2) AS f FROM t),
       |bk AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5('dsir:' || f), 1, 15)) AS BIGINT) % $m AS b
       |  FROM f),
       |tgt AS MATERIALIZED (SELECT b FROM bk WHERE doc_id % 97 = 0),
       |cor AS MATERIALIZED (SELECT doc_id, b FROM bk WHERE doc_id % 97 <> 0),
       |cqt AS (SELECT b, COUNT(*) AS cq FROM cor GROUP BY b),
       |cpt AS (SELECT b, COUNT(*) AS cp FROM tgt GROUP BY b),
       |lr AS (
       |  SELECT cqt.b,
       |    CAST(round(((ln(COALESCE(cp, 0) + 1.0) - ln(cq + 1.0)) +
       |      (ln(CAST((SELECT COUNT(*) FROM cor) + $m AS DOUBLE)) -
       |       ln(CAST((SELECT COUNT(*) FROM tgt) + $m AS DOUBLE)))) * 1000000)
       |      AS BIGINT) AS lr_micros
       |  FROM cqt LEFT JOIN cpt USING (b)),
       |c AS (SELECT doc_id, b, COUNT(*) AS c FROM cor GROUP BY doc_id, b)
       |SELECT doc_id, CAST(SUM(c * lr_micros) AS BIGINT) AS score_micros
       |FROM c JOIN lr USING (b)
       |GROUP BY doc_id
       |ORDER BY score_micros DESC, doc_id
       |LIMIT $DsirTopN""".stripMargin
  }

  // --- 124. corpus drift report (r5) ---------------------------------------
  /** WHAT CHANGED between the corpus snapshot and the arriving batch —
    * the monitoring readout an always-on pipeline checks before
    * admitting a batch wholesale: per (source, lang), doc/token masses
    * on each side and the SHARE SHIFT in integer micros (share of its
    * own split's token total, so the two sides are comparable even
    * though the batch is much smaller). A big |delta| flags a source
    * suddenly over/under-represented — the upstream-ingest drift that
    * mixture policies (q82/q114/q120) silently bake in if unwatched.
    * Split = doc_id % [[DedupOps.IncrSplitMod]] (the arrival-model
    * convention of q108/q115/q119/q122).
    *
    * Scale shape: one corpus-linear token count, one ≤|sources×langs|
    * aggregate with map-side combine, totals as a broadcast 1-row
    * crossJoin — nothing driver-sized, no window over data rows. */
  def q124(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Num
    val mod = DedupOps.IncrSplitMod
    val d = graft.Tables.documents(s, dir)
      .select(col("source"), col("lang"),
        (col("doc_id") % mod === 0).cast("int").as("is_new"),
        size(graft.text.Text.tokens(col("text"))).cast("long").as("nt"))
    val g = d.groupBy(col("source"), col("lang"))
      .agg(
        sum(when(col("is_new") === 0, 1L).otherwise(0L)).as("docs_old"),
        sum(when(col("is_new") === 1, 1L).otherwise(0L)).as("docs_new"),
        sum(when(col("is_new") === 0, col("nt")).otherwise(0L)).as("tok_old"),
        sum(when(col("is_new") === 1, col("nt")).otherwise(0L)).as("tok_new"))
    val tot = g.agg(sum(col("tok_old")).as("tot_old"),
      sum(col("tok_new")).as("tot_new"))
    g.crossJoin(broadcast(tot))
      .withColumn("share_old_micros",
        Num.idivHalfAway(col("tok_old") * 1000000L, col("tot_old")))
      .withColumn("share_new_micros",
        Num.idivHalfAway(col("tok_new") * 1000000L, col("tot_new")))
      .withColumn("delta_micros", col("share_new_micros") - col("share_old_micros"))
      .select(col("source"), col("lang"), col("docs_old"), col("docs_new"),
        col("tok_old"), col("tok_new"), col("share_old_micros"),
        col("share_new_micros"), col("delta_micros"))
      .orderBy(col("source"), col("lang"))
  }

  lazy val q124Sql: String = {
    val mod = DedupOps.IncrSplitMod
    s"""WITH d AS (
       |  SELECT source, lang,
       |    CASE WHEN doc_id % $mod = 0 THEN 1 ELSE 0 END AS is_new,
       |    len(${graft.text.Text.toksSql}) AS nt
       |  FROM documents),
       |g AS (
       |  SELECT source, lang,
       |    CAST(SUM(CASE WHEN is_new = 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_old,
       |    CAST(SUM(CASE WHEN is_new = 1 THEN 1 ELSE 0 END) AS BIGINT) AS docs_new,
       |    CAST(SUM(CASE WHEN is_new = 0 THEN nt ELSE 0 END) AS BIGINT) AS tok_old,
       |    CAST(SUM(CASE WHEN is_new = 1 THEN nt ELSE 0 END) AS BIGINT) AS tok_new
       |  FROM d GROUP BY source, lang),
       |tot AS (SELECT CAST(SUM(tok_old) AS BIGINT) AS tot_old,
       |    CAST(SUM(tok_new) AS BIGINT) AS tot_new FROM g)
       |SELECT source, lang, docs_old, docs_new, tok_old, tok_new,
       |  ${graft.functions.Num.idivHalfAwaySql("tok_old * 1000000", "(SELECT tot_old FROM tot)")} AS share_old_micros,
       |  ${graft.functions.Num.idivHalfAwaySql("tok_new * 1000000", "(SELECT tot_new FROM tot)")} AS share_new_micros,
       |  ${graft.functions.Num.idivHalfAwaySql("tok_new * 1000000", "(SELECT tot_new FROM tot)")} -
       |    ${graft.functions.Num.idivHalfAwaySql("tok_old * 1000000", "(SELECT tot_old FROM tot)")} AS delta_micros
       |FROM g
       |ORDER BY source, lang""".stripMargin
  }

  // --- 129. context-window chunking (r6) ----------------------------------
  /** Fixed-width STRIDED sequence chunking — the pass that turns cleaned
    * documents into pretraining sequences: each doc's token stream is
    * cut into windows of [[ChunkW]] tokens starting every [[ChunkStride]]
    * positions (overlap = W − S tokens, the continuity standard
    * pretraining loaders keep across chunk boundaries), the final
    * partial window included so no token is dropped. Emits (doc_id,
    * chunk_id, start, fin, n_tokens, text_chunk).
    *
    * Scale shape: pure per-doc map — `sequence` generates the ≤ ⌈n/S⌉
    * start positions, `posexplode` + codegen'd `slice`/`concat_ws` cut
    * the windows; no join, no aggregation, the only shuffle is the
    * deterministic-readout sort (which a production pipeline drops —
    * chunks feed the shard-pack shuffle downstream, q83's job). Output
    * rows ≈ tokens/S: corpus-linear with a 1/S constant. */
  val ChunkW = 32
  val ChunkStride = 24

  def q129(s: SparkSession, dir: String): DataFrame =
    q129Of(graft.Tables.documents(s, dir))

  /** [[q129]] over any `(doc_id, text)` relation (PropertySpec fuzzes
    * arbitrary token streams through it). */
  private[graft] def q129Of(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), graft.text.Text.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("toks"), col("n"),
        posexplode(sequence(lit(1L), col("n"), lit(ChunkStride.toLong)))
          .as(Seq("i0", "start")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("chunk_id"),
        col("start"),
        least(col("start") + (ChunkW - 1), col("n")).as("fin"),
        col("toks"))
      .withColumn("n_tokens", col("fin") - col("start") + 1)
      .withColumn("text_chunk",
        concat_ws(" ", slice(col("toks"), col("start"), col("n_tokens"))))
      .select(col("doc_id"), col("chunk_id"), col("start"), col("fin"),
        col("n_tokens"), col("text_chunk"))
      .orderBy(col("doc_id"), col("chunk_id"))

  lazy val q129Sql: String =
    s"""WITH t AS (SELECT doc_id, ${graft.text.Text.toksSql} AS toks FROM documents),
       |tt AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t
       |  WHERE len(toks) > 0),
       |c AS (
       |  SELECT doc_id, toks, n, CAST(start AS BIGINT) AS start,
       |    least(CAST(start AS BIGINT) + ${ChunkW - 1}, n) AS fin
       |  FROM tt, unnest(generate_series(1, n, $ChunkStride)) AS u(start))
       |SELECT doc_id,
       |  (start - 1) // $ChunkStride + 1 AS chunk_id,
       |  start, fin, fin - start + 1 AS n_tokens,
       |  array_to_string(toks[start:fin], ' ') AS text_chunk
       |FROM c
       |ORDER BY doc_id, chunk_id""".stripMargin

  // --- 131. shard MANIFEST over the fixpoint build (r6) --------------------
  /** The loader-facing readout of the shippable build: one row per
    * shard of [[q123]]'s mixture-preserving pack — doc count, distinct
    * languages, token mass, the shard's END OFFSET in the global
    * token stream (max cum_tokens — the byte-range analog a data
    * loader seeks by), and an ORDER-INDEPENDENT content fingerprint
    * (sum of a 40-bit per-doc hash; shards are token-budgeted, so
    * docs-per-shard is bounded by budget/min-doc-len and the int64 sum
    * is safe to ~2²³ docs per shard — far above any real shard). A
    * re-build that silently changed membership, ordering boundaries,
    * or token accounting flips a manifest row; comparing manifests is
    * how a pipeline validates a re-run without diffing corpora.
    *
    * Scale shape: q123's own plans + one groupBy(shard) with map-side
    * combine; output rows = shard count = Σtokens / budget. */
  /** The manifest aggregate over a packed build — ONE definition (with
    * [[manifestSql]] as its SQL twin) behind q131's whitespace-token
    * manifest and q155's subword-unit one, so the 40-bit fingerprint
    * and the readout shape cannot drift between the pair whose
    * comparability IS the migration-validation contract (r10 review). */
  /** The 40-bit per-doc fingerprint — ONE definition (with [[sidSql]])
    * behind ALL manifest levels (q131/q155 doc-granularity, q159
    * sequence-granularity), so the triple's exact ids_sum
    * reconciliation is maintained by construction, not by copy
    * (r11 review). */
  private def sidCol: Column =
    HexKey("sid:", 15, col("doc_id")) % 1099511627776L

  /** SQL twin of [[sidCol]]. */
  private val sidSql: String =
    "CAST(('0x' || substr(md5('sid:' || CAST(doc_id AS VARCHAR)), 1, 15)) " +
      "AS BIGINT) % 1099511627776"

  private def manifestOf(build: DataFrame, mass: String, cum: String)
      : DataFrame =
    build
      .withColumn("sid", sidCol)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col(mass)).as(mass),
        max(col(cum)).as("end_offset"),
        sum(col("sid")).as("ids_sum"))
      .orderBy(col("shard"))

  /** SQL twin of [[manifestOf]] over an inlined build query. */
  private def manifestSql(buildSql: String, mass: String, cum: String)
      : String =
    s"""SELECT shard, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT lang) AS n_langs,
       |  CAST(SUM($mass) AS BIGINT) AS $mass,
       |  MAX($cum) AS end_offset,
       |  CAST(SUM($sidSql) AS BIGINT) AS ids_sum
       |FROM ($buildSql) b
       |GROUP BY shard
       |ORDER BY shard""".stripMargin

  def q131(s: SparkSession, dir: String): DataFrame =
    manifestOf(q123(s, dir), "n_tokens", "cum_tokens")

  lazy val q131Sql: String = manifestSql(q123Sql, "n_tokens", "cum_tokens")

  // --- 155. shard MANIFEST over the subword-budget build (r10) -------------
  /** [[q131]]'s loader-facing manifest for the SUBWORD-packed build
    * ([[q152]]): one row per shard — doc count, distinct languages,
    * unit mass, end offset in the global UNIT stream, and the same
    * order-independent 40-bit content fingerprint. The pair of
    * manifests (q131 over whitespace-token shards, q155 over tokenizer-
    * unit shards) is how a pipeline validates the budget migration:
    * identical total doc counts and ids_sum totals, different shard
    * boundaries. Scale shape: q152's plans + one map-side-combined
    * groupBy(shard). */
  def q155(s: SparkSession, dir: String): DataFrame =
    manifestOf(packedBuild(s, dir), "n_units", "cum_units")

  lazy val q155Sql: String = manifestSql(q152Sql, "n_units", "cum_units")

  // --- 159. shard MANIFEST over the SEQUENCE build (r10 VERDICT #2) --------
  /** The loader-facing manifest at sequence granularity: one row per
    * shard of [[q158]]'s chunk pack — sequence count, distinct docs and
    * languages, unit mass, end offset in the global unit stream, and
    * the SAME order-independent 40-bit doc fingerprint as q131/q155,
    * attributed to the shard holding the doc's FIRST chunk (chunk 0 —
    * the start-offset rule at manifest level), so each member doc is
    * fingerprinted exactly once across the manifest. The q131 → q155 →
    * q159 TRIPLE is the full budget-migration validation contract:
    * identical ids_sum totals (same mixture membership, modulo docs
    * with zero tokenizer units, which pack at zero mass in q155 and
    * have no chunks here — PipelineSpec reconciles the difference
    * exactly), boundaries moving doc→unit→sequence. Scale shape:
    * q158's memo + one map-side-combined groupBy(shard). */
  def q159(s: SparkSession, dir: String): DataFrame =
    sequenceManifestOf(sequencePack(s, dir))

  /** The sequence-manifest AGGREGATE over an arbitrary packed-sequence
    * relation `(doc_id, chunk_id, lang, n_units, cum_units, shard)` —
    * ONE definition behind [[q159]]'s batch readout and the
    * serve-vs-rebuild reconciliation (StreamingSpec runs it over
    * [[graft.streaming.StreamOps.pack]]'s served shard stream), the
    * segmentReadout/chunkReadout rule at manifest level: stream ≡ batch
    * reconciles through the SAME aggregate, not a re-implementation. */
  private[graft] def sequenceManifestOf(pack: DataFrame): DataFrame =
    pack
      .withColumn("sid", sidCol)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_seqs"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_units")).as("n_units"),
        max(col("cum_units")).as("end_offset"),
        sum(when(col("chunk_id") === 0, col("sid")).otherwise(lit(0L)))
          .as("ids_sum"))
      .orderBy(col("shard"))

  lazy val q159Sql: String =
    s"""SELECT shard, COUNT(*) AS n_seqs,
       |  COUNT(DISTINCT doc_id) AS n_docs,
       |  COUNT(DISTINCT lang) AS n_langs,
       |  CAST(SUM(n_units) AS BIGINT) AS n_units,
       |  MAX(cum_units) AS end_offset,
       |  CAST(SUM(CASE WHEN chunk_id = 0 THEN $sidSql ELSE 0 END) AS BIGINT) AS ids_sum
       |FROM ($q158Sql) b
       |GROUP BY shard
       |ORDER BY shard""".stripMargin

  // --- 165. PERSISTED sequence-pack artifact (r12) --------------------------
  /** The training-data artifact a loader actually READS: the q158
    * sequence pack persisted shard-partitioned under a
    * [[graft.GenManifest]] generation (the annIndex/bucketed-index
    * lifecycle applied to the build output itself). A rebuild publishes
    * a fresh generation atomically; a loader pinned at generation N
    * keeps reading exactly N's files across concurrent rebuilds; and a
    * loader seek to shard k is ONE partition directory read (partition
    * pruning on the shard key — the manifest's end offsets are the seek
    * handles). [[graft.streaming.StreamOps.pack]] is the arrival
    * seam BETWEEN these rebuild publishes.
    *
    * [[q165]] is the closed loop registered under the oracle: pack
    * (family-memoized) → write → READ BACK → manifest the artifact
    * through the same [[sequenceManifestOf]] aggregate. Oracle =
    * [[q159Sql]]: the manifest over the persisted artifact must
    * hash-match the manifest over the in-memory build — the driver's
    * compare IS the artifact round-trip contract (membership, masses,
    * offsets, fingerprints all survive the disk hop). Scale shape: one
    * pack-sized shuffle at write (repartition on shard → exactly one
    * file per shard — the bucketed-write rule), then manifest = one
    * map-side-combined groupBy over the artifact scan. */
  /** A pack LINEAGE: the data that tells apart the three packs a loader
    * reads — the text sequence pack (`pack`, q158/q165), its
    * decontaminated repack (`packclean`, q174, published beside the
    * shipped build: one artifact base, two manifest lines — a reader
    * pins a lineage + generation pair) and the multimodal pack
    * (`mmpack`, q196/q197). The pack law ([[packAt]]), the epoch ranks
    * ([[epochRanked]], [[rankEpoch]]), the arrival model
    * ([[arrivalPack]]), the serve fold
    * ([[graft.streaming.StreamOps.Pack]]) and the artifact verbs below
    * serve all three from it:
    *
    *  - `name`: the artifact lineage — generation g lives in
    *    `<name>_g<g>`, the manifest stored with it in `<name>mf_g<g>`,
    *    both published under the one [[graft.GenManifest]] line `name`
    *    (the layout the `graftpack` table reads);
    *  - `columns`: the persisted column order;
    *  - `keys`: the row key in key order — the parts of the order and
    *    draw keys and the rank tiebreak;
    *  - `orderPrefix`: the md5 order-key prefix the pack law sorts by;
    *  - `drawPrefix`: the per-epoch draw-key prefix (seed and epoch
    *    follow it);
    *  - `manifestOf`: the manifest aggregate persisted with every
    *    generation;
    *  - `rowsOf(chunks, docs)`: the unpacked rows of arriving docs, from
    *    their chunk masses and their `(doc_id, text)`;
    *  - `landed(served, langs)`: the projection a served batch goes
    *    through before it is appended;
    *  - `source(s, dir)`: the relation the standing epoch order ranks. */
  private[graft] final class Lineage private (val name: String,
      val columns: Seq[String], val keys: Seq[String],
      val orderPrefix: String, drawPrefix: String,
      manifestOf: DataFrame => DataFrame,
      val rowsOf: (DataFrame, DataFrame) => DataFrame,
      landed: (DataFrame, Option[DataFrame]) => DataFrame,
      private[PipelineOps] val source: (SparkSession, String) => DataFrame) {
    /** The key columns in persisted column order. */
    def ids: Seq[String] = columns.filter(keys.contains)

    /** Epoch `e`'s seeded-shuffle draw key (the q162 permutation rule). */
    def drawKey(e: Long): Column =
      HexKey(s"$drawPrefix$EpochSeed:$e:", 15, keys.map(col): _*)

    /** `pack` with `epoch` = e and its draw key `okey`. */
    def drawKeyed(pack: DataFrame, e: Long): DataFrame =
      pack.withColumn("epoch", lit(e)).withColumn("okey", drawKey(e))

    /** Generation `gen`'s data directory under `base`. */
    def dir(base: java.io.File, gen: Long): java.io.File =
      graft.GenManifest.dir(base, name, gen)

    /** Write `pack` as generation `gen` (repartition on shard → one file
      * per shard, the bucketed-write rule) with its manifest beside it
      * in `<name>mf_g<gen>`. The stored manifest is computed from the
      * IN-MEMORY relation, not a read-back of the files just written: a
      * write-time corruption (bit flip, partial row group) must NOT
      * notarize itself into the stored manifest — the first audit
      * catches it instead (r13 review). Also saves one full artifact
      * scan per publish. */
    private def writeGen(base: java.io.File, pack: DataFrame, gen: Long): Unit = {
      pack.repartition(col("shard"))
        .write.partitionBy("shard")
        .parquet(dir(base, gen).getAbsolutePath)
      manifestOf(pack).write.parquet(
        graft.GenManifest.dir(base, name + "mf", gen).getAbsolutePath)
    }

    /** Publish `pack` as the next generation at `base`. Returns the
      * published gen. */
    def write(base: java.io.File, pack: DataFrame): Long =
      graft.GenManifest.writeNext(base, name, "mf")(writeGen(base, pack, _))

    /** The artifact at generation `gen` (default: the CURRENT one, resolved
      * here), read THROUGH the [[graft.sources.GraftPackDataSource]]
      * table (r14) — the generation is pinned so a concurrent publish
      * between `current()` and the scan cannot retarget the read; the
      * scan below it is Spark's own ParquetScan (pruning/pushdown/
      * vectorization unchanged — PipelineSpec re-pins PartitionFilters
      * on this path). Shard is restored to int64 (partition-column
      * inference narrows it) and the persisted column order restored. */
    def read(s: SparkSession, base: java.io.File,
        gen: Option[Long] = None): DataFrame =
      s.read.format("graftpack")
        .option("base", base.getAbsolutePath)
        .option("lineage", name)
        .option("generation",
          gen.getOrElse(graft.GenManifest.current(base, name)))
        .load()
        .withColumn("shard", col("shard").cast("long"))
        .select(columns.map(col): _*)

    /** The manifest persisted with the current generation (what that
      * publish shipped — [[write]]/[[compact]] store it), read through
      * the `graftpack` table as the `<name>mf` lineage. */
    def manifestRead(s: SparkSession, base: java.io.File): DataFrame =
      s.read.format("graftpack")
        .option("base", base.getAbsolutePath)
        .option("lineage", name + "mf")
        .option("generation", graft.GenManifest.current(base, name))
        .load()

    /** The SERVE half of the artifact lifecycle: append a served pack
      * batch ([[graft.streaming.StreamOps.Pack]]'s sink payload) into the
      * CURRENT generation — each row lands inside its shard's partition
      * directory, so partition pruning is preserved verbatim (the
      * annIndexAppend rule applied to the training-data artifact). The
      * batch passes through the lineage's `landed` projection first;
      * `langs` is the text lineages' `(doc_id, lang)` side input. Batch
      * cost ∝ batch size; existing files are never read or moved.
      *
      * At-least-once: a RE-DELIVERED batch replays byte-identically (the
      * pack fold contract) but an append-mode write lands its rows
      * twice — the duplicates are ABSORBED at [[compact]] (full-row
      * dropDuplicates is deterministic because re-deliveries are
      * byte-identical), the same place the one-file-per-shard layout is
      * restored. */
    def appendServed(base: java.io.File, served: DataFrame,
        langs: Option[DataFrame] = None): Unit =
      landed(served, langs).select(columns.map(col): _*)
        .write.mode("append").partitionBy("shard")
        .parquet(dir(base, graft.GenManifest.current(base, name))
          .getAbsolutePath)

    /** COMPACTION: rewrite the current generation to ONE file per shard
      * at a fresh generation (the annIndexCompact rule), dropping
      * byte-identical duplicate rows from at-least-once re-deliveries,
      * and re-publish the stored manifest so it DESCRIBES the compacted
      * generation (served appends absorbed — the q190/q197 audit goes
      * back to all-`same`), computed from the deduped source relation.
      * FULL-row dropDuplicates, matching the absorption contract:
      * keyed-only dedup would silently pick an arbitrary row if the same
      * key ever landed with different attributes (e.g. a re-serve at a
      * different base after a rebuild) — a genuine conflict must instead
      * survive to the manifest hash-check. A reader pinned at the old
      * generation is undisturbed (sibling directory, atomic
      * compare-and-publish, retained to [[graft.GenManifest.DefaultRetain]]). */
    def compact(s: SparkSession, base: java.io.File): Unit =
      graft.GenManifest.compact(base, name, "mf") { (cur, next) =>
        writeGen(base, read(s, base, Some(cur)).dropDuplicates(), next)
      }
  }

  private[graft] object Lineage {
    /** The text lineages' rows: chunk masses as packed sequences. */
    private def textRows(chunks: DataFrame, docs: DataFrame): DataFrame =
      chunks.select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        col("n_units"))

    /** The text lineages' landing: the `(doc_id → lang)` the serve path
      * doesn't thread through the chunk readout (arrival metadata — a
      * real stream carries it beside the text; one thin doc-keyed
      * join). LEFT join + loud failure on a missing mapping: an inner
      * join would silently DROP the served row from the persisted
      * artifact (silent loss in the loader-facing append path, r12
      * ADVICE); raise_error fires inside the write job, failing the
      * batch before the sink commit — the stream resumes and
      * re-delivers it. */
    private def withLangs(name: String)(served: DataFrame,
        langs: Option[DataFrame]): DataFrame =
      served.join(langs.getOrElse(throw new IllegalArgumentException(
          s"$name appendServed: the served rows' (doc_id, lang) are required")),
          Seq("doc_id"), "left")
        .withColumn("lang", when(col("lang").isNull, raise_error(concat(
          lit(s"$name appendServed: served doc_id "), col("doc_id"),
          lit(" has no lang metadata — refusing to drop it from the artifact"))))
          .otherwise(col("lang")))

    private def text(name: String,
        source: (SparkSession, String) => DataFrame): Lineage =
      new Lineage(name, Seq("doc_id", "chunk_id", "lang", "n_tokens",
          "n_units", "cum_units", "shard"), Seq("doc_id", "chunk_id"),
        "ord:", "ep:", sequenceManifestOf, textRows, withLangs(name), source)

    /** The shipped sequence pack (q158 → q165). */
    val Pack: Lineage = text("pack", sequencePack)

    /** The decontaminated repack (q174), ordered and drawn like
      * [[Pack]]; its epoch order ranks the artifact read back (memoized:
      * three int64s per clean sequence — the rank scan would otherwise
      * re-scan the parquet). */
    val PackClean: Lineage = text("packclean", (s, dir) =>
      graft.Standing.relation("clean_pack_read", dir)(
        PackClean.read(s, cleanPackArtifact(s, dir))
          .select(col("doc_id"), col("chunk_id"), col("shard"))))

    /** The multimodal pack (q196 → q197): text chunks and image/audio
      * locator rows interleaved under the `mm:` key, drawn under `mmep:`. */
    val MmPack: Lineage = new Lineage("mmpack",
      Seq("doc_id", "seq_id", "modality", "locator", "n_units",
        "cum_units", "shard"), Seq("modality", "doc_id", "seq_id"),
      "mm:", "mmep:", mmManifestOf,
      (chunks, docs) => chunks
        .select(col("doc_id"), col("chunk_id").as("seq_id"),
          lit("text").as("modality"),
          concat(lit("txt://"), col("doc_id"), lit(":"), col("chunk_id"))
            .as("locator"),
          col("n_units"))
        .unionAll(modalityRowsOf(docs)),
      (served, _) => served, mmPack)
  }

  /** Pack + publish unless the live artifact already describes `dir` —
    * the q105/q160/q164 standing-snapshot pattern (reuse spec-pinned). */
  private[graft] def packArtifact(s: SparkSession, dir: String): java.io.File =
    graft.Standing.artifact(s, "seqpack", Lineage.Pack.name, dir)(
      Lineage.Pack.write(_, sequencePack(s, dir)))

  def q165(s: SparkSession, dir: String): DataFrame =
    sequenceManifestOf(Lineage.Pack.read(s, packArtifact(s, dir)))

  /** Artifact round-trip ≡ in-memory build: the oracle replays q159's
    * direct manifest; a write/read that dropped, duplicated, or
    * re-sharded a sequence would hash-mismatch. */
  lazy val q165Sql: String = q159Sql

  // --- 172. the loader's shard READ (r12) -----------------------------------
  /** The read a training loader actually issues per step: ONE shard of
    * the persisted pack artifact — a partition-pruned scan of exactly
    * one directory (PipelineSpec pins the `PartitionFilters` line on
    * this op's own plan), returning the shard's sequences in (doc,
    * chunk) order. [[SeekShard]] = 0 exists at every SF (the cumulative
    * stream starts there). FULL oracle: the q158 chain under the shard
    * predicate — the driver's hash compare proves the ARTIFACT's rows
    * (not just its manifest totals, q165's check) are exactly the
    * build's, at shard granularity, THROUGH the partition-pruned read
    * path. */
  val SeekShard = 0L

  def q172(s: SparkSession, dir: String): DataFrame =
    Lineage.Pack.read(s, packArtifact(s, dir))
      .filter(col("shard") === SeekShard)
      .orderBy(col("doc_id"), col("chunk_id"))

  lazy val q172Sql: String =
    s"""SELECT * FROM ($q158Sql) x
       |WHERE shard = $SeekShard
       |ORDER BY doc_id, chunk_id""".stripMargin

  // --- 177. the loader's per-(epoch, step) BATCH fetch (r13) -----------------
  /** The read a training STEP actually issues, composed end-to-end:
    * [[q162]] orders the epoch, [[q172]] reads one shard — this op takes
    * a RANK RANGE of one epoch's permutation (the step's global batch,
    * ranks ([[StepLoRank]], [[StepHiRank]]]) and fetches those sequences'
    * payload rows from the PERSISTED artifact, reading ONLY the shards
    * the range touches. The permutation is a pure function of (seed,
    * epoch, doc, chunk), so the rank range resolves to a (doc, chunk,
    * shard) set without any loader state; the touched-shard set is
    * bounded by the STEP SIZE (≤ hi − lo ids — driver-sized by the
    * batch-size contract, the q105 probed-cell class), and the artifact
    * scan carries `shard IN (touched)` on the partition column —
    * PipelineSpec pins that the scan's PartitionFilters covers exactly
    * the touched shards, never the whole artifact.
    *
    * Scale shape: a filter over the MEMOIZED epoch stream (r15 — the
    * amortization premise made literal: the epoch order is computed
    * once per corpus snapshot and every step reads it), one
    * driver-bounded distinct-shard collect,
    * one partition-pruned multi-directory scan joined batch-to-artifact
    * on (doc, chunk, shard). FULL oracle: the q162 body under the rank
    * range, joined to the q158 chain for the payload columns — the hash
    * compare proves the pruned read returns exactly the step's rows. */
  val StepEpoch = 1L
  val StepLoRank = 3L
  val StepHiRank = 9L

  def q177(s: SparkSession, dir: String): DataFrame = {
    // r15: the step reads the MEMOIZED epoch stream — the doc's own
    // amortization premise ("the epoch order is computed once and
    // consumed by every step") made literal. The memo is already a
    // materialized LogicalRDD, so the shard collect and the returned
    // join share one ranking execution with no per-op localCheckpoint
    // (the snapshot rule is satisfied by the leaf itself).
    val step = epochOrdered(s, dir, Lineage.Pack)
      .filter(col("epoch") === StepEpoch &&
        col("seq_rank") > StepLoRank && col("seq_rank") <= StepHiRank)
      .select(col("epoch"), col("seq_rank"), col("doc_id"), col("chunk_id"),
        col("shard"))
    // batch-bounded by construction: ≤ (StepHiRank − StepLoRank) ids
    val touched = step.select(col("shard")).distinct()
      .collect().map(_.getLong(0)).sorted
    val art = Lineage.Pack.read(s, packArtifact(s, dir))
      .filter(col("shard").isin(touched: _*))
    step.join(art, Seq("doc_id", "chunk_id", "shard"))
      .select(col("epoch"), col("seq_rank"), col("doc_id"), col("chunk_id"),
        col("shard"), col("lang"), col("n_tokens"), col("n_units"),
        col("cum_units"))
      .orderBy(col("seq_rank"))
  }

  lazy val q177Sql: String =
    s"""SELECT r.epoch, r.seq_rank, r.doc_id, r.chunk_id, r.shard,
       |  b.lang, b.n_tokens, b.n_units, b.cum_units
       |FROM ($epochOrderedSql) r
       |JOIN ($q158Sql) b USING (doc_id, chunk_id)
       |WHERE r.epoch = $StepEpoch AND r.seq_rank > $StepLoRank
       |  AND r.seq_rank <= $StepHiRank
       |ORDER BY r.seq_rank""".stripMargin

  // --- 173. SEQUENCE-level decontamination (r12) -----------------------------
  /** q85's eval-overlap check at the granularity modern pipelines
    * actually cut: the CHUNK (sequence), not the document. A long doc
    * that quotes one benchmark example is 99 % good training data —
    * doc-level decontamination (q85→q87→q117) throws the doc away;
    * sequence-level flags exactly the chunks whose own token window
    * shares ≥ [[ContamMinShared]] distinct [[ContamShingleK]]-grams
    * with the eval set, and the loader drops those chunks while the
    * rest of the doc trains. Output = the q158 pack with per-sequence
    * (n_shared, contaminated) columns — the pack minus flagged rows IS
    * the clean loader stream, and the flagged unit mass is the cut
    * accounting. Benchmark docs sampled into the pack self-flag by
    * construction (their chunks share their own shingles) — eval
    * examples must never train, so that is the correct behavior, not
    * an artifact.
    *
    * Scale shape: the pack memo + ONE chunk-text pass (q157's corpus
    * pass — the text-bearing relation is deliberately unmemoized, the
    * Standing sizing contract) shingled map-side against the
    * BROADCAST eval shingle set (q85's rule: the bench side is
    * eval-sized by premise), one map-side-combined per-chunk count,
    * one thin LEFT join back onto the pack. FULL oracle: the q158
    * chain's CTE scope already carries `chunks(… text_chunk)` — the
    * contamination CTEs splice in beside the pack tail. */
  /** The static eval-benchmark shingle set (the q85 rule: doc_id % 97
    * names the suite; distinct [[ContamShingleK]]-grams). Eval-sized by
    * premise — every consumer broadcasts it. */
  private[graft] def benchShingles(s: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(s, dir)
      .filter(col("doc_id") % 97 === 0)
      .select(explode(array_distinct(Text.shingles(
        Text.tokens(col("text")), ContamShingleK))).as("sh"))
      .distinct()

  /** Per-chunk shared-shingle counts against a BROADCAST bench set, over
    * an arbitrary `(doc_id, chunk_id, text_chunk)` relation — ONE rule
    * behind [[q173]]'s flags, [[q174]]'s repack membership, and the
    * serve-seam gate ([[graft.streaming.StreamOps]]'s decontaminated
    * pack fold), so the batch build and the arrival path cannot drift. */
  private[graft] def contamCountsOf(chunks: DataFrame,
      benchSh: DataFrame): DataFrame =
    chunks
      .select(col("doc_id"), col("chunk_id"),
        explode(array_distinct(Text.shingles(
          split(col("text_chunk"), " "), ContamShingleK))).as("sh"))
      .join(broadcast(benchSh), "sh")
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_shared"))

  def q173(s: SparkSession, dir: String): DataFrame = {
    val pack = sequencePack(s, dir)
      .select(col("doc_id"), col("chunk_id"), col("shard"), col("n_units"))
    val cont = contamCountsOf(
      BpeOps.q157(s, dir)
        .select(col("doc_id"), col("chunk_id"), col("text_chunk")),
      benchShingles(s, dir))
    pack.join(cont, Seq("doc_id", "chunk_id"), "left")
      .select(col("doc_id"), col("chunk_id"), col("shard"), col("n_units"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= ContamMinShared)
          .cast("int").as("contaminated"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  lazy val q173Sql: String = {
    val chunkShingles =
      graft.text.Text.shinglesSql("string_split(text_chunk, ' ')",
        ContamShingleK)
    val benchShingles = graft.text.Text.shinglesSql("toks", ContamShingleK)
    s"""$q120CtesSql,
       |${BpeOps.chainCtesSql},
       |${BpeOps.chunkCtesSql},
       |sseq AS (
       |  SELECT t.doc_id, t.lang, c.chunk_id, c.n_tokens, c.n_units,
       |    CAST(('0x' || substr(md5('ord:' || CAST(t.doc_id AS VARCHAR) || ':' ||
       |      CAST(c.chunk_id AS VARCHAR)), 1, 15)) AS BIGINT) AS bkey
       |  FROM t JOIN fxp p USING (lang)
       |  JOIN chunks c ON t.doc_id = c.doc_id
       |  WHERE CAST(('0x' || substr(md5('mix:' || CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    % 1000000 < p.rate_micros),
       |cseq AS (
       |  SELECT doc_id, chunk_id, n_units,
       |    CAST(SUM(n_units) OVER (ORDER BY bkey, doc_id, chunk_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_units
       |  FROM sseq),
       |dpk AS (
       |  SELECT doc_id, chunk_id,
       |    CAST((cum_units - n_units) // $ShardUnitBudget AS BIGINT) AS shard,
       |    n_units
       |  FROM cseq),
       |dbench AS (
       |  SELECT DISTINCT unnest(list_distinct($benchShingles)) AS sh
       |  FROM ctt WHERE doc_id % 97 = 0),
       |dcsh AS (
       |  SELECT doc_id, chunk_id,
       |    unnest(list_distinct($chunkShingles)) AS sh
       |  FROM chunks),
       |dcont AS (
       |  SELECT doc_id, chunk_id, COUNT(*) AS n_shared
       |  FROM dcsh JOIN dbench USING (sh)
       |  GROUP BY doc_id, chunk_id)
       |SELECT p.doc_id, p.chunk_id, p.shard, p.n_units,
       |  COALESCE(c.n_shared, 0) AS n_shared,
       |  CASE WHEN COALESCE(c.n_shared, 0) >= $ContamMinShared
       |    THEN 1 ELSE 0 END AS contaminated
       |FROM dpk p LEFT JOIN dcont c USING (doc_id, chunk_id)
       |ORDER BY doc_id, chunk_id""".stripMargin
  }

  // --- 167. rebuild manifest DIFF (r12) -------------------------------------
  /** Validate a REBUILD against the previous build's manifest without
    * diffing corpora — the manifest's whole purpose, closed as an
    * operator. Register the realistic migration: the shard budget
    * halves ([[OldShardUnitBudget]] = 2×[[ShardUnitBudget]] was the
    * previous build), so boundaries move everywhere the pack outgrew
    * one shard. Both manifests derive from the SAME memoized cumulative
    * stream (shard assignment is a pure projection of `cum_units` under
    * a budget — the start-offset rule), so the diff costs two thin
    * aggregates + one manifest-sized full outer join, never a second
    * pack run. Per shard id: `added` (only in the new build), `removed`
    * (only in the old — the corpus-shrank rebuild case, e.g. after a
    * dedup cut), `same` (every accounting column equal), `changed`
    * (boundaries or masses moved). Dense shard ranges make one of
    * added/removed structurally absent in a pure budget migration
    * (the old range is a prefix of the new); PipelineSpec exercises
    * `removed` on a synthetic shrink. FULL oracle: the q158 chain
    * wrapped once, two budget projections, full outer join. */
  val OldShardUnitBudget: Long = 2L * ShardUnitBudget

  def q167(s: SparkSession, dir: String): DataFrame = {
    val pack = sequencePack(s, dir)
    val newM = sequenceManifestOf(pack)
    val oldM = sequenceManifestOf(pack.withColumn("shard",
      expr(s"(cum_units - n_units) div ${OldShardUnitBudget}L")))
    manifestDiff(oldM, newM)
  }

  /** The diff over two arbitrary sequence manifests (the
    * [[sequenceManifestOf]] shape) — q167's registered instance feeds
    * it the budget migration; a real pipeline feeds it build N and
    * N+1's persisted manifests. */
  private[graft] def manifestDiff(oldM: DataFrame, newM: DataFrame)
      : DataFrame = {
    val o = oldM.select(col("shard"),
      col("n_seqs").as("old_seqs"), col("n_units").as("old_units"),
      col("end_offset").as("old_end"), col("ids_sum").as("old_ids"))
    val n = newM.select(col("shard"),
      col("n_seqs").as("new_seqs"), col("n_units").as("new_units"),
      col("end_offset").as("new_end"), col("ids_sum").as("new_ids"))
    o.join(n, Seq("shard"), "full_outer")
      .withColumn("status",
        when(col("old_seqs").isNull, lit("added"))
          .when(col("new_seqs").isNull, lit("removed"))
          .when(col("old_seqs") === col("new_seqs") &&
            col("old_units") === col("new_units") &&
            col("old_end") === col("new_end") &&
            col("old_ids") === col("new_ids"), lit("same"))
          .otherwise(lit("changed")))
      .select(col("shard"), col("status"),
        col("old_seqs"), col("new_seqs"), col("old_units"), col("new_units"),
        col("old_end"), col("new_end"), col("old_ids"), col("new_ids"))
      .orderBy(col("shard"))
  }

  /** The diff SELECT over `mo`/`mn` manifest CTEs — [[manifestDiff]]'s
    * SQL twin, shared by [[q167Sql]] and [[q174Sql]] so the status rule
    * cannot drift between the two registered migrations. */
  private val manifestDiffSelectSql: String =
    s"""SELECT COALESCE(o.shard, n.shard) AS shard,
       |  CASE WHEN o.shard IS NULL THEN 'added'
       |       WHEN n.shard IS NULL THEN 'removed'
       |       WHEN o.old_seqs = n.new_seqs AND o.old_units = n.new_units
       |         AND o.old_end = n.new_end AND o.old_ids = n.new_ids THEN 'same'
       |       ELSE 'changed' END AS status,
       |  old_seqs, new_seqs, old_units, new_units, old_end, new_end,
       |  old_ids, new_ids
       |FROM mo o FULL OUTER JOIN mn n ON o.shard = n.shard
       |ORDER BY shard""".stripMargin

  lazy val q167Sql: String =
    s"""WITH pk AS (SELECT * FROM ($q158Sql) x),
       |mo AS (
       |  SELECT CAST((cum_units - n_units) // $OldShardUnitBudget AS BIGINT) AS shard,
       |    COUNT(*) AS old_seqs, CAST(SUM(n_units) AS BIGINT) AS old_units,
       |    MAX(cum_units) AS old_end,
       |    CAST(SUM(CASE WHEN chunk_id = 0 THEN $sidSql ELSE 0 END) AS BIGINT) AS old_ids
       |  FROM pk GROUP BY 1),
       |mn AS (
       |  SELECT shard, COUNT(*) AS new_seqs, CAST(SUM(n_units) AS BIGINT) AS new_units,
       |    MAX(cum_units) AS new_end,
       |    CAST(SUM(CASE WHEN chunk_id = 0 THEN $sidSql ELSE 0 END) AS BIGINT) AS new_ids
       |  FROM pk GROUP BY shard)
       |$manifestDiffSelectSql""".stripMargin

  // --- 190. artifact integrity audit (r13) -----------------------------------
  /** The trust-but-verify seam a long-lived 100 TB artifact needs: every
    * publish ([[Lineage.write]] / [[Lineage.compact]]) now persists the
    * manifest BESIDE the data — what that publish shipped — and this op
    * recomputes the manifest from the artifact's CURRENT files and
    * diffs it against the stored one through [[manifestDiff]]'s status
    * rule. `same` everywhere = the artifact still bit-holds what was
    * published (counts, masses, end offsets, membership fingerprints);
    * `removed`/`changed` = lost partitions or bit-rot; `changed` on a
    * shard that took served appends = the documented run-ahead state a
    * compaction re-publish clears (the stored manifest describes
    * publishes, not in-flight appends). PipelineSpec drives the whole
    * lifecycle: clean audit → forged append flags exactly its shard →
    * compaction republishes truth → audit clean again → a deleted shard
    * directory reads as `removed` → rebuild recovers.
    *
    * Scale shape: one map-side-combined manifest aggregate over the
    * artifact scan + a manifest-sized full outer join against the
    * stored parquet (shard-count rows both sides). FULL oracle: both
    * sides replay as the q158 chain's manifest (fresh artifact), so the
    * hash compare proves stored ≡ recomputed ≡ the build — through two
    * independent disk paths. */
  def q190(s: SparkSession, dir: String): DataFrame = {
    val base = packArtifact(s, dir)
    manifestDiff(Lineage.Pack.manifestRead(s, base),
      sequenceManifestOf(Lineage.Pack.read(s, base)))
  }

  // NB: the oracle's stored-manifest CTE (mn) is a verbatim copy of the
  // recomputed one (mo) — valid ONLY under Verify's fresh-artifact
  // premise (packArtifact just published, so stored ≡ recomputed ≡ the
  // q158 chain and every status is 'same'). The non-'same' branches of
  // manifestDiffSelectSql (added/removed/changed after appends or a
  // trimmed directory) are pinned by PipelineSpec's lifecycle tests,
  // not by this oracle.
  lazy val q190Sql: String =
    s"""WITH pk AS (SELECT * FROM ($q158Sql) x),
       |mo AS (
       |  SELECT shard, COUNT(*) AS old_seqs, CAST(SUM(n_units) AS BIGINT) AS old_units,
       |    MAX(cum_units) AS old_end,
       |    CAST(SUM(CASE WHEN chunk_id = 0 THEN $sidSql ELSE 0 END) AS BIGINT) AS old_ids
       |  FROM pk GROUP BY shard),
       |mn AS (
       |  SELECT shard, old_seqs AS new_seqs, old_units AS new_units,
       |    old_end AS new_end, old_ids AS new_ids
       |  FROM mo)
       |$manifestDiffSelectSql""".stripMargin

  // --- 174. the decontaminated REPACK (r13) ----------------------------------
  /** [[q173]] closes with a FLAG; this op closes with the ACTION: re-pack
    * the surviving (unflagged) chunks under the shard budget and publish
    * the result as a fresh artifact lineage beside the shipped build —
    * until it exists, the q165 artifact a loader reads still CONTAINS
    * the flagged sequences. Boundaries must move (shards shrink by
    * exactly the flagged mass ahead of them), so this is a true repack —
    * [[q158]]'s PrefixSum tail over the clean membership, not a filter
    * of the old shard assignment — published under [[graft.GenManifest]]
    * ("packclean" lineage at the same artifact base: a real pipeline
    * publishes generation N+1 of one lineage; two REGISTERED readouts
    * need two lineages so each oracle pins its own content, and a loader
    * pinned on the contaminated build is undisturbed either way).
    *
    * The registered readout is the MIGRATION VALIDATION, both sides
    * read back THROUGH their artifacts: [[manifestDiff]](manifest of the
    * shipped q165 build, manifest of the clean artifact). The driver's
    * hash compare therefore proves (a) the clean pack's exact masses /
    * offsets / fingerprints, (b) that they reconcile against the old
    * build shard-by-shard, and (c) that both survived the disk hop.
    *
    * Scale shape: the pack memo + q173's flag plan (broadcast bench
    * shingles, map-side combined counts) + one anti-join + the PrefixSum
    * two-level scan + the one-shuffle bucketed write — all the q158/q165
    * costs, nothing new; the diff is two thin aggregates + a
    * manifest-sized full outer join. */

  /** The clean sequence pack: q158's build minus flagged chunks,
    * re-packed (fresh cumulative offsets + shard ids) under the SAME
    * bkey order — clean chunks keep their relative order, boundaries
    * move. */
  private[graft] def cleanSequencePack(s: SparkSession, dir: String): DataFrame = {
    val flagged = contamCountsOf(
      BpeOps.q157(s, dir)
        .select(col("doc_id"), col("chunk_id"), col("text_chunk")),
      benchShingles(s, dir))
      .filter(col("n_shared") >= ContamMinShared)
      .select(col("doc_id"), col("chunk_id"))
    val clean = sequencePack(s, dir)
      .join(flagged, Seq("doc_id", "chunk_id"), "left_anti")
      .select(col("doc_id"), col("chunk_id"), col("lang"), col("n_tokens"),
        col("n_units"))
    packAt(clean, Lineage.PackClean.orderPrefix, Lineage.PackClean.keys)
  }

  /** Repack + publish the clean lineage unless it already describes
    * `dir` (the shipped build is ensured first — the migration is FROM
    * it). */
  private[graft] def cleanPackArtifact(s: SparkSession, dir: String): java.io.File = {
    packArtifact(s, dir)
    graft.Standing.artifact(s, "seqpack", Lineage.PackClean.name, dir)(
      Lineage.PackClean.write(_, cleanSequencePack(s, dir)))
  }

  def q174(s: SparkSession, dir: String): DataFrame = {
    val base = cleanPackArtifact(s, dir)
    manifestDiff(
      sequenceManifestOf(Lineage.Pack.read(s, base)),
      sequenceManifestOf(Lineage.PackClean.read(s, base)))
  }

  // --- 178. epoch ordering over the CLEAN artifact (r13) ---------------------
  /** The decontamination loop closed END TO END: [[q173]] flags, [[q174]]
    * repacks and publishes, and THIS op is what the trainer actually
    * consumes afterwards — the [[q162]] seeded per-epoch permutation
    * computed over the CLEAN artifact read back from disk, so flagged
    * sequences are structurally absent from every epoch (not filtered
    * per-epoch: they are not in the relation the permutation ranks).
    * Epoch keys are the SAME (seed, epoch, doc, chunk) rule as q162 —
    * a trainer migrating from the contaminated build to the clean one
    * changes WHICH sequences rank, never the draw rule.
    *
    * Scale shape: one artifact scan + ONE epoch-folded PrefixSum rank scan
    * (the q162 cost over the clean relation). FULL oracle: q174's clean
    * re-pack CTEs crossed with the epoch range under one per-epoch
    * ROW_NUMBER — the hash compare proves the artifact-backed epoch
    * stream is exactly the clean build's permutation. */
  def q178(s: SparkSession, dir: String): DataFrame =
    // the clean epoch stream memoizes like q162's (r15 — the same
    // standing per-snapshot relation, over the clean lineage)
    epochOrdered(s, dir, Lineage.PackClean)
      .orderBy(col("epoch"), col("seq_rank"))

  /** The clean re-pack as spliceable CTEs ending in `cpk` (the clean
    * pack with fresh offsets + shards) — the shared prefix of [[q174Sql]]
    * (which diffs it against the old build) and [[q178Sql]] (which
    * orders epochs over it). */
  private lazy val cleanPackCtesSql: String = {
    val chunkShingles =
      graft.text.Text.shinglesSql("string_split(text_chunk, ' ')",
        ContamShingleK)
    val benchShinglesSql = graft.text.Text.shinglesSql("toks", ContamShingleK)
    s"""$q120CtesSql,
       |${BpeOps.chainCtesSql},
       |${BpeOps.chunkCtesSql},
       |sseq AS (
       |  SELECT t.doc_id, t.lang, c.chunk_id, c.n_tokens, c.n_units,
       |    CAST(('0x' || substr(md5('ord:' || CAST(t.doc_id AS VARCHAR) || ':' ||
       |      CAST(c.chunk_id AS VARCHAR)), 1, 15)) AS BIGINT) AS bkey
       |  FROM t JOIN fxp p USING (lang)
       |  JOIN chunks c ON t.doc_id = c.doc_id
       |  WHERE CAST(('0x' || substr(md5('mix:' || CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    % 1000000 < p.rate_micros),
       |dbench AS (
       |  SELECT DISTINCT unnest(list_distinct($benchShinglesSql)) AS sh
       |  FROM ctt WHERE doc_id % 97 = 0),
       |dcsh AS (
       |  SELECT doc_id, chunk_id,
       |    unnest(list_distinct($chunkShingles)) AS sh
       |  FROM chunks),
       |dflag AS (
       |  SELECT doc_id, chunk_id
       |  FROM dcsh JOIN dbench USING (sh)
       |  GROUP BY doc_id, chunk_id
       |  HAVING COUNT(*) >= $ContamMinShared),
       |cpk AS (
       |  SELECT doc_id, chunk_id, n_units, cum_units,
       |    CAST((cum_units - n_units) // $ShardUnitBudget AS BIGINT) AS shard
       |  FROM (
       |    SELECT s.doc_id, s.chunk_id, s.n_units,
       |      CAST(SUM(s.n_units) OVER (ORDER BY s.bkey, s.doc_id, s.chunk_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_units
       |    FROM sseq s
       |    WHERE NOT EXISTS (SELECT 1 FROM dflag f
       |      WHERE f.doc_id = s.doc_id AND f.chunk_id = s.chunk_id)))""".stripMargin
  }

  /** FULL oracle: the q158 chain once, the q173 contamination CTEs, the
    * clean re-pack as a filtered window, two manifest aggregates, the
    * shared diff tail. */
  lazy val q174Sql: String =
    s"""$cleanPackCtesSql,
       |pk AS (
       |  SELECT doc_id, chunk_id, n_units, cum_units,
       |    CAST((cum_units - n_units) // $ShardUnitBudget AS BIGINT) AS shard
       |  FROM (
       |    SELECT doc_id, chunk_id, n_units,
       |      CAST(SUM(n_units) OVER (ORDER BY bkey, doc_id, chunk_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_units
       |    FROM sseq)),
       |mo AS (
       |  SELECT shard, COUNT(*) AS old_seqs, CAST(SUM(n_units) AS BIGINT) AS old_units,
       |    MAX(cum_units) AS old_end,
       |    CAST(SUM(CASE WHEN chunk_id = 0 THEN $sidSql ELSE 0 END) AS BIGINT) AS old_ids
       |  FROM pk GROUP BY shard),
       |mn AS (
       |  SELECT shard, COUNT(*) AS new_seqs, CAST(SUM(n_units) AS BIGINT) AS new_units,
       |    MAX(cum_units) AS new_end,
       |    CAST(SUM(CASE WHEN chunk_id = 0 THEN $sidSql ELSE 0 END) AS BIGINT) AS new_ids
       |  FROM cpk GROUP BY shard)
       |$manifestDiffSelectSql""".stripMargin

  lazy val q178Sql: String =
    s"""$cleanPackCtesSql
       |SELECT epoch,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch
       |    ORDER BY okey, doc_id, chunk_id) AS BIGINT) AS seq_rank,
       |  doc_id, chunk_id, shard
       |FROM (
       |  SELECT e.epoch, b.doc_id, b.chunk_id, b.shard,
       |    CAST(('0x' || substr(md5('ep:$EpochSeed:' || CAST(e.epoch AS VARCHAR) || ':' ||
       |      CAST(b.doc_id AS VARCHAR) || ':' || CAST(b.chunk_id AS VARCHAR)), 1, 15)) AS BIGINT) AS okey
       |  FROM cpk b CROSS JOIN
       |    (SELECT CAST(unnest(range(0, $Epochs)) AS BIGINT) AS epoch) e) k
       |ORDER BY epoch, seq_rank""".stripMargin

  // --- 179. length-bucketed batch assembly (r13) ----------------------------
  /** The loader's PADDING-efficiency seam: sequences batched naively in
    * arrival order pad every member up to the batch max — on a corpus
    * whose chunk lengths span the whole [1, ChunkUnitBudget] range
    * (every doc's LAST chunk is a remainder), that's real FLOP waste at
    * training time. The standard fix every production loader ships
    * (bucketed batching): group sequences into power-of-two LENGTH
    * buckets (bucket = ⌊log₂ n_units⌋ — exact via the binary-string
    * length, no float log), order deterministically within the bucket
    * (md5 hash key: batches stay decorrelated from corpus order), cut
    * batches of [[LoaderBatchSeqs]], and report each batch's pad mass
    * (n_seqs·max − Σ units) and fill ratio. Within a bucket max/min
    * length differ < 2×, so fill ≥ 0.5 structurally (PipelineSpec pins
    * it, plus full-batch discipline and exact membership).
    *
    * Scale shape: the bucket id folds into the PrefixSum ordering key
    * (bucket·2⁴⁴ + 44-bit hash — bucket-major, hash-spread within), so
    * ONE two-level binned scan ranks every bucket at once — never a
    * per-bucket window (a handful of giant buckets would each sort in
    * one task). Per-bucket rank = global rank − the bucket's offset,
    * where offsets cumulate over the ≤64-row bucket aggregate (the
    * ScalePlanSpec rule: the only unpartitioned window rides aggregated
    * rows) and broadcast back. The batch readout is one map-side-
    * combined groupBy. FULL oracle: ROW_NUMBER per bucket over the q158
    * chain. */
  val LoaderBatchSeqs = 8L

  /** The per-batch relation behind [[q179]] (unordered) and [[q191]]'s
    * epoch scheduling — ONE builder, so the batch-formation rule cannot
    * drift between the readout and the consumption order. Memoized via
    * [[graft.Standing]] (r15): the relation is THIN (five int64s
    * + a double per batch) but its LINEAGE is the whole batch-formation
    * chain (PrefixSum ranked scan + offset window + aggregate), and
    * q191's epoch union referenced that lineage several times per plan
    * — `.cache()` reused the DATA but Catalyst still re-analyzed the
    * full tree per reference (measured: q191 warm 2.4 s at 10 jobs,
    * pure driver planning). The memo's localCheckpoint truncates the
    * plan to a LogicalRDD leaf, the sequencePack treatment one level
    * up; blocks owned by the family memo, released at the group
    * boundary. */
  private def lengthBatches(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("length_batches", dir)(
      lengthBatchesPlan(s, dir))

  /** The unmemoized batch-formation plan (ScalePlanSpec pins the window
    * discipline here — the memo readout is a LogicalRDD with no windows
    * to inspect). */
  private[graft] def lengthBatchesPlan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Num
    val lb = sequencePack(s, dir)
      .select(col("doc_id"), col("chunk_id"), col("n_units"))
      .withColumn("bucket", (length(bin(col("n_units"))) - 1).cast("long"))
      .withColumn("okey",
        col("bucket") * lit(1L << 44) +
          HexKey("lb:", 11, col("doc_id"), col("chunk_id")))
    val ranked = graft.functions.PrefixSum
      .withRunningSum(lb.withColumn("one", lit(1L)), "okey",
        Seq("doc_id", "chunk_id"), "one", "grank",
        span = Some((0L, 64L << 44)))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = ranked.groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
      .withColumn("off", sum(col("bn")).over(w) - col("bn"))
      .select(col("bucket"), col("off"))
    ranked.join(broadcast(offs), "bucket")
      .withColumn("batch_id",
        expr(s"(grank - off - 1) div ${LoaderBatchSeqs}L"))
      .groupBy(col("bucket"), col("batch_id"))
      .agg(count(lit(1)).as("n_seqs"), max(col("n_units")).as("max_units"),
        sum(col("n_units")).as("sum_units"))
      .withColumn("pad_units",
        col("n_seqs") * col("max_units") - col("sum_units"))
      .withColumn("fill",
        Num.ratio6(col("sum_units"), col("n_seqs") * col("max_units")))
  }

  def q179(s: SparkSession, dir: String): DataFrame =
    lengthBatches(s, dir).orderBy(col("bucket"), col("batch_id"))

  /** The batch-formation chain as spliceable CTEs ending in
    * `bt(bucket, batch_id, n_seqs, max_units, sum_units)` — shared by
    * [[q179Sql]] and [[q191Sql]]. */
  private lazy val lengthBatchesCtesSql: String =
    s"""lb AS (
       |  SELECT doc_id, chunk_id, n_units,
       |    CAST(length(bin(n_units)) - 1 AS BIGINT) AS bucket,
       |    CAST(('0x' || substr(md5('lb:' || CAST(doc_id AS VARCHAR) || ':' ||
       |      CAST(chunk_id AS VARCHAR)), 1, 11)) AS BIGINT) AS hkey
       |  FROM ($q158Sql) _p),
       |lbr AS (
       |  SELECT bucket, n_units,
       |    CAST((ROW_NUMBER() OVER (PARTITION BY bucket
       |      ORDER BY hkey, doc_id, chunk_id) - 1) // $LoaderBatchSeqs AS BIGINT)
       |      AS batch_id
       |  FROM lb),
       |bt AS (
       |  SELECT bucket, batch_id, COUNT(*) AS n_seqs,
       |    MAX(n_units) AS max_units, CAST(SUM(n_units) AS BIGINT) AS sum_units
       |  FROM lbr GROUP BY bucket, batch_id)""".stripMargin

  lazy val q179Sql: String = {
    import graft.functions.Num
    s"""WITH $lengthBatchesCtesSql
       |SELECT bucket, batch_id, n_seqs, max_units, sum_units,
       |  n_seqs * max_units - sum_units AS pad_units,
       |  ${Num.ratio6Sql("sum_units", "n_seqs * max_units")} AS fill
       |FROM bt
       |ORDER BY bucket, batch_id""".stripMargin
  }

  // --- 191. per-epoch batch schedule (r13) ------------------------------------
  /** The consumption order a bucketed-batching loader ACTUALLY runs:
    * [[q179]] forms padding-efficient batches by length bucket, but
    * consuming them bucket-by-bucket would feed the model all-short
    * then all-long sequences (a known curriculum artifact) — so the
    * loader shuffles the BATCHES, not the sequences, each epoch:
    * intra-batch locality (and its pad efficiency) is preserved, the
    * schedule decorrelates from length. Same seeded draw law as
    * [[q162]] under a fresh prefix: a pure function of (seed, epoch,
    * bucket, batch), replayable on a fresh cluster.
    *
    * Scale shape: the batch relation is corpus/B-sized (still
    * cluster-scale at 100 TB — never driver-held), ranked by the SAME
    * epoch-folded PrefixSum binned scan as q162 (the md5 okey is the
    * hash-spread bin key; tiebreak (bucket, batch_id)). FULL oracle:
    * the shared batch CTEs crossed with the epoch range under one
    * per-epoch ROW_NUMBER. */
  def q191(s: SparkSession, dir: String): DataFrame = {
    val bt = lengthBatches(s, dir)
      .select(col("bucket"), col("batch_id"), col("n_seqs"), col("sum_units"))
    val keyed = (0 until Epochs).map { e =>
      bt.withColumn("epoch", lit(e.toLong))
        .withColumn("okey",
          HexKey(s"bb:$EpochSeed:$e:", 15, col("bucket"), col("batch_id")))
    }.reduce(_ unionAll _)
    rankEpochsFolded(keyed, Seq("bucket", "batch_id"), "batch_rank")
      .select(col("epoch"), col("batch_rank"), col("bucket"), col("batch_id"),
        col("n_seqs"), col("sum_units"))
      .orderBy(col("epoch"), col("batch_rank"))
  }

  lazy val q191Sql: String =
    s"""WITH $lengthBatchesCtesSql
       |SELECT epoch,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch
       |    ORDER BY okey, bucket, batch_id) AS BIGINT) AS batch_rank,
       |  bucket, batch_id, n_seqs, sum_units
       |FROM (
       |  SELECT e.epoch, b.bucket, b.batch_id, b.n_seqs, b.sum_units,
       |    CAST(('0x' || substr(md5('bb:$EpochSeed:' || CAST(e.epoch AS VARCHAR) || ':' ||
       |      CAST(b.bucket AS VARCHAR) || ':' || CAST(b.batch_id AS VARCHAR)), 1, 15)) AS BIGINT) AS okey
       |  FROM bt b CROSS JOIN
       |    (SELECT CAST(unnest(range(0, $Epochs)) AS BIGINT) AS epoch) e) k
       |ORDER BY epoch, batch_rank""".stripMargin

  // --- 183. duplication-aware loss weights on the pack (r13) ----------------
  /** SOFT dedup — the alternative to cutting duplicates that production
    * corpora increasingly ship: keep every near-dup cluster member in
    * the training stream but DOWNWEIGHT its loss contribution by the
    * cluster size, so a 40-way boilerplate cluster contributes ~one
    * document's worth of gradient instead of 40 (and rare text keeps
    * full weight). Cluster sizes come from the production dedup path's
    * connected components ([[DedupOps.q74]] — the family-memoized cc50
    * labels over the MinHash-verified q50 edges); the weight is the
    * exact half-away micros division 10⁶/csize (singletons = 10⁶ by
    * construction), landed per SEQUENCE on the q158 pack — the relation
    * a weighted-loss loader actually reads.
    *
    * Scale shape: the label relation is the memoized CC output (one
    * int64 pair per doc); cluster sizes are a map-side-combined groupBy
    * on root; both joins are doc_id/root equi-joins (AQE broadcasts the
    * csize side while it fits). Nothing here adds a corpus pass — the
    * expensive parts (pack, dedup graph) are the family memos. FULL
    * oracle: the q50 recursive-CTE CC (OUTER scope — the q158 chain
    * nests as a subquery, so its q49-CC names shadow cleanly) joined to
    * the pack chain. */
  /** The weighted pack relation behind [[q183]] (unordered) and
    * [[q188]]'s manifest — ONE builder, so the weight rule cannot
    * drift between the per-sequence readout and its budget aggregate. */
  private def softWeightedPack(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Num
    val labels = DedupOps.q74(s, dir).select(col("doc_id"), col("root"))
    val csz = labels.groupBy(col("root")).agg(count(lit(1)).as("csize"))
    val lbl = labels.join(csz, "root").select(col("doc_id"), col("csize"))
    sequencePack(s, dir)
      .select(col("doc_id"), col("chunk_id"), col("n_units"), col("shard"))
      .join(lbl, "doc_id")
      .withColumn("w_micros",
        Num.idivHalfAway(lit(1000000L), col("csize")))
  }

  def q183(s: SparkSession, dir: String): DataFrame =
    softWeightedPack(s, dir).orderBy(col("doc_id"), col("chunk_id"))

  lazy val q183Sql: String = {
    import graft.functions.Num
    s"""WITH RECURSIVE ${DedupOps.ccCtesSql(DedupOps.q50PairsSql)},
       |csz AS (SELECT root, CAST(COUNT(*) AS BIGINT) AS csize
       |  FROM roots GROUP BY root),
       |lbl AS (SELECT r.doc_id, c.csize FROM roots r JOIN csz c USING (root))
       |SELECT p.doc_id, p.chunk_id, p.n_units, p.shard, l.csize,
       |  ${Num.idivHalfAwaySql("1000000", "l.csize")} AS w_micros
       |FROM ($q158Sql) p JOIN lbl l USING (doc_id)
       |ORDER BY doc_id, chunk_id""".stripMargin
  }

  // --- 188. effective-mass manifest under soft-dedup weights (r13) -----------
  /** [[q183]]'s budget readout — the number a weighted-loss training run
    * actually budgets by: per shard, the RAW unit mass next to the
    * EFFECTIVE unit mass (Σ units·w — what the gradient actually sees
    * once duplicates are downweighted). The gap between the two columns
    * IS the corpus' duplication tax, shard by shard; a run that budgets
    * steps on raw mass over-trains duplicated shards. Sums accumulate
    * in exact integer unit-micros on the DECIMAL(38,0) lattice (raw
    * units × 10⁶ at corpus scale overflows int64 — the q184 regime) and
    * surface as half-away unit integers.
    *
    * Scale shape: [[softWeightedPack]]'s plan + ONE map-side-combined
    * groupBy(shard) — manifest rows are shard-count-sized. FULL oracle:
    * the q183 body nested (its ORDER BY stripped), same aggregate. */
  def q188(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Num
    softWeightedPack(s, dir)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_seqs"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_units")).as("raw_units"),
        Num.idivHalfAwayBig(
          sum(Num.big(col("n_units")) * Num.big(col("w_micros"))),
          lit(1000000L)).cast("long").as("effective_units"))
      .orderBy(col("shard"))
  }

  lazy val q188Sql: String = {
    import graft.functions.Num
    // strip the FINAL ORDER BY only — the nested q158 chain carries its
    // own "\nORDER BY" lines, so a split-at-first would truncate the body
    val body = q183Sql.substring(0, q183Sql.lastIndexOf("\nORDER BY"))
    s"""SELECT shard, COUNT(*) AS n_seqs,
       |  COUNT(DISTINCT doc_id) AS n_docs,
       |  CAST(SUM(n_units) AS BIGINT) AS raw_units,
       |  CAST(${Num.idivHalfAwaySql(
            "SUM(CAST(n_units AS HUGEINT) * w_micros)", "1000000")}
       |    AS BIGINT) AS effective_units
       |FROM ($body) _w
       |GROUP BY shard
       |ORDER BY shard""".stripMargin
  }

  // --- 192. shard-level mixture skew report (r13) -----------------------------
  /** The mixture-preservation QA a loader-facing build ships with: the
    * q120 fixpoint fixes the CORPUS-level language mixture, but a
    * training step reads SHARDS ([[q172]]/[[q177]]) — if the pack's
    * hash order ever correlated with language, per-step batches would
    * see a skewed mixture even though the corpus total is exact. One
    * row per (shard, lang): the shard's unit share of that language vs
    * the pack-wide share, and the absolute skew in micros — the number
    * a build report alarms on. Shares are exact half-away micros on
    * the DECIMAL(38,0) lattice (shard and corpus unit masses — the
    * q184 regime).
    *
    * Scale shape: two map-side-combined aggregates over the pack memo
    * ((shard, lang) and lang) + a broadcast of the ≤\|langs\| global
    * share relation + a shard-keyed thin join of per-shard totals.
    * FULL oracle: the q158 chain nested once, same three aggregates. */
  def q192(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Num
    val pack = sequencePack(s, dir)
      .select(col("shard"), col("lang"), col("n_units"))
    val cell = pack.groupBy(col("shard"), col("lang"))
      .agg(sum(col("n_units")).as("units"))
    val perShard = cell.groupBy(col("shard"))
      .agg(sum(col("units")).as("shard_units"))
    val global = cell.groupBy(col("lang"))
      .agg(sum(col("units")).as("lang_units"))
      .crossJoin(broadcast(
        pack.agg(sum(col("n_units")).as("total_units"))))
      .select(col("lang"),
        Num.idivHalfAwayBig(
          Num.big(col("lang_units")) * Num.big(lit(1000000L)),
          col("total_units")).cast("long").as("global_micros"))
    cell.join(perShard, "shard")
      .withColumn("share_micros",
        Num.idivHalfAwayBig(
          Num.big(col("units")) * Num.big(lit(1000000L)),
          col("shard_units")).cast("long"))
      .join(broadcast(global), "lang")
      .withColumn("skew_micros",
        abs(col("share_micros") - col("global_micros")))
      .select(col("shard"), col("lang"), col("units"), col("share_micros"),
        col("global_micros"), col("skew_micros"))
      .orderBy(col("shard"), col("lang"))
  }

  lazy val q192Sql: String = {
    import graft.functions.Num
    s"""WITH pk AS (SELECT shard, lang, n_units FROM ($q158Sql) _x),
       |cell AS (
       |  SELECT shard, lang, CAST(SUM(n_units) AS BIGINT) AS units
       |  FROM pk GROUP BY shard, lang),
       |pshard AS (
       |  SELECT shard, CAST(SUM(units) AS BIGINT) AS shard_units
       |  FROM cell GROUP BY shard),
       |gtot AS (SELECT CAST(SUM(n_units) AS BIGINT) AS total_units FROM pk),
       |gshare AS (
       |  SELECT lang,
       |    CAST(${Num.idivHalfAwaySql(
              "CAST(SUM(units) AS HUGEINT) * 1000000",
              "(SELECT total_units FROM gtot)")} AS BIGINT) AS global_micros
       |  FROM cell GROUP BY lang)
       |SELECT c.shard, c.lang, c.units,
       |  CAST(${Num.idivHalfAwaySql(
            "CAST(c.units AS HUGEINT) * 1000000", "p.shard_units")}
       |    AS BIGINT) AS share_micros,
       |  g.global_micros,
       |  ABS(CAST(${Num.idivHalfAwaySql(
            "CAST(c.units AS HUGEINT) * 1000000", "p.shard_units")}
       |    AS BIGINT) - g.global_micros) AS skew_micros
       |FROM cell c JOIN pshard p USING (shard) JOIN gshare g USING (lang)
       |ORDER BY shard, lang""".stripMargin
  }

  // --- 184. data-constrained repeat planner (r13) ----------------------------
  /** The pretraining-budget planning readout (the data-constrained
    * scaling question — Muennighoff et al. 2023, arXiv:2305.16264): given
    * a token budget of [[RepeatFactor]]× the corpus' own subword mass
    * and a TARGET mixture ([[RepeatWeights]], explicit policy micros —
    * the q110 broadcast-policy pattern), how many EPOCHS of each
    * language does the plan need, where does the repeat cap
    * ([[MaxRepeats]] — repeated data's value decays fast past a few
    * epochs) bind,
    * and how many tokens go unfilled? Everything is exact integer
    * arithmetic on the DECIMAL(38,0) lattice (corpus token masses at the
    * 100 TB design point overflow int64 products — the MixDecimalSpec
    * regime), so the plan replays bit-for-bit in the oracle's HUGEINT.
    *
    * Scale shape: ONE map-side-combined groupBy(lang) over the
    * tokenizer family's per-doc unit relation + a 1-row total and a
    * ≤\|policy\| literal table, both broadcast. The budget is
    * PROPORTIONAL to the corpus (factor × measured mass), so the plan
    * is meaningful at every SF — a fixed absolute budget would go
    * vacuous at 1000× the data. Languages outside the policy table are
    * out of the plan's scope by contract (inner join — the policy IS
    * the plan). */
  val RepeatFactor = 3L
  val MaxRepeats = 3L
  val RepeatWeights: Seq[(String, Long)] = Seq(
    "en" -> 500000L, "zh" -> 200000L, "es" -> 120000L,
    "de" -> 100000L, "fr" -> 80000L)

  def q184(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Num
    import s.implicits._
    val avail = BpeOps.docUnits(s, dir)
      .join(graft.Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id")
      .groupBy(col("lang")).agg(sum(col("n_units")).as("m_units"))
    val tot = avail.agg(sum(col("m_units")).as("t_units"))
    val w = RepeatWeights.toDF("lang", "w_micros")
    avail.join(broadcast(w), "lang")
      .crossJoin(broadcast(tot))
      .withColumn("target_units",
        Num.idivHalfAwayBig(
          Num.big(lit(RepeatFactor)) * Num.big(col("t_units")) *
            Num.big(col("w_micros")), lit(1000000L)).cast("long"))
      .withColumn("repeats_micros",
        Num.idivHalfAwayBig(
          Num.big(col("target_units")) * Num.big(lit(1000000L)),
          col("m_units")).cast("long"))
      .withColumn("capped_micros",
        least(col("repeats_micros"), lit(MaxRepeats * 1000000L)))
      .withColumn("achievable_units",
        Num.idivHalfAwayBig(
          Num.big(col("m_units")) * Num.big(col("capped_micros")),
          lit(1000000L)).cast("long"))
      .withColumn("shortfall_units",
        greatest(col("target_units") - col("achievable_units"), lit(0L)))
      .select(col("lang"), col("m_units"), col("w_micros"),
        col("target_units"), col("repeats_micros"), col("capped_micros"),
        col("achievable_units"), col("shortfall_units"))
      .orderBy(col("lang"))
  }

  lazy val q184Sql: String = {
    import graft.functions.Num
    val wRows = RepeatWeights
      .map { case (l, m) => s"('$l', CAST($m AS BIGINT))" }.mkString(", ")
    s"""WITH ${BpeOps.chainCtesSql},
       |${BpeOps.docUnitsCtesSql},
       |rpw(lang, w_micros) AS (SELECT * FROM (VALUES $wRows)),
       |avail AS (
       |  SELECT d.lang, CAST(SUM(u.n_units) AS BIGINT) AS m_units
       |  FROM bpeun u JOIN documents d USING (doc_id)
       |  GROUP BY d.lang),
       |rtot AS (SELECT CAST(SUM(m_units) AS BIGINT) AS t_units FROM avail),
       |plan1 AS (
       |  SELECT a.lang, a.m_units, w.w_micros,
       |    CAST(${Num.idivHalfAwaySql(
              s"$RepeatFactor * CAST(t.t_units AS HUGEINT) * w.w_micros",
              "1000000")} AS BIGINT) AS target_units
       |  FROM avail a JOIN rpw w USING (lang) CROSS JOIN rtot t),
       |plan2 AS (
       |  SELECT *,
       |    CAST(${Num.idivHalfAwaySql(
              "CAST(target_units AS HUGEINT) * 1000000", "m_units")}
       |      AS BIGINT) AS repeats_micros
       |  FROM plan1),
       |plan3 AS (
       |  SELECT *,
       |    LEAST(repeats_micros, ${MaxRepeats * 1000000L}) AS capped_micros
       |  FROM plan2)
       |SELECT lang, m_units, w_micros, target_units, repeats_micros,
       |  capped_micros,
       |  CAST(${Num.idivHalfAwaySql(
            "CAST(m_units AS HUGEINT) * capped_micros", "1000000")}
       |    AS BIGINT) AS achievable_units,
       |  GREATEST(target_units - CAST(${Num.idivHalfAwaySql(
            "CAST(m_units AS HUGEINT) * capped_micros", "1000000")}
       |    AS BIGINT), 0) AS shortfall_units
       |FROM plan3
       |ORDER BY lang""".stripMargin
  }

  // --- 185. per-batch loader manifest (r13) ----------------------------------
  /** The integrity seam at BATCH granularity: q159/q165 manifest the
    * pack per shard, but what a training job consumes (and what a
    * reproducibility audit replays) is the per-(epoch, step) BATCH —
    * this op emits one manifest row per batch of [[LoaderBatchSeqs]]
    * consecutive sequences in each epoch's [[q162]] order: member
    * count, unit mass, and an order-independent membership checksum
    * (Σ of a 48-bit md5 derivation per member — exact int64). The sum
    * detects membership, count, and mass changes within a batch
    * (re-delivered = double-counted members shift it); its ORDER
    * independence is intentional — intra-batch reordering is
    * checksum-invariant by design (batches are sets to the optimizer
    * step), and a compensating membership swap across two batches of
    * the same epoch moves both batch rows even though the epoch total
    * is unchanged — which is why the audit reads per-batch rows, not
    * just the per-epoch totals.
    * Because every epoch permutes the SAME membership, each epoch's
    * checksum/unit TOTALS are identical while its per-batch rows differ
    * — exactly the invariant a loader audit checks first (PipelineSpec
    * pins it).
    *
    * Scale shape: the epoch-folded PrefixSum rank scan ([[q162]]'s), a
    * thin n_units column joined back from the pack memo,
    * and one map-side-combined groupBy(epoch, batch) — batch rows are
    * pack/B-sized, never corpus-held. FULL oracle: the q158 chain
    * nested once, ranked per epoch, grouped by the same batch rule. */
  def q185(s: SparkSession, dir: String): DataFrame = {
    // r15: consume the MEMOIZED epoch stream (one ranking per corpus
    // snapshot, the q177 amortization premise) and join the thin unit
    // masses back on (doc, chunk) — AQE broadcasts the pack side
    val pack = sequencePack(s, dir)
      .select(col("doc_id"), col("chunk_id"), col("n_units"))
    epochOrdered(s, dir, Lineage.Pack)
      .join(pack, Seq("doc_id", "chunk_id"))
      .withColumn("batch_id",
        expr(s"(seq_rank - 1) div ${LoaderBatchSeqs}L"))
      .withColumn("ck",
        HexKey("bm:", 12, col("doc_id"), col("chunk_id")))
      .groupBy(col("epoch"), col("batch_id"))
      .agg(count(lit(1)).as("n_seqs"), sum(col("n_units")).as("n_units"),
        sum(col("ck")).as("checksum"))
      .orderBy(col("epoch"), col("batch_id"))
  }

  lazy val q185Sql: String =
    s"""WITH bpk AS (SELECT doc_id, chunk_id, n_units FROM ($q158Sql) _x),
       |keyed AS (
       |  SELECT e.epoch, b.doc_id, b.chunk_id, b.n_units,
       |    CAST(('0x' || substr(md5('ep:$EpochSeed:' || CAST(e.epoch AS VARCHAR) || ':' ||
       |      CAST(b.doc_id AS VARCHAR) || ':' || CAST(b.chunk_id AS VARCHAR)), 1, 15)) AS BIGINT) AS okey
       |  FROM bpk b CROSS JOIN
       |    (SELECT CAST(unnest(range(0, $Epochs)) AS BIGINT) AS epoch) e),
       |ranked AS (
       |  SELECT epoch, doc_id, chunk_id, n_units,
       |    CAST((ROW_NUMBER() OVER (PARTITION BY epoch
       |      ORDER BY okey, doc_id, chunk_id) - 1) // $LoaderBatchSeqs AS BIGINT)
       |      AS batch_id
       |  FROM keyed)
       |SELECT epoch, batch_id, COUNT(*) AS n_seqs,
       |  CAST(SUM(n_units) AS BIGINT) AS n_units,
       |  CAST(SUM(CAST(('0x' || substr(md5('bm:' || CAST(doc_id AS VARCHAR) || ':' ||
       |    CAST(chunk_id AS VARCHAR)), 1, 12)) AS BIGINT)) AS BIGINT) AS checksum
       |FROM ranked
       |GROUP BY epoch, batch_id
       |ORDER BY epoch, batch_id""".stripMargin

  // --- 196. multimodal-interleaved pack (r14 VERDICT #2) ----------------------
  /** The two halves the engine already had, composed: q135/q136 decode
    * image/audio payloads and q158 packs text sequences — this op packs
    * BOTH modalities into ONE budgeted sequence stream, the shape a
    * multimodal pretraining loader actually consumes. Payload BYTES stay
    * out of the pack: each non-text row carries a LOCATOR (the
    * binaryFile-path seam — `img://<doc>` / `wav://<doc>` here, an
    * object-store URI in production) plus its unit cost, and the loader
    * fetches payloads at read time. Unit costs are the decode
    * pipelines' own geometry, token-equivalent by construction:
    *  - image: ViT-style patch count over the [[graft.multimodal.MultiModal.ImgWidth]]-
    *    wide gray8 render q135 decodes — height = ⌈bytes/32⌉ (min 1,
    *    [[graft.multimodal.MultiModal]].grayImageOf's floor), patches =
    *    (32/[[MmPatch]]) · ⌈h/[[MmPatch]]⌉;
    *  - audio: frame count over q136's PCM16 encode — ⌈bytes/[[MmHop]]⌉
    *    (one unit per 10 ms hop at 16 kHz).
    * Membership rides the mixture-sampled corpus (the q152 build —
    * a doc's image trains only if the doc was admitted), with
    * deterministic modality coverage (doc_id ≡ 0 mod [[MmImgMod]] has
    * an image, mod [[MmAudMod]] audio — both for their lcm, so shards
    * interleave all three modalities). The pack tail is q158's
    * verbatim: one exact [[graft.functions.PrefixSum]] over n_units on
    * the md5 bkey rule (modality folded into the key string so the
    * interleave is deterministic), shard = the start-offset rule under
    * the SAME [[ShardUnitBudget]] — text chunks, patch grids and audio
    * frames draw on one budget, which is exactly what keeps a
    * multimodal batch's step cost flat.
    *
    * FULL oracle despite the codecs: the unit ACCOUNTING is pure
    * geometry over payload byte length (strlen ↔ octet_length), so
    * DuckDB replays membership, unit costs, the interleave and the
    * shard boundaries exactly — the hash compare pins all of it. The
    * spec reconciles each modality's packed mass against the decode
    * pipeline's own features (patch count from the REAL q135 decode
    * geometry) and pins that no payload bytes enter the relation.
    *
    * Scale shape: the pack memo + one thin doc-keyed join per modality
    * (locators and byte lengths — never payloads) + the two-level
    * PrefixSum scan; modality rows are O(member docs), the stream
    * never holds a pixel. */
  val MmImgMod = 3L
  val MmAudMod = 5L
  val MmPatch = 16L
  val MmHop = 160L

  /** IMAGE/AUDIO modality rows `(doc_id, seq_id, modality, locator,
    * n_units)` for an arbitrary `(doc_id, text)` relation — the q196
    * geometry rules as ONE definition, shared by the batch build
    * ([[multimodalRows]]) and the serve seam
    * ([[graft.streaming.StreamOps.mmPack]]), the chunkReadout rule
    * applied to modality rows: the two paths cannot drift. */
  private[graft] def modalityRowsOf(docs: DataFrame): DataFrame = {
    val bytes = docs
      .select(col("doc_id"), octet_length(col("text")).cast("long")
        .as("n_bytes"))
    val img = bytes.filter(pmod(col("doc_id"), lit(MmImgMod)) === 0)
      .select(col("doc_id"), lit(0L).as("seq_id"),
        lit("image").as("modality"),
        concat(lit("img://"), col("doc_id")).as("locator"),
        expr(s"(${graft.multimodal.MultiModal.ImgWidth}L div ${MmPatch}L) * " +
          s"((greatest((n_bytes + ${graft.multimodal.MultiModal.ImgWidth - 1}L) div " +
          s"${graft.multimodal.MultiModal.ImgWidth}L, 1L) + ${MmPatch - 1}L) div ${MmPatch}L)")
          .as("n_units"))
    val aud = bytes.filter(pmod(col("doc_id"), lit(MmAudMod)) === 0)
      .select(col("doc_id"), lit(0L).as("seq_id"),
        lit("audio").as("modality"),
        concat(lit("wav://"), col("doc_id")).as("locator"),
        expr(s"(n_bytes + ${MmHop - 1}L) div ${MmHop}L").as("n_units"))
    img.unionAll(aud)
  }

  /** (doc_id, seq_id, modality, locator, n_units) rows for all three
    * modalities — [[q196]]'s input, exposed for PipelineSpec's per-
    * modality mass reconciliation. */
  private[graft] def multimodalRows(s: SparkSession, dir: String): DataFrame = {
    val members = packedBuild(s, dir).select(col("doc_id")).distinct()
    Lineage.MmPack.rowsOf(sequencePack(s, dir), graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).join(members, "doc_id"))
  }

  def q196(s: SparkSession, dir: String): DataFrame =
    mmPack(s, dir).orderBy(col("doc_id"), col("modality"), col("seq_id"))

  /** The multimodal pack, memoized per (family run, dir) — the
    * packedBuild/sequencePack treatment one modality wider (r15):
    * q196's registered readout, q197's artifact write, and the spec
    * reconciliations all consume ONE materialization. */
  private def mmPack(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("mm_pack", dir)(mmPackPlan(s, dir))

  /** The unmemoized multimodal-pack plan. */
  private[graft] def mmPackPlan(s: SparkSession, dir: String): DataFrame =
    packAt(multimodalRows(s, dir), Lineage.MmPack.orderPrefix,
      Lineage.MmPack.keys)

  /** FULL oracle: the q158 chain (membership + chunk units) + the two
    * modality CTEs' geometry arithmetic + the same windowed prefix sum.
    * The CTE list is factored ([[mmPackCtesSql]], ending in `mpack`) so
    * [[q207Sql]] can splice the gen-N mm pack into the SAME scope as
    * its arrival CTEs (the q158 pkseq/pkcum/pkfin precedent — DuckDB
    * rejects nested CTE alias collisions, so composition happens at one
    * level). */
  lazy val q196Sql: String =
    s"""$q120CtesSql,
       |${BpeOps.chainCtesSql},
       |${BpeOps.chunkCtesSql},
       |$mmPackCtesSql
       |SELECT doc_id, seq_id, modality, locator, n_units, cum_units, shard
       |FROM mpack
       |ORDER BY doc_id, modality, seq_id""".stripMargin

  /** The mm-pack CTE list (msel … mpack) — assumes the q120 chain +
    * BPE chain + chunk CTEs are already in scope. Exposed to
    * [[AmortizedSql]] so the standing `c_mmpack` table can replace the
    * inline pack derivation in the amortized pass. */
  private[operators] lazy val mmPackCtesSql: String = {
    val w = graft.multimodal.MultiModal.ImgWidth
    s"""msel AS (
       |  SELECT t.doc_id FROM t JOIN fxp p USING (lang)
       |  WHERE CAST(('0x' || substr(md5('mix:' || CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    % 1000000 < p.rate_micros),
       |mtxt AS (
       |  SELECT m.doc_id, c.chunk_id AS seq_id, 'text' AS modality,
       |    'txt://' || m.doc_id || ':' || c.chunk_id AS locator, c.n_units
       |  FROM msel m JOIN chunks c ON m.doc_id = c.doc_id),
       |mbytes AS (
       |  SELECT d.doc_id, CAST(strlen(d.text) AS BIGINT) AS n_bytes
       |  FROM documents d JOIN msel USING (doc_id)),
       |mimg AS (
       |  SELECT doc_id, CAST(0 AS BIGINT) AS seq_id, 'image' AS modality,
       |    'img://' || doc_id AS locator,
       |    CAST(($w // $MmPatch) *
       |      ((GREATEST((n_bytes + ${w - 1}) // $w, 1) + ${MmPatch - 1})
       |        // $MmPatch) AS BIGINT) AS n_units
       |  FROM mbytes WHERE doc_id % $MmImgMod = 0),
       |maud AS (
       |  SELECT doc_id, CAST(0 AS BIGINT) AS seq_id, 'audio' AS modality,
       |    'wav://' || doc_id AS locator,
       |    CAST((n_bytes + ${MmHop - 1}) // $MmHop AS BIGINT) AS n_units
       |  FROM mbytes WHERE doc_id % $MmAudMod = 0),
       |mall AS (
       |  SELECT * FROM mtxt UNION ALL SELECT * FROM mimg
       |  UNION ALL SELECT * FROM maud),
       |mkey AS (
       |  SELECT *, CAST(('0x' || substr(md5('mm:' || modality || ':' ||
       |    CAST(doc_id AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)), 1, 15))
       |    AS BIGINT) AS bkey
       |  FROM mall),
       |mcum AS (
       |  SELECT doc_id, seq_id, modality, locator, n_units,
       |    CAST(SUM(n_units) OVER (ORDER BY bkey, modality, doc_id, seq_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_units
       |  FROM mkey),
       |mpack AS (
       |  SELECT doc_id, seq_id, modality, locator, n_units, cum_units,
       |    CAST((cum_units - n_units) // $ShardUnitBudget AS BIGINT) AS shard
       |  FROM mcum)""".stripMargin
  }

  // --- 197. the PERSISTED multimodal-pack artifact (r14) ----------------------
  /** [[q196]] closed the multimodal build; this op closes its
    * LIFECYCLE — the q165 treatment for the multimodal stream: the pack
    * persisted shard-partitioned under its own [[graft.GenManifest]]
    * lineage (`mmpack`, own artifact base), read back through the
    * `graftpack` DSv2 table, and manifested by [[mmManifestOf]] — one
    * row per shard carrying row/doc counts, PER-MODALITY unit masses
    * (the number a multimodal loader budgets each modality's step cost
    * by), total mass, end offset, and an order-independent 40-bit
    * member fingerprint over (modality, doc, seq) — every row counted
    * exactly once (the triple is unique by construction, so no chunk-0
    * attribution rule is needed).
    *
    * Registered readout = the manifest over the PERSISTED artifact;
    * oracle = the same aggregate over the q196 chain — the hash compare
    * IS the artifact round-trip contract (locators, modality masses,
    * offsets and fingerprints all survive the disk hop), q165's proof
    * shape at the multimodal granularity. [[Lineage.write]] persists the
    * manifest beside the data from the in-memory relation (the q190
    * audit seam — corruption cannot notarize itself), under the same
    * atomic generation flip + GC contract; a pinned loader keeps its
    * generation across rebuilds.
    *
    * Scale shape: one pack-sized shuffle at write (repartition on
    * shard → one file per shard), then the manifest is one
    * map-side-combined groupBy(shard) over the partition-pruned
    * artifact scan. */

  /** The multimodal-manifest AGGREGATE over an arbitrary [[q196]]-shaped
    * relation `(doc_id, seq_id, modality, locator, n_units, cum_units,
    * shard)` — ONE definition behind the registered readout, the
    * persisted manifest, and PipelineSpec's reconciliations. */
  private[graft] def mmManifestOf(pack: DataFrame): DataFrame =
    pack
      .withColumn("mmid",
        HexKey("mmid:", 10, col("modality"), col("doc_id"), col("seq_id")))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(when(col("modality") === "text", col("n_units"))
          .otherwise(lit(0L))).as("text_units"),
        sum(when(col("modality") === "image", col("n_units"))
          .otherwise(lit(0L))).as("image_units"),
        sum(when(col("modality") === "audio", col("n_units"))
          .otherwise(lit(0L))).as("audio_units"),
        sum(col("n_units")).as("n_units"),
        max(col("cum_units")).as("end_offset"),
        sum(col("mmid")).as("ids_sum"))
      .orderBy(col("shard"))

  /** Pack + publish the multimodal artifact unless the live one already
    * describes `dir`. */
  private[graft] def mmPackArtifact(s: SparkSession, dir: String): java.io.File =
    graft.Standing.artifact(s, "mmpack", Lineage.MmPack.name, dir)(
      Lineage.MmPack.write(_, mmPack(s, dir)))

  def q197(s: SparkSession, dir: String): DataFrame =
    mmManifestOf(Lineage.MmPack.read(s, mmPackArtifact(s, dir)))

  // --- 199. the multimodal loader's per-step batch fetch (r14) ----------------
  /** [[q177]]'s proof shape over the MULTIMODAL artifact: a multimodal
    * training step consumes a rank range of one epoch's seeded
    * permutation of the q196 stream — text chunks AND modality locator
    * rows arrive interleaved in the same batch, which is exactly what a
    * multimodal loader feeds a step (the locators then drive the
    * payload fetches outside the metadata plane). The permutation is a
    * pure function of (seed, epoch, modality, doc, seq) under a fresh
    * `mmep:` key prefix; the rank range resolves to a
    * (modality, doc, seq, shard) set with no loader state, the touched-
    * shard set is step-size-bounded (the q177/q105 driver class), and
    * the payload fetch carries `shard IN (touched)` on the partition
    * column of the PERSISTED mmpack artifact — PipelineSpec pins the
    * scan's PartitionFilters to exactly the touched shards.
    *
    * Scale shape: one per-epoch PrefixSum ranking over the thin
    * artifact projection (a real loader amortizes it across the
    * epoch's steps), one driver-bounded distinct-shard collect, one
    * partition-pruned artifact scan joined batch-to-artifact on
    * (modality, doc, seq, shard). FULL oracle: one ROW_NUMBER over the
    * q196 chain under the same key, rank-range filtered — payload
    * columns ride the single pass (value-equal to the pruned-fetch
    * composition the Spark side executes). */
  def q199(s: SparkSession, dir: String): DataFrame = {
    val base = mmPackArtifact(s, dir)
    // r15: the step's epoch permutation memoizes (the q177 treatment at
    // multimodal granularity — a loader ranks the epoch once and every
    // step reads it); the memo leaf also satisfies the snapshot rule,
    // so the shard collect and the returned join share one ranking
    // with no per-op localCheckpoint
    val lin = Lineage.MmPack
    val step = graft.Standing.relation("mm_epoch_ranked", dir)(
        rankEpoch(lin.read(s, base).select((lin.ids :+ "shard").map(col): _*),
          lin, StepEpoch))
      .filter(col("seq_rank") > StepLoRank && col("seq_rank") <= StepHiRank)
      .select(col("seq_rank"), col("doc_id"), col("seq_id"), col("modality"),
        col("shard"))
    val touched = step.select(col("shard")).distinct()
      .collect().map(_.getLong(0)).sorted
    val art = lin.read(s, base).filter(col("shard").isin(touched: _*))
    step.join(art, Seq("doc_id", "seq_id", "modality", "shard"))
      .select(col("seq_rank"), col("doc_id"), col("seq_id"), col("modality"),
        col("locator"), col("n_units"), col("cum_units"), col("shard"))
      .orderBy(col("seq_rank"))
  }

  lazy val q199Sql: String =
    s"""SELECT seq_rank, doc_id, seq_id, modality, locator, n_units,
       |  cum_units, shard
       |FROM (
       |  SELECT b.*, CAST(ROW_NUMBER() OVER (ORDER BY
       |      CAST(('0x' || substr(md5('mmep:$EpochSeed:$StepEpoch:' ||
       |        modality || ':' || CAST(doc_id AS VARCHAR) || ':' ||
       |        CAST(seq_id AS VARCHAR)), 1, 15)) AS BIGINT),
       |      modality, doc_id, seq_id) AS BIGINT) AS seq_rank
       |  FROM ($q196Sql) b) r
       |WHERE seq_rank > $StepLoRank AND seq_rank <= $StepHiRank
       |ORDER BY seq_rank""".stripMargin

  lazy val q197Sql: String =
    s"""SELECT shard, COUNT(*) AS n_rows,
       |  COUNT(DISTINCT doc_id) AS n_docs,
       |  CAST(SUM(CASE WHEN modality = 'text' THEN n_units ELSE 0 END) AS BIGINT) AS text_units,
       |  CAST(SUM(CASE WHEN modality = 'image' THEN n_units ELSE 0 END) AS BIGINT) AS image_units,
       |  CAST(SUM(CASE WHEN modality = 'audio' THEN n_units ELSE 0 END) AS BIGINT) AS audio_units,
       |  CAST(SUM(n_units) AS BIGINT) AS n_units,
       |  MAX(cum_units) AS end_offset,
       |  CAST(SUM(CAST(('0x' || substr(md5('mmid:' || modality || ':' ||
       |    CAST(doc_id AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)), 1, 10))
       |    AS BIGINT)) AS BIGINT) AS ids_sum
       |FROM ($q196Sql) b
       |GROUP BY shard
       |ORDER BY shard""".stripMargin

  // --- 205. EXACT multimodal payload dedup (r16 — r15 VERDICT #6) ------------
  /** The dedup family at PAYLOAD granularity: the text side dedups at
    * doc granularity (q47/q48 …), but a real media corpus dedups
    * images/audio by payload fingerprint — a re-crawl re-ingests docs
    * under NEW doc_ids with byte-identical payloads, and without a
    * payload-level keeper each duplicate pixel grid trains once per
    * locator. Fingerprint = md5 over the DECODED payload bytes through
    * the REAL q135/q136 codec seams
    * ([[graft.multimodal.MultiModal.payloadFingerprints]]: PNG → pixel
    * bytes, WAV → recovered PCM byte stream — both round-trips lossless,
    * so the fingerprint provably equals md5 over the source bytes,
    * which is exactly what keeps the readout FULL oracle: DuckDB
    * replays `md5(text)` while the engine hashes what it decoded).
    * Keeper per (modality, fingerprint) = MIN doc_id (the q48 keeper
    * rule). The re-ingest twin is the arrival-model convention: docs
    * with doc_id % [[MmReingestMod]] == 0 re-arrive at doc_id +
    * [[MmReingestOffset]] (offset ≡ 0 mod lcm([[MmImgMod]],
    * [[MmAudMod]]) so modality coverage is preserved — the duplicate
    * really carries the same payload set).
    *
    * Registered readout: the DUPLICATE groups — one row per (modality,
    * fingerprint) with ≥ 2 payload instances: instance count, the
    * keeper, and how many locators the keeper decision drops.
    *
    * Scale shape: one partition-local codec pass per modality (the
    * mapPartitions batch shape — payloads never cross a shuffle;
    * ~40-byte (doc, fp) rows do), one map-side-combined
    * groupBy(modality, fp). At 100 TB the fingerprint relation is
    * O(payload instances) thin rows and the group cardinality is the
    * distinct-payload count — the exact-dedup shape q48 ships for text,
    * no all-pairs anywhere. */
  val MmReingestMod = 7L
  val MmReingestOffset = 15000000L

  /** The corpus plus its re-ingest twin — `(doc_id, text)`. */
  private[graft] def corpusWithReingest(s: SparkSession,
      dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionAll(d.filter(pmod(col("doc_id"), lit(MmReingestMod)) === 0)
      .select((col("doc_id") + lit(MmReingestOffset)).as("doc_id"),
        col("text")))
  }

  /** (doc_id, modality, fp) over the re-ingest union, through the real
    * codec round-trips — memoized: the codec pass is the expensive
    * stage and BOTH q205 and q206 consume it. */
  private[graft] def mmPayloadFps(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("mm_payload_fps", dir) {
      val u = corpusWithReingest(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
      val img = graft.multimodal.MultiModal.payloadFingerprints(s,
          u.filter(pmod(col("doc_id"), lit(MmImgMod)) === 0), "image")
        .select(col("doc_id"), lit("image").as("modality"), col("fp"))
      val aud = graft.multimodal.MultiModal.payloadFingerprints(s,
          u.filter(pmod(col("doc_id"), lit(MmAudMod)) === 0), "audio")
        .select(col("doc_id"), lit("audio").as("modality"), col("fp"))
      img.unionAll(aud)
    }

  def q205(s: SparkSession, dir: String): DataFrame =
    mmPayloadFps(s, dir)
      .groupBy(col("modality"), col("fp"))
      .agg(count(lit(1)).as("n_instances"),
        min(col("doc_id")).as("keeper_doc"),
        (count(lit(1)) - lit(1L)).as("n_dropped"))
      .filter(col("n_instances") > 1)
      .select(col("modality"), col("fp").as("fingerprint"),
        col("n_instances"), col("keeper_doc"), col("n_dropped"))
      .orderBy(col("modality"), col("fingerprint"))

  /** The re-ingest union + per-modality fingerprint CTEs — shared by
    * [[q205Sql]] and [[q206Sql]]. */
  private lazy val mmFpCtesSql: String =
    s"""rin AS (SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $MmReingestOffset AS doc_id, text FROM documents
       |  WHERE doc_id % $MmReingestMod = 0),
       |pfp AS (SELECT doc_id, 'image' AS modality, md5(text) AS fp
       |    FROM rin WHERE doc_id % $MmImgMod = 0
       |  UNION ALL
       |  SELECT doc_id, 'audio' AS modality, md5(text) AS fp
       |    FROM rin WHERE doc_id % $MmAudMod = 0)""".stripMargin

  lazy val q205Sql: String =
    s"""WITH $mmFpCtesSql
       |SELECT modality, fp AS fingerprint, COUNT(*) AS n_instances,
       |  MIN(doc_id) AS keeper_doc,
       |  CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
       |FROM pfp
       |GROUP BY modality, fp
       |HAVING COUNT(*) > 1
       |ORDER BY modality, fingerprint""".stripMargin

  // --- 206. the deduped multimodal pack (the q205 keeper CONSUMED) -----------
  /** The keeper decision landing where it matters — the pack: the q196
    * modality rows over the re-ingest union with non-keeper locators
    * DROPPED BEFORE offsets are assigned (the decontam-gate rule: a
    * gate inside the fold, never a post-hoc filter that would leave
    * offset gaps), so a duplicated image trains ONCE under the keeper's
    * locator and the pack's unit mass is the DISTINCT-payload mass.
    * Text rows dedup at doc granularity through the q48 family and are
    * out of scope here by design — this op demonstrates the
    * locator-granularity keeper policy on the modality stream; the full
    * interleaved build composes by replacing q196's modality join input
    * with this gated relation.
    *
    * FULL oracle: geometry is pure byte-length arithmetic and the
    * fingerprint replays as md5(text), so membership (keeper rows
    * only), unit costs, the `mm:` key interleave and the shard boundaries
    * all replay exactly. PipelineSpec plants a duplicate payload across
    * two docs and pins the collapse to ONE locator row (the keeper's),
    * plus pack mass = distinct-payload mass. Scale shape: the q205
    * fingerprint pass + one thin (modality, doc) semi-join gate + the
    * q196 PrefixSum tail. */
  def q206(s: SparkSession, dir: String): DataFrame = {
    val fps = mmPayloadFps(s, dir)
    // keeper = MIN doc_id per (modality, fp) — the aggregate's output IS
    // the keeper (modality, doc_id) set (a doc carries exactly one
    // payload per modality, so no doc can win two groups of one
    // modality). r17: the former join-back of fps against this
    // aggregate + doc_id = keeper_doc filter re-derived exactly these
    // rows through a second pass over the fingerprint relation — the
    // oracle (q206Sql `keepers` CTE) always used the direct form.
    val keepers = fps.groupBy(col("modality"), col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("modality"), col("doc_id"))
    val gated = modalityRowsOf(corpusWithReingest(s, dir))
      .join(keepers, Seq("modality", "doc_id"))
    packAt(gated, Lineage.MmPack.orderPrefix, Lineage.MmPack.keys)
      .select(Lineage.MmPack.columns.map(col): _*)
      .orderBy(col("doc_id"), col("modality"), col("seq_id"))
  }

  lazy val q206Sql: String = {
    val w = graft.multimodal.MultiModal.ImgWidth
    s"""WITH $mmFpCtesSql,
       |keepers AS (SELECT modality, MIN(doc_id) AS doc_id
       |  FROM pfp GROUP BY modality, fp),
       |rbytes AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes
       |  FROM rin),
       |rimg AS (
       |  SELECT doc_id, CAST(0 AS BIGINT) AS seq_id, 'image' AS modality,
       |    'img://' || doc_id AS locator,
       |    CAST(($w // $MmPatch) *
       |      ((GREATEST((n_bytes + ${w - 1}) // $w, 1) + ${MmPatch - 1})
       |        // $MmPatch) AS BIGINT) AS n_units
       |  FROM rbytes WHERE doc_id % $MmImgMod = 0),
       |raud AS (
       |  SELECT doc_id, CAST(0 AS BIGINT) AS seq_id, 'audio' AS modality,
       |    'wav://' || doc_id AS locator,
       |    CAST((n_bytes + ${MmHop - 1}) // $MmHop AS BIGINT) AS n_units
       |  FROM rbytes WHERE doc_id % $MmAudMod = 0),
       |rall AS (
       |  SELECT r.* FROM (SELECT * FROM rimg UNION ALL SELECT * FROM raud) r
       |  JOIN keepers k ON r.modality = k.modality AND r.doc_id = k.doc_id),
       |rkey AS (
       |  SELECT *, CAST(('0x' || substr(md5('mm:' || modality || ':' ||
       |    CAST(doc_id AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)), 1, 15))
       |    AS BIGINT) AS bkey
       |  FROM rall),
       |rcum AS (
       |  SELECT doc_id, seq_id, modality, locator, n_units,
       |    CAST(SUM(n_units) OVER (ORDER BY bkey, modality, doc_id, seq_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_units
       |  FROM rkey)
       |SELECT doc_id, seq_id, modality, locator, n_units, cum_units,
       |  CAST((cum_units - n_units) // $ShardUnitBudget AS BIGINT) AS shard
       |FROM rcum
       |ORDER BY doc_id, modality, seq_id""".stripMargin
  }

  // --- 207. epoch continuity for the MMPACK lineage (r16 — r15 VERDICT #7) ---
  /** [[q200]]'s law over the q199 multimodal stream: a continuously-fed
    * MULTIMODAL job's epochs stay consumable while the mmpack artifact
    * grows mid-epoch. Generation-N rows keep their `mmep:`-draw ranks
    * VERBATIM (the prefix is the standing memoized [[epochOrdered]]
    * relation — nothing here recomputes it, so the running job's
    * consumed stream can never re-rank), and served arrivals append to
    * each epoch's tail under the SAME draw law — rank = \|gen N\| + the
    * q199-rule rank within the arrival set. The arrival pack is exactly
    * what [[graft.streaming.StreamOps.mmPack]] would have served:
    * the q200 arrival docs' text chunks AND their image/audio locator
    * rows, `mm:`-key-ordered, offsets continuing from gen N's end
    * (StreamingSpec drives a REAL mmPack serve → [[Lineage.appendServed]]
    * run and reconciles byte-identity). Epoch 1's prefix permutation is BY
    * CONSTRUCTION the q199 standing ranking (same `mmep:` key string).
    *
    * FULL oracle: the q196 chain ∪ the mm arrival pack under one
    * per-epoch ROW_NUMBER ordered (is_arrival, okey, modality, doc,
    * seq). Scale shape: the mm-pack memo + one thin arrival build +
    * ONE epoch-folded ranking scan over the ARRIVALS ONLY
    * ([[epochRanked]]; prefix-before-tail falls out of the
    * +\|gen N\| offset, a 1-row broadcast). */
  def q207(s: SparkSession, dir: String): DataFrame =
    continuity(s, dir, Lineage.MmPack)

  lazy val q207Sql: String =
    s"""$q120CtesSql,
       |${BpeOps.chainCtesSql},
       |${BpeOps.chunkCtesSql},
       |$mmPackCtesSql,
       |mgen AS (SELECT doc_id, seq_id, modality, shard, cum_units,
       |    CAST(0 AS BIGINT) AS is_arrival
       |  FROM mpack),
       |mboff AS (SELECT MAX(cum_units) AS base_off FROM mgen),
       |marrd AS (
       |  SELECT t.doc_id FROM t JOIN fxp p USING (lang)
       |  WHERE CAST(('0x' || substr(md5('mix:' || CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    % 1000000 >= p.rate_micros
       |    AND t.doc_id % ${DedupOps.IncrSplitMod} = 0),
       |matxt AS (
       |  SELECT c.doc_id, c.chunk_id AS seq_id, 'text' AS modality,
       |    c.n_units
       |  FROM chunks c JOIN marrd a ON c.doc_id = a.doc_id),
       |mabytes AS (
       |  SELECT d.doc_id, CAST(strlen(d.text) AS BIGINT) AS n_bytes
       |  FROM documents d JOIN marrd USING (doc_id)),
       |maimg AS (
       |  SELECT doc_id, CAST(0 AS BIGINT) AS seq_id, 'image' AS modality,
       |    CAST((${graft.multimodal.MultiModal.ImgWidth} // $MmPatch) *
       |      ((GREATEST((n_bytes + ${graft.multimodal.MultiModal.ImgWidth - 1}) // ${graft.multimodal.MultiModal.ImgWidth}, 1) + ${MmPatch - 1})
       |        // $MmPatch) AS BIGINT) AS n_units
       |  FROM mabytes WHERE doc_id % $MmImgMod = 0),
       |maaud AS (
       |  SELECT doc_id, CAST(0 AS BIGINT) AS seq_id, 'audio' AS modality,
       |    CAST((n_bytes + ${MmHop - 1}) // $MmHop AS BIGINT) AS n_units
       |  FROM mabytes WHERE doc_id % $MmAudMod = 0),
       |marr0 AS (
       |  SELECT * FROM matxt UNION ALL SELECT * FROM maimg
       |  UNION ALL SELECT * FROM maaud),
       |makey AS (
       |  SELECT *, CAST(('0x' || substr(md5('mm:' || modality || ':' ||
       |    CAST(doc_id AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)), 1, 15))
       |    AS BIGINT) AS bkey
       |  FROM marr0),
       |macum AS (
       |  SELECT doc_id, seq_id, modality, n_units,
       |    CAST(SUM(n_units) OVER (ORDER BY bkey, modality, doc_id, seq_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      + (SELECT base_off FROM mboff) AS cum_units
       |  FROM makey),
       |marr AS (
       |  SELECT doc_id, seq_id, modality,
       |    CAST((cum_units - n_units) // $ShardUnitBudget AS BIGINT) AS shard,
       |    CAST(1 AS BIGINT) AS is_arrival
       |  FROM macum),
       |munion AS (
       |  SELECT doc_id, seq_id, modality, shard, is_arrival FROM mgen
       |  UNION ALL
       |  SELECT doc_id, seq_id, modality, shard, is_arrival FROM marr),
       |mkeyed AS (
       |  SELECT e.epoch, u.doc_id, u.seq_id, u.modality, u.shard,
       |    u.is_arrival,
       |    CAST(('0x' || substr(md5('mmep:$EpochSeed:' || CAST(e.epoch AS VARCHAR) || ':' ||
       |      u.modality || ':' || CAST(u.doc_id AS VARCHAR) || ':' ||
       |      CAST(u.seq_id AS VARCHAR)), 1, 15)) AS BIGINT) AS okey
       |  FROM munion u CROSS JOIN
       |    (SELECT CAST(unnest(range(0, $Epochs)) AS BIGINT) AS epoch) e)
       |SELECT epoch,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch
       |    ORDER BY is_arrival, okey, modality, doc_id, seq_id) AS BIGINT)
       |    AS seq_rank,
       |  doc_id, seq_id, modality, shard, is_arrival
       |FROM mkeyed
       |ORDER BY epoch, seq_rank""".stripMargin

  // --- 200. epoch continuity over a GROWING artifact (r15 — r13 #7) ----------
  /** The contract a CONTINUOUSLY-FED pretraining job consumes: the q165
    * artifact grows mid-epoch (serve appends —
    * [[graft.streaming.StreamOps.pack]] → [[Lineage.appendServed]]) and
    * the running job must NOT re-derive its epoch stream from scratch —
    * re-ranking the prefix would re-order sequences the job already
    * consumed (double-train/silent-skip corruption: the q166 failure
    * mode at the corpus seam). The epoch-stream-over-generations rule:
    *
    *  - generation-N sequences keep their [[q162]] ranks VERBATIM (the
    *    prefix is closed the moment the epoch starts);
    *  - served arrivals append to the epoch TAIL, ordered among
    *    themselves by the SAME (seed, epoch, doc, chunk) draw law —
    *    rank = |gen N| + their q162-rule rank within the arrival set.
    *
    * Both halves are pure functions of (seed, epoch, membership), so a
    * preempted job recomputes the stream with no loader state beyond
    * the q166 two-long checkpoint — and a job that consumed ranks ≤ k
    * before the append resumes at k+1 into a stream whose first k
    * entries are provably what it already consumed (PipelineSpec pins
    * prefix ≡ q162 rank-for-rank; StreamingSpec drives a REAL mid-epoch
    * append through the serve seam into a private artifact and proves
    * the prefix never re-ranks).
    *
    * The registered entry stands in the arrival-model convention for
    * the served batch: NON-member docs (mixture draw ≥ rate — docs the
    * snapshot build did not sample, so (doc, chunk) keys are disjoint
    * from gen N by construction) with doc_id %
    * [[DedupOps.IncrSplitMod]] == 0 arrive between rebuilds, chunk
    * under the shipped tokenizer, and pack at the gen-N end offset —
    * [[graft.streaming.StreamOps.pack]]'s law over one batch, so
    * the relation is exactly what the serve seam would have appended.
    * FULL oracle: the q158 chain (gen N) ∪ the arrival pack under one
    * per-epoch ROW_NUMBER ordered (is_arrival, okey, doc, chunk).
    *
    * Scale shape: the pack memo + one thin non-member chunk join + one
    * batch-sized PrefixSum for the arrival offsets + ONE epoch-folded
    * ranking scan over the ARRIVALS ONLY ([[epochRanked]] on the
    * batch-sized arrival set; the prefix is READ from the memoized
    * [[epochOrdered]] relation and its ranks are never recomputed, and
    * prefix-before-tail falls out of the +|gen N| offset, a 1-row
    * broadcast). Nothing ranks per epoch; nothing ever re-ranks the
    * prefix. */
  def q200(s: SparkSession, dir: String): DataFrame =
    continuity(s, dir, Lineage.Pack)

  /** The epoch stream over generation N plus its arrivals, for lineage
    * `lin` (q200 over the text pack, q207 over the multimodal one):
    * `(epoch, seq_rank, the lineage ids, shard, is_arrival)`. */
  private def continuity(s: SparkSession, dir: String,
      lin: Lineage): DataFrame = {
    val gen = lin.source(s, dir)
    val ids = (lin.ids :+ "shard").map(col)
    // the PREFIX is literally the standing epoch order (r15: reading it
    // IS the contract — the running job's consumed stream can never
    // re-rank, because nothing here recomputes it)
    val prefix = epochOrdered(s, dir, lin)
      .select(col("epoch") +: col("seq_rank") +: ids: _*)
      .withColumn("is_arrival", lit(0L))
    // the arrival pack memoizes like the build it continues (it is a
    // standing per-snapshot relation — what the serve seam appended),
    // entering at gen N's end offset
    val arr = graft.Standing.relation(s"${lin.name}_arrivals", dir)(
        arrivalPack(s, dir, lin, gen.agg(coalesce(max(col("cum_units")),
          lit(0L))).head().getLong(0)))
      .select(ids: _*)
    // tail ranks = |gen N| + the draw-law rank WITHIN the arrival set:
    // the fold runs over the batch-sized arrivals only (never the
    // corpus), and the gen count rides a 1-row broadcast
    val nGen = gen.agg(count(lit(1)).as("__n_gen"))
    val tail = epochRanked(arr, lin, "arr_rank")
      .crossJoin(broadcast(nGen))
      .select(col("epoch") +: (col("arr_rank") + col("__n_gen")).as("seq_rank")
        +: ids: _*)
      .withColumn("is_arrival", lit(1L))
    prefix.unionAll(tail)
      .orderBy(col("epoch"), col("seq_rank"))
  }

  /** The arrival-model batch of lineage `lin` packed at unit offset
    * `base` — the q200 arrival set (non-member docs, doc_id %
    * [[DedupOps.IncrSplitMod]] == 0) chunked, turned into the lineage's
    * rows and packed exactly as the serve seam would
    * ([[graft.streaming.StreamOps.Pack]]'s one-batch law: [[packAt]]
    * from the handoff offset). Exposed so StreamingSpec can reconcile it
    * against a REAL serve run. */
  private[graft] def arrivalPack(s: SparkSession, dir: String, lin: Lineage,
      base: Long): DataFrame = {
    // NON-members via anti-join against the memoized build's member set
    // instead of re-deriving the q120 policy fixpoint per call (the
    // fixpoint is a multi-job driver iteration — measured ~2.4 s of
    // q200's cost at sf0.1; membership ≡ draw < rate over `t`⋈fxp, so
    // t-docs minus members IS the draw ≥ rate complement, exactly the
    // oracle's arrd)
    val arrd = q114DocsShared(s, dir).select(col("doc_id"))
      .join(packedBuild(s, dir).select(col("doc_id")), Seq("doc_id"),
        "left_anti")
      .filter(col("doc_id") % DedupOps.IncrSplitMod === 0)
    packAt(lin.rowsOf(BpeOps.chunkMasses(s, dir).join(arrd, "doc_id"),
        graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
          .join(arrd, "doc_id")),
      lin.orderPrefix, lin.keys, Some(base))
  }

  lazy val q200Sql: String =
    s"""$q120CtesSql,
       |${BpeOps.chainCtesSql},
       |${BpeOps.chunkCtesSql},
       |$packTailCtesSql,
       |gen AS (SELECT doc_id, chunk_id, shard, cum_units,
       |    CAST(0 AS BIGINT) AS is_arrival
       |  FROM pkfin),
       |boff AS (SELECT MAX(cum_units) AS base_off FROM gen),
       |arrd AS (
       |  SELECT t.doc_id FROM t JOIN fxp p USING (lang)
       |  WHERE CAST(('0x' || substr(md5('mix:' || CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    % 1000000 >= p.rate_micros
       |    AND t.doc_id % ${DedupOps.IncrSplitMod} = 0),
       |arrc AS (
       |  SELECT c.doc_id, c.chunk_id, c.n_units,
       |    CAST(('0x' || substr(md5('ord:' || CAST(c.doc_id AS VARCHAR) || ':' ||
       |      CAST(c.chunk_id AS VARCHAR)), 1, 15)) AS BIGINT) AS bkey
       |  FROM chunks c JOIN arrd a ON c.doc_id = a.doc_id),
       |arrp AS (
       |  SELECT doc_id, chunk_id, n_units,
       |    CAST(SUM(n_units) OVER (ORDER BY bkey, doc_id, chunk_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      + (SELECT base_off FROM boff) AS cum_units
       |  FROM arrc),
       |arr AS (
       |  SELECT doc_id, chunk_id,
       |    CAST((cum_units - n_units) // $ShardUnitBudget AS BIGINT) AS shard,
       |    CAST(1 AS BIGINT) AS is_arrival
       |  FROM arrp),
       |unioned AS (
       |  SELECT doc_id, chunk_id, shard, is_arrival FROM gen
       |  UNION ALL SELECT doc_id, chunk_id, shard, is_arrival FROM arr),
       |keyed AS (
       |  SELECT e.epoch, u.doc_id, u.chunk_id, u.shard, u.is_arrival,
       |    CAST(('0x' || substr(md5('ep:$EpochSeed:' || CAST(e.epoch AS VARCHAR) || ':' ||
       |      CAST(u.doc_id AS VARCHAR) || ':' || CAST(u.chunk_id AS VARCHAR)), 1, 15)) AS BIGINT) AS okey
       |  FROM unioned u CROSS JOIN
       |    (SELECT CAST(unnest(range(0, $Epochs)) AS BIGINT) AS epoch) e)
       |SELECT epoch,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch
       |    ORDER BY is_arrival, okey, doc_id, chunk_id) AS BIGINT) AS seq_rank,
       |  doc_id, chunk_id, shard, is_arrival
       |FROM keyed
       |ORDER BY epoch, seq_rank""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q77_corpus_select", q77, Some(q77Sql)),
    Op("q82_corpus_mix", q82, Some(q82Sql)),
    Op("q83_token_pack", q83, Some(q83Sql)),
    Op("q85_decontaminate", q85, Some(q85Sql)),
    Op("q86_training_build", q86, Some(q86Sql)),
    Op("q87_decontaminate_scale", q87, Some(q87Sql)),
    Op("q96_quota_sample", q96, Some(q96Sql)),
    Op("q104_weighted_sample", q104, Some(q104Sql)),
    Op("q112_training_build_clean", q112, Some(q112Sql)),
    Op("q114_mix_rebalance", q114, Some(q114Sql)),
    Op("q116_mix_feedback", q116, Some(q116Sql)),
    Op("q118_training_build_final", q118, Some(q118Sql)),
    Op("q120_mix_fixpoint", q120, Some(q120Sql)),
    Op("q121_dsir_select", q121, Some(q121Sql)),
    Op("q123_training_build_fixpoint", q123, Some(q123Sql)),
    Op("q152_subword_pack", q152, Some(q152Sql)),
    Op("q124_corpus_drift", q124, Some(q124Sql)),
    Op("q129_context_chunks", q129, Some(q129Sql)),
    Op("q131_shard_manifest", q131, Some(q131Sql)),
    Op("q155_subword_manifest", q155, Some(q155Sql)),
    Op("q158_sequence_pack", q158, Some(q158Sql)),
    Op("q159_sequence_manifest", q159, Some(q159Sql)),
    Op("q165_pack_artifact", q165, Some(q165Sql)),
    Op("q172_shard_read", q172, Some(q172Sql)),
    Op("q177_step_read", q177, Some(q177Sql)),
    Op("q173_chunk_decontaminate", q173, Some(q173Sql)),
    Op("q174_decontam_repack", q174, Some(q174Sql)),
    Op("q178_clean_epoch_order", q178, Some(q178Sql)),
    Op("q167_manifest_diff", q167, Some(q167Sql)),
    Op("q190_pack_audit", q190, Some(q190Sql)),
    Op("q162_epoch_order", q162, Some(q162Sql)),
    Op("q166_loader_resume", q166, Some(q166Sql)),
    Op("q193_worker_shard", q193, Some(q193Sql)),
    Op("q171_curriculum_order", q171, Some(q171Sql)),
    Op("q179_length_batches", q179, Some(q179Sql)),
    Op("q191_batch_schedule", q191, Some(q191Sql)),
    Op("q185_batch_manifest", q185, Some(q185Sql)),
    Op("q196_multimodal_pack", q196, Some(q196Sql)),
    Op("q197_multimodal_artifact", q197, Some(q197Sql)),
    Op("q199_multimodal_step_read", q199, Some(q199Sql)),
    Op("q200_epoch_continuity", q200, Some(q200Sql)),
    Op("q205_mm_payload_dedup", q205, Some(q205Sql)),
    Op("q206_mm_pack_deduped", q206, Some(q206Sql)),
    Op("q207_mm_epoch_continuity", q207, Some(q207Sql)),
    Op("q183_soft_dedup_weights", q183, Some(q183Sql)),
    Op("q188_effective_mass_manifest", q188, Some(q188Sql)),
    Op("q192_shard_mix_report", q192, Some(q192Sql)),
    Op("q184_repeat_plan", q184, Some(q184Sql)),
    Op("q150_split_leakage_free", q150, Some(q150Sql)),
  )

  // --- 150. leakage-free train/val/test split (r9) -------------------------
  /** Deterministic 80/10/10 split that assigns WHOLE near-dup CLUSTERS,
    * never documents: the naive md5(doc_id) split puts the two halves
    * of a near-dup pair in train AND test — the benchmark-leakage mode
    * q85/q87 decontaminate against external suites, happening INSIDE
    * the corpus's own eval fold. Here the split key is md5 of the
    * cluster ROOT (q74's connected-component label, the family-memoized
    * cc50 relation), so every member of a cluster lands in the same
    * fold by construction. The readout proves it: `leaked_clusters`
    * (clusters spanning >1 fold under THIS rule) is structurally 0,
    * while `naive_leaked_clusters` (same count under the md5(doc_id)
    * counterfactual) shows what the naive rule would have leaked.
    *
    * Scale shape: two thin aggregates over the label relation (per-fold
    * counts+mass with a 1:1 documents join; per-cluster distinct-fold
    * counts, map-side combined) + a 1-row leak aggregate broadcast back
    * — the expensive part (MinHash→verify→CC) is the family-memoized
    * cc50 build, paid once per corpus snapshot. Oracle replays the full
    * recursive-CTE CC + the same md5 rules. */
  def q150(s: SparkSession, dir: String): DataFrame = {
    def hm(c: Column): Column = Text.md5Pos100(c) // shared with q146's hpos
    def foldOf(c: Column): Column =
      when(hm(c) < 10, "test").when(hm(c) < 20, "val").otherwise("train")
    val sp = DedupOps.q74(s, dir)
      .select(col("doc_id"), col("root"),
        foldOf(col("root")).as("split"), foldOf(col("doc_id")).as("nsplit"))
    val perSplit = sp
      .join(graft.Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("root")).as("n_clusters"),
        sum(col("n_chars")).cast("long").as("n_chars"))
    val leak = sp.groupBy(col("root"))
      .agg(countDistinct(col("split")).as("s1"),
        countDistinct(col("nsplit")).as("s2"))
      .agg(sum(when(col("s1") > 1, 1L).otherwise(0L)).as("leaked_clusters"),
        sum(when(col("s2") > 1, 1L).otherwise(0L)).as("naive_leaked_clusters"))
    perSplit.crossJoin(broadcast(leak)).orderBy(col("split"))
  }

  lazy val q150Sql: String = {
    def hm(x: String) = Text.md5Pos100Sql(x)
    def foldOf(x: String) =
      s"CASE WHEN ${hm(x)} < 10 THEN 'test' WHEN ${hm(x)} < 20 THEN 'val' ELSE 'train' END"
    s"""WITH RECURSIVE ${DedupOps.ccCtesSql(DedupOps.q50PairsSql)},
       |sp AS (SELECT doc_id, root, ${foldOf("root")} AS split,
       |    ${foldOf("doc_id")} AS nsplit FROM roots),
       |ps AS (SELECT split, COUNT(*) AS n_docs,
       |    COUNT(DISTINCT root) AS n_clusters,
       |    CAST(SUM(d.n_chars) AS BIGINT) AS n_chars
       |  FROM sp JOIN documents d USING (doc_id) GROUP BY split),
       |lk AS (SELECT
       |    CAST(SUM(CASE WHEN s1 > 1 THEN 1 ELSE 0 END) AS BIGINT) AS leaked_clusters,
       |    CAST(SUM(CASE WHEN s2 > 1 THEN 1 ELSE 0 END) AS BIGINT) AS naive_leaked_clusters
       |  FROM (SELECT root, COUNT(DISTINCT split) AS s1,
       |      COUNT(DISTINCT nsplit) AS s2 FROM sp GROUP BY root))
       |SELECT split, n_docs, n_clusters, n_chars, leaked_clusters,
       |  naive_leaked_clusters
       |FROM ps CROSS JOIN lk
       |ORDER BY split""".stripMargin
  }
}
